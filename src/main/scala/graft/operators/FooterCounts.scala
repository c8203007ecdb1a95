package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.ArrayType

/** A frame's row count and the total length of one of its array columns —
  * the sizes a loop reads before its first round (the edge volume its
  * width derives from, PageRank's node count) — from the parquet footers
  * of the files behind it, read on the driver, so no Spark job runs.
  *
  * The footers answer only when the frame is an unfiltered parquet scan
  * under row-preserving nodes (projections, whose array column is an
  * alias or cast of a scanned one, and `Repartition`s), at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files. The
  * row count is the row groups' sum. The array length is the value count
  * of one leaf column under the array: exact only when that column
  * chunk's null count is 0, for a null array, an empty one and a null
  * element each write one null entry. Any other plan, a missing
  * statistic, a nonzero null count or a footer that cannot be read falls
  * back to one aggregate query over the frame, which gives the same
  * values. Footers are read on every call: nothing is remembered between
  * calls. */
object FooterCounts {

  final case class Counts(rows: Long, arrayLength: Long)

  /** Rows of `df` and Σ size(`array`) (0 without an array column). */
  def apply(df: DataFrame, array: Option[String] = None): Counts =
    fromFooters(df, array).getOrElse {
      val r = df.agg(count(lit(1)), array.fold(lit(0L))(a =>
        coalesce(sum(size(col(a)).cast("long")), lit(0L)))).head()
      Counts(r.getLong(0), r.getLong(1))
    }

  /** [[apply]]'s footer read; None where it falls back. */
  private[graft] def fromFooters(df: DataFrame, array: Option[String])
      : Option[Counts] = {
    val plan = df.queryExecution.analyzed
    val target = array.map(a => plan.output.filter(_.name == a))
    if (target.exists(t => t.size != 1 || !t.head.dataType.isInstanceOf[ArrayType]))
      None
    else scan(plan, target.map(_.head.exprId)).flatMap { case (fs, column) =>
      val files = fs.location.inputFiles
      val limit = df.sparkSession.conf
        .get(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key).toInt
      if (files.length > limit) None
      else try {
        val conf = fs.getHadoopConf(fs.sparkSession, fs.options)
        val per = files.toSeq.map(f => fileCounts(
          HadoopInputFile.fromPath(new Path(new java.net.URI(f)), conf), column))
        if (per.contains(None)) None
        else Some(per.flatten.foldLeft(Counts(0L, 0L))((a, b) =>
          Counts(a.rows + b.rows, a.arrayLength + b.arrayLength)))
      } catch { case NonFatal(_) => None }
    }
  }

  /** The parquet relation at the bottom of `plan`, and the name of the
    * scanned column that attribute `id` carries, when every node on the
    * way keeps rows one to one and `id` is an alias or cast of it. */
  private def scan(plan: LogicalPlan, id: Option[ExprId])
      : Option[(HadoopFsRelation, Option[String])] = plan match {
    case Project(list, child) =>
      id match {
        case None => scan(child, None)
        case Some(i) => list.find(_.exprId == i).flatMap(source)
          .flatMap(a => scan(child, Some(a.exprId)))
      }
    case Repartition(_, _, child) => scan(child, id)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        id match {
          case None => Some((fs, None))
          case Some(i) => l.output.find(_.exprId == i)
            .filter(_.dataType.isInstanceOf[ArrayType])
            .map(a => (fs, Some(a.name)))
        }
      case _ => None
    }
    case _ => None
  }

  private def source(e: Expression): Option[Attribute] = e match {
    case a: Attribute => Some(a)
    case Alias(c, _) => source(c)
    case c: Cast => source(c.child)
    case _ => None
  }

  /** One file's counts. The array's leaf must repeat once (an array of
    * scalars or structs, not of arrays or maps), so each row holds one
    * value per element, or one null entry when it has none. */
  private def fileCounts(file: HadoopInputFile, column: Option[String])
      : Option[Counts] = {
    val reader = ParquetFileReader.open(file)
    val footer = try reader.getFooter finally reader.close()
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    column match {
      case None => Some(Counts(rows, 0L))
      case Some(name) =>
        footer.getFileMetaData.getSchema.getColumns.asScala
          .find(_.getPath.head == name)
          .filter(_.getMaxRepetitionLevel == 1)
          .flatMap { leaf =>
            val chunks = blocks.map(_.getColumns.asScala
              .find(_.getPath.toArray.sameElements(leaf.getPath)))
            val exact = chunks.forall(_.exists { c =>
              val s = c.getStatistics
              s != null && s.isNumNullsSet && s.getNumNulls == 0
            })
            if (exact) Some(Counts(rows, chunks.flatten.map(_.getValueCount).sum))
            else None
          }
    }
  }
}
