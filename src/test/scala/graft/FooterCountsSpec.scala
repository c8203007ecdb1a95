package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.FooterCounts
import graft.operators.FooterCounts.Counts

/** `FooterCounts` gives exactly the aggregate's row count and array
  * length: from the parquet footers on every staged loop input, and by
  * its one-job fallback wherever the footers cannot be exact. */
class FooterCountsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The aggregate the loops ran before reading footers. */
  private def aggregate(df: DataFrame, array: Option[String]): Counts = {
    val r = df.agg(count(lit(1)),
      array.fold(lit(0L))(a => coalesce(sum(size(col(a)).cast("long")), lit(0L)))).head()
    Counts(r.getLong(0), r.getLong(1))
  }

  test("footer counts equal count(*) and sum(size) on every staged loop input") {
    val sf = "/root/testdata/sf0.01"
    val adj = Tables.copurchaseAdjacency(spark, sf)
    val (cust, part) = QueriesGraph.purchaseAdjacencies(spark, sf)
    val (fwd, bwd) = QueriesGraph.precedenceAdjacencies(spark, sf)
    val top10 = Tables.copurchaseTop10Adjacency(spark, sf)
    val inputs: Seq[(String, DataFrame, Option[String])] = Seq(
      ("copurchase_adj", adj, Some("dsts")),
      ("copurchase_nodes", Tables.copurchaseNodes(spark, sf), None),
      ("copurchase_top10_adj", top10, Some("nbrs")),
      // an array of (d, w) structs
      ("copurchase_weighted_adj", Tables.copurchaseWeightedAdjacency(spark, sf),
        Some("nbrs")),
      ("purchase_adj_cust", cust, Some("nbrs")),
      ("purchase_adj_part", part, Some("nbrs")),
      ("precedence_adj_fwd", fwd, Some("nbrs")),
      ("precedence_adj_bwd", bwd, Some("nbrs")),
      // q113's projection, then the casts Bfs.levelsAdj puts over it
      ("q113 projection", adj.select(col("src").as("id"), col("dsts").as("nbrs"))
        .select(col("id").cast("long").as("src"),
          col("nbrs").cast("array<long>").as("nbrs")), Some("nbrs")))
    // Tables.rebalance round-robins the node-sized file: the footers
    // read through the Repartition it adds
    assert(top10.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.isDefined, top10.queryExecution.analyzed.treeString)
    for ((name, df, array) <- inputs) {
      val expected = aggregate(df, array)
      assert(expected.rows > 0 && (array.isEmpty || expected.arrayLength > 0), name)
      assert(FooterCounts.fromFooters(df, array).contains(expected),
        s"$name: footers ${FooterCounts.fromFooters(df, array)}, aggregate $expected")
      assert(FooterCounts(df, array) == expected, name)
    }
  }

  test("footer counts fall back to the aggregate wherever the footers " +
      "cannot be exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_footer_counts")
    def parquet(name: String, rows: Seq[(Long, Seq[java.lang.Long])]): DataFrame = {
      val p = s"$dir/$name"
      rows.toDF("id", "nbrs").write.parquet(p)
      spark.read.parquet(p)
    }
    def longs(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val good = parquet("good", Seq(1L -> longs(2L, 3L), 2L -> longs(1L)))
    assert(FooterCounts.fromFooters(good, Some("nbrs")).contains(Counts(2L, 3L)))
    val json = s"$dir/json"
    good.write.json(json)
    val planted: Seq[(String, DataFrame)] = Seq(
      "an empty array" -> parquet("empty", Seq(1L -> longs(2L, 3L), 2L -> longs())),
      "a null array" -> parquet("null_array", Seq(1L -> longs(2L, 3L), 2L -> null)),
      "a null element" -> parquet("null_element", Seq(1L -> longs(2L, null))),
      "a filter" -> good.filter(col("id") > 1L),
      "a limit" -> good.limit(1),
      "a JSON source" -> spark.read.schema(good.schema).json(json),
      "an in-memory frame" -> Seq(1L -> longs(2L, 3L)).toDF("id", "nbrs"))
    for ((name, df) <- planted) {
      assert(FooterCounts.fromFooters(df, Some("nbrs")).isEmpty, name)
      assert(FooterCounts(df, Some("nbrs")) == aggregate(df, Some("nbrs")), name)
    }
    // more files than the listing threshold
    val files = s"$dir/files"
    Seq(1L -> longs(2L), 2L -> longs(3L), 3L -> longs(1L)).toDF("id", "nbrs")
      .repartition(3).write.parquet(files)
    val narrow = spark.newSession()
    narrow.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "2")
    val many = narrow.read.parquet(files)
    assert(many.inputFiles.length == 3)
    assert(FooterCounts.fromFooters(many, Some("nbrs")).isEmpty)
    assert(FooterCounts(many, Some("nbrs")) == Counts(3L, 3L))
    assert(FooterCounts.fromFooters(spark.read.parquet(files), Some("nbrs"))
      .contains(Counts(3L, 3L)))
  }
}
