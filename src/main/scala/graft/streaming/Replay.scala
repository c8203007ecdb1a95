package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** File-source micro-batch replay harness: runs a STREAMING operator over
  * the same rows a batch query reads, split into N ordered micro-batches,
  * and returns the final sink table as a plain DataFrame — so a streaming
  * tier can face the exact same DuckDB oracle as its batch twin (the
  * driver's t2 gate), not just an in-spec streaming≡batch assertion.
  *
  * Mechanics: `src` is range-partitioned into `numBatches` slices on
  * `orderCols` (a DISTRIBUTED global ordering — each slice is a
  * contiguous key range, no single-task sort) and written as parquet,
  * one file per slice, in one distributed pass; nothing is collected to
  * the driver. The watched directory starts empty; slice files are moved
  * in ONE AT A TIME with `processAllAvailable()` between moves, so
  * micro-batch boundaries are exactly the slice boundaries. Slice sizes
  * are approximately equal (range boundaries come from sampling);
  * every replayed operator's contract is stated over CONTIGUOUS ordered
  * slices, not slice cardinality, so any slicing must land on the same
  * final table.
  *
  * Ordering contract: operators whose state transition is
  * commutative+associative+idempotent (register sketches) accept any
  * order; sequential operators (funnel) are fed event-time-sorted
  * slices, matching their documented in-order guarantee.
  */
object Replay {

  private val ids = new AtomicInteger(0)

  /** Replay `src` through `pipe` as `numBatches` contiguous slices on
    * `orderCols`; returns the memory-sink table after the last batch.
    *
    * @param mode OutputMode.Complete for streaming aggregations (the sink
    *             table IS the final state), OutputMode.Append for
    *             flatMapGroupsWithState-style emitters (the sink table is
    *             the full emission log).
    * @param flush extra micro-batches fed AFTER the main slices, one file
    *             each. Append-mode event-time aggregations (session_window,
    *             tumbling windows) only emit a group once the WATERMARK
    *             passes it, and the watermark a batch runs with derives
    *             from the data of prior batches — so closing the final
    *             groups takes two more batches: one whose rows push max
    *             event time past them, and one more to run under the
    *             advanced watermark. Callers pass far-future sentinel rows
    *             here (twice) and filter them from the sink. */
  def replayFiles(spark: SparkSession, src: DataFrame, orderCols: Seq[Column],
      numBatches: Int, mode: OutputMode, flush: Seq[DataFrame] = Nil)(
      pipe: DataFrame => DataFrame): DataFrame = {
    require(numBatches >= 1, s"numBatches=$numBatches must be >= 1")
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-replay-files")
    val prep = root.resolve("prep")
    val inDir = root.resolve("in")
    val ckpt = root.resolve("ckpt")
    Files.createDirectories(inDir)
    // one distributed pass: contiguous range slices, one file per slice
    // (parquet writes one file per non-empty partition)
    src.repartitionByRange(numBatches, orderCols: _*)
      .write.parquet(prep.toString)
    flush.zipWithIndex.foreach { case (f, i) =>
      f.coalesce(1).write.parquet(prep.resolve(s"flush-$i").toString)
    }
    def sliceFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val walk = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        // part-00000 < part-00001 < ... : name order IS range order
        walk.iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
      } finally walk.close()
    }
    val batches: Seq[Seq[java.nio.file.Path]] =
      sliceFiles(prep).map(Seq(_)) ++
        flush.indices.map(i => sliceFiles(prep.resolve(s"flush-$i")))
    val stream = spark.readStream.schema(src.schema)
      // one batch per moved file; the move+processAllAvailable loop below
      // guarantees at most one unseen file per trigger round anyway —
      // the option is belt-and-braces against a slow listing
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
    val out = pipe(stream)
    val sinkName = s"graft_replay_${ids.incrementAndGet()}"
    val query = out.writeStream.format("memory").queryName(sinkName)
      .outputMode(mode).option("checkpointLocation", ckpt.toString).start()
    try {
      batches.zipWithIndex.foreach { case (files, i) =>
        files.foreach { f =>
          Files.move(f, inDir.resolve(s"slice-$i-${f.getFileName}"))
        }
        query.processAllAvailable()
      }
    } finally {
      query.stop()
      // the slices and checkpoint are dead once the query stops (the
      // memory-sink table lives in the session); the cleanup never
      // throws, so it cannot mask a result
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
    spark.table(sinkName)
  }
}
