package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.TaskEnvelope

/** The per-query collector Bench profiles every timed run with, checked
  * against a job whose shape is known in advance. */
class TaskEnvelopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("envelope of a 4-partition range through one 2-partition exchange") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    // AQE runs the exchange's map stage as its own job, so the write is
    // two jobs: the 4-task map stage, then the 2-task result stage (the
    // already-computed map stage is skipped, and not counted, there)
    spark.conf.set(key, "true")
    val e =
      try TaskEnvelope.measure(spark) {
        spark.range(0, 10000, 1, 4).repartition(2)
          .write.format("noop").mode("overwrite").save()
      } finally spark.conf.set(key, before)
    assert(e.jobs == 2, s"jobs: $e")
    assert(e.stages == 2, s"stages: $e")
    assert(e.tasks == 6, s"tasks: $e")
    assert(e.cpuNs > 0, s"cpu: $e")
    assert(e.runMs >= 0 && e.gcMs >= 0, s"run/gc: $e")
    assert(e.shuffleWrite > 0, s"shuffle write: $e")
    assert(e.shuffleRead == e.shuffleWrite, s"shuffle read != write: $e")
    assert(e.input == 0L && e.diskSpill == 0L, s"input/spill: $e")
  }

  test("an envelope counts only what ran inside its body") {
    spark.range(0, 1000, 1, 4).repartition(2)
      .write.format("noop").mode("overwrite").save()
    val e = TaskEnvelope.measure(spark)(())
    assert(e.jobs == 0 && e.stages == 0 && e.tasks == 0 && e.cpuNs == 0, s"$e")
  }
}
