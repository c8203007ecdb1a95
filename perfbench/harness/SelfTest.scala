package perfbench

/** Self-test of the layer listener: known jobs, run inside a layer call,
  * must be counted and attributed exactly.
  *
  *   SelfTest   (exits 1 and names the failed expectation on a mismatch)
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    graft.cli.CliUtil.pinLocale()
    val spark = graft.cli.CliUtil.session("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) failures += s"$what: got $got, want $want"
    try {
      // without adaptive execution a global aggregate over a 4-partition
      // range is one job of two stages: 4 partial-aggregate tasks, then
      // 1 final task
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val t = new Tracer(spark.sparkContext, "selftest")
      t.enable()
      val sum = t.call("ops", "ops.kpi_s", "range_sum") {
        spark.range(0, 1000, 1, 4).selectExpr("sum(id)").head().getLong(0)
      }
      expect("sum", sum, 499500L)
      // an RDD shuffle from 4 into 3 partitions: one job, 4 + 3 tasks
      t.call("gen", "gen.write_s", "rdd_shuffle") {
        spark.sparkContext.parallelize(1 to 1000, 4).map(i => (i % 10, 1))
          .reduceByKey(_ + _, 3).count()
      }
      // a job outside any layer call belongs to the harness: a count over
      // 2 partitions is 2 partial-count tasks and 1 final task
      spark.range(0, 10, 1, 2).count()
      // a job on a thread started inside a layer call, as a streaming
      // query's batches are, belongs to that layer even when it starts
      // after the call returned
      val go = new java.util.concurrent.CountDownLatch(1)
      val child = t.call("streaming", "streaming.replay_s", "child_thread") {
        val th = new Thread(() => { go.await(); spark.range(0, 10, 1, 2).count() })
        th.start()
        th
      }
      go.countDown()
      child.join()
      t.drain()
      val s = t.listener.snapshot()
      def stat(l: String) = s.getOrElse(l, new LayerStats)
      expect("ops.jobs", stat("ops").jobs, 1)
      expect("ops.stages", stat("ops").stages, 2)
      expect("ops.tasks", stat("ops").tasks, 5)
      // the range partitions are the scan: each of the 4 reads source rows
      expect("ops.inputTasks", stat("ops").inputTasks, 4)
      expect("gen.jobs", stat("gen").jobs, 1)
      expect("gen.stages", stat("gen").stages, 2)
      expect("gen.tasks", stat("gen").tasks, 7)
      expect("harness.jobs", stat("harness").jobs, 1)
      expect("harness.stages", stat("harness").stages, 2)
      expect("harness.tasks", stat("harness").tasks, 3)
      expect("streaming.jobs", stat("streaming").jobs, 1)
      expect("streaming.tasks", stat("streaming").tasks, 3)
      if (stat("ops").cpuNs <= 0) failures += "ops task CPU not recorded"
      if (stat("gen").shuffleWriteBytes <= 0)
        failures += "gen shuffle bytes not recorded"
      val acc = t.takeAccumulated()
      if (!(acc.getOrElse("ops.kpi_s", 0.0) > 0))
        failures += "layer call seconds not accumulated"
      // the job group and the layer are restored after each call
      for (p <- Seq("spark.jobGroup.id", Tracer.LayerProperty))
        expect(s"$p cleared",
          if (spark.sparkContext.getLocalProperty(p) == null) 0 else 1, 0)
    } finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"selftest FAILED $f"))
      sys.exit(1)
    }
    println("listener selftest ok")
  }
}
