package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Kpi, Normalize}

object SparkTestSession {
  lazy val spark: SparkSession = {
    // local[4,2]: 2 task attempts, not 1 — the HTTP task-retry
    // idempotency spec (HttpSourceSpec) needs Spark's real at-least-once
    // task re-execution path. Tests that expect job failure still fail
    // (after one extra attempt); nothing else observes the difference.
    val s = graft.cli.CliUtil.session("graft-test", Some("local[4,2]"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Reference-semantics unit tests (SURVEY §5.1/§5.4): normalization contract,
  * lenient casts, bucket boundaries, half-even rounding, p90 interpolation,
  * and the edge-case fixture lines from FIXTURES.md §1. */
class KpiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bitacora(rows: Seq[(String, String, String, String, String)]) =
    rows.toDF("timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")

  test("P3 endpoint normalization: README.md:154-162 contract") {
    val cases = Seq(
      "/status/403" -> "/status",
      "/status/200" -> "/status",
      "/basic-auth/u/p" -> "/basic-auth",
      "/redirect-to?url=/get" -> "/redirect-to",
      "/get?x=1&y=2" -> "/get",
      "/get" -> "/get",
      "/status" -> "/status", // bare /status: no trailing slash -> unchanged
      "/xml" -> "/xml")
    val got = cases.map(_._1).toDF("e")
      .select(Normalize.endpointBase($"e")).as[String].collect()
    assert(got.toSeq == cases.map(_._2))
  }

  test("P4-P6 lenient casts force parse_result=error (calcular_kpi.py:102-114)") {
    val df = bitacora(Seq(
      ("2026-08-11T00:00:00Z", "/get", "abc", "10.0", "ok"),   // bad int
      ("2026-08-11T00:00:00Z", "/get", "200", "xx", "ok"),     // bad double
      ("2026-08-11T00:00:00Z", "/get", "200", "10.0", null),   // null parse
      ("2026-08-11T00:00:00Z", "/get", "200", "10.0", "ok")))  // clean
    val n = Kpi.normalized(df).collect()
    assert(n.map(_.getAs[Int]("status_code")).toSeq == Seq(0, 200, 200, 200))
    assert(n.map(_.getAs[Double]("elapsed_ms")).toSeq == Seq(10.0, 0.0, 10.0, 10.0))
    assert(n.map(_.getAs[String]("parse_result")).toSeq == Seq("error", "error", "error", "ok"))
  }

  test("P1 null guard drops rows (calcular_kpi.py:96-97)") {
    val df = bitacora(Seq(
      (null, "/get", "200", "1.0", "ok"),
      ("2026-08-11T00:00:00Z", null, "200", "1.0", "ok"),
      ("2026-08-11T00:00:00Z", "/get", "200", "1.0", "ok")))
    assert(Kpi.normalized(df).count() == 1)
  }

  test("P2 strict timestamp aborts on bad format (calcular_kpi.py:52)") {
    val df = bitacora(Seq(("2026-08-11 00:00:00", "/get", "200", "1.0", "ok")))
    val e = intercept[Exception](Kpi.bitacoraKpi(df).collect())
    assert(e.getMessage.contains("timestamp_utc"))
  }

  test("P2 strict timestamp aborts the stream with the batch's named error") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.streaming.StreamingKpi
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, String, String)]
    val q = StreamingKpi.kpiStream(StreamingKpi.normalizedStream(mem.toDF().toDF(
        "timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")))
      .writeStream.outputMode("append").format("noop").start()
    try {
      mem.addData(("2026-08-11 00:00:00", "/get", "200", "1.0", "ok"))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(
        "timestamp_utc does not match yyyy-MM-ddTHH:mm:ssZ: 2026-08-11 00:00:00")),
        messages.mkString("\n"))
    } finally q.stop()
  }

  test("P7 bucket boundaries: 199/200/299/300/399/400/499/500/599/0") {
    val rows = Seq(199, 200, 299, 300, 399, 400, 499, 500, 599, 0).map(sc =>
      ("2026-08-11T00:00:00Z", "/get", sc.toString, "1.0", "ok"))
    val kpi = Kpi.bitacoraKpi(bitacora(rows)).collect().head
    assert(kpi.getAs[Long]("requests_total") == 10) // 0 and 3xx count in total
    assert(kpi.getAs[Long]("success_2xx") == 2)     // 200, 299
    assert(kpi.getAs[Long]("client_4xx") == 2)      // 400, 499
    assert(kpi.getAs[Long]("server_5xx") == 2)      // 500, 599
  }

  test("A6 exact p90: linear interpolation like np.percentile([1,2,3,4],90)=3.7") {
    val rows = Seq(1.0, 2.0, 3.0, 4.0).map(v =>
      ("2026-08-11T00:00:00Z", "/get", "200", v.toString, "ok"))
    val kpi = Kpi.bitacoraKpi(bitacora(rows)).collect().head
    assert(kpi.getAs[Double]("p90_elapsed_ms") == 3.7)
  }

  test("crossEngineExact tier sums elapsed values of 1e17 like the faithful tier") {
    // DECIMAL(18,2) holds less than 1e16: the exact tier used to abort here
    val rows = Seq("1e17", "1e17", "2.5", "100").map(v =>
      ("2026-08-11T00:00:00Z", "/get", "200", v, "ok"))
    def kpi(exact: Boolean) = Kpi.bitacoraKpi(bitacora(rows),
      crossEngineExact = exact).collect().head
    val exact = kpi(exact = true)
    assert(exact.getAs[Double]("avg_elapsed_ms") ==
      (BigDecimal("200000000000000102.50") / 4).toDouble)
    assert(exact.getAs[Double]("p90_elapsed_ms") == 1e17)
    assert(exact.getAs[Double]("avg_elapsed_ms") ==
      kpi(exact = false).getAs[Double]("avg_elapsed_ms"))
  }

  test("A6 faithful p90 replays numpy's _lerp at ULP level (both branches)") {
    import graft.functions.NpPercentile
    // the live parity-gate catch: lo=746.21, hi=746.66 at t=0.1 —
    // numpy's a+(b-a)t gives 746.25499…994 (rounds to 746.25), the
    // two-product (1-t)a+tb of builtin percentile / quantile_cont gives
    // 746.25500…001 (rounds to 746.26)
    // n=100 → virtual index 89.1: v[89]=746.21, v[90]=746.66 (0-based)
    val low = Seq(Seq.fill(89)(1.0) ++ Seq(746.21, 746.66) ++ Seq.fill(9)(999.0))
      .toDF("v").select(NpPercentile.ofSorted(sort_array($"v"), 0.9))
      .as[Double].collect().head
    assert(low == 746.21 + (746.66 - 746.21) * ((100 - 1) * 0.9 - 89.0),
      s"got $low")
    assert(graft.functions.PyRoundExpression.round(low, 2) == 746.25)
    // and the two-product lerp really does land one ULP higher (the bug
    // class this helper exists for): it would round the other way
    val twoProduct = 746.21 * (1 - 0.1) + 746.66 * 0.1
    assert(graft.functions.PyRoundExpression.round(twoProduct, 2) == 746.26)
    // t >= 0.5 branch: numpy switches to b-(b-a)(1-t); n=5,p=0.9 → t=0.6
    val hi = Seq(Seq(1.0, 2.0, 3.0, 10.0, 746.66))
      .toDF("v").select(NpPercentile.ofSorted(sort_array($"v"), 0.9))
      .as[Double].collect().head
    assert(hi == 746.66 - (746.66 - 10.0) * (1.0 - ((5 - 1) * 0.9 - 3.0)),
      s"got $hi")
    // degenerate sizes: n=1 → the value; empty → the reference's 0.0 guard
    val one = Seq(Seq(42.5)).toDF("v")
      .select(NpPercentile.ofSorted($"v", 0.9)).as[Double].collect().head
    assert(one == 42.5)
    val empty = Seq(Seq.empty[Double]).toDF("v")
      .select(NpPercentile.ofSorted($"v", 0.9)).as[Double].collect().head
    assert(empty == 0.0)
  }

  test("P11 half-even rounding (reference: round(0.125,2)==0.12)") {
    // avg of (0.12, 0.13) = 0.125 -> half-even 0.12
    val rows = Seq("0.12", "0.13").map(v =>
      ("2026-08-11T00:00:00Z", "/get", "200", v, "ok"))
    val kpi = Kpi.bitacoraKpi(bitacora(rows)).collect().head
    assert(kpi.getAs[Double]("avg_elapsed_ms") == 0.12)
  }

  test("P11 py_round reproduces CPython round() on binary-vs-decimal tie cases") {
    import graft.functions.PyRoundExpression
    // ground truth from CPython 3.11: round(v, 2) — includes the cases where
    // bround (decimal-string half-even) disagrees with Python (binary value):
    // 696.515 is binary 696.51499…, 2.675 is 2.67499…, 1.005 is 1.00499…
    val cases = Seq(
      696.515 -> 696.51, 0.125 -> 0.12, 2.675 -> 2.67, 0.135 -> 0.14,
      1.005 -> 1.0, 33.555 -> 33.55, -0.125 -> -0.12, -2.675 -> -2.67,
      417.23 -> 417.23, 100.0 -> 100.0, 0.0 -> 0.0)
    for ((in, want) <- cases)
      assert(PyRoundExpression.round(in, 2) == want, s"py_round($in, 2)")
    // bround demonstrably differs on the flagship case (this is WHY the
    // faithful tier uses py_round):
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(696.515).toDF("x")
    val b = df.select(org.apache.spark.sql.functions.bround($"x", 2)).as[Double].head()
    assert(b == 696.52) // bround: decimal-string tie → up to even
    val p = df.select(PyRoundExpression.pyRound($"x", 2)).as[Double].head()
    assert(p == 696.51) // py_round: binary value below the tie → down
    // NaN/Infinity pass through (BigDecimal would throw)
    assert(PyRoundExpression.round(Double.NaN, 2).isNaN)
    assert(PyRoundExpression.round(Double.PositiveInfinity, 2).isPosInfinity)
    // the generated code over a non-literal column rounds the same way
    assert(df.repartition(1).select(PyRoundExpression.pyRound($"x", 2))
      .as[Double].head() == 696.51)
  }

  test("A9 weighted re-aggregation identity: weighted mean of unrounded " +
      "daily means equals the endpoint-global mean") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    val direct = df.groupBy($"event_type")
      .agg((sum($"value".cast("decimal(18,2)")).cast("double") / count(lit(1))).as("m"))
      .orderBy($"event_type").as[(String, Double)].collect()
    val viaKpi = QueriesKpi.reportEndpoint(spark, "/root/testdata/sf0.001")
      .select(regexp_replace($"endpoint_base", "^/", "").as("t"), $"avg_elapsed_ms")
      .orderBy($"t").as[(String, Double)].collect()
    direct.zip(viaKpi).foreach { case ((t1, m1), (t2, m2)) =>
      // weighted path quantizes daily means to 6-dp decimals -> ~1e-6 abs
      assert(t1 == t2); assert(math.abs(m1 - m2) < 1e-4, s"$t1: $m1 vs $m2")
    }
  }

  test("stage-[4] KPI hand-off: after clearCache and clearMemo, two " +
      "stage-[4] queries compute the KPI aggregate once") {
    val sf = "/root/testdata/sf0.001"
    def run(q: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      q(spark, sf).write.format("noop").mode("overwrite").save()
    run(QueriesKpi.reportEndpoint) // pins the KPI
    spark.catalog.clearCache()
    graft.operators.LoopCache.clearMemo()
    run(QueriesKpi.reportGlobal) // computes the KPI and pins it again
    // the second reads the pin: it reads only shuffle data it wrote
    // itself, none the KPI aggregate left behind
    val second = graft.tools.TaskEnvelope.measure(spark) {
      run(QueriesKpi.globalP90Exact)
    }
    assert(second.shuffleWrite > 0)
    assert(second.shuffleRead == second.shuffleWrite)
    assert(QueriesKpi.kpiAggregate(spark, sf).storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("stage-[4] KPI hand-off pins the unsorted aggregate: no range " +
      "exchange, fewer jobs than the sorted q01") {
    val sf = "/root/testdata/sf0.001"
    def cold(df: => org.apache.spark.sql.DataFrame) = {
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
      graft.tools.TaskEnvelope.measure(spark) {
        df.write.format("noop").mode("overwrite").save()
      }
    }
    val sorted = cold(QueriesKpi.kpiDaily(spark, sf))
    val staged = cold(QueriesKpi.kpiStaged(spark, sf))
    // the pinned plan, as the cache holds it after the staging run
    val pinned = QueriesKpi.kpiAggregate(spark, sf).queryExecution.executedPlan
      .toString.toLowerCase
    assert(pinned.contains("inmemoryrelation"), pinned)
    assert(!pinned.contains("rangepartitioning"), pinned)
    assert(staged.jobs < sorted.jobs, s"staged ${staged.jobs} vs sorted ${sorted.jobs}")
    // q01 keeps the reference's (date, endpoint) order
    val keys = QueriesKpi.kpiDaily(spark, sf)
      .select($"date_utc".cast("string"), $"endpoint_base").as[(String, String)]
      .collect().toSeq
    assert(keys.nonEmpty && keys == keys.sorted)
  }

  test("S1 FAILFAST: malformed JSONL line aborts (calcular_kpi.py:80-83)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("b.jsonl")
    java.nio.file.Files.writeString(f,
      """{"timestamp_utc": "2026-08-11T00:00:00Z", "endpoint": "/get", "status_code": 200, "elapsed_ms": 1.0, "parse_result": "ok"}
        |not-json
        |""".stripMargin)
    val e = intercept[Exception] {
      Kpi.bitacoraKpi(Kpi.readBitacora(spark, f.toString)).collect()
    }
    assert(e.getMessage != null)
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("multi-file JSONL input replays in lexicographic file order " +
      "(scan-order key pin, ADVICE r14)") {
    // The faithful mean tier replays np.mean's pairwise sum over the
    // group's values IN SCAN ORDER (ops/Kpi.scala), reconstructing file
    // order from (input_file_name, block_start, mono-id) because Spark's
    // size-descending split packing does NOT read files
    // lexicographically. Pin the contract with values whose float mean
    // is ORDER-DEPENDENT: [1e16, 3, -1e16] sums to 4.0 sequentially
    // (3 absorbs into 1e16's ulp as +4) but to 3.0 if the small file's
    // row were summed first — so a wrong read order changes avg at the
    // cent and the assert below catches it exactly.
    def line(elapsed: String) =
      s"""{"timestamp_utc": "2026-08-11T00:00:00Z", "endpoint": "/get", """ +
        s""""status_code": 200, "elapsed_ms": $elapsed, "parse_result": "ok"}"""
    val two = java.nio.file.Files.createTempDirectory("graft_twofile")
    // part-000: two rows (bigger file); part-001: one row (read FIRST by
    // Spark's size-descending packing if the key didn't fix it)
    java.nio.file.Files.writeString(two.resolve("part-000.jsonl"),
      line("1.0e16") + "\n" + line("3.0") + "\n")
    java.nio.file.Files.writeString(two.resolve("part-001.jsonl"),
      line("-1.0e16") + "\n")
    val one = java.nio.file.Files.createTempDirectory("graft_onefile")
    java.nio.file.Files.writeString(one.resolve("all.jsonl"),
      line("1.0e16") + "\n" + line("3.0") + "\n" + line("-1.0e16") + "\n")
    val twoKpi = Kpi.bitacoraKpi(Kpi.readBitacora(spark, two.toString))
      .collect().map(_.toString).toSeq
    val oneKpi = Kpi.bitacoraKpi(Kpi.readBitacora(spark, one.toString))
      .collect().map(_.toString).toSeq
    assert(twoKpi == oneKpi,
      s"two-file scan order != lexicographic concatenation:\n two=$twoKpi\n one=$oneKpi")
    // and the concatenated order really is the order-sensitive one: the
    // sequential sum is 4.0 → mean 4/3 → rounds to 1.33
    assert(oneKpi.exists(_.contains("1.33")),
      s"fixture lost its order sensitivity: $oneKpi")
  }
}
