package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based tests from SURVEY §5.2: the p90 pipeline against a
  * reimplemented linear-interpolation oracle, the weighted-mean identity,
  * and group-sum preservation under the null-guard filter.
  * (Raw scalacheck Gen with deterministic seeds — the scalatest bridge
  * artifact is not in the offline cache.) */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** np.percentile's linear method, reimplemented independently. */
  private def p90Oracle(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val pos = (s.length - 1) * 0.9
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    val f = pos - lo
    s(lo) * (1 - f) + s(hi) * f
  }

  private val valuesGen =
    Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1000.0).map(v => math.rint(v * 100) / 100))

  test("A6 property: percentile(0.9) == linear-interpolation oracle, ∀ lists") {
    // single spark job over all sampled groups (30 jobs would be slow)
    val groups = samples(valuesGen, 30)
    val df = groups.zipWithIndex
      .flatMap { case (xs, g) => xs.map(x => (g, x)) }
      .toDF("g", "v")
    val got = df.groupBy($"g").agg(percentile($"v", lit(0.9)).as("p"))
      .collect().map(r => r.getAs[Int]("g") -> r.getAs[Double]("p")).toMap
    groups.zipWithIndex.foreach { case (xs, g) =>
      assert(got(g) == p90Oracle(xs), s"group $g: $xs")
    }
  }

  test("A9 property: Σ(x·w)/Σw weighted-mean exactness and bounds") {
    val rowGen = Gen.nonEmptyListOf(for {
      x <- Gen.chooseNum(0.0, 500.0).map(v => math.rint(v * 100) / 100)
      w <- Gen.chooseNum(1L, 1000L)
    } yield (x, w))
    val groups = samples(rowGen, 20)
    val df = groups.zipWithIndex
      .flatMap { case (rows, g) => rows.map { case (x, w) => (g, x, w) } }
      .toDF("g", "x", "w")
    val got = df.groupBy($"g")
      .agg((sum($"x".cast("decimal(16,6)") * $"w".cast("decimal(8,0)")).cast("double")
        / sum($"w").cast("double")).as("m"))
      .collect().map(r => r.getAs[Int]("g") -> r.getAs[Double]("m")).toMap
    groups.zipWithIndex.foreach { case (rows, g) =>
      val want = (rows.map { case (x, w) => BigDecimal(x) * w }.sum /
        BigDecimal(rows.map(_._2).sum)).toDouble
      assert(math.abs(got(g) - want) < 1e-9, s"group $g")
      assert(got(g) >= rows.map(_._1).min - 1e-9 && got(g) <= rows.map(_._1).max + 1e-9)
    }
  }

  test("A1-A4 property: group counts preserve total minus dropped rows") {
    val rowGen = Gen.nonEmptyListOf(for {
      ts <- Gen.option(Gen.oneOf("2026-08-10T00:00:00Z", "2026-08-11T12:30:00Z"))
      ep <- Gen.option(Gen.oneOf("/get", "/status/403", "/x?q=1"))
      sc <- Gen.oneOf("200", "404", "500", "abc", "0")
    } yield (ts.orNull, ep.orNull, sc, "1.0", "ok"))
    samples(rowGen, 15).foreach { rows =>
      val df = rows.toDF("timestamp_utc", "endpoint", "status_code", "elapsed_ms", "parse_result")
      val kpi = graft.ops.Kpi.bitacoraKpi(df)
      val kept = rows.count(r => r._1 != null && r._2 != null)
      val total = kpi.agg(coalesce(sum($"requests_total"), lit(0L)))
        .as[Long].collect().head
      assert(total == kept.toLong, s"rows: $rows")
    }
  }

  test("FuzzyMatch property: triangle-salted pairs == unsalted, ∀ g, on " +
      "random block-colliding corpora") {
    // texts drawn from 3 shared openers (heavy block collisions) + random
    // tails — the adversarial shape for the bucket-dedup logic (same-salt
    // and cross-salt pairs co-resident in many buckets)
    val docGen = Gen.nonEmptyListOf(for {
      opener <- Gen.oneOf("common opener block", "common opener brick",
        "other start words")
      tail <- Gen.listOfN(4, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    } yield s"$opener ${tail.mkString(" ")}")
    samples(docGen, 8).zipWithIndex.foreach { case (texts, i) =>
      val df = texts.zipWithIndex
        .map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
      def run(g: Int) = operators.FuzzyMatch
        .blockedPairs(df, "doc_id", "text", blockLen = 12, prefixLen = 64,
          maxDist = 25, saltGroups = g)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(p => (p._1, p._2)).toSeq
      val plain = run(1)
      Seq(2, 3, 8).foreach { g =>
        assert(run(g) == plain, s"corpus $i, saltGroups=$g, texts=$texts")
      }
    }
  }

  test("FuzzyMatch multipass property: superset of single pass, distances " +
      "agree on common pairs, ∀ random corpora") {
    val docGen = Gen.nonEmptyListOf(for {
      opener <- Gen.oneOf("common opener block", "common opener brick",
        "typo inside key!", "other start words")
      tail <- Gen.listOfN(4, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    } yield s"$opener ${tail.mkString(" ")}")
    samples(docGen, 6).zipWithIndex.foreach { case (texts, i) =>
      val df = texts.zipWithIndex
        .map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val single = pairs(operators.FuzzyMatch.blockedPairs(
        df, "doc_id", "text", blockLen = 12, prefixLen = 64, maxDist = 25))
      val multi = pairs(operators.FuzzyMatch.multiPassPairs(
        df, "doc_id", "text", blockLen = 12, prefixLen = 64, maxDist = 25))
      assert(single.keySet.subsetOf(multi.keySet),
        s"corpus $i: multipass dropped ${single.keySet -- multi.keySet}")
      single.foreach { case (k, d) =>
        assert(multi(k) == d, s"corpus $i pair $k: single=$d multi=${multi(k)}")
      }
    }
  }

  test("Repetition property: metric invariants ∀ random corpora") {
    // invariants a scoring operator must never break, whatever the text:
    //  - every pml in [0, 1000];
    //  - dup_word_pml == 0 iff all words distinct;
    //  - top_bigram_count >= 2 whenever top_bigram_pml > 0;
    //  - a document repeated verbatim k>=2 times within itself maxes the
    //    5-gram tier only when it has >= 5 words (shingle short-doc edge)
    val docGen = Gen.nonEmptyListOf(
      Gen.chooseNum(1, 9).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
          .map(_.mkString(" "))))
    samples(docGen, 6).zipWithIndex.foreach { case (texts, i) =>
      val df = texts.zipWithIndex
        .map { case (t, id) => (id.toLong, t) }.toDF("doc_id", "text")
      val rows = operators.Repetition.metrics(df, "doc_id", "text").collect()
      assert(rows.length == texts.length, s"corpus $i dropped rows")
      rows.foreach { r =>
        val id = r.getAs[Long]("doc_id").toInt
        val words = texts(id).split("\\s+").toSeq
        for (c <- Seq("dup_word_pml", "top_bigram_pml", "dup5_pml")) {
          val v = r.getAs[Long](c)
          assert(v >= 0 && v <= 1000, s"corpus $i doc $id $c=$v")
        }
        assert((r.getAs[Long]("dup_word_pml") == 0L) ==
          (words.distinct.size == words.size),
          s"corpus $i doc $id: ${texts(id)}")
        if (r.getAs[Long]("top_bigram_pml") > 0)
          assert(r.getAs[Long]("top_bigram_count") >= 2L,
            s"corpus $i doc $id: count-1 gram scored coverage")
        assert(r.getAs[Long]("n_words") == words.size)
      }
    }
  }

  test("sweep-line property: daily peaks == brute-force scan, ∀ interval sets") {
    import graft.operators.SweepLine
    val ivGen = Gen.nonEmptyListOf(for {
      st <- Gen.chooseNum(0L, 400000L)       // seconds over ~4.6 days
      len <- Gen.chooseNum(1L, 200000L)
    } yield (st, st + len))
    for ((ivs, i) <- samples(ivGen, 8).zipWithIndex) {
      val df = ivs.map { case (s, e) =>
        (new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
      }.toDF("st", "et")
      val got = SweepLine.dailyPeakConcurrency(df, "st", "et")
        .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(4))
        .toMap
      // threshold 0 now forces the DEEPEST nesting (r18: every hour
      // count > 0 trips the hot-hour check too) — the minute-nested
      // path must be row-for-row the flat path
      val gotNested = SweepLine.dailyPeakConcurrency(df, "st", "et", 0L)
        .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(4))
        .toMap
      assert(gotNested == got, s"minute-nested != flat on set $i: $ivs")
      // and the intermediate HOUR path (hot day, no hot hour) whenever
      // this interval set can express it: threshold = max deltas/hour
      // trips the day check but not the hour check
      val allDeltas = ivs.flatMap { case (s, e) => Seq(s, e) }
      val maxHour = allDeltas.groupBy(_ / 3600).values.map(_.size).max.toLong
      val maxDay = allDeltas.groupBy(_ / 86400).values.map(_.size).max.toLong
      if (maxHour < maxDay) {
        val gotHour = SweepLine.dailyPeakConcurrency(df, "st", "et", maxHour)
          .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(4))
          .toMap
        assert(gotHour == got, s"hour-nested != flat on set $i: $ivs")
      }
      // brute force: concurrency at instant t = #{[s,e) : s <= t < e},
      // evaluated at every delta instant plus each active day's start
      val deltas = ivs.flatMap { case (s, e) => Seq(s, e) }.distinct.sorted
      def conc(t: Long) = ivs.count { case (s, e) => s <= t && t < e }
      val activeDays = deltas.map(_ / 86400 * 86400).distinct
      val want = activeDays.map { day =>
        val instants = deltas.filter(t => t >= day && t < day + 86400) :+ day
        day -> instants.map(conc).max.toLong
      }.toMap
      assert(got == want, s"interval set $i: $ivs")
    }
  }

  test("lateness-profile property: bucket counts == brute force, ∀ logs") {
    import graft.operators.EventSeq
    val logGen = Gen.nonEmptyListOf(for {
      u <- Gen.chooseNum(1L, 4L)
      t <- Gen.chooseNum(0L, 5000L)
    } yield (u, t))
    val bounds = Seq(1L, 60L, 600L)
    for ((log, i) <- samples(logGen, 8).zipWithIndex) {
      val rows = log.zipWithIndex.map { case ((u, t), seq) =>
        (u, new java.sql.Timestamp(t * 1000L), seq.toLong)
      }
      val got = EventSeq.latenessProfile(rows.toDF("u", "ts", "seq"),
          "u", "ts", Seq("seq"), bounds)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      // brute force latenesses in seq order per user
      val lates = rows.groupBy(_._1).values.flatMap { evs =>
        val sorted = evs.sortBy(_._3)
        sorted.zipWithIndex.map { case ((_, ts, _), k) =>
          val prevMax = sorted.take(k).map(_._2.getTime).maxOption.getOrElse(ts.getTime)
          math.max(0L, prevMax - ts.getTime) / 1000 // whole seconds in this fixture
        }
      }.toSeq
      def bucketOf(l: Long) =
        if (l == 0) 0
        else bounds.indexWhere(l <= _) match {
          case -1 => bounds.length + 1; case j => j + 1 }
      val want = lates.groupBy(bucketOf).map { case (b, ls) => b -> ls.size.toLong }
      assert(got == want, s"log $i: $log")
    }
  }

  test("exact-quota property: kept set == brute-force rank cut, ∀ strata") {
    import graft.operators.Sampling
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      t0 <- Gen.chooseNum(0L, 50L)
      t1 <- Gen.chooseNum(0L, 400L)
    } yield (n, t0, t1)
    for (((n, t0, t1), i) <- samples(gen, 6).zipWithIndex) {
      val df = (1L to n.toLong).map(id => (id, s"s${id % 2}")).toDF("id", "st")
      val targets = Seq(("s0", t0), ("s1", t1)).toDF("st", "target_n")
      val got = Sampling.exactQuotaSample(df, "st", "id", targets)
        .select($"id").as[Long].collect().toSet
      def draw(id: Long) = (id * 48271 % 2147483647) * 48271 % 2147483647
      val want = (1L to n.toLong).groupBy(id => s"s${id % 2}")
        .flatMap { case (st, ids) =>
          val t = if (st == "s0") t0 else t1
          ids.sortBy(id => (draw(id), id)).take(t.toInt)
        }.toSet
      assert(got == want, s"case $i: n=$n targets=($t0,$t1)")
    }
  }
}
