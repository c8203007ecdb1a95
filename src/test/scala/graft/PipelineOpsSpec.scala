package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.{BloomJoin, Profile, Quantize, Sampling, TfIdf, TopK, Upsert}

/** Unit tests for the pipeline-utility operators (q45-q52 family):
  * deterministic sampling, grouped top-k, TF-IDF, PII scrub, bloom join. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("lehmer sampling is deterministic and repartition-invariant") {
    val df = (1L to 2000L).toDF("id")
    val a = df.filter(Sampling.lehmerU($"id") < 0.3).as[Long].collect().sorted.toSeq
    val b = df.repartition(7).filter(Sampling.lehmerU($"id") < 0.3)
      .as[Long].collect().sorted.toSeq
    assert(a == b)                       // partitioning must not matter
    assert(math.abs(a.length - 600) < 90) // ~30% ± a loose tolerance
  }

  test("stratified sampling applies per-stratum rates; unknown strata dropped") {
    val df = (1L to 3000L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val got = Sampling.stratifiedLehmerSample(
        df, "stratum", "id", Map("s0" -> 1.0, "s1" -> 0.2))
      .groupBy($"stratum").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got("s0") == 1000L)           // rate 1.0 keeps everything
    assert(math.abs(got("s1") - 200L) < 80)
    assert(!got.contains("s2"))          // absent from the map -> dropped
  }

  test("lehmer sampling handles negative keys (pmod keeps the draw in [0,1))") {
    val df = (-1000L to -1L).toDF("id")
    val kept = df.filter(Sampling.lehmerU($"id") < 0.3).count()
    assert(kept < 450, s"negative keys over-sampled: $kept/1000 at rate 0.3")
    assert(df.filter(Sampling.lehmerU($"id") < 0.0).count() == 0)
  }

  test("bloom semi join works when both keys share a column name") {
    val left = (1L to 100L).toDF("key")
    val right = (1L to 100L by 10L).toDF("key")
    val got = BloomJoin.bloomSemiJoin(left, right, "key", "key", expectedItems = 20L)
      .as[Long].collect().sorted.toSeq
    assert(got == (1L to 100L by 10L).toSeq)
  }

  test("vector kernels fail fast on malformed embeddings") {
    val mismatched = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      mismatched.select(
        graft.functions.VectorFunctions.cosineSimilarity($"a", $"b")).collect()
    }
    assert(e.getMessage != null)
  }

  test("grouped top-k keeps exactly k rows per group with deterministic ties") {
    val df = Seq(("a", 1L, 10), ("a", 2L, 10), ("a", 3L, 5),
      ("b", 4L, 1)).toDF("g", "id", "v")
    val got = TopK.perGroup(df, Seq("g"), Seq($"v".desc, $"id".asc), k = 2)
      .select($"g", $"rk", $"id").as[(String, Int, Long)].collect().toSet
    assert(got == Set(("a", 1, 1L), ("a", 2, 2L), ("b", 1, 4L)))
  }

  test("tf-idf: rare term outranks common term") {
    val df = Seq(
      (1L, "common rare common"),
      (2L, "common other"),
      (3L, "common thing")).toDF("doc_id", "text")
    val top = TfIdf.topTerms(df, "doc_id", "text", k = 1)
      .filter($"doc_id" === 1L).collect().head
    assert(top.getAs[String]("term") == "rare") // df=1 beats tf=2 of df=3
    // score = tf * N / df = 1 * 3 / 1 = 3.0
    assert(top.getAs[Double]("score") == 3.0)
  }

  test("pii scrub redacts and counts emails and phones") {
    val df = Seq(
      "reach me at jo.do#1@mail.example.org or 12-345-678-9012 thanks",
      "no pii here").toDF("t")
    val got = df.select(TextFunctions.piiScrub($"t").as("p"))
      .select($"p.clean_text", $"p.n_emails", $"p.n_phones")
      .as[(String, Int, Int)].collect()
    assert(got(0) == ("reach me at <EMAIL> or <PHONE> thanks", 1, 1))
    assert(got(1) == ("no pii here", 0, 0))
  }

  test("bounded_collect_longs: full groups gathered, over-cap groups -> NULL") {
    val df = (1L to 1000L).map(i => (if (i <= 990) "big" else "small", i))
      .toDF("g", "v").repartition(11)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedCollectLongs
        .boundedCollectLongs($"v", 100).as("ids"))
      .collect().map(r => r.getAs[String]("g") ->
        Option(r.getAs[scala.collection.Seq[Long]]("ids"))).toMap
    assert(got("big").isEmpty)                    // 990 > cap -> NULL
    assert(got("small").get.sorted == (991L to 1000L)) // under cap: complete
  }

  test("salted aggregation equals plain groupBy on a skewed key, any partitioning") {
    // 90% of rows share one key — the shape salting exists for
    val df = (1L to 5000L).map { i =>
      (if (i % 10 == 0) s"cold${i % 7}" else "hot", i)
    }.toDF("k", "v").repartition(13)
    val salted = graft.operators.SkewSalt.saltedAgg(df, Seq("k"), Seq(
        ("n", "v", graft.operators.SkewSalt.Agg.count),
        ("mn", "v", graft.operators.SkewSalt.Agg.min),
        ("mx", "v", graft.operators.SkewSalt.Agg.max)))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    val plain = df.groupBy($"k")
      .agg(count($"v").as("n"), min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    // decimal-exact salted SUM is reduction-order-proof
    val sumSalted = graft.operators.SkewSalt.saltedAgg(
        df.withColumn("d", $"v".cast("decimal(18,2)")), Seq("k"),
        Seq(("s", "d", graft.operators.SkewSalt.Agg.sum)))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    val sumPlain = df.groupBy($"k").agg(sum($"v".cast("decimal(18,2)")).as("s"))
      .orderBy($"k").collect().map(_.toSeq).toSeq
    assert(sumSalted == sumPlain)
  }

  test("native vector kernels are bit-identical to the HOF fold formulations") {
    val rng = new scala.util.Random(7)
    val vecs = (1L to 50L).map(i =>
      (i, Array.fill(64)(rng.nextDouble() * 2 - 1),
        Array.fill(64)(rng.nextDouble() * 2 - 1))).toDF("id", "a", "b")
    // reference formulations on the interpreted HOF path
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def normF(a: org.apache.spark.sql.Column) =
      sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val cosF = dotF($"a", $"b") / (normF($"a") * normF($"b"))
    val l2F = aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    // plane p's ±1 sign for component i: the parity of xxhash64(p, i)
    def signF(p: Int, i: org.apache.spark.sql.Column) =
      when(pmod(xxhash64(lit(p), i), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
    val nPlanes = 12
    val bucketF = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with($"a", sequence(lit(0), size($"a") - 1),
          (v, i) => v * signF(p, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val rows = vecs.select(
      graft.functions.VectorFunctions.cosineSimilarity($"a", $"b").as("cosN"),
      cosF.as("cosR"),
      graft.functions.VectorFunctions.l2Sq($"a", $"b").as("l2N"), l2F.as("l2R"),
      graft.functions.VectorFunctions.hyperplaneBucket($"a", nPlanes).as("bkN"),
      bucketF.as("bkR")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cosN")) ==
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cosR")))
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("l2N")) ==
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("l2R")))
      assert(r.getAs[Long]("bkN") == r.getAs[Long]("bkR"))
    }
  }

  test("bloom semi join result is exactly the plain semi join") {
    // parquet-backed probe side: over a LocalRelation the optimizer
    // evaluates the bloom predicate at plan time and the Filter node we
    // assert on below folds away entirely (and parquet is the realistic
    // shape — the probe side is the huge scan)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    (1L to 500L).map(i => (i, i % 7)).toDF("k", "payload")
      .write.mode("overwrite").parquet(dir)
    val left = spark.read.parquet(dir)
    val right = (1L to 500L by 5L).toDF("rk")
    val bloomed = BloomJoin.bloomSemiJoin(left, right, "k", "rk", expectedItems = 200L)
    val got = bloomed.collect().map(_.getAs[Long]("k")).sorted.toSeq
    val want = left.join(right, $"k" === $"rk", "left_semi")
      .select($"k").as[Long].collect().sorted.toSeq
    assert(got == want)
    // the probe is the native Catalyst predicate inside a whole-stage
    // codegen span ("*(n) Filter ... might_contain"), not a Scala UDF
    // (collect() above finalized the adaptive plan we assert on)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Filter[^\\n]*might_contain.*"), plan)
  }

  test("int8 quantization: codes bounded, extremes saturate, error within bound") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),  // max|v|=1.0 → codes (63,-127,31)
      (2L, Array(0.0f, 0.0f)),          // zero vector → zero codes
      (3L, Array(2.0f))                 // single element → exactly 127
    ).toDF("vec_id", "embedding")
    val q = Quantize.quantized(df, "embedding")
      .select($"vec_id", $"codes", $"max_recon_err")
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1)
    assert(q(0)._2 == Seq(63, -127, 31))
    assert(q(1)._2 == Seq(0, 0) && q(1)._3 == 0.0)
    assert(q(2)._2 == Seq(127) && q(2)._3 == 0.0)
    // trunc-toward-zero quantization error is < one quantization step
    val step0 = 1.0 / 127.0
    assert(q(0)._3 >= 0.0 && q(0)._3 < step0, q(0)._3.toString)
    // all codes in the int8 symmetric range
    assert(q.flatMap(_._2).forall(c => c >= -127 && c <= 127))
  }

  test("int8 quantization: empty and null vectors degrade, not crash") {
    val df = Seq(
      (1L, Some(Array.empty[Float])),      // empty embedding
      (2L, None: Option[Array[Float]]),    // null embedding
      (3L, Some(Array(1.0f)))
    ).toDF("vec_id", "embedding")
    val q = Quantize.quantized(df, "embedding")
      .select($"vec_id", $"codes", $"code_sum")
      .as[(Long, Option[Seq[Int]], Option[Long])].collect().sortBy(_._1)
    assert(q(0)._2 == Some(Seq.empty) && q(0)._3 == Some(0L)) // empty → empty codes
    assert(q(1)._2.isEmpty && q(1)._3.isEmpty)                // null propagates
    assert(q(2)._2 == Some(Seq(127)))
  }

  test("upsert: latest wins, explicit-null wins, pass-through, insert") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq(
      (1L, Some("new1"), 10L), (1L, Some("old1"), 5L), // key 1: version 10 wins
      (2L, None: Option[String], 7L),                  // key 2: update SETS null
      (9L, Some("ins"), 1L)                            // key 9: NOT MATCHED → insert
    ).toDF("k", "v", "ver")
    val got = Upsert.applyLatest(snap, updates, "k",
        Seq(col("ver").desc), Seq("v"))
      .select($"k", $"v", $"was_updated", $"was_inserted")
      .as[(Long, Option[String], Boolean, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some("new1"), true, false),  // newest version, not first-seen
      (2L, None, true, false),          // null SET beats snapshot value
      (3L, Some("c"), false, false),    // untouched pass-through
      (9L, Some("ins"), true, true)))   // WHEN NOT MATCHED half
  }

  test("column profile counts nulls/distincts and renders extremes") {
    val df = Seq(
      (Some(5), "x"), (None, "y"), (Some(5), "y"), (Some(9), "z")
    ).toDF("num", "s")
    val p = Profile.columnProfile(df, Seq("num", "s"))
      .as[(String, Long, Long, Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(p == Seq(
      ("num", 4L, 1L, 2L, "5", "9"),   // nulls excluded from distinct/min/max
      ("s", 4L, 0L, 3L, "x", "z")))
  }

  test("contentSplit: duplicate-consistent, repartition-stable, covers 100%") {
    val docs = (1L to 400L).map(i => (i, s"doc body number ${i % 200}"))
      .toDF("id", "text") // ids 1..400, every text duplicated once
    val s = Sampling.contentSplit(docs, "text",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    // identical content -> identical split, regardless of id
    val perText = s.groupBy($"text")
      .agg(countDistinct($"split").as("n_splits")).collect()
    assert(perText.forall(_.getAs[Long]("n_splits") == 1L))
    // assignment is a pure function of content: partitioning can't move it
    val a = s.select($"id", $"split").as[(Long, String)].collect().sorted.toSeq
    val b = Sampling.contentSplit(docs.repartition(7), "text",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select($"id", $"split").as[(Long, String)].collect().sorted.toSeq
    assert(a == b)
    // every doc gets exactly one split; rough proportions hold
    val counts = s.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 400L)
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // malformed weights rejected
    intercept[IllegalArgumentException] {
      Sampling.contentSplit(docs, "text", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("skip-gram associations: hand-computed pairs, ratio, tiebreak") {
    // "x y x y": window-2 pairs = (x,y)x3 + (x,x) + (y,y); T=5; n_x=n_y=2
    // score(x,y) = 3*5*1e6 div 4 = 3_750_000; the self-pairs tie at
    // 1_250_000 and break on (a, b)
    val docs = Seq("x y x y").toDF("text")
    val got = graft.operators.SkipGram.associations(
        docs, "text", window = 2, minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("x", "y", 3L, 3750000L),
      ("x", "x", 1L, 1250000L),
      ("y", "y", 1L, 1250000L)))
    // the window clips at the document edge, never crosses documents
    val two = Seq("a b", "b c").toDF("text")
    val pairs = graft.operators.SkipGram.associations(
        two, "text", window = 2, minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("a", "b"), ("b", "c"))) // no cross-doc (a,c)
  }

  test("rolling histogram quantile: window merge + ceil threshold, hand-computed") {
    import java.sql.Date
    // day1: buckets 0x5, 1x4, 9x1 -> total 10, ceil(9.0)=9, cum(1)=9 -> p90=1
    // day5 (day1 still in the 7-day window): +10 rows of bucket 2 ->
    //   total 20, threshold 18, cum(2)=19 -> p90=2
    // day20 (isolated): 10 rows of bucket 2 -> p90=2
    val rows =
      Seq.fill(5)((Date.valueOf("2020-01-01"), 0)) ++
      Seq.fill(4)((Date.valueOf("2020-01-01"), 1)) ++
      Seq((Date.valueOf("2020-01-01"), 9)) ++
      Seq.fill(10)((Date.valueOf("2020-01-05"), 2)) ++
      Seq.fill(10)((Date.valueOf("2020-01-20"), 2))
    val df = rows.toDF("day", "bucket")
    val got = graft.operators.HistogramQuantile.rolling(df, "day", "bucket")
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(got == Map(
      "2020-01-01" -> ((10L, 1)),
      "2020-01-05" -> ((20L, 2)),
      "2020-01-20" -> ((10L, 2))))
    // median of the same data: day1 cum(0)=5 >= ceil(5.0)=5 -> bucket 0
    val med = graft.operators.HistogramQuantile.rolling(
        df, "day", "bucket", qNum = 1, qDen = 2)
      .filter($"d" === "2020-01-01").collect()(0).getInt(2)
    assert(med == 0)
  }

  test("rendezvous sharding: only the new shard steals, ~1/(N+1) moves") {
    val docs = (1L to 3000L).toDF("id")
    val a = Sampling.rendezvousShard(
      Sampling.rendezvousShard(docs, "id", 4, "s4"), "id", 5, "s5")
      .as[(Long, Int, Int)].collect()
    // shard ids stay in range
    assert(a.forall { case (_, s4, s5) => s4 >= 0 && s4 < 4 && s5 >= 0 && s5 < 5 })
    // THE rendezvous contract: a row that moves can only move TO the new
    // shard — every other assignment is untouched (mod-N reshuffles all)
    val moved = a.filter { case (_, s4, s5) => s4 != s5 }
    assert(moved.forall(_._3 == 4),
      s"rows moved to an old shard: ${moved.filter(_._3 != 4).take(3).toSeq}")
    // expected steal fraction 1/5 = 600 of 3000; generous tolerance
    assert(math.abs(moved.length - 600) < 150, s"moved ${moved.length}/3000")
    // balance: each of the 4 original shards holds roughly a quarter
    val sizes = a.groupBy(_._2).map(_._2.length)
    assert(sizes.forall(n => n > 550 && n < 950), s"shard sizes: $sizes")
    // pure function of the key: partitioning can't change assignments
    val b = Sampling.rendezvousShard(docs.repartition(7), "id", 4, "s4")
      .as[(Long, Int)].collect().toMap
    assert(a.forall { case (id, s4, _) => b(id) == s4 })
  }

  test("exact-quota sampling hits targets exactly, partition-invariantly") {
    val df = (1L to 3000L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val targets = Seq(("s0", 137L), ("s1", 2500L)).toDF("stratum", "target_n")
    val got = Sampling.exactQuotaSample(df, "stratum", "id", targets)
    val counts = got.groupBy($"stratum").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(counts == Map("s0" -> 137L, "s1" -> 1000L),
      s"quota miss: $counts") // s1 capped at |stratum|; s2 allowlist-dropped
    // selection IDENTITY (not just counts) survives repartitioning
    val ids = got.select($"id").as[Long].collect().sorted.toSeq
    val ids7 = Sampling.exactQuotaSample(df.repartition(7), "stratum", "id",
      targets).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == ids7)
    // the literal bound must buy the WindowGroupLimit pre-trim
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pre-trim in:\n$plan")
    // empty targets -> empty result, not a crash
    assert(Sampling.exactQuotaSample(df, "stratum", "id",
      targets.filter($"target_n" < 0)).count() == 0)
  }

  test("join estimate: CM upper bound holds, AMS unbiased, folds consistent") {
    import graft.operators.JoinEstimate
    // planted skew: key 1 x100, key 2 x50, 850 singletons
    // exact self-join size = 100^2 + 50^2 + 850 = 13350
    val keys = (Seq.fill(100)(1L) ++ Seq.fill(50)(2L) ++
      (1000L to 1849L)).toDF("k")
    val exact = 100L * 100 + 50L * 50 + 850L
    val cm = JoinEstimate.sketch(keys, "k", 4096)
    val cmEst = JoinEstimate.selfJoinEstimate(cm).as[Long].head()
    assert(cmEst >= exact, s"CM must be an upper bound: $cmEst < $exact")
    assert(cmEst <= exact * 2, s"CM way off on a sparse sketch: $cmEst")
    // the fold equals a directly-built narrow sketch, counter for counter
    val folded = JoinEstimate.fold(cm, 4096, 256)
      .as[(Int, Long, Long)].collect().toSet
    val direct = JoinEstimate.sketch(keys, "k", 256)
      .as[(Int, Long, Long)].collect().toSet
    assert(folded == direct)
    // AMS: a signed median within 30% on this corpus, partition-invariant
    val ams = JoinEstimate.amsSketch(keys, "k", 4096)
    val amsEst = JoinEstimate.amsSelfJoinEstimate(ams).as[Long].head()
    assert(math.abs(amsEst - exact) * 10 <= exact * 3,
      s"AMS estimate $amsEst vs exact $exact")
    val amsEst7 = JoinEstimate.amsSelfJoinEstimate(
      JoinEstimate.amsSketch(keys.repartition(7), "k", 4096)).as[Long].head()
    assert(amsEst7 == amsEst)
    // sketch mass: CM counters sum to SignDepth-free Depth * n
    val mass = cm.agg(sum($"cnt")).as[Long].head()
    assert(mass == JoinEstimate.Depth.toLong * 1000L)
    // two-relation estimate: upper-bounds the exact equi-join size, and
    // fully disjoint key sets estimate 0 (missing-row rule)
    val other = (Seq.fill(30)(1L) ++ (5000L to 5099L)).toDF("k")
    val exactAB = 100L * 30 // only key 1 matches
    val estAB = JoinEstimate.joinSizeEstimate(cm,
      JoinEstimate.sketch(other, "k", 4096)).as[Long].head()
    assert(estAB >= exactAB && estAB <= exactAB + 1000,
      s"two-relation estimate $estAB vs exact $exactAB")
    val disjoint = JoinEstimate.joinSizeEstimate(cm,
      JoinEstimate.sketch((90000L to 90000L).toDF("k"), "k", 4096))
      .as[Long].head()
    assert(disjoint <= 100L, s"near-disjoint join grossly over: $disjoint")
  }

  test("sweep line: end-exclusive peaks, midnight carry, hand-computed") {
    import graft.operators.SweepLine
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val iv = Seq(
      // day 1: three overlapping at 10:30 -> peak 3; back-to-back pair
      // at 12:00 must NOT double-count (end exclusive)
      (t("2026-08-10 10:00:00"), t("2026-08-10 11:00:00")),
      (t("2026-08-10 10:15:00"), t("2026-08-10 10:45:00")),
      (t("2026-08-10 10:30:00"), t("2026-08-10 12:00:00")),
      (t("2026-08-10 12:00:00"), t("2026-08-10 12:30:00")),
      // spans midnight: day 2 inherits carry_in 1 and its only delta is
      // the -1, so its peak IS the carry level
      (t("2026-08-10 23:00:00"), t("2026-08-11 01:00:00"))
    ).toDF("st", "et")
    val got = SweepLine.dailyPeakConcurrency(iv, "st", "et")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("2026-08-10", 5L, 4L, 0L, 3L),
      ("2026-08-11", 0L, 1L, 1L, 1L)))
    // partition invariance and null-interval drop
    val withNull = iv.union(Seq((t("2026-08-10 09:00:00"),
      null.asInstanceOf[java.sql.Timestamp])).toDF("st", "et"))
    val got7 = SweepLine.dailyPeakConcurrency(withNull.repartition(7),
      "st", "et").collect().map(_.getLong(4)).toSeq
    assert(got7 == got.map(_._5).toSeq)
    // the HOUR-nested path (day 1 has 9 deltas, its densest hour 4 —
    // threshold 4 trips the day check but not the hour check) returns
    // the SAME five-column rows — carry_in semantics and all
    val gotHour = SweepLine.dailyPeakConcurrency(withNull, "st", "et", 4L)
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gotHour.toSeq == got.toSeq)
    // and the MINUTE-nested path (r18: threshold 0 trips the hot-hour
    // check too, recursing to per-(day,hour,minute) windows) — same rows
    val gotMinute = SweepLine.dailyPeakConcurrency(withNull, "st", "et", 0L)
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gotMinute.toSeq == got.toSeq)
  }

  test("poisson bootstrap: exact draws, sane mass, partition-invariant CI") {
    import graft.operators.{Bootstrap => Bs}
    val df = (1L to 2000L).map(i => (i, "g", (i % 7).toInt))
      .toDF("id", "grp", "v")
    // multiplicity matches the driver-side md5 replay of the thresholds
    val drawn = df.limit(5).withColumn("m", Bs.multiplicity($"id", lit(3)))
      .select($"id", $"m").as[(Long, Long)].collect()
    for ((id, m) <- drawn) {
      val u = graft.functions.Md5Word32Expression.word32(
        s"$id:3".getBytes("UTF-8")) % 1000000L
      assert(m == Bs.Thresholds.count(t => u >= t), s"id=$id u=$u")
    }
    // Poisson(1): total replica mass ~ n, mean multiplicity ~ 1
    val means = Bs.replicaMeans(df, "id", "grp", "v", b = 32)
    val ms = means.select($"mean_scaled").as[Long].collect()
    assert(ms.length == 32)
    // every replica mean lands near the true mean 3 (=3000000 scaled)
    assert(ms.forall(m => m > 2800000L && m < 3200000L), ms.take(5).toSeq)
    val ci = Bs.percentileCi(means, "grp").collect().head
    val (lo, hi) = (ci.getAs[Long]("lo_scaled"), ci.getAs[Long]("hi_scaled"))
    assert(lo <= hi && ci.getAs[Long]("n_replicas") == 32L)
    assert(lo == ms.sorted.apply(1) && hi == ms.sorted.apply(30)) // ceil ranks 2/31
    // the whole chain is a pure function of (key, replica): partitioning
    // can't move a single interval endpoint
    val ci7 = Bs.percentileCi(
      Bs.replicaMeans(df.repartition(7), "id", "grp", "v", 32), "grp")
      .collect().head
    assert(ci7.getAs[Long]("lo_scaled") == lo
      && ci7.getAs[Long]("hi_scaled") == hi)
  }

  test("k-anonymity: class sizes, suppression flag, partition-invariant") {
    import graft.operators.Privacy
    // classes: (a,1)x5, (a,2)x2, (b,1)x1 -> with k=3 only (a,1) survives
    val rows = Seq.fill(5)(("a", 1)) ++ Seq.fill(2)(("a", 2)) ++ Seq(("b", 1))
    val df = rows.zipWithIndex.map { case ((s, b), i) => (i.toLong, s, b) }
      .toDF("id", "seg", "bucket")
    val got = Privacy.kAnonymity(df, Seq("seg", "bucket"), k = 3)
    val bySize = got.select($"seg", $"bucket", $"class_size", $"suppressed")
      .distinct().as[(String, Int, Long, Boolean)].collect().toSet
    assert(bySize == Set(("a", 1, 5L, false), ("a", 2, 2L, true),
      ("b", 1, 1L, true)))
    // k = 1 suppresses nothing; flags survive any input partitioning
    assert(Privacy.kAnonymity(df, Seq("seg", "bucket"), k = 1)
      .filter($"suppressed").count() == 0)
    val got7 = Privacy.kAnonymity(df.repartition(7), Seq("seg", "bucket"), 3)
      .select($"id", $"suppressed").as[(Long, Boolean)].collect().toSet
    assert(got7 == got.select($"id", $"suppressed")
      .as[(Long, Boolean)].collect().toSet)
    intercept[IllegalArgumentException] {
      Privacy.kAnonymity(df, Seq.empty, k = 3)
    }
  }

  test("budget select: rank order, tie-break, inclusive budget boundary") {
    // rank order (score DESC, id ASC): 3 (90), then the 80-tie broken by
    // id (1 before 5), then 2. totals: 50, 80, 110, 210.
    val docs = Seq(
      (1L, 30L, 80L), (2L, 100L, 10L), (3L, 50L, 90L), (5L, 30L, 80L),
      (9L, 0L, 999L) // zero-token row: excluded from selection AND budget
    ).toDF("id", "n_tokens", "score")
    def sel(num: Long, den: Long, ranges: Int = 4) =
      Sampling.budgetSelect(docs, "id", "n_tokens", "score", num, den, ranges)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // budget 210/2 = 105: id5's cum 110 crosses -> only 3 and 1 kept
    assert(sel(1, 2) == Map(3L -> 50L, 1L -> 80L))
    // budget 210*11/21 = 110 EXACTLY: inclusive boundary keeps id5
    assert(sel(11, 21) == Map(3L -> 50L, 1L -> 80L, 5L -> 110L))
    // the two-level decomposition is invisible: 1 range == many ranges,
    // and input partitioning can't change the selection
    assert(sel(11, 21, ranges = 1) == sel(11, 21, ranges = 16))
    assert(Sampling.budgetSelect(docs.repartition(7), "id", "n_tokens",
        "score", 11, 21).collect().map(r => r.getLong(0) -> r.getLong(3))
      .toMap == sel(11, 21))
    // empty corpus -> empty selection, not a crash
    assert(Sampling.budgetSelect(docs.filter($"id" < 0), "id", "n_tokens",
      "score", 1, 2).count() == 0)
  }

  test("split leakage: exact crossing counts; cluster-rep policy leaks zero") {
    import graft.operators.{ConnectedComponents, Dedup}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val assign = Seq((1L, "train"), (2L, "eval"), (3L, "train"),
      (10L, "train"), (11L, "train"), (99L, "eval")).toDF("id", "split")
    val got = Dedup.splitLeakage(pairs, "id_a", "id_b", assign, "id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(got == ((3L, 2L, 0L)), s"1-2 and 2-3 cross, 10-11 does not: $got")
    // coverage contract (ADVICE r17): a pair endpoint missing from the
    // assignment must surface in n_unmatched, never silently shrink the
    // denominator — n_pairs + n_unmatched == input pair count
    val drifted = Dedup.splitLeakage(pairs, "id_a", "id_b",
        assign.filter($"id" =!= 3L && $"id" =!= 10L), "id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(drifted == ((1L, 1L, 2L)),
      s"pairs 2-3 (b missing) and 10-11 (a missing) must count unmatched: $drifted")
    // the cluster-representative invariant: ANY split that is a pure
    // function of the component representative leaks zero pairs
    val byRep = ConnectedComponents.dedupClusters(pairs, "id_a", "id_b")
      .select($"id", when($"representative" % 2 === 0, "train")
        .otherwise("eval").as("split"))
    val rep = Dedup.splitLeakage(pairs, "id_a", "id_b", byRep, "id", "split")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(rep == ((3L, 0L)), s"rep-keyed split must never cross: $rep")
  }

  test("weighted bottom-k: exact priorities, weight clamp, mergeable") {
    import graft.functions.Md5Word32Expression
    val rows = (1L to 200L).map(i => (i, (i % 13) + 1))
    val df = rows.toDF("id", "w")
    // driver-side replay of the exact contract: the k-smallest
    // (md5word32(id)*1e6 div w, id) pairs
    def prio(id: Long, w: Long) =
      Md5Word32Expression.word32(id.toString.getBytes("UTF-8")) * 1000000L / w
    val want = rows.map { case (i, w) => (prio(i, w), i) }.sorted.take(10)
      .map { case (p, i) => (i, p) }
    val got = Sampling.weightedBottomK(df, "id", "w", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == want, "bottom-k set or order diverged from replay")
    // mergeable sketch property: bottom-k(full) == bottom-k of the two
    // halves' bottom-ks unioned — the one-pass-at-any-sharding claim
    val half1 = Sampling.weightedBottomK(df.filter($"id" <= 100), "id", "w", 10)
    val half2 = Sampling.weightedBottomK(df.filter($"id" > 100), "id", "w", 10)
    val merged = Sampling.weightedBottomK(
      half1.unionByName(half2).withColumnRenamed("weight", "w")
        .select($"id", $"w"), "id", "w", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(merged.toSeq == want, "bottom-k lost mergeability")
    // weight <= 0 clamps to 1 (never divides by zero, never wins by
    // sign inversion); partition count is invisible
    val clamped = Sampling.weightedBottomK(
      Seq((1L, 0L), (2L, -5L), (3L, 10L)).toDF("id", "w"), "id", "w", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clamped(1L) == 1L && clamped(2L) == 1L && clamped(3L) == 10L)
    assert(Sampling.weightedBottomK(df.repartition(7), "id", "w", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq == want)
  }
}
