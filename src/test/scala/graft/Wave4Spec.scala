package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{EventSeq, IntCluster, PageRank, Sampling}

/** Wave-4 operators: fixed-point PageRank, event-sequence analytics,
  * integer clustering, √-temperature mixing. The recurring assertion is
  * REPRODUCIBILITY: the integer formulations must give bit-identical
  * results under any input partitioning (the property float variants
  * can't promise on a cluster). */
class Wave4Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("Spark `div` truncates toward zero — the cross-engine contract") {
    // DuckDB's `//` truncates toward zero (verified: -7 // 2 = -3); the
    // integer operators lean on both engines agreeing for negative sums
    val r = spark.sql("SELECT -7 div 2 AS a, 7 div 2 AS b").collect()(0)
    assert(r.getLong(0) == -3L && r.getLong(1) == 3L)
  }

  test("pagerank: hub of a star graph collects the spokes' mass exactly") {
    // 2→1, 3→1, 4→1, 1→2 (so node 1 has an out-edge; 3 and 4 are
    // teleport-only after round 1)
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = EdgeLoops.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact replay of the token semantics: r1 = T + Σ floor(85·r0/(100·deg))
    val T = 150000000000L; val init = 1000000000000L
    def c(r: Long) = r * 85L / 100L // outdeg 1 everywhere here
    val r1 = Map(1L -> (T + 3 * c(init)), 2L -> (T + c(init)),
      3L -> T, 4L -> T)
    val want = Map(
      1L -> (T + c(r1(2L)) + c(r1(3L)) + c(r1(4L))),
      2L -> (T + c(r1(1L))), 3L -> T, 4L -> T)
    assert(got == want)
    // the 1↔2 cycle oscillates round to round; the teleport-only spokes
    // are strictly below both cycle members
    assert(got(3L) < got(1L) && got(3L) < got(2L) && got(3L) == got(4L))
  }

  test("pagerank is bit-identical under repartitioning") {
    val edges = (1L to 200L).map(i => (i, i * 7 % 97 + 1)).toDF("src", "dst")
    val a = EdgeLoops.pageRank(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = EdgeLoops.pageRank(edges.repartition(13), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("personalized pagerank: mass stays in the seed component, exact tokens") {
    // 1→2 plus a disconnected 3→4; seed {1}. Node 2 is a sink (mass
    // dropped), nodes 3/4 never receive anything and stay absent.
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = EdgeLoops.personalizedPageRank(edges, "src", "dst", seeds, "id",
        iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val T = 150000000000L
    // r1 = {1: T, 2: 85% of 1e12}; r2 = {1: T, 2: 85% of T}
    assert(got == Map(1L -> T, 2L -> T * 85L / 100L))
    val again = EdgeLoops.personalizedPageRank(edges.repartition(5), "src", "dst",
        seeds, "id", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("event funnel: stages only count strictly after the previous stage") {
    val events = Seq(
      // user 1 converts in order: reaches 3
      (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
      // user 2's purchase PRECEDES the click: stalls at 2
      (2L, ts(10), "view"), (2L, ts(15), "purchase"), (2L, ts(20), "click"),
      // user 3 never clicks: stalls at 1
      (3L, ts(10), "view"), (3L, ts(20), "purchase"),
      // user 4 never views: not a funnel entrant at all
      (4L, ts(10), "click"), (4L, ts(20), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val got = EventSeq.funnel(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("markov transitions: lag pairs, counts, and source-state shares") {
    val events = Seq(
      (1L, ts(1), 101L, "view"), (1L, ts(2), 102L, "click"),
      (1L, ts(3), 103L, "view"), (2L, ts(1), 201L, "view"),
      (2L, ts(2), 202L, "click"), (2L, ts(3), 203L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = EventSeq.transitions(events, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("view", "click")) == (2L, 1.0))          // view always → click
    assert(got(("click", "view")) == (1L, 0.5))          // click splits 50/50
    assert(got(("click", "purchase")) == (1L, 0.5))
    assert(!got.contains(("purchase", "view")))          // no cross-user pair
  }

  test("integer kmeans separates well-split code blobs and is deterministic") {
    // blob A near (100, 100, …), blob B near (-100, -100, …)
    val vecs = ((0L to 9L).map(i => (i, Array.fill(8)(100 + i.toInt % 3)))
      ++ (10L to 19L).map(i => (i, Array.fill(8)(-100 - i.toInt % 3))))
      .toDF("vec_id", "codes")
    val got = IntCluster.kmeans(vecs, "vec_id", "codes", k = 2, iterations = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // seeds are ids 0 and 1 (both blob A) — the round-2 update must pull
    // one centroid across to blob B
    assert(byCluster.values.toSet ==
      Set((0L to 9L).toSet, (10L to 19L).toSet))
    val again = IntCluster.kmeans(vecs.repartition(7), "vec_id", "codes",
      k = 2, iterations = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("centroid outliers: top decile by exact distance, count div 10") {
    // 20 members at the centroid, 2 far away → decile size 2, both flagged
    val vecs = ((1L to 20L).map(i => (i, "g", Array.fill(4)(10)))
      ++ Seq((21L, "g", Array.fill(4)(90)), (22L, "g", Array.fill(4)(80))))
      .toDF("vec_id", "label", "codes")
    val got = IntCluster.centroidOutliers(vecs, "vec_id", "label", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val flagged = got.filter(_._3).map(_._1).toSet
    assert(flagged == Set(21L, 22L))
    // centroid = (20·10 + 90 + 80) div 22 = 16 per dim → dist² exact
    val d21 = got.find(_._1 == 21L).get._2
    assert(d21 == 4L * (90 - 16) * (90 - 16))
  }

  test("dup spans: planted cross-doc span, short-doc dup, periodic self-dup") {
    val docs = Seq(
      // docs 1/2 share the 10-token span "c d e f g h i j k l" → three
      // consecutive dup 8-windows → span 3+7 = 10
      (1L, "a b c d e f g h i j k l"),
      (2L, "x y c d e f g h i j k l"),
      (3L, "p q r s t u v w z9"),          // no duplication anywhere
      (4L, "tiny doc"), (5L, "tiny doc"),  // short exact dup: whole-text window
      // 16 tokens with period 8: windows 0 and 8 are equal but NOT
      // consecutive → max run 1 → span 8
      (6L, "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8")
    ).toDF("doc_id", "text")
    val got = graft.operators.DupSpans.report(docs, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == (12L, 5L, 3L, 10L))
    assert(got(2L) == (12L, 5L, 3L, 10L))
    assert(got(3L) == (9L, 2L, 0L, 0L))
    assert(got(4L) == (2L, 1L, 1L, 2L))   // span capped at doc length
    assert(got(6L) == (16L, 9L, 2L, 8L))
  }

  test("dup spans: hashed scale tier reports exactly as the md5/string tier") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
    val fast = graft.operators.DupSpans.report(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    val slow = graft.operators.DupSpans
      .report(docs, "doc_id", "text", 8, hashed = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(fast.toSeq == slow.toSeq)
  }

  test("label propagation: synchronous rounds with min-label ties, exact replay") {
    // two triangles bridged by 3–10; hand-replayed 4 synchronous rounds
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("u", "v")
    val got = EdgeLoops.lpaCommunities(edges, "u", "v", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    val again = EdgeLoops.lpaCommunities(edges.repartition(5), "u", "v", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("sketch merge: union-signature property and slot-agreement estimate") {
    val docs = Seq(
      ("g1", (1 to 50).map(i => s"w$i").mkString(" ")),
      ("g1", (40 to 90).map(i => s"w$i").mkString(" ")),
      // g2 duplicates g1's documents exactly → identical merged sketch
      ("g2", (1 to 50).map(i => s"w$i").mkString(" ")),
      ("g2", (40 to 90).map(i => s"w$i").mkString(" ")),
      ("g3", (1 to 60).map(i => s"x$i").mkString(" "))) // unrelated
      .toDF("source", "text")
    val sigs = graft.operators.Dedup.minHashSignatures(docs, "source", "text")
    val merged = graft.operators.SketchMerge
      .mergedSignatures(sigs, "source", "sig")
    // merged signature == elementwise min of the member signatures
    val bySrc = sigs.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq.transpose.map(_.min)).toMap
    val got = merged.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got == bySrc.toMap)
    val est = graft.operators.SketchMerge
      .pairwiseEstimates(merged, "source", "sig")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(est(("g1", "g2"))._1 == est(("g1", "g2"))._2) // identical: all slots agree
    assert(est(("g1", "g3"))._1 == 0L)                   // disjoint shingles
  }

  test("triangle census: ordered-edge identity counts each triangle once") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    // edge and an isolated 6-7 edge (in no triangle)
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val pairs = (k4 ++ Seq((4L, 5L), (6L, 7L)))
      .toDF("src", "dst")
    val edges = EdgeLoops.topKNeighborEdges(pairs, "src", "dst", k = 10)
    val got = graft.operators.TriangleCensus.perNodeTriangles(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // top-1 sparsification keeps only each node's strongest neighbor:
    // with all multiplicities 1 the tiebreak is the smallest id, so node
    // 1's edges to 2 plus everyone's fallback to 1 → a star, no triangle
    val sparse = EdgeLoops.topKNeighborEdges(pairs, "src", "dst", k = 1)
    assert(graft.operators.TriangleCensus
      .perNodeTriangles(sparse).count() == 0)
  }

  test("sqrt-temperature targets: exact integer math, draw hits targets") {
    val df = ((1L to 900L).map(i => (i, "big"))
      ++ (901L to 1000L).map(i => (i, "small"))).toDF("doc_id", "source")
    val t = Sampling.sqrtTemperatureTargets(df, "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // Σn = 1000, T = 500; w = (30, 10), Σw = 40 → targets (375, 125→100 cap)
    assert(t("big") == (900L, 30L, 375L))
    assert(t("small") == (100L, 10L, 100L))
    val targets = Sampling.sqrtTemperatureTargets(df, "source")
    val kept = Sampling.temperatureMixSample(df, "source", "doc_id", targets)
    val counts = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Lehmer acceptance is per-row pseudo-uniform: expect within ~15%
    assert(math.abs(counts("big") - 375L) < 60)
    // target == n_before ⟹ acceptance `lehmer < M` is vacuous: keeps ALL
    assert(counts("small") == 100L)
    // partitioning-invariance of the accepted set
    val again = Sampling.temperatureMixSample(df.repartition(11), "source",
      "doc_id", targets).select("doc_id").as[Long].collect().sorted
    assert(again.toSeq ==
      kept.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("lateness profile: running-max regression, exact buckets, carry rules") {
    // user 1 arrival order (seq): ts walks 100, 250, 240, 249, 40 —
    // latenesses 0, 0, 10, 1, 210 (vs running max 250)
    val ev = Seq(
      (1L, 100L, 1L), (1L, 250L, 2L), (1L, 240L, 3L), (1L, 249L, 4L),
      (1L, 40L, 5L),
      (2L, 500L, 1L), (2L, 501L, 2L)) // user 2: fully ordered
      .map { case (u, sec, seq) =>
        (u, new java.sql.Timestamp(sec * 1000L), seq) }
      .toDF("user", "ts", "seq")
    val got = EventSeq.latenessProfile(ev, "user", "ts", Seq("seq"),
        Seq(1L, 60L, 300L))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0, "on_time", 4L, 0L, 4L),          // 100, 250, 500, 501
      (1, "(0s,1s]", 1L, 1000000L, 5L),    // the 249 (1s behind 250)
      (2, "(1s,60s]", 1L, 10000000L, 6L),  // the 240 (10s behind)
      (3, "(60s,300s]", 1L, 210000000L, 7L))) // the 40 (210s behind)
    // partitioning can't change a bucket count
    val got7 = EventSeq.latenessProfile(ev.repartition(7), "user", "ts",
      Seq("seq"), Seq(1L, 60L, 300L)).collect().map(_.getLong(2)).toSeq
    assert(got7 == got.map(_._3).toSeq)
    intercept[IllegalArgumentException] {
      EventSeq.latenessProfile(ev, "user", "ts", Seq("seq"), Seq(60L, 1L))
    }
  }

  test("JL sign projection: exact linear map, partition-invariant") {
    import graft.operators.Projection
    // the sign contract matches the md5 hex chain the oracle replays
    for ((i, j) <- Seq((0, 0), (3, 7), (63, 15))) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      val want = if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
      assert(Projection.sign(i, j) == want, s"sign($i,$j)")
    }
    val d = 8; val k = 4
    val vecs = Seq(
      (1L, Array(1, -2, 3, 0, 5, -1, 2, 7)),
      (2L, Array(1, -2, 3, 0, 5, -1, 2, 7)), // exact duplicate of 1
      (3L, Array(-1, 2, -3, 0, -5, 1, -2, -7)), // negation of 1
      (4L, Array(100, 90, -80, 70, -60, 50, -40, 30))
    ).toDF("id", "codes")
    val proj = Projection.signProject(vecs, "codes", d, k)
      .select($"id", $"proj").as[(Long, Seq[Long])].collect().toMap
    // hand-compute row 1 against the driver-side sign function
    val expect1 = (0 until k).map(j =>
      (0 until d).map(i => Seq(1, -2, 3, 0, 5, -1, 2, 7)(i).toLong
        * Projection.sign(i, j)).sum)
    assert(proj(1L) == expect1)
    assert(proj(2L) == proj(1L))                 // duplicate -> same image
    assert(proj(3L) == proj(1L).map(-_))          // linearity: -v -> -Pv
    assert(Projection.signProject(vecs.repartition(3), "codes", d, k)
      .select($"id", $"proj").as[(Long, Seq[Long])].collect().toMap == proj)
    // sqDist: exact integer L2; a planted duplicate is top-1 in BOTH
    // spaces with distance 0
    val dd = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.id" === 1L && $"b.id" === 2L)
      .select(Projection.sqDist(col("a.codes"), col("b.codes")).as("o"))
      .as[Long].head()
    assert(dd == 0L)
    intercept[IllegalArgumentException] {
      Projection.signProject(vecs, "codes", d, d + 1)
    }
  }
}
