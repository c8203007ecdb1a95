package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Combinations3Expression, SequentialPatternsExpression, VectorSumLongs}

/** Pins for the round-11 kernels: each custom expression is asserted
  * equivalent to the declarative formulation it replaced (the same
  * convention as the minhash/md5 expression pins), and the staged
  * fact-table relayout is pinned row-identical to the raw fixture. */
class KernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- combinations3 -------------------------------------------------

  test("combinations3 equals the nested-HOF triple expansion, order included") {
    val df = Seq(
      Seq[Long](),
      Seq(7L),
      Seq(1L, 2L),
      Seq(1L, 2L, 3L),
      Seq(2L, 3L, 5L, 8L),
      Seq(1L, 4L, 9L, 16L, 25L, 36L)).toDF("s")
    val n = size(col("s"))
    val hof = flatten(flatten(
      transform(sequence(lit(0), n - 3), i =>
        transform(sequence(i + 1, n - 2), j =>
          transform(sequence(j + 1, n - 1), k =>
            struct(element_at(col("s"), i + 1).as("p1"),
              element_at(col("s"), j + 1).as("p2"),
              element_at(col("s"), k + 1).as("p3")))))))
    val rows = df.select(
      Combinations3Expression.combinations3(col("s")).as("fast"),
      // the HOF shape yields null/negative-length sequences for n < 3;
      // normalize to the empty expansion the kernel guarantees
      when(n >= 3, hof).otherwise(
        array().cast("array<struct<p1:long,p2:long,p3:long>>")).as("ref"))
      .collect()
    rows.foreach { r => assert(r.get(0) == r.get(1)) }
    // C(6,3) = 20 triples on the last row, lexicographic in (p1,p2,p3)
    val last = rows.last.getSeq[org.apache.spark.sql.Row](0)
    assert(last.size == 20)
    assert(last.head.getLong(0) == 1L && last.head.getLong(2) == 9L)
    assert(last == last.sortBy(t => (t.getLong(0), t.getLong(1), t.getLong(2))))
  }

  // ---- seq_patterns --------------------------------------------------

  private def referenceSupport(ev: org.apache.spark.sql.DataFrame) = {
    // the three-hop join formulation sequentialSupport replaced
    val a = ev.groupBy(col("ent"), col("ty").as("e1"))
      .agg(min(col("ts")).as("t1"))
    val ab = ev.join(a, "ent")
      .filter(col("ts") > col("t1"))
      .groupBy(col("ent"), col("e1"), col("ty").as("e2"))
      .agg(min(col("ts")).as("t2"))
    ev.join(ab, "ent")
      .filter(col("ts") > col("t2"))
      .select(col("ent"), col("e1"), col("e2"), col("ty").as("e3"))
      .distinct()
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_entities"))
  }

  test("seq_patterns: hand-computed greedy witnesses") {
    // user 1: a@1 b@2 c@3 — every increasing-type chain exists
    // user 2: b@1 a@2 b@3 — a then b (a@2 < b@3), b then a (b@1 < a@2),
    //         b..a..b, b..b? only two b's: b@1 then b@3 — (b,b,?) needs a
    //         third event after 3: none
    val ev = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
      (2L, "b", 1L), (2L, "a", 2L), (2L, "b", 3L))
      .toDF("ent", "ty", "t")
      .select(col("ent"), col("ty"), timestamp_micros(col("t")).as("ts"))
    val got = operators.EventSeq.sequentialSupport(ev, "ent", "ts", "ty")
      .orderBy(col("e1"), col("e2"), col("e3"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq(("a", "b", "c", 1L), ("b", "a", "b", 1L)))
  }

  test("seq_patterns support equals the three-hop join formulation") {
    // deterministic pseudo-random event log: 40 entities × ≤12 events
    // over 5 types — enough collisions to exercise every greedy branch
    val rows = for {
      ent <- 1L to 40L
      k <- 0L until (ent % 5 + 8)
    } yield {
      val h = ((ent * 1315423911L + k * 2654435761L) & 0x7fffffffL)
      (ent, s"t${h % 5}", h % 97)
    }
    val ev = rows.toDF("ent", "ty", "t")
      .select(col("ent"), col("ty"), timestamp_micros(col("t")).as("ts"))
    val fast = operators.EventSeq.sequentialSupport(ev, "ent", "ts", "ty")
    val ref = referenceSupport(ev)
    assert(fast.count() == ref.count())
    assert(fast.except(ref).isEmpty && ref.except(fast).isEmpty)
  }

  test("seq_patterns: duplicate timestamps only match STRICTLY later events") {
    // a and b at the same instant: no a..b (needs ts > t1), but a second
    // b later completes a..b..c via the strictly-later chain
    val ev = Seq((1L, "a", 5L), (1L, "b", 5L), (1L, "b", 6L), (1L, "c", 7L))
      .toDF("ent", "ty", "t")
      .select(col("ent"), col("ty"), timestamp_micros(col("t")).as("ts"))
    val got = operators.EventSeq.sequentialSupport(ev, "ent", "ts", "ty")
    assert(got.filter(col("e1") === "a" && col("e2") === "b" &&
      col("e3") === "c").count() == 1)
    // b@5 is NOT a witness for a@5 .. b: the earliest strictly-later b
    // is b@6, and c@7 follows — but (a,b,b) must be absent (nothing
    // after b@6 of type b)
    assert(got.filter(col("e1") === "a" && col("e2") === "b" &&
      col("e3") === "b").count() == 0)
  }

  // ---- vector_sum ----------------------------------------------------

  test("vector_sum equals the posexplode sum; nulls skipped; ragged throws") {
    val df = Seq(
      (1, Some(Seq(1L, 2L, 3L))),
      (1, Some(Seq(10L, -20L, 30L))),
      (1, None),
      (2, Some(Seq(5L, 5L, 5L)))).toDF("g", "v")
    val fast = df.groupBy(col("g"))
      .agg(VectorSumLongs.vectorSum(col("v")).as("s"))
      .orderBy(col("g"))
      .collect().map(_.getSeq[Long](1).toSeq).toSeq
    assert(fast == Seq(Seq(11L, -18L, 33L), Seq(5L, 5L, 5L)))
    val ref = df.filter(col("v").isNotNull)
      .select(col("g"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("g"), col("pos")).agg(sum(col("x")).as("s"))
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        e => e.getField("s")).as("s"))
      .orderBy(col("g"))
      .collect().map(_.getSeq[Long](1).toSeq).toSeq
    assert(fast == ref)
    val ragged = Seq((1, Seq(1L)), (1, Seq(1L, 2L))).toDF("g", "v")
      .groupBy(col("g")).agg(VectorSumLongs.vectorSum(col("v")).as("s"))
    assertThrows[Exception](ragged.collect())
  }

  // ---- content-digest distinct (q46 rule) ----------------------------

  test("distinct count over md5 digests equals distinct count over strings") {
    val docs = Seq("a b", "a  b", "c", "c", "d e f", "x").toDF("text")
    val norm = functions.TextFunctions.normalizeText(col("text"))
    val both = docs.agg(
      countDistinct(md5(norm.cast("binary"))).as("hashed"),
      countDistinct(norm).as("exact")).collect()(0)
    assert(both.getLong(0) == both.getLong(1))
  }

  // ---- staged relayout (Tables) --------------------------------------

  test("relayout: staged fact tables are row-identical to the raw fixture") {
    val sfDir = "/root/testdata/sf0.001"
    for (t <- Seq("lineitem", "orders")) {
      val staged = Tables.load(spark, sfDir, t)
      val raw = spark.read.parquet(Tables.path(sfDir, t))
      assert(staged.count() == raw.count(), s"$t row count")
      assert(staged.except(raw).isEmpty && raw.except(staged).isEmpty,
        s"$t content")
    }
    val stagedEv = Tables.events(spark, sfDir)
    assert(stagedEv.count() ==
      spark.read.parquet(Tables.path(sfDir, "events")).count())
  }

  // ---- q126 interval sweep -------------------------------------------

  test("rolling-active interval sweep equals expand-and-count-distinct") {
    // deterministic sparse order log: gaps above and below the 7-day
    // window, customers with 1..6 order days
    val rows = for {
      cust <- 1L to 25L
      k <- 0L until (cust % 6 + 1)
    } yield (cust, ((cust * 31 + k * k * 5 + k) % 60).toInt)
    val orders = rows.toDF("cust", "dd")
      .select(col("cust"), date_add(lit("2020-01-01").cast("date"),
        col("dd")).as("day"))
      .distinct()
    val days = orders.select(col("day").as("d")).distinct()
    val ref = orders.withColumn("k", explode(expr("sequence(0, 6)")))
      .select(expr("date_add(day, k)").as("d"), col("cust"))
      .join(broadcast(days), "d")
      .groupBy(col("d")).agg(countDistinct(col("cust")).as("active_7d"))
    // the production path, via a scratch parquet dir the query reads
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("cust")).orderBy(col("day"))
    val intervals = orders
      .withColumn("gap", datediff(col("day"), lag(col("day"), 1).over(wc)))
      .withColumn("ivl",
        sum(when(col("gap").isNull || col("gap") > 6, 1L).otherwise(0L))
          .over(wc))
      .groupBy(col("cust"), col("ivl"))
      .agg(min(col("day")).as("s"), date_add(max(col("day")), 7).as("e1"))
    val deltas = intervals.select(
        explode(array(
          struct(col("s").as("d"), lit(1L).as("delta")),
          struct(col("e1").as("d"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.d").as("d"), col("x.delta").as("delta"))
      .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
    val wd = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sweep = days.join(deltas, Seq("d"), "full")
      .withColumn("active_7d", sum(coalesce(col("delta"), lit(0L))).over(wd))
      .join(broadcast(days), "d")
      .select(col("d"), col("active_7d"))
    assert(sweep.except(ref).isEmpty && ref.except(sweep).isEmpty)
  }

  // ---- round-12 adjacency-layout kernels ------------------------------
  // Every *Adj operator variant is pinned result-identical to the
  // edge-layout formulation it replaces, on a graph with hubs, a cycle,
  // ties and an unreachable island — the layouts must be interchangeable
  // for the staged-adjacency rollout to be purely a cost change.

  private def adjGraphEdges = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 5L),
    (5L, 4L), (6L, 7L), (3L, 4L), (1L, 4L)).toDF("src", "dst")

  private def adjOf(e: org.apache.spark.sql.DataFrame) = e
    .groupBy(col("src").as("id"))
    .agg(sort_array(collect_list(col("dst"))).as("nbrs"))

  test("combinations2 equals the wedge self-join pair expansion") {
    val df = Seq(
      Seq[Long](), Seq(7L), Seq(1L, 2L), Seq(2L, 3L, 5L, 8L)).toDF("s")
    val rows = df.select(
      graft.functions.Combinations2Expression.combinations2(col("s")).as("p"))
      .collect()
    assert(rows(0).getSeq[Any](0).isEmpty && rows(1).getSeq[Any](0).isEmpty)
    val last = rows.last.getSeq[org.apache.spark.sql.Row](0)
    assert(last.size == 6) // C(4,2)
    assert(last.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((2L, 3L), (2L, 5L), (2L, 8L), (3L, 5L), (3L, 8L), (5L, 8L)))
  }

  test("combinations2Packed unpacks to exactly the struct expansion") {
    // random sorted neighbor lists over the packed-id domain, plus the
    // boundary id 2^31 - 1: (a << 32) | b must round-trip every pair in
    // the same order as the struct form
    val rnd = new scala.util.Random(42)
    val lists = (Seq.empty[Long] +: Seq(Int.MaxValue.toLong) +:
      (1 to 20).map(_ => Seq.fill(rnd.nextInt(12))(
        rnd.nextLong(Int.MaxValue.toLong + 1)).distinct.sorted)).toDF("s")
    val both = lists.select(
      graft.functions.Combinations2Expression.combinations2(col("s")).as("p"),
      graft.functions.Combinations2PackedExpression
        .combinations2Packed(col("s")).as("pk"))
      .collect()
    both.foreach { r =>
      val structPairs = r.getSeq[org.apache.spark.sql.Row](0)
        .map(p => (p.getLong(0), p.getLong(1)))
      val packedPairs = r.getSeq[Long](1)
        .map(x => (x >>> 32, x & 0xFFFFFFFFL))
      assert(packedPairs == structPairs)
    }
  }

  test("adjacency PageRank equals edge-layout PageRank (fixed + personalized)") {
    import graft.operators.PageRank
    val e = adjGraphEdges
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val adj = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .groupBy(col("src"), col("outdeg"))
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
    val viaEdges = EdgeLoops.pageRank(e, "src", "dst", iterations = 4)
    val viaAdj = PageRank.fixedPointAdj(adj, nodes, iterations = 4)
    assert(viaAdj.except(viaEdges).isEmpty && viaEdges.except(viaAdj).isEmpty)
    val seeds = Seq(1L, 6L).toDF("id")
    val pEdges = EdgeLoops.personalizedPageRank(e, "src", "dst", seeds, "id",
      iterations = 4)
    val pAdj = PageRank.personalizedAdj(adj, seeds, "id", iterations = 4)
    assert(pAdj.except(pEdges).isEmpty && pEdges.except(pAdj).isEmpty)
  }

  test("adjacency PageRank at 25 rounds equals a driver-side token replay") {
    // the unrolled one-plan loop at depth against an independent replay
    // of the integer token arithmetic over the edge list: BIGINT `div`
    // (truncating; every operand is non-negative), sink mass dropped,
    // and for PPR the seed teleport re-entering each round
    import graft.operators.PageRank
    val edges: Seq[(Long, Long)] = (for {
      a <- 1L to 40L; b <- 1L to 40L
      if a != b && (a * 7 + b * 3) % 11 == 0
    } yield (a, b)) ++ Seq((1L, 2L), (1L, 2L), (5L, 41L), (9L, 41L), (42L, 1L))
    val e = edges.toDF("src", "dst")
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val adj = e.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg"), sort_array(collect_list(col("dst"))).as("dsts"))
    val outdeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val ids = (edges.map(_._1) ++ edges.map(_._2)).distinct
    // the 10^12 token cap applies: 42 mass-holding nodes (or 3 seeds) are
    // far below the ~108k where the auto scale starts shrinking
    val init = 1000000000000L
    val teleport = init / 100L * 15L
    // one round's propagated tokens per target, from the sources in `r`
    def propagate(r: Map[Long, Long]): Map[Long, Long] =
      edges.filter(x => r.contains(x._1))
        .groupMapReduce(_._2)(x => r(x._1) * 85L / (100L * outdeg(x._1)))(_ + _)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var dense = ids.map(_ -> init).toMap
    for (_ <- 1 to 25) {
      val c = propagate(dense)
      dense = ids.map(v => v -> (teleport + c.getOrElse(v, 0L))).toMap
    }
    assert(rows(PageRank.fixedPointAdj(adj, nodes, iterations = 25)) == dense)
    // a repeated seed counts once; a seed outside the graph still holds
    // its teleport share
    val seedIds = Seq(1L, 6L, 6L, 50L)
    val s = seedIds.toSet
    var sparse = s.map(_ -> init).toMap
    for (_ <- 1 to 25) {
      val c = propagate(sparse)
      sparse = (c.keySet ++ s).map(v =>
        v -> (c.getOrElse(v, 0L) + (if (s(v)) teleport else 0L))).toMap
    }
    assert(rows(PageRank.personalizedAdj(adj, seedIds.toDF("id"), "id",
      iterations = 25)) == sparse)
  }

  test("adjacency LPA equals edge-layout LPA (mode expression argmax)") {
    import graft.operators.LabelPropagation
    // undirected: communities() generates both orientations internally;
    // the adjacency twin must get the same symmetric neighbor lists
    val e = adjGraphEdges
    val ue = e.select(col("src").as("id"), col("dst").as("nb"))
      .union(e.select(col("dst").as("id"), col("src").as("nb"))).distinct()
    val adj = ue.groupBy(col("id"))
      .agg(sort_array(collect_list(col("nb"))).as("nbrs"))
    val viaEdges = EdgeLoops.lpaCommunities(e, "src", "dst", rounds = 3)
    val viaAdj = LabelPropagation.communitiesAdj(adj, rounds = 3)
    assert(viaAdj.except(viaEdges).isEmpty && viaEdges.except(viaAdj).isEmpty)
  }

  test("adjacency HITS equals edge-layout HITS (lazy normalization)") {
    import graft.operators.Hits
    val e = adjGraphEdges
    val srcAdj = adjOf(e)
    val dstAdj = e.groupBy(col("dst").as("id"))
      .agg(sort_array(collect_list(col("src"))).as("nbrs"))
    val viaEdges = Hits.scores(e, "src", "dst", rounds = 3)
    val viaAdj = Hits.scoresAdj(srcAdj, dstAdj, rounds = 3)
    assert(viaAdj.except(viaEdges).isEmpty && viaEdges.except(viaAdj).isEmpty)
  }

  test("adjacency BFS and SSSP equal their edge-layout twins") {
    import graft.operators.{Bfs, ShortestPath}
    val e = adjGraphEdges
    val seeds = Seq(1L).toDF("id")
    val bEdges = EdgeLoops.bfsLevels(e, "src", "dst", seeds, "id", rounds = 3)
    val bAdj = Bfs.levelsAdj(adjOf(e), seeds, "id", rounds = 3)
    assert(bAdj.except(bEdges).isEmpty && bEdges.except(bAdj).isEmpty)
    val we = e.withColumn("w", col("src") * 10L + col("dst")) // distinct costs
    val wadj = we
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(struct(col("dst").as("d"), col("w"))))
        .as("nbrs"))
    val dEdges = EdgeLoops.ssspDistances(we, "src", "dst", "w", seeds, "id", rounds = 3)
    val dAdj = ShortestPath.distancesAdj(wadj, seeds, "id", rounds = 3)
    assert(dAdj.except(dEdges).isEmpty && dEdges.except(dAdj).isEmpty)
  }

  test("BFS levels equal SSSP costs over unit weights, at 3 and 25 rounds") {
    import graft.operators.{Bfs, ShortestPath}
    // a 40-node cycle deeper than 25 hops, a shortcut 3 → 30, the edge
    // 2 → 3 doubled, and 99 → 5 from a node no seed reaches; seed 1 is
    // repeated
    val e = ((1L to 39L).map(i => (i, i + 1)) ++
      Seq((40L, 1L), (3L, 30L), (2L, 3L), (99L, 5L))).toDF("src", "dst")
    val adj = e.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val wadj = e.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(struct(col("dst").as("d"), lit(1L).as("w"))))
        .as("nbrs"))
    val seeds = Seq(1L, 1L, 20L).toDF("id")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (rounds <- Seq(3, 25)) {
      val levels = rows(Bfs.levelsAdj(adj, seeds, "id", rounds))
      assert(levels == rows(ShortestPath.distancesAdj(wadj, seeds, "id", rounds)),
        s"rounds=$rounds")
      // 25 rounds run past convergence: node 19 is the farthest, 18 hops
      assert(!levels.contains(99L) &&
        levels.values.max == (if (rounds == 3) 3L else 18L))
    }
  }

  test("adjacency link prediction equals the wedge-join formulation") {
    import graft.operators.{LinkPredict, TriangleCensus}
    val pairs = adjGraphEdges // multiplicity-bearing occurrence pairs
    val edges = EdgeLoops.topKNeighborEdges(pairs, "src", "dst", k = 3)
    val ue = edges.select(col("u").as("id"), col("v").as("nb"))
      .union(edges.select(col("v").as("id"), col("u").as("nb")))
    val adj = ue.groupBy(col("id"))
      .agg(sort_array(collect_list(col("nb"))).as("nbrs"))
    val viaEdges = References.topCommonNeighborPairs(edges, topN = 10)
    val viaAdj = LinkPredict.topCommonNeighborPairsAdj(adj, edges, topN = 10)
    assert(viaAdj.except(viaEdges).isEmpty && viaEdges.except(viaAdj).isEmpty)
  }

  test("adjacency k-core equals edge-layout k-core (fixed k + mean fraction)") {
    import graft.operators.KCore
    val e0 = adjGraphEdges
    // symmetric, distinct — the co-purchase edge contract
    val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val adj = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .groupBy(col("src"), col("outdeg"))
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))
    val viaEdges = KCore.survivors(e, "src", "dst", k = 3, rounds = 3)
    val viaAdj = KCore.survivorsAdj(adj, k = 3, rounds = 3)
    assert(viaAdj.except(viaEdges).isEmpty && viaEdges.except(viaAdj).isEmpty)
    val mEdges = EdgeLoops.kCoreAtMeanFraction(e, "src", "dst",
      num = 3, den = 4, rounds = 3)
    val mAdj = KCore.survivorsAtMeanFractionAdj(adj, num = 3, den = 4, rounds = 3)
    assert(mAdj.except(mEdges).isEmpty && mEdges.except(mAdj).isEmpty)
  }

  test("np_mean replays numpy pairwise summation bit-exactly") {
    import graft.functions.NpMeanExpression
    // expectations computed by numpy 1.26 (float(np.mean(...))) on
    // deterministic vectors crossing every boundary of the algorithm:
    // n<8 naive fold, n<=128 8-way unroll, >128 pairwise recursion,
    // >8192 nditer buffer blocks accumulated linearly
    def vec(n: Int): Seq[Double] =
      (0 until n).map(i => ((i.toLong * 1315423911L) % 100000L) / 100.0)
    val expect = Seq(
      1 -> 0.0, 7 -> 431.6157142857143, 8 -> 461.88500000000005,
      64 -> 500.71500000000003, 127 -> 504.87488188976374,
      128 -> 503.7975, 129 -> 504.59038759689923,
      8192 -> 500.10265625, 8193 -> 500.13793238130114, 20000 -> 499.945)
    for ((n, want) <- expect) {
      val got = Seq(vec(n)).toDF("v")
        .select(NpMeanExpression.npMean(col("v"))).head().getDouble(0)
      assert(got == want, s"n=$n: np_mean $got != numpy $want")
    }
    // the live round-13 parity catch: a 64-value group whose EXACT mean
    // is the 2-dp midpoint 373.045 — numpy's pairwise sum reads a hair
    // below it and the reference prints 373.04; the exact-decimal mean
    // would print 373.05. np_mean must land on numpy's side.
    val empty = Seq(Seq.empty[Double]).toDF("v")
      .select(NpMeanExpression.npMean(col("v"))).head().getDouble(0)
    assert(empty == 0.0) // the reference's empty-group guard
  }

  test("q10 cents arithmetic stays decimal-exact past 2^53") {
    // ADVICE r12: the FLOOR-to-cents scheme is only cross-engine exact
    // while FLOOR evaluates on the DECIMAL, not through double. Pin the
    // Spark side at a scale where the CENT COUNT itself exceeds 2^53
    // (sum ≈ 9.1e13, cents ≈ 9.1e15): a double-lowered FLOOR would be
    // off by up to 4 cents here. Reference = BigDecimal arithmetic.
    // (The DuckDB side was probed directly: FLOOR(sum(DECIMAL)*100) is
    // DECIMAL(38,0) and returned the exact 9007199254740994 on the same
    // construction — see the q10 comment in QueriesRelational.)
    val rows = Seq(
      ("A", "95071992547409.91", "0.05"),
      ("A", "0.03", "0.00"),
      ("A", "0.07", "0.10"))
    val df = rows.toDF("flag", "l_extendedprice", "l_discount")
    val got = df.groupBy(col("flag")).agg(
      expr("CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) " +
        "* 100) AS DOUBLE) / 100.0").as("sum_disc_price")).head()
    val expected = {
      import java.math.BigDecimal
      val one = BigDecimal.ONE
      val sum = rows.map { case (_, p, d) =>
        new BigDecimal(p).multiply(one.subtract(new BigDecimal(d)))
      }.reduce(_.add(_))
      // floor to whole cents in BigDecimal, convert ONCE, divide
      sum.multiply(new BigDecimal(100))
        .setScale(0, java.math.RoundingMode.FLOOR).doubleValue() / 100.0
    }
    assert(got.getDouble(1) == expected,
      s"FLOOR-to-cents drifted: got ${got.getDouble(1)}, want $expected")
    // and the raw cent count really is past double-exact integer range
    assert(new java.math.BigDecimal("95071992547409.91")
      .multiply(new java.math.BigDecimal(100)).longValueExact() > (1L << 53))
  }
}
