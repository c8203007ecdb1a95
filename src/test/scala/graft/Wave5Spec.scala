package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bfs, Constraints, PageRank, Profile}

/** Wave-5 operators: constraint suite, BFS, skew profile, and the
  * PageRank overflow guard. The constraint tests PLANT violations — the
  * oracle only ever sees the clean corpus, so firing behavior needs a
  * dirty fixture. */
class Wave5Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("constraints fire on planted violations and pass on clean data") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val childDirty = Seq(1L, 1L, 2L, 99L).toDF("fk") // 99 is an orphan
    val dupKeys = Seq(1L, 2L, 2L, 3L, 3L, 3L).toDF("k")
    val ranged = Seq(0.5, 10.0, 60.0, 25.0).toDF("v") // 2 out of [1, 50]
    val got = Constraints.report(Seq(
        Constraints.uniqueness(dupKeys, "k_unique", "k"),
        Constraints.referential(childDirty, "fk", parent, "pk", "fk_parent"),
        Constraints.violations(ranged, Seq(
          "v_in_range" -> (col("v") < 1.0 || col("v") > 50.0),
          "v_nonnull" -> col("v").isNull))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(got("k_unique") == (3L, false))  // 6 rows - 3 distinct
    assert(got("fk_parent") == (1L, false)) // the orphan 99
    assert(got("v_in_range") == (2L, false))
    assert(got("v_nonnull") == (0L, true))
  }

  test("bfs levels: hand-replayed hop distances, unreached nodes absent") {
    // path 1→2→3→4→5 plus a disconnected 10→11; seeds {1}, 3 rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = EdgeLoops.bfsLevels(edges, "src", "dst", seeds, "id", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // node 5 is 4 hops out, 10/11 disconnected: none appear
  }

  test("skew profile: exact counts and top-key share") {
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b", "c", "d")).toDF("k")
    val r = Profile.keySkew(df, "t.k", "k").collect()(0)
    assert(r.getString(0) == "t.k")
    assert(r.getLong(1) == 10L && r.getLong(2) == 5L && r.getLong(3) == 6L)
    assert(r.getDouble(4) == 0.6)
  }

  test("pagerank rejects token scales a hub could overflow") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    // 2 nodes x initTokens x dampNum must stay under 2^63: 5e18 x 85 blows
    val e = intercept[IllegalArgumentException] {
      EdgeLoops.pageRank(edges, "src", "dst", iterations = 1,
        initTokens = 5000000000000000000L, dampNum = 85L, dampDen = 100L)
    }
    assert(e.getMessage.contains("overflow"))
    // and the default scale still works on the same graph
    assert(EdgeLoops.pageRank(edges, "src", "dst", iterations = 1)
      .count() == 2L)
  }

  test("autoInitTokens: cap for small graphs, safe scale-down for large") {
    // under ~108k nodes the cap keeps the historical 10^12 resolution,
    // so the AutoTokens default changes nothing for existing graphs
    assert(PageRank.autoInitTokens(2L) == 1000000000000L)
    assert(PageRank.autoInitTokens(100000L) == 1000000000000L)
    // beyond the cap boundary: largest 100-multiple under the bound
    for (n <- Seq(200000L, 6000000L, 10000000000L)) {
      val tok = PageRank.autoInitTokens(n)
      assert(tok > 0 && tok % 100L == 0)
      assert(n <= Long.MaxValue / 85L / tok)              // no hub overflow
      assert(n > Long.MaxValue / 85L / (tok + 100L))      // and maximal
    }
    // a TPC-H sf1-sized part graph (~200k nodes) now auto-fits
    assert(PageRank.autoInitTokens(200000L) == 542551296200L)
  }
}
