package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SkewSalt

/** Specs for the second analytics wave (QueriesAnalytics + SkewSalt.saltedJoin). */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------------
  // saltedJoin
  // ------------------------------------------------------------------
  test("saltedJoin result set equals the plain inner join") {
    val fact = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d"), (1, "e"))
      .toDF("k", "payload")
    val build = Seq((1, "x"), (2, "y"), (9, "unmatched")).toDF("bk", "tag")
    val plain = fact.join(build, $"k" === $"bk")
      .select($"k", $"payload", $"tag").collect().toSet
    val salted = SkewSalt.saltedJoin(fact, build, "k", "bk", numSalts = 4)
      .select($"k", $"payload", $"tag").collect().toSet
    assert(salted == plain)
    assert(salted.size == 4) // 3 rows of k=1 + 1 row of k=2
  }

  test("saltedJoin is invariant to input partitioning (salt nondeterminism is benign)") {
    val fact = spark.range(0, 1000).select(
      (col("id") % 7).as("k"), col("id").as("payload"))
    val build = spark.range(0, 7).select(col("id").as("bk"),
      concat(lit("t"), col("id")).as("tag"))
    val a = SkewSalt.saltedJoin(fact, build, "k", "bk", numSalts = 8)
      .groupBy($"tag").count().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = SkewSalt.saltedJoin(fact.repartition(13), build, "k", "bk", numSalts = 3)
      .groupBy($"tag").count().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("saltedJoin emits no duplicate or dropped rows under numSalts = 1") {
    val fact = Seq((1, "a"), (2, "b")).toDF("k", "p")
    val build = Seq((1, "x"), (2, "y")).toDF("bk", "t")
    assert(SkewSalt.saltedJoin(fact, build, "k", "bk", numSalts = 1).count() == 2)
  }

  // ------------------------------------------------------------------
  // q29 — exact-sum moment statistics vs Spark's built-in estimators
  // ------------------------------------------------------------------
  test("statsSummary matches built-in var_samp/stddev_samp/corr to 1e-9") {
    val got = QueriesAnalytics.statsSummary(spark, sf)
      .select($"l_returnflag", $"var_qty", $"std_qty", $"corr_qty_disc")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val ref = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(var_samp($"l_quantity").as("v"), stddev_samp($"l_quantity").as("s"),
        corr($"l_quantity", $"l_discount").as("c"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == ref.keySet)
    for ((k, (v, s, c)) <- got) {
      val (rv, rs, rc) = ref(k)
      assert(math.abs(v - rv) <= 1e-9 * math.max(1.0, math.abs(rv)), s"var($k)")
      assert(math.abs(s - rs) <= 1e-9 * math.max(1.0, math.abs(rs)), s"std($k)")
      assert(math.abs(c - rc) <= 1e-9, s"corr($k)")
    }
  }

  // ------------------------------------------------------------------
  // q60 — trigram repetition vs a brute-force reference
  // ------------------------------------------------------------------
  test("trigram counts match a brute-force sliding window") {
    val docs = Seq(
      (1L, "a b c a b c a b c"),       // heavy repetition
      (2L, "the quick brown fox"),     // all distinct
      (3L, "x y"),                     // fewer than 3 tokens → 0 trigrams
      (4L, "solo")
    ).toDF("doc_id", "text")
    val got = QueriesAnalytics.trigramStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct_trigrams"))
      .as[(Long, Int, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    def brute(s: String): (Int, Int) = {
      val t = s.split(" ")
      val tris = t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      (tris.size, tris.distinct.size)
    }
    assert(got(1L) == brute("a b c a b c a b c")) // (7, 3)
    assert(got(2L) == brute("the quick brown fox"))
    assert(got(3L) == (0, 0))
    assert(got(4L) == (0, 0))
  }

  // ------------------------------------------------------------------
  // q63 — argmax-by-struct equals the window-based argmax
  // ------------------------------------------------------------------
  test("max(struct) argmax agrees with row_number argmax, ties to larger key") {
    val df = Seq(
      (1, 101L, 50.0), (1, 102L, 70.0), (1, 103L, 70.0), // tie on 70.0
      (2, 201L, 10.0)
    ).toDF("g", "k", "v")
    val got = df.groupBy($"g")
      .agg(max(struct($"v", $"k")).as("m"))
      .select($"g", $"m.k").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 103L, 2 -> 201L)) // tie → larger k
  }

  // ------------------------------------------------------------------
  // q64 — unpivot shape: 3 bucket rows per status, counts preserved
  // ------------------------------------------------------------------
  test("unpivot emits one row per (status, bucket) and preserves totals") {
    val out = QueriesAnalytics.unpivotBuckets(spark, sf)
    val statuses = Tables.orders(spark, sf).select($"o_orderstatus").distinct().count()
    assert(out.count() == statuses * 3)
    val total = out.agg(sum($"n_orders")).as[Long].head()
    assert(total == Tables.orders(spark, sf).count())
  }

  // ------------------------------------------------------------------
  // q27 — cube grouping-set accounting
  // ------------------------------------------------------------------
  test("cube emits all four grouping-set families with a consistent grand total") {
    val out = QueriesAnalytics.cubeQuantities(spark, sf).collect()
    val byFlags = out.groupBy(r => (r.getInt(0), r.getInt(1)))
    assert(byFlags.keySet == Set((0, 0), (0, 1), (1, 0), (1, 1)))
    val grand = byFlags((1, 1)).map(_.getAs[Long]("n_rows")).sum
    val detail = byFlags((0, 0)).map(_.getAs[Long]("n_rows")).sum
    assert(byFlags((1, 1)).length == 1)
    assert(grand == detail)
    assert(grand == Tables.lineitem(spark, sf).count())
  }

  // ------------------------------------------------------------------
  // q58 — the window keeps the correlated subquery's NULL semantics
  // ------------------------------------------------------------------
  test("q58 above-average orders: a NULL customer key matches no customer") {
    // the SQL spec's `o2.o_custkey = o.o_custkey` never matches NULL, so a
    // NULL-key order is never above average. Customer 1 averages 200.
    val dir = java.nio.file.Files.createTempDirectory("graft_q58")
    Seq((1L, Option(1L), 100.0, "1-URGENT"), (2L, Option(1L), 300.0, "1-URGENT"),
      (3L, None, 500.0, "2-HIGH"), (4L, None, 50.0, "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val got = QueriesAnalytics.correlatedAboveAvg(spark, dir.toString).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("1-URGENT", 1L, 300.0)))
  }

  // ------------------------------------------------------------------
  // q66 — multimodal metadata is a pure function of the payload (the
  // decode pipeline stays deterministic across repartitioning)
  // ------------------------------------------------------------------
  test("multimodal metadata is repartition-invariant") {
    val payloads = operators.Multimodal.payloadFromText(
      Tables.documents(spark, sf), "doc_id", "source", "text")
    val a = operators.Multimodal.decodeFeatures(payloads)
      .select($"media_id", $"width", $"height", $"channels", $"format")
      .collect().map(_.toSeq).toSet
    val b = operators.Multimodal.decodeFeatures(payloads, partitions = 7)
      .select($"media_id", $"width", $"height", $"channels", $"format")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }
}
