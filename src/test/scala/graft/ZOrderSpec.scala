package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MortonCodeExpression
import graft.operators.ZOrder

/** Z-order layout: Morton-kernel bit exactness, row-set invariance, and
  * the clustering-power claim (per-partition spans tight on BOTH
  * dimensions, vs a lexicographic sort that only serves its leading
  * column). */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("morton interleave is bit-exact") {
    import MortonCodeExpression.interleave
    assert(interleave(0, 0) == 0L)
    assert(interleave(1, 0) == 1L)          // bit i of a → bit 2i
    assert(interleave(0, 1) == 2L)          // bit i of b → bit 2i+1
    assert(interleave(0xFFFF, 0) == 0x55555555L)
    assert(interleave(0, 0xFFFF) == 0xAAAAAAAAL)
    assert(interleave(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
    // z-curve locality: adjacent cells differ in low bits only
    assert(interleave(2, 3) == (interleave(3, 3) ^ 1L))
    // out-of-range inputs clamp to the 16-bit domain
    assert(interleave(-5, 70000) == interleave(0, 0xFFFF))
  }

  test("morton_code over a column: codegen matches interpreted") {
    import MortonCodeExpression.mortonCode
    // literal arguments fold at plan time (interpreted eval)
    val folded = spark.range(1).select(mortonCode(lit(65535), lit(0)).as("z"))
    assert(!folded.queryExecution.optimizedPlan.toString.contains("morton"))
    assert(folded.head().getLong(0) == 0x55555555L)
    // non-literal path (exercises doGenCode over a column)
    val got = Seq((1, 0), (0, 1), (0xFFFF, 0xFFFF)).toDF("a", "b")
      .repartition(1).select(mortonCode($"a", $"b").as("z"))
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 0xFFFFFFFFL))
  }

  test("zorderBy preserves the exact row multiset") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val z = ZOrder.zorderBy(li, "l_extendedprice", "l_quantity", 4)
    assert(z.count() == li.count())
    assert(z.exceptAll(li).isEmpty && li.exceptAll(z).isEmpty)
    assert(z.columns.toSeq == li.columns.toSeq) // __graft_z dropped
  }

  test("z-order clusters BOTH dimensions tighter than a lexicographic sort") {
    // 64x64 grid in random row order: x and y are independent, so a
    // lexicographic (x, y) range layout gives tight x spans but each
    // partition sees (nearly) the full y range.
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select((col("id") / n).cast("int").as("x"),
        (col("id") % n).cast("int").as("y"))
    def spanSum(df: org.apache.spark.sql.DataFrame, dim: String): Double =
      df.withColumn("p", spark_partition_id())
        .groupBy(col("p")).agg((max(col(dim)) - min(col(dim))).as("span"))
        .agg(sum(col("span"))).head().getLong(0).toDouble

    val parts = 16
    val zed = ZOrder.zorderBy(grid, "x", "y", parts)
    val lex = grid.repartitionByRange(parts, col("x"), col("y"))

    val (zx, zy) = (spanSum(zed, "x"), spanSum(zed, "y"))
    val (lx, ly) = (spanSum(lex, "x"), spanSum(lex, "y"))
    // lexicographic: y spans are ~full-range in every partition
    assert(ly >= parts * (n - 1) * 0.9, s"lex y-span $ly unexpectedly tight")
    // z-order: BOTH dimensions well under half the lexicographic y cost
    assert(zy <= ly / 2, s"z-order y-span $zy not < half of lex $ly")
    assert(zx <= ly / 2, s"z-order x-span $zx not < half of lex $ly")
  }
}
