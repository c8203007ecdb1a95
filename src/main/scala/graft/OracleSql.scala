package graft

/** Shared DuckDB oracle fragments.
  *
  * Percentiles: several linear-interpolation formulas circulate and they
  * differ at the last ULP (see functions/NpPercentile for the numpy
  * story). What matters for the DuckDB-hash oracles is the pair
  * actually being compared:
  *
  *  - Spark's builtin `percentile` (the crossEngineExact KPI tier and
  *    every oracle-gated exact-percentile query) — Spark 4.1's
  *    `Percentile.getPercentile`, verified live at r17: return the raw
  *    value when floor/ceil virtual indexes land inside one distinct
  *    value's count range (the duplicate short-circuit), else the
  *    INTEGER-ANCHORED two-product form
  *    `(ceil(pos) − pos)·a + (pos − floor(pos))·b`;
  *  - DuckDB's `quantile_cont`: fraction-anchored two products
  *    `(1−t)·a + t·b`.
  *
  * The two agree on every group the sf0.01/sf0.1/sf1 gates produced,
  * which let `quantile_cont` sit in the oracles for 16 rounds — then
  * the sf10 replica's ~74k-row groups hit a == b == 112.77 with
  * t ≈ 0.1, where Spark's short-circuit returns EXACTLY a but DuckDB's
  * fraction-anchored sum rounds to 112.77000000000001 (r17, q01 row
  * 105). A formula that merely agrees on small data is not an oracle;
  * these fragments replay Spark's arithmetic verbatim, one IEEE op at
  * a time. (numpy's `a + (b−a)·t` branch family is a THIRD arithmetic —
  * it belongs only in NpPercentile's reference-parity outputs, never in
  * a builtin-percentile oracle.)
  */
object OracleSql {

  /** Scalar expr: Spark-builtin-percentile over an already-SORTED
    * DuckDB list expression `lv` at probability `p` (a SQL literal like
    * "0.9").
    *
    * Spark's `Percentile` aggregates a (distinct value -> count) map:
    * when the floor and ceil virtual indexes land inside the SAME
    * distinct value's count range it returns that value EXACTLY — no
    * interpolation, so a run of duplicates at the cut yields the raw
    * data value (the sf10 case: a == b == 112.77 where any two-product
    * formula rounds to ...001). Otherwise it interpolates
    * `(higher − pos)·a + (pos − lower)·b` with higher/lower the
    * ceil/floor INTEGERS — note `higher − pos` is NOT the same double
    * as `1 − (pos − lower)` (the 1−t subtraction can round where the
    * integer-anchored one is exact), so the replay must subtract from
    * ceil(pos), exactly as Spark does. Verified against both observed
    * ULP cases (sf0.01 row 12, sf10 row 105). */
  def percentileSql(lv: String, p: String): String = {
    val pos = s"(CAST($p AS DOUBLE) * CAST(len($lv) - 1 AS DOUBLE))"
    val a = s"$lv[CAST(floor($pos) AS BIGINT) + 1]"
    val b = s"$lv[least(CAST(ceil($pos) AS BIGINT) + 1, len($lv))]"
    s"(CASE WHEN $a = $b THEN $a " +
      s"ELSE (ceil($pos) - $pos) * $a + ($pos - floor($pos)) * $b END)"
  }

  /** List expr: [[percentileSql]] at several probabilities — the
    * replacement for `quantile_cont(x, [p1, p2, ...])` cut lists. */
  def percentileListSql(lv: String, ps: Seq[String]): String =
    ps.map(p => percentileSql(lv, p)).mkString("[", ", ", "]")

  /** The sorted-list builder the fragments expect: aggregate `x` (nulls
    * dropped, matching quantile_cont's null handling) into a sorted
    * DuckDB list. */
  def sortedListSql(x: String): String =
    s"list_sort(list($x) FILTER (WHERE $x IS NOT NULL))"
}
