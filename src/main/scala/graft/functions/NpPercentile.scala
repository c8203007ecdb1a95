package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bit-exact replay of `np.percentile(values, p, method="linear")` — the
  * reference's p90 contract (calcular_kpi.py:39-44).
  *
  * Three linear-interpolation formulas are floating around and they differ
  * at the last ULP:
  *
  *  - numpy `_lerp` (lib/function_base.py): `a + (b-a)·t` for t < 0.5 but
  *    `b - (b-a)·(1-t)` for t ≥ 0.5 (the branch improves numerical
  *    symmetry);
  *  - DuckDB's `quantile_cont`: `(1-t)·a + t·b` (two products);
  *  - Spark's builtin `Percentile` (4.1, verified live at r17): a
  *    duplicate short-circuit (floor/ceil indexes inside one distinct
  *    value's count range → return that value raw), else the
  *    INTEGER-anchored two-product form
  *    `(ceil(pos)-pos)·a + (pos-floor(pos))·b` — a third arithmetic,
  *    distinct from both of the above. It agreed with `quantile_cont`
  *    on every group size the sf≤1 gates produced, then diverged by
  *    1 ULP at the sf10 replica's 74k-row groups (a == b, t ≈ 0.1:
  *    the short-circuit returns exactly a; quantile_cont's two
  *    fraction-anchored products round up) — which is why the DuckDB
  *    oracles now replay Spark's arithmetic explicitly
  *    (graft.OracleSql.percentileSql) instead of trusting
  *    `quantile_cont` to match.
  *
  * The difference is invisible until an interpolated value lands exactly on
  * a 2-decimal rounding midpoint: then `py_round` flips the printed digit
  * and the cell-for-cell reference-parity gate fails (observed live:
  * lo=746.21, hi=746.66, t=0.1 → numpy 746.25499…994 rounds to 746.25,
  * two-product 746.25500…001 rounds to 746.26). Reference-faithful
  * outputs must therefore interpolate exactly as numpy does.
  *
  * All-builtin Column arithmetic (size/floor/element_at/when) — stays
  * inside whole-stage codegen; no UDF. */
object NpPercentile {

  /** numpy's virtual index and `_lerp` over an already-SORTED (ascending)
    * non-empty array column. Empty arrays yield 0.0 — the reference's
    * empty-group guard (calcular_kpi.py:44). */
  def ofSorted(sorted: Column, p: Double): Column = {
    val n = size(sorted)
    // virtual index t·(n−1): same double product as numpy's
    // `quantiles * (n - 1)` (IEEE multiply is commutative)
    val pos = (n - lit(1)).cast("double") * lit(p)
    val i = floor(pos).cast("int")
    val t = pos - floor(pos)
    val a = element_at(sorted, i + lit(1))
    val b = element_at(sorted, least(i + lit(2), n))
    when(n === 0, lit(0.0))
      .when(t >= 0.5, b - (b - a) * (lit(1.0) - t))
      .otherwise(a + (b - a) * t)
  }
}
