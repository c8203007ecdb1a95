package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `ArrayType(Double/Float)` embedding columns.
  *
  * The hot kernels (cosine, l2², hyperplane bucket) are native codegen'd
  * expressions ([[VectorExpressions]]) — Spark's `zip_with`/`aggregate`
  * lambdas evaluate INTERPRETED (one boxed call per element), which is the
  * wrong shape for the innermost loop of 100 TB similarity search. Each
  * kernel performs the identical left-to-right IEEE operation sequence as
  * the fold it replaces (parity-asserted in PipelineOpsSpec), so results
  * stay deterministic and engine-portable (DuckDB's list kernels fold the
  * same way).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ as a double left fold (cold path: kept on HOFs for reference;
    * the ANN operators use the fused [[cosineSimilarity]] kernel). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** cosine(a,b) = dot/(‖a‖·‖b‖) — dot / (na*nb) exactly like DuckDB's
    * list_cosine_similarity so ranking is cross-engine stable. Native
    * one-pass kernel. */
  def cosineSimilarity(a: Column, b: Column): Column =
    VectorExpressions.cosineSim(a, b)

  /** Squared euclidean distance (native kernel). */
  def l2Sq(a: Column, b: Column): Column =
    VectorExpressions.l2Sq(a, b)

  /** Random-hyperplane (SimHash) bucket id over `nPlanes` planes: bit i is
    * the sign of the projection of the embedding onto pseudo-random ±1
    * plane i. Vectors in the same bucket are likely cosine-close. Native
    * one-pass kernel over all planes. */
  def hyperplaneBucket(emb: Column, nPlanes: Int): Column =
    VectorExpressions.hyperplaneBucket(emb, nPlanes)
}
