package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - bruteForceKnn: exact cosine top-k. The query set is broadcast; the
  *    corpus streams through one codegen'd projection (dot products via
  *    zip_with/aggregate), then a per-query top-k window. Cost O(|corpus|
  *    × |queries|) — the correctness baseline, and the right tool whenever
  *    the query set is small (broadcast side), even at 100 TB corpus.
  *  - lshKnn: random-hyperplane bucketing (16-bit SimHash of the embedding)
  *    — corpus and queries are bucketed once and candidates only meet
  *    inside a bucket (plus optional multi-probe neighbors), turning the
  *    cross join into a bucket-equality join. Recall < 1, bounded by the
  *    plane count; the scale path.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (qid, rank, neighbor_id, cosine). */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).cast("array<double>").as("emb"))
    val q = queries.select(col(idCol).as("qid"),
      col(embCol).cast("array<double>").as("qemb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"),
        VectorFunctions.cosineSimilarity(col("emb"), col("qemb")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.select(col("qid"), col("neighbor_id"), col("cosine"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** Top-k cosine over int8-QUANTIZED codes (operators/Quantize) — the
    * search half of the quantize→search path: 4x less data scanned per
    * probe and integer dot products. Every dot term is ≤ 127² and a
    * 128-dim sum stays far below 2^53, so the integer arithmetic is
    * EXACT even through double cosine math — unlike float-embedding
    * cosine, the result is bit-reproducible cross-engine and q73
    * hash-checks it against a DuckDB replay. Zero vectors (all-zero
    * codes) score cosine 0. Same output shape as [[bruteForceKnn]]. */
  def int8Knn(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    def norm2(c: Column): Column = aggregate(
      transform(c, v => v * v), lit(0L), (acc, v) => acc + v.cast("long"))
      .cast("double")
    // codes AND the squared norm are per-vector: compute both ONCE per
    // row before the cross join, so each of the O(|corpus| x |queries|)
    // pairs pays only the dot product
    def codes(df: DataFrame, idAs: String, codesAs: String,
        normAs: String): DataFrame =
      Quantize.withCodes(
          df.select(col(idCol).as(idAs), col(embCol)), embCol)
        .select(col(idAs), col("codes").as(codesAs),
          norm2(col("codes")).as(normAs))
    val dot = aggregate(
      zip_with(col("c_codes"), col("q_codes"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v.cast("long")).cast("double")
    val scored = codes(corpus, "neighbor_id", "c_codes", "c_n2")
      .crossJoin(broadcast(codes(queries, "qid", "q_codes", "q_n2")))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"),
        when(col("c_n2") > 0 && col("q_n2") > 0,
          dot / sqrt(col("c_n2") * col("q_n2")))
          .otherwise(0.0).as("qcos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    scored.select(col("qid"), col("neighbor_id"), col("qcos"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each anchor, the
    * k most-similar vectors with a DIFFERENT label — the "looks right,
    * isn't" examples that make the best negatives (the in-batch-negatives
    * upgrade every dual-encoder recipe ships). Same plan shape as
    * [[bruteForceKnn]] (anchors broadcast, corpus streams once, per-pair
    * label-mismatch filter before scoring, per-anchor top-k window); for
    * corpus×corpus mining swap the broadcast for the [[lshKnn]] bucketed
    * screen with the same mismatch predicate.
    * Output: (qid, rank, neighbor_id, neighbor_label). */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"),
      col(embCol).cast("array<double>").as("emb"))
    val q = queries.select(col(idCol).as("qid"),
      col(labelCol).as("q_label"),
      col(embCol).cast("array<double>").as("qemb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_label") =!= col("q_label"))
      .select(col("qid"), col("neighbor_id"), col("neighbor_label"),
        VectorFunctions.cosineSimilarity(col("emb"), col("qemb")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.select(col("qid"), col("neighbor_id"), col("neighbor_label"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed approximate top-k: same output shape as bruteForceKnn but
    * only pairs sharing a hyperplane bucket are scored. */
  def lshKnn(
      corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bucket = VectorFunctions.hyperplaneBucket(col("emb"), nPlanes)
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("bucket", bucket)
    val q = queries.select(col(idCol).as("qid"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("bucket", bucket)
      .withColumnRenamed("emb", "qemb")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"),
        VectorFunctions.cosineSimilarity(col("emb"), col("qemb")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.select(col("qid"), col("neighbor_id"), col("cosine"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) approximate knn — the coarse-quantizer scale path:
    * a KMeans codebook partitions the corpus into `nCentroids` cells; each
    * query probes only its `nProbe` nearest cells, so the scored candidate
    * set is ~|corpus|·nProbe/nCentroids instead of |corpus|.
    *
    * Index build (KMeans fit) is a one-off driver-coordinated job — at
    * 100 TB you train on a sample and persist the codebook + cell
    * assignments; serving is the cell-equality join below. Recall is
    * bounded by nProbe/nCentroids; identical vectors always land in the
    * query's first probe cell.
    *
    * This is the index build, the OFFLINE half (probe: [[ivfKnnProbe]]),
    * so callers can stage it (operators/Staging) instead of re-fitting the
    * coarse quantizer on every query call: index construction is a
    * one-off batch job in any real ANN deployment, and re-running 8
    * KMeans passes per probe query was the dominant per-call cost.
    *
    * Returned as ONE frame so a stage write is a single atomic parquet
    * dir: assignment rows (`neighbor_id`, `cell`, `emb`) plus codebook
    * rows encoded with `neighbor_id` NULL and `emb` = the centroid.
    * [[ivfKnnProbe]] splits them back on `neighbor_id IS NULL`. */
  def ivfIndex(
      corpus: DataFrame, nCentroids: Int = 16,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(embCol).cast("array<double>").as("emb"))
    // persist the featurized corpus across the k-means iterations: every
    // iteration re-reads it, so without this each pass re-runs the scan +
    // array_to_vector (at index-build scale you'd persist the training
    // sample the same way — MEMORY_AND_DISK, released right after fit)
    val fe = c.withColumn("features", array_to_vector(col("emb"))).cache()
    // coarse quantizer: random init (k-means|| costs extra full passes for
    // init quality IVF doesn't need) and a bounded iteration budget — cell
    // boundaries only gate candidate recall, not result correctness
    val model = new KMeans().setK(nCentroids).setSeed(42L)
      .setInitMode("random").setMaxIter(8).setTol(1e-3)
      .setFeaturesCol("features").setPredictionCol("cell").fit(fe)
    // release after fit: the one-shot downstream transform re-derives its
    // input from the scan; the cache existed for the 8 fit passes
    fe.unpersist(blocking = false)
    val assigned = model.transform(fe).select(
      col("neighbor_id"), col("cell"), col("emb"))
    val idType = assigned.schema("neighbor_id").dataType
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }.toSeq.toDF("cell", "emb")
      .select(lit(null).cast(idType).as("neighbor_id"), col("cell"),
        col("emb"))
    assigned.unionByName(centroids)
  }

  /** Probe-time half of the IVF knn over a pre-built (possibly staged)
    * [[ivfIndex]] frame. */
  def ivfKnnProbe(
      index: DataFrame, queries: DataFrame, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = index.filter(col("neighbor_id").isNotNull)
    // centroid table as plain arrays, broadcast to rank probe cells per query
    val centroids = index.filter(col("neighbor_id").isNull)
      .select(col("cell"), col("emb").as("centroid"))
    val q = queries.select(col(idCol).as("qid"),
      col(embCol).cast("array<double>").as("qemb"))
    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("cell"))
    val probes = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qemb"), col("cell"),
        VectorFunctions.l2Sq(col("qemb"), col("centroid")).as("dist"))
      .select(col("qid"), col("qemb"), col("cell"),
        row_number().over(probeW).as("probe_rank"))
      .filter(col("probe_rank") <= nProbe)
      .select(col("qid"), col("qemb"), col("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"),
        VectorFunctions.cosineSimilarity(col("emb"), col("qemb")).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.select(col("qid"), col("neighbor_id"), col("cosine"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
  }

  /** Exact cosine of CANDIDATE pairs only — the verification half of an
    * embedding screen→verify pipeline, mirroring
    * Dedup.shingleJaccardOnCandidates for vectors. The candidate table
    * carries ids only; the vectors of the TOUCHED ids (and only those)
    * are gathered back from the corpus by a broadcast semi-join, then
    * each pair is scored with the exact cosine. At 100-TB embedding
    * scale this is the shape that keeps the heavy payload out of the
    * screen shuffle: the band exchange moves (band, key, id) triples —
    * 3 longs per row — and the vectors move once, candidate-bounded,
    * in the gather. */
  def cosineOnCandidates(
      corpus: DataFrame, candidates: DataFrame, minCosine: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // pin the candidate plan: it is referenced three times below (both
    // arms of the touched-id union + the output pair join) and without a
    // pin each reference re-executes the whole upstream screen. The pin
    // is deliberately KEPT live (not released as an anchor of the outer
    // finish) so a warm re-invocation at a different threshold reuses
    // the screen — the same two-pin policy as
    // Dedup.shingleJaccardOnCandidates; both entries are screen-sized
    // (bounded by the candidate population), not corpus-sized.
    val pairs = graft.operators.LoopCache.finish(
      candidates.select(col("id_a"), col("id_b")).distinct())
    val touched = pairs.select(col("id_a").as("vn_id"))
      .unionByName(pairs.select(col("id_b").as("vn_id")))
      .distinct()
    // candidate-touched ids are small relative to the corpus (that is
    // the point of the screen): broadcast the semi-join so the vector
    // scan never shuffles
    val members = corpus
      .join(broadcast(touched), col(idCol) === col("vn_id"), "left_semi")
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"))
    graft.operators.LoopCache.finish(pairs
      .join(members.select(col("id").as("id_a"), col("emb").as("emb_a")),
        Seq("id_a"))
      .join(members.select(col("id").as("id_b"), col("emb").as("emb_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSimilarity(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= minCosine))
  }

  /** All-pairs within-threshold cosine over embedding-LSH buckets —
    * embedding-based near-duplicate detection (the "embedding cosine
    * near-dup" dedup tier). The bucket join carries ids only; vectors are
    * gathered candidate-bounded in [[cosineOnCandidates]]. */
  def cosineNearDups(
      corpus: DataFrame, minCosine: Double, nPlanes: Int = 12,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val bucket = VectorFunctions.hyperplaneBucket(
      col(embCol).cast("array<double>"), nPlanes)
    val b = corpus.select(col(idCol).as("id"), bucket.as("bucket"))
    val l = b.select(col("bucket"), col("id").as("id_a"))
    val r = b.select(col("bucket"), col("id").as("id_b"))
    val cands = l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    cosineOnCandidates(corpus, cands, minCosine, idCol, embCol)
  }

  /** Banded hyperplane LSH screen → exact-cosine verify: the scale shape
    * for high-threshold near-dup pair mining (the q84 capstone's pair
    * stage). One 48-bit hyperplane signature is computed per vector
    * (planes 0..47 of the deterministic seed-42 sequence), sliced into
    * `nBands` OR'd bands of `planesPerBand` bits; candidates meet only on
    * a (band, band-bits) equality join, then EVERY candidate is verified
    * with the exact cosine before the threshold filter — so false
    * positives are impossible and the only approximation is screen
    * recall.
    *
    * Recall: a pair at cosine c collides in one band with probability
    * (1 − acos(c)/π)^planesPerBand; missing ALL bands has probability
    * (1 − p)^nBands — at the defaults and c = 0.99 that is ≈ 3%, and
    * EXACT duplicates (cosine 1) collide in every band with certainty.
    * Band 0 (bits [0, planesPerBand) of the signature) is bit-identical
    * to [[cosineNearDups]]'s single-band bucket at the same plane count,
    * so the banded candidate set is a strict superset of the single-band
    * screen's.
    *
    * Scale shape: signature build is map-only codegen; the band shuffle
    * carries each row nBands times as (band, key, id) — THREE LONGS,
    * never the embedding payload — linear in the corpus, never O(n²).
    * Candidate count within a band is Σ m_b² over bucket sizes m_b —
    * the same bounded-by-dup-population behavior as the MinHash band
    * join. Vectors move exactly once, candidate-bounded, in
    * [[cosineOnCandidates]]'s gather, and the exact verify keeps output
    * precision at 1. */
  /** (band, key, id) triples for the banded hyperplane signature —
    * the id-only screen side: the embedding is consumed by the
    * signature expression and DROPPED before the explode/shuffle. */
  private def bandKeyed(
      df: DataFrame, idAs: String, nBands: Int, planesPerBand: Int,
      idCol: String, embCol: String): DataFrame = {
    val bits = nBands * planesPerBand
    require(bits >= 1 && bits <= 63,
      s"banded screen: nBands*planesPerBand=$bits must be in [1,63]")
    val sig = VectorFunctions.hyperplaneBucket(
      col(embCol).cast("array<double>"), bits)
    val bandKeys = array((0 until nBands).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("sig"), i * planesPerBand)
          .bitwiseAND(lit((1L << planesPerBand) - 1)).as("key"))
    }: _*)
    df.select(col(idCol).as(idAs), sig.as("sig"))
      .select(col(idAs), explode(bandKeys).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col(idAs))
  }

  def cosineNearDupsBanded(
      corpus: DataFrame, minCosine: Double,
      nBands: Int = 4, planesPerBand: Int = 12,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val l = bandKeyed(corpus, "id_a", nBands, planesPerBand, idCol, embCol)
    val r = bandKeyed(corpus, "id_b", nBands, planesPerBand, idCol, embCol)
    val cands = l.join(r, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    cosineOnCandidates(corpus, cands, minCosine, idCol, embCol)
  }

  /** CROSS-corpus banded near-dup mining — the embedding-space
    * decontamination shape: every `left` (train) vector within
    * `minCosine` of some `right` (eval/heldout) vector, screened by the
    * same id-only band join and verified with the exact cosine. Same
    * recall math as [[cosineNearDupsBanded]] (exact copies collide with
    * certainty); same scale shape (band exchange carries 3 longs/row,
    * vectors gathered candidate-bounded per side). Output:
    * (id_a = left id, id_b = right id, cosine >= minCosine). */
  def crossCosineNearDupsBanded(
      left: DataFrame, right: DataFrame, minCosine: Double,
      nBands: Int = 4, planesPerBand: Int = 12,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val l = bandKeyed(left, "id_a", nBands, planesPerBand, idCol, embCol)
    val r = bandKeyed(right, "id_b", nBands, planesPerBand, idCol, embCol)
    val cands = l.join(r, Seq("band", "key")).select(col("id_a"), col("id_b"))
    val pairs = graft.operators.LoopCache.finish(cands.distinct())
    def gather(df: DataFrame, side: String, embAs: String): DataFrame = {
      val touched = pairs.select(col(side).as("vn_id")).distinct()
      df.join(broadcast(touched), col(idCol) === col("vn_id"), "left_semi")
        .select(col(idCol).as(side),
          col(embCol).cast("array<double>").as(embAs))
    }
    graft.operators.LoopCache.finish(pairs
      .join(gather(left, "id_a", "emb_a"), Seq("id_a"))
      .join(gather(right, "id_b", "emb_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSimilarity(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= minCosine))
  }
}
