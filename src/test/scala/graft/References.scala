package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{LinkPredict, Repetition}

/** Reference implementations the specs compare production paths
  * against: plain relational formulations, no production caller. */
object References {

  /** EXACT cosine pairs ≥ `minCosine` via the full upper-triangle cross
    * join — guaranteed-complete recall, O(n²) cost. This is the
    * ground-truth tier for SPECS (asserting a screen's recall on a
    * bounded slice); production paths use
    * [[Similarity.cosineNearDupsBanded]] (screen → exact verify) or
    * [[Similarity.cosineNearDups]] — never this. */
  def exactCosinePairs(
      corpus: DataFrame, minCosine: Double,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val b = corpus.select(col(idCol).as("id"),
      col(embCol).cast("array<double>").as("emb"))
    val l = b.select(col("id").as("id_a"), col("emb").as("emb_a"))
    val r = b.select(col("id").as("id_b"), col("emb").as("emb_b"))
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSimilarity(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** The relational formulations of [[Repetition.metrics]], the
    * REFERENCE tiers (the oracle SQL mirrors them shape-for-shape, and
    * TextOpsSpec pins the map-only production tier against both):
    *
    * `hashGrams=true` rides every gram shuffle on FIXED-WIDTH
    * `(xxhash64(gram), length(gram))` instead of the gram string —
    * 5-gram strings average ~6x a word and dominated q140's shuffle
    * bytes (VERDICT r9). The dup5 metric needs only count·length, so
    * hashing is free there; the top-bigram STRING is recovered by a
    * bounded join-back: collect the (few, usually 1) max-count hashes
    * per doc and re-derive the lexicographically smallest matching gram
    * from base's own text map-side — identical tie-break semantics to
    * the string tier, modulo 64-bit collisions inside one document's
    * gram set (~1e-13/doc). `hashGrams=false` is the all-strings plan. */
  def metricsRelational(df: DataFrame, idCol: String, textCol: String,
      hashGrams: Boolean = true): DataFrame = {
    // normalize ONCE per branch: every downstream expression (word
    // stats, both shingle widths) reads the projected `norm` column
    // instead of re-running the regex normalization inside its own
    // subtree — Catalyst does not share subexpressions across a Filter
    // and the Projects below it, so inlining normalizeText at each use
    // would pay the regex 2x per gram branch
    val normed = df
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("norm"))
      .filter(length(col("norm")) > 0)
    val base = normed
      .select(col("doc_id"), col("norm"),
        split(col("norm"), " ").as("w"),
        length(col("norm")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("norm"), col("n_chars"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"))

    // exploded grams for one shingle width (same tokenization as
    // Dedup.shingleArray: split(normalizeText, " "))
    def grams(n: Int) = normed
      .select(col("doc_id"),
        explode(graft.functions.ShingleArrayExpression.shingles(
          split(col("norm"), " "), n)).as("g"))
    // (doc, gram) counts — partial agg before the doc-keyed shuffle; in
    // the hashed tier the string is dropped BEFORE the exchange and only
    // (gh, glen) ride the wire
    def gramCounts(n: Int) = {
      val keyed =
        if (hashGrams)
          grams(n).select(col("doc_id"), xxhash64(col("g")).as("gh"),
            length(col("g")).cast("long").as("glen"))
        else
          grams(n).select(col("doc_id"), col("g").as("gh"),
            length(col("g")).cast("long").as("glen"))
      keyed.groupBy(col("doc_id"), col("gh"), col("glen"))
        .agg(count(lit(1)).as("c"))
    }

    // most frequent 2-gram, ties to the lexicographically smallest gram.
    // String tier: min over (-count, gram) directly. Hashed tier: find
    // the max count, collect the tied hashes (bounded: ties only — one
    // hash per doc in the common case), and resolve the winning STRING
    // later against base's own `norm` column (already present in the
    // final doc-keyed join) — the same tie-break without ever putting a
    // gram string on the wire. The hashed branch emits (doc_id, ghs,
    // top_bigram_count); the string branch emits the resolved string.
    val counts2 = gramCounts(2)
    val topBigram = if (!hashGrams) {
      counts2
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("c")).as("negc"), col("gh").as("g"))).as("t"))
        .select(col("doc_id"), col("t.g").as("top_bigram"),
          (-col("t.negc")).as("top_bigram_count"))
    } else {
      val cmax = counts2.groupBy(col("doc_id"))
        .agg(max(col("c")).as("top_bigram_count"))
      counts2.join(cmax, Seq("doc_id"))
        .filter(col("c") === col("top_bigram_count"))
        .groupBy(col("doc_id"))
        .agg(collect_list(col("gh")).as("ghs"),
          max(col("top_bigram_count")).as("top_bigram_count"))
    }

    // characters covered by duplicated 5-grams (count·length, no
    // overlap merge — documented approximation, capped later); needs
    // only count and length, so the hashed tier pays nothing here
    val dup5 = gramCounts(5)
      .filter(col("c") > 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("glen")).as("dup5_chars"))

    val joined = base
      .join(topBigram, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
    val resolved =
      if (!hashGrams) joined
      else joined.withColumn("top_bigram",
        // map-side string recovery: smallest of the doc's own 2-grams
        // whose hash is in the candidate set (ghs is never null here —
        // every normed doc has >= 1 gram under the short-doc contract —
        // but a null lambda result just drops the element, so a miss
        // degrades to NULL -> '' like the string tier's left-join miss)
        array_min(filter(
          graft.functions.ShingleArrayExpression.shingles(
            split(col("norm"), " "), 2),
          x => array_contains(col("ghs"), xxhash64(x)))))
    Repetition.finish(resolved)
  }

  /** Silence-run detection over a sample stream, one row per run: the
    * two-consumer reference for [[graft.operators.Multimodal.silenceRunMediaStats]].
    * Detection — the gaps-and-islands
    * pass an audio pipeline runs to drop dead air before training on a
    * clip: consecutive runs of ≥ `minRun` samples below `silenceBelow`,
    * one row per run with its start and length. The island key is the
    * classic `pos − row_number()` over the silent rows only — constant
    * per run, distinct across runs — so the whole detection is one
    * media-keyed window plus a grouped count, no self-join, no state.
    * Samples per media bound the window buffer (a production pipeline
    * chunks clips upstream; the decode emits ≤240 here). */
  def silenceRuns(samples: DataFrame,
      silenceBelow: Int, minRun: Int): DataFrame = {
    require(minRun >= 1, s"minRun=$minRun must be >= 1")
    val w = Window.partitionBy(col("media_id")).orderBy(col("pos"))
    samples.filter(col("amp") < silenceBelow)
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("media_id"), col("source"), col("__grp"))
      .agg(count(lit(1)).cast("long").as("run_len"),
        min(col("pos")).as("run_start"))
      .filter(col("run_len") >= minRun)
      .drop("__grp")
  }

  /** The wedge-join formulation of
    * [[graft.operators.LinkPredict.topCommonNeighborPairsAdj]]: top-`topN`
    * non-adjacent pairs by common-neighbor count over `orderedEdges(u, v)`
    * (u < v, unique). Returns (a, b,
    * common_neighbors, jaccard), ordered by (common desc, a, b). */
  def topCommonNeighborPairs(orderedEdges: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1, s"topN=$topN must be >= 1")
    val e = orderedEdges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val adjacency = e.select(col("u").as("n"), col("v").as("nb"))
      .union(e.select(col("v").as("n"), col("u").as("nb")))
    val deg = adjacency.groupBy(col("n")).agg(count(lit(1)).as("dg"))
    val (wedgeTotal, packable) = LinkPredict.graphStats(deg)
    val nReduce = LinkPredict.nReduceFor(deg, wedgeTotal)
    // wedges through a shared middle vertex; a < b counts each unordered
    // candidate pair exactly once
    val wedgeJoin = adjacency.as("x").join(adjacency.as("y"),
      col("x.n") === col("y.n") && col("x.nb") < col("y.nb"))
    val top =
      if (packable) LinkPredict.fusedTopPacked(
        wedgeJoin.select((shiftleft(col("x.nb"), 32) + col("y.nb")).as("p")),
        e, deg, topN, nReduce)
      else LinkPredict.fusedTopStruct(
        wedgeJoin.select(col("x.nb").as("a"), col("y.nb").as("b")),
        e, deg, topN, nReduce)
    // cache probe: reuse a prior invocation's pinned top-N
    if (graft.operators.LoopCache.cached(top)) return top
    // the edge set backs the adjacency (twice, for wedges), the fused
    // edge marks and the degrees — pin both anchors for the single
    // drive, keep only the N-row final
    e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    adjacency.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.LoopCache.finish(top, e, adjacency)
  }
}
