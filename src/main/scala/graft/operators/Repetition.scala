package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Gopher-style repetition quality filters (Rae et al. 2021, "Scaling
  * Language Models" §A1.1; the same family C4/RefinedWeb apply):
  * documents dominated by repeated fragments are low-quality training
  * data, and the cheap structural signals that catch them are
  *
  *  - the REPEATED-WORD fraction (this corpus has no line structure, so
  *    the duplicate-line rule lands at word granularity),
  *  - the fraction of characters covered by the single most frequent
  *    word 2-gram,
  *  - the fraction of characters covered by duplicated word 5-grams.
  *
  * All three are emitted as PER-MILLE INTEGERS (1000·num div den) —
  * exact integer arithmetic end to end, so DuckDB replays every row
  * hash-identically; the final boolean applies Gopher-shaped
  * thresholds. Character coverage counts occurrence·length without
  * overlap-merging (sliding occurrences can overlap) — the standard
  * pipeline approximation, capped at 1000, deviation documented here
  * and mirrored by the oracle.
  *
  * Scale shape: word stats are pure array expressions (map-only, no
  * shuffle); each n-gram stat is one (doc, gram) partial-agg shuffle
  * re-keyed to doc — everything is doc-keyed, nothing is corpus-global,
  * so the plan partitions freely at any corpus size. Ties for the top
  * bigram break to the lexicographically SMALLEST gram (min over
  * (-count, gram) structs), deterministic in both engines.
  */
object Repetition {

  private val DupWordPmlMax = 300 // > 30% repeated words
  private val TopBigramPmlMax = 180 // top 2-gram covers > 18% of chars
  private val Dup5gramPmlMax = 150 // duplicated 5-grams cover > 15%

  /** Per-document repetition metrics + flag:
    * (idCol, n_words, n_chars, dup_word_pml, top_bigram,
    * top_bigram_count, top_bigram_pml, dup5_pml, repetitive).
    * Documents whose normalized text is empty are dropped (no signal).
    *
    * PRODUCTION tier = one MAP-ONLY pass: every metric here is a
    * function of a single document's tokens — no cross-document state
    * exists — so routing per-doc gram counts through explode + two
    * (doc, gram) shuffles (the relational tiers, kept as spec references)
    * pays the engine's shuffle machinery for state that never leaves the
    * row. The
    * [[graft.functions.RepetitionStatsExpression]] scalar computes all
    * five statistics inside one codegen'd projection: the whole plan is
    * scan→project, zero exchanges, embarrassingly parallel at any corpus
    * size (measured: the exploded plan's two gram stages cost ~2.8 s
    * each at sf0.1; TextOpsSpec pins all three tiers row-for-row equal
    * on the real corpus). */
  def metrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val normed = df
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("norm"))
      .filter(length(col("norm")) > 0)
    finish(normed
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars"),
        graft.functions.RepetitionStatsExpression
          .stats(split(col("norm"), " ")).as("st"))
      .select(col("doc_id"),
        col("st.n_words").as("n_words"),
        col("n_chars"),
        col("st.n_distinct").as("n_distinct"),
        col("st.top_bigram").as("top_bigram"),
        col("st.top_bigram_count").as("top_bigram_count"),
        col("st.dup5_chars").as("dup5_chars")))
  }

  /** Shared finishing projection: per-mille metrics + threshold flag
    * from (doc_id, n_words, n_chars, n_distinct, top_bigram,
    * top_bigram_count, dup5_chars) — identical across all three tiers
    * so the equivalence specs compare full output rows. */
  private[graft] def finish(stats: DataFrame): DataFrame =
    stats
      .select(
        col("doc_id"), col("n_words"), col("n_chars"),
        expr("1000 * (n_words - n_distinct) div n_words").as("dup_word_pml"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        // a count-1 "top" gram is no repetition at all — without the
        // guard every 2-word doc's only bigram covers ~all chars and
        // short docs get flagged for being short. Capped at 1000: the
        // count·length coverage over-counts when sliding occurrences
        // OVERLAP ("aa aa aa aa" → 3·5 chars claimed of 11), the same
        // approximation the dup-5-gram tier caps (found by the
        // PropertySpec invariant sweep).
        when(coalesce(col("top_bigram_count"), lit(0L)) >= 2,
          least(expr("1000 * (top_bigram_count * length(top_bigram)) div n_chars"),
            lit(1000L)))
          .otherwise(0L).as("top_bigram_pml"),
        least(coalesce(expr("1000 * dup5_chars div n_chars"), lit(0L)),
          lit(1000L)).as("dup5_pml"))
      .withColumn("repetitive",
        col("dup_word_pml") > DupWordPmlMax ||
          col("top_bigram_pml") > TopBigramPmlMax ||
          col("dup5_pml") > Dup5gramPmlMax)
}
