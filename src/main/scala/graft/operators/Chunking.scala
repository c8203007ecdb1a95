package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Training-chunk preparation: the operators that turn a cleaned document
  * corpus into model-ready sequences. The reference repo stops at row-level
  * KPIs; these cover the next pipeline stage a large-scale training-data
  * pipeline needs (see README.md:175-178's `Staging → Fact` framing — here
  * the "fact" is the training sequence).
  *
  *  - [[tokenWindows]]   — overlapping token windows (context-window
  *                         chunking with stride, RAG/pretrain chunking).
  *  - [[packSequences]]  — concat-and-split sequence packing: documents
  *                         laid head-to-tail in id order, cut every
  *                         `binTokens` tokens. The global running offset is
  *                         computed as a two-level prefix sum (per-range
  *                         subtotals broadcast back as offsets), NOT a
  *                         global single-partition window — at 100 TB a
  *                         `Window.orderBy` with no partitionBy collapses
  *                         all rows into ONE task; the two-level form keeps
  *                         every stage parallel at any corpus size.
  *  - [[dupBlockStats]]  — per-document duplicated-block ratio (the
  *                         Gopher/C4-style "repeated chunk" quality
  *                         signal, computed corpus-wide).
  *
  * All three are pure DataFrame compositions — explode / groupBy / window
  * over bucketed keys, no UDFs, no driver loops.
  */
object Chunking {

  /** Normalized whitespace tokens; empty array for blank/null text (split
    * alone would yield `[""]` — a phantom token). */
  private def toks(textCol: Column): Column = {
    val norm = TextFunctions.normalizeText(textCol)
    when(length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, " "))
  }

  /** Overlapping token windows per document: window `windowTokens` wide,
    * advancing `stride` tokens (stride < window ⇒ overlap). Emits one row
    * per window: (id, chunk_idx, n_tokens, chunk_text). The final windows
    * may be shorter than `windowTokens` (every token appears in ≥1 window;
    * a `filter(n_tokens === windowTokens)` drops tails when fixed-size
    * batches are required).
    *
    * Narrow + explode only — no shuffle at all; at scale the output
    * inherits the input partitioning and is typically written
    * partitioned/bucketed downstream. */
  def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, stride: Int): DataFrame = {
    require(windowTokens > 0 && stride > 0,
      s"windowTokens=$windowTokens and stride=$stride must be positive")
    val t = toks(col(textCol))
    // the blank screen rides the explode (a null/guarded sequence emits
    // no rows) instead of a filter: predicate pushdown inlines aliases
    // with no cost check, so `filter(size(toks) > 0)` re-ran the whole
    // tokenize chain below this projection — every document tokenized
    // twice (same fix across this file; measured on the q56 shape)
    df.select(col(idCol), t.as("toks"))
      .select(col(idCol),
        explode(when(size(col("toks")) > 0,
          sequence(lit(0), size(col("toks")) - 1, lit(stride))))
          .as("start"),
        col("toks"))
      .select(
        col(idCol),
        (col("start") / stride).cast("int").as("chunk_idx"),
        least(lit(windowTokens), size(col("toks")) - col("start"))
          .as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(windowTokens)))
          .as("chunk_text"))
  }

  /** Concat-and-split sequence packing: documents are laid head-to-tail in
    * ascending `idCol` order and the stream is cut every `binTokens`
    * tokens. Emits per document: token count, global start offset, the
    * first/last bin it lands in, and how many bins it spans (how many cut
    * points cross it).
    *
    * The running offset is an exclusive prefix sum over id order. Scale
    * topology: `numRanges` contiguous id ranges (NTILE over an id sort
    * would itself need a global window — ranges come from fixed id
    * arithmetic instead, after one cheap min/max agg). Per-range subtotals
    * (≤ `numRanges` rows) are summed driver-side into per-range base
    * offsets and broadcast-joined back; within a range the offset is an
    * ordinary partitioned window. Every stage is parallel in the number of
    * ranges — no single-task sort point, unlike `Window.orderBy(id)` with
    * no partition key.
    *
    * Assumes roughly uniform ids (dense surrogate keys); wildly skewed id
    * spaces should pre-map ids. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      binTokens: Int, numRanges: Int = 256): DataFrame = {
    require(binTokens > 0, s"binTokens=$binTokens must be positive")
    // ONE tokenize pass: this projection is read three times (id-range
    // min/max, per-range subtotals, the final plan) and tokenCountWs over
    // full document text is the query's CPU hot loop — persist the
    // 16 B/row (id, n_tokens) projection so the corpus is scanned and
    // tokenized exactly once, at any corpus size a negligible cache.
    // Same plan-keyed, session-lived policy as Dedup.lshCandidatePairs'
    // signature cache (see the comment there); clearCache() reclaims it.
    val docs = df.select(col(idCol).cast("long").as("id"),
      coalesce(TextFunctions.tokenCountWs(col(textCol)), lit(0))
        .cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val Array(minId, maxId) = docs
      .agg(min(col("id")), max(col("id"))).collect()(0) match {
        case r if r.isNullAt(0) => Array(0L, 0L) // empty corpus
        case r                  => Array(r.getLong(0), r.getLong(1))
      }
    val span = math.max(maxId - minId + 1, 1L)
    val width = math.max(span / numRanges, 1L)
    val ranged = docs.withColumn("rg",
      // DIV: same exact-integer-division rule as the bin math below
      least(expr(s"(id - ${minId}L) DIV ${width}L"), lit(numRanges - 1L)))
    // per-range subtotals: ≤ numRanges rows — driver-side exclusive scan
    // is exact and trivially cheap at any corpus size
    val totals = ranged.groupBy(col("rg"))
      .agg(sum(col("n_tokens")).as("rg_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.scanLeft((-1L, 0L)) {
      case ((_, acc), (rg, tok)) => (rg, acc + tok)
    }.tail.map { case (rg, cum) => (rg, cum) }
    val baseByRange = offsets.zip(totals).map {
      case ((rg, cumIncl), (_, tok)) => (rg, cumIncl - tok)
    }
    val base = df.sparkSession.createDataFrame(baseByRange.toSeq)
      .toDF("rg", "rg_base")
    val w = Window.partitionBy(col("rg")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .join(broadcast(base), Seq("rg"))
      .withColumn("start_offset",
        col("rg_base") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("id").as(idCol),
        col("n_tokens"),
        col("start_offset"),
        // DIV, not /: integer floor division stays exact past 2^53 tokens
        // (double division would round the quotient on petabyte corpora)
        expr(s"start_offset DIV $binTokens").as("first_bin"),
        expr(s"(start_offset + greatest(n_tokens, 1L) - 1) DIV $binTokens")
          .as("last_bin"))
      .withColumn("n_bins", (col("last_bin") - col("first_bin") + 1).cast("long"))
  }

  /** Per-document duplicated-block ratio: split each document into
    * consecutive `blockTokens`-token blocks (non-overlapping; the short
    * tail block counts too), count each block's occurrences across the
    * WHOLE corpus, and report what fraction of a document's blocks appear
    * more than once corpus-wide — the repeated-chunk quality signal used
    * to demote boilerplate-heavy documents.
    *
    * Two shuffles: block-frequency groupBy + the join back to blocks (the
    * join key is the block text; at 100 TB pass `hashBlocks=true` to ride
    * both shuffles on an 8-byte xxhash64 instead of full block strings —
    * same result modulo 2^-64 collisions, which the oracle-checked tier
    * keeps off). */
  def dupBlockStats(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10, hashBlocks: Boolean = false): DataFrame = {
    require(blockTokens > 0, s"blockTokens=$blockTokens must be positive")
    val t = toks(col(textCol))
    val blocks = df
      .select(col(idCol), t.as("toks"))
      .select(col(idCol),
        // explode-guard, not a filter — see tokenWindows
        explode(when(size(col("toks")) > 0,
          sequence(lit(0), size(col("toks")) - 1, lit(blockTokens))))
          .as("start"),
        col("toks"))
      .select(col(idCol),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(blockTokens)))
          .as("block"))
      .select(col(idCol),
        (if (hashBlocks) xxhash64(col("block")) else col("block")).as("block"))
    // per-(doc, block) pre-counts — same single-tokenize-pass rewrite as
    // boilerplateScrub/cdcDupStats below (r19, guide §1.2): both
    // consumers derive from one canonically-identical (doc, block)
    // exchange; block_df == Σ cnt, per-doc counts re-associate exactly
    val pre = blocks.groupBy(col(idCol), col("block"))
      .agg(count(lit(1)).as("cnt"))
    val freq = pre.groupBy(col("block")).agg(sum(col("cnt")).as("block_df"))
    pre.join(freq, Seq("block"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_blocks"),
        sum(when(col("block_df") > 1, col("cnt")).otherwise(lit(0L)))
          .as("n_dup_blocks"))
      .withColumn("dup_ratio",
        col("n_dup_blocks").cast("double") / col("n_blocks").cast("double"))
  }

  /** Boilerplate scrub (the C4 "remove repeated boilerplate" step, at block
    * granularity since the corpus has no line structure): drop every
    * `blockTokens`-token block whose corpus-wide document frequency exceeds
    * `maxDocFreq`, and reassemble each document from its surviving blocks
    * in original order. Emits (id, n_blocks, n_removed, cleaned_text).
    *
    * Scale shape: the removal set is bounded by total_blocks/maxDocFreq
    * (each member appears in > maxDocFreq documents), so it is broadcast —
    * the corpus-side blocks are NEVER shuffled: one groupBy builds the
    * removal set, the probe is a broadcast hash join, and the reassembly
    * groupBy shuffles only (id, start, block) for the surviving rows. At
    * 100 TB the df-groupBy should ride on `xxhash64(block)` instead of
    * block text (the [[dupBlockStats]] `hashBlocks` trade); the exact-text
    * tier here is what the DuckDB oracle checks. */
  def boilerplateScrub(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10, maxDocFreq: Int = 3): DataFrame = {
    require(blockTokens > 0, s"blockTokens=$blockTokens must be positive")
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq must be >= 1")
    val t = toks(col(textCol))
    val blocks = df
      .select(col(idCol), t.as("toks"))
      .select(col(idCol),
        // explode-guard, not a filter — see tokenWindows
        explode(when(size(col("toks")) > 0,
          sequence(lit(0), size(col("toks")) - 1, lit(blockTokens))))
          .as("start"),
        col("toks"))
      .select(col(idCol), col("start"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(blockTokens)))
          .as("block"))
    // Per-(doc, block) pre-counts (r19, the q143 pattern, guide §1.2):
    // `blocks` used to feed the removal-set aggregate AND the probe join
    // as two separate subtrees, so the corpus was tokenized twice per
    // run. Collapsing to one (doc, block) aggregate first makes that
    // exchange the ONLY consumer of the tokenize stream, and both the
    // removal set and the reassembly derive from it — canonically
    // identical subtree, so AQE materializes the tokenize stage once.
    // Equivalences are exact-integer: countDistinct(doc) per block over
    // raw rows == count(*) over per-(doc, block) rows; per-doc
    // count(*) == Σ cnt; count_if(boilerplate) == Σ cnt over flagged
    // rows; and the surviving (start, block) pairs — flattened back out
    // of the gathered start lists — sort identically (starts are unique
    // within a doc).
    // `pre`'s single aggregate buffer (the gathered starts) must appear
    // in BOTH consumers or column pruning forks the exchange (the
    // removal branch would drop the collect_list partial and the two
    // subtrees stop being canonically equal — no AQE stage reuse, two
    // tokenize passes). So the occurrence count is folded into the list
    // (cnt == size(starts)) and the removal branch anchors `starts`
    // with a provably-true filter (a group gathers >= 1 start), which
    // blocks the pruner without changing a row. Nothing but the optimizer
    // leaving always-true predicates alone keeps that filter; ScaleSpec's
    // "q87/q167/q77 one-pass pre-counts: the tokenize exchange is shared"
    // fails if a Spark upgrade folds it.
    val pre = blocks
      .groupBy(col(idCol), col("block"))
      .agg(collect_list(col("start")).as("starts"))
    val removal = pre
      .filter(size(col("starts")) > 0)
      .groupBy(col("block"))
      .agg(count(lit(1)).as("block_docs"))
      .filter(col("block_docs") > maxDocFreq)
      .select(col("block"), lit(true).as("boilerplate"))
    pre
      .join(broadcast(removal), Seq("block"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(size(col("starts")).cast("long")).as("n_blocks"),
        sum(when(col("boilerplate"), size(col("starts")).cast("long"))
          .otherwise(lit(0L))).as("n_removed"),
        concat_ws(" ",
          transform(
            sort_array(flatten(collect_list(
              when(col("boilerplate").isNull,
                transform(col("starts"),
                  s => struct(s.as("start"), col("block"))))))),
            b => b.getField("block"))).as("cleaned_text"))
  }

  /** Content-defined chunking (CDC): cut each document AFTER every
    * "anchor" token — a token whose `md5word32 % divisor == 0` — so
    * chunk boundaries are decided by CONTENT, not position. The reason
    * CDC exists (storage dedup, dataset near-dup mining): insert one
    * token into a document and [[dupBlockStats]]'s fixed 10-token grid
    * shifts every downstream block, hiding the duplication; CDC
    * boundaries re-synchronize right after the edit, so all untouched
    * chunks keep their identity. Expected chunk length ≈ `divisor`
    * tokens; the trailing remainder forms a final chunk.
    *
    * Scale shape: everything up to the emit is ONE narrow projection —
    * the cut positions come from `filter` over a position sequence and
    * the chunks from `transform`+`slice`, all inside whole-stage
    * codegen, with no per-token explode, no per-doc window sort, and
    * zero shuffles. Determinism: the anchor draw is the same md5-word
    * contract as every graft bucket decision; DuckDB replays cuts,
    * slices and digests verbatim.
    *
    * @return (idCol, chunk_idx, n_toks, chunk_text), one row per chunk. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16): DataFrame = {
    require(divisor >= 2, s"divisor=$divisor must be >= 2")
    val t = toks(col(textCol))
    val withToks = df.select(col(idCol), t.as("toks"))
    // cut list: every anchor position, plus the document end (distinct —
    // an anchor AT the end must not emit an empty trailing chunk)
    // null for a blank doc: sequence(1, 0) would yield [1, 0] and the
    // element_at probe would index into the empty array (ANSI error) —
    // the null propagates through the chunk transform so the explode
    // below emits nothing, which is the blank-doc contract
    val cuts = when(size(col("toks")) > 0, array_distinct(concat(
      filter(sequence(lit(1), size(col("toks"))), i =>
        graft.functions.Md5Word32Expression
          .md5Word32(element_at(col("toks"), i)) % divisor === 0),
      array(size(col("toks"))))))
    withToks
      .withColumn("cuts", cuts)
      // empty docs contribute no chunks via the explode-guard (a bare
      // sequence(1, 0) would yield [1, 0] and fabricate a chunk; the old
      // pre-filter paid a second full tokenize — see tokenWindows)
      .select(col(idCol), explode(when(size(col("toks")) > 0,
        // chunk j spans (cuts[j-1], cuts[j]] in 1-based token positions
        transform(sequence(lit(1), size(col("cuts"))), j => {
          val end = element_at(col("cuts"), j)
          val start = when(j === lit(1), lit(1))
            .otherwise(element_at(col("cuts"), j - 1) + 1)
          struct((j - 1).cast("int").as("chunk_idx"),
            slice(col("toks"), start, end - start + 1).as("ts"))
        }))).as("c"))
      .select(col(idCol), col("c.chunk_idx"),
        size(col("c.ts")).cast("int").as("n_toks"),
        concat_ws(" ", col("c.ts")).as("chunk_text"))
  }

  /** Per-document duplicated-chunk stats over [[cdcChunks]] — the
    * content-defined twin of [[dupBlockStats]]: corpus-wide chunk
    * frequency, then per doc the chunk count, duplicated-chunk count
    * and duplicated-TOKEN ratio in ppm (integer-exact; CDC chunks vary
    * in length, so the token-weighted ratio is the honest one). The
    * only shuffles are the frequency groupBy (digest-keyed at 100 TB —
    * swap chunk_text for xxhash64, the [[dupBlockStats]] hashBlocks
    * trade) and the per-doc rollup. */
  def cdcDupStats(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, divisor)
    // Per-(doc, chunk) pre-counts (r19, the q143/boilerplateScrub
    // pattern, guide §1.2): `chunks` used to feed the frequency
    // aggregate AND the probe join as two subtrees — the whole CDC
    // chunking (tokenize + per-token md5 + slices) ran twice per run.
    // One (doc, chunk_text) aggregate is now the only consumer; the
    // frequency table and the join probe both derive from its exchange
    // (canonically identical → AQE materializes the chunk stage once),
    // and the chunk_text join ships distinct-per-doc rows instead of
    // every occurrence. n_toks is a pure function of chunk_text
    // (single-space joining of non-empty tokens is injective), so max()
    // over the group is THE value. All counts re-associate exactly:
    // chunk_df == Σ cnt; per-doc count(*) == Σ cnt; Σ n_toks == Σ nt·cnt.
    // `pre` carries ONLY (id, chunk_text, cnt): the partial aggregate
    // below its exchange must be identical in both consumers or column
    // pruning forks them (the freq branch would drop any extra partial
    // buffer and the exchange stops being canonically equal — measured:
    // two 32-task chunk stages instead of one). n_toks is therefore NOT
    // carried; it is re-derived per distinct (doc, chunk) row after the
    // join as size(split(chunk_text, ' ')) — exact, because chunk_text
    // is the single-space join of >= 1 non-empty space-free tokens.
    val pre = chunks.groupBy(col(idCol), col("chunk_text"))
      .agg(count(lit(1)).as("cnt"))
    val freq = pre.groupBy(col("chunk_text"))
      .agg(sum(col("cnt")).as("chunk_df"))
    pre.join(freq, Seq("chunk_text"))
      .select(col(idCol), col("cnt"), col("chunk_df"),
        size(split(col("chunk_text"), " ")).cast("long").as("nt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_chunks"),
        sum(when(col("chunk_df") > 1, col("cnt")).otherwise(lit(0L)))
          .as("n_dup_chunks"),
        sum(col("nt") * col("cnt")).as("n_toks"),
        sum(when(col("chunk_df") > 1, col("nt") * col("cnt"))
          .otherwise(lit(0L))).as("dup_toks"))
      .withColumn("dup_token_ppm",
        expr("(dup_toks * 1000000) div n_toks"))
  }
}
