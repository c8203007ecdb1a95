package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{RollingHashExpression, TextFunctions}
import graft.operators.{Bootstrap, Dedup, Funnel, FuzzyMatch, Multimodal, Quantize, Sessionize, Similarity, SweepLine}

/** Training-data pipeline queries over `documents` / `embeddings` / `events`:
  * dedup (exact, near-exact, MinHash-LSH, SimHash, n-gram jaccard),
  * similarity search, text analysis (language-ID, quality, token counting,
  * fingerprinting), sessionization, multimodal plumbing.
  *
  * Oracle policy: integer/string-derived metrics and ratio-of-integers
  * doubles are SQL-expressible and oracle-checked; hash-family operators
  * (xxhash64-based MinHash/SimHash, rolling-hash fingerprints, LSH buckets)
  * have no DuckDB equivalent → rows-only checks.
  */
object QueriesText {

  /** DuckDB fragment: normalized text (mirrors TextFunctions.normalizeText). */
  private def normSql(c: String): String =
    s"lower(trim(regexp_replace($c, '\\s+', ' ', 'g')))"

  /** DuckDB fragment: TextFunctions.tokenCountWs on a normalized expr. */
  private def tokCountSql(norm: String): String =
    s"CASE WHEN length($norm) = 0 THEN 0 ELSE CAST(len(string_split($norm, ' ')) AS INT) END"

  /** DuckDB fragment: TextFunctions.stopwordHits on a normalized expr. */
  private def stopHitsSql(norm: String, words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split($norm, ' '), t -> t IN ($set))) AS INT)"
  }

  // ------------------------------------------------------------------
  // q30 — exact dedup groups (hash-groupBy on md5 digest).
  // ------------------------------------------------------------------
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("keep_id"))

  val dedupExactSql: String =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ------------------------------------------------------------------
  // q31 — near-exact dedup stats per source (normalized text).
  // ------------------------------------------------------------------
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.rebalance(
      Tables.documents(spark, sfDir).select("source", "text"))
    // distinct-count DIGESTS, not texts: countDistinct's expand/partial-
    // distinct shuffle then carries 32-byte hex instead of document-sized
    // normalized strings — same count (md5 collisions aside, which both
    // engines share since they hash identical bytes)
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(TextFunctions.normalizeText(col("text")).cast("binary")))
          .as("n_distinct_norm"))
      .orderBy(col("source"))
  }

  val dedupNormalizedSql: String =
    s"""SELECT source, count(*) AS n_docs,
      |       count(DISTINCT md5(${normSql("text")})) AS n_distinct_norm
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB CTE chain ending in `jp(id_a, id_b, jaccard)` — exact 3-gram
    * shingle-set jaccard for every document pair sharing at least one
    * shingle (pairs with jaccard 0 can't clear any threshold), mirroring
    * [[Dedup.shingleArray]]'s contract bit-for-bit: normalized tokens,
    * 3-gram shingles joined by spaces, short docs contribute their whole
    * text as one shingle, set semantics via DISTINCT. The q34 token-join
    * shape (shingle equality → group → size join), NOT an O(n²)
    * `list_intersect` cross join — the oracle must terminate at sf0.01.
    * Shared by q32/q33/q44 here and q81 in [[QueriesCorpus]]: they all
    * state the same exact contract through different screens. */
  private[graft] val shingleJaccardCte: String =
    s"""tk AS (
      |  SELECT doc_id, string_split(${normSql("text")}, ' ') AS tk
      |  FROM documents),
      |shing AS (
      |  SELECT DISTINCT doc_id AS id,
      |         unnest(CASE WHEN len(tk) >= 3
      |           THEN list_transform(range(1, len(tk) - 1),
      |                i -> array_to_string(list_slice(tk, i, i + 2), ' '))
      |           ELSE [array_to_string(tk, ' ')] END) AS sh
      |  FROM tk),
      |sizes AS (SELECT id, count(*) AS n_sh FROM shing GROUP BY id),
      |shared AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
      |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.id < b.id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT id_a, id_b,
      |         CAST(shared AS DOUBLE)
      |           / CAST(na.n_sh + nb.n_sh - shared AS DOUBLE) AS jaccard
      |  FROM shared
      |  JOIN sizes na ON na.id = id_a
      |  JOIN sizes nb ON nb.id = id_b)""".stripMargin

  // ------------------------------------------------------------------
  // q32 — MinHash-screened, exactly-verified near-dup pairs. The LSH
  // banding (xxhash64 family, engine-local) only PROPOSES candidates;
  // exact shingle jaccard >= 0.8 decides — so the output contract is
  // SQL-expressible ("all pairs with shingle jaccard >= 0.8") and the
  // oracle checks it hash-exactly. Completeness of the screen at the
  // 0.8 threshold: P(miss) = (1-s^4)^16 ≈ 2e-4, and the corpus has a
  // wide margin (no pair in (0.067, 0.8) at sf0.01 — measured).
  // ------------------------------------------------------------------
  /** q32/q44 shared STAGED artifact: the exactly-verified near-dup pair
    * table at shingle jaccard >= 0.8. A dedup pipeline's pair table is
    * the canonical materialized handoff between its screen and every
    * consumer (cluster closure, keep-best, audits) — SemDeDup, Gopher
    * and friends all persist it — so it is staged once per corpus like
    * the co-purchase edge tables (VERDICT r11 #1 economics), keyed on
    * documents.parquet. Rebalance before the signature projection:
    * shingle+64-perm hashing is the CPU hot loop, and a single-row-group
    * scan would pin it to one task (no-op on real multi-file inputs). */
  private[graft] def verifiedPairs08(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Staging.stagedOrDerive(spark, "neardup_pairs_j08",
        Seq(Tables.path(sfDir, "documents"))) {
      Dedup.verifiedNearDupPairs(
        Tables.rebalance(Tables.documents(spark, sfDir).select("doc_id", "text")),
        "doc_id", "text", minJaccard = 0.8)
    }

  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    verifiedPairs08(spark, sfDir)
      .orderBy(col("id_a"), col("id_b"))

  val minhashPairsSql: String =
    s"""WITH $shingleJaccardCte
      |SELECT id_a, id_b, jaccard FROM jp
      |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q33 — SimHash-screened, exactly-verified near-dup pairs: pigeonhole
  // chunk-bucket candidates within hamming 6 (COMPLETE for that radius,
  // not probabilistic), then the same exact shingle-jaccard >= 0.8
  // verdict as q32 — one contract, two screens, both oracle-checked
  // against the identical SQL.
  // ------------------------------------------------------------------
  def simhashNearDups(spark: SparkSession, sfDir: String): DataFrame =
    // staged like q32's pair table (same pipeline-handoff argument): the
    // simhash screen + exact verify runs once per corpus, not per call
    graft.operators.Staging.stagedOrDerive(spark, "simhash_pairs_j08",
        Seq(Tables.path(sfDir, "documents"))) {
      Dedup.verifiedSimHashPairs(
        Tables.rebalance(Tables.documents(spark, sfDir).select("doc_id", "text")),
        "doc_id", "text", minJaccard = 0.8, maxHamming = 6)
    }.orderBy(col("id_a"), col("id_b"))

  val simhashNearDupsSql: String = minhashPairsSql

  // ------------------------------------------------------------------
  // q34 — exact word-level jaccard pairs ≥ 0.8 (ratio of ints: oracle-safe).
  // ------------------------------------------------------------------
  def jaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, sfDir), "doc_id", "text", 0.8)
      .orderBy(col("id_a"), col("id_b"))

  val jaccardPairsSql: String =
    s"""WITH toks AS (
      |  SELECT DISTINCT doc_id AS id,
      |         unnest(string_split(${normSql("text")}, ' ')) AS tok
      |  FROM documents
      |), sizes AS (
      |  SELECT id, count(*) AS n_tok FROM toks GROUP BY id
      |), shared AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |       CAST(shared AS DOUBLE) / CAST(na.n_tok + nb.n_tok - shared AS DOUBLE) AS jaccard
      |FROM shared
      |JOIN sizes na ON na.id = id_a
      |JOIN sizes nb ON nb.id = id_b
      |WHERE CAST(shared AS DOUBLE) / CAST(na.n_tok + nb.n_tok - shared AS DOUBLE) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q35 — brute-force cosine top-5 (ids+rank only: ranking is stable
  // cross-engine, raw cosines are not guaranteed bit-equal).
  // ------------------------------------------------------------------
  def knnBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
      .select(col("qid"), col("rank"), col("neighbor_id"))
      .orderBy(col("qid"), col("rank"))
  }

  val knnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10),
      |s AS (SELECT qid, e.vec_id AS neighbor_id,
      |             list_cosine_similarity(e.emb, q.qemb) AS cosine
      |      FROM e, q WHERE e.vec_id != q.qid),
      |r AS (SELECT qid, neighbor_id,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT qid, rank, neighbor_id FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------------
  // q36 — heuristic language-ID (integer marker counts + argmax).
  // ------------------------------------------------------------------
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.rebalance(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    val scores = TextFunctions.langMarkers.map { case (lang, words) =>
      TextFunctions.stopwordHits(col("text"), words).as(s"s_$lang")
    }
    d.select((col("doc_id") +: scores :+
        TextFunctions.langId(col("text")).as("lang_pred")): _*)
      // sampling barrier — see q38
      .repartition(d.sparkSession.sparkContext.defaultParallelism)
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val scoreExprs = TextFunctions.langMarkers.map { case (lang, words) =>
      s"${stopHitsSql("p", words)} AS s_$lang"
    }.mkString(",\n       ")
    // fold-equivalent argmax: later languages win only on strictly greater
    // score than the running best (= greatest of the earlier scores)
    s"""WITH t AS (SELECT doc_id, ${normSql("text")} AS p FROM documents),
      |s AS (SELECT doc_id,
      |       $scoreExprs
      |FROM t)
      |SELECT doc_id, s_en, s_es, s_fr, s_de,
      |       CASE WHEN s_en + s_es + s_fr + s_de = 0 THEN 'und'
      |            WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
      |            WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
      |            WHEN s_es > s_en THEN 'es'
      |            ELSE 'en' END AS lang_pred
      |FROM s ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q37 — quality metrics (integer-derived, oracle-exact).
  // ------------------------------------------------------------------
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.rebalance(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    d.select(col("doc_id"), TextFunctions.qualityMetrics(col("text")).as("q"))
      .select(col("doc_id"), col("q.n_tokens"), col("q.avg_token_len"),
        col("q.punct_count"), col("q.stopword_ratio"), col("q.quality_ok"))
      // narrow sampling barrier before the presentation sort — the range
      // partitioner would otherwise re-run the metrics projection for its
      // sampling pass (q38 has the full argument + measurement)
      .repartition(d.sparkSession.sparkContext.defaultParallelism)
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String = {
    val allWords = TextFunctions.langMarkers.flatMap(_._2)
    s"""WITH t AS (
      |  SELECT doc_id, ${normSql("text")} AS norm FROM documents
      |), m AS (
      |  SELECT doc_id, norm,
      |         ${tokCountSql("norm")} AS n_tokens,
      |         CAST(length(norm) - length(translate(norm, '.,!?', '')) AS INT) AS punct_count,
      |         ${stopHitsSql("norm", allWords)} AS stop_hits
      |  FROM t
      |)
      |SELECT doc_id, n_tokens,
      |       CASE WHEN n_tokens > 0
      |            THEN CAST(length(norm) - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |            ELSE 0.0 END AS avg_token_len,
      |       punct_count,
      |       CASE WHEN n_tokens > 0
      |            THEN CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |            ELSE 0.0 END AS stopword_ratio,
      |       n_tokens BETWEEN 5 AND 100000
      |         AND (CASE WHEN n_tokens > 0
      |                   THEN CAST(length(norm) - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |                   ELSE 0.0 END) BETWEEN 1.0 AND 20.0 AS quality_ok
      |FROM m ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q38 — token counting: whitespace + BPE-ish regex pre-tokenizer.
  // ------------------------------------------------------------------
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.rebalance(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    d.select(col("doc_id"),
        TextFunctions.tokenCountWs(col("text")).as("n_ws_tokens"),
        TextFunctions.tokenCountBpe(col("text")).as("n_bpe_tokens"))
      .repartition(d.sparkSession.sparkContext.defaultParallelism)
      // the narrow repartition above is the SAMPLING BARRIER for this
      // presentation sort: a global orderBy plans a range exchange whose
      // partitioner samples its child — and with the tokenize projection
      // as the child, the corpus was tokenized TWICE per run (measured at
      // the sf10 replica: two ~210 s-CPU stages, sampling + real pass).
      // Behind the repartition the sampler re-reads 12-byte shuffle rows
      // instead of re-running the projection; the extra exchange carries
      // the narrow counts only, at any corpus scale.
      .orderBy(col("doc_id"))
  }

  val tokenCountsSql: String =
    s"""SELECT doc_id,
      |       ${tokCountSql(normSql("text"))} AS n_ws_tokens,
      |       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q39 — rolling-hash document fingerprints (custom Catalyst Expression
  // with codegen). Oracle: DuckDB replays the mod-2^64 multiply-add loop
  // in HUGEINT via list_reduce over the codepoints (== UTF-8 bytes — the
  // corpus is ASCII), then converts the unsigned residue to the signed
  // Long the JVM's overflow arithmetic produces.
  // ------------------------------------------------------------------
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    d.select(col("doc_id"),
        RollingHashExpression.rollingHash(col("text")).as("fingerprint"))
      // sampling barrier — see q38
      .repartition(d.sparkSession.sparkContext.defaultParallelism)
      .orderBy(col("doc_id"))
  }

  val fingerprintsSql: String =
    """WITH h0 AS (
      |  SELECT doc_id,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
      |                 THEN hu - 18446744073709551616::HUGEINT
      |                 ELSE hu END AS BIGINT) AS fingerprint
      |FROM h0 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q40 — gap sessionization of the event stream (30-minute gap).
  // ------------------------------------------------------------------
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Sessionize.userSessionStats(
        Tables.events(spark, sfDir), "user_id", "ts", "event_id", 1800L)
      .orderBy(col("user_id"))

  val sessionizeSql: String =
    """WITH l AS (
      |  SELECT user_id, ts, event_id,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |), n AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev IS NULL
      |                OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
      |              ELSE 0 END AS is_new
      |  FROM l
      |), s AS (
      |  SELECT user_id,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM n
      |), per AS (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM s GROUP BY user_id, session_id
      |)
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n_events) AS BIGINT) AS n_events,
      |       max(n_events) AS max_session_events
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // q159 — peak session concurrency per day (operators/SweepLine): the
  // q40 sessions become [first_event, last_event + 1µs) intervals and
  // the sweep line reports each day's worst-moment in-flight count. The
  // textbook formulation is ONE global ordered prefix sum — stated
  // exactly that way by the oracle (single process), decomposed by the
  // engine into day subtotals + per-day windows (the budgetSelect
  // two-level shape) so no task ever sorts more than a day.
  // ------------------------------------------------------------------
  def peakConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Sessionize.sessionIds(
      Tables.events(spark, sfDir).select("user_id", "ts", "event_id"),
      "user_id", "ts", "event_id", 1800L)
    val sessions = s.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"),
        timestamp_micros(unix_micros(max(col("ts"))) + 1L).as("end_ts"))
    SweepLine.dailyPeakConcurrency(sessions, "start_ts", "end_ts")
  }

  val peakConcurrencySql: String =
    """WITH l AS (
      |  SELECT user_id, ts, event_id,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |), n AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN prev IS NULL
      |                OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
      |              ELSE 0 END AS is_new
      |  FROM l
      |), s AS (
      |  SELECT user_id, ts,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING
      |                           AND CURRENT ROW) AS session_id
      |  FROM n
      |), per AS (
      |  SELECT user_id, session_id, min(ts) AS st,
      |         max(ts) + INTERVAL 1 MICROSECOND AS et
      |  FROM s GROUP BY user_id, session_id
      |), d AS (
      |  SELECT st AS ts, CAST(1 AS BIGINT) AS delta FROM per
      |  UNION ALL
      |  SELECT et, CAST(-1 AS BIGINT) FROM per
      |), r AS (
      |  SELECT date_trunc('day', ts) AS day, delta,
      |         sum(delta) OVER (ORDER BY ts, delta
      |                          ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND CURRENT ROW) AS run
      |  FROM d
      |), ds AS (
      |  SELECT day, sum(delta) AS day_sum,
      |         CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_starts,
      |         CAST(count(*) FILTER (WHERE delta = -1) AS BIGINT) AS n_ends,
      |         CAST(max(run) AS BIGINT) AS mx
      |  FROM r GROUP BY day
      |)
      |SELECT day, n_starts, n_ends,
      |       CAST(coalesce(sum(day_sum) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |            AS BIGINT) AS carry_in,
      |       CAST(greatest(coalesce(sum(day_sum) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), mx)
      |            AS BIGINT) AS peak
      |FROM ds ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // q41 — LSH-bucketed approximate knn, SELF-VALIDATING (the q46/q53
  // tolerance pattern): the scale path's answer is compared against an
  // in-query brute-force reference on the planted corpus (q42's fixture:
  // every query vec_id < 10 has an exact copy at +100000). Identical
  // vectors share a hyperplane bucket with CERTAINTY, so LSH rank-1 must
  // equal brute-force rank-1 (the planted copy, cosine 1.0 against a
  // noise corpus maxing ≈0.51) — the boolean collapses the hash-family
  // buckets out of the output, leaving only oracle-expressible facts.
  // ------------------------------------------------------------------
  def knnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = plantedEmbeddingCorpus(spark, sfDir)
    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    val lsh1 = Similarity.lshKnn(corpus, queries, k = 1, nPlanes = 8)
      .select(col("qid"), col("neighbor_id").as("lsh_top1"))
    val brute1 = Similarity.bruteForceKnn(corpus, queries, k = 1)
      .select(col("qid"), col("neighbor_id").as("brute_top1"))
    brute1.join(lsh1, Seq("qid"))
      .select(col("qid"), col("brute_top1"),
        (col("lsh_top1") === col("brute_top1")).as("lsh_matches_brute"))
      .orderBy(col("qid"))
  }

  val knnLshSql: String =
    """SELECT vec_id AS qid, vec_id + 100000 AS brute_top1,
      |       TRUE AS lsh_matches_brute
      |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin

  // ------------------------------------------------------------------
  // q44 — full near-dup dedup pipeline: MinHash screen → exact shingle
  // jaccard >= 0.8 verification → transitive closure (connected
  // components) → cluster table. Because the PAIRS are now the verified
  // exact contract (q32), the clusters are oracle-expressible: DuckDB
  // rebuilds them with a recursive-CTE transitive closure over the same
  // jaccard pairs (q84's oracle shape — near-dup clusters are small by
  // construction, so the closure's pair blowup is bounded).
  // ------------------------------------------------------------------
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // same staged pair table as q32 — the pipeline handoff both share
    val pairs = verifiedPairs08(spark, sfDir)
      .select(col("id_a"), col("id_b"))
    graft.operators.ConnectedComponents.dedupClusters(pairs, "id_a", "id_b")
      .groupBy(col("representative"))
      .agg(count(lit(1)).as("cluster_size"),
        max(col("id")).as("max_member"))
      .orderBy(col("representative"))
  }

  val dedupClustersSql: String =
    s"""WITH $shingleJaccardCte,
      |p AS (SELECT id_a, id_b FROM jp WHERE jaccard >= 0.8),
      |e AS (SELECT id_a AS a, id_b AS b FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |closure AS (
      |  WITH RECURSIVE reach(src, dst) AS (
      |    SELECT a, b FROM e
      |    UNION
      |    SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a)
      |  SELECT * FROM reach),
      |lab AS (
      |  SELECT src AS id, least(src, min(dst)) AS representative
      |  FROM closure GROUP BY src)
      |SELECT representative,
      |       count(*) AS cluster_size,
      |       max(id) AS max_member
      |FROM lab GROUP BY representative ORDER BY representative""".stripMargin

  // ------------------------------------------------------------------
  // q43 — IVF approximate knn, SELF-VALIDATING like q41: on the planted
  // corpus the query's first probe cell IS its copy's cell (an identical
  // vector is assigned to the same nearest centroid the probe ranks
  // first), so IVF rank-1 must equal brute-force rank-1 — deterministic
  // even though the KMeans cells themselves are engine-local.
  // ------------------------------------------------------------------
  def knnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = plantedEmbeddingCorpus(spark, sfDir)
    val queries = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    // the IVF index (KMeans cells + codebook) is STAGED, not re-fit per
    // call: index build is the offline half of any ANN deployment, and
    // the 8 fit passes were this query's dominant per-call cost. Keyed
    // on the embeddings file, so a corpus swap re-stages. Self-
    // validation is unaffected: the planted duplicate is indexed into
    // the same cell its query ranks first, staged or not.
    val index = operators.Staging.stagedOrDerive(spark, "ivf16_planted",
        Seq(Tables.path(sfDir, "embeddings"))) {
      Similarity.ivfIndex(corpus, nCentroids = 16)
    }
    val ivf1 = Similarity.ivfKnnProbe(index, queries, k = 1, nProbe = 4)
      .select(col("qid"), col("neighbor_id").as("ivf_top1"))
    val brute1 = Similarity.bruteForceKnn(corpus, queries, k = 1)
      .select(col("qid"), col("neighbor_id").as("brute_top1"))
    brute1.join(ivf1, Seq("qid"))
      .select(col("qid"), col("brute_top1"),
        (col("ivf_top1") === col("brute_top1")).as("ivf_matches_brute"))
      .orderBy(col("qid"))
  }

  val knnIvfSql: String =
    """SELECT vec_id AS qid, vec_id + 100000 AS brute_top1,
      |       TRUE AS ivf_matches_brute
      |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin

  // ------------------------------------------------------------------
  // q42 — embedding-cosine near-duplicates via hyperplane LSH buckets
  // (the embedding tier of the dedup ladder). The corpus embeddings are
  // random noise (max pairwise cosine ≈ 0.51), so the query plants exact
  // copies of vec_id<20 at id+100000: the operator must recover exactly
  // those 20 pairs. Identical vectors always share an LSH bucket, so the
  // probabilistic recall does not blur the oracle; the brute-force
  // threshold join in DuckDB is the ground truth.
  // ------------------------------------------------------------------
  /** q42/q84 shared fixture: the embeddings corpus plus exact duplicates
    * of vec_id < 20 planted at +100000 — the ground truth both near-dup
    * oracles recover. ONE definition (and one SQL twin below): the
    * oracle arguments of both queries depend on the plant being
    * identical. */
  private[graft] def plantedEmbeddingCorpus(
      spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    emb.unionByName(emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"),
        col("label")))
  }

  /** DuckDB twin of [[plantedEmbeddingCorpus]] as a CTE body named `c`. */
  private[graft] val plantedEmbeddingCorpusCte: String =
    """c AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
      |  WHERE vec_id < 20)""".stripMargin

  def embeddingNearDups(spark: SparkSession, sfDir: String): DataFrame =
    // staged pair table (the q32/q84 pipeline-handoff convention)
    graft.operators.Staging.stagedOrDerive(spark, "embedding_pairs_c99",
        Seq(Tables.path(sfDir, "embeddings"))) {
      Similarity.cosineNearDups(
        plantedEmbeddingCorpus(spark, sfDir), minCosine = 0.99)
    }.select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))

  val embeddingNearDupsSql: String =
    s"""WITH $plantedEmbeddingCorpusCte
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM c a, c b
      |WHERE a.vec_id < b.vec_id
      |  AND list_cosine_similarity(a.emb, b.emb) >= 0.99
      |ORDER BY 1, 2""".stripMargin

  // ---- shared DuckDB fragments: repetition + fuzzy oracle families ----
  // One definition per contract, composed by q139/q140/q142 (a one-sided
  // edit to a duplicated oracle string is how a capstone drifts from its
  // component queries silently).

  /** `${p}n(doc_id, norm)` — nonempty normalized text. */
  private def normCteSql(p: String): String =
    s"""${p}n AS (
       |  SELECT doc_id, ${normSql("text")} AS norm FROM documents
       |  WHERE length(${normSql("text")}) > 0)""".stripMargin

  /** Repetition-metric CTE chain reading `${p}n`, ending in
    * `${p}base` / `${p}top` / `${p}dup5` (gram CTEs mirror
    * shingleArray's short-doc contract). */
  private def repetitionCtesSql(p: String): String = {
    def gramCte(name: String, n: Int): String =
      s"""$name AS (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= $n
         |    THEN list_transform(range(1, len(w) - ${n - 2}),
         |      i -> array_to_string(w[i:i+${n - 1}], ' '))
         |    ELSE [array_to_string(w, ' ')] END) AS g FROM ${p}t)""".stripMargin
    s"""${p}t AS (
       |  SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
       |         string_split(norm, ' ') AS w FROM ${p}n),
       |${p}base AS (
       |  SELECT doc_id, n_chars, CAST(len(w) AS BIGINT) AS n_words,
       |         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct FROM ${p}t),
       |${gramCte(s"${p}g2", 2)},
       |${p}c2 AS (SELECT doc_id, g, count(*) AS c FROM ${p}g2 GROUP BY 1, 2),
       |${p}top AS (
       |  SELECT doc_id, g AS top_bigram, c AS top_bigram_count FROM (
       |    SELECT doc_id, g, c, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM ${p}c2)
       |  WHERE rn = 1),
       |${gramCte(s"${p}g5", 5)},
       |${p}c5 AS (SELECT doc_id, g, count(*) AS c FROM ${p}g5 GROUP BY 1, 2),
       |${p}dup5 AS (
       |  SELECT doc_id, sum(c * CAST(length(g) AS BIGINT)) AS dup5_chars
       |  FROM ${p}c5 WHERE c > 1 GROUP BY 1)""".stripMargin
  }

  /** Per-mille metric expressions over aliases of base/top/dup5. */
  private def dupWordPmlSql(b: String): String =
    s"(1000 * ($b.n_words - $b.n_distinct)) // $b.n_words"
  private def topBigramPmlSql(t: String, b: String): String =
    s"""CASE WHEN coalesce($t.top_bigram_count, 0) >= 2
       |         THEN least((1000 * $t.top_bigram_count * CAST(length($t.top_bigram) AS BIGINT))
       |              // $b.n_chars, 1000)
       |         ELSE 0 END""".stripMargin
  private def dup5PmlSql(d: String, b: String): String =
    // CAST: DuckDB sum() yields HUGEINT and // keeps it, so without the
    // cast the output column hashes as HUGEINT vs the Spark plan's
    // BIGINT even though every value is equal (r9's one red row).
    s"CAST(least(coalesce((1000 * $d.dup5_chars) // $b.n_chars, 0), 1000) AS BIGINT)"
  private def repetitiveSql(b: String, t: String, d: String): String =
    s"""(${dupWordPmlSql(b)} > 300
       |        OR ${topBigramPmlSql(t, b)} > 180
       |        OR ${dup5PmlSql(d, b)} > 150)""".stripMargin

  /** Fuzzy blocking passes reading `${p}n`: `${p}p0`/`${p}p1` are the
    * verified pair sets of the unshifted and shift-12 passes. */
  private def fuzzyPassCtesSql(p: String): String =
    s"""${p}b0 AS (
       |  SELECT doc_id, substring(norm, 1, 12) AS blk,
       |         substring(norm, 1, 64) AS pfx FROM ${p}n),
       |${p}b1 AS (
       |  SELECT doc_id, substring(norm, 13, 12) AS blk,
       |         substring(norm, 1, 64) AS pfx FROM ${p}n
       |  WHERE length(norm) > 12),
       |${p}p0 AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |         CAST(levenshtein(x.pfx, y.pfx) AS INT) AS edit_distance
       |  FROM ${p}b0 x JOIN ${p}b0 y ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  WHERE levenshtein(x.pfx, y.pfx) <= 5),
       |${p}p1 AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |         CAST(levenshtein(x.pfx, y.pfx) AS INT) AS edit_distance
       |  FROM ${p}b1 x JOIN ${p}b1 y ON x.blk = y.blk AND x.doc_id < y.doc_id
       |  WHERE levenshtein(x.pfx, y.pfx) <= 5)""".stripMargin

  // ------------------------------------------------------------------
  // q141 — EMBEDDING-space decontamination (the cosine counterpart of
  // q76's n-gram tier): train vectors within 0.99 cosine of an eval
  // vector are flagged. The eval set is 20 exact copies of train
  // vectors re-id'd at +200000 (the q42 planting argument: identical
  // vectors share every LSH band with certainty, and the corpus's
  // organic max pairwise cosine ≈ 0.51 sits far under the threshold,
  // so screen recall is exact and DuckDB's brute-force cross join is
  // the ground truth).
  // ------------------------------------------------------------------
  def embeddingDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val train = Tables.embeddings(spark, sfDir)
    val eval_ = train.filter(col("vec_id") < 20)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    Similarity.crossCosineNearDupsBanded(train, eval_, minCosine = 0.99)
      .select(col("id_a").as("train_id"), col("id_b").as("eval_id"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  val embeddingDecontaminateSql: String =
    """WITH t AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |e AS (
      |  SELECT vec_id + 200000 AS vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id < 20)
      |SELECT t.vec_id AS train_id, e.vec_id AS eval_id
      |FROM t, e
      |WHERE list_cosine_similarity(t.emb, e.emb) >= 0.99
      |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q142 — ingest-to-training funnel capstone: per source, how many
  // documents each round-9 gate would remove — repetition filters
  // (q140's flag), fuzzy-duplicate removal (non-canonical side of a
  // multipass pair, q139), embedding decontamination (q141's planted
  // eval set, doc_id ≡ vec_id), and the clean remainder. Gates are
  // INDEPENDENT counts (a doc can trip several), n_clean counts docs
  // tripping none — the report a pipeline owner reads before a
  // training run. All counts integer, hash-exact.
  // ------------------------------------------------------------------
  def qualityFunnel2(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val rep = operators.Repetition.metrics(
        Tables.rebalance(docs.select("doc_id", "text")), "doc_id", "text")
      .select(col("doc_id"), col("repetitive"))
    val dupB = FuzzyMatch.multiPassPairs(docs, "doc_id", "text",
        blockLen = 12, prefixLen = 64, maxDist = 5, shiftsOpt = Seq(0, 12))
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("fuzzy_dup", lit(true))
    val train = Tables.embeddings(spark, sfDir)
    val eval_ = train.filter(col("vec_id") < 20)
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
    val cont = Similarity.crossCosineNearDupsBanded(train, eval_, 0.99)
      .select(col("id_a").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    docs.select(col("doc_id"), col("source"))
      .join(rep, Seq("doc_id"), "left")
      .join(dupB, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("repetitive"), lit(false)).as("repetitive"),
        coalesce(col("fuzzy_dup"), lit(false)).as("fuzzy_dup"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("repetitive")).as("n_repetitive"),
        count_if(col("fuzzy_dup")).as("n_fuzzy_dup"),
        count_if(col("contaminated")).as("n_contaminated"),
        count_if(!col("repetitive") && !col("fuzzy_dup") &&
          !col("contaminated")).as("n_clean"))
      .orderBy(col("source"))
  }

  val qualityFunnel2Sql: String =
    s"""WITH ${normCteSql("r")},
      |${repetitionCtesSql("r")},
      |repflag AS (
      |  SELECT b.doc_id,
      |         ${repetitiveSql("b", "t", "d")}
      |           AS repetitive
      |  FROM rbase b
      |  LEFT JOIN rtop t USING (doc_id)
      |  LEFT JOIN rdup5 d USING (doc_id)),
      |${fuzzyPassCtesSql("r")},
      |fdup AS (
      |  SELECT DISTINCT id_b AS doc_id FROM (
      |    SELECT id_b FROM rp0 UNION ALL SELECT id_b FROM rp1)),
      |et AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |ee AS (
      |  SELECT vec_id + 200000 AS vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings WHERE vec_id < 20),
      |econt AS (
      |  SELECT DISTINCT t.vec_id AS doc_id
      |  FROM et t, ee e
      |  WHERE list_cosine_similarity(t.emb, e.emb) >= 0.99)
      |SELECT d.source,
      |       count(*) AS n_docs,
      |       count(*) FILTER (WHERE coalesce(r.repetitive, FALSE)) AS n_repetitive,
      |       count(*) FILTER (WHERE f.doc_id IS NOT NULL) AS n_fuzzy_dup,
      |       count(*) FILTER (WHERE e.doc_id IS NOT NULL) AS n_contaminated,
      |       count(*) FILTER (WHERE NOT coalesce(r.repetitive, FALSE)
      |         AND f.doc_id IS NULL AND e.doc_id IS NULL) AS n_clean
      |FROM documents d
      |LEFT JOIN repflag r USING (doc_id)
      |LEFT JOIN fdup f USING (doc_id)
      |LEFT JOIN econt e USING (doc_id)
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // ------------------------------------------------------------------
  // q50 — multimodal plumbing: payload → (stub) decode → feature stats.
  // ------------------------------------------------------------------
  // ------------------------------------------------------------------
  // q69 — int8 embedding quantization (operators/Quantize): per-vector
  // symmetric codes, integer checksum, saturation count, and max
  // reconstruction error. Everything is elementwise IEEE double + an
  // order-free array max — no cross-row float accumulation — so the
  // oracle replays trunc(v * 127/max|v|) in DuckDB bit-exactly.
  // ------------------------------------------------------------------
  def quantizeEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Quantize.quantized(
      Tables.rebalance(
        Tables.embeddings(spark, sfDir).select("vec_id", "embedding")),
      "embedding")
      .select(col("vec_id"), size(col("codes")).as("n_dims"),
        col("code_sum"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n_saturated"),
        col("max_recon_err"))
      .orderBy(col("vec_id"))

  val quantizeEmbeddingsSql: String =
    """WITH m AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding,
      |                  v -> abs(CAST(v AS DOUBLE)))) AS ma
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id, embedding, ma,
      |         CASE WHEN ma > 0
      |              THEN list_transform(embedding,
      |                     v -> CAST(trunc(CAST(v AS DOUBLE) * (127.0 / ma)) AS INT))
      |              ELSE list_transform(embedding, v -> 0) END AS codes
      |  FROM m
      |)
      |SELECT vec_id, CAST(len(codes) AS INT) AS n_dims,
      |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |       CAST(len(list_filter(codes, c -> abs(c) = 127)) AS INT) AS n_saturated,
      |       CASE WHEN ma > 0
      |            THEN list_max(list_transform(range(1, len(codes) + 1),
      |                   i -> abs(CAST(embedding[i] AS DOUBLE)
      |                            - CAST(codes[i] AS DOUBLE) * (ma / 127.0))))
      |            ELSE 0.0 END AS max_recon_err
      |FROM q ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------
  // q74 — keep-BEST dedup (Dedup.keepBestGroups): one winner per
  // normalized-text cluster chosen by raw length (the variant with the
  // most original formatting), ties to the smallest id — max(struct)
  // argmax through a partial/final hash aggregate, no window sort
  // (q63's at-scale argument). Digest, ids, counts, and the char-length
  // quality are all integer/string-exact cross-engine.
  // ------------------------------------------------------------------
  def keepBestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val norm = TextFunctions.normalizeText(col("text"))
    Dedup.keepBestGroups(d, "doc_id",
        md5(norm.cast("binary")), length(col("text")).cast("long"))
      .orderBy(col("digest"))
  }

  val keepBestDedupSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, md5(${normSql("text")}) AS digest,
      |         CAST(length(text) AS BIGINT) AS q
      |  FROM documents
      |), r AS (
      |  SELECT digest, doc_id, q,
      |         row_number() OVER (PARTITION BY digest
      |                            ORDER BY q DESC, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY digest) AS dup_count
      |  FROM t
      |)
      |SELECT digest, doc_id AS keep_id, dup_count, q AS best_quality
      |FROM r WHERE rn = 1 ORDER BY digest""".stripMargin

  // ------------------------------------------------------------------
  // q73 — top-k search over the int8 codes (the search half of q69's
  // quantize→search path). Integer dot products (terms ≤ 127², 128-dim
  // sums ≪ 2^53) stay EXACT through the double cosine math, so unlike
  // float-embedding cosine this ANN tier is bit-reproducible and the
  // DuckDB oracle replays it hash-exactly.
  // ------------------------------------------------------------------
  def knnInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.rebalance(
      Tables.embeddings(spark, sfDir).select("vec_id", "embedding"))
    Similarity.int8Knn(emb, emb.filter(col("vec_id") < 10), k = 5)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("qcos"))
      .orderBy(col("qid"), col("rank"))
  }

  val knnInt8Sql: String =
    """WITH m AS (
      |  SELECT vec_id,
      |         list_max(list_transform(embedding,
      |                  v -> abs(CAST(v AS DOUBLE)))) AS ma,
      |         embedding
      |  FROM embeddings
      |), q AS (
      |  SELECT vec_id,
      |         CASE WHEN ma > 0
      |              THEN list_transform(embedding,
      |                     v -> CAST(trunc(CAST(v AS DOUBLE) * (127.0 / ma)) AS INT))
      |              ELSE list_transform(embedding, v -> 0) END AS codes
      |  FROM m
      |), scored AS (
      |  SELECT qv.vec_id AS qid, cv.vec_id AS neighbor_id,
      |         CASE WHEN list_sum(list_transform(cv.codes, c -> c * c)) > 0
      |               AND list_sum(list_transform(qv.codes, c -> c * c)) > 0
      |              THEN CAST(list_sum(list_transform(range(1, len(cv.codes) + 1),
      |                          i -> cv.codes[i] * qv.codes[i])) AS DOUBLE)
      |                   / sqrt(CAST(list_sum(list_transform(cv.codes, c -> c * c)) AS DOUBLE)
      |                          * CAST(list_sum(list_transform(qv.codes, c -> c * c)) AS DOUBLE))
      |              ELSE 0.0 END AS qcos
      |  FROM q cv CROSS JOIN (SELECT * FROM q WHERE vec_id < 10) qv
      |  WHERE cv.vec_id <> qv.vec_id
      |), ranked AS (
      |  SELECT qid, neighbor_id, qcos,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY qcos DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT qid, rank, neighbor_id, qcos FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  def multimodalStats(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = Multimodal.payloadFromText(
      Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text")),
      "doc_id", "source", "text")
    Multimodal.featureStats(Multimodal.decodeFeatures(payloads))
  }

  // ------------------------------------------------------------------
  // q89 — quality-filter funnel (C4/Gopher cascade report): per-stage
  // attrition through min-tokens → lang-id → stopword-floor → max-tokens.
  // One corpus scan, one tiny aggregate (see operators/Funnel.scala); the
  // stopword floor is the integer-exact form stop_hits*50 >= n_tokens
  // (ratio >= 0.02 without a float division).
  // ------------------------------------------------------------------
  def qualityFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.rebalance(
      Tables.documents(spark, sfDir).select("doc_id", "text"))
    val nTokens = TextFunctions.tokenCountWs(col("text"))
    val stopHits = TextFunctions.stopwordHits(
      col("text"), TextFunctions.langMarkers.flatMap(_._2))
    Funnel.report(d, Seq(
      "min_tokens" -> (nTokens >= 20),
      "lang_en" -> (TextFunctions.langId(col("text")) === "en"),
      "stopword_floor" -> (stopHits * 50 >= nTokens),
      "max_tokens" -> (nTokens <= 80)))
  }

  val qualityFunnelSql: String = {
    val allWords = TextFunctions.langMarkers.flatMap(_._2)
    val scoreExprs = TextFunctions.langMarkers.map { case (lang, words) =>
      s"${stopHitsSql("p", words)} AS s_$lang"
    }.mkString(",\n       ")
    s"""WITH t AS (SELECT ${normSql("text")} AS p FROM documents),
      |m AS (
      |  SELECT p, ${tokCountSql("p")} AS n_tokens,
      |       $scoreExprs,
      |       ${stopHitsSql("p", allWords)} AS stop_hits
      |  FROM t),
      |f AS (
      |  SELECT CASE
      |    WHEN NOT (n_tokens >= 20) THEN 0
      |    WHEN NOT ((CASE WHEN s_en + s_es + s_fr + s_de = 0 THEN 'und'
      |                    WHEN s_de > greatest(s_en, s_es, s_fr) THEN 'de'
      |                    WHEN s_fr > greatest(s_en, s_es) THEN 'fr'
      |                    WHEN s_es > s_en THEN 'es'
      |                    ELSE 'en' END) = 'en') THEN 1
      |    WHEN NOT (stop_hits * 50 >= n_tokens) THEN 2
      |    WHEN NOT (n_tokens <= 80) THEN 3
      |    ELSE 4 END AS fail_idx
      |  FROM m),
      |stages(stage_idx, stage) AS (
      |  VALUES (0, 'min_tokens'), (1, 'lang_en'),
      |         (2, 'stopword_floor'), (3, 'max_tokens'))
      |SELECT s.stage_idx, s.stage,
      |       count(*) FILTER (WHERE f.fail_idx >= s.stage_idx) AS docs_in,
      |       count(*) FILTER (WHERE f.fail_idx >= s.stage_idx + 1) AS docs_out,
      |       CASE WHEN count(*) FILTER (WHERE f.fail_idx >= s.stage_idx) > 0
      |            THEN CAST(count(*) FILTER (WHERE f.fail_idx >= s.stage_idx + 1) AS DOUBLE)
      |                 / CAST(count(*) FILTER (WHERE f.fail_idx >= s.stage_idx) AS DOUBLE)
      |            ELSE 0.0 END AS frac_kept
      |FROM stages s CROSS JOIN f
      |GROUP BY s.stage_idx, s.stage
      |ORDER BY s.stage_idx""".stripMargin
  }

  /** q50 oracle: the stub codec is a pure function of the payload bytes, so
    * DuckDB can replay it bit-exactly — the mod-2^64 multiply-add hash in
    * HUGEINT (the q39 pattern; payload == UTF-8 bytes == codepoints on the
    * ASCII corpus), arithmetic shifts as truncating division with a sign
    * correction, the 16-step LCG walk as a recursive CTE, and Java's
    * float rounding as CAST(... AS REAL) (a 53-bit value rounds to REAL by
    * the same nearest-even rule as long->float; the product of two floats
    * is exact in double, so CAST(fv*fv AS REAL) equals Java's float
    * multiply). The cross-row mean goes through DECIMAL(18,9) on both
    * sides, so summation order can't flip a ULP. */
  val multimodalStatsSql: String =
    """WITH RECURSIVE h0 AS (
      |  SELECT doc_id, source, length(text) AS n_bytes,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents
      |), meta AS (
      |  SELECT doc_id, source, n_bytes, hu,
      |         CASE WHEN hu >= 9223372036854775808::HUGEINT
      |              THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS hs
      |  FROM h0
      |), geom AS (
      |  SELECT doc_id, source, n_bytes,
      |         1 + CAST(((hs % 1920) + 1920) % 1920 AS INT) AS width,
      |         1 + CAST((((hu // 65536::HUGEINT
      |                     - CASE WHEN hu >= 9223372036854775808::HUGEINT
      |                            THEN 281474976710656::HUGEINT ELSE 0::HUGEINT END)
      |                    % 1080) + 1080) % 1080 AS INT) AS height,
      |         CASE WHEN hu % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |  FROM meta
      |), lcg AS (
      |  SELECT doc_id, hu AS s, 0 AS j, CAST(0 AS DOUBLE) AS energy FROM meta
      |  UNION ALL
      |  SELECT doc_id, s2, j + 1,
      |         energy + CAST(CAST(fv * fv AS REAL) AS DOUBLE)
      |  FROM (
      |    SELECT doc_id, j, energy,
      |           (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      |             % 18446744073709551616::HUGEINT AS s2
      |    FROM lcg WHERE j < 16
      |  ) t,
      |  LATERAL (SELECT CAST(CAST(CAST(s2 // 2048::HUGEINT AS BIGINT) AS REAL) AS DOUBLE)
      |                  / 9007199254740992.0 AS fv) f
      |), energies AS (
      |  SELECT doc_id, energy FROM lcg WHERE j = 16
      |)
      |SELECT g.source,
      |       count(*) AS n_media,
      |       CAST(sum(g.n_bytes) AS BIGINT) AS total_bytes,
      |       CAST(sum(g.width) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_width,
      |       CAST(sum(g.height) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_height,
      |       count(*) FILTER (WHERE g.format = 'png') AS n_png,
      |       CAST(sum(CAST(CAST(e.energy AS VARCHAR) AS DECIMAL(18,9))) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS avg_feature_energy
      |FROM geom g JOIN energies e ON g.doc_id = e.doc_id
      |GROUP BY g.source
      |ORDER BY g.source""".stripMargin

  // ------------------------------------------------------------------
  // q154 — perceptual-hash image near-dups: decode → 16-bit aHash over
  // the feature vector (bit j = cell j strictly above the vector mean,
  // in exact DECIMAL) → COMPLETE hamming≤1 pairs via the single-bit-
  // flip equality join (operators/Multimodal.aHash16/phashNearDups16).
  // The oracle replays the stub decode (q50's HUGEINT mod-2^64 hash +
  // 16-step LCG), the DECIMAL bit derivation, and an all-pairs hamming
  // check with NO flip logic — screen incompleteness would surface as a
  // missing row in the hash compare (the q149 lossless-claim pattern).
  // ------------------------------------------------------------------
  def phashNearDups(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = Multimodal.payloadFromText(
      Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text")),
      "doc_id", "source", "text")
    Multimodal.phashNearDups16(
        Multimodal.aHash16(Multimodal.decodeFeatures(payloads)), "media_id")
      .orderBy(col("id_a"), col("id_b"))
  }

  val phashNearDupsSql: String =
    """WITH RECURSIVE h0 AS (
      |  SELECT doc_id,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents
      |), lcg AS (
      |  SELECT doc_id, hu AS s, 0 AS j FROM h0
      |  UNION ALL
      |  SELECT doc_id,
      |         (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      |           % 18446744073709551616::HUGEINT, j + 1
      |  FROM lcg WHERE j < 16
      |), feats AS (
      |  SELECT doc_id, j - 1 AS idx,
      |         CAST(CAST(CAST(CAST(CAST(s // 2048::HUGEINT AS BIGINT) AS REAL) AS DOUBLE)
      |              / 9007199254740992.0 AS VARCHAR) AS DECIMAL(18,9)) AS dv
      |  FROM lcg WHERE j >= 1
      |), tot AS (
      |  SELECT doc_id, sum(dv) AS total FROM feats GROUP BY doc_id
      |), ph AS (
      |  SELECT f.doc_id,
      |         CAST(sum(CASE WHEN f.dv * 16 > t.total
      |                       THEN (CAST(1 AS BIGINT) << f.idx) ELSE 0 END)
      |              AS BIGINT) AS phash
      |  FROM feats f JOIN tot t USING (doc_id)
      |  GROUP BY f.doc_id
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q164 — audio silence profiling (Multimodal.stubWaveform +
  // silenceRunMediaStats): the dead-air screen an audio pipeline runs before
  // training on clips. Stub waveform (payload poly-31 hash + LCG, the
  // q50 contract; 1 + h mod 240 samples, amplitudes in [0,1024)) →
  // gaps-and-islands silence runs (amp < 128, length ≥ 3) → per-source
  // run counts, longest run, and dead-air ppm. The oracle replays the
  // waveform with the q50 HUGEINT machinery and the same pos −
  // row_number island key.
  // ------------------------------------------------------------------
  def audioSilence(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = Multimodal.payloadFromText(
      Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text")),
      "doc_id", "source", "text")
    val samples = Multimodal.stubWaveform(payloads)
    // one-pass per-media stats (Multimodal.silenceRunMediaStats): the
    // old two-consumer shape (a silence-run table + a per-source count
    // over the same `samples`) expanded the waveform twice — Catalyst
    // duplicates shared subtrees, and the mapPartitions decode is
    // opaque to it. Same values: per-media rows are distinct, so
    // count(*) here ≡ countDistinct(media_id) there, and the re-summed
    // run stats are the same integers the run-level aggregate produced.
    val stats = Multimodal.silenceRunMediaStats(
      samples, silenceBelow = 128, minRun = 3)
    stats.groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_samples")).as("n_samples"),
        sum(col("n_runs")).as("n_runs"),
        max(col("longest_run")).as("longest_run"),
        sum(col("sil_in_runs")).as("sil_in_runs"))
      .select(col("source"), col("n_media"), col("n_samples"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        expr("CAST((CAST(coalesce(sil_in_runs, 0) AS DECIMAL(38,0))" +
          " * 1000000) DIV n_samples AS BIGINT)").as("silence_run_ppm"))
      .orderBy(col("source"))
  }

  val audioSilenceSql: String =
    """WITH RECURSIVE h0 AS (
      |  SELECT doc_id, source,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents
      |), meta AS (
      |  SELECT doc_id, source, hu,
      |         1 + CAST(((CASE WHEN hu >= 9223372036854775808::HUGEINT
      |                         THEN hu - 18446744073709551616::HUGEINT
      |                         ELSE hu END % 240) + 240) % 240 AS INT) AS n
      |  FROM h0
      |), lcg AS (
      |  SELECT doc_id, source, hu AS s, 0 AS j, n FROM meta
      |  UNION ALL
      |  SELECT doc_id, source,
      |         (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      |           % 18446744073709551616::HUGEINT, j + 1, n
      |  FROM lcg WHERE j < n
      |), samples AS (
      |  SELECT doc_id, source, j AS pos,
      |         CAST((s // 2048::HUGEINT) % 1024 AS INT) AS amp
      |  FROM lcg WHERE j >= 1
      |), sil AS (
      |  SELECT doc_id, source, pos,
      |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM samples WHERE amp < 128
      |), runs AS (
      |  SELECT doc_id, source, grp, CAST(count(*) AS BIGINT) AS run_len
      |  FROM sil GROUP BY doc_id, source, grp
      |  HAVING count(*) >= 3
      |), ps AS (
      |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_media,
      |         CAST(count(*) AS BIGINT) AS n_samples
      |  FROM samples GROUP BY source
      |), pr AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_runs,
      |         CAST(max(run_len) AS BIGINT) AS longest_run,
      |         CAST(sum(run_len) AS BIGINT) AS sil_in_runs
      |  FROM runs GROUP BY source
      |)
      |SELECT ps.source, ps.n_media, ps.n_samples,
      |       coalesce(pr.n_runs, 0) AS n_runs,
      |       coalesce(pr.longest_run, 0) AS longest_run,
      |       CAST((CAST(coalesce(pr.sil_in_runs, 0) AS HUGEINT) * 1000000)
      |            // ps.n_samples AS BIGINT) AS silence_run_ppm
      |FROM ps LEFT JOIN pr USING (source)
      |ORDER BY ps.source""".stripMargin

  // ------------------------------------------------------------------
  // q165 — video scene-cut profiling (Multimodal.sceneCuts over the
  // stub frame stream): a cut is a ≥512 jump in the per-frame feature;
  // the running cut count segments each clip into scenes in the same
  // window pass. Per source: clips, frames, cuts, the longest scene,
  // and the cut rate over transitions (frames − clips). Completes the
  // modality triple: image (q154 pHash), audio (q164 silence), video.
  // ------------------------------------------------------------------
  def videoCuts(spark: SparkSession, sfDir: String): DataFrame = {
    val payloads = Multimodal.payloadFromText(
      Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text")),
      "doc_id", "source", "text")
    val seg = Multimodal.sceneCuts(
      Multimodal.stubWaveform(payloads), minDelta = 512)
    // ONE consumer of `seg`: the old shape aggregated it twice (scene
    // lengths + per-media frame/cut counts) and joined the halves —
    // Catalyst duplicates shared subtrees, so the mapPartitions
    // waveform expansion and the cut window ran twice per call. The
    // scene-level aggregate already holds everything: frames = Σ
    // scene_len, cuts = Σ per-scene cuts, and the two re-aggregates
    // ride the window's media_id partitioning (no new exchange until
    // the final per-source rollup). Values are the same integers.
    val scenes = seg.groupBy(col("media_id"), col("source"), col("scene"))
      .agg(count(lit(1)).as("scene_len"),
        sum(when(col("is_cut"), 1L).otherwise(0L)).as("n_cuts_s"))
    val perMedia = scenes.groupBy(col("media_id"), col("source"))
      .agg(sum(col("scene_len")).as("n_frames"),
        sum(col("n_cuts_s")).as("n_cuts"),
        max(col("scene_len")).as("longest_m"))
    perMedia.groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("n_cuts")).as("n_cuts"),
        max(col("longest_m")).as("longest_scene"))
      .select(col("source"), col("n_media"), col("n_frames"), col("n_cuts"),
        col("longest_scene"),
        expr("CASE WHEN n_frames > n_media THEN" +
          " CAST((CAST(n_cuts AS DECIMAL(38,0)) * 1000000)" +
          " DIV (n_frames - n_media) AS BIGINT) END").as("cut_rate_ppm"))
      .orderBy(col("source"))
  }

  val videoCutsSql: String =
    """WITH RECURSIVE h0 AS (
      |  SELECT doc_id, source,
      |         list_reduce(
      |           list_prepend(1125899906842597::HUGEINT,
      |             list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
      |           (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents
      |), meta AS (
      |  SELECT doc_id, source, hu,
      |         1 + CAST(((CASE WHEN hu >= 9223372036854775808::HUGEINT
      |                         THEN hu - 18446744073709551616::HUGEINT
      |                         ELSE hu END % 240) + 240) % 240 AS INT) AS n
      |  FROM h0
      |), lcg AS (
      |  SELECT doc_id, source, hu AS s, 0 AS j, n FROM meta
      |  UNION ALL
      |  SELECT doc_id, source,
      |         (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT)
      |           % 18446744073709551616::HUGEINT, j + 1, n
      |  FROM lcg WHERE j < n
      |), samples AS (
      |  SELECT doc_id, source, j AS pos,
      |         CAST((s // 2048::HUGEINT) % 1024 AS INT) AS amp
      |  FROM lcg WHERE j >= 1
      |), seg AS (
      |  SELECT doc_id, source, pos, amp,
      |         CASE WHEN lag(amp) OVER w IS NOT NULL
      |               AND abs(amp - lag(amp) OVER w) >= 512
      |              THEN 1 ELSE 0 END AS is_cut
      |  FROM samples
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |), sc AS (
      |  SELECT doc_id, source, pos, is_cut,
      |         sum(is_cut) OVER (PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
      |  FROM seg
      |), scenes AS (
      |  SELECT doc_id, source, scene, CAST(count(*) AS BIGINT) AS scene_len
      |  FROM sc GROUP BY doc_id, source, scene
      |), pm AS (
      |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_frames,
      |         CAST(sum(is_cut) AS BIGINT) AS n_cuts
      |  FROM sc GROUP BY doc_id, source
      |), ps AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_media,
      |         CAST(sum(n_frames) AS BIGINT) AS n_frames,
      |         CAST(sum(n_cuts) AS BIGINT) AS n_cuts
      |  FROM pm GROUP BY source
      |), ls AS (
      |  SELECT source, CAST(max(scene_len) AS BIGINT) AS longest_scene
      |  FROM scenes GROUP BY source
      |)
      |SELECT ps.source, ps.n_media, ps.n_frames, ps.n_cuts, ls.longest_scene,
      |       CASE WHEN ps.n_frames > ps.n_media THEN
      |         CAST((CAST(ps.n_cuts AS HUGEINT) * 1000000)
      |              // (ps.n_frames - ps.n_media) AS BIGINT) END AS cut_rate_ppm
      |FROM ps JOIN ls USING (source)
      |ORDER BY ps.source""".stripMargin

  // ------------------------------------------------------------------
  // q157 — Poisson-bootstrap error bars (operators/Bootstrap): 95%
  // confidence intervals on the per-source mean token count from 32
  // deterministic Poisson(1) replicas. All B replicas ride ONE narrow
  // pass (each row hashes its own multiplicity per replica), the only
  // exchange is the (source × replica) aggregate, and every statistic
  // is an exact scaled-integer ratio — the oracle replays draws, sums,
  // and percentile ranks verbatim.
  // ------------------------------------------------------------------
  def bootstrapTokenCi(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.rebalance(
        Tables.documents(spark, sfDir).select("doc_id", "source", "text"))
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCountWs(col("text")).as("n_tokens"))
    val ci = Bootstrap.percentileCi(
      Bootstrap.replicaMeans(toks, "doc_id", "source", "n_tokens", b = 32),
      "source")
    toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("(sum(CAST(n_tokens AS BIGINT)) * 1000000) div count(1)")
          .as("point_scaled"))
      .join(ci, Seq("source"))
      .orderBy(col("source"))
  }

  val bootstrapTokenCiSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, ${tokCountSql(normSql("text"))} AS n_tokens
      |  FROM documents),
      |reps AS (SELECT t.*, r.b FROM t, UNNEST(range(0, 32)) AS r(b)),
      |m AS (
      |  SELECT source, b, n_tokens,
      |         (CASE WHEN u >= 367879 THEN 1 ELSE 0 END +
      |          CASE WHEN u >= 735759 THEN 1 ELSE 0 END +
      |          CASE WHEN u >= 919699 THEN 1 ELSE 0 END +
      |          CASE WHEN u >= 981012 THEN 1 ELSE 0 END) AS mult
      |  FROM (SELECT *, ('0x' || substr(md5(doc_id || ':' || b), 1, 8))::BIGINT
      |                    % 1000000 AS u
      |        FROM reps)),
      |rm AS (
      |  SELECT source, b,
      |         CASE WHEN sum(mult) > 0
      |              THEN (sum(mult * CAST(n_tokens AS BIGINT)) * 1000000)
      |                     // sum(mult)
      |         END AS mean_scaled
      |  FROM m GROUP BY source, b),
      |rk AS (
      |  SELECT source, b, mean_scaled,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY mean_scaled, b) AS rn,
      |         count(*) OVER (PARTITION BY source) AS n
      |  FROM rm WHERE mean_scaled IS NOT NULL),
      |ci AS (
      |  SELECT source,
      |         CAST(max(CASE WHEN rn = (n * 5 + 99) // 100
      |                       THEN mean_scaled END) AS BIGINT) AS lo_scaled,
      |         CAST(max(CASE WHEN rn = (n * 95 + 99) // 100
      |                       THEN mean_scaled END) AS BIGINT) AS hi_scaled,
      |         CAST(max(n) AS BIGINT) AS n_replicas
      |  FROM rk GROUP BY source),
      |pt AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST((sum(CAST(n_tokens AS BIGINT)) * 1000000) // count(*)
      |              AS BIGINT) AS point_scaled
      |  FROM t GROUP BY source)
      |SELECT p.source, p.n_docs, p.point_scaled,
      |       c.lo_scaled, c.hi_scaled, c.n_replicas
      |FROM pt p JOIN ci c USING (source)
      |ORDER BY p.source""".stripMargin

  // ------------------------------------------------------------------
  // q121 — blocked edit-distance matching (operators/FuzzyMatch): the
  // typo-level dedup tier between q30's exact digests and q32's shingle
  // similarity. Prefix blocking makes candidate generation one bounded
  // equi-join; the levenshtein verdict is unit-integer edit costs, so
  // the whole result is engine-exact (DuckDB replays it verbatim).
  // ------------------------------------------------------------------
  def fuzzyMatches(spark: SparkSession, sfDir: String): DataFrame =
    FuzzyMatch.blockedPairs(Tables.documents(spark, sfDir), "doc_id", "text",
        blockLen = 12, prefixLen = 64, maxDist = 5)
      .orderBy(col("id_a"), col("id_b"))

  val fuzzyMatchesSql: String =
    s"""WITH n AS (
      |  SELECT doc_id, ${normSql("text")} AS norm FROM documents),
      |b AS (
      |  SELECT doc_id, substring(norm, 1, 12) AS blk,
      |         substring(norm, 1, 64) AS pfx
      |  FROM n WHERE length(norm) > 0)
      |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |       CAST(levenshtein(x.pfx, y.pfx) AS INT) AS edit_distance
      |FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
      |WHERE levenshtein(x.pfx, y.pfx) <= 5
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q139 — the recall-hardened fuzzy tier: q121's blocking UNION a
  // second pass keyed on chars 13..24, deduped on the pair. Recovers
  // the pairs whose typo lands inside the first block key (q121's
  // documented miss). Oracle replays both passes in SQL — completeness
  // of the union and the min-distance dedup are hash-checked.
  // ------------------------------------------------------------------
  def fuzzyMultipass(spark: SparkSession, sfDir: String): DataFrame =
    FuzzyMatch.multiPassPairs(Tables.documents(spark, sfDir), "doc_id",
        "text", blockLen = 12, prefixLen = 64, maxDist = 5,
        shiftsOpt = Seq(0, 12))
      .orderBy(col("id_a"), col("id_b"))

  val fuzzyMultipassSql: String =
    s"""WITH ${normCteSql("")},
      |${fuzzyPassCtesSql("")}
      |SELECT id_a, id_b, min(edit_distance) AS edit_distance
      |FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1)
      |GROUP BY id_a, id_b
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q140 — Gopher-style repetition quality filters (operators/
  // Repetition): repeated-word fraction, top-2-gram char coverage,
  // duplicated-5-gram char coverage — all per-mille integers (exact
  // arithmetic end to end), plus the threshold flag. The oracle replays
  // the whole pipeline: shingle CTEs mirror shingleArray's short-doc
  // contract, top-gram ties break to the smallest gram in both engines.
  // ------------------------------------------------------------------
  def repetitionFilter(spark: SparkSession, sfDir: String): DataFrame =
    // rebalance: the metrics pass is map-only CPU (per-doc gram hashmaps)
    // downstream of a single-row-group scan — spread it across cores
    // first (no-op on real multi-file inputs)
    operators.Repetition.metrics(
        Tables.rebalance(Tables.documents(spark, sfDir)
          .select("doc_id", "text")),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val repetitionFilterSql: String =
    s"""WITH ${normCteSql("")},
      |${repetitionCtesSql("")}
      |SELECT b.doc_id, b.n_words, b.n_chars,
      |       ${dupWordPmlSql("b")} AS dup_word_pml,
      |       coalesce(t.top_bigram, '') AS top_bigram,
      |       coalesce(t.top_bigram_count, 0) AS top_bigram_count,
      |       ${topBigramPmlSql("t", "b")} AS top_bigram_pml,
      |       ${dup5PmlSql("d", "b")} AS dup5_pml,
      |       ${repetitiveSql("b", "t", "d")} AS repetitive
      |FROM base b
      |LEFT JOIN top t USING (doc_id)
      |LEFT JOIN dup5 d USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q124 — exact set-similarity self-join via rare-first prefix
  // filtering (operators/PrefixJoin, the PPJoin family): 3-word-shingle
  // Jaccard ≥ 80% document pairs. Shingles, not words — this corpus
  // shares most of its word vocabulary (word-level Jaccard puts 57% of
  // ALL pairs over 60%), while shingle similarity separates planted
  // near-dups (≥90%) from background (≤6%), exactly the separation the
  // MinHash tier (q32) exploits; the prefix screen's pruning power
  // depends on that discrimination. The screen is LOSSLESS, so the
  // oracle needs no prefix logic: it computes all-pairs Jaccard from
  // the shared-shingle join directly — if the prefix screen ever
  // dropped a true pair, the hash compare would fail. Integer
  // similarity only ((100·|∩|) div |∪|), no float accumulation.
  // ------------------------------------------------------------------
  def prefixJoinPairs(spark: SparkSession, sfDir: String): DataFrame =
    // staged pair table (the q32/q33 convention: a dedup screen's
    // verified output is a per-corpus artifact). Rebalance: the shingle
    // chain is CPU-heavy and the documents parquet is few-partition —
    // spread it across cores first.
    graft.operators.Staging.stagedOrDerive(spark, "prefix_pairs_t80",
        Seq(Tables.path(sfDir, "documents"))) {
      val docs = Tables.rebalance(Tables.documents(spark, sfDir))
        .select(col("doc_id"), Dedup.shingleArray(col("text"), 3).as("toks"))
      operators.PrefixJoin.selfJoin(docs, "doc_id", "toks", tNum = 80,
          tDen = 100)
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("inter_sz"), col("union_sz"), col("jacc_pct"))
    }.orderBy(col("doc_a"), col("doc_b")) // a parquet round-trip keeps
      // rows, not order — re-assert the output contract's sort

  val prefixJoinPairsSql: String =
    s"""WITH $shingleJaccardCte,
       |pairs AS (
       |  SELECT s.id_a AS doc_a, s.id_b AS doc_b,
       |         CAST(s.shared AS BIGINT) AS inter_sz,
       |         CAST(na.n_sh + nb.n_sh - s.shared AS BIGINT) AS union_sz
       |  FROM shared s JOIN sizes na ON na.id = s.id_a
       |                JOIN sizes nb ON nb.id = s.id_b)
       |SELECT doc_a, doc_b, inter_sz, union_sz,
       |       (100 * inter_sz) // union_sz AS jacc_pct
       |FROM pairs WHERE inter_sz * 100 >= union_sz * 80
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // q149 — containment (asymmetric) near-dup pairs: DIRECTED (a → b)
  // where ≥ 90% of a's 3-gram shingles also appear in b — the screen
  // that catches documents NESTED inside larger documents (boilerplate-
  // wrapped republications, quoted fragments), which symmetric Jaccard
  // structurally misses (a 10× size gap caps Jaccard at ~0.1 however
  // perfect the overlap). Lossless one-sided prefix filter
  // (PrefixJoin.containmentJoin); the oracle computes ALL-pairs
  // containment with no prefix logic, so screen incompleteness would
  // hash-mismatch.
  // ------------------------------------------------------------------
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    // staged like the other verified pair tables (q32/q33/q124): a dedup
    // screen's verified output is a per-corpus artifact
    graft.operators.Staging.stagedOrDerive(spark, "containment_pairs_t90",
        Seq(Tables.path(sfDir, "documents"))) {
      val docs = Tables.rebalance(Tables.documents(spark, sfDir))
        .select(col("doc_id"), Dedup.shingleArray(col("text"), 3).as("toks"))
      operators.PrefixJoin.containmentJoin(docs, "doc_id", "toks",
        tNum = 90, tDen = 100)
    }.orderBy(col("id_a"), col("id_b"))

  val containmentPairsSql: String =
    s"""WITH $shingleJaccardCte,
       |dshared AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
       |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.id <> b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(shared AS BIGINT) AS inter_sz,
       |       CAST(na.n_sh AS BIGINT) AS n_a,
       |       (100 * shared) // na.n_sh AS cont_pct
       |FROM dshared JOIN sizes na ON na.id = id_a
       |WHERE shared * 100 >= na.n_sh * 90
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------------
  // q132 — sorted-neighborhood (SNM) dedup screen + the q32 exact
  // verify contract. The screen family's linear member: candidates
  // ≤ n·w by construction whatever the key distribution (banding and
  // blocking both go quadratic on a hot bucket). The screen is lossy
  // at window edges, so unlike q124 the oracle REPLAYS the screen —
  // same per-block lead() windows over the same normalized sort key —
  // then applies the shared exact-jaccard CTE; screen and verdict are
  // both hash-checked.
  // ------------------------------------------------------------------
  // One source of truth for the SNM screen parameters: the Scala call and
  // the oracle SQL below are both derived from these, so changing either
  // knob cannot silently diverge the two sides.
  private val SnmWindow = 3
  private val SnmBlockLen = 8

  def sortedNeighborhood(spark: SparkSession, sfDir: String): DataFrame =
    operators.SortedNeighborhood.verifiedPairs(
        Tables.rebalance(Tables.documents(spark, sfDir)
          .select("doc_id", "text")),
        "doc_id", "text", minJaccard = 0.8,
        windowSize = SnmWindow, blockLen = SnmBlockLen)
      .orderBy(col("id_a"), col("id_b"))

  val sortedNeighborhoodSql: String = {
    val leadCols = (1 to SnmWindow)
      .map(k => s"lead(id, $k) OVER w AS n$k").mkString(", ")
    val nbList = (1 to SnmWindow).map(k => s"n$k").mkString("[", ", ", "]")
    s"""WITH $shingleJaccardCte,
       |keyed AS (
       |  SELECT doc_id AS id, ${normSql("text")} AS key
       |  FROM documents WHERE length(${normSql("text")}) > 0),
       |srt AS (SELECT id, key, substring(key, 1, $SnmBlockLen) AS blk FROM keyed),
       |leads AS (
       |  SELECT id, $leadCols
       |  FROM srt WINDOW w AS (PARTITION BY blk ORDER BY key, id)),
       |cand AS (
       |  SELECT LEAST(id, nb) AS id_a, GREATEST(id, nb) AS id_b
       |  FROM (SELECT id, unnest($nbList) AS nb FROM leads)
       |  WHERE nb IS NOT NULL)
       |SELECT c.id_a, c.id_b, jp.jaccard
       |FROM cand c JOIN jp ON jp.id_a = c.id_a AND jp.id_b = c.id_b
       |WHERE jp.jaccard >= 0.8 ORDER BY c.id_a, c.id_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // q146 — hard-negative mining (contrastive training prep): for each
  // anchor, the top-5 most-similar vectors with a DIFFERENT label
  // (operators/Similarity.hardNegatives). ids+rank only — the q35 rule:
  // ranking is stable cross-engine, raw cosines are not.
  // ------------------------------------------------------------------
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 50), k = 5)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        col("neighbor_label"))
      .orderBy(col("qid"), col("rank"))
  }

  val hardNegativesSql: String =
    """WITH e AS (SELECT vec_id, label,
      |             CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS q_label, emb AS qemb
      |      FROM e WHERE vec_id < 50),
      |s AS (SELECT qid, e.vec_id AS neighbor_id, e.label AS neighbor_label,
      |             list_cosine_similarity(e.emb, q.qemb) AS cosine
      |      FROM e, q WHERE e.label != q.q_label),
      |r AS (SELECT qid, neighbor_id, neighbor_label,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT qid, rank, neighbor_id, neighbor_label
      |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
}
