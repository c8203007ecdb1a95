package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling — the training-data counterpart of
  * `df.sample()`, which is seed-stable only for a fixed partitioning (its
  * Bernoulli draw is per-partition-seeded, so a repartition or a different
  * file split changes the sample). Hash-based sampling decides per ROW from
  * the row's own key, so the sample is a pure function of the data:
  * re-runnable across engines, partitionings, and cluster sizes — and it is
  * a plain `filter`, so it pushes down the scan and costs zero shuffle at
  * any scale.
  *
  * The draw ([[lehmerU]]) takes an integer key through a
  * Lehmer/Park-Miller step (`key·48271 mod (2^31−1)`) — multiplications
  * stay < 2^63 for keys up to ~9.5·10^13, so ANSI mode (Spark 4 default)
  * never overflows, and the arithmetic is exact in any engine
  * (oracle-checkable).
  */
object Sampling {

  private val LehmerA = 48271L
  private val LehmerM = 2147483647L // 2^31 - 1 (prime)

  /** The per-row pseudo-uniform in [0, 1): exact integer arithmetic, TWO
    * Lehmer steps — one step never wraps for keys < ~44k (`key·48271 <
    * 2^31−1`), leaving small keys nearly linear; the second multiply wraps
    * for every key ≥ 1 and disperses deciles to ±0.2% (key 0 is the
    * multiplicative fixed point and always draws 0.0 — classic Lehmer
    * excludes it; here it just means row 0 is always sampled).
    * `pmod` (not `%`, which preserves the dividend's sign) keeps the
    * draw in [0, 1) for NEGATIVE keys too — a sign-preserving remainder
    * would make every negative-keyed row sample at any rate ≥ 0. */
  def lehmerU(key: Column): Column =
    lehmerInt(key).cast("double") / lit(LehmerM.toDouble)

  /** The raw integer draw in [0, 2^31−1) behind [[lehmerU]] — for
    * ALL-INTEGER acceptance tests (`draw·den < num·(2^31−1)` instead of
    * `draw/M < num/den`), which stay exact where a double rate can't
    * represent the rational exactly. */
  def lehmerInt(key: Column): Column = {
    val step1 = pmod(key.cast("long") * lit(LehmerA), lit(LehmerM))
    pmod(step1 * lit(LehmerA), lit(LehmerM))
  }

  /** Per-stratum rates: keep ~rates(s) of rows in stratum s (strata absent
    * from the map are dropped — an explicit allowlist, so a new upstream
    * stratum can't silently flood the sample). */
  def stratifiedLehmerSample(
      df: DataFrame, strataCol: String, keyCol: String,
      rates: Map[String, Double]): DataFrame = {
    val rate = rates.foldLeft(lit(-1.0)) { case (acc, (s, r)) =>
      when(col(strataCol) === lit(s), lit(r)).otherwise(acc)
    }
    df.filter(lehmerU(col(keyCol)) < rate)
  }

  /** Per-stratum sampling rates that steer the corpus mix toward target
    * weights — domain reweighting (Pile/DoReMi-style): a stratum holding
    * share `n_s/N` of the corpus but assigned target weight `w_s` keeps
    * `rate_s = min(1, w_s·N / n_s)` of its rows (downsample-only; a
    * stratum already under target keeps everything — deterministic
    * sampling cannot mint new rows).
    *
    * Two tiny jobs over one stats pass: the per-stratum counts aggregate
    * (≤ |strata| rows) and its total. At 100 TB the counts pass is the
    * only full scan and is typically served from existing table stats or
    * a staged profile (q71) rather than recomputed per run.
    *
    * @return (strataCol, n_before: long, rate: double) — strata absent
    *         from `weights` are dropped (allowlist, as
    *         [[stratifiedLehmerSample]]) */
  def reweightRates(df: DataFrame, strataCol: String,
      weights: Map[String, Double]): DataFrame = {
    // fail at analysis, not mid-collect: `weights` is keyed by String and
    // the rate table below is built with a String strata column, so a
    // non-string strata column would otherwise surface as a driver-side
    // ClassCastException (or a silently empty rate table)
    require(df.schema(strataCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"reweightRates requires a string strata column; '$strataCol' is " +
        s"${df.schema(strataCol).dataType.simpleString} — cast it (or map " +
        "codes to names) first, and key `weights` by the same strings")
    // ONE corpus pass: the per-stratum counts aggregate is collected
    // (≤ |strata| rows) and the total derived from it driver-side — a
    // df.count() here would re-scan the whole corpus for a number the
    // counts already contain. Pinned (LoopCache.pinnedRow rationale): the
    // rates feed PLAN construction, so re-invocations read the cached
    // stratum rows instead of re-scanning the corpus.
    val counts = LoopCache.pinnedRows(
        df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_before")))
      .map(r => r.getString(0) -> r.getLong(1))
    val nTotal = counts.map(_._2).sum
    // min(1, w·N/n) in driver doubles: multiply-then-divide, the same two
    // IEEE ops in the same order as the SQL-side least(1.0, w*N/n) — the
    // literal rates are bit-identical to an engine-side computation
    val rateRows = counts.flatMap { case (s, n) =>
      weights.get(s).map(w =>
        (s, n, math.min(1.0, w * nTotal.toDouble / n.toDouble)))
    }.toSeq
    df.sparkSession.createDataFrame(rateRows)
      .toDF(strataCol, "n_before", "rate")
  }

  /** Apply [[reweightRates]]: broadcast the rate table and keep each row
    * iff its Lehmer draw clears its stratum's rate — the corpus side is a
    * broadcast-join + filter, no shuffle at any scale. */
  def domainReweightSample(df: DataFrame, strataCol: String, keyCol: String,
      rates: DataFrame): DataFrame =
    df.join(broadcast(rates.select(col(strataCol), col("rate"))), Seq(strataCol))
      .filter(lehmerU(col(keyCol)) < col("rate"))
      .drop("rate")

  /** Temperature-style mix flattening with EXACT integer targets — the
    * UnifiedQA/mT5 "sample proportional to |D|^α" recipe at α = 1/2,
    * arranged so every quantity is a BIGINT both engines agree on:
    * stratum weight w_s = floor(sqrt(n_s)) (floor∘sqrt over a BIGINT is
    * exact for n < 2^52 — IEEE sqrt is correctly rounded and the
    * half-ulp gap can't cross an integer below that), the target total is
    * `totalFracNum/totalFracDen` of the corpus, and stratum s aims for
    * `target·w_s div Σw` rows, capped at n_s (deterministic sampling
    * cannot mint rows). No float rate ever appears.
    *
    * One stats pass (the per-stratum counts aggregate, ≤ |strata| rows
    * collected) and integer target math on the driver.
    *
    * @return (strataCol, n_before, weight, target_n) */
  def sqrtTemperatureTargets(df: DataFrame, strataCol: String,
      totalFracNum: Long = 1L, totalFracDen: Long = 2L): DataFrame = {
    require(df.schema(strataCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"sqrtTemperatureTargets requires a string strata column; " +
        s"'$strataCol' is ${df.schema(strataCol).dataType.simpleString}")
    val counts = LoopCache.pinnedRows(
        df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_before")))
      .map(r => r.getString(0) -> r.getLong(1))
    val target = counts.map(_._2).sum * totalFracNum / totalFracDen
    val weights = counts.map { case (s, n) =>
      (s, n, math.floor(math.sqrt(n.toDouble)).toLong)
    }
    val wSum = math.max(weights.map(_._3).sum, 1L)
    val rows = weights.map { case (s, n, w) =>
      (s, n, w, math.min(n, target * w / wSum))
    }.toSeq
    df.sparkSession.createDataFrame(rows)
      .toDF(strataCol, "n_before", "weight", "target_n")
  }

  /** Apply [[sqrtTemperatureTargets]] with the all-integer acceptance
    * test `lehmerInt(key)·n_before < target_n·(2^31−1)` — a broadcast
    * join + pure filter (no shuffle), exact at any scale (products stay
    * < 2^62 for strata below 2^31 rows). */
  def temperatureMixSample(df: DataFrame, strataCol: String, keyCol: String,
      targets: DataFrame): DataFrame =
    df.join(broadcast(targets.select(col(strataCol), col("n_before"),
        col("target_n"))), Seq(strataCol))
      .filter(lehmerInt(col(keyCol)) * col("n_before") <
        col("target_n") * lit(LehmerM))
      .drop("n_before", "target_n")

  /** Duplicate-consistent train/val/test assignment: the split key hashes
    * the CONTENT, so byte-identical documents always land in the same
    * split — no exact-duplicate leakage between train and eval, however
    * ids were assigned and however the corpus is partitioned. (Near-dups
    * need a cluster-representative key first — compose with the Dedup/
    * ConnectedComponents output.) Appends a `split` column.
    *
    * Buckets are the first 8 hex digits of md5(text) mod 100 — engine-
    * portable (every engine has md5; cross-checked against DuckDB's
    * `('0x' || substr(md5, 1, 8))::BIGINT`) and a pure narrow expression:
    * assignment shuffles nothing at any scale. `splits` are (name,
    * percent) with percents summing to 100. */
  def contentSplit(df: DataFrame, textCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"split percents must be positive: $splits")
    require(splits.map(_._2).sum == 100,
      s"split percents must sum to 100: $splits")
    // one-pass codegen md5 word (functions/Md5Word.scala), bit-equal to
    // the documented hex chain and the DuckDB replay
    val bucket =
      graft.functions.Md5Word32Expression.md5Word32(col(textCol)) % 100
    val bounds = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val assign = splits.init.zip(bounds.init).foldRight(
      lit(splits.last._1)) { case (((name, _), hi), rest) =>
      when(bucket < hi, lit(name)).otherwise(rest)
    }
    df.withColumn("split", assign)
  }

  /** EXACT-quota stratified sampling — the deterministic complement of
    * [[temperatureMixSample]]: that one accepts each row independently
    * (hitting its targets only in expectation, ±√n noise); this one
    * keeps EXACTLY min(target, |stratum|) rows per stratum — the n
    * smallest Lehmer draws (ties to the smaller key: a total order), so
    * a mix that budgets "exactly 120k rows of source X" lands exactly
    * there, reproducibly, on any engine.
    *
    * Scale shape: one per-stratum window. The filter leads with the
    * LITERAL max quota so Spark inserts WindowGroupLimit — every input
    * partition pre-trims to its local top-maxQuota BEFORE the stratum
    * exchange — then the exact per-stratum cut is an ordinary filter
    * against the broadcast quota column. Per-key windows degrade
    * gracefully under stratum skew (running row_number streams; the
    * group-limit bounds the buffered prefix).
    *
    * @param targets (strataCol, `targetCol`) — one row per stratum;
    *                strata absent from it are dropped (allowlist, as
    *                everywhere in this file). */
  def exactQuotaSample(df: DataFrame, strataCol: String, keyCol: String,
      targets: DataFrame, targetCol: String = "target_n"): DataFrame = {
    val t = targets.select(col(strataCol),
      col(targetCol).cast("long").as("__quota"))
    // plan-construction scalar (pinned |strata|-row aggregate): the
    // literal bound WindowGroupLimit needs. MUST stay an INT literal —
    // InferWindowGroupLimit only matches `row_number <= IntegerLiteral`;
    // a Long literal casts the rank attribute and defeats the pre-trim.
    val maxQuota = math.min(Int.MaxValue.toLong, LoopCache.pinnedRow(
      t.agg(coalesce(max(col("__quota")), lit(0L)))).getLong(0)).toInt
    val w = Window.partitionBy(col(strataCol))
      .orderBy(lehmerInt(col(keyCol)), col(keyCol))
    df.join(broadcast(t), Seq(strataCol))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= lit(maxQuota) && col("__rank") <= col("__quota"))
      .drop("__rank", "__quota")
  }

  /** Rendezvous (highest-random-weight) sharding: assign each row to the
    * shard whose per-(key, shard) hash weight is highest. The property
    * plain `hash(key) mod N` lacks: growing N → N+1 moves ONLY the rows
    * the new shard wins (expected 1/(N+1) of the corpus), and a moved
    * row can only move TO the new shard — every other assignment is
    * untouched. That is what makes incremental re-sharding of a growing
    * corpus cheap: a snapshot's shards stay valid, only the stolen slice
    * rewrites (mod-N reshuffles ~all rows on every resize).
    *
    * Deterministic and engine-portable: weight = the md5-word of
    * `key:shard` ([[graft.functions.Md5Word32Expression]], the
    * contentSplit hash), argmax with ties to the SMALLEST shard id —
    * the whole assignment is one codegen'd array expression per row,
    * zero shuffle at any scale. Per-row cost is O(numShards) hashes:
    * meant for shard counts in the hundreds, not millions (at which
    * point use two rendezvous levels). */
  def rendezvousShard(df: DataFrame, keyCol: String, numShards: Int,
      outCol: String = "shard"): DataFrame = {
    require(numShards >= 1, s"numShards=$numShards must be >= 1")
    // struct (weight, -shard): array_max orders by weight then -shard,
    // so a (practically impossible) md5 tie resolves to the smaller id
    val pairs = transform(sequence(lit(0), lit(numShards - 1)),
      s => struct(
        graft.functions.Md5Word32Expression.md5Word32(
          concat(col(keyCol).cast("string"), lit(":"), s.cast("string")))
          .as("w"),
        (-s).as("ns")))
    df.withColumn(outCol, (-array_max(pairs).getField("ns")).cast("int"))
  }

  /** Token-budget corpus selection: keep the best-scoring documents until
    * a token budget is exhausted — the "select the top-quality X% of
    * tokens" step every pretraining mix ends with. Documents are ranked
    * by (`scoreCol` DESC, `idCol` ASC — a total order, so the cut point
    * is unique) and kept while the INCLUSIVE running token total stays
    * ≤ `totalTokens·budgetNum/budgetDen`. Integer scores only: float
    * score ordering is engine/ULP-dependent, integer ordering is exact
    * everywhere.
    *
    * Scale topology — the global running sum is a TWO-LEVEL prefix sum
    * (the [[Chunking.packSequences]] pattern, here over a COMPUTED sort
    * key instead of a dense id): `numRanges` contiguous score ranges from
    * fixed arithmetic on the score's min/max (deterministic — unlike
    * `repartitionByRange`, whose sampled boundaries can differ between a
    * plan's consumers), per-range subtotals (≤ numRanges rows) summed
    * driver-side into exclusive base offsets and broadcast back, and an
    * ordinary partitioned window within each range. Every stage is
    * parallel in the number of ranges; a bare `Window.orderBy(score)`
    * would funnel the whole corpus through ONE task. Range skew follows
    * the score distribution (packSequences' uniform-ids caveat,
    * transposed): heavily-tied scores concentrate ranges — raise
    * `numRanges` or pre-spread the score scale if one value dominates.
    *
    * @return (idCol, n_tokens, score, cum_tokens) for selected docs, where
    *         cum_tokens is the inclusive running total in rank order. */
  def budgetSelect(df: DataFrame, idCol: String, tokensCol: String,
      scoreCol: String, budgetNum: Long, budgetDen: Long,
      numRanges: Int = 256): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"budget fraction $budgetNum/$budgetDen must be a nonnegative rational")
    require(numRanges >= 1, s"numRanges=$numRanges must be >= 1")
    val docs = df.select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("n_tokens"),
        col(scoreCol).cast("long").as("score"))
      .filter(col("n_tokens") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one stats pass: score span for the range arithmetic + the corpus
    // token total the budget derives from (pinned — plan construction)
    val stats = LoopCache.pinnedRow(docs.agg(
      min(col("score")), max(col("score")),
      coalesce(sum(col("n_tokens")), lit(0L))))
    if (stats.isNullAt(0)) { // empty corpus: empty selection, same schema
      val out = docs.select(col("id").as(idCol), col("n_tokens"),
        col("score"), col("n_tokens").as("cum_tokens")).limit(0)
      return LoopCache.finish(out, docs)
    }
    val (minS, maxS) = (stats.getLong(0), stats.getLong(1))
    // exact rational of a BIGINT total: the product is taken in BigInt so
    // a petabyte-scale token count times budgetNum cannot wrap
    val budget =
      ((BigInt(stats.getLong(2)) * budgetNum) / budgetDen).toLong
    val span = math.max(maxS - minS + 1, 1L)
    val width = math.max(span / numRanges, 1L)
    // DESCENDING ranges: rg 0 holds the best scores, pure arithmetic
    val ranged = docs.withColumn("rg",
      least(expr(s"(${maxS}L - score) DIV ${width}L"), lit(numRanges - 1L)))
    val totals = ranged.groupBy(col("rg"))
      .agg(sum(col("n_tokens")).as("rg_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val baseByRange = totals.scanLeft((-1L, 0L)) {
      case ((_, acc), (rg, tok)) => (rg, acc + tok)
    }.tail.zip(totals).map {
      case ((rg, cumIncl), (_, tok)) => (rg, cumIncl - tok)
    }
    val base = df.sparkSession.createDataFrame(baseByRange.toSeq)
      .toDF("rg", "rg_base")
    val w = Window.partitionBy(col("rg"))
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = ranged
      .join(broadcast(base), Seq("rg"))
      .withColumn("cum_tokens", col("rg_base") + sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("id").as(idCol), col("n_tokens"), col("score"),
        col("cum_tokens"))
    LoopCache.finish(out, docs)
  }

  /** Weighted bottom-k sampling (priority sampling): keep the k rows
    * with the SMALLEST priority `(md5word32(key)·10⁶) div weight` — a
    * row with twice the weight is twice as likely to land in the
    * sample, the deterministic analogue of PPS sampling (Cohen–Kaplan
    * bottom-k sketches). The one sampling shape the engine lacked:
    * q45/q80/q99 draw per-STRATUM rates, q153 cuts exact per-stratum
    * quotas, q148 fills a token budget by score rank — this draws a
    * fixed-size sample proportional to a PER-ROW weight with no strata
    * at all (e.g. "5k docs ∝ token count" for a length-balanced eval
    * slice).
    *
    * Determinism + portability contract (every graft draw's rules):
    * the draw is the md5-word of the key — content-stable, partition-
    * independent — and the priority is an exact integer ratio, so the
    * k-smallest set plus the (priority, key) tiebreak is bit-identical
    * on any engine; DuckDB replays it verbatim. Magnitude: md5word32
    * < 2³² so priority ≤ 2³²·10⁶ < 2⁶³ — no overflow for any weight.
    *
    * Scale shape: priority is a pure narrow expression; the global
    * k-smallest plans as TakeOrderedAndProject — per-partition top-k
    * heaps merged on the driver, k·partitions rows moved, never a
    * global sort. Bottom-k is also MERGEABLE (union two samples, keep
    * the k smallest), the property that makes it a one-pass sketch at
    * any sharding. Weights < 1 are clamped to 1 (zero/negative weights
    * would divide-by-zero or invert the order) — i.e. a zero/negative-
    * weight row is DEMOTED to ordinary weight-1 sampling probability,
    * not excluded: it can still land in the bottom-k when its hash is
    * small. Callers that need hard exclusion must filter such rows out
    * before the draw (and the q166 oracle replays the same clamp).
    *
    * @return (keyCol, weight, priority), the k smallest priorities,
    *         ordered (priority, key). */
  def weightedBottomK(df: DataFrame, keyCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val wgt = greatest(col(weightCol).cast("long"), lit(1L))
    df.select(col(keyCol), wgt.as("weight"),
        graft.functions.Md5Word32Expression
          .md5Word32(col(keyCol).cast("string")).as("__h"))
      // integer div, not Column./ (double): the priority must be the
      // exact BIGINT ratio the oracle replays
      .withColumn("priority", expr("(__h * 1000000) div weight"))
      .drop("__h")
      .orderBy(col("priority"), col(keyCol))
      .limit(k)
  }
}
