package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Chunking, Decontaminate, Funnel, NgramLm, Overlap}

/** Unit tests for the sequence-level corpus-prep operators: overlapping
  * token windows, concat-and-split packing (two-level prefix sum vs the
  * global-window reference), duplicated-block ratio, and train/eval
  * decontamination. */
class CorpusPrepSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokenWindows: stride/overlap geometry, short tail, blank doc dropped") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than window
      (3L, "   ")                                     // blank: no windows
    ).toDF("doc_id", "text")
    val w = Chunking.tokenWindows(df, "doc_id", "text",
        windowTokens = 4, stride = 3)
      .orderBy($"doc_id", $"chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc 1: starts 0,3,6,9 → windows of 4,4,4,1 tokens
    assert(w.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, 4, "t1 t2 t3 t4"),
      (1L, 1, 4, "t4 t5 t6 t7"),
      (1L, 2, 4, "t7 t8 t9 t10"),
      (1L, 3, 1, "t10")))
    assert(w.filter(_._1 == 2L).toSeq == Seq((2L, 0, 3, "a b c")))
    assert(!w.exists(_._1 == 3L))
  }

  test("packSequences: two-level prefix sum ≡ global window; bin spans exact") {
    // ids deliberately sparse + unordered input; numRanges=3 forces real
    // cross-range base offsets (the two-level path, not one big range)
    val docs = Seq(
      (7L, (1 to 5).map(_ => "w").mkString(" ")),   // 5 tokens
      (2L, (1 to 12).map(_ => "w").mkString(" ")),  // 12
      (30L, (1 to 9).map(_ => "w").mkString(" ")),  // 9
      (15L, "one two"),                             // 2
      (16L, "")                                     // blank: 0 tokens
    ).toDF("doc_id", "text")
    val got = Chunking.packSequences(docs, "doc_id", "text",
        binTokens = 8, numRanges = 3)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // reference: plain global window (fine at test size; partitioned on a
    // non-foldable constant so the intentional single partition doesn't
    // fire WindowExec's warning into every test log)
    val n = coalesce(graft.functions.TextFunctions.tokenCountWs($"text"), lit(0))
      .cast("long")
    val gw = Window.partitionBy(pmod($"doc_id", lit(1))).orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = docs.select($"doc_id", n.as("n_tokens"))
      .withColumn("start_offset", coalesce(sum($"n_tokens").over(gw), lit(0L)))
      .select($"doc_id", $"n_tokens", $"start_offset",
        expr("start_offset DIV 8").as("first_bin"),
        expr("(start_offset + greatest(n_tokens, 1L) - 1) DIV 8").as("last_bin"))
      .withColumn("n_bins", $"last_bin" - $"first_bin" + 1)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == want.toSeq)
    // spot-check the packing semantics: doc 2 (12 tokens at offset 0)
    // crosses the first cut point → spans bins 0-1
    assert(got.find(_._1 == 2L).get == ((2L, 12L, 0L, 0L, 1L, 2L)))
  }

  test("dupBlockStats: planted shared block found; hashed tier ≡ string tier") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // one full block
    val df = Seq(
      (1L, shared + " " + (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, shared + " " + (1 to 10).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Chunking.dupBlockStats(df, "doc_id", "text", blockTokens = 10)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
    val hashed = Chunking.dupBlockStats(df, "doc_id", "text", blockTokens = 10,
        hashBlocks = true)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hashed.toSeq == got.toSeq)
  }

  test("decontamination: planted 8-gram leak flagged, clean docs zero, " +
      "short doc matches whole-text") {
    val leak = (1 to 8).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, "filler " + leak + " more filler words here"), // contains the leak
      (2L, (1 to 20).map(i => s"x$i").mkString(" ")),     // clean
      (3L, "tiny doc")                                    // short, matches eval 3
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, "prefix " + leak + " suffix"),
      (101L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(train, eval_, "doc_id", "text", n = 8)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(t => (t._1, t._3)).toSeq ==
      Seq((1L, true), (2L, false), (3L, true)))
    assert(got.find(_._1 == 1L).get._2 >= 1L)
  }

  test("packSequences plan: no single-partition exchange (the scale claim — " +
      "a global Window.orderBy would show SinglePartition)") {
    val docs = (1 to 100).map(i => (i.toLong, s"w$i word text here"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Chunking
      .packSequences(docs, "doc_id", "text", binTokens = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"prefix sum must not funnel through one partition:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"range base offsets should broadcast:\n$plan")
  }

  test("domain reweighting: rates hit min(1, w·N/n); sample moves the mix " +
      "and is repartition-invariant") {
    import graft.operators.Sampling
    // skewed corpus: a=60 rows, b=30, c=10; targets: equal thirds
    val rows = (0 until 60).map(i => (i.toLong, "a")) ++
      (100 until 130).map(i => (i.toLong, "b")) ++
      (200 until 210).map(i => (i.toLong, "c"))
    val df = rows.toDF("id", "src")
    val w = Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3)
    val rates = Sampling.reweightRates(df, "src", w)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // a: over-represented → 100/(3·60); b and c: uncapped rate would be
    // ≥ 1 (100/90, 100/30) so both clamp to exactly 1.0
    assert(rates("a")._2 == (1.0 / 3) * 100.0 / 60.0)
    assert(rates("b")._2 == 1.0 && rates("c")._2 == 1.0)
    val ratesDf = Sampling.reweightRates(df, "src", w)
    val sampled = Sampling.domainReweightSample(df, "src", "id", ratesDf)
    val bySrc = sampled.groupBy($"src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // b and c keep everything (rate 1); a shrinks toward a third of N
    assert(bySrc("b") == 30L && bySrc("c") == 10L)
    assert(bySrc("a") < 60L && bySrc("a") > 10L)
    // pure function of (id, rate): invariant under repartition
    val repart = Sampling.domainReweightSample(
      df.repartition(7), "src", "id", ratesDf)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(repart == sampled.select($"id").as[Long].collect().sorted.toSeq)
    // allowlist: a stratum missing from the weights map is dropped
    val partial = Sampling.reweightRates(df, "src", w - "c")
    assert(Sampling.domainReweightSample(df, "src", "id", partial)
      .filter($"src" === "c").count() == 0L)
    // non-string strata column fails fast at analysis with a clear message,
    // not as a mid-collect ClassCastException
    val intStrata = rows.map { case (id, s) => (id, s.length) }.toDF("id", "src")
    val err = intercept[IllegalArgumentException](
      Sampling.reweightRates(intStrata, "src", w))
    assert(err.getMessage.contains("string strata column"))
  }

  test("incremental LSH: finds new-vs-old and new-vs-new dups, never re-pairs " +
      "history; agrees with the batch operator minus old-old pairs") {
    import graft.operators.Dedup
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"word$i").mkString(" ") + " wordX"
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    // old: 1 (base), 2 (dup of base), 3 (unrelated); new: 10 (dup of base),
    // 11 (dup of 10), 12 (unrelated)
    val old_ = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val new_ = Seq((10L, nearDup), (11L, nearDup), (12L, (1 to 40).map(i => s"qqq$i").mkString(" ")))
      .toDF("doc_id", "text")
    val oldSigs = Dedup.minHashSignatures(old_, "doc_id", "text")
    val newSigs = Dedup.minHashSignatures(new_, "doc_id", "text")
    val inc = Dedup.incrementalLshCandidatePairs(newSigs, oldSigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // every pair touches the new batch; the old-old dup (1,2) never appears
    assert(inc.nonEmpty)
    assert(inc.forall { case (a, b, _, vsOld) =>
      if (vsOld) a >= 10L && b < 10L else a >= 10L && b >= 10L && a < b })
    assert(inc.exists { case (a, b, j, vsOld) => a == 10L && b == 1L && vsOld && j > 0.5 })
    assert(inc.exists { case (a, b, j, vsOld) => a == 10L && b == 11L && !vsOld && j > 0.9 })
    assert(!inc.exists { case (a, b, _, _) => a == 12L || b == 12L })
    // equivalence: batch pairs over the union, restricted to pairs touching
    // a new id, = the incremental pair set (ids here; estimates identical
    // by construction — same signatures)
    val unionSigs = oldSigs.unionByName(newSigs)
    val batch = Dedup.lshCandidatePairs(unionSigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a >= 10L || b >= 10L }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val incSet = inc.map { case (a, b, _, _) =>
      (math.min(a, b), math.max(a, b)) }.toSet
    assert(incSet == batch)
  }

  test("tagged incremental LSH: a NULL tag fails the query with a named error") {
    import graft.operators.Dedup
    val text = (1 to 40).map(i => s"word$i").mkString(" ")
    val sigs = Dedup.minHashSignatures(
      Seq((1L, text), (2L, text), (3L, text)).toDF("doc_id", "text"),
      "doc_id", "text")
      .withColumn("is_new",
        when(col("doc_id") === 1L, lit(true))
          .when(col("doc_id") === 2L, lit(false)))
    val e = intercept[Exception](Dedup.incrementalLshCandidatePairsTagged(
      sigs, "doc_id", "is_new").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("NULL is_new for doc_id 3"), msgs)
    // tagged in full (3 old), new doc 1 pairs with both old copies
    assert(Dedup.incrementalLshCandidatePairsTagged(
      sigs.na.fill(false, Seq("is_new")), "doc_id", "is_new").count() == 2)
  }

  test("exactDedupProjected ≡ exactDedup on kept columns; text absent from " +
      "the window shuffle") {
    import graft.operators.Dedup
    val df = Seq(
      (1L, "aaa", "s1", 3), (2L, "bbb", "s1", 5),
      (3L, "aaa", "s2", 3), (4L, "aaa", "s1", 3)
    ).toDF("doc_id", "text", "source", "n_tokens")
    val want = Dedup.exactDedup(df, "doc_id", "text")
      .select($"doc_id", $"source", $"n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val proj = Dedup.exactDedupProjected(df, "doc_id", "text",
      keep = Seq("source", "n_tokens"))
    val got = proj.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == want && got.map(_._1) == Set(1L, 2L))
    // the exchange feeding the window carries the digest, never the text:
    // inspect the shuffle's OUTPUT attributes structurally (string-form
    // plans show md5(text) inside the scan-side project, which is fine)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = proj.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val shuffles = sp.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(e => !e.output.exists(_.name == "text")),
      s"text column must not ride the dedup shuffle:\n$sp")
  }

  test("hourly gap fill: dense grid, explicit gaps, LOCF carry-forward, " +
      "null before first observation") {
    import java.sql.Timestamp
    import graft.operators.Resample
    val ev = Seq(
      ("a", Timestamp.valueOf("2026-08-10 00:10:00"), 10.0),
      ("a", Timestamp.valueOf("2026-08-10 03:20:00"), 30.0), // 2-hour gap
      ("b", Timestamp.valueOf("2026-08-10 02:15:00"), 7.0)   // late starter
    ).toDF("k", "ts", "v")
    val got = Resample.hourlyGapFill(ev, "k", "ts", "v")
      .orderBy($"k", $"h")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getBoolean(3),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
    // span is global (00:00..03:00), both keys get all 4 buckets
    assert(got.length == 8)
    val a = got.filter(_._1 == "a").map(t => (t._3, t._4, t._5)).toSeq
    assert(a == Seq(
      (1L, false, Some(10.0)),   // observed
      (0L, true, Some(10.0)),    // gap: carried forward
      (0L, true, Some(10.0)),    // gap: still carried
      (1L, false, Some(30.0))))  // new observation replaces
    val b = got.filter(_._1 == "b").map(t => (t._3, t._4, t._5)).toSeq
    assert(b == Seq(
      (0L, true, None),          // before first observation: null fill
      (0L, true, None),
      (1L, false, Some(7.0)),
      (0L, true, Some(7.0))))
  }

  test("SCD2 history: consecutive identical states collapse into one episode; " +
      "episodes abut; open-ended current row") {
    import java.sql.Timestamp
    import graft.operators.Upsert
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "on", t("2026-08-10 00:00:00"), 1L),
      (1L, "on", t("2026-08-10 01:00:00"), 2L),  // same state: no new episode
      (1L, "off", t("2026-08-10 02:00:00"), 3L),
      (1L, "on", t("2026-08-10 03:00:00"), 4L),  // state returns: NEW episode
      (2L, "x", t("2026-08-10 00:30:00"), 5L)
    ).toDF("uid", "state", "ts", "eid")
    val got = Upsert.scd2History(ev, "uid", "state", "ts", "eid")
      .orderBy($"uid", $"valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).toString,
        Option(r.getTimestamp(3)).map(_.toString), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "on", "2026-08-10 00:00:00.0", Some("2026-08-10 02:00:00.0"), false),
      (1L, "off", "2026-08-10 02:00:00.0", Some("2026-08-10 03:00:00.0"), false),
      (1L, "on", "2026-08-10 03:00:00.0", None, true),
      (2L, "x", "2026-08-10 00:30:00.0", None, true)))
  }

  test("corpus diff: added/removed/changed/unchanged statuses exact") {
    import graft.operators.CorpusDiff
    val prev = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val next = Seq((2L, "beta"), (3L, "gamma EDITED"), (9L, "delta")).toDF("doc_id", "text")
    val got = CorpusDiff.diff(prev, next, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 9L -> "added"))
  }

  test("decontamination plan: eval gram set broadcast, train side not shuffled " +
      "before the per-doc agg") {
    val train = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val eval_ = Seq((2L, "a b c d e f g h")).toDF("doc_id", "text")
    val plan = Decontaminate.overlapReport(train, eval_, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join for the eval gram set, got:\n$plan")
  }

  test("boilerplateScrub: frequent blocks removed, order-preserving reassembly") {
    // block size 2; "b1 b2" appears in docs 1-4 (df=4 > maxDocFreq=3) →
    // removed everywhere, including BOTH copies inside doc 1
    val boiler = "b1 b2"
    val docs = Seq(
      (1L, s"$boiler u1 u2 $boiler"),
      (2L, s"$boiler x1 x2"),
      (3L, s"y1 y2 $boiler"),
      (4L, s"$boiler"),
      (5L, "z1 z2 z3 z4")
    ).toDF("doc_id", "text")
    val out = Chunking.boilerplateScrub(docs, "doc_id", "text",
        blockTokens = 2, maxDocFreq = 3)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "u1 u2"),
      (2L, 2L, 1L, "x1 x2"),
      (3L, 2L, 1L, "y1 y2"),
      (4L, 1L, 1L, ""),      // fully boilerplate → empty, row kept
      (5L, 2L, 0L, "z1 z2 z3 z4")))
    // removal set is broadcast: corpus blocks never build a sort/shuffle join
    val plan = Chunking.boilerplateScrub(docs, "doc_id", "text", 2, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe of the removal set, got:\n$plan")
  }

  test("unigramScores: hand-checked NLLs, decimal staging is order-stable") {
    // corpus: "a a b" (doc 1) + "a c" (doc 2) → N=5, p(a)=3/5, p(b)=p(c)=1/5
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = NgramLm.unigramScores(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val nllA = dec6(-math.log(3.0 / 5.0))
    val nllB = dec6(-math.log(1.0 / 5.0))
    assert(out(0)._1 == 1L && out(0)._2 == 3L)
    assert(out(0)._3 == ((nllA * 2 + nllB) / 3).toDouble)
    assert(out(1)._3 == ((nllA + nllB) / 2).toDouble)
    // OOV handling: score doc with unseen token against the fitted model
    val model = NgramLm.fitUnigrams(
      docs.select($"doc_id", explode(split($"text", " ")).as("tok")))
    val heldOut = Seq((9L, "a zzz")).toDF("doc_id", "text")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val dropped = NgramLm.scoreTokens(heldOut, "doc_id", model).collect()
    assert(dropped.head.getAs[Long]("n_tokens") == 1L) // zzz dropped
    val floored = NgramLm.scoreTokens(heldOut, "doc_id", model,
      oovNll = Some(9.9)).collect()
    assert(floored.head.getAs[Long]("n_tokens") == 2L)
    assert(floored.head.getAs[Double]("avg_nll") == ((nllA + dec6(9.9)) / 2).toDouble)
  }

  test("funnel: first-failing-stage attribution, one pass, edge cases") {
    val df = Seq(
      (1L, 10, "en"),  // passes all
      (2L, 2, "en"),   // fails stage 0
      (3L, 10, "de"),  // fails stage 1
      (4L, 3, "fr")    // fails stage 0 (also would fail 1 — attributed to 0)
    ).toDF("id", "n", "lang")
    val rep = Funnel.report(df, Seq(
      "min_n" -> ($"n" >= 5),
      "lang_en" -> ($"lang" === "en")))
      .orderBy($"stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rep.toSeq == Seq(
      (0, "min_n", 4L, 2L, 0.5),
      (1, "lang_en", 2L, 1L, 0.5)))
    // null predicate result counts as a failure, not a pass-through
    val withNull = Seq((1L, Some(10)), (2L, None)).toDF("id", "v")
    val rep2 = Funnel.report(withNull, Seq("v_pos" -> ($"v" > 0))).collect()
    assert(rep2.head.getAs[Long]("docs_out") == 1L)
  }

  /** The bigram model `QueriesCorpus.bigramSurprisal` stages: both count
    * tables plus the total token count. */
  private def fitBigrams(docs: org.apache.spark.sql.DataFrame) = {
    val uni = NgramLm.uniCountTable(docs, "doc_id", "text")
    NgramLm.BigramModel(uni, NgramLm.biCountTable(docs, "doc_id", "text"),
      uni.agg(sum($"c1")).head().getLong(0))
  }

  test("bigramScores: hand-checked NLLs; held-out scoring backs off") {
    import graft.operators.NgramLm.BigramModel
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // corpus: "a b a b" + "b c" → N=6, c1: a=2 b=3 c=1;
    // c2: (a,b)=2 (b,a)=1 (b,c)=1
    val docs = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = NgramLm.bigramScoresWithModel(docs, "doc_id", "text",
        fitBigrams(docs))
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1: first 'a' -ln(2/6); (a,b) -ln(2/2)=0; (b,a) -ln(1/3); (a,b) 0
    val d1 = (dec6(-math.log(2.0 / 6.0)) + dec6(-math.log(1.0)) +
      dec6(-math.log(1.0 / 3.0)) + dec6(-math.log(1.0))) / 4
    // doc 2: first 'b' -ln(3/6); (b,c) -ln(1/3)
    val d2 = (dec6(-math.log(3.0 / 6.0)) + dec6(-math.log(1.0 / 3.0))) / 2
    assert(out(0) == ((1L, 4L, d1.toDouble)))
    assert(out(1) == ((2L, 2L, d2.toDouble)))
    // held-out: "b a c" — (b,a) seen; (a,c) UNSEEN → stupid backoff to
    // alpha*c1(c)/N; first 'b' unigram
    val model = fitBigrams(docs)
    val held = NgramLm.scoreBigrams(
      Seq((9L, "b a c")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val want = (dec6(-math.log(3.0 / 6.0)) + dec6(-math.log(1.0 / 3.0)) +
      dec6(-math.log(0.4 * (1.0 / 6.0)))) / 3
    assert(held.head == ((3L, want.toDouble)))
    // unknown-token positions drop (known-mass convention): "a zz" keeps
    // only the first-token unigram — the (a,zz) backoff has no c1(zz)
    val oov = NgramLm.scoreBigrams(
      Seq((8L, "a zz")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect()
    assert(oov.head.getAs[Long]("n_tokens") == 1L)
    assert(oov.head.getAs[Double]("avg_nll") == dec6(-math.log(2.0 / 6.0)).toDouble)
  }

  test("bm25 topK: idf ordering, self-retrieval, deterministic ties") {
    // "rare" appears in 1 doc, "common" in all → rare term dominates
    val docs = Seq(
      (1L, "common rare alpha beta"),
      (2L, "common alpha beta gamma"),
      (3L, "common beta gamma delta")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "rare"), (200L, "common")).toDF("qid", "qtext")
    val out = graft.operators.Bm25.topK(
        docs, queries, "doc_id", "text", "qid", "qtext", k = 3)
      .orderBy($"qid", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // 'rare' → only doc 1 matches
    assert(out.filter(_._1 == 100L).toSeq == Seq((100L, 1, 1L)))
    // 'common' → all three docs, same tf/dl → tie broken by doc id asc
    assert(out.filter(_._1 == 200L).toSeq ==
      Seq((200L, 1, 1L), (200L, 2, 2L), (200L, 3, 3L)))
    // corpus postings prune to the query vocabulary via a broadcast
    val plan = graft.operators.Bm25.topK(
        docs, queries, "doc_id", "text", "qid", "qtext", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast query-vocab semi join, got:\n$plan")
  }

  test("sourceOverlap: upper-triangle pairs, distinct blocks, no self-pairs") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // one shared block
    val docs = Seq(
      ("a", s"$shared a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      ("b", s"$shared b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
      ("c", shared),
      ("c", shared), // duplicate within source: still ONE distinct block
      ("d", "d1 d2")
    ).toDF("source", "text")
    val out = Overlap.sharedBlockMatrix(docs, "source", "text", blockTokens = 10)
      .orderBy($"source_a", $"source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("a", "b", 1L), ("a", "c", 1L), ("b", "c", 1L)))
  }

  test("cdcChunks: lossless reassembly, contiguous ids, edit re-sync " +
      "(the property fixed grids lack), blank doc dropped") {
    import graft.functions.Md5Word32Expression
    def isAnchor(t: String) =
      Md5Word32Expression.word32(t.getBytes("UTF-8")) % 16 == 0
    // a long deterministic token stream with real anchors in it
    val toksA = (1 to 400).map(i => s"w${i % 97}")
    assert(toksA.count(isAnchor) > 2, "corpus should contain anchors")
    // the edit token must NOT itself be an anchor for the re-sync claim
    val edit = "zq"
    assert(!isAnchor(edit))
    val docs = Seq(
      (1L, toksA.mkString(" ")),
      (2L, (edit +: toksA).mkString(" ")), // one token prepended
      (3L, "   ")                          // blank: dropped
    ).toDF("doc_id", "text")
    val chunks = Chunking.cdcChunks(docs, "doc_id", "text", divisor = 16)
      .orderBy($"doc_id", $"chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    assert(!chunks.exists(_._1 == 3L), "blank doc must emit no chunks")
    val a = chunks.filter(_._1 == 1L).map(_._3).toSeq
    val b = chunks.filter(_._1 == 2L).map(_._3).toSeq
    // lossless: chunks concatenate back to the exact token stream,
    // chunk ids contiguous from 0
    assert(a.mkString(" ") == toksA.mkString(" "))
    assert(chunks.filter(_._1 == 1L).map(_._2).toSeq == a.indices.toSeq)
    // CDC re-sync: a front-of-document insert changes ONLY the first
    // chunk; every later chunk keeps its identity (dupBlockStats' fixed
    // grid would shift all of them)
    assert(b.head == s"$edit ${a.head}")
    assert(b.tail == a.tail, "edit failed to re-synchronize")
    // chunk lengths: every chunk ends at an anchor except the last
    for ((_, _, txt) <- chunks.filter(_._1 == 1L).dropRight(1))
      assert(isAnchor(txt.split(" ").last),
        s"non-final chunk must end at an anchor: '$txt'")
    // planted duplication is counted token-weighted
    val dup = Chunking.cdcDupStats(Seq(
        (1L, toksA.mkString(" ")), (2L, (edit +: toksA).mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text", divisor = 16)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // all chunks except each doc's first are shared between the docs
    assert(dup(0)._3 == dup(0)._2 - 1, s"doc1 dup chunks: ${dup(0)}")
    assert(dup(1)._3 == dup(1)._2 - 1, s"doc2 dup chunks: ${dup(1)}")
  }
}
