package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, ConnectedComponents, Hits, KCore,
  LabelPropagation, LoopCache, PageRank, ShortestPath, Staging}

/** Round-13 trust-at-scale specs (VERDICT r12 #2/#4 + ADVICE #1):
  *
  *  1. failure injection — the loop machinery's "caches are cost model,
  *     never correctness" claim, made executable: cached BLOCKS are
  *     dropped mid-loop (executor-cache-loss simulation, persistence
  *     marks intact) and a memoized result is re-read after a full
  *     `clearCache()`; results must be bit-identical either way;
  *  2. session scoping — loop-tuned operators must hand back frames
  *     bound to the PARENT session, so the tuned conf (fixed width,
  *     AQE off) never leaks into downstream plans a caller composes;
  *  3. staging concurrency — a reader racing a forced re-derive sees
  *     the old complete stage or the new complete stage, never a
  *     partial directory (the atomic-rename + `_SUCCESS` argument,
  *     made into a test).
  */
class ResilienceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic mid-sized digraph: enough structure for 5 rounds of
  // every iterative operator, small enough to recompute many times
  private def graphEdges: DataFrame =
    (for {
      a <- 1L to 60L; b <- 1L to 60L
      if a != b && (a % 11 == b % 11 || a + 1 == b || a * 2 == b)
    } yield (a, b)).toDF("src", "dst")

  private def adjOf(e: DataFrame): DataFrame =
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .groupBy(col("src"), col("outdeg"))
      .agg(sort_array(collect_list(col("dst"))).as("dsts"))

  private def snapshot(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def coldStart(): Unit = {
    spark.catalog.clearCache()
    LoopCache.clearMemo()
  }

  /** Run `body` while every job completion drops ALL cached RDD blocks
    * (marks stay — Spark will recompute AND re-cache on next access,
    * exactly what an executor loss looks like to the cache layer). */
  private def underBlockLoss[T](body: => T): T = {
    val sc = spark.sparkContext
    val evictor = new SparkListener {
      override def onJobEnd(end: SparkListenerJobEnd): Unit =
        org.apache.spark.graftbridge.TestBridge.dropAllRddBlocks(sc)
    }
    sc.addSparkListener(evictor)
    try body finally {
      sc.removeSparkListener(evictor)
      // let any in-flight eviction settle before the next test's runs
      org.apache.spark.graftbridge.TestBridge.drainListenerBus(sc)
    }
  }

  test("failure injection: mid-loop block loss leaves fixedPointAdj exact") {
    val e = graphEdges
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val adj = adjOf(e)
    coldStart()
    val expected = snapshot(PageRank.fixedPointAdj(adj, nodes, iterations = 5))
    coldStart()
    val got = underBlockLoss {
      snapshot(PageRank.fixedPointAdj(adj, nodes, iterations = 5))
    }
    assert(got == expected,
      "PageRank under continuous block eviction diverged from the clean run")
  }

  test("failure injection: mid-loop block loss leaves the reRoot loop (SSSP) exact") {
    val e = graphEdges
    val we = e.withColumn("w", col("src") * 10L + col("dst"))
    val wadj = we.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(struct(col("dst").as("d"), col("w"))))
        .as("nbrs"))
    val seeds = Seq(1L, 12L).toDF("id")
    coldStart()
    val expected = snapshot(ShortestPath.distancesAdj(wadj, seeds, "id", rounds = 4))
    coldStart()
    // distancesAdj pins each round then re-roots it (SqlBridge.reRoot);
    // dropping the pinned blocks forces the "evicted blocks recompute
    // through the original plan" path the reRoot scaladoc promises
    val got = underBlockLoss {
      snapshot(ShortestPath.distancesAdj(wadj, seeds, "id", rounds = 4))
    }
    assert(got == expected,
      "SSSP's re-rooted rounds under block eviction diverged from the clean run")
  }

  test("failure injection: mid-loop block loss leaves connected components exact") {
    // forces the DISTRIBUTED min-label path (smallGraphEdges=1), which
    // round 13 moved from localCheckpoint (lineage CUT — a lost block
    // failed every later read) to pin+reRoot (lineage kept): block loss
    // must now recompute, not fail
    val e = graphEdges
    coldStart()
    val expected = snapshot(ConnectedComponents.components(
      e, "src", "dst", smallGraphEdges = 1L))
    coldStart()
    val got = underBlockLoss {
      snapshot(ConnectedComponents.components(
        e, "src", "dst", smallGraphEdges = 1L))
    }
    assert(got == expected,
      "distributed CC under block eviction diverged (or failed) vs the clean run")
  }

  test("failure injection: clearCache() after HITS leaves the memoized frame exact") {
    val e = graphEdges
    val srcAdj = e.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val dstAdj = e.groupBy(col("dst").as("id"))
      .agg(sort_array(collect_list(col("src"))).as("nbrs"))
    coldStart()
    val first = Hits.scoresAdj(srcAdj, dstAdj, rounds = 3)
    val expected = snapshot(first)
    // drop every pinned backing WITHOUT clearing the memo: the memoized
    // frame must lazily recompute through its lineage (slower, still
    // correct — LoopCache.memo's documented contract)
    spark.catalog.clearCache()
    val again = Hits.scoresAdj(srcAdj, dstAdj, rounds = 3)
    assert(snapshot(again) == expected,
      "memoized HITS after clearCache() diverged — lineage recompute is broken")
  }

  test("r16-migrated loops: warm re-invocation is the memoized frame; " +
      "clearCache() recomputes exactly") {
    // the deep-rounds migration (round 16) moved LPA (both layouts),
    // PageRank.personalized and the edge-layout k-core onto
    // LoopCache.memo + reRoot — pin both halves of that contract:
    // (a) a re-invoked query factory returns the SAME memoized frame
    //     (zero jobs — the warm path), and
    // (b) after clearCache() the memoized frame lazily RECOMPUTES
    //     through kept lineage to the exact same rows (the reRoot-not-
    //     localCheckpoint eviction contract).
    val e = graphEdges
    val adjU = e.select(col("src").as("id"), col("dst").as("nb"))
      .union(e.select(col("dst").as("id"), col("src").as("nb")))
      .groupBy(col("id")).agg(sort_array(collect_list(col("nb"))).as("nbrs"))
    val seeds = Seq(1L).toDF("id")
    coldStart()
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame, Boolean)] = Seq(
      ("lpa_edge", () => EdgeLoops.lpaCommunities(e, "src", "dst", rounds = 3), true),
      ("lpa_adj", () => LabelPropagation.communitiesAdj(adjU, rounds = 3), true),
      ("ppr_edge", () => EdgeLoops.personalizedPageRank(e, "src", "dst", seeds, "id",
        iterations = 3), true),
      // kcore's memo sits INSIDE an untuned() rebind, so the hit is
      // same-plan, not same-object
      ("kcore_edge", () => KCore.survivors(
        e.union(e.select(col("dst"), col("src"))), "src", "dst",
        k = 2, rounds = 3), false))
    for ((name, fn, sameObject) <- runs) {
      val first = fn()
      val expected = snapshot(first)
      val again = fn()
      if (sameObject)
        assert(again eq first,
          s"$name warm re-invocation did not return the memoized frame")
      else
        assert(again.queryExecution.analyzed.sameResult(
          first.queryExecution.analyzed),
          s"$name warm re-invocation produced a different plan")
      spark.catalog.clearCache()
      assert(snapshot(fn()) == expected,
        s"$name memoized frame after clearCache() diverged — lineage " +
          "recompute is broken")
      coldStart()
    }
  }

  test("loop-tuned operators hand back parent-session frames") {
    val e = graphEdges
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val adj = adjOf(e)
    val nbrAdj = e.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val dstAdj = e.groupBy(col("dst").as("id"))
      .agg(sort_array(collect_list(col("src"))).as("nbrs"))
    val wadj = e.withColumn("w", col("src") * 10L + col("dst"))
      .groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(struct(col("dst").as("d"), col("w"))))
        .as("nbrs"))
    val seeds = Seq(1L).toDF("id")
    coldStart()
    val results = Seq(
      "fixedPointAdj" -> PageRank.fixedPointAdj(adj, nodes, iterations = 3),
      "personalizedAdj" -> PageRank.personalizedAdj(adj, seeds, "id", iterations = 3),
      "levelsAdj" -> Bfs.levelsAdj(nbrAdj, seeds, "id", rounds = 3),
      "distancesAdj" -> ShortestPath.distancesAdj(wadj, seeds, "id", rounds = 3),
      "scoresAdj" -> Hits.scoresAdj(nbrAdj, dstAdj, rounds = 2),
      "kcore" -> KCore.survivors(
        e.union(e.select(col("dst"), col("src"))), "src", "dst",
        k = 2, rounds = 3),
      "components" -> ConnectedComponents.components(e, "src", "dst"))
    for ((name, df) <- results) {
      assert(df.sparkSession eq spark,
        s"$name returned a frame bound to a tuned loop session — its " +
          "fixed-width/AQE-off conf would govern every downstream plan")
      // and the warm path (cache/memo probes) must stay parent-bound too
      assert(df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "true")
    }
    // warm re-invocation goes through the probe/memo paths — same contract
    assert(Bfs.levelsAdj(nbrAdj, seeds, "id", rounds = 3).sparkSession eq spark,
      "warm BFS probe hit returned a tuned-session frame")
  }

  test("staging: reader racing a forced re-derive only ever sees complete stages") {
    val name = s"reader_race_${java.util.UUID.randomUUID().toString.take(8)}"
    // inputs: a real file so the fingerprint is stable across the race
    val inputFile = java.nio.file.Files.createTempFile("graft_race_input", ".txt")
    java.nio.file.Files.write(inputFile, "race".getBytes)
    val inputs = Seq(inputFile.toString)
    @volatile var version = 1
    def derive: DataFrame = {
      val v = version
      // v1 = 500 rows tagged 1, v2 = 900 rows tagged 2: a partial read
      // shows up as a count outside {500, 900} or a mixed version column
      spark.range(if (v == 1) 500 else 900).toDF("i")
        .withColumn("version", lit(v)).repartition(4)
    }
    Staging.stagedOrDerive(spark, name, inputs, force = false)(derive).count()
    val dir = Staging.stageDirOf(name, inputs).toString

    @volatile var writerDone = false
    @volatile var failure: Option[String] = None
    var sawOld = 0
    var sawNew = 0
    var sawMissing = 0
    val reader = new Thread(() => {
      // fresh relation every pass (bypasses the staged-read memo): each
      // read lists the dir as an external process would
      while (!writerDone && failure.isEmpty) {
        try {
          val rows = spark.read.parquet(dir)
            .groupBy(col("version")).agg(count(lit(1)).as("n")).collect()
          if (rows.length != 1) failure = Some(s"mixed versions: ${rows.toSeq}")
          else (rows(0).getInt(0), rows(0).getLong(1)) match {
            case (1, 500L) => sawOld += 1
            case (2, 900L) => sawNew += 1
            case other => failure = Some(s"partial stage read: $other")
          }
        } catch {
          // the only legitimate failures: the dir (or a file in it) is
          // atomically gone between the trash-aside and the new rename —
          // a MISSING stage, never a TRUNCATED one
          case t: Throwable =>
            val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
              .map(e => e.getClass.getName + ": " + String.valueOf(e.getMessage))
              .mkString(" <- ")
            if (chain.contains("FileNotFound") || chain.contains("PATH_NOT_FOUND") ||
                chain.contains("does not exist")) sawMissing += 1
            else if (chain.contains("UNABLE_TO_INFER_SCHEMA")) {
              // Spark's read is TWO-phase — existence check, then file
              // listing: a trash-aside rename landing between them
              // yields an empty listing, so the missing-dir window
              // surfaces as UNABLE_TO_INFER_SCHEMA instead of
              // PATH_NOT_FOUND (the r16 full-suite flake, root-caused
              // r17: case (a) of the two VERDICT hypotheses). Accept it
              // as "missing" ONLY with corroboration; the publish
              // protocol itself never exposes dir-without-_SUCCESS
              // (the dir only ever appears via atomic rename of a
              // complete tmp), so that shape stays a hard failure.
              val dirPath = java.nio.file.Paths.get(dir)
              if (!java.nio.file.Files.exists(dirPath)) sawMissing += 1
              else if (!java.nio.file.Files.exists(dirPath.resolve("_SUCCESS"))) {
                // guard our own TOCTOU: the dir may have been trashed
                // between the two checks above
                if (!java.nio.file.Files.exists(dirPath)) sawMissing += 1
                else failure = Some("UNABLE_TO_INFER_SCHEMA with the dir " +
                  "present but no _SUCCESS: the publish protocol exposed " +
                  "an incomplete stage")
              } else {
                // republished complete between the failed listing and
                // now — corroborate with one immediate re-read: an
                // existing-but-EMPTY published stage would return 0
                // rows here and still fail
                try {
                  val rows2 = spark.read.parquet(dir)
                    .groupBy(col("version")).agg(count(lit(1)).as("n")).collect()
                  val ok = rows2.length == 1 &&
                    Set((1, 500L), (2, 900L))
                      .contains((rows2(0).getInt(0), rows2(0).getLong(1)))
                  if (ok) sawMissing += 1
                  else failure = Some("re-read after UNABLE_TO_INFER_SCHEMA " +
                    s"saw an incomplete stage: ${rows2.toSeq}")
                } catch { // raced the NEXT re-derive: a missing window again
                  case _: Throwable => sawMissing += 1
                }
              }
            }
            else failure = Some(s"unexpected reader failure: $chain")
        }
      }
    })
    reader.start()
    try {
      for (_ <- 1 to 3) {
        version = 2
        // the production REFRESH branch: trash the live stage aside
        // atomically, re-derive, rename the replacement in
        Staging.stagedOrDerive(spark, name, inputs, force = true)(derive).count()
        version = 1
        Staging.stagedOrDerive(spark, name, inputs, force = true)(derive).count()
      }
    } finally {
      writerDone = true
      reader.join(30000)
    }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(sawOld + sawNew > 0, "reader never completed a single read — " +
      s"no evidence gathered (missing-dir reads: $sawMissing)")
  }

  test("failure injection: block loss leaves the r16 pin/finish operators exact") {
    import graft.operators.{PrefixJoin, Sampling, SkipGram}
    // budgetSelect: the broadcast base offsets are computed from the
    // SAME pinned frame the window later reads — block loss between the
    // two consumers must recompute consistently (deterministic value
    // ranges, not sampled boundaries, is what makes that safe)
    val docs = (1L to 2000L).map(i => (i, i % 97 + 1, (i * 7919) % 1000))
      .toDF("id", "n_tokens", "score")
    coldStart()
    val selExp = snapshot(
      Sampling.budgetSelect(docs, "id", "n_tokens", "score", 1, 2))
    coldStart()
    val selGot = underBlockLoss { snapshot(
      Sampling.budgetSelect(docs, "id", "n_tokens", "score", 1, 2)) }
    assert(selGot == selExp, "budgetSelect diverged under block eviction")
    // containmentJoin: the pinned token stream feeds the df aggregate,
    // the prefix rank AND the verify double-join
    val sets = (1L to 40L).map(i =>
      (i, (0L to (i % 7) + 3).map(j => s"t${(i + j) % 19}")))
      .toDF("id", "toks")
    coldStart()
    val cExp = snapshot(PrefixJoin.containmentJoin(sets, "id", "toks", 90, 100))
    coldStart()
    val cGot = underBlockLoss {
      snapshot(PrefixJoin.containmentJoin(sets, "id", "toks", 90, 100)) }
    assert(cGot == cExp, "containmentJoin diverged under block eviction")
    // skip-gram: the pinned token table feeds pairs, unigrams and the total
    val texts = (1L to 300L).map(i => s"w${i % 5} w${i % 7} w${i % 5} w${i % 3}")
      .toDF("text")
    coldStart()
    val sExp = snapshot(SkipGram.associations(texts, "text", minCount = 1L))
    coldStart()
    val sGot = underBlockLoss {
      snapshot(SkipGram.associations(texts, "text", minCount = 1L)) }
    assert(sGot == sExp, "skip-gram associations diverged under block eviction")
    // exactQuotaSample: the pinned max-quota scalar shapes the PLAN (the
    // WindowGroupLimit literal) while the broadcast quota column cuts
    // per stratum — block loss must leave the kept-row identity intact
    val strat = (1L to 1500L).map(i => (i, s"s${i % 4}")).toDF("id", "st")
    val targets = Seq(("s0", 40L), ("s1", 900L), ("s2", 7L))
      .toDF("st", "target_n")
    coldStart()
    val qExp = snapshot(Sampling.exactQuotaSample(strat, "st", "id", targets))
    coldStart()
    val qGot = underBlockLoss {
      snapshot(Sampling.exactQuotaSample(strat, "st", "id", targets)) }
    assert(qGot == qExp, "exactQuotaSample diverged under block eviction")
  }
}
