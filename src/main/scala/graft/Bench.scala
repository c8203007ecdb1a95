package graft
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import graft.ArtifactJson.{fixed, orNull, text}
import graft.tools.TaskEnvelope

/** Benchmark main: runs the headline queries (Queries.benchNames) on
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the `noop` sink
  * (a bare .count() would let Catalyst prune most of the plan).
  * Prints ONE JSON line per the driver contract.
  *
  * CONTENTION AWARENESS (round 9): the round-8 artifact was poisoned by
  * host load — 65/124 "warm" times equalled pass-1 cold because the box
  * was busy during the whole run, and the artifact carried no evidence
  * either way. Now a fixed SENTINEL (sum over a generated range — constant
  * work, no IO, no cache interaction) is timed before the suite and after
  * every ~20 queries: if a sentinel reading exceeds the drift threshold vs the
  * baseline, the span it closes was measured under contention. The warm
  * pass re-runs such spans (bounded retries) until the sentinel is clean
  * or retries run out; the artifact records the full sentinel series and
  * a `contended` flag so a reader can audit the measurement itself.
  *
  * PROFILES: every timed query run carries a [[TaskEnvelope]] (jobs,
  * stages, tasks, executor CPU/run/GC time, shuffle bytes, spill, peak
  * task memory), attached around the timed region and drained after it.
  * The detail file records, per tier, the envelope of the run whose time
  * that tier reports (`profiles_cold`, `profiles`; prodcold: `profiles`),
  * and lists as `reuse` the queries whose reported warm run ran no Spark
  * job — a memo or cached result, not work. The stdout lines carry no
  * profile.
  *
  * Profiling one query: `SPARK_GRAFT_BENCH_ONLY=<name>[,name...]`
  * (optionally with `SPARK_GRAFT_BENCH_MODE=prodcold`) runs the same
  * protocol on the subset, and the detail file holds its profiles.
  */
object Bench {

  // Probe sizing is from MEASURED noise (N back-to-back sentinel timings
  // at each row count; the artifact's `sentinels` series): at 1e7
  // rows the job is scheduling-dominated (max/min ~2.5x on an idle box —
  // the first r9 run flagged itself contended on its own jitter); at 2e9
  // rows the idle band is ±15%, i.e. a clean reading can sit up to
  // ~1.35x ABOVE the running-min baseline. Round 9's 1.75x per-probe
  // threshold failed OPEN: the driver's run had sentinels at 1.2-1.8x
  // base under sustained moderate load, query times ~2x inflated, and
  // the artifact still said contended=false. Three detectors now
  // (VERDICT r9 #2 / ADVICE), each covering a load shape the others miss:
  //  - PER-PROBE at 1.4x (just above the idle band's 1.35x reach, so
  //    jitter alone cannot trip it even once) on the min of three
  //    back-to-back readings — all must exceed it. Catches bursts.
  //  - SUSTAINED: median of the whole raw sentinel series > 1.3x the
  //    final baseline. Catches the exact r9 shape — persistent moderate
  //    load arriving after a clean baseline (r9's median read ~1.47x
  //    base while no single probe tripped 1.75x). 1.3 not 1.2 because
  //    the baseline is a running MIN: idle median/min alone is ~1.1-1.2.
  //  - ABSOLUTE: the probe is constant work, so its idle time is a
  //    property of the host and its core count, not the run. If even
  //    the run's best (minimum) sentinel exceeds 1.3x the committed idle
  //    reference for this (host, cpus), the box was loaded for the
  //    entire run — the one shape no relative check can see (a poisoned
  //    baseline normalizes everything).
  private val SentinelRows = 2000000000L
  private val SentinelChunk = 20
  private val SentinelDriftMax = 1.4
  private val SentinelMedianMax = 1.3
  private val MaxChunkRetries = 2

  private def hostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown" }
  // The committed references and the sentinel history live in the repo's
  // `calibration/`, found from a DISCOVERED repo root rather than the bare
  // process CWD, so a Bench run from another directory still finds them.
  // Order: explicit env override; walk UP from CWD to a dir containing
  // build.sbt; finally walk up from THIS CLASS's code location
  // (target/scala-2.13/classes or the packaged jar live inside the repo).
  private def upTo(marker: String, start: java.nio.file.Path) =
    Iterator.iterate(start.toAbsolutePath)(p => Option(p.getParent).orNull)
      .takeWhile(_ != null).take(16)
      .find(p => java.nio.file.Files.exists(p.resolve(marker)))
  private def repoRoot: Option[java.nio.file.Path] = {
    sys.env.get("SPARK_GRAFT_REPO_ROOT")
      .map(java.nio.file.Paths.get(_))
      .orElse(upTo("build.sbt",
        java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))))
      .orElse {
        try {
          val loc = getClass.getProtectionDomain.getCodeSource
            .getLocation.toURI
          upTo("build.sbt", java.nio.file.Paths.get(loc))
        } catch { case _: Throwable => None }
      }
  }
  private def calibrationDir: java.nio.file.Path =
    repoRoot.getOrElse(java.nio.file.Paths.get(".")).resolve("calibration")

  /** The idle sentinel reference for (`host`, `cpus`): the committed
    * floor of a measured idle run, `sentinel_ref_<host>_c<cpus>` under
    * `dir`, with that file name as its source tag. The floor scales with
    * the cores a run gets (0.11 s in the committed 32-core reference,
    * 1.3 s at 4), so a reference taken at another count says nothing. */
  private[graft] def sentinelRef(dir: java.nio.file.Path, host: String,
      cpus: String): Option[(Double, String)] = {
    val name = s"sentinel_ref_${host}_c$cpus"
    try Some((new String(java.nio.file.Files.readAllBytes(dir.resolve(name)),
      "UTF-8").trim.toDouble, name))
    catch { case _: java.io.IOException | _: NumberFormatException => None }
  }

  /** The `contended` verdict: true when a relative detector fired or the
    * run's floor sits above 1.3x the idle reference; false only when a
    * reference exists and nothing fired; unknown (null) otherwise. */
  private[graft] def verdict(drifted: Boolean, base: Double,
      ref: Option[Double]): Option[Boolean] =
    if (drifted) Some(true) else ref.map(r => base > r * SentinelMedianMax)

  /** Sentinel HISTORY (VERDICT r17 #6): every bench run appends one line
    * (UTC time, run floor, resolved ref, contended verdict, sf, cpus,
    * mode) to `calibration/sentinel_history_<host>.jsonl`, so the
    * host's floor over time is an auditable series. Best-effort: a
    * read-only checkout must not fail the bench. */
  private def appendSentinelHistory(a: Audit, mode: String): Unit =
    try {
      val ts = java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(java.time.Instant.now().truncatedTo(
          java.time.temporal.ChronoUnit.SECONDS))
      java.nio.file.Files.createDirectories(calibrationDir)
      java.nio.file.Files.write(
        calibrationDir.resolve(s"sentinel_history_$hostName.jsonl"),
        (text(historyLine(ts, a, mode)) + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sentinel history append failed: ${e.getMessage}") }

  /** Constant-work probe: seconds for an agg over SentinelRows generated
    * rows. No file IO, no shuffle, nothing cacheable — its time moves
    * only with host CPU availability. */
  private def sentinelTime(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(SentinelRows).selectExpr("sum(id * 2 + 1) as s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The JSON lines go to stdout as UTF-8, whatever the host locale. */
  def main(args: Array[String]): Unit =
    graft.cli.CliUtil.utf8Stdout(System.out)(run())

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val ref = sentinelRef(calibrationDir, hostName, cpus)
    val spark = graft.cli.CliUtil.builder(s"local[$cpus]", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // rank-filter pre-trim for corpus-scale quotas (see Verify.scala)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "16777216")
      // Shuffle files are only deleted after their RDDs are GARBAGE
      // COLLECTED (ContextCleaner), and a big-heap bench JVM can run a
      // 157-query pass without a single full GC — Spark's 30min default
      // periodicGC let the r18 sf10 run accumulate 63 GB of dead shuffle
      // files and fill the disk. 120s bounds the backlog to a few
      // queries' worth; the GC itself is off the timed path's critical
      // sections (it runs in the cleaner thread between queries).
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "120s"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_BENCH_ONLY=q120_link_prediction[,name...] restricts the
    // run to the named queries — a builder-side A/B probe that keeps the
    // EXACT bench protocol (warmup, sentinel audit, chunk cache scope)
    // for a subset. Never set by the driver; a filtered artifact is
    // distinguishable by its n_queries.
    val qs = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(names) =>
        val want = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        Queries.registry.filter(q => q.bench && want(q.name))
      case None => Queries.registry.filter(_.bench)
    }
    // JVM/codegen warmup on the smallest SF so the timed runs measure the
    // query, not first-call classloading. EVERY query is warmed (r12):
    // warming only the first absorbed shared infrastructure but left each
    // query's own whole-stage kernels to compile INSIDE its timed run —
    // 0.4–2.5 s of serial driver-side janino per query, measured by
    // back-to-back prodcold repeats. A long-lived production JVM has
    // compiled its daily query mix; "cold" here means data/cache state,
    // not first-ever-compile. Untimed, and the artifact records the
    // scope ("warmup":"all-sf0.001"). Opt out: SPARK_GRAFT_WARMUP=first.
    val warmupScope =
      if (sys.env.get("SPARK_GRAFT_WARMUP").contains("first")) "first-sf0.001"
      else "all-sf0.001"
    val warmupT0 = System.nanoTime()
    (if (warmupScope == "first-sf0.001") qs.take(1) else qs).foreach { q =>
      try q.fn(spark, "/root/testdata/sf0.001").write
        .format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // drop the warmup's tiny-SF pins so the timed passes start from the
    // same cache state as before (prodcold clears per query anyway), and
    // reset stage provenance so the artifact's `staged` map records the
    // TIMED corpus's stages, not the warmup's sf0.001 derives (provenance
    // is keyed by bare stage name; first record wins)
    spark.catalog.clearCache()
    graft.operators.LoopCache.clearMemo()
    graft.operators.Staging.resetProvenance()
    System.err.println(f"[bench] warmup($warmupScope): " +
      f"${(System.nanoTime() - warmupT0) / 1e9}%.1f s (untimed)")
    // sentinel baseline: min of 3 at suite start — then tightened to the
    // running min of every later reading, so a baseline itself measured
    // under load cannot make the drift check lenient for the whole run.
    // Taken AFTER warmup so codegen of the probe is excluded.
    var sentinelBase = (1 to 3).map(_ => sentinelTime(spark)).min
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    var drifted = false
    // Every probe takes THREE back-to-back readings — the SAME procedure
    // as the baseline — and decides on their min. A single reading taken
    // right after a heavy query chunk is inflated by GC/page-cache
    // pressure even on an idle box (the clean r9 PRODCOLD run's singles
    // read 1.2-1.5x base — overlapping the contended run's 1.2-1.8x, so
    // no single-reading threshold can separate them), while SUSTAINED
    // host load inflates every rep. The rep count must MATCH the
    // baseline's: consecutive sentinel reps converge (measured idle:
    // 0.44 -> 0.26 -> 0.23 s), so a min-of-2 probe systematically reads
    // 1.2-1.45x a min-of-3 baseline on an idle box — r11/r12 hands-off
    // runs flagged themselves contended on exactly that skew. Both/all
    // raw readings land in the recorded series unlaundered (ADVICE r9);
    // decisions use the per-probe mins.
    val probeMins = scala.collection.mutable.ArrayBuffer[Double]()
    def probe(): Double = {
      val reads = (1 to 3).map(_ => sentinelTime(spark))
      sentinels ++= reads
      val s = reads.min
      probeMins += s
      sentinelBase = math.min(sentinelBase, s)
      s
    }
    // Sustained moderate load never trips a single probe but inflates
    // every query: flag it from the median of the per-probe mins vs the
    // final (running-min) baseline. Load present for the WHOLE run
    // (baseline poisoned too) is the absolute check in `verdict`.
    if (ref.isEmpty)
      System.err.println(
        s"[bench] WARNING: no calibration/sentinel_ref_${hostName}_c$cpus, so " +
          "the absolute contention check is skipped, and `contended` reads " +
          "null unless a relative detector fires.")
    def sustainedDrift(): Boolean = probeMins.nonEmpty && {
      val sorted = probeMins.sorted
      sorted(sorted.size / 2) > sentinelBase * SentinelMedianMax
    }
    def audit(): Audit = Audit(sfDir, cpus, warmupScope, sentinelBase,
      sentinels.toSeq, ref,
      verdict(drifted || sustainedDrift(), sentinelBase, ref.map(_._1)),
      graft.operators.Staging.provenanceObject)

    // Per-query failed-ATTEMPT counter (ADVICE r10): min-of-successes
    // merge means a query that deterministically fails in one tier but
    // passes the other reports a clean number — the artifact must still
    // show the failures so a cold-only regression stays visible.
    val failCounts = scala.collection.mutable.LinkedHashMap[String, Int]()
    // the envelope's listener is attached before and drained after the
    // timed region, so the time is what it was without the profile
    def timeQuery(q: Queries.Q): Run = {
      var sec = -1.0
      val env = TaskEnvelope.measure(spark) {
        val t0 = System.nanoTime()
        try {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          sec = (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          failCounts(q.name) = failCounts.getOrElse(q.name, 0) + 1
        }
      }
      Run(sec, env)
    }

    // PRODUCTION-COLD tier (SPARK_GRAFT_BENCH_MODE=prodcold): one pass,
    // caches + operator memos dropped BEFORE each query, so every query
    // pays its own pins and shares nothing with its neighbors — "first
    // run of the day" per query, JVM warm (the warmup above absorbed
    // classloading). One-pass by design, so contention cannot be retried
    // away — the sentinel series is recorded for the reader instead.
    if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("prodcold")) {
      val runs = qs.grouped(SentinelChunk).flatMap { chunk =>
        val times = chunk.map { q =>
          spark.catalog.clearCache()
          graft.operators.LoopCache.clearMemo()
          q.name -> timeQuery(q)
        }
        if (probe() > sentinelBase * SentinelDriftMax) drifted = true
        times
      }.toSeq
      val a = audit()
      println(text(prodcoldLine(a, runs, withProfiles = false)))
      // the prodcold artifact lands in its own file too, so the official
      // record never depends on shell redirection of the sbt log; only
      // the file carries the profiles
      val prodcoldPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
        java.nio.file.Paths.get("BENCH_PRODCOLD.json").toAbsolutePath.toString)
      val line = text(prodcoldLine(a, runs, withProfiles = true))
      writeArtifact(prodcoldPath, line)
      writeArtifact(cpusKeyedPath(prodcoldPath, cpus), line)
      // ABSOLUTE LAST stdout line: a minimal record that survives any
      // log-tail scrape window (BENCH_r{8..12}.json all read "parsed":
      // null because the full line outgrew the driver's ~2000-char tail
      // — VERDICT r12 "what's wrong #1"). Everything else is in the file.
      println(miniLine("total_prodcold", a, secs(runs), prodcoldPath))
      appendSentinelHistory(a, "prodcold")
      spark.stop()
      return
    }

    // BIG-CORPUS cache scope (r18): the suite-lifetime cache reuse below
    // is the point of the warm tier — but every pinned plan also pins
    // its SHUFFLE FILES (ContextCleaner can only reap what is
    // unreferenced), and at the sf10 replica a full two-pass run
    // accumulated 63+ GB of live shuffle/cache spill and filled the
    // disk. SPARK_GRAFT_CHUNK_CLEAR=1 drops caches + operator memos at
    // each CHUNK boundary, bounding retained state to one chunk's worth
    // (~20 queries): pass B then re-measures with staged tables, JIT,
    // and OS page cache warm but Spark caches cold — a steady-state
    // re-run, not a cache-hit run. The artifact records which scope
    // measured it ("cache_scope") so warm numbers are never compared
    // across scopes by accident.
    val chunkClear = sys.env.get("SPARK_GRAFT_CHUNK_CLEAR").contains("1")
    val cacheScope = if (chunkClear) "chunk" else "suite"
    def chunkBoundary(): Unit = if (chunkClear) {
      spark.catalog.clearCache()
      graft.operators.LoopCache.clearMemo()
    }

    // ---- pass A (cold): chunked, sentinel-audited, NO retries — a
    // retry would run against warm caches and stop being a cold
    // measurement. A drifted close therefore SETS the contended flag
    // directly (the cold tier cannot be re-measured honestly, so the
    // artifact must say so rather than certify a load-poisoned cold
    // total with contended:false).
    val passA: Seq[(String, Run)] = qs.grouped(SentinelChunk).flatMap { chunk =>
      chunkBoundary()
      val times = chunk.map(q => q.name -> timeQuery(q))
      if (probe() > sentinelBase * SentinelDriftMax) drifted = true
      times
    }.toSeq
    // NOTE: no clearCache between queries (default suite scope) —
    // CacheManager matches persisted plans SEMANTICALLY, so pass 2's
    // identical queries legitimately reuse pass 1's cached
    // intermediates and min-of-two reports warm steady-state (clearing
    // forced both passes cold and inflated the iterative-graph queries
    // ~2x; measured round 5).

    // ---- pass B (warm): chunked, and a chunk whose closing sentinel
    // drifted re-runs (min-merged) up to MaxChunkRetries — this is what
    // makes the WARM tier trustworthy under transient host load. The
    // retry trigger uses the TIGHTER sustained threshold (1.3x), not the
    // burst threshold: a warm retry is cheap and min-merged, so being
    // trigger-happy here only costs wall-clock while guaranteeing a
    // span measured under even moderate load is re-measured before it
    // lands in the artifact (VERDICT r9 #2's done-criterion).
    val warmByName = scala.collection.mutable.LinkedHashMap[String, Run]()
    qs.grouped(SentinelChunk).foreach { chunk =>
      var attempt = 0
      var clean = false
      while (!clean && attempt <= MaxChunkRetries) {
        chunkBoundary()
        val times = chunk.map(q => q.name -> timeQuery(q))
        times.foreach { case (n, v) =>
          warmByName(n) = warmByName.get(n).map(merge(_, v)).getOrElse(v)
        }
        clean = probe() <= sentinelBase * SentinelMedianMax
        attempt += 1
      }
      if (!clean) drifted = true
    }
    val a = audit()
    val passB = warmByName.toSeq
    // Full record — both tiers, every query, the raw sentinel series,
    // attempt-failure counts, profiles — goes to the DETAIL FILE. stdout
    // gets a SHORT line instead: rounds 8-10 proved the ~5 KB full line
    // never survives the driver's ~2000-char tail window
    // (BENCH_r{8,9,10}.json all read "parsed": null). The short line
    // carries the totals, the audit verdict, and the 20 heaviest warm
    // queries.
    //
    // The detail file lands next to the checkout being benched: env override
    // first, else the working directory (NOT a hardcoded absolute path —
    // a bench run from another checkout must not write into this one).
    // ALSO written to a cpus-keyed sibling (BENCH_DETAIL_c8.json …): the
    // driver runs the bench at two core counts per round, and the second
    // run used to clobber the first's only full per-query record
    // (VERDICT r18 #6 — the 8-CPU detail overwrote the 32-CPU one).
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL",
      java.nio.file.Paths.get("BENCH_DETAIL.json").toAbsolutePath.toString)
    val line = text(detailLine(a, cacheScope, passA, passB, failCounts.toSeq))
    writeArtifact(detailPath, line)
    writeArtifact(cpusKeyedPath(detailPath, cpus), line)
    // stdout gets the SHORT line; "queries" would misread as the full
    // per-query dict it held through r10 (ADVICE r11), so the subset is
    // explicitly marked: renamed key + truncation flag. Naive
    // round-over-round tail comparers must use the detail file.
    val shortLine = text(Bench.shortLine(a, cacheScope, passA, passB, detailPath))
    println(shortLine)
    // The round-total also lands in its OWN clean file (VERDICT r11 #3):
    // BENCH_r{8..11}.json all read "parsed": null because the total line
    // had to be scraped out of the sbt log tail.
    writeArtifact(sys.env.getOrElse("SPARK_GRAFT_BENCH_TOTAL",
      java.nio.file.Paths.get("BENCH_TOTAL.json").toAbsolutePath.toString),
      shortLine)
    // ABSOLUTE LAST stdout line: minimal, tail-window-proof (see the
    // prodcold branch note). The short line above stays for humans and
    // for BENCH_TOTAL.json; this one exists to parse from a ~2000-char
    // log tail even with sbt's trailing [success] line after it.
    println(miniLine("total", a, secs(warmRuns(passA, passB)), detailPath))
    appendSentinelHistory(a, "two-pass")
    spark.stop()
  }

  /** One timed run: its seconds (-1 when it failed) and its envelope. */
  private[graft] final case class Run(sec: Double, env: TaskEnvelope.Env)

  /** What every Bench line states about its run: the corpus, the core
    * count, the warmup scope, the sentinel audit (baseline, raw series,
    * the (host, cpus) reference with its source, the verdict) and the
    * stage provenance. */
  private[graft] final case class Audit(sf: String, cpus: String,
      warmup: String, base: Double, sentinels: Seq[Double],
      ref: Option[(Double, String)], contended: Option[Boolean],
      staged: JValue)

  // -1 means "no sample from this attempt", not "poison every other
  // attempt": min of the successful readings, -1 only when EVERY
  // attempt failed. (r9 shape: one transient failure inside any of up
  // to 3 warm chunk retries permanently reported the query failed and
  // dropped it from the warm total even when other attempts passed.)
  // The kept run's envelope comes with its time.
  private def merge(a: Run, b: Run): Run =
    if (a.sec < 0) b else if (b.sec < 0) a else if (b.sec < a.sec) b else a
  private def secs(rs: Seq[(String, Run)]) = rs.map { case (n, r) => n -> r.sec }
  private def totalOf(rs: Seq[(String, Double)]) =
    rs.collect { case (_, v) if v >= 0 => v }.sum
  /** The warm tier: each cold run min-merged with its pass-B runs. */
  private def warmRuns(cold: Seq[(String, Run)], passB: Seq[(String, Run)]) = {
    val b = passB.toMap
    cold.map { case (n, r) => n -> b.get(n).fold(r)(merge(r, _)) }
  }
  private def secsJson(rs: Seq[(String, Double)], dp: Int): JObject =
    JObject(rs.toList.map { case (n, v) => n -> fixed(v, dp) })
  private def names(ns: Seq[String]): JArray = JArray(ns.toList.map(JString(_)))

  private def headline(metric: String, total: Double, a: Audit): JObject =
    ("metric" -> metric) ~ ("value" -> fixed(total, 3)) ~ ("unit" -> "sec") ~
      ("warmup" -> a.warmup)
  private def contendedJson(a: Audit): JValue = orNull(a.contended)(JBool(_))
  /** sf, cpus, the sentinel audit and the stage provenance.
    * `total_floor_normalized` (VERDICT r14 #5 / r15 #4) is
    * `total × idle_ref / run_floor`: the total this run would have read
    * on the idle host, null without a reference for this (host, cpus). */
  private def auditFields(a: Audit, total: Double, series: Boolean): JObject =
    ("sf" -> a.sf) ~ ("cpus" -> cpusJson(a.cpus)) ~
      ("sentinel_base" -> fixed(a.base, 3)) ~
      ("sentinel_ref" -> orNull(a.ref)(r => fixed(r._1, 4))) ~
      ("sentinel_ref_source" -> a.ref.fold("none")(_._2)) ~
      ("total_floor_normalized" -> orNull(a.ref.filter(_ => a.base > 0))(
        r => fixed(total * r._1 / a.base, 3))) ~
      ("sentinels" -> (if (series) JArray(a.sentinels.toList.map(fixed(_, 3)))
        else JNothing)) ~
      ("contended" -> contendedJson(a)) ~ ("staged" -> a.staged)

  /** The prodcold line; the file's copy adds the profiles. */
  private[graft] def prodcoldLine(a: Audit, runs: Seq[(String, Run)],
      withProfiles: Boolean): JObject = {
    val total = totalOf(secs(runs))
    headline("total_prodcold", total, a) ~ auditFields(a, total, series = true) ~
      ("queries" -> secsJson(secs(runs), 3)) ~
      ("profiles" -> (if (withProfiles) profilesJson(envs(runs)) else JNothing))
  }

  /** Queries that failed in the warm tier, and those where one whole tier
    * produced no sample but the other did (ADVICE r10): the merged number
    * is real, but the artifact says it is one-tier-only. */
  private def failures(cold: Seq[(String, Run)], passB: Seq[(String, Run)]) = {
    val b = passB.toMap
    (names(secs(warmRuns(cold, passB)).collect { case (n, v) if v < 0 => n }),
      names(cold.collect {
        case (n, r) if (r.sec < 0) != b.get(n).forall(_.sec < 0) => n }))
  }

  /** The two-pass detail line: both tiers, every query, the raw sentinel
    * series, attempt-failure counts and both tiers' profiles. */
  private[graft] def detailLine(a: Audit, cacheScope: String,
      cold: Seq[(String, Run)], passB: Seq[(String, Run)],
      failCounts: Seq[(String, Int)]): JObject = {
    val warm = warmRuns(cold, passB)
    val total = totalOf(secs(warm))
    val (failed, partial) = failures(cold, passB)
    headline("total", total, a) ~ ("cache_scope" -> cacheScope) ~
      ("total_cold" -> fixed(totalOf(secs(cold)), 3)) ~
      ("queries_cold" -> secsJson(secs(cold), 3)) ~
      ("failed" -> failed) ~ ("partial" -> partial) ~
      ("attempt_failures" -> JObject(failCounts.toList.map {
        case (n, c) => n -> JInt(c) })) ~
      auditFields(a, total, series = true) ~
      ("queries" -> secsJson(secs(warm), 3)) ~
      ("profiles_cold" -> profilesJson(envs(cold))) ~
      ("profiles" -> profilesJson(envs(warm))) ~
      // warm runs that ran no Spark job: a memo or cache read, labelled
      // as reuse, not speed
      ("reuse" -> names(warm.collect { case (n, r) if r.env.jobs == 0 => n }))
  }

  /** The two-pass stdout line (also BENCH_TOTAL.json): totals, the audit
    * verdict and the 20 heaviest warm queries, under ~1.5 KB. */
  private[graft] def shortLine(a: Audit, cacheScope: String,
      cold: Seq[(String, Run)], passB: Seq[(String, Run)],
      detailPath: String): JObject = {
    val warm = secs(warmRuns(cold, passB))
    val total = totalOf(warm)
    val (failed, partial) = failures(cold, passB)
    headline("total", total, a) ~ ("cache_scope" -> cacheScope) ~
      ("total_cold" -> fixed(totalOf(secs(cold)), 3)) ~
      ("n_queries" -> warm.size) ~ ("failed" -> failed) ~
      ("partial" -> partial) ~ auditFields(a, total, series = false) ~
      ("detail" -> detailPath) ~ ("queries_truncated" -> true) ~
      ("queries_top20" -> secsJson(warm.filter(_._2 >= 0).sortBy(-_._2).take(20), 3))
  }

  /** Tail-window-sized headline record: the driver contract's metric/
    * value/unit/sf/queries keys with the heaviest queries inlined;
    * `detail` points at the full artifact. The driver's log-tail scrape
    * window is exactly 2000 chars (measured: BENCH_r{16,17,18}.json all
    * carry len(tail)==2000) and sbt appends a ~75-char [success] line
    * after this one, so the inlined map is capped by BYTES, not by a
    * fixed top-5 count (r18's top-5 cap left the round-over-round PERF
    * diff with n_common=1 — VERDICT r18 #6): greedily take the heaviest
    * queries while the whole line stays under 1850 chars (~top-45).
    * `cpus` is stamped so the scaling pair's artifacts are
    * self-identifying. */
  private[graft] def miniLine(metric: String, a: Audit,
      results: Seq[(String, Double)], detailPath: String): String = {
    def line(top: Seq[(String, Double)]): String = text(
      ("metric" -> metric) ~ ("value" -> fixed(totalOf(results), 3)) ~
        ("unit" -> "sec") ~ ("sf" -> a.sf) ~ ("cpus" -> cpusJson(a.cpus)) ~
        ("n_queries" -> results.size) ~ ("contended" -> contendedJson(a)) ~
        ("detail" -> detailPath) ~ ("queries_truncated" -> true) ~
        ("queries" -> secsJson(top, 2)))
    val ranked = results.filter(_._2 >= 0).sortBy(-_._2)
    var n = ranked.size
    while (n > 5 && line(ranked.take(n)).length > 1850) n -= 1
    line(ranked.take(n))
  }

  /** One line of `calibration/sentinel_history_<host>.jsonl`. */
  private[graft] def historyLine(ts: String, a: Audit, mode: String): JObject =
    ("ts" -> ts) ~ ("floor" -> fixed(a.base, 4)) ~
      ("ref" -> orNull(a.ref)(r => fixed(r._1, 4))) ~
      ("contended" -> contendedJson(a)) ~ ("sf" -> a.sf) ~
      ("cpus" -> cpusJson(a.cpus)) ~ ("mode" -> mode)

  private def envs(rs: Seq[(String, Run)]) = rs.map { case (n, r) => n -> r.env }

  /** `{"<query>":{"jobs":..,...},...}`: one profile per query, the
    * envelope's counters in Spark's units (`cpu_ns`; `run_ms`, `gc_ms`;
    * bytes for the rest). */
  private[graft] def profilesJson(envs: Seq[(String, TaskEnvelope.Env)]): JObject =
    JObject(envs.toList.map { case (n, e) =>
      n -> (("jobs" -> e.jobs) ~ ("stages" -> e.stages) ~ ("tasks" -> e.tasks) ~
        ("cpu_ns" -> e.cpuNs) ~ ("run_ms" -> e.runMs) ~ ("gc_ms" -> e.gcMs) ~
        ("shuffle_write" -> e.shuffleWrite) ~ ("shuffle_read" -> e.shuffleRead) ~
        ("input" -> e.input) ~ ("mem_spill" -> e.memSpill) ~
        ("disk_spill" -> e.diskSpill) ~ ("peak_task_mem" -> e.peakTaskMem))
    })

  /** `cpus` is free-form env text ("*" is a legal local[] arg): a bare
    * JSON number only when it is ASCII digits (`isDigit` also accepts
    * non-ASCII digits, which JSON does not), else a string. */
  private[graft] def cpusJson(cpus: String): JValue =
    if (cpus.matches("[0-9]+")) JInt(BigInt(cpus)) else JString(cpus)

  /** `/x/BENCH_DETAIL.json` → `/x/BENCH_DETAIL_c32.json` for cpus=32. The
    * extension is looked for in the file name only: `/x/run.d/BENCH` →
    * `/x/run.d/BENCH_c32`. */
  private[graft] def cpusKeyedPath(path: String, cpus: String): String = {
    val i = path.lastIndexOf('.')
    if (i <= path.lastIndexOf('/')) s"${path}_c$cpus"
    else s"${path.substring(0, i)}_c$cpus${path.substring(i)}"
  }

  private def writeArtifact(path: String, line: String): Unit =
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(path), (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed ($path): ${e.getMessage}") }
}
