package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JObject, JString, JValue}

import graft.ArtifactJson.{fixed, text}

/** Stage-once materialization of shared derived tables — the disk
  * handoff between pipeline stages that the reference itself uses
  * (calcular_kpi writes kpi_por_dia.csv once; generar_reporte.py:262
  * reads it instead of re-deriving), generalized to any derived frame.
  *
  * Motivation (VERDICT r9 #4): the iterative-graph family (q94 PageRank,
  * q102 triangles, q110 PPR, q111 LPA, q113 BFS, q118 k-core, q120,
  * q128 link-pred) each re-derived the co-purchase edge table from
  * lineitem on every cold call — the single dominant cost of the
  * production-cold tier (33-96 s per query at sf0.1). At the 100 TB
  * design point "derive per query" means re-shuffling the fact table
  * eight times for eight graph queries; a real deployment stages the
  * edge table once and every downstream query scans the (much smaller)
  * staged parquet. This helper makes that the default shape:
  *
  *  - keyed by a FINGERPRINT of the input files (path + size + mtime of
  *    every file under the input roots), so a changed corpus re-stages
  *    and two corpora never collide;
  *  - written to a temp dir then ATOMICALLY renamed into place, so a
  *    concurrent second JVM (Verify racing Bench) either wins the
  *    rename or discards its attempt and reads the winner's — a reader
  *    never sees a half-written stage; since r18 an advisory heartbeat
  *    lock additionally makes the second cold process WAIT for the
  *    winner instead of paying a duplicate derive (one derive + one
  *    wait-and-read — gated cross-process by tools/check_stage_race.sh);
  *  - cache-transparent: callers get a plain parquet-backed DataFrame;
  *    Spark's CacheManager / LoopCache pin it exactly like the derived
  *    plan, and clearing caches (the prodcold protocol) re-reads the
  *    file instead of re-deriving the join.
  *
  * The stage root defaults to the JVM temp dir and is overridable with
  * SPARK_GRAFT_STAGE_DIR (a real cluster points it at shared storage).
  */
object Staging {

  private def stageRoot: Path = Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_stage"))

  /** Per-stage provenance for bench artifacts (VERDICT r11 #4): a run's
    * warm/cold totals depend on whether stage dirs pre-existed, so the
    * artifact must say which stages were derived this session (and what
    * each derive cost) vs found prebuilt. First record per name wins —
    * a stage derived once and then re-read stays "derived". */
  private val provenance =
    scala.collection.mutable.LinkedHashMap[String, JValue]()
  /** Records a stage's derive seconds (`Some`, written with 3 decimals),
    * or `label` ("prebuilt", "waited") when this process derived nothing. */
  private[graft] def recordStage(name: String, derivedSec: Option[Double],
      label: String): Unit =
    provenance.synchronized {
      if (!provenance.contains(name))
        provenance(name) = derivedSec.fold[JValue](JString(label))(fixed(_, 3))
    }
  /** `{"name": derive_seconds | "prebuilt" | "waited", ...}` covering
    * every stage touched since JVM start (or the last [[resetProvenance]]). */
  def provenanceObject: JObject = provenance.synchronized {
    JObject(provenance.toList)
  }
  /** [[provenanceObject]] as one line: seconds with 3 decimals and no
    * exponent, labels quoted. The benchmark harness reads it by regex. */
  def provenanceJson: String = text(provenanceObject)
  def resetProvenance(): Unit = provenance.synchronized(provenance.clear())

  /** Per-(session, path) memo of parquet reads: the staged tables, and
    * through [[graft.Tables]] the raw fixture files. Every bare
    * `spark.read.parquet(dir)` call re-lists the dir and re-infers the
    * schema with a one-task driver job (~0.3-0.7 s on a 4-core host) —
    * paid once per table per QUERY without the memo, which at a
    * 143-query suite dwarfed several stages' actual scan time. This is the same
    * relation-level metadata caching Spark's own catalog does for
    * tables; `spark.catalog.clearCache()` (the prodcold protocol) drops
    * cached DATA but deliberately not this plan-level metadata.
    * `invalidate` drops the entry first: a stage this process (re-)derives
    * is re-read. An EXTERNAL rewrite of a read path mid-session is
    * outside the freshness contract exactly as it is for catalog
    * tables. */
  private val readCache =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), DataFrame]
  private[graft] def readParquet(spark: SparkSession, dir: String,
      invalidate: Boolean = false): DataFrame = readCache.synchronized {
    if (invalidate) readCache.remove((spark, dir))
    readCache.getOrElseUpdate((spark, dir), spark.read.parquet(dir))
  }

  /** Hex fingerprint of the files under `inputs`: every regular file's
    * (path, size, mtime) folded into one 64-bit FNV-1a. Cheap (metadata
    * only — no data read) and exactly as fresh as the filesystem: a
    * rewritten input re-stages, an untouched one reuses. */
  private[graft] def fingerprint(inputs: Seq[String]): String = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    }
    inputs.sorted.foreach { in =>
      val p = Paths.get(in)
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(Files.isRegularFile(_))
            .toSeq.sortBy(_.toString)
            .foreach { f =>
              mix(f.toString); mix(Files.size(f).toString)
              mix(Files.getLastModifiedTime(f).toMillis.toString)
            }
        } finally walk.close()
      } else mix(s"missing:$in")
    }
    java.lang.Long.toHexString(h)
  }

  /** The staged frame for (`name`, fingerprint(`inputs`)), deriving and
    * writing it first iff no complete stage exists. Thread/process-safe
    * via write-to-temp + atomic rename; the `_SUCCESS` marker guards
    * against a stage dir that exists but predates rename atomicity. */
  def stagedOrDerive(spark: SparkSession, name: String,
      inputs: Seq[String])(derive: => DataFrame): DataFrame =
    // CONTRACT: the (path, size, mtime) fingerprint is the same freshness
    // rule Spark's own file index uses — it cannot see a same-size
    // rewrite inside one mtime tick or an mtime-preserving copy
    // (`cp -p`/`rsync -a`) of an equal-size file. Corpus swaps done that
    // way must either point SPARK_GRAFT_STAGE_DIR elsewhere, delete the
    // stage dir, or set SPARK_GRAFT_STAGE_REFRESH=1 to force re-derive.
    stagedOrDerive(spark, name, inputs,
      sys.env.get("SPARK_GRAFT_STAGE_REFRESH").contains("1"))(derive)

  /** Resolved on-disk location of a stage (specs and tooling). */
  private[graft] def stageDirOf(name: String, inputs: Seq[String]): Path =
    stageRoot.resolve(s"$name-${fingerprint(inputs)}")

  /** [[stagedOrDerive]] with the refresh decision as a parameter — the
    * env-var entry point above is the production path; the explicit
    * `force` overload lets the concurrency specs drive the refresh
    * branch deterministically.
    *
    * Cross-process work dedup (r18, VERDICT r17 #8): the rename protocol
    * alone is CORRECT under any interleaving, but two cold processes
    * landing on a fresh corpus (the real deployment shape: Verify racing
    * Bench, two jobs on a new snapshot) would both pay the full derive
    * and one would discard — at the 100 TB design point that is the
    * fact-table shuffle paid twice. A best-effort advisory LOCK
    * (atomic createFile + heartbeat) makes the loser WAIT for the
    * winner's `_SUCCESS` instead of deriving. The lock is a cost
    * optimization, never a correctness dependency: a crashed holder's
    * heartbeat stops and the lock goes stale (default 30 s,
    * SPARK_GRAFT_STAGE_LOCK_STALE_MS), a waiter steals it atomically
    * (move-to-trash, so exactly one stealer wins) and derives itself;
    * if staleness ever misfires (a >30 s GC pause on the holder), the
    * outcome is merely the pre-r18 double-derive, which the rename
    * protocol already handles. Readers still trust ONLY `_SUCCESS`. */
  private[graft] def stagedOrDerive(spark: SparkSession, name: String,
      inputs: Seq[String], force: Boolean)(derive: => DataFrame): DataFrame = {
    val dir = stageDirOf(name, inputs)
    if (force) trashAside(dir)
    val prebuilt = Files.exists(dir.resolve("_SUCCESS"))
    val t0 = System.nanoTime()
    // A failed atomic rename does NOT prove a concurrent stager won: the
    // target may be a STALE PARTIAL dir — an interrupted
    // SPARK_GRAFT_STAGE_REFRESH trashAside, or anything created outside
    // the write-tmp-then-rename protocol (ADVICE r10). Only the
    // `_SUCCESS` marker certifies completeness, so after a lost rename
    // re-check it; if absent, the blocker is garbage — move it aside and
    // retry the stage rather than silently reading truncated parquet.
    var attempts = 0
    var spins = 0
    var waited = false
    val lock = stageRoot.resolve(s".${dir.getFileName}.lock")
    while (!Files.exists(dir.resolve("_SUCCESS")) && attempts < 3) {
      val token = tryAcquireLock(lock)
      if (token.isDefined) {
        val heartbeat = startHeartbeat(lock)
        try {
          // re-check under the lock: a winner may have completed between
          // the loop test and our acquire
          if (!Files.exists(dir.resolve("_SUCCESS"))) {
            attempts += 1
            // Under the protocol a stage dir appears atomically and
            // complete, so dir-present-but-unmarked is stale garbage by
            // definition — move it aside (ATOMICALLY — never delete in
            // place: an in-place recursive delete can destroy a
            // CONCURRENT stager's freshly renamed-in complete stage in
            // the window between this process's _SUCCESS check and its
            // delete walk, ADVICE r11) so the rename below can land.
            if (Files.exists(dir) && !Files.exists(dir.resolve("_SUCCESS")))
              trashAside(dir)
            val tmp = stageRoot.resolve(
              s".${dir.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
            derive.write.mode("overwrite").parquet(tmp.toString)
            // ANY rename failure means "did not win" — on Linux a
            // non-empty target surfaces as a bare FileSystemException
            // (ENOTEMPTY), not DirectoryNotEmptyException, so catch the
            // whole family (StagingSpec's concurrent-stagers pin): the
            // loop re-checks `_SUCCESS` and either reads the winner or
            // retries.
            try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileSystemException =>
                deleteRecursively(tmp)
            }
          }
        } finally {
          heartbeat.interrupt()
          releaseLock(lock, token.get)
        }
      } else {
        // someone else holds a FRESH lock: wait for their _SUCCESS (or
        // for the lock to die) instead of paying a duplicate derive
        waited = true
        awaitWinner(dir, lock)
        // spin guard: acquire failing while NO lock exists (broken FS)
        // must degrade to the error path, never a hot loop
        if (!Files.exists(lock) && !Files.exists(dir.resolve("_SUCCESS"))) {
          spins += 1
          if (spins > 300)
            throw new IllegalStateException(
              s"stage lock $lock unacquirable with no holder present — " +
                "filesystem refused createFile; check the stage root")
          Thread.sleep(LockPollMs)
        }
      }
    }
    if (!Files.exists(dir.resolve("_SUCCESS")))
      throw new IllegalStateException(
        s"stage dir $dir has no _SUCCESS marker after $attempts attempts — " +
          "a stale partial stage dir keeps winning the rename race; " +
          "delete it manually or point SPARK_GRAFT_STAGE_DIR elsewhere")
    recordStage(name,
      if (prebuilt || (attempts == 0 && waited)) None
      else Some((System.nanoTime() - t0) / 1e9),
      if (prebuilt) "prebuilt" else "waited")
    // a re-derive under the same dir name (REFRESH, stale-dir retry)
    // must drop the memoized relation — its file list is gone
    readParquet(spark, dir.toString, invalidate = !prebuilt)
  }

  // ---- advisory stage lock (work dedup only — see stagedOrDerive) ----
  private def lockStaleMs: Long =
    sys.env.get("SPARK_GRAFT_STAGE_LOCK_STALE_MS").map(_.toLong)
      .getOrElse(30000L)
  private val LockPollMs = 200L

  /** Atomic acquire: createFile wins or loses; the lock body carries a
    * per-acquire token so a holder whose lock was STOLEN (staleness
    * misfire) can never delete the thief's fresh lock on release. */
  private def tryAcquireLock(lock: Path): Option[String] =
    try {
      Files.createDirectories(lock.getParent)
      val token = java.util.UUID.randomUUID().toString
      Files.createFile(lock)
      Files.write(lock, token.getBytes("UTF-8"))
      Some(token)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => None
      case _: java.io.IOException => None
    }

  private def releaseLock(lock: Path, token: String): Unit =
    try {
      val mine = new String(Files.readAllBytes(lock), "UTF-8") == token
      if (mine) Files.deleteIfExists(lock)
    } catch { case _: java.io.IOException => () }

  /** Daemon heartbeat: touches the lock's mtime so waiters can tell a
    * live slow derive from a dead holder. Dies with the JVM (kill -9
    * stops the heartbeat, the lock goes stale, a waiter steals it). */
  private def startHeartbeat(lock: Path): Thread = {
    val t = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          Thread.sleep(lockStaleMs / 6 max 100L)
          Files.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
        }
      } catch { case _: InterruptedException | _: java.io.IOException => () }
    }, s"graft-stage-heartbeat-${lock.getFileName}")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Block until the lock holder publishes `_SUCCESS`, or the lock
    * disappears / goes stale (holder finished, crashed, or was killed).
    * Stale steal is an ATOMIC move-to-trash so exactly one waiter wins
    * the takeover; the rest loop back to acquire/wait. */
  private def awaitWinner(dir: Path, lock: Path): Unit = {
    while (true) {
      if (Files.exists(dir.resolve("_SUCCESS"))) return
      if (!Files.exists(lock)) return
      val age =
        try System.currentTimeMillis() -
          Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.io.IOException => return }
      if (age > lockStaleMs) {
        val trash = stageRoot.resolve(
          s".${lock.getFileName}.stale-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          Files.move(lock, trash, StandardCopyOption.ATOMIC_MOVE)
          Files.deleteIfExists(trash)
        } catch { case _: java.io.IOException => () }
        return
      }
      Thread.sleep(LockPollMs)
    }
  }

  /** Remove a blocking dir WITHOUT an in-place recursive delete: rename
    * it ATOMICALLY to a unique trash name first, then delete the trash.
    * The rename either wins (this process now owns the old dir under a
    * name nobody reads) or fails harmlessly because a concurrent stager's
    * complete dir atomically replaced the stale one — in-place deletion
    * had a TOCTOU window where it could destroy that fresh stage while a
    * third process was already reading it (ADVICE r11). */
  private def trashAside(p: Path): Unit =
    if (Files.exists(p)) {
      val trash = stageRoot.resolve(
        s".${p.getFileName}.trash-${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        Files.move(p, trash, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(trash)
      } catch {
        case _: java.nio.file.NoSuchFileException |
            _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException |
            _: java.nio.file.AtomicMoveNotSupportedException => ()
      }
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }
}
