package graft.cli

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import graft.gen.SyntheticBitacora
import graft.ops.Kpi
import graft.report.Report

/** CLI entry points mirroring the reference's run recipe
  * (/root/reference/README.md:100-137):
  *
  *   runMain graft.cli.GenerarDatos   --n_registros 500 --seed 42 --salida out/datos.jsonl
  *   runMain graft.cli.CalcularKpi    --input out/datos.jsonl --output out/kpi
  *   runMain graft.cli.GenerarReporte --input out/kpi --output out/report.html --umbral_p90 300
  */
object CliUtil {
  /** `--name value` pairs → name -> value. Any other shape throws an
    * IllegalArgumentException naming the token: a token where a flag
    * belongs that is not `--name`, or a flag whose value is missing
    * (last token) or is another flag. */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map { pair =>
      val k = pair.head
      if (k.length <= 2 || !k.startsWith("--"))
        throw new IllegalArgumentException(s"expected a --name flag, got: $k")
      if (pair.length < 2 || pair(1).startsWith("--"))
        throw new IllegalArgumentException(s"flag $k has no value")
      k.drop(2) -> pair(1)
    }.toMap

  /** Pin the JVM default locale to ROOT. The reference's Python
    * `f"{x:.2f}"` is locale-independent; the Scala f-interpolator in
    * Report/Charts is not — without the pin the report CLIs render
    * comma-decimal under a de_DE-style host locale. A PROCESS-WIDE
    * mutation, so it is called only from the CLI `main`s (which own
    * their process), never from [[session]] — a library/test caller
    * building a session must not have its process locale silently
    * changed (ADVICE r14). */
  def pinLocale(): Unit = java.util.Locale.setDefault(java.util.Locale.ROOT)

  /** Runs `body` with stdout (`System.out` and Scala's `Console.out`)
    * printing UTF-8 into `sink`, and restores the previous `System.out`
    * after. The JVM's default charset follows the host locale (ASCII with
    * LANG unset, printing "P?rez"), while the reference prints UTF-8
    * everywhere. The swap is process-wide like the locale pin, so only a
    * `main` calls it, never a stage's `run`. */
  def utf8Stdout[T](sink: java.io.OutputStream)(body: => T): T = {
    val prev = System.out
    val out = new java.io.PrintStream(sink, true,
      java.nio.charset.StandardCharsets.UTF_8)
    System.setOut(out)
    try Console.withOut(out)(body)
    finally { out.flush(); System.setOut(prev) }
  }

  /** Everything a CLI `main` does around its stage: [[pinLocale]], a UTF-8
    * stdout ([[utf8Stdout]]), the flags, and a session stopped at the
    * end. */
  def main(name: String, args: Array[String])(
      body: (SparkSession, Map[String, String]) => Unit): Unit = {
    pinLocale()
    utf8Stdout(System.out) {
      val spark = session(name)
      try body(spark, parseArgs(args)) finally spark.stop()
    }
  }

  /** The one session factory: the CLI mains, Verify, Bench, BenchStream,
    * the probes and the test session all build their session here, from
    * [[confs]]. `master` defaults to `local[<cpus>]` ([[cpus]]). */
  def session(name: String, master: Option[String] = None): SparkSession =
    SparkSession.builder().config(confs(name, master, sys.env)).getOrCreate()

  /** The cores a default session runs on: `SPARK_GRAFT_CPUS` when set,
    * else the cores this JVM sees. */
  private[graft] def cpus(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

  private val LocalN = """local\[\s*(\d+)\s*(?:,\s*\d+\s*)?\]""".r
  private val LocalCluster =
    """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r

  /** Every conf [[session]] sets, as a pure function of the app name, the
    * master and the environment.
    *
    * Shuffle partitions are the master's task slots: n for `local[n]` and
    * `local[n,m]`, workers × cores for `local-cluster[w,c,MiB]`, [[cpus]]
    * for any other master.
    *
    * Artifact isolation is off. Spark 4.1 turns it on by default, which
    * gives every SparkSession its own executor class loader, and Spark
    * caches generated code per (class loader, code). The engine makes new
    * sessions all the time: each `LoopCache.loopSession` clone (rebuilt
    * after every `LoopCache.clearMemo`) and each streaming query's
    * internal clone. With isolation on, each of them would recompile the
    * same classes and run them cold. The engine adds no session artifacts
    * (`spark.jars` is context-wide), so one shared class loader loses
    * nothing, and every session shares one codegen cache per JVM.
    *
    * Streaming checkpoints go through
    * [[graft.streaming.LocalCheckpointFileManager]]. Without the native
    * libhadoop, Spark's default manager starts one shell process (`chmod`,
    * `readlink`) per checkpoint file or more, and on a small micro-batch
    * those process starts cost more than the batch's compute. The manager
    * writes `file:` checkpoints with java.nio and delegates every other
    * scheme to Spark's default manager.
    *
    * The rank-filter pre-trim (WindowGroupLimit) threshold is raised from
    * its 1000-row default, which defeats it for any corpus-scale quota.
    *
    * Shuffle files are only deleted after their RDDs are garbage
    * collected (ContextCleaner), and a big-heap JVM can run a 157-query
    * bench pass without a single full GC: Spark's 30 min periodic GC let
    * an sf10 run accumulate 63 GB of dead shuffle files and fill the
    * disk. 120 s bounds the backlog to a few queries' worth, and the GC
    * runs in the cleaner thread, off the queries' critical path.
    *
    * Under `local-cluster` the session adds [[clusterConfs]]; under any
    * other master, `SPARK_GRAFT_JARS` (when set) becomes `spark.jars`. */
  private[graft] def confs(name: String, master: Option[String],
      env: Map[String, String]): Map[String, String] = {
    val m = master.getOrElse(s"local[${cpus(env)}]")
    val slots = m match {
      case LocalN(n) => n
      case LocalCluster(w, c, _) => (w.toInt * c.toInt).toString
      case _ => cpus(env)
    }
    Map(
      "spark.app.name" -> name,
      "spark.master" -> m,
      "spark.sql.shuffle.partitions" -> slots,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.streaming.LocalCheckpointFileManager].getName,
      "spark.sql.optimizer.windowGroupLimitThreshold" -> "16777216",
      "spark.cleaner.periodicGC.interval" -> "120s",
    ) ++ (
      if (m.startsWith("local-cluster")) clusterConfs(m, env)
      else env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _))
  }

  /** The confs a session under a `local-cluster[workers,cores,MiB]`
    * master adds (Verify, ChaosKillProbe). Executor JVMs are
    * launched by the in-process Worker, so they need the packaged graft
    * jar (`SPARK_GRAFT_JARS`, from `sbt package`) to deserialize graft
    * classes, the JDK17 module opens the driver gets from build.sbt and
    * tools/run_main.sh, and a heap that fits the worker
    * ([[executorMemory]]). Without the jar every task fails with
    * ClassNotFoundException on the executors, so its absence fails
    * here, before the session starts. */
  private[graft] def clusterConfs(master: String, env: Map[String, String])
      : Map[String, String] = {
    require(env.contains("SPARK_GRAFT_JARS"),
      s"SPARK_GRAFT_MASTER=$master needs SPARK_GRAFT_JARS=<path to the " +
        "packaged graft jar> (sbt package) so executor JVMs can " +
        "deserialize graft classes")
    val addOpens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar",
    ).map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")
    Map("spark.jars" -> env("SPARK_GRAFT_JARS"),
      "spark.executor.extraJavaOptions" -> addOpens,
      "spark.executor.memory" ->
        executorMemory(master, env.get("SPARK_GRAFT_EXECUTOR_MEM")))
  }

  /** `SPARK_GRAFT_EXECUTOR_MEM` if set, else the worker memory of a
    * `local-cluster[workers,cores,MiB]` master: standalone refuses to
    * start an executor bigger than its worker. */
  private[graft] def executorMemory(master: String, env: Option[String]): String =
    env.getOrElse(master match {
      case LocalCluster(_, _, mib) => s"${mib}m"
      case _ => "8g"
    })
}

/** Stage [1]: the reference's HTTP client run (http_client.py:199-211) —
  * the same eight tasks plus the three artifacts the reference persists:
  * pretty `datos.json`, raw `datos.xml`, extracted-title `titulo.html`.
  *
  * Task [1], basic auth, runs first and alone, as a gate: when it fails,
  * the run stops before any other request is sent. Tasks [2]–[8] are
  * independent of each other (the cookie round-trip keeps its order
  * inside its own one-task session), so they then start together, as
  * Spark jobs on a small thread pool, and the 403 task's retry backoff
  * (500 + 1000 ms) overlaps the other fetches. Their results are awaited
  * in reference order, and in that order each console line is printed,
  * each artifact written and each check raised, so the output reads
  * exactly as a sequential run's.
  *
  *   runMain graft.cli.ClienteHttp --base_url https://httpbin.org --out out
  */
object ClienteHttp {
  import java.nio.file.Path
  import scala.concurrent.{Await, ExecutionContext, Future}
  import scala.concurrent.duration.Duration
  import graft.sources.{HttpArtifacts, HttpIngest}

  /** Threads running tasks [2]–[8]: the 403 task holds one through its
    * backoff, the six quick fetches share the rest. */
  private val Threads = 4

  def run(spark: SparkSession, baseUrl: String, outDir: Path): Unit = {
    // [1] basic auth — hard failure unless authenticated (http_client.py:80-88)
    val auth = HttpIngest.basicAuth(spark,
      s"$baseUrl/basic-auth/usuario_test/clave123", "usuario_test", "clave123")
      .collect().head
    require(auth.getAs[Int]("status_code") == 200 && auth.getAs[Boolean]("authenticated"),
      "Autenticación no exitosa: authenticated != true")
    println(s"[AUTH BASIC] OK: user=${auth.getAs[String]("user")}")

    // created here, so its threads inherit the caller's Spark local
    // properties (job group, scheduler pool, tags)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    try {
      // [2] cookie round-trip within one ordered session (http_client.py:91-103)
      val cookies = Future(HttpIngest.cookieSession(spark,
        s"$baseUrl/cookies/set?session=activa", s"$baseUrl/cookies").collect())
      // [3] tolerated 403 — retried, logged, continue (http_client.py:106-115)
      val st = Future(HttpIngest.tolerated403(spark, s"$baseUrl/status/403").collect().head)
      // [4] /get JSON (http_client.py:118-123)
      val getBody = Future(HttpIngest.extractJson(spark, s"$baseUrl/get")
        .collect().head.getAs[String]("body"))
      // [5] /xml raw body + parsed slide summary (http_client.py:126-137)
      val xml = Future {
        val body = HttpIngest.read(spark, Seq(s"$baseUrl/xml"), Map.empty)
          .collect().head.getAs[String]("body")
        (body, HttpIngest.xmlSlidesOfBody(spark, body).collect())
      }
      // [6] /html → title → h1 → SIN_TITULO chain (http_client.py:150-169)
      val title = Future(HttpIngest.extractHtmlTitle(spark, s"$baseUrl/html")
        .collect().head.getAs[String]("title"))
      // [7] form POST echo (http_client.py:172-184)
      val form = Future(HttpIngest.postForm(spark, s"$baseUrl/post", Seq(
        "nombre" -> "Juan", "apellido" -> "Pérez",
        "correo" -> "juan.perez@example.com",
        "mensaje" -> "Este es un mensaje de prueba.")).collect().head)
      // [8] redirect follow → final args (http_client.py:187-196)
      val red = Future(HttpIngest.redirect(spark, s"$baseUrl/redirect-to?url=/get")
        .collect().head)

      val sess = await(cookies).last.getAs[String]("session_cookie")
      require(sess == "activa", s"Cookie session no establecida correctamente. session=$sess")
      println(s"[COOKIES] OK: session=$sess")

      val st403 = await(st)
      println(s"[403] status final: ${st403.getAs[Int]("status_code")} " +
        s"(${st403.getAs[Int]("attempts")} intentos). Registrando evento y continuando...")

      // pretty-printed datos.json
      HttpArtifacts.writeText(outDir.resolve("datos.json"), HttpArtifacts.prettyJson(await(getBody)))
      println(s"[JSON] Guardado en ${outDir.resolve("datos.json")}")

      val (xmlBody, slides) = await(xml)
      HttpArtifacts.writeText(outDir.resolve("datos.xml"), xmlBody)
      val resumen = slides
        .map(r => s"{type: ${r.getAs[String]("slide_type")}, title: ${r.getAs[String]("title")}}")
        .mkString(", ")
      println(s"[XML] Guardado en ${outDir.resolve("datos.xml")}; resumen slides: [$resumen]")

      val t = await(title)
      HttpArtifacts.writeText(outDir.resolve("titulo.html"), t)
      println(s"[HTML] Título extraído: $t")

      println(s"[POST] Respuesta form: ${await(form).getAs[String]("form_echo")}")

      val r = await(red)
      println(s"[REDIRECT] status: ${r.getAs[Int]("status_code")}, " +
        s"args: ${r.getAs[String]("final_args")}")
    } finally {
      // a failed check returns only once every started request has ended
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }

  def main(args: Array[String]): Unit =
    CliUtil.main("cliente_http", args) { (spark, a) =>
      run(spark,
        a.getOrElse("base_url", "https://httpbin.org"),
        Paths.get(a.getOrElse("out", "out")))
    }
}

/** Stage [2]: seeded synthetic bitácora → JSONL. */
object GenerarDatos {
  def main(args: Array[String]): Unit =
    CliUtil.main("generar_datos", args) { (spark, a) =>
      SyntheticBitacora.writeJsonl(
        SyntheticBitacora.generate(spark,
          n = a.getOrElse("n_registros", "500").toLong,
          seed = a.getOrElse("seed", "42").toLong,
          days = a.getOrElse("days", "3").toInt),
        a.getOrElse("salida", "out/datos_jsonl"),
        singleFile = true)
    }
}

/** Stage [3]: JSONL bitácora → sorted KPI CSV. */
object CalcularKpi {
  def main(args: Array[String]): Unit =
    CliUtil.main("calcular_kpi", args) { (spark, a) =>
      val in = a.getOrElse("input", sys.error("--input required"))
      val out = a.getOrElse("output", sys.error("--output required"))
      Kpi.writeKpiCsv(Kpi.bitacoraKpi(Kpi.readBitacora(spark, in)), out)
    }
}

/** Stage [4]: KPI CSV → HTML report + the two chart PNGs
  * (the reference's full artifact set, generar_reporte.py:263-292). */
object GenerarReporte {
  def main(args: Array[String]): Unit =
    CliUtil.main("generar_reporte", args) { (spark, a) =>
      val in = a.getOrElse("input", sys.error("--input required"))
      val out = a.getOrElse("output", "out/report.html")
      val umbral = a.getOrElse("umbral_p90", "300").toDouble
      Report.writeReportArtifacts(Kpi.readKpiCsv(spark, in), umbral, Paths.get(out))
      println(s"[generar_reporte] wrote $out (+ ${Report.RequestsPngName}, ${Report.P90PngName})")
    }
}
