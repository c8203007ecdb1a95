package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 http connector tests against a local stub replaying the httpbin.org
  * response shapes the reference consumes (FIXTURES.md §3). No egress. */
class HttpSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark

  private var server: HttpServer = _
  private var base: String = _
  private val status403Hits = new AtomicInteger(0)
  private val flaky403Hits = new AtomicInteger(0)
  private val rateLimitedTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val retrySetHits = new AtomicInteger(0)
  private val retryFailHits = new AtomicInteger(0)
  private val retryCookieSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // every request the stub answers
  private val served = new AtomicInteger(0)

  private def reply(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    served.incrementAndGet()
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    val os: OutputStream = ex.getResponseBody
    if (bytes.nonEmpty) os.write(bytes)
    os.close()
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/basic-auth", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val expected = "Basic " + java.util.Base64.getEncoder
        .encodeToString("usuario_test:clave123".getBytes)
      if (auth.contains(expected))
        reply(ex, 200, """{"authenticated": true, "user": "usuario_test"}""")
      else reply(ex, 401, "")
    })
    // basic auth that answers but does not authenticate: the stage-[1]
    // gate's failure path (base URL `$base/denied`)
    server.createContext("/denied", (ex: HttpExchange) => {
      reply(ex, 200, """{"authenticated": false, "user": "usuario_test"}""")
    })
    server.createContext("/cookies/set", (ex: HttpExchange) => {
      reply(ex, 200, """{"cookies": {}}""",
        Map("Set-Cookie" -> "session=activa; Path=/"))
    })
    server.createContext("/cookies", (ex: HttpExchange) => {
      if (ex.getRequestURI.getPath == "/cookies") {
        val cookie = Option(ex.getRequestHeaders.getFirst("Cookie")).getOrElse("")
        val v = if (cookie.contains("session=activa")) "activa" else "MISSING"
        reply(ex, 200, s"""{"cookies": {"session": "$v"}}""")
      } else reply(ex, 404, "")
    })
    server.createContext("/status/403", (ex: HttpExchange) => {
      status403Hits.incrementAndGet(); reply(ex, 403, "")
    })
    server.createContext("/flaky403", (ex: HttpExchange) => {
      if (flaky403Hits.incrementAndGet() <= 2) reply(ex, 403, "")
      else reply(ex, 200, """{"ok": true}""")
    })
    server.createContext("/get", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val args = if (q.isEmpty) "{}"
        else "{" + q.split("&").map { kv =>
          val Array(k, v) = kv.split("=", 2); s""""$k": "$v"""" }.mkString(", ") + "}"
      reply(ex, 200, s"""{"args": $args, "url": "$base/get"}""")
    })
    server.createContext("/xml", (ex: HttpExchange) => {
      reply(ex, 200,
        """<?xml version="1.0"?><slideshow>
          |<slide type="all"><title>Wake up</title></slide>
          |<slide type="all"><title>Overview</title></slide>
          |</slideshow>""".stripMargin)
    })
    server.createContext("/html", (ex: HttpExchange) => {
      reply(ex, 200, "<html><head><title> Herman Melville - Moby-Dick </title></head><body><h1>Ch 1</h1></body></html>")
    })
    server.createContext("/html-noh1", (ex: HttpExchange) => {
      reply(ex, 200, "<html><body><p>nothing</p></body></html>")
    })
    server.createContext("/post", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val form = "{" + body.split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        s""""${java.net.URLDecoder.decode(k, "UTF-8")}": "${java.net.URLDecoder.decode(v, "UTF-8")}""""
      }.mkString(", ") + "}"
      reply(ex, 200, s"""{"form": $form}""")
    })
    server.createContext("/rate-limited", (ex: HttpExchange) => {
      rateLimitedTimes.add(System.nanoTime())
      if (rateLimitedTimes.size() <= 2)
        reply(ex, 429, "", Map("Retry-After" -> "1"))
      else reply(ex, 200, """{"ok": true}""")
    })
    server.createContext("/redirect-to", (ex: HttpExchange) => {
      val target = Option(ex.getRequestURI.getQuery).getOrElse("url=/get")
        .split("&").collectFirst { case kv if kv.startsWith("url=") =>
          java.net.URLDecoder.decode(kv.drop(4), "UTF-8") }.getOrElse("/get")
      reply(ex, 302, "", Map("Location" -> s"$base$target?from=redirect"))
    })
    // task-retry idempotency endpoints (VERDICT r13 #5): a 3-url cookie
    // sequence whose LAST url 500s on its first server hit — with
    // maxRetries=0 that kills task attempt 1 AFTER the first two urls
    // were already fetched, and Spark's at-least-once contract re-runs
    // the whole slice as task attempt 2
    server.createContext("/retry/cookies/set", (ex: HttpExchange) => {
      retrySetHits.incrementAndGet()
      reply(ex, 200, """{"cookies": {}}""",
        Map("Set-Cookie" -> "rsession=fresca; Path=/"))
    })
    server.createContext("/retry/cookies/get", (ex: HttpExchange) => {
      retryCookieSeen.add(
        Option(ex.getRequestHeaders.getFirst("Cookie")).getOrElse("<none>"))
      val v = if (Option(ex.getRequestHeaders.getFirst("Cookie"))
        .exists(_.contains("rsession=fresca"))) "fresca" else "MISSING"
      reply(ex, 200, s"""{"cookies": {"rsession": "$v"}}""")
    })
    server.createContext("/retry/fail-first", (ex: HttpExchange) => {
      if (retryFailHits.incrementAndGet() == 1) reply(ex, 500, "")
      else reply(ex, 200, """{"ok": true}""")
    })
    // a real pool: the default (null) executor serializes every handler
    // on the dispatcher thread, and stage [1] sends its tasks concurrently
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("S4 basic auth sends Authorization header; asserts authenticated") {
    val r = graft.sources.HttpIngest
      .basicAuth(spark, s"$base/basic-auth/usuario_test/clave123", "usuario_test", "clave123")
      .collect().head
    assert(r.getAs[Int]("status_code") == 200)
    assert(r.getAs[Boolean]("authenticated"))
    assert(r.getAs[String]("user") == "usuario_test")
  }

  test("S5 cookie round-trip within one session, ordered") {
    val rows = graft.sources.HttpIngest
      .cookieSession(spark, s"$base/cookies/set?session=activa", s"$base/cookies")
      .collect()
    assert(rows.length == 2)
    assert(rows.last.getAs[String]("session_cookie") == "activa")
  }

  test("S6 tolerated 403: retried then emitted as row, not error") {
    status403Hits.set(0)
    val r = graft.sources.HttpIngest.tolerated403(spark, s"$base/status/403")
      .collect().head
    assert(r.getAs[Int]("status_code") == 403)
    assert(r.getAs[Int]("attempts") == 3)      // 1 + maxRetries(2), http_client.py:44
    assert(status403Hits.get() == 3)           // stub saw the linear-backoff retries
  }

  test("S3 retry: 403 twice then 200 succeeds on third attempt") {
    flaky403Hits.set(0)
    val r = graft.sources.HttpIngest.read(spark, Seq(s"$base/flaky403"),
        Map("backoffMs" -> "10")).collect().head
    assert(r.getAs[Int]("status_code") == 200)
    assert(r.getAs[Int]("attempts") == 3)
    // elapsed_ms times the FINAL attempt only; total_ms spans the whole
    // retry loop incl. the 10+20ms linear backoff sleeps
    assert(r.getAs[Double]("total_ms") >= r.getAs[Double]("elapsed_ms") + 30.0)
  }

  test("unexpected 4xx fails the scan (raise_for_status semantics)") {
    val e = intercept[Exception] {
      graft.sources.HttpIngest.read(spark, Seq(s"$base/nope"), Map("backoffMs" -> "1"))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("P14 JSON extraction from /get body") {
    val r = graft.sources.HttpIngest.extractJson(spark, s"$base/get").collect().head
    assert(r.getAs[String]("echoed_url") == s"$base/get")
  }

  test("P12 XML slide extraction via from_xml") {
    // the stage-[1] path: one fetch, then the parse of its body
    val body = graft.sources.HttpIngest.read(spark, Seq(s"$base/xml"), Map.empty)
      .collect().head.getAs[String]("body")
    val rows = graft.sources.HttpIngest.xmlSlidesOfBody(spark, body).collect()
    assert(rows.map(_.getAs[String]("title")).toSeq == Seq("Wake up", "Overview"))
    assert(rows.forall(_.getAs[String]("slide_type") == "all"))
  }

  test("P13 HTML title chain: title, then h1, then SIN_TITULO") {
    val t1 = graft.sources.HttpIngest.extractHtmlTitle(spark, s"$base/html")
      .collect().head.getAs[String]("title")
    assert(t1 == "Herman Melville - Moby-Dick")
    val t2 = graft.sources.HttpIngest.extractHtmlTitle(spark, s"$base/html-noh1")
      .collect().head.getAs[String]("title")
    assert(t2 == "SIN_TITULO")
  }

  test("S7 form POST echo") {
    val r = graft.sources.HttpIngest.postForm(spark, s"$base/post",
      Seq("nombre" -> "Ada", "apellido" -> "Lovelace")).collect().head
    // get_json_object re-serializes compactly
    assert(r.getAs[String]("form_echo").contains("\"nombre\":\"Ada\""))
  }

  test("S8 redirect follow lands on /get with args") {
    val r = graft.sources.HttpIngest.redirect(spark, s"$base/redirect-to?url=/get")
      .collect().head
    assert(r.getAs[Int]("status_code") == 200)
    assert(r.getAs[String]("final_args").contains("redirect"))
  }

  test("K3/K4 stage-[1] CLI e2e: 8 tasks in order, writes the 3 artifacts") {
    val out = java.nio.file.Files.createTempDirectory("graft_stage1")
    val console = new java.io.ByteArrayOutputStream()
    served.set(0)
    Console.withOut(new java.io.PrintStream(console, true, StandardCharsets.UTF_8)) {
      graft.cli.ClienteHttp.run(spark, base, out)
    }
    // tasks [2]-[8] run concurrently, yet the console keeps the
    // reference's order
    val lines = new String(console.toByteArray, StandardCharsets.UTF_8).linesIterator.toSeq
    assert(lines.map(l => l.take(l.indexOf(']') + 1)) == Seq("[AUTH BASIC]", "[COOKIES]",
      "[403]", "[JSON]", "[XML]", "[HTML]", "[POST]", "[REDIRECT]"), lines.mkString("\n"))
    assert(lines(2).contains("(3 intentos)"))
    assert(lines(6).contains("\"apellido\":\"Pérez\""))
    // 1 auth + 2 cookie + 3 for the retried 403 + get, xml, html, post +
    // the redirect and its target
    assert(served.get == 12)

    // K3 — pretty /get JSON (http_client.py:121): parses back to the stub
    // body and carries the indent-2 layout
    val datosJson = new String(
      java.nio.file.Files.readAllBytes(out.resolve("datos.json")), StandardCharsets.UTF_8)
    assert(datosJson.startsWith("{\n  \"args\""))
    assert(datosJson.contains(s""""url": "$base/get""""))
    // K4 — raw XML body verbatim (http_client.py:135)
    val datosXml = new String(
      java.nio.file.Files.readAllBytes(out.resolve("datos.xml")), StandardCharsets.UTF_8)
    assert(datosXml.startsWith("""<?xml version="1.0"?><slideshow>"""))
    assert(datosXml.contains("<title>Wake up</title>"))
    // K4 — extracted title only, not the whole page (http_client.py:167)
    val titulo = new String(
      java.nio.file.Files.readAllBytes(out.resolve("titulo.html")), StandardCharsets.UTF_8)
    assert(titulo == "Herman Melville - Moby-Dick")
  }

  test("stage-[1] gate: failed basic auth stops the run before any other request") {
    val out = java.nio.file.Files.createTempDirectory("graft_stage1_denied")
    served.set(0)
    val e = intercept[IllegalArgumentException] {
      graft.cli.ClienteHttp.run(spark, s"$base/denied", out)
    }
    assert(e.getMessage.contains("authenticated != true"))
    assert(served.get == 1)
    assert(java.nio.file.Files.list(out).count() == 0)
  }

  test("prettyJson matches python json.dumps(ensure_ascii=False, indent=2)") {
    val raw =
      """{"a": {}, "b": [1, 2.5, "ñandú", true, null], "c": {"d": "line\nbreak \"q\"", "e": []}}"""
    val expected = // literal output of CPython json.dumps on the same payload
      "{\n  \"a\": {},\n  \"b\": [\n    1,\n    2.5,\n    \"ñandú\",\n    true,\n    null\n  ],\n  \"c\": {\n    \"d\": \"line\\nbreak \\\"q\\\"\",\n    \"e\": []\n  }\n}"
    assert(graft.sources.HttpArtifacts.prettyJson(raw) == expected)
  }

  test("parallel partitioning: one task per url without cookieSession") {
    val df = graft.sources.HttpIngest.read(spark,
      Seq(s"$base/get?a=1", s"$base/get?a=2", s"$base/get?a=3"), Map.empty)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3)
  }

  test("429 retried honoring Retry-After: succeeds on attempt 3, spaced >= 1s") {
    rateLimitedTimes.clear()
    val r = graft.sources.HttpIngest.read(spark,
        Seq(s"$base/rate-limited"),
        Map("maxRetries" -> "3", "backoffMs" -> "10"))
      .collect().head
    assert(r.getAs[Int]("status_code") == 200)
    assert(r.getAs[Int]("attempts") == 3)
    // the server named a 1 s backoff; our 10 ms linear backoff must have
    // been raised to it — both inter-attempt gaps >= ~1 s
    val ts = {
      val it = rateLimitedTimes.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result().sorted
    }
    assert(ts.size == 3)
    ts.sliding(2).foreach { p =>
      assert((p(1) - p(0)) / 1e6 >= 950.0,
        s"attempt gap ${(p(1) - p(0)) / 1e6} ms ignored Retry-After")
    }
  }

  test("task retry: session slice re-runs from scratch, no duplicate rows (VERDICT r13 #5)") {
    // Spark's task contract is at-least-once: a PartitionReader can be
    // killed mid-sequence and the whole slice re-executed. The connector's
    // claim (HttpDataSource scaladoc: "a Spark task retry re-runs the
    // whole URL slice idempotently") is exercised here for real — the
    // shared session runs local[4,2], so ONE task re-attempt is available.
    retrySetHits.set(0); retryFailHits.set(0); retryCookieSeen.clear()
    val urls = Seq(s"$base/retry/cookies/set", s"$base/retry/cookies/get",
      s"$base/retry/fail-first")
    // maxRetries=0: the 500 is NOT absorbed by connector-level retries,
    // it fails the task itself (raise_for_status semantics) — the retry
    // under test is Spark's, not the client's
    val rows = graft.sources.HttpIngest.read(spark, urls,
      Map("cookieSession" -> "true", "maxRetries" -> "0", "backoffMs" -> "1"))
      .collect()
    // no duplicates: attempt 1's two already-emitted rows are discarded
    // with the failed task; exactly one row per url, in slice order
    assert(rows.map(_.getAs[String]("url")).toSeq == urls, rows.mkString("; "))
    assert(rows.forall(_.getAs[Int]("attempts") == 1))
    // the stub saw the expected total attempt pattern: every url hit
    // once per task attempt (2 + 2 + 2), the failer 500ing only the first
    assert(retrySetHits.get() == 2, s"set hits ${retrySetHits.get()}")
    assert(retryFailHits.get() == 2, s"failer hits ${retryFailHits.get()}")
    assert(rows.last.getAs[Int]("status_code") == 200)
    // session restarted CLEANLY on attempt 2: a fresh CookieManager per
    // reader means the cookie get saw the cookie its OWN attempt set —
    // on both attempts
    val seen = retryCookieSeen.toArray(Array.empty[String]).toSeq
    assert(seen.length == 2 && seen.forall(_.contains("rsession=fresca")),
      seen.toString)
    assert(rows(1).getAs[String]("body").contains("\"rsession\": \"fresca\""))
  }
}
