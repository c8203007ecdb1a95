package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-in for httpbin.org serving the eight endpoints the
  * reference's HTTP client calls, with httpbin's response shapes. It
  * binds 127.0.0.1 on a free port and counts the requests served per
  * path. */
final class HttpStub {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val hits = new ConcurrentHashMap[String, AtomicLong]()
  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Requests served so far, over all paths. */
  def requests: Long = {
    var n = 0L
    hits.values.forEach(c => n += c.get)
    n
  }

  private def reply(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    hits.computeIfAbsent(ex.getRequestURI.getPath, _ => new AtomicLong)
      .incrementAndGet()
    headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    val os = ex.getResponseBody
    if (bytes.nonEmpty) os.write(bytes)
    os.close()
  }

  private def query(ex: HttpExchange): String =
    Option(ex.getRequestURI.getQuery).getOrElse("")

  server.createContext("/basic-auth", (ex: HttpExchange) => {
    val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
    val expected = "Basic " + java.util.Base64.getEncoder
      .encodeToString("usuario_test:clave123".getBytes(StandardCharsets.UTF_8))
    if (auth.contains(expected))
      reply(ex, 200, """{"authenticated": true, "user": "usuario_test"}""")
    else reply(ex, 401, "")
  })
  server.createContext("/cookies/set", (ex: HttpExchange) =>
    reply(ex, 200, """{"cookies": {}}""",
      Map("Set-Cookie" -> "session=activa; Path=/")))
  server.createContext("/cookies", (ex: HttpExchange) => {
    if (ex.getRequestURI.getPath == "/cookies") {
      val cookie = Option(ex.getRequestHeaders.getFirst("Cookie")).getOrElse("")
      val v = if (cookie.contains("session=activa")) "activa" else "MISSING"
      reply(ex, 200, s"""{"cookies": {"session": "$v"}}""")
    } else reply(ex, 404, "")
  })
  server.createContext("/status/403", (ex: HttpExchange) => reply(ex, 403, ""))
  server.createContext("/get", (ex: HttpExchange) => {
    val q = query(ex)
    val args = if (q.isEmpty) "{}"
      else "{" + q.split("&").map { kv =>
        val Array(k, v) = kv.split("=", 2)
        s""""$k": "$v""""
      }.mkString(", ") + "}"
    reply(ex, 200, s"""{"args": $args, "url": "$base/get"}""")
  })
  server.createContext("/xml", (ex: HttpExchange) =>
    reply(ex, 200,
      """<?xml version="1.0"?><slideshow>
        |<slide type="all"><title>Wake up</title></slide>
        |<slide type="all"><title>Overview</title></slide>
        |</slideshow>""".stripMargin))
  server.createContext("/html", (ex: HttpExchange) =>
    reply(ex, 200, "<html><head><title> Herman Melville - Moby-Dick </title>" +
      "</head><body><h1>Ch 1</h1></body></html>"))
  server.createContext("/post", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val form = "{" + body.split("&").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      val dk = java.net.URLDecoder.decode(k, "UTF-8")
      val dv = java.net.URLDecoder.decode(v, "UTF-8")
      s""""$dk": "$dv""""
    }.mkString(", ") + "}"
    reply(ex, 200, s"""{"form": $form}""")
  })
  server.createContext("/redirect-to", (ex: HttpExchange) => {
    val target = query(ex).split("&").collectFirst {
      case kv if kv.startsWith("url=") =>
        java.net.URLDecoder.decode(kv.drop(4), "UTF-8")
    }.getOrElse("/get")
    reply(ex, 302, "", Map("Location" -> s"$base$target?from=redirect"))
  })

  server.start()

  def stop(): Unit = server.stop(0)
}
