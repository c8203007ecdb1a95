package graft.sources

import java.net.{CookieManager, CookiePolicy, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Retrying HTTP fetch used by the DSv2 connector — the reference's
  * `request_with_retry` semantics (/root/reference/src/http_client.py:39-75):
  *
  *  - up to `maxRetries` retries (maxRetries+1 attempts total);
  *  - retries on network error AND on 403 responses (the reference treats a
  *    403 as retryable, then tolerates it if configured: :57-61, :105-113),
  *    plus 429/503 — the standard transient statuses real APIs emit;
  *  - linear backoff `backoffMs * attempt`, raised to the server's
  *    `Retry-After` (delta-seconds) when present, capped at `timeoutMs`;
  *  - per-request timeout;
  *  - a final status >= 400 outside `acceptStatusCodes` throws
  *    (`raise_for_status`), failing the task;
  *  - GET, or POST with a `body` (the form post); other methods throw.
  *
  * Pure JDK (`java.net.http.HttpClient`) — no extra dependencies.
  */
object HttpFetch {

  final case class Config(
      method: String = "GET",
      body: Option[String] = None,
      contentType: Option[String] = None,
      user: Option[String] = None,
      password: Option[String] = None,
      maxRetries: Int = 2,
      backoffMs: Long = 500L,
      timeoutMs: Long = 20000L,
      followRedirects: Boolean = true,
      cookieSession: Boolean = false,
      acceptStatusCodes: Set[Int] = Set.empty)

  /** @param elapsedMs  response time of the FINAL attempt only (matches the
    *                    reference's per-request elapsed — backoff sleeps and
    *                    earlier attempts excluded)
    * @param totalMs    wall time across the whole retry loop incl. backoff
    */
  final case class Result(
      url: String, statusCode: Int, body: String,
      headers: Map[String, String], elapsedMs: Double, attempts: Int,
      totalMs: Double)

  def newClient(cfg: Config): HttpClient = {
    val b = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(cfg.timeoutMs))
      .followRedirects(
        if (cfg.followRedirects) HttpClient.Redirect.NORMAL
        else HttpClient.Redirect.NEVER)
    if (cfg.cookieSession)
      b.cookieHandler(new CookieManager(null, CookiePolicy.ACCEPT_ALL))
    b.build()
  }

  private def buildRequest(url: String, cfg: Config): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(cfg.timeoutMs))
    cfg.contentType.foreach(ct => b.header("Content-Type", ct))
    for (u <- cfg.user; p <- cfg.password) {
      val tok = Base64.getEncoder.encodeToString(
        s"$u:$p".getBytes(StandardCharsets.UTF_8))
      b.header("Authorization", s"Basic $tok")
    }
    cfg.method.toUpperCase match {
      case "GET" => b.GET()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(cfg.body.getOrElse("")))
      case m => throw new IllegalArgumentException(s"unsupported method: $m")
    }
    b.build()
  }

  /** One URL through the retry policy. Throws after exhausting retries on
    * network errors, and on a final status >= 400 that is not in
    * `acceptStatusCodes` (S6 tolerated-4xx semantics). */
  def fetch(client: HttpClient, url: String, cfg: Config): Result = {
    val req = buildRequest(url, cfg)
    var attempt = 1
    var last: Either[Throwable, HttpResponse[String]] = null
    val t0 = System.nanoTime()
    var attemptMs = 0.0 // latency of the final attempt alone (no backoff)
    var done = false
    while (!done) {
      val a0 = System.nanoTime()
      last =
        try Right(client.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case e: java.io.IOException => Left(e) }
        finally attemptMs = (System.nanoTime() - a0) / 1e6
      val retryable = last match {
        case Left(_) => true
        // 403 per the reference; 429/503 are the standard transient
        // rate-limit/overload statuses every real API emits
        case Right(r) => r.statusCode == 403 ||
          r.statusCode == 429 || r.statusCode == 503
      }
      if (retryable && attempt <= cfg.maxRetries) {
        // honor Retry-After (delta-seconds form) when the server names
        // its own backoff — sleep the LONGER of it and our linear
        // backoff, capped at timeoutMs so a hostile header can't hang
        // the task; HTTP-date form and garbage parse as absent
        val retryAfterMs = last match {
          case Right(r) =>
            val v = r.headers().firstValue("Retry-After")
            if (v.isPresent)
              try math.min(v.get.trim.toLong * 1000L, cfg.timeoutMs)
              catch { case _: NumberFormatException => 0L }
            else 0L
          case Left(_) => 0L
        }
        Thread.sleep(math.max(cfg.backoffMs * attempt, retryAfterMs))
        attempt += 1
      } else done = true
    }
    val totalMs = (System.nanoTime() - t0) / 1e6
    last match {
      case Left(e) =>
        throw new java.io.IOException(
          s"$url failed after $attempt attempts: ${e.getMessage}", e)
      case Right(r) =>
        val sc = r.statusCode
        if (sc >= 400 && !cfg.acceptStatusCodes.contains(sc))
          throw new java.io.IOException(
            s"$url returned HTTP $sc after $attempt attempts")
        val hdrs = r.headers().map().asScala.map {
          case (k, vs) => k -> vs.asScala.mkString(",")
        }.toMap
        Result(url, sc, r.body(), hdrs, attemptMs, attempt, totalMs)
    }
  }
}
