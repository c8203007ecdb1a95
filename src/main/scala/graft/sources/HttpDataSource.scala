package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 HTTP connector — the one custom Catalyst-adjacent piece the
  * reference requires (SURVEY §2.1 S3-S8, §7.3): its stage [1] is an
  * HTTP-session ingest with retry/backoff/auth/cookies/tolerated-4xx/
  * redirect semantics (/root/reference/src/http_client.py).
  *
  * Usage (every option maps to one stage-[1] behaviour, SURVEY S3-S8):
  * {{{
  *   spark.read.format("http")               // or format("graft.sources.HttpDataSource")
  *     .option("urls", "http://h/a,http://h/b")
  *     .option("method", "POST")             // GET (default) | POST
  *     .option("body", "a=1").option("contentType",
  *       "application/x-www-form-urlencoded")          // S7 form post
  *     .option("user", "u").option("password", "p")   // S4 basic auth
  *     .option("maxRetries", "2").option("backoffMs", "500")  // S3
  *     .option("timeoutMs", "20000")         // per request; caps Retry-After
  *     .option("acceptStatusCodes", "403")   // S6 tolerated statuses
  *     .option("followRedirects", "true")    // S8
  *     .option("cookieSession", "true")      // S5: ordered, one session
  *     .load()
  * }}}
  *
  * Partitioning: one task per URL (fetches parallelize across executors).
  * With `cookieSession=true` all URLs run in ONE task, in order, sharing a
  * CookieManager — cookie continuity forbids parallelism (SURVEY §7.4 R7).
  * Each task owns its HttpClient; retries happen inside the task so a Spark
  * task retry re-runs the whole URL slice idempotently.
  */
class HttpDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "http"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpDataSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HttpTable(new CaseInsensitiveStringMap(properties))
}

object HttpDataSource {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("status_code", IntegerType, nullable = false),
    StructField("body", StringType, nullable = true),
    StructField("headers", MapType(StringType, StringType), nullable = true),
    StructField("elapsed_ms", DoubleType, nullable = false),
    StructField("attempts", IntegerType, nullable = false),
    StructField("total_ms", DoubleType, nullable = false)))

  def parseConfig(o: CaseInsensitiveStringMap): HttpFetch.Config =
    HttpFetch.Config(
      method = o.getOrDefault("method", "GET"),
      body = Option(o.get("body")),
      contentType = Option(o.get("contentType")),
      user = Option(o.get("user")),
      password = Option(o.get("password")),
      maxRetries = o.getInt("maxRetries", 2),
      backoffMs = o.getLong("backoffMs", 500L),
      timeoutMs = o.getLong("timeoutMs", 20000L),
      followRedirects = o.getBoolean("followRedirects", true),
      cookieSession = o.getBoolean("cookieSession", false),
      acceptStatusCodes = Option(o.get("acceptStatusCodes")).toSet[String]
        .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt)))

  def parseUrls(o: CaseInsensitiveStringMap): Seq[String] = {
    val urls = Option(o.get("urls")).getOrElse(
      throw new IllegalArgumentException("http source requires the 'urls' option"))
    urls.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }
}

private[sources] class HttpTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"http(${HttpDataSource.parseUrls(options).mkString(",")})"
  override def schema(): StructType = HttpDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(options) // table-level options carry the url list
}

private[sources] class HttpScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder {
  override def build(): Scan = new HttpScan(options)
}

private[sources] case class HttpUrlsPartition(urls: Seq[String]) extends InputPartition

private[sources] class HttpScan(options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  private val urls = HttpDataSource.parseUrls(options)
  private val cfg = HttpDataSource.parseConfig(options)
  override def readSchema(): StructType = HttpDataSource.schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    if (cfg.cookieSession) Array(HttpUrlsPartition(urls)) // R7: ordered, one session
    else urls.map(u => HttpUrlsPartition(Seq(u))).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(cfg)
}

private[sources] class HttpReaderFactory(cfg: HttpFetch.Config)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new HttpPartitionReader(partition.asInstanceOf[HttpUrlsPartition].urls, cfg)
}

private[sources] class HttpPartitionReader(urls: Seq[String], cfg: HttpFetch.Config)
    extends PartitionReader[InternalRow] {
  private lazy val client = HttpFetch.newClient(cfg)
  private val pending = urls.iterator
  private var current: HttpFetch.Result = _

  override def next(): Boolean =
    pending.hasNext && {
      current = HttpFetch.fetch(client, pending.next(), cfg)
      true
    }

  override def get(): InternalRow = {
    val r = current
    val keys = r.headers.keys.toArray
    val headerMap = ArrayBasedMapData(
      keys.map(k => UTF8String.fromString(k): Any),
      keys.map(k => UTF8String.fromString(r.headers(k)): Any))
    InternalRow(
      UTF8String.fromString(r.url),
      r.statusCode,
      if (r.body == null) null else UTF8String.fromString(r.body),
      headerMap,
      r.elapsedMs,
      r.attempts,
      r.totalMs)
  }

  override def close(): Unit = ()
}
