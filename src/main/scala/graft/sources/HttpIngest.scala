package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's stage [1] (/root/reference/src/http_client.py:199-211)
  * re-expressed on the DSv2 http source: the same eight tasks, with the
  * response-body extractions done as Catalyst expressions (P12 from_xml,
  * P13 regexp HTML title chain, P14 get_json_object) instead of
  * BeautifulSoup/ElementTree.
  */
object HttpIngest {

  def read(spark: SparkSession, urls: Seq[String], opts: Map[String, String]): DataFrame = {
    val r = spark.read.format("http").option("urls", urls.mkString(","))
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** S4 — basic auth; asserts authenticated==true like http_client.py:85-87. */
  def basicAuth(spark: SparkSession, url: String, user: String, password: String): DataFrame =
    read(spark, Seq(url), Map("user" -> user, "password" -> password))
      .select(col("url"), col("status_code"),
        get_json_object(col("body"), "$.authenticated").cast("boolean").as("authenticated"),
        get_json_object(col("body"), "$.user").as("user"))

  /** S5 — cookie round-trip: set then read within one session (one task). */
  def cookieSession(spark: SparkSession, setUrl: String, getUrl: String): DataFrame =
    read(spark, Seq(setUrl, getUrl), Map("cookieSession" -> "true"))
      .select(col("url"), col("status_code"),
        get_json_object(col("body"), "$.cookies.session").as("session_cookie"))

  /** S6 — tolerated 403 (log-and-continue: the row carries the status). */
  def tolerated403(spark: SparkSession, url: String): DataFrame =
    read(spark, Seq(url), Map("acceptStatusCodes" -> "403"))
      .select(col("url"), col("status_code"), col("attempts"))

  /** P14 — JSON extraction from /get-shaped body. */
  def extractJson(spark: SparkSession, url: String): DataFrame =
    read(spark, Seq(url), Map.empty)
      .select(col("url"), col("status_code"), col("body"),
        get_json_object(col("body"), "$.url").as("echoed_url"),
        get_json_object(col("body"), "$.args").as("args_json"))

  private val slideSchema = StructType(Seq(
    StructField("slide", ArrayType(StructType(Seq(
      StructField("_type", StringType),
      StructField("title", StringType)))))))

  /** P12 — `.//slide` → rows of (type attr, title child) over an in-hand
    * body, http_client.py:130-132, on Spark 4 native from_xml: the
    * stage-[1] CLI persists the raw body AND prints the parse from ONE
    * fetch (http_client.py:126-136). */
  def xmlSlidesOfBody(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    Seq(body).toDF("body")
      .select(from_xml(col("body"), slideSchema,
        java.util.Collections.emptyMap[String, String]()).as("doc"))
      .select(explode(col("doc.slide")).as("s"))
      .select(col("s._type").as("slide_type"), col("s.title").as("title"))
  }

  /** P13 — HTML title extraction chain: <title> → first <h1> → SIN_TITULO
    * (http_client.py:150-166), on built-in regexps (no UDF). */
  def htmlTitle(body: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = trim(regexp_extract(body, "(?is)<title[^>]*>(.*?)</title>", 1))
    val h1 = trim(regexp_extract(body, "(?is)<h1[^>]*>(.*?)</h1>", 1))
    when(length(t) > 0, t).when(length(h1) > 0, h1).otherwise(lit("SIN_TITULO"))
  }

  def extractHtmlTitle(spark: SparkSession, url: String): DataFrame =
    read(spark, Seq(url), Map.empty)
      .select(col("url"), htmlTitle(col("body")).as("title"))

  /** S7 — form POST (urlencoded), echo check http_client.py:172-184. */
  def postForm(spark: SparkSession, url: String, fields: Seq[(String, String)]): DataFrame = {
    val body = fields.map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    read(spark, Seq(url), Map(
        "method" -> "POST", "body" -> body,
        "contentType" -> "application/x-www-form-urlencoded"))
      .select(col("url"), col("status_code"),
        get_json_object(col("body"), "$.form").as("form_echo"))
  }

  /** S8 — redirect follow; inspects final args like http_client.py:187-196. */
  def redirect(spark: SparkSession, url: String): DataFrame =
    read(spark, Seq(url), Map("followRedirects" -> "true"))
      .select(col("url"), col("status_code"),
        get_json_object(col("body"), "$.args").as("final_args"))
}
