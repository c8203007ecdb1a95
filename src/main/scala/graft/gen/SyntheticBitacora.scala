package graft.gen

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S9 — distributed synthetic bitácora generator, the Spark counterpart of
  * /root/reference/src/generar_datos.py:50-76.
  *
  * Deterministic per (seed, n) via `rand(seed)` column streams; the draw
  * sequence differs from Python's Mersenne-Twister (documented divergence,
  * SURVEY §7.4 R3) but every DISTRIBUTION matches the reference:
  *  - endpoint ~ uniform over the 7-element list (generar_datos.py:9);
  *  - timestamp ~ uniform over the trailing `days` window, second precision
  *    (:16-26);
  *  - status: /status/403 → always 403; else 88% 200, 8% ∈{400,401,404,429},
  *    4% ∈{500,502,503} (:29-42);
  *  - elapsed_ms ~ U(50, 800) rounded 2dp (:56);
  *  - parse_result: 5% "error" (:45-47).
  *
  * `spark.range(n)` partitions the id space, so generation scales linearly
  * with executors — no driver-side loop.
  */
object SyntheticBitacora {

  val Endpoints: Seq[String] = Seq(
    "/get", "/post", "/status/403", "/basic-auth", "/cookies", "/xml", "/html")

  def generate(
      spark: SparkSession, n: Long, seed: Long = 42L,
      days: Int = 3, endUtcSeconds: Option[Long] = None): DataFrame = {
    val endSec = endUtcSeconds.getOrElse(System.currentTimeMillis() / 1000L)
    val spanSec = days.toLong * 24 * 3600
    // Materialize one draw per role FIRST: a nondeterministic expression
    // referenced twice is evaluated twice (two different draws), so deriving
    // status from an un-aliased rand would skew the mix. CollapseProject
    // never merges projections when it would duplicate nondeterministic
    // expressions, so this boundary is semantically load-bearing.
    val base = spark.range(n).select(
      rand(seed).as("r_endpoint"), rand(seed + 1).as("r_ts"),
      rand(seed + 2).as("r_tier"), rand(seed + 3).as("r_pick"),
      rand(seed + 4).as("r_elapsed"), rand(seed + 5).as("r_parse"))

    val endpoint = element_at(
      array(Endpoints.map(lit): _*),
      (floor(col("r_endpoint") * Endpoints.size) + 1).cast("int"))
    val tsSec = lit(endSec) - floor(col("r_ts") * spanSec).cast("long")
    val c4 = array(lit(400), lit(401), lit(404), lit(429))
    val c5 = array(lit(500), lit(502), lit(503))
    val status = when(endpoint === "/status/403", 403)
      .when(col("r_tier") < 0.88, 200)
      .when(col("r_tier") < 0.96, element_at(c4, (floor(col("r_pick") * 4) + 1).cast("int")))
      .otherwise(element_at(c5, (floor(col("r_pick") * 3) + 1).cast("int")))
    val elapsed = round(lit(50.0) + col("r_elapsed") * lit(750.0), 2)
    val parse = when(col("r_parse") < 0.05, "error").otherwise("ok")

    base.select(
      date_format(timestamp_seconds(tsSec), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("timestamp_utc"),
      endpoint.as("endpoint"),
      status.as("status_code"),
      elapsed.as("elapsed_ms"),
      parse.as("parse_result"))
  }

  /** K1 — JSONL sink (one compact object per line, UTF-8 native), in
    * overwrite mode.
    *
    * `singleFile` writes the same bytes as `coalesce(1)` without funnelling
    * generation into one task: the partitions are written in parallel to a
    * hidden staging directory beside `path`, their `part-*` files are
    * concatenated in part order into the first part's name (coalesce reads
    * partitions 0..n−1 in that order, and `rand(seed)` seeds per partition
    * either way), and the staging directory is renamed onto `path`. A
    * failure therefore never leaves a half-written `path`. */
  def writeJsonl(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    if (!singleFile) df.write.mode("overwrite").json(path)
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val fs = new Path(path).getFileSystem(conf)
      val target = fs.makeQualified(new Path(path))
      val staging = new Path(target.getParent,
        s".${target.getName}.staging-${java.util.UUID.randomUUID()}")
      def move(from: Path, to: Path): Unit =
        if (!fs.rename(from, to))
          throw new java.io.IOException(s"could not rename $from to $to")
      try {
        df.write.json(staging.toString)
        val parts = fs.listStatus(staging).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val merged = new Path(staging, "_merged")
        val out = fs.create(merged, false)
        try parts.foreach { p =>
          val in = fs.open(p)
          try IOUtils.copyBytes(in, out, 1 << 16, false) finally in.close()
        } finally out.close()
        parts.foreach(fs.delete(_, false))
        // Spark writes at least one part file, an empty one for an empty frame
        move(merged, parts.head)
        if (fs.exists(target)) fs.delete(target, true)
        move(staging, target)
      } finally fs.delete(staging, true)
    }
}
