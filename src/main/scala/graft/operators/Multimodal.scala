package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.RollingHashExpression

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * run as partition-local batch transforms.
  *
  * The Spark-side architecture here is real and tested — schema, typed
  * Dataset boundary, `mapPartitions` batching (the Scala analogue of
  * `mapInPandas`: one iterator per partition, amortized per-batch setup,
  * no per-row interpreter crossings), partition sizing. TWO codecs ride
  * the same seam:
  *
  *  - `codec="stub"` (default): a deterministic pure function of the
  *    payload bytes (`fakeDecode`) — what the q50/q66 DuckDB oracles
  *    replay, and the right tier in this container (no media fixtures
  *    in the testdata);
  *  - `codec="imageio"`: the REAL decoder (`javax.imageio`, JDK
  *    built-in) — PNG/JPEG/GIF/BMP metadata from the decoded raster and
  *    a 4×4 mean-luminance thumbnail as the feature vector, with
  *    undecodable blobs degrading to a zeroed record instead of failing
  *    the task. MultimodalSpec drives a real encoded image through the
  *    same mapPartitions boundary.
  */
object Multimodal {

  /** Typed media record at the decode boundary. */
  final case class MediaRecord(media_id: Long, source: String, payload: Array[Byte])

  /** Decoded features: metadata + fixed-dim feature vector. */
  final case class MediaFeatures(
      media_id: Long, source: String,
      width: Int, height: Int, channels: Int, format: String,
      n_bytes: Long, features: Array[Float])

  val FeatureDim = 16

  /** STUB decode — deterministic pure function of the payload bytes.
    * Replace with a real codec (e.g. javax.imageio / ffmpeg bindings) here;
    * everything upstream/downstream is production-shaped. */
  private def fakeDecode(r: MediaRecord): MediaFeatures = {
    var h = 1125899906842597L
    var i = 0
    while (i < r.payload.length) { h = h * 31 + r.payload(i); i += 1 }
    val feats = new Array[Float](FeatureDim)
    var j = 0
    var s = h
    while (j < FeatureDim) {
      s = s * 6364136223846793005L + 1442695040888963407L // LCG walk
      feats(j) = (s >>> 11).toFloat / (1L << 53).toFloat
      j += 1
    }
    MediaFeatures(
      r.media_id, r.source,
      width = 1 + math.floorMod(h, 1920).toInt,
      height = 1 + math.floorMod(h >> 16, 1080).toInt,
      channels = 1 + math.floorMod(h >> 32, 4).toInt,
      format = if (math.floorMod(h, 2) == 0) "png" else "jpeg",
      n_bytes = r.payload.length.toLong,
      features = feats)
  }

  /** REAL decode — `javax.imageio` (JDK built-in, no extra dependency)
    * for PNG/JPEG/GIF/BMP payloads. Metadata comes from the decoded
    * raster (width/height/band count) plus a magic-byte format sniff;
    * the 16-dim feature vector is a 4×4 mean-luminance thumbnail
    * (row-major), each cell in [0,1] — a deterministic, real feature
    * extractor (the standard perceptual-hash front half). An
    * undecodable payload degrades to a zeroed record with
    * format="undecodable" instead of failing the task — at corpus scale
    * a poisoned blob must never kill the pipeline. */
  private[graft] def imageioDecode(r: MediaRecord): MediaFeatures = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      catch { case _: Exception => null }
    if (img == null)
      MediaFeatures(r.media_id, r.source, 0, 0, 0, "undecodable",
        r.payload.length.toLong, new Array[Float](FeatureDim))
    else {
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Double](FeatureDim)
      val counts = new Array[Long](FeatureDim)
      var y = 0
      while (y < h) {
        val gy = y * 4 / h
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)) / 255.0
          val cell = gy * 4 + x * 4 / w
          sums(cell) += lum; counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val feats = new Array[Float](FeatureDim)
      var c = 0
      while (c < FeatureDim) {
        feats(c) = if (counts(c) > 0) (sums(c) / counts(c)).toFloat else 0f
        c += 1
      }
      MediaFeatures(r.media_id, r.source, w, h,
        img.getRaster.getNumBands, sniffFormat(r.payload),
        r.payload.length.toLong, feats)
    }
  }

  /** Container format from magic bytes (codec-independent, zero-copy). */
  private[graft] def sniffFormat(p: Array[Byte]): String =
    if (p.length >= 4 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') "png"
    else if (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff) "jpeg"
    else if (p.length >= 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F') "gif"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
    else "unknown"

  /** Codec registry: "stub" (deterministic fake — what the DuckDB oracle
    * replays for q50/q66) or "imageio" (the real JDK decoder). */
  private[graft] def decoderFor(codec: String): MediaRecord => MediaFeatures =
    codec match {
      case "stub" => fakeDecode
      case "imageio" => imageioDecode
      case other => throw new IllegalArgumentException(
        s"unknown media codec '$other' (expected stub|imageio)")
    }

  /** Batch decode over one partition's iterator — the seam where a real
    * implementation allocates its codec once per partition. */
  private def decodeBatch(codec: String)(
      it: Iterator[MediaRecord]): Iterator[MediaFeatures] = {
    // per-partition setup: resolve the codec once, not per row
    val decode = decoderFor(codec)
    it.map(decode)
  }

  /** Attach a binary payload column to any (id, source, text) table — the
    * stand-in ingest for media blobs in the test corpus. */
  def payloadFromText(df: DataFrame, idCol: String, srcCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(srcCol).as("source"),
      col(textCol).cast("binary").as("payload"))

  /** The decode pipeline: DataFrame → typed boundary → partition-batched
    * decode → DataFrame of features. Repartitions so each task holds a
    * bounded byte volume (at scale: tune target bytes/task, not task count). */
  def decodeFeatures(payloads: DataFrame, partitions: Int = 0,
      codec: String = "stub"): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    decoderFor(codec) // fail fast on a bad codec name, driver-side
    val ds: Dataset[MediaRecord] = {
      val base = payloads.as[MediaRecord]
      if (partitions > 0) base.repartition(partitions) else base
    }
    ds.mapPartitions(decodeBatch(codec) _).toDF()
  }

  /** 16-bit perceptual hash (aHash) over the decoded feature vector:
    * bit j is set iff `features[j]` is STRICTLY above the vector mean —
    * compared as `dec(f_j)·16 > Σ dec(f_k)` with dec = an exact
    * DECIMAL(18,9) staging of each element, so no float summation order
    * or division appears anywhere and both engines derive identical
    * bits (the q50 DECIMAL precedent; a tie against the 9-dp decimal
    * boundary is impossible for dyadic float inputs, so the engines'
    * rounding modes can't disagree either).
    *
    * Tier-agnostic: over the stub codec's LCG features the hash is
    * DuckDB-replayable end-to-end (q154's oracle); over `imageio`'s 4×4
    * mean-luminance thumbnail it is the REAL aHash — brightness/contrast
    * shifts preserve which cells sit above the mean, so re-encoded or
    * levels-adjusted copies of an image collide (TextOpsSpec drives real
    * PNGs through it). A zeroed undecodable record hashes to 0.
    *
    * Narrow map stage (the mean is staged once per row — the Quantize
    * O(d²) lambda-hoisting note applies). 16 bits because FeatureDim=16;
    * a production image pipeline would raise the thumbnail to 8×8 and
    * this becomes the standard 64-bit aHash with the same plan. */
  def aHash16(features: DataFrame): DataFrame = {
    val dec = transform(col("features"),
      v => v.cast("double").cast("decimal(18,9)"))
    val total = aggregate(col("__dec"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)"),
      (a, v) => (a + v).cast("decimal(28,9)"))
    val bits = (0 until FeatureDim).map { j =>
      when(element_at(col("__dec"), j + 1) * lit(16) > col("__tot"),
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    features.withColumn("__dec", dec).withColumn("__tot", total)
      .withColumn("phash", bits).drop("__dec", "__tot")
  }

  /** Image near-dup pairs by perceptual-hash hamming distance ≤ 1 —
    * COMPLETE for the radius, never probabilistic: one side keeps its
    * exact 16-bit hash, the other explodes the hash plus all 16
    * single-bit flips, so every pair within hamming 1 meets on an
    * equality join (the q33 HmSearch pigeonhole at its 1-chunk base
    * case). Each qualifying unordered pair meets in both orientations
    * exactly once; `id_a < id_b` keeps one — no distinct needed.
    *
    * Scale shape: the flip side is a 17-row/id explode of (id, hash,
    * key) — linear, shuffle-cheap — and the join shuffles on the hash
    * key. The 16-bit key space bounds both parallelism and selectivity
    * at 65536 buckets: right for media corpora up to ~10M items (random
    * hashes collide at the birthday rate n²·17/65536 past that). At
    * larger scale, widen the decode thumbnail (64-bit hash) — the plan
    * is unchanged, only the flip fan-out grows. */
  def phashNearDups16(hashed: DataFrame, idCol: String): DataFrame = {
    val exact = hashed.select(col(idCol).as("id_a"), col("phash").as("ph_a"))
    val masks = array((lit(0L) +: (0 until 16).map(b => lit(1L << b))): _*)
    val probes = hashed.select(col(idCol).as("id_b"), col("phash").as("ph_b"))
      .withColumn("__key", explode(transform(masks,
        m => col("ph_b").bitwiseXOR(m))))
    exact.join(probes,
        col("ph_a") === col("__key") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("int")
          .as("hamming"))
  }

  /** One decoded audio sample at the waveform boundary. */
  final case class AudioSample(media_id: Long, source: String, pos: Int, amp: Int)

  /** STUB audio decode — the waveform analogue of [[decodeFeatures]]'
    * fake codec: a deterministic pure function of the payload bytes
    * (same poly-31 hash seed, same LCG walk as `fakeDecode`, so the
    * q164 oracle replays it with the q50 HUGEINT machinery). Sample
    * count is `1 + h mod 240` (signed floor-mod of the payload hash),
    * amplitudes land in
    * [0, 1024). A real implementation swaps the
    * body for a PCM decoder at this same mapPartitions seam — one
    * iterator per partition, rows exploded per sample. */
  def stubWaveform(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.as[MediaRecord].mapPartitions { it =>
      it.flatMap { r =>
        var h = 1125899906842597L
        var i = 0
        while (i < r.payload.length) { h = h * 31 + r.payload(i); i += 1 }
        val n = 1 + math.floorMod(h, 240L).toInt
        var s = h
        (1 to n).map { j =>
          s = s * 6364136223846793005L + 1442695040888963407L
          AudioSample(r.media_id, r.source, j, ((s >>> 11) % 1024L).toInt)
        }
      }
    }.toDF()
  }

  /** ONE-PASS per-media silence statistics: (media_id, source,
    * n_samples, n_runs, longest_run, sil_in_runs) — the q164 report's
    * inputs from a single traversal of the sample stream. Consuming a
    * per-run silence table (island key `pos − row_number()` over the
    * silent rows only) and a separate per-media count from the same
    * `samples` DataFrame duplicates the decode subtree (Catalyst shares
    * nothing across DAG branches — the mapPartitions waveform expansion
    * ran TWICE per q164 call, the heaviest stage of its sf0.1 profile).
    * Here the island key is built over the UNFILTERED stream — a
    * running count of silent rows equals `row_number()` over the
    * silent-only stream at every silent row, so `pos − that` is the
    * identical island key — and total sample counts fall out of the
    * same grouped pass (the null island of non-silent rows counts
    * toward n_samples only). Runs shorter than `minRun` are screened in
    * the per-media re-aggregate, bit-equal to the per-run table's filter;
    * sources/media with no qualifying run report n_runs 0 and NULL
    * longest_run/sil_in_runs (callers coalesce, matching the old
    * left-join shape). One media-keyed window + two same-key
    * aggregates: ~half the full-stream work of the two-consumer shape
    * at any corpus scale. */
  def silenceRunMediaStats(samples: DataFrame,
      silenceBelow: Int, minRun: Int): DataFrame = {
    require(minRun >= 1, s"minRun=$minRun must be >= 1")
    val w = Window.partitionBy(col("media_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val silent = col("amp") < silenceBelow
    val isRun = col("__grp").isNotNull && col("cnt") >= minRun
    samples
      .withColumn("__rn", sum(when(silent, 1L).otherwise(0L)).over(w))
      .withColumn("__grp", when(silent, col("pos") - col("__rn")))
      .groupBy(col("media_id"), col("source"), col("__grp"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("media_id"), col("source"))
      .agg(sum(col("cnt")).as("n_samples"),
        count(when(isRun, 1)).as("n_runs"),
        max(when(isRun, col("cnt"))).as("longest_run"),
        sum(when(isRun, col("cnt"))).as("sil_in_runs"))
  }

  /** Scene segmentation over a per-frame feature stream — the cut
    * detector a video pipeline runs before sampling clips: a CUT is a
    * frame whose feature jumps ≥ `minDelta` from its predecessor (lag
    * window), and the running count of cuts IS the scene id (a
    * prefix-sum segmentation — every frame gets its scene in the same
    * single media-keyed window pass the lag already paid for). Returns
    * the frame stream with `is_cut` and `scene` attached; scene lengths
    * and rates are ordinary grouped counts downstream. Works over any
    * (media_id, source, pos, amp) stream — [[stubWaveform]]'s, or a real
    * per-frame luma extractor swapped in at the same seam. */
  def sceneCuts(samples: DataFrame, minDelta: Int): DataFrame = {
    require(minDelta >= 1, s"minDelta=$minDelta must be >= 1")
    val w = Window.partitionBy(col("media_id")).orderBy(col("pos"))
    samples
      .withColumn("__prev", lag(col("amp"), 1).over(w))
      .withColumn("is_cut", col("__prev").isNotNull &&
        abs(col("amp") - col("__prev")) >= minDelta)
      .withColumn("scene", sum(when(col("is_cut"), 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev")
  }

  /** Per-source feature statistics over the decoded output — the query
    * shape a training pipeline runs to monitor a media corpus.
    *
    * The per-row feature energy (a full-mantissa double) goes through an
    * exact DECIMAL(18,9) intermediate before the cross-row mean, so the
    * result is independent of distributed summation order (the q03
    * pattern): both engines round the same double to the same 9-dp
    * decimal, sum exactly, and divide in double. Width/height sums are
    * exact integers in double, so their plain averages are already
    * order-independent. */
  def featureStats(features: DataFrame): DataFrame = {
    val energy = aggregate(col("features"), lit(0.0), (acc, v) => acc + v * v)
    features.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        avg(col("width").cast("double")).as("avg_width"),
        avg(col("height").cast("double")).as("avg_height"),
        count_if(col("format") === "png").as("n_png"),
        (sum(energy.cast("decimal(18,9)")).cast("double")
          / count(lit(1)).cast("double")).as("avg_feature_energy"))
      .orderBy(col("source"))
  }
}
