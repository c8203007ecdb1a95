package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{RollingHashExpression, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Unit tests for the training-data operators: dedup tiers, similarity
  * search, text analysis, rolling hash, multimodal plumbing. */
class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("exact dedup keeps min-id representative per identical text") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .orderBy($"keep_id").collect()
    assert(groups.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count")))
      .toSeq == Seq((1L, 3L), (2L, 1L)))
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("minhash LSH finds near-duplicate, not unrelated, pairs") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"word$i").mkString(" ") + " wordX"
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text")
    assert(sigs.count() == 3)
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.5 })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("minhash_sig expression is hash-identical to the relational formulation") {
    // relational reference: explode hashed shingles -> groupBy(id) with
    // numPerm min(xxhash64(i, shingle_hash)) aggregates — the formulation
    // the scalar expression replaced (covers >=n tokens, <n tokens, 1 token)
    val df = Seq(
      (1L, (1 to 40).map(i => s"word$i").mkString(" ")),
      (2L, "only two"),
      (3L, "single"),
      (4L, "  Mixed   CASE  spacing\ttabs  ")).toDF("doc_id", "text")
    val numPerm = 64; val n = 3
    val tokens = split(TextFunctions.normalizeText($"text"), " ")
    val withTh = df.select($"doc_id", transform(tokens, t => xxhash64(t)).as("th"))
    val sh = when(size($"th") >= n,
      transform(sequence(lit(0), size($"th") - n),
        i => xxhash64((1 to n).map(j => element_at($"th", i + j)): _*)))
      .otherwise(array(xxhash64($"th")))
    val exploded = withTh.select($"doc_id", explode(sh).as("shingle_hash"))
    val aggs = (0 until numPerm).map(i =>
      min(xxhash64(lit(i), $"shingle_hash")).as(s"h$i"))
    val want = exploded.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", array((0 until numPerm).map(i => col(s"h$i")): _*).as("sig"))
      .orderBy($"doc_id")
      .as[(Long, Seq[Long])].collect().toSeq
    val got = Dedup.minHashSignatures(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Seq[Long])].collect().toSeq
    assert(got == want)
  }

  test("minhash_sig over a column: codegen equals the folded literal") {
    import graft.functions.MinHashSignatureExpression.minhashSig
    val toks = split(lit("a b c d"), " ")
    // a literal argument folds at plan time (interpreted eval); the
    // repartitioned column runs the generated code
    val folded = spark.range(1).select(minhashSig(toks, 8, 3).as("s"))
    assert(!folded.queryExecution.optimizedPlan.toString.contains("minhash"))
    val want = folded.head().getSeq[Long](0)
    val got = Seq("a b c d").toDF("t").repartition(1)
      .select(minhashSig(split($"t", " "), 8, 3)).head().getSeq[Long](0)
    assert(want.length == 8 && got == want)
  }

  test("simhash expression is hash-identical to the relational formulation") {
    val df = Seq(
      (1L, "alpha beta gamma delta alpha"), // repeated token: occurrence-weighted
      (2L, "zz yy xx ww vv uu"),
      (3L, "single")).toDF("doc_id", "text")
    val toks = df.select($"doc_id",
      explode(split(TextFunctions.normalizeText($"text"), " ")).as("tok"))
    val h = xxhash64($"tok")
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val withSums = toks.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val want = withSums.select($"doc_id", fp.as("simhash"))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    val got = Dedup.simHash(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("simhash: identical texts get identical fingerprints, disjoint texts distant") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text")
    val fp = Dedup.simHash(df, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) > 3)
    val nd = Dedup.simHashNearDups(Dedup.simHash(df, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSeq.contains((1L, 2L)))
  }

  test("jaccard pairs: exact overlap ratio") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L))) // |∩|=3, |∪|=5 -> 0.6
    assert(math.abs(pairs((1L, 2L)) - 0.6) < 1e-12)
  }

  test("brute-force knn: self-similar vectors rank first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.98f, 0.2f))).toDF("vec_id", "embedding")
    val knn = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 0L), k = 2)
      .orderBy($"rank").collect()
    assert(knn.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L))
    assert(knn.head.getAs[Double]("cosine") > 0.99)
  }

  test("rolling hash: matches reference implementation, codegen & interpreted") {
    val df = Seq("hello", "", "héllo wörld").toDF("t")
    val got = df.select(RollingHashExpression.rollingHash($"t")).as[Long].collect()
    val want = Seq("hello", "", "héllo wörld").map(s =>
      RollingHashExpression.hashBytes(s.getBytes("UTF-8"), 31L))
    assert(got.toSeq == want)
  }

  test("language-ID: marker-bearing text classified, empty -> und") {
    val df = Seq(
      (1L, "the cat and the dog is to of"),
      (2L, "el que de la los"),
      (3L, "xxxx yyyy zzzz")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextFunctions.langId($"text").as("l"))
      .orderBy($"doc_id").as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "es"); assert(got(3L) == "und")
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("Hello, world! 42 times").toDF("t")
    val r = df.select(
      TextFunctions.tokenCountWs($"t").as("ws"),
      TextFunctions.tokenCountBpe($"t").as("bpe")).collect().head
    assert(r.getAs[Int]("ws") == 4)
    // Hello , world ! 42 times -> 6
    assert(r.getAs[Int]("bpe") == 6)
  }

  test("multimodal stub pipeline: deterministic features, stable schema") {
    val docs = Seq((1L, "s1", "abc"), (2L, "s1", "defg"), (3L, "s2", "abc"))
      .toDF("doc_id", "source", "text")
    val feats = Multimodal.decodeFeatures(
      Multimodal.payloadFromText(docs, "doc_id", "source", "text"))
    val rows = feats.orderBy($"media_id").collect()
    assert(rows.length == 3)
    // same payload bytes -> same decoded features, regardless of source
    val f1 = rows(0).getAs[scala.collection.Seq[Float]]("features").toSeq
    val f3 = rows(2).getAs[scala.collection.Seq[Float]]("features").toSeq
    assert(f1 == f3)
    assert(rows(0).getAs[Int]("width") >= 1)
    val stats = Multimodal.featureStats(feats).collect()
    assert(stats.map(_.getAs[String]("source")).toSeq == Seq("s1", "s2"))
  }

  test("imageio codec: REAL png decode through the mapPartitions seam") {
    // fixture: a real 64x32 PNG encoded in-test with javax.imageio — left
    // half black, right half white, so the 4x4 luminance thumbnail has a
    // known structure (cells 0-1 of each row ~0, cells 2-3 ~1)
    import java.awt.image.BufferedImage
    val img = new BufferedImage(64, 32, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, if (x < 32) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val payloads = Seq(
      (1L, "cam", png),
      (2L, "cam", "not an image at all".getBytes("UTF-8")))
      .toDF("media_id", "source", "payload")
    val rows = Multimodal.decodeFeatures(payloads, codec = "imageio")
      .orderBy($"media_id").collect()
    val ok = rows(0)
    assert(ok.getAs[Int]("width") == 64 && ok.getAs[Int]("height") == 32)
    assert(ok.getAs[Int]("channels") == 3)
    assert(ok.getAs[String]("format") == "png")
    val feats = ok.getAs[scala.collection.Seq[Float]]("features")
    assert(feats.length == Multimodal.FeatureDim)
    for (row <- 0 until 4) {
      assert(feats(row * 4) < 0.05f && feats(row * 4 + 1) < 0.05f,
        s"left cells of row $row should be ~black: $feats")
      assert(feats(row * 4 + 2) > 0.95f && feats(row * 4 + 3) > 0.95f,
        s"right cells of row $row should be ~white: $feats")
    }
    // a poisoned blob degrades, never fails the task
    val bad = rows(1)
    assert(bad.getAs[String]("format") == "undecodable")
    assert(bad.getAs[Int]("width") == 0)
    assert(bad.getAs[scala.collection.Seq[Float]]("features").forall(_ == 0f))
  }

  test("aHash16 + phash pairs: complete at hamming<=1, brute-force-checked") {
    // 600 synthetic docs -> effectively random 16-bit hashes, enough to
    // exercise both hamming-0 and hamming-1 collisions
    val docs = (1L to 600L).map(i => (i, "s", s"doc-$i payload ${i * 7}"))
      .toDF("doc_id", "source", "text")
    val hashed = Multimodal.aHash16(Multimodal.decodeFeatures(
      Multimodal.payloadFromText(docs, "doc_id", "source", "text")))
    val ph = hashed.select($"media_id", $"phash").as[(Long, Long)]
      .collect().toMap
    assert(ph.values.forall(h => h >= 0L && h < 65536L))
    // identical payload bytes -> identical hash
    val dup = Multimodal.aHash16(Multimodal.decodeFeatures(
      Multimodal.payloadFromText(
        Seq((1L, "s", "same"), (2L, "t", "same")).toDF("doc_id", "source", "text"),
        "doc_id", "source", "text")))
      .select($"phash").as[Long].collect()
    assert(dup(0) == dup(1))
    // the flip join is COMPLETE for the radius: equals brute force
    val got = Multimodal.phashNearDups16(hashed, "media_id")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    val brute = (for {
      (a, ha) <- ph.toSeq; (b, hb) <- ph.toSeq if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 1
    } yield (a, b, d)).toSet
    assert(got == brute, s"flip join ${got.size} pairs vs brute ${brute.size}")
    assert(brute.exists(_._3 == 1), "fixture should produce hamming-1 pairs")
    // partitioning can't change the pair set
    val got7 = Multimodal.phashNearDups16(
        Multimodal.aHash16(Multimodal.decodeFeatures(
          Multimodal.payloadFromText(docs.repartition(7),
            "doc_id", "source", "text"))), "media_id")
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)]
      .collect().toSet
    assert(got7 == got)
  }

  test("aHash16 on imageio: levels-shifted copies collide, inverse doesn't") {
    import java.awt.image.BufferedImage
    // gradient image and a brightness-compressed copy: every cell keeps
    // its side of the mean, so the REAL aHash must be identical; the
    // inverted gradient flips every above-mean cell below it
    def gradient(lo: Int, hi: Int, invert: Boolean): Array[Byte] = {
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val t = if (invert) 63 - x else x
        val v = lo + t * (hi - lo) / 63
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val payloads = Seq(
      (1L, "cam", gradient(0, 255, invert = false)),
      (2L, "cam", gradient(40, 215, invert = false)), // levels-compressed copy
      (3L, "cam", gradient(0, 255, invert = true)))
      .toDF("media_id", "source", "payload")
    val hashed = Multimodal.aHash16(
        Multimodal.decodeFeatures(payloads, codec = "imageio"))
      .select($"media_id", $"phash").as[(Long, Long)].collect().toMap
    assert(hashed(1L) == hashed(2L),
      s"levels shift must preserve the aHash: ${hashed(1L)} vs ${hashed(2L)}")
    assert(java.lang.Long.bitCount(hashed(1L) ^ hashed(3L)) > 8,
      s"inverted image must land far away: ${hashed(1L)} vs ${hashed(3L)}")
    val pairs = Multimodal.phashNearDups16(
      Multimodal.aHash16(Multimodal.decodeFeatures(payloads, codec = "imageio")),
      "media_id").select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("audio silence runs: exact islands, min-run boundary, waveform contract") {
    // hand-built stream: media 1 amps 900,10,10,10,900,10,10,900 ->
    // one run of 3 at pos 2; the trailing pair is below minRun
    val amps1 = Seq(900, 10, 10, 10, 900, 10, 10, 900)
    val amps2 = Seq(10, 10, 10, 10) // media 2: one full-clip run of 4
    val samples = (amps1.zipWithIndex.map { case (a, i) => (1L, "s", i + 1, a) }
      ++ amps2.zipWithIndex.map { case (a, i) => (2L, "s", i + 1, a) })
      .toDF("media_id", "source", "pos", "amp")
    val runs = References.silenceRuns(samples, silenceBelow = 128, minRun = 3)
      .select($"media_id", $"run_start", $"run_len")
      .as[(Long, Int, Long)].collect().toSet
    assert(runs == Set((1L, 2, 3L), (2L, 1, 4L)), runs)
    // min-run boundary: raising minRun to 4 drops media 1's run
    assert(References.silenceRuns(samples, 128, 4)
      .select($"media_id").as[Long].collect().toSeq == Seq(2L))
    // stub waveform: deterministic, the 1 + hash mod 240 length contract
    // (hand-replayed), amplitudes in range, partition-invariant
    val payloads = Seq((7L, "s", "some payload"), (8L, "s", "x"))
      .toDF("media_id", "source", "payload")
      .withColumn("payload", $"payload".cast("binary"))
    val wf = Multimodal.stubWaveform(payloads)
      .as[(Long, String, Int, Int)].collect()
    assert(wf.forall(s => s._4 >= 0 && s._4 < 1024))
    def wantLen(text: String): Long = {
      var h = 1125899906842597L
      text.getBytes("UTF-8").foreach(b => h = h * 31 + b)
      1L + math.floorMod(h, 240L)
    }
    val perMedia = wf.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(perMedia == Map(7L -> wantLen("some payload"), 8L -> wantLen("x")),
      s"waveform lengths $perMedia must follow 1 + hash mod 240")
    val wf7 = Multimodal.stubWaveform(payloads.repartition(3))
      .as[(Long, String, Int, Int)].collect()
    assert(wf7.toSet == wf.toSet)
  }

  test("silenceRunMediaStats: one-pass stats == silenceRuns + counts, ∀ random streams") {
    // the r18 one-pass shape must reproduce the two-consumer report
    // exactly — including media with zero qualifying runs (NULL
    // longest/sil, n_runs 0) and all-silent / no-silent clips
    val rnd = new scala.util.Random(42)
    val rows = (1L to 12L).flatMap { m =>
      val n = 1 + rnd.nextInt(12)
      (1 to n).map(p => (m, if (m % 2 == 0) "a" else "b", p,
        if (rnd.nextBoolean()) rnd.nextInt(128) else 128 + rnd.nextInt(896)))
    }
    val samples = rows.toDF("media_id", "source", "pos", "amp")
    for (minRun <- Seq(1, 2, 3)) {
      val stats = Multimodal.silenceRunMediaStats(samples, 128, minRun)
        .select($"media_id", $"n_samples", $"n_runs",
          coalesce($"longest_run", lit(0L)), coalesce($"sil_in_runs", lit(0L)))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (m, a, b, c, d) => m -> ((a, b, c, d)) }.toMap
      val runs = References.silenceRuns(samples, 128, minRun)
        .select($"media_id", $"run_len").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val counts = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      counts.foreach { case (m, n) =>
        val rl: Seq[Long] = runs.get(m).map(_.toSeq).getOrElse(Seq.empty)
        val want = (n, rl.size.toLong,
          if (rl.isEmpty) 0L else rl.max, rl.sum)
        assert(stats(m) == want, s"media $m minRun $minRun: ${stats(m)} vs $want")
      }
    }
  }

  test("scene cuts: lag threshold, prefix-sum scene ids, hand-computed") {
    // media 1: amps 100, 700, 650, 100, 120 -> cuts at pos 2 (jump 600)
    // and pos 4 (jump 550); scenes [1], [2,3], [4,5]
    val s1 = Seq(100, 700, 650, 100, 120).zipWithIndex
      .map { case (a, i) => (1L, "s", i + 1, a) }
    val s2 = Seq((2L, "s", 1, 500)) // single frame: no transitions
    val seg = Multimodal.sceneCuts((s1 ++ s2).toDF("media_id", "source", "pos", "amp"),
        minDelta = 512)
      .select($"media_id", $"pos", $"is_cut", $"scene")
      .as[(Long, Int, Boolean, Long)].collect().toSet
    assert(seg == Set(
      (1L, 1, false, 0L), (1L, 2, true, 1L), (1L, 3, false, 1L),
      (1L, 4, true, 2L), (1L, 5, false, 2L),
      (2L, 1, false, 0L)), seg)
    // exact boundary: a delta of exactly minDelta IS a cut
    val b = Multimodal.sceneCuts(
      Seq((3L, "s", 1, 0), (3L, "s", 2, 512)).toDF("media_id", "source", "pos", "amp"),
      minDelta = 512).filter($"is_cut").count()
    assert(b == 1L)
    // partitioning can't move a cut
    val seg7 = Multimodal.sceneCuts(
      (s1 ++ s2).toDF("media_id", "source", "pos", "amp").repartition(5), 512)
      .select($"media_id", $"pos", $"is_cut", $"scene")
      .as[(Long, Int, Boolean, Long)].collect().toSet
    assert(seg7 == seg)
  }

  test("BPE apply: greedy leftmost, boundary-safe, rank-ordered fold") {
    import graft.operators.Bpe
    def enc(words: Seq[String], merges: Seq[(String, String)]) =
      Bpe.applyMerges(words.toDF("word"), "word", merges)
        .select($"word", $"sym", $"n_syms").as[(String, String, Int)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val S = Bpe.Sep
    // greedy leftmost: "aaa" + (a,a) -> [aa][a], never [a][aa]
    val g = enc(Seq("aaa"), Seq(("a", "a")))
    assert(g("aaa") == ((s"${S}aa$S" + s"a$S", 2)))
    // boundary safety: after (e,l), the rule (l,l) must NOT reach into
    // the merged "el" symbol — "hello" -> h [el] l o, not h e [ll] o
    val b = enc(Seq("hello"), Seq(("e", "l"), ("l", "l")))
    assert(b("hello") == ((s"${S}h${S}el${S}l${S}o$S", 4)), b("hello"))
    // rank order matters: (l,l) FIRST gives h e [ll] o
    val b2 = enc(Seq("hello"), Seq(("l", "l"), ("e", "l")))
    assert(b2("hello") == ((s"${S}h${S}e${S}ll${S}o$S", 4)), b2("hello"))
    // no merges: one symbol per char; single char: one symbol
    val n = enc(Seq("ab", "x"), Seq.empty)
    assert(n("ab")._2 == 2 && n("x")._2 == 1)
  }

  test("rolling_hash over a column equals hashBytes; literal folds") {
    import RollingHashExpression.rollingHash
    val got = Seq("hello").toDF("t").repartition(1)
      .select(rollingHash($"t").as("h"), rollingHash($"t", 37L).as("h37"))
      .head()
    assert(got.getAs[Long]("h") ==
      RollingHashExpression.hashBytes("hello".getBytes("UTF-8"), 31L))
    assert(got.getAs[Long]("h37") ==
      RollingHashExpression.hashBytes("hello".getBytes("UTF-8"), 37L))
    // foldable: a literal argument constant-folds at plan time
    val plan = spark.range(1).select(rollingHash(lit("x")).as("h"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("rolling_hash"), plan)
  }

  test("md5_register / md5_word32 over a column: hex contracts hold") {
    import graft.functions.Md5RegisterExpression.md5Register
    import graft.functions.Md5Word32Expression.md5Word32
    val got = Seq(("42", "hello")).toDF("k", "t").repartition(1)
      .select(md5Register($"k").as("pk"),
        conv(substring(md5($"k"), 1, 2), 16, 10).cast("int").as("reg_sql"),
        md5Word32($"t").as("w"),
        conv(substring(md5($"t"), 1, 8), 16, 10).cast("bigint").as("w_sql"))
      .head()
    assert(got.getAs[Int]("pk") >> 6 == got.getAs[Int]("reg_sql"))
    assert((got.getAs[Int]("pk") & 63) >= 1 && (got.getAs[Int]("pk") & 63) <= 53)
    assert(got.getAs[Long]("w") == got.getAs[Long]("w_sql"))
  }

  test("vector kernels over a column: codegen equals the folded literal") {
    import graft.functions.VectorExpressions.{cosineSim, hyperplaneBucket, l2Sq}
    def kernels(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      Seq(cosineSim(a, a).as("c"), l2Sq(a, b).as("l"),
        hyperplaneBucket(b, 8).as("bk"))
    val lits = kernels(typedLit(Array(0.0, 3.0)), typedLit(Array(4.0, 0.0)))
    val folded = spark.range(1).select(lits: _*).head()
    val got = Seq((Array(0.0, 3.0), Array(4.0, 0.0))).toDF("a", "b")
      .repartition(1).select(kernels($"a", $"b"): _*).head()
    assert(got.getAs[Double]("c") == 1.0)
    assert(got.getAs[Double]("l") == 25.0)
    assert(got.getAs[Long]("bk") >= 0L && got.getAs[Long]("bk") < 256L)
    assert(got == folded)
  }

  test("cosine similarity column matches manual computation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSimilarity($"a", $"b")).as[Double].collect().head
    val want = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("keep-best dedup: quality wins, ties break to smallest id") {
    val df = Seq(
      (1L, "k1", 10L), (2L, "k1", 30L), (3L, "k1", 30L), // 2 & 3 tie on quality
      (7L, "k2", 5L)
    ).toDF("id", "ckey", "q")
    val got = graft.operators.Dedup
      .keepBestGroups(df, "id", col("ckey"), col("q"))
      .select($"digest", $"keep_id", $"dup_count", $"best_quality")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("k1", 2L, 3L, 30L),  // best quality 30; tie → min id 2, NOT min id 1
      ("k2", 7L, 1L, 5L)))
  }

  /** Brute-force exact shingle-jaccard pairs ≥ minJ — the all-pairs
    * reference both screened operators must reproduce exactly. */
  private def bruteShinglePairs(df: org.apache.spark.sql.DataFrame,
      minJ: Double): Set[(Long, Long, Double)] = {
    val m = df.select($"doc_id".as("id"),
      array_distinct(Dedup.shingleArray($"text", 3)).as("sh"))
    val inter = size(array_intersect($"sh_a", $"sh_b"))
    m.select($"id".as("id_a"), $"sh".as("sh_a"))
      .crossJoin(m.select($"id".as("id_b"), $"sh".as("sh_b")))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", (inter.cast("double") /
        (size($"sh_a") + size($"sh_b") - inter).cast("double")).as("j"))
      .filter($"j" >= minJ)
      .as[(Long, Long, Double)].collect().toSet
  }

  test("verified near-dup pairs (q32/q33): both screens equal brute force, " +
      "with exact jaccard values") {
    val base = (1 to 40).map(i => s"word$i")
    val docs = Seq(
      1L -> base.mkString(" "),                              // anchor
      2L -> (base.dropRight(1) :+ "wordX").mkString(" "),    // j ≈ 0.854
      3L -> base.mkString(" "),                              // exact copy, j = 1
      4L -> (base.take(20) ++ (1 to 20).map(i => s"alt$i")).mkString(" "),
      5L -> (1 to 40).map(i => s"other$i").mkString(" "))    // unrelated
      .map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val want = bruteShinglePairs(docs, 0.8)
    assert(want.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"fixture drifted: $want")
    val lsh = Dedup.verifiedNearDupPairs(docs, "doc_id", "text", minJaccard = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val sim = Dedup.verifiedSimHashPairs(docs, "doc_id", "text", minJaccard = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == want, s"LSH screen: $lsh != $want")
    assert(sim == want, s"SimHash screen: $sim != $want")
  }

  test("shingleJaccardOnCandidates: scores ONLY the given pairs and carries " +
      "keep columns through") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    // candidate screen proposes (1,2) but not (2,3): the verifier must not
    // invent the missing pair, and must carry the screen's flag through
    val cands = Seq((1L, 2L, true)).toDF("id_a", "id_b", "vs_old")
    val got = Dedup.shingleJaccardOnCandidates(docs, "doc_id", "text",
        cands, minJaccard = 0.8, keep = Seq("vs_old"))
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0, true)))
  }

  test("repetition filters: hand-computed Gopher metrics, thresholds, short-doc guards") {
    val docs = Seq(
      // 8 words, all distinct, no repeated grams -> clean
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // "spam ham" repeated 5x: 10 words / 2 distinct -> dup_word_pml
      // 800; top bigram "spam ham" count 5 covers 5*8=40 of 44 chars
      (2L, "spam ham spam ham spam ham spam ham spam ham"),
      // two-word doc: its only bigram has count 1 -> guard keeps pml 0
      (3L, "tiny doc"),
      // single word: bigram tier degenerates to the whole text, count 1
      (4L, "solo"),
      // 12 words; exactly ONE duplicated 5-gram ("one two three four
      // five", 2 occurrences) and a 4-way bigram-count tie that must
      // break to the lexicographically smallest gram
      (5L, "one two three four five pad6 pad7 one two three four five")
    ).toDF("doc_id", "text")
    val got = operators.Repetition.metrics(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Long]("dup_word_pml") == 0L)
    assert(!byId(1L).getAs[Boolean]("repetitive"))
    val d2 = byId(2L)
    assert(d2.getAs[Long]("dup_word_pml") == 800L) // (10-2)*1000/10
    assert(d2.getAs[String]("top_bigram") == "ham spam" ||
      d2.getAs[String]("top_bigram") == "spam ham")
    // ties: "ham spam" (4x) vs "spam ham" (5x) -> count wins
    assert(d2.getAs[String]("top_bigram") == "spam ham")
    assert(d2.getAs[Long]("top_bigram_count") == 5L)
    assert(d2.getAs[Long]("top_bigram_pml") == 1000L * 5 * 8 / 44)
    assert(d2.getAs[Boolean]("repetitive"))
    assert(byId(3L).getAs[Long]("top_bigram_pml") == 0L)
    assert(!byId(3L).getAs[Boolean]("repetitive"))
    assert(byId(4L).getAs[Long]("top_bigram_pml") == 0L)
    assert(byId(4L).getAs[Long]("dup5_pml") == 0L)
    val d5 = byId(5L)
    // the one duplicated 5-gram covers 2 x 23 chars of the 57-char doc
    assert(d5.getAs[Long]("dup5_pml") == 1000L * 2 * 23 / 57) // 807
    // bigram counts tie at 2 ("one two"/"two three"/"three four"/
    // "four five") -> smallest gram wins deterministically
    assert(d5.getAs[String]("top_bigram") == "four five")
    assert(d5.getAs[Long]("top_bigram_count") == 2L)
    assert(d5.getAs[Boolean]("repetitive"))
  }

  test("repetition metrics: map-only production tier ≡ hashed-gram tier " +
      "≡ string tier row-for-row on the real corpus") {
    // the production tier computes everything in one scalar expression
    // (zero shuffles); the relational tiers are the reference shapes the
    // oracle SQL mirrors. Full-row equality across all three pins that
    // neither the in-row hashmaps nor the fixed-width gram hashing ever
    // changes a value — counts, tie-breaks, the top_bigram string
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mapOnly = operators.Repetition.metrics(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().toSeq
    val hashed = References
      .metricsRelational(docs, "doc_id", "text", hashGrams = true)
      .orderBy($"doc_id").collect().toSeq
    val strings = References
      .metricsRelational(docs, "doc_id", "text", hashGrams = false)
      .orderBy($"doc_id").collect().toSeq
    assert(mapOnly.nonEmpty)
    assert(mapOnly == strings)
    assert(hashed == strings)
  }

  test("shingle_array expression ≡ the HOF transform/slice formulation") {
    // the reference formulation shingleArray replaced (tokenize-once fix):
    // transform + slice + concat_ws over the inlined split(normalize) —
    // element-for-element equality pins the codegen'd expression to it,
    // including the short-doc (< n tokens) and empty-text ([""]) edges
    def hofShingles(textCol: org.apache.spark.sql.Column, n: Int) = {
      val tokens = split(TextFunctions.normalizeText(textCol), " ")
      when(size(tokens) >= n,
        transform(sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", tokens)))
    }
    val docs = Seq(
      (1L, "The  quick\tbrown fox JUMPS over the lazy dog"),
      (2L, "one two"),            // shorter than n=3: whole text, one shingle
      (3L, "single"),             // one token
      (4L, ""),                   // empty: [""] via split -> [""]
      (5L, "   "),                // whitespace-only: normalize -> ""
      (6L, "a b c"),              // exactly n tokens: one shingle
      (7L, (1 to 50).map(i => s"tok$i").mkString("  ")),
      (8L, null.asInstanceOf[String]) // null text: [""] (concat_ws skips
                                      // the null array), NOT null-propagated
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 3, 5)) {
      val got = docs.select($"doc_id",
        Dedup.shingleArray($"text", n).as("s")).orderBy($"doc_id")
        .as[(Long, Seq[String])].collect().toSeq
      val ref = docs.select($"doc_id",
        hofShingles($"text", n).as("s")).orderBy($"doc_id")
        .as[(Long, Seq[String])].collect().toSeq
      assert(got == ref, s"n=$n")
    }
  }
}
