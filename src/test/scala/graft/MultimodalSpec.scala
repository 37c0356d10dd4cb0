package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Multimodal plumbing: schema contract, row-preserving feature extraction
  * with the stub codec, and the image/audio/video codecs and operators.
  */
class MultimodalSpec extends SparkSpecBase {

  private def media() = {
    val rows = Seq(
      Row(1L, "image", Array.tabulate[Byte](100)(_.toByte), Row("image/png", 8, 8, null)),
      Row(2L, "video", Array.tabulate[Byte](200)(i => (i * 3).toByte),
        Row("video/mp4", 16, 16, 5000L)),
      Row(3L, "audio", null, Row("audio/mp3", null, null, 1200L)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
  }

  test("extractFeatures: row-preserving, deterministic, typed output") {
    val out = Multimodal.extractFeatures(media(), dim = 4).orderBy("media_id").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n_bytes") === 100L)
    assert(out(2).getAs[Long]("n_bytes") === 0L) // null blob tolerated
    val f1 = out(0).getSeq[Float](out(0).fieldIndex("feature"))
    assert(f1.length === 4)
    val again = Multimodal.extractFeatures(media(), dim = 4).orderBy("media_id").collect()
    assert(again(0).getSeq[Float](again(0).fieldIndex("feature")) === f1)
  }

  test("extracted features feed the embedding dedup tier unchanged") {
    // two assets with identical bytes + one different: the stub features go
    // straight into embeddingNearDupPairs — same Array[Float] contract as
    // the embeddings table, so the multimodal and ANN tiers compose
    val rows = Seq(
      Row(1L, "image", Array.tabulate[Byte](100)(_.toByte), null),
      Row(2L, "image", Array.tabulate[Byte](100)(_.toByte), null),
      Row(3L, "image", Array.tabulate[Byte](100)(i => (i * 7 + 1).toByte), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val feats = Multimodal.extractFeatures(df, dim = 8)
    val pairs = graft.operators.Dedup
      .embeddingNearDupPairs(feats, "media_id", "feature", signBits = 2, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  private def gradientPgm(w: Int, h: Int, f: Int => Int): Array[Byte] =
    Multimodal.PgmCodec.encode(w, h, 255,
      Array.tabulate[Byte](w * h)(i => f(i).toByte))

  test("PgmCodec.encode rejects a pixel array that disagrees with the dimensions") {
    // an oversized array used to encode a payload decodeImage accepted
    // (silently ignoring the tail) while frames() rejected it
    intercept[IllegalArgumentException] {
      Multimodal.PgmCodec.encode(2, 2, 255, new Array[Byte](5))
    }
    intercept[IllegalArgumentException] {
      Multimodal.PgmCodec.encode(2, 2, 255, new Array[Byte](3))
    }
  }

  test("PgmCodec decodes a real P5 image, comments and whitespace included") {
    // hand-built header with a comment line — exercises the parser, not
    // just encode()'s own formatting
    val px = Array.tabulate[Byte](12)(i => (i * 10).toByte)
    val raw = "P5\n# a comment\n 4  3\n255\n".getBytes("US-ASCII") ++ px
    val Some((w, h, m, pixels)) = Multimodal.PgmCodec.decodeImage(raw)
    assert((w, h, m) === ((4, 3, 255)))
    assert(pixels.toSeq === px.toSeq)
    // truncated pixel data must be rejected, not silently short-read
    assert(Multimodal.PgmCodec.decodeImage(raw.dropRight(1)).isEmpty)
    assert(Multimodal.PgmCodec.decodeImage("not an image".getBytes).isEmpty)
  }

  test("PgmCodec resize is real nearest-neighbor pixel work") {
    // 4x2 image, left half 0, right half 200 -> 2x1 keeps one of each
    val img = gradientPgm(4, 2, i => if (i % 4 < 2) 0 else 200)
    val Some(small) = Multimodal.PgmCodec.resize(img, 2, 1)
    val Some((w, h, _, px)) = Multimodal.PgmCodec.decodeImage(small)
    assert((w, h) === ((2, 1)))
    assert(px.map(_ & 0xff).toSeq === Seq(0, 200))
  }

  test("PgmCodec features carry true dimensions and mean; frames split a P5 concat") {
    val img = gradientPgm(16, 8, _ % 256)
    val feats = Multimodal.PgmCodec.features("image", img, dim = 7)
    assert(feats(0) === 16.0f && feats(1) === 8.0f)
    val mean = (0 until 128).map(_ % 256).sum.toDouble / (128 * 255)
    assert(math.abs(feats(2) - mean) < 1e-6)
    assert(math.abs(feats.drop(3).sum - 1.0f) < 1e-5) // histogram fractions
    // two concatenated P5 images = two frames, each independently decodable
    val clip = img ++ gradientPgm(4, 2, _ => 9)
    val frames = Multimodal.PgmCodec.frames(clip, everyMs = 40).toSeq
    assert(frames.map(_._1) === Seq(0L, 40L))
    assert(Multimodal.PgmCodec.decodeImage(frames(1)._2).get._1 === 4)
  }

  test("imageStats returns exact integers distributed; garbage rows degrade to -1") {
    val rows = Seq(
      Row(1L, "image", gradientPgm(4, 2, _ => 10), null),
      Row(2L, "image", "junk".getBytes, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val out = Multimodal.imageStats(df).orderBy("media_id").collect()
    assert((out(0).getInt(1), out(0).getInt(2), out(0).getLong(3)) === ((4, 2, 80L)))
    assert(out(1).getInt(1) === -1)
  }

  test("codec guards: header-int overflow rejected, dim<4 loud, truncated frame throws") {
    // an oversized header field must reject, not wrap to a small valid int
    val wrapped = ("P5\n4294967297 1\n255\n" + "x").getBytes("US-ASCII")
    assert(Multimodal.PgmCodec.decodeImage(wrapped).isEmpty)
    // features on a VALID image with too few slots must fail, not silently
    // hand back the stub's byte histogram
    intercept[IllegalArgumentException] {
      Multimodal.PgmCodec.features("image", gradientPgm(2, 2, _ => 1), dim = 3)
    }
    // a clip cut mid-frame throws instead of yielding fewer frames
    val clip = gradientPgm(4, 2, _ => 5) ++ gradientPgm(4, 2, _ => 6).dropRight(3)
    intercept[IllegalArgumentException] {
      Multimodal.PgmCodec.frames(clip, 10).toSeq
    }
  }

  test("operators chain: resize output feeds imageStats (schemaless rows)") {
    // chained object-typed maps elide the serializer (EliminateSerialization)
    // and hand downstream lambdas schemaless rows — this pins the
    // positional-access contract end-to-end
    val rows = Seq(Row(1L, "image", gradientPgm(8, 4, _ => 100), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.MediaSchema)
    val resized = Multimodal.resizeImages(df, 4, 2)
    val stats = Multimodal.imageStats(resized).collect()
    assert((stats(0).getInt(1), stats(0).getInt(2), stats(0).getLong(3)) === ((4, 2, 800L)))
  }

  test("WavCodec round-trips PCM16 through javax.sound.sampled, mono and stereo") {
    // negative samples included: signed little-endian frames must survive
    val mono = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val m = Multimodal.WavCodec.decode(Multimodal.WavCodec.encode(8000, 1, mono)).get
    assert((m.sampleRate, m.channels) === ((8000, 1)))
    assert(m.samples.toSeq === mono.toSeq)
    val stereo = Array[Short](5, -5, 100, -100, 2000, -2000, 42, 24)
    val st = Multimodal.WavCodec.decode(Multimodal.WavCodec.encode(44100, 2, stereo)).get
    assert((st.sampleRate, st.channels) === ((44100, 2)))
    assert(st.samples.toSeq === stereo.toSeq)
  }

  test("WavCodec guards: bad format loud, ragged frames loud, garbage decodes to None") {
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.encode(0, 1, Array[Short](1)))
    intercept[IllegalArgumentException](
      Multimodal.WavCodec.encode(8000, 2, Array[Short](1, 2, 3))) // not whole frames
    assert(Multimodal.WavCodec.decode(null).isEmpty)
    assert(Multimodal.WavCodec.decode(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.WavCodec.decode("not audio at all".getBytes("US-ASCII")).isEmpty)
  }

  test("audioStats: exact integer stats distributed; garbage rows degrade to -1") {
    val clip = Multimodal.WavCodec.encode(8000, 2, Array[Short](10, -20, 30, -40))
    val rows = Seq(
      Row(1L, "audio", clip, null),
      Row(2L, "audio", Array[Byte](9, 9, 9), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.MediaSchema)
    val out = Multimodal.audioStats(df).orderBy("media_id").collect()
    // 4 samples / 2 channels = 2 frames at 8 kHz -> 0 ms (integer floor);
    // sum = 10-20+30-40 = -20; peak = 30
    assert(out(0).toSeq === Seq(1L, 8000, 2, 4L, 0L, -20L, 30))
    assert(out(1).toSeq === Seq(2L, -1, -1, -1L, -1L, -1L, -1))
  }

  test("WavCodec canonical fast path: parses encode output directly, defers " +
      "non-canonical-but-valid streams to AudioSystem with identical samples") {
    val samples = Array[Short](0, 1000, -1000, 32767, -32768, 7)
    val canonical = Multimodal.WavCodec.encode(8000, 1, samples)
    // the fast path owns the canonical layout (this is what the 100× q76
    // constant-factor fix is: no per-clip provider probing)
    val fast = Multimodal.WavCodec.decodeCanonical(canonical).get
    assert((fast.sampleRate, fast.channels) === ((8000, 1)))
    assert(fast.samples.toSeq === samples.toSeq)
    // splice a LIST chunk between fmt and data — VALID RIFF that real
    // encoders emit, but non-canonical: the fast path must refuse it and
    // decode() must still parse it via the fallback, samples identical
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val spliced = new Array[Byte](canonical.length + list.length)
    System.arraycopy(canonical, 0, spliced, 0, 36)
    System.arraycopy(list, 0, spliced, 36, list.length)
    System.arraycopy(canonical, 36, spliced, 36 + list.length, canonical.length - 36)
    val bb = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, bb.getInt(4) + list.length) // RIFF size covers the new chunk
    assert(Multimodal.WavCodec.decodeCanonical(spliced).isEmpty)
    val slow = Multimodal.WavCodec.decode(spliced).get
    assert((slow.sampleRate, slow.channels) === ((8000, 1)))
    assert(slow.samples.toSeq === samples.toSeq)
    // a header field disagreement (byte rate) is also non-canonical — the
    // fallback judges it, the fast path must not silently accept it
    val skewed = canonical.clone()
    java.nio.ByteBuffer.wrap(skewed).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(28, 1)
    assert(Multimodal.WavCodec.decodeCanonical(skewed).isEmpty)
  }

  test("WavCodec decode never throws on corrupted headers (NonFatal fallback)") {
    // flipping any single header byte of a canonical clip must yield
    // Some(...) or None, never an exception killing the partition
    // (ADVICE r11: crafted RIFF headers can drive the JDK parser into
    // runtime exceptions beyond the two checked ones)
    val canonical = Multimodal.WavCodec.encode(8000, 1, Array[Short](1, 2, 3, 4))
    for (i <- 0 until 44; v <- Seq(0x00, 0xff, 0x80)) {
      val mutant = canonical.clone()
      mutant(i) = v.toByte
      Multimodal.WavCodec.decode(mutant) // must not throw
    }
  }

  test("PngCodec round-trips gray pixels exactly through javax.imageio") {
    val px = Array.tabulate[Byte](20 * 10)(i => ((i * 3 + 7) % 256).toByte)
    val png = Multimodal.PngCodec.encode(20, 10, px)
    // real PNG bytes: signature + zlib-compressed IDAT, not a passthrough
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte)
    val (w, h, m, back) = Multimodal.PngCodec.decodeImage(png).get
    assert((w, h, m) === ((20, 10, 255)))
    assert(back.toSeq === px.toSeq)
    // stats = exact integer sum of the decoded raster
    val expected = px.map(_ & 0xff).map(_.toLong).sum
    assert(Multimodal.PngCodec.stats(png) === Some((20, 10, expected)))
    // undecodable payloads: no signature → None, corrupt-past-signature →
    // None (NonFatal), never a partition-killing throw
    assert(Multimodal.PngCodec.decodeImage(null).isEmpty)
    assert(Multimodal.PngCodec.decodeImage("garbage".getBytes("US-ASCII")).isEmpty)
    val corrupt = java.util.Arrays.copyOf(png, 24) // signature + truncated IHDR
    assert(Multimodal.PngCodec.decodeImage(corrupt).isEmpty)
    // dimension mismatch is loud (PgmCodec rule)
    intercept[IllegalArgumentException](Multimodal.PngCodec.encode(3, 3, px))
  }

  test("PngCodec reduces color payloads by integer BT.601 luma; resize resamples") {
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8040) // r=255 g=128 b=64
    img.setRGB(1, 0, 0x0a141e) // r=10 g=20 b=30
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, _, px) = Multimodal.PngCodec.decodeImage(bos.toByteArray).get
    assert((w, h) === ((2, 1)))
    assert((px(0) & 0xff) === (255 * 299 + 128 * 587 + 64 * 114) / 1000)
    assert((px(1) & 0xff) === (10 * 299 + 20 * 587 + 30 * 114) / 1000)
    // nearest-neighbor resize: constant image stays constant at any size
    val flat = Multimodal.PngCodec.encode(8, 4, Array.fill[Byte](32)(77))
    val small = Multimodal.PngCodec.resize(flat, 3, 2).get
    val (_, _, _, rpx) = Multimodal.PngCodec.decodeImage(small).get
    assert(rpx.length === 6 && rpx.forall(_ === 77.toByte))
    // frames: a PNG is a single-image container
    assert(Multimodal.PngCodec.frames(flat, 40L).toSeq.map(_._1) === Seq(0L))
    assert(Multimodal.PngCodec.frames(Array[Byte](1, 2), 40L).isEmpty)
  }

  test("q77 closed form: decoded PNG ramp stats match the oracle arithmetic") {
    // the exact synthesis q77 runs, checked against the closed form the
    // DuckDB oracle evaluates — ids on both sides of the wrap point a=56
    for (id <- Seq(0L, 3L, 5L, 13L, 23L, 100L)) {
      val a = (id * 11) % 256
      val px = Array.tabulate[Byte](200)(i => ((id * 11 + i) % 256).toByte)
      val stats = Multimodal.PngCodec.stats(Multimodal.PngCodec.encode(20, 10, px)).get
      assert(stats === ((20, 10, 200 * a + 19900 - 256 * math.max(a - 56, 0))), s"id=$id")
    }
  }

  test("imageAHash + imageNearDupPairs: hash matches the closed form, pairs match " +
      "a brute-force banded reference, undecodable images stay out") {
    import org.apache.spark.sql.types._
    // the q79 synthesis over a small id range, PGM-encoded, plus one
    // garbage payload that must hash to null and never pair
    def pixels(id: Long) = Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1)) % 256).toByte)
    // 257 ≡ 1 and 261 ≡ 5 (mod 256): identical synthetic images — the
    // duplicate-cluster rows the near-dup tier exists to find
    val ids = (1L to 40L) ++ Seq(257L, 261L)
    val rows = ids.map(id => Row(id, Multimodal.PgmCodec.encode(16, 8, 255, pixels(id)))) :+
      Row(99L, "not an image".getBytes("US-ASCII"))
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val hashes = Multimodal.imageAHash(media, Multimodal.PgmCodec)
    val got = hashes.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))).toMap
    assert(got(99L) === None)
    // independent closed form: sampled offset = 2*pos (16x8 -> 8x8 NN),
    // bit = 64*v > sum over the 64 samples, hi/lo split at bit 32
    def expected(id: Long): (Long, Long) = {
      val v = Array.tabulate(64)(pos => ((id * (2 * pos + 1)) % 256).toInt)
      val s = v.map(_.toLong).sum
      var hi = 0L; var lo = 0L
      for (pos <- 0 until 64 if 64L * v(pos) > s)
        if (pos >= 32) hi |= 1L << (pos - 32) else lo |= 1L << pos
      (hi, lo)
    }
    for (id <- ids) assert(got(id) === Some(expected(id)), s"id=$id")
    assert(got(257L) === got(1L) && got(261L) === got(5L)) // exact clusters
    // the hash is codec-independent: the same pixels through PNG decode
    val pngRows = Seq(Row(7L, Multimodal.PngCodec.encode(16, 8, pixels(7L))))
    val pngMedia = spark.createDataFrame(spark.sparkContext.parallelize(pngRows, 1), schema)
    val png7 = Multimodal.imageAHash(pngMedia, Multimodal.PngCodec).head()
    assert((png7.getLong(1), png7.getLong(2)) === expected(7L))
    // pairs ≡ brute force over the same hashes with the same band-candidacy
    // rule (share ≥ 1 of the four 16-bit bands) and hamming ≤ 6 verify
    def bands(h: (Long, Long)) = Seq(h._2 & 0xffffL, h._2 >>> 16, h._1 & 0xffffL, h._1 >>> 16)
    val brute = (for {
      i <- ids; j <- ids if i < j
      hi = expected(i); hj = expected(j)
      if bands(hi).zip(bands(hj)).exists { case (x, y) => x == y }
      ham = java.lang.Long.bitCount(hi._1 ^ hj._1) + java.lang.Long.bitCount(hi._2 ^ hj._2)
      if ham <= 6
    } yield (i, j, ham)).toSet
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === brute)
    assert(pairs.contains((1L, 257L, 0)) && pairs.contains((5L, 261L, 0)))
    assert(pairs.forall(p => p._1 != 99L && p._2 != 99L))
    // the candidate join must key on the band — a trivially-true self-join
    // predicate would degenerate to a filtered cartesian (this fixture's
    // output happens to survive that, a 100 TB corpus would not)
    val plan = Multimodal.imageNearDupPairs(hashes, maxHamming = 6)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"band join degenerated:\n$plan")
  }

  test("audioFingerprint + audioNearDupPairs: envelope bits match the closed form, " +
      "exact at overflow-scale clip lengths, pairs match brute force") {
    import org.apache.spark.sql.types._
    def clip(id: Long) = Multimodal.WavCodec.encode(8000, 1,
      Array.tabulate[Short](160)(i => ((id * (i + 3)) % 256).toShort))
    val ids = (1L to 40L) ++ Seq(257L, 261L) // 257≡1, 261≡5 mod 256: exact clusters
    val rows = ids.map(id => Row(id, clip(id))) :+
      Row(99L, "not audio".getBytes("US-ASCII"))
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val fps = Multimodal.audioFingerprint(media, frames = 32)
    val got = fps.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(99L) === None)
    def expected(id: Long): Long = {
      val v = Array.tabulate(160)(i => ((id * (i + 3)) % 256).toInt)
      val total = v.map(_.toLong).sum
      (0 until 32).foldLeft(0L) { (fp, w) =>
        if (32L * v.slice(5 * w, 5 * w + 5).map(_.toLong).sum > total) fp | (1L << w) else fp
      }
    }
    for (id <- ids) assert(got(id) === Some(expected(id)), s"id=$id")
    assert(got(257L) === got(1L) && got(261L) === got(5L))
    // the signed-sample path: |−32768| must not wrap (Int abs would), and
    // a constant-amplitude clip has no window above the mean → fp 0
    val extreme = Multimodal.WavCodec.encode(8000, 1, Array.fill[Short](64)(-32768))
    val eRow = Multimodal.audioFingerprint(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, extreme)), 1), schema), frames = 32).head()
    assert(eRow.getLong(1) === 0L)
    // pairs ≡ brute force under the same band-candidacy rule
    def bands(fp: Long) = (0 until 4).map(b => (fp >>> (8 * b)) & 0xff)
    val brute = (for {
      i <- ids; j <- ids if i < j
      fi = expected(i); fj = expected(j)
      if bands(fi).zip(bands(fj)).exists { case (x, y) => x == y }
      ham = java.lang.Long.bitCount(fi ^ fj)
      if ham <= 3
    } yield (i, j, ham)).toSet
    val pairs = Multimodal.audioNearDupPairs(fps, frames = 32, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === brute)
    assert(pairs.contains((1L, 257L, 0)) && pairs.contains((5L, 261L, 0)))
    // band width must divide the fingerprint; the join must key on bands
    intercept[IllegalArgumentException](
      Multimodal.audioNearDupPairs(fps, frames = 32, bands = 5))
    val plan = Multimodal.audioNearDupPairs(fps, frames = 32)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"band join degenerated:\n$plan")
  }

  test("videoFingerprint: per-frame aHash pooled by majority; corrupt or empty " +
      "clips yield null; pairs ride the image tier") {
    import org.apache.spark.sql.types._
    def frame(id: Long, f: Int) = Multimodal.PgmCodec.encode(16, 8, 255,
      Array.tabulate[Byte](128)(i => ((id * (i + 1) + 17 * f) % 256).toByte))
    def clip(id: Long, nFrames: Int) = (0 until nFrames).toArray.flatMap(frame(id, _))
    val ids = Seq(1L, 2L, 5L, 257L, 261L) // 257≡1, 261≡5 (mod 256): exact clusters
    val rows = ids.map(id => Row(id, clip(id, 4))) ++ Seq(
      Row(90L, clip(90L, 1)), // single-frame clip: majority = that frame
      Row(98L, Array[Byte](1, 2, 3)), // not a P5 container → null
      Row(99L, clip(99L, 2) ++ "garbage tail".getBytes("US-ASCII"))) // corrupt → null
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val fps = Multimodal.videoFingerprint(media)
    val got = fps.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2), r.getLong(3))))).toMap
    assert(got(98L) === None && got(99L) === None)
    // closed form: per-frame sampled value (id·(2·pos+1) + 17·f) mod 256,
    // frame bit = 64·v > frame sum, clip bit = 2·count ≥ n_frames
    def expected(id: Long, nFrames: Int): (Long, Long) = {
      val cnt = new Array[Int](64)
      for (f <- 0 until nFrames) {
        val v = Array.tabulate(64)(p => ((id * (2 * p + 1) + 17 * f) % 256).toInt)
        val s = v.map(_.toLong).sum
        for (p <- 0 until 64 if 64L * v(p) > s) cnt(p) += 1
      }
      (0 until 64).foldLeft((0L, 0L)) { case ((hi, lo), p) =>
        if (2 * cnt(p) >= nFrames)
          if (p >= 32) (hi | (1L << (p - 32)), lo) else (hi, lo | (1L << p))
        else (hi, lo)
      }
    }
    for (id <- ids) assert(got(id) === Some(expected(id, 4) match {
      case (hi, lo) => (hi, lo, 4L) }), s"id=$id")
    assert(got(90L) === Some(expected(90L, 1) match { case (hi, lo) => (hi, lo, 1L) }))
    assert(got(257L) === got(1L) && got(261L) === got(5L))
    // clip fingerprints feed imageNearDupPairs unchanged — the clusters pair
    val pairs = Multimodal.imageNearDupPairs(fps, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 257L, 0)) && pairs.contains((5L, 261L, 0)))
    assert(pairs.forall(p => Set(p._1, p._2).intersect(Set(98L, 99L)).isEmpty))
  }

  test("q76 waveform closed form: decoded ramp stats match the oracle arithmetic") {
    // the exact synthesis q76 runs, checked against the closed form the
    // DuckDB oracle evaluates — for ids on both sides of the wrap point
    for (id <- Seq(0L, 5L, 14L, 36L, 100L)) {
      val a = (id * 7) % 256
      val samples = Array.tabulate[Short](160)(i => ((id * 7 + i) % 256).toShort)
      val d = Multimodal.WavCodec.decode(
        Multimodal.WavCodec.encode(8000, 1, samples)).get
      val sum = d.samples.map(_.toLong).sum
      assert(sum === 160 * a + 12720 - 256 * math.max(a - 96, 0), s"id=$id")
      assert(d.samples.max.toLong === math.min(a + 159, 255), s"id=$id")
      assert(d.samples.length / d.channels * 1000L / d.sampleRate === 20L, s"id=$id")
    }
  }

  test("JdkImageCodec rejects decompression bombs by header dims, before the " +
      "raster allocation (ADVICE r12)") {
    // a real 16×8 PNG, IHDR patched to declare a 10⁶×10⁶ raster (10¹² px —
    // ~4 TB as a color raster) with the chunk CRC recomputed so the header
    // parses cleanly: the cap must reject it as undecodable WITHOUT
    // calling read(0), whose allocation would OOM-kill the partition
    val px = Array.tabulate[Byte](16 * 8)(i => ((i * 7 + 3) % 256).toByte)
    val bomb = Multimodal.PngCodec.encode(16, 8, px).clone()
    def putInt(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    putInt(16, 1000000) // IHDR width  (bytes 16..19, big-endian)
    putInt(20, 1000000) // IHDR height (bytes 20..23)
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // chunk type "IHDR" + 13 data bytes
    putInt(29, crc.getValue.toInt)
    assert(Multimodal.PngCodec.decodeImage(bomb).isEmpty)
    assert(Multimodal.AutoImageCodec.stats(bomb).isEmpty)
    // the cap is about AMPLIFICATION, so honest images far under it are
    // untouched (and PGM needs no cap at all: its pixels must be present
    // in the payload byte-for-byte — no amplification to exploit)
    assert(Multimodal.PngCodec.decodeImage(Multimodal.PngCodec.encode(16, 8, px)).isDefined)
  }

  test("AutoCodec's maxPixels is a per-run knob; capped instances serialize " +
      "into tasks; PGM stays un-capped by design") {
    import org.apache.spark.sql.types._
    val px = Array.tabulate[Byte](20 * 10)(i => ((i * 7 + 3) % 256).toByte)
    val small = new Multimodal.AutoCodec(maxPixels = 100) // 200 px > cap
    assert(small.decodeImage(Multimodal.PngCodec.encode(20, 10, px)).isEmpty)
    assert(small.decodeImage(Multimodal.BmpCodec.encode(20, 10, px)).isEmpty)
    // PGM has no amplification to exploit — never capped
    assert(small.decodeImage(Multimodal.PgmCodec.encode(20, 10, 255, px)).isDefined)
    assert(new Multimodal.AutoCodec(maxPixels = 200)
      .decodeImage(Multimodal.PngCodec.encode(20, 10, px)).isDefined)
    // a capped INSTANCE (not the singleton) must survive closure
    // serialization into the mapPartitions tasks — the @transient lazy
    // ThreadLocal discipline
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, Multimodal.PngCodec.encode(20, 10, px))), 1), schema)
    val capped = Multimodal.imageStats(media, new Multimodal.AutoCodec(100)).head()
    assert(capped.getInt(1) === -1) // over-cap counts as undecodable
    val loose = Multimodal.imageStats(media, new Multimodal.AutoCodec(1000)).head()
    assert(loose.getInt(1) === 20 && loose.getInt(2) === 10)
  }

  test("corruption fuzz: no JDK codec ever throws on a mutated or truncated " +
      "payload — an undecodable asset must not fail the partition") {
    // the WavCodec 44-byte fuzz discipline (r12) applied to the image
    // codecs: flip bytes and truncate REAL payloads of every container;
    // decode must return Some or None, never propagate (OOM-class errors
    // are separately fenced by the pixel cap — the bomb test above)
    val px = Array.tabulate[Byte](20 * 10)(i => ((i * 7 + 3) % 256).toByte)
    val payloads = Seq[(String, Array[Byte], Multimodal.ImageCodec)](
      ("png", Multimodal.PngCodec.encode(20, 10, px), Multimodal.PngCodec),
      ("bmp", Multimodal.BmpCodec.encode(20, 10, px), Multimodal.BmpCodec),
      ("gif", Multimodal.GifCodec.encode(20, 10, px), Multimodal.GifCodec),
      ("jpeg", Multimodal.JpegCodec.encode(20, 10, px), Multimodal.JpegCodec))
    for ((name, valid, codec) <- payloads) {
      for (pos <- valid.indices by 5; v <- Seq(0x00, 0xff, (valid(pos) + 1) & 0xff)) {
        val mutated = valid.clone()
        mutated(pos) = v.toByte
        try {
          codec.decodeImage(mutated) // Some or None both fine; throw is the bug
          Multimodal.AutoImageCodec.decodeImage(mutated)
        } catch {
          case e: Throwable => fail(s"$name decode threw at byte $pos=$v: $e")
        }
      }
      for (len <- 0 until valid.length by 7) {
        val truncated = java.util.Arrays.copyOf(valid, len)
        try codec.decodeImage(truncated)
        catch { case e: Throwable => fail(s"$name decode threw at truncation $len: $e") }
      }
    }
  }

  test("BMP and GIF round-trip gray rasters exactly; JPEG is lossy-but-close; " +
      "AutoImageCodec sniffs all five formats (VERDICT r12 next #3)") {
    import org.apache.spark.sql.types._
    val px = Array.tabulate[Byte](20 * 10)(i => ((i * 7 + 3) % 256).toByte)
    // lossless members: bit-exact round-trip, same contract as PNG/PGM
    for (codec <- Seq(Multimodal.BmpCodec, Multimodal.GifCodec)) {
      val enc = codec.encode(20, 10, px)
      val Some((w, h, m, back)) = codec.decodeImage(enc)
      assert((w, h, m) === ((20, 10, 255)))
      assert(back.toSeq === px.toSeq, s"codec=$codec")
      // each signature rejects the others' payloads
      assert(codec.decodeImage(Multimodal.PngCodec.encode(20, 10, px)).isEmpty)
    }
    // JPEG: dims exact; a smooth gradient reproduces within a few gray
    // levels (DCT quantization — why JPEG stats get no closed-form oracle)
    val smooth = Array.tabulate[Byte](20 * 10)(i => (50 + (i % 20) + 2 * (i / 20)).toByte)
    val jpg = Multimodal.JpegCodec.encode(20, 10, smooth)
    val Some((jw, jh, _, jback)) = Multimodal.JpegCodec.decodeImage(jpg)
    assert((jw, jh) === ((20, 10)))
    val maxErr = jback.zip(smooth).map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 8, s"JPEG round-trip drifted $maxErr gray levels")
    // AutoImageCodec routes every container by magic bytes — the same
    // pixels through five containers give identical exact stats (JPEG:
    // decodable with exact dims, approximate sum)
    val pgm = Multimodal.PgmCodec.encode(20, 10, 255, px)
    val rows = Seq(
      Row(1L, pgm),
      Row(2L, Multimodal.PngCodec.encode(20, 10, px)),
      Row(3L, Multimodal.BmpCodec.encode(20, 10, px)),
      Row(4L, Multimodal.GifCodec.encode(20, 10, px)),
      Row(5L, jpg),
      Row(9L, "not an image at all".getBytes("US-ASCII")))
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val media = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val stats = Multimodal.imageStats(media, Multimodal.AutoImageCodec)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    val exact = (20, 10, px.map(b => (b & 0xff).toLong).sum)
    assert(stats(1L) === exact && stats(2L) === exact)
    assert(stats(3L) === exact && stats(4L) === exact)
    assert(stats(5L)._1 === 20 && stats(5L)._2 === 10) // lossy sum, exact dims
    assert(stats(9L) === ((-1, -1, -1L)))
    // cross-container near-dup: a structured image through BMP and PNG
    // aHashes identically (hamming 0) — the mixed-corpus dedup story
    val structured = Array.tabulate[Byte](16 * 8)(i => if (i % 16 < 8) 20 else (220).toByte)
    val dupRows = Seq(
      Row(11L, Multimodal.PngCodec.encode(16, 8, structured)),
      Row(12L, Multimodal.BmpCodec.encode(16, 8, structured)),
      Row(13L, Multimodal.JpegCodec.encode(16, 8, structured)))
    val dupMedia = spark.createDataFrame(spark.sparkContext.parallelize(dupRows, 1), schema)
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.imageAHash(dupMedia, Multimodal.AutoImageCodec), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((11L, 12L, 0)))
    assert(pairs.exists(p => p._1 == 11L && p._2 == 13L)) // JPEG lands within threshold
  }

  test("videoFingerprint frame sampling: stride 1 + unbounded ≡ full semantics; " +
      "stride samples deterministically; maxFrames bounds decode cost " +
      "(VERDICT r12 next #5)") {
    import org.apache.spark.sql.types._
    def frame(id: Long, f: Int) = Multimodal.PgmCodec.encode(16, 8, 255,
      Array.tabulate[Byte](128)(i => ((id * (i + 1) + 17 * f) % 256).toByte))
    def clip(id: Long, fs: Seq[Int]) = fs.toArray.flatMap(frame(id, _))
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    def mediaOf(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    def fp(media: org.apache.spark.sql.DataFrame, stride: Int, cap: Int) =
      Multimodal.videoFingerprint(media, frameStride = stride, maxFrames = cap)
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) null else r.getLong(1), if (r.isNullAt(2)) null
            else r.getLong(2), r.getLong(3)))).toMap
    val full = mediaOf(Seq(Row(1L, clip(1L, 0 until 6))))
    // defaults ≡ explicit (stride 1, unbounded): bit-identical
    assert(fp(full, 1, Int.MaxValue)(1L) ===
      Multimodal.videoFingerprint(full).collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap.apply(1L))
    // stride 2 over frames 0..5 hashes exactly frames 0,2,4 — identical to
    // the full fingerprint of a clip containing only those frames
    val sampled = fp(full, 2, Int.MaxValue)(1L)
    val explicit = fp(mediaOf(Seq(Row(1L, clip(1L, Seq(0, 2, 4))))), 1, Int.MaxValue)(1L)
    assert(sampled === explicit)
    assert(sampled._3 === 3L) // n_frames counts HASHED frames
    // maxFrames stops the decode after the budget: a corrupt region AFTER
    // the sampled prefix is never read (bounded cost contract) — the same
    // clip nulls under full iteration (corrupt-tail throw preserved)
    val corruptTail = mediaOf(Seq(
      Row(2L, clip(2L, Seq(0, 1)) ++ "garbage".getBytes("US-ASCII"))))
    val capped = fp(corruptTail, 1, 2)(2L)
    assert(capped === fp(mediaOf(Seq(Row(2L, clip(2L, Seq(0, 1))))), 1, Int.MaxValue)(2L))
    assert(fp(corruptTail, 1, Int.MaxValue)(2L) === ((null, null, 0L)))
    intercept[IllegalArgumentException](
      Multimodal.videoFingerprint(full, frameStride = 0))
    intercept[IllegalArgumentException](
      Multimodal.videoFingerprint(full, maxFrames = 0))
  }

  test("guarded media near-dup pairs: ≡ plain when no bucket is oversized; " +
      "star-collapse bounds replica clusters with identical components " +
      "(VERDICT r12 next #1)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    def pixels(id: Long) = Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1)) % 256).toByte)
    // --- image tier ---
    val ids = (1L to 40L) ++ Seq(257L, 261L)
    val media = spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(id => Row(id, Multimodal.PgmCodec.encode(16, 8, 255, pixels(id)))), 3), schema)
    val hashes = Multimodal.imageAHash(media, Multimodal.PgmCodec)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val plain = pairSet(Multimodal.imageNearDupPairs(hashes, maxHamming = 6))
    // guard present but never activating (no bucket over 10⁴) — identical
    val guardedLoose = pairSet(Multimodal.imageNearDupPairs(hashes, maxHamming = 6,
      maxBucketSize = Some(10000)))
    assert(guardedLoose === plain)
    // replica-heavy fixture: 20 copies of one image + one distinct pair
    // cluster; plain → C(20,2)=190 intra-cluster pairs, guarded(4) →
    // 19 star pairs (rep = min id), bounded LINEAR in cluster size
    val replicas = (1L to 20L).map(id => Row(id, Multimodal.PgmCodec.encode(16, 8, 255,
      pixels(5000L)))) ++ Seq(301L, 302L).map(id =>
      Row(id, Multimodal.PgmCodec.encode(16, 8, 255, pixels(7777L))))
    val rMedia = spark.createDataFrame(
      spark.sparkContext.parallelize(replicas, 3), schema)
    val rHashes = Multimodal.imageAHash(rMedia, Multimodal.PgmCodec)
    val rPlain = pairSet(Multimodal.imageNearDupPairs(rHashes, maxHamming = 6))
    assert(rPlain.count(p => p._1 <= 20 && p._2 <= 20) === 190)
    val rGuarded = pairSet(Multimodal.imageNearDupPairs(rHashes, maxHamming = 6,
      maxBucketSize = Some(4)))
    assert(rGuarded.count(p => p._1 <= 20 && p._2 <= 20) === 19)
    assert((2L to 20L).forall(k => rGuarded.contains((1L, k, 0)))) // stars off min id
    assert(rGuarded.contains((301L, 302L, 0))) // small cluster untouched
    // the star graph closes to the SAME components as the full cliques
    def comps(pairs: Set[(Long, Long, Int)]) = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        pairs.toSeq.map(p => Row(p._1, p._2)), 2), StructType(Seq(
        StructField("id1", LongType, nullable = false),
        StructField("id2", LongType, nullable = false))))
      graft.operators.Dedup.connectedComponents(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    assert(comps(rGuarded) === comps(rPlain))
    // --- audio tier: same contract through the fingerprint-wide guard ---
    def clipOf(id: Long) = Multimodal.WavCodec.encode(8000, 1,
      Array.tabulate[Short](160)(i => ((id * (i + 3)) % 256).toShort))
    val aRows = (1L to 12L).map(id => Row(id, clipOf(9000L))) ++
      (21L to 40L).map(id => Row(id, clipOf(id)))
    val aMedia = spark.createDataFrame(spark.sparkContext.parallelize(aRows, 3), schema)
    val aFps = Multimodal.audioFingerprint(aMedia, frames = 32)
    val aPlain = pairSet(Multimodal.audioNearDupPairs(aFps, frames = 32, maxHamming = 3))
    val aLoose = pairSet(Multimodal.audioNearDupPairs(aFps, frames = 32, maxHamming = 3,
      maxBucketSize = Some(10000)))
    assert(aLoose === aPlain)
    val aGuarded = pairSet(Multimodal.audioNearDupPairs(aFps, frames = 32, maxHamming = 3,
      maxBucketSize = Some(4)))
    assert(aGuarded.count(p => p._1 <= 12 && p._2 <= 12) === 11) // stars, not C(12,2)=66
    assert((2L to 12L).forall(k => aGuarded.contains((1L, k, 0))))
    assert(comps(aGuarded.filter(p => p._1 <= 12 && p._2 <= 12)) ===
      comps(aPlain.filter(p => p._1 <= 12 && p._2 <= 12)))
  }

  test("resampleAudio: nearest-frame pick, channels interleaved frame-wise, " +
      "identity at equal rates, null passthrough") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    def decode(r: Row) = Multimodal.WavCodec.decode(r.getAs[Array[Byte]](1)).get
    val mono = Array.tabulate[Short](160)(i => (i * 3 % 256).toShort)
    val wav = Multimodal.WavCodec.encode(8000, 1, mono)
    // identity: same target rate reproduces the samples bit-for-bit
    val same = decode(Multimodal.resampleAudio(df(Seq(Row(1L, wav))), 8000).head())
    assert(same.sampleRate === 8000 && same.samples.toSeq === mono.toSeq)
    // downsample 8000 -> 3000: 60 frames, frame j <- source floor(8j/3)
    val down = decode(Multimodal.resampleAudio(df(Seq(Row(1L, wav))), 3000).head())
    assert(down.sampleRate === 3000 && down.channels === 1)
    assert(down.samples.toSeq === (0 until 60).map(j => mono(8 * j / 3)))
    // upsample repeats frames (2x: each source frame twice)
    val up = decode(Multimodal.resampleAudio(df(Seq(Row(1L, wav))), 16000).head())
    assert(up.samples.toSeq === (0 until 320).map(j => mono(j / 2)))
    // stereo: frames move together (channel samples stay interleaved)
    val stereo = Multimodal.WavCodec.encode(8000, 2,
      Array.tabulate[Short](320)(i => (if (i % 2 == 0) i else 1000 + i).toShort))
    val st = decode(Multimodal.resampleAudio(df(Seq(Row(2L, stereo))), 4000).head())
    assert(st.channels === 2 && st.samples.length === 160)
    val src = Multimodal.WavCodec.decode(stereo).get.samples
    assert(st.samples.toSeq === (0 until 80).flatMap(j =>
      Seq(src(2 * (2 * j)), src(2 * (2 * j) + 1))))
    // undecodable passes through null (resizeImages rule)
    val bad = Multimodal.resampleAudio(
      df(Seq(Row(3L, "junk".getBytes("US-ASCII")))), 4000).head()
    assert(bad.isNullAt(1))
    intercept[IllegalArgumentException](
      Multimodal.resampleAudio(df(Seq.empty), 0))
  }

  test("media decode audits run unchanged under streaming micro-batches — " +
      "the audit tier is stream-safe (map-only, no state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // imageAudit is mapPartitions over a projection — a narrow, stateless
    // op Structured Streaming runs per micro-batch with no watermark or
    // state store; this pins that a crawl feed can be audited AS IT LANDS
    // (decode health + fingerprints), with the batch operator's exact
    // row semantics (undecodable → −1/null, never a failed batch)
    def px(id: Long) = Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1)) % 256).toByte)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val media = input.toDF.toDF("media_id", "content")
    assert(media.isStreaming)
    val q = Multimodal.imageAudit(media, Multimodal.AutoImageCodec)
      .writeStream.format("memory").queryName("media_audit_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, Multimodal.PngCodec.encode(16, 8, px(1L))),
        (2L, "garbage payload".getBytes("US-ASCII")))
      q.processAllAvailable()
      input.addData((3L, Multimodal.BmpCodec.encode(16, 8, px(3L))))
      q.processAllAvailable()
      val got = spark.table("media_audit_stream")
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(3), r.isNullAt(4)))).toMap
      val sum1 = px(1L).map(b => (b & 0xff).toLong).sum
      val sum3 = px(3L).map(b => (b & 0xff).toLong).sum
      assert(got(1L) === ((16, sum1, false)))
      assert(got(3L) === ((16, sum3, false))) // BMP sniffed mid-stream too
      assert(got(2L) === ((-1, -1L, true))) // bad asset degrades, batch survives
    } finally q.stop()
  }

  test("survivorsFromPairs: transitive closure keeps min id per cluster, " +
      "unpaired rows survive as singletons (VERDICT r12 next #2)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    def pixels(id: Long) = Array.tabulate[Byte](16 * 8)(i => ((id * (i + 1)) % 256).toByte)
    // three exact replicas of one image (2,7,9), two of another (3,8),
    // three distinct singletons (1,4,6)
    val img = Map(2L -> 100L, 7L -> 100L, 9L -> 100L, 3L -> 200L, 8L -> 200L,
      1L -> 1L, 4L -> 4L, 6L -> 6L)
    val media = spark.createDataFrame(spark.sparkContext.parallelize(
      img.toSeq.map { case (id, cls) =>
        Row(id, Multimodal.PgmCodec.encode(16, 8, 255, pixels(cls))) }, 2), schema)
    val hashes = Multimodal.imageAHash(media, Multimodal.PgmCodec)
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 0)
    val survivors = graft.operators.Dedup
      .survivorsFromPairs(media, "media_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 2L, 3L, 4L, 6L))
    // and through the guarded pair route: same survivors (stars close to
    // the same components)
    val gPairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 0,
      maxBucketSize = Some(2))
    val gSurvivors = graft.operators.Dedup
      .survivorsFromPairs(media, "media_id", gPairs)
      .collect().map(_.getLong(0)).toSet
    assert(gSurvivors === survivors)
  }
}
