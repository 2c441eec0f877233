package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Multimodal

/** Multimodal columns: REAL image decode/resize through Spark (JDK
  * ImageIO), stub-backed audio features and video frame fan-out — schema,
  * null/error capture, and distributed shape all exercised.
  */
class MultimodalSpec extends AnyFunSuite with SparkSessionFixture {

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaDf = {
    import spark.implicits._
    Seq(
      (1L, png(64, 48, 0xff0000)),
      (2L, png(16, 16, 0x00ff00)),
      (3L, Array[Byte](1, 2, 3, 4)) // not an image
    ).toDF("id", "content")
  }

  /** Patterned image so the aHash has structure (a flat fill hashes to 0,
    * which would make ALL flat images mutual "duplicates").
    */
  private def gradient(w: Int, h: Int, horizontal: Boolean,
      tweak: Option[(Int, Int)] = None, format: String = "png"): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach { x =>
      (0 until h).foreach { y =>
        val v = if (horizontal) x * 255 / (w - 1) else y * 255 / (h - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    tweak.foreach { case (tx, ty) => img.setRGB(tx, ty, 0x808080) }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  test("image dedup: re-encoded/perturbed copies pair up, distinct images don't") {
    import spark.implicits._
    val imgs = Seq(
      ("a", gradient(64, 64, horizontal = true)),
      ("a_jpeg", gradient(64, 64, horizontal = true, format = "jpg")),
      ("a_tweak", gradient(64, 64, horizontal = true, tweak = Some((3, 3)))),
      ("b_vert", gradient(64, 64, horizontal = false)),
      ("bad", "not an image".getBytes("UTF-8"))
    ).toDF("path", "content")
    val pairs = Multimodal.imageDedup(imgs, maxHamming = 6).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // the three 'a' variants form a near-dup clique; nothing pairs with the
    // vertical gradient and the undecodable row is dropped, not crashed on
    assert(pairs == Set(("a", "a_jpeg"), ("a", "a_tweak"), ("a_jpeg", "a_tweak")),
      s"got $pairs")
  }

  test("image dedup: a pile of flat images cannot go quadratic (hot-bucket cap)") {
    import spark.implicits._
    // flat fills all aHash to 0 (strict '>' vs mean) — the degenerate
    // value every band bucket shares; without the guard, n flat images
    // produce n(n-1)/2 phantom "duplicate" pairs
    def flat(v: Int): Array[Byte] = {
      val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
      (0 until 32).foreach(x => (0 until 32).foreach(y =>
        img.setRGB(x, y, (v << 16) | (v << 8) | v)))
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val flats = (0 until 40).map(i => (s"flat_$i", flat(64 + i)))
    val real = Seq(
      ("a", gradient(64, 64, horizontal = true)),
      ("a_jpeg", gradient(64, 64, horizontal = true, format = "jpg")))
    val imgs = (flats ++ real).toDF("path", "content")
    val pairs = Multimodal.imageDedup(imgs, maxHamming = 6, maxBucket = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // the 40-image degenerate bucket is dropped (no flat-flat phantom
    // pairs); the genuine near-dup pair still surfaces via its own buckets
    assert(pairs == Set(("a", "a_jpeg")), s"got ${pairs.size} pairs: ${pairs.take(5)}")
  }

  test("image cluster dedup: planted dup groups collapse to one representative") {
    import spark.implicits._
    // two planted groups — {a, a_jpeg, a_tweak} and {c, c_jpeg} — plus a
    // distinct singleton and an undecodable row
    val imgs = Seq(
      ("a", gradient(64, 64, horizontal = true)),
      ("a_jpeg", gradient(64, 64, horizontal = true, format = "jpg")),
      ("a_tweak", gradient(64, 64, horizontal = true, tweak = Some((3, 3)))),
      ("c", gradient(64, 64, horizontal = false)),
      ("c_jpeg", gradient(64, 64, horizontal = false, format = "jpg")),
      ("bad", "not an image".getBytes("UTF-8"))
    ).toDF("path", "content")
    val rows = Multimodal.imageDedupClusters(imgs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    // undecodable row dropped; each decodable image labeled exactly once
    assert(rows.map(_._1).sorted.toSeq ==
      Seq("a", "a_jpeg", "a_tweak", "c", "c_jpeg"))
    val rep = rows.map(r => r._1 -> r._2).toMap
    // each planted group collapses to ONE representative drawn from the
    // group itself — jpeg re-encode and pixel tweak land in the same
    // cluster even if only pairwise-linked through the original
    val aGroup = Set("a", "a_jpeg", "a_tweak")
    assert(aGroup.map(rep).size == 1 && aGroup.contains(rep("a")))
    val cGroup = Set("c", "c_jpeg")
    assert(cGroup.map(rep).size == 1 && cGroup.contains(rep("c")))
    assert(rep("a") != rep("c"), "distinct groups must not merge")
    // exactly one non-dup (the representative) per cluster
    rows.groupBy(_._2).values.foreach { members =>
      assert(members.count(!_._3) == 1)
      assert(members.filter(!_._3).head._1 == members.head._2)
    }
  }

  test("image aHash is luma-structured: transpose flips ~half the bits") {
    import spark.implicits._
    val df = Seq(
      ("h", gradient(64, 64, horizontal = true)),
      ("v", gradient(64, 64, horizontal = false))
    ).toDF("path", "content")
    val h = df.select(col("path"), Multimodal.imageAHash(col("content")).as("ah"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ham = java.lang.Long.bitCount(h("h") ^ h("v"))
    assert(ham >= 16, s"orthogonal gradients should differ widely, hamming=$ham")
  }

  test("image decode yields typed metadata; invalid bytes get error, not a crash") {
    val rows = Multimodal.withImageColumns(mediaDf)
      .select("id", "image_meta.format", "image_meta.width",
        "image_meta.height", "image_meta.error")
      .orderBy("id").collect()
    assert(rows(0).getString(1) == "png" && rows(0).getInt(2) == 64 && rows(0).getInt(3) == 48)
    assert(rows(1).getInt(2) == 16)
    assert(rows(2).isNullAt(1) && rows(2).getString(4).startsWith("decode:"))
  }

  test("resize produces a real decodable thumbnail of the target size") {
    val thumb = Multimodal.withImageColumns(mediaDf, thumbW = 8, thumbH = 8)
      .filter(col("id") === 1).select("thumbnail").collect()(0).getAs[Array[Byte]](0)
    val back = ImageIO.read(new java.io.ByteArrayInputStream(thumb))
    assert(back.getWidth == 8 && back.getHeight == 8)
    // resized solid-red image stays red
    assert((back.getRGB(4, 4) & 0xffffff) == 0xff0000)
  }

  test("invalid image resize yields null, row survives") {
    val rows = Multimodal.withImageColumns(mediaDf)
      .select("id", "thumbnail").orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(2).isNullAt(1))
  }

  test("batched (mapPartitions) decode matches the per-row UDF path") {
    import spark.implicits._
    val df = mediaDf.withColumn("path", concat(lit("f"), $"id"))
    val batched = Multimodal.decodeImageMetaBatched(df)
      .collect().map(r => (r.getString(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.isNullAt(4)))
      .sortBy(_._1)
    val perRow = Multimodal.withImageColumns(df)
      .select($"path", $"image_meta.format", $"image_meta.width",
        $"image_meta.height", $"image_meta.error")
      .collect().map(r => (r.getString(0),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.isNullAt(4)))
      .sortBy(_._1)
    assert(batched.toSeq == perRow.toSeq)
    // the invalid row survived with an error, in both paths
    assert(batched.count(!_._5) == 1)
  }

  test("image feature options: size + format plumb through the pipeline") {
    import graft.extract._
    // an extractor whose rendered page is a REAL 64x48 png
    val realImage = png(64, 48, 0x0000ff)
    object PngExtractor extends DocExtractor {
      override def pageCount(bytes: Array[Byte]): Int = StubExtractor.pageCount(bytes)
      override def pageText(bytes: Array[Byte], page: Int): String =
        StubExtractor.pageText(bytes, page)
      override def pageImage(bytes: Array[Byte], page: Int): Array[Byte] = realImage
      override def ocrText(bytes: Array[Byte], page: Int, lang: String): String = ""
    }
    val payload = (StubExtractor.Magic + "one page").getBytes("UTF-8")
    def extract(opts: ImageOptions) = {
      val tasks = Pipeline.fanout(
        Pipeline.fromTasks(spark, Seq(ExtractTask("d.doc", payload, None))), PngExtractor)
      Pipeline.extractFeatures(tasks,
        Features.select(Seq("image"), imageOpts = opts), PngExtractor)
        .collect().head.getAs[Array[Byte]]("image")
    }
    // no options: raw extractor bytes pass through untouched
    assert(extract(ImageOptions()).sameElements(realImage))
    // --image-size alone: resized, JPEG by default (upstream default)
    val sized = extract(ImageOptions.parse(Some("16x12"), None))
    val sizedImg = ImageIO.read(new java.io.ByteArrayInputStream(sized))
    assert(sizedImg.getWidth == 16 && sizedImg.getHeight == 12)
    assert(sized.length >= 2 && (sized(0) & 0xff) == 0xff && (sized(1) & 0xff) == 0xd8,
      "JPEG SOI magic expected for the default format")
    // --image-format png round-trips as png at the requested size
    val asPng = extract(ImageOptions.parse(Some("8x6"), Some("png")))
    val pngImg = ImageIO.read(new java.io.ByteArrayInputStream(asPng))
    assert(pngImg.getWidth == 8 && pngImg.getHeight == 6)
    assert((asPng(1) & 0xff) == 'P' && (asPng(2) & 0xff) == 'N',
      "PNG magic expected")
    // options + undecodable render (Stub bytes): captured error, not a crash
    val tasks = Pipeline.fanout(
      Pipeline.fromTasks(spark, Seq(ExtractTask("d.doc", payload, None))), StubExtractor)
    val row = Pipeline.extractFeatures(tasks,
      Features.select(Seq("image"), imageOpts = ImageOptions.parse(Some("8x6"), None)),
      StubExtractor).collect().head
    assert(row.isNullAt(row.fieldIndex("image")))
    assert(row.getString(row.fieldIndex("error")).startsWith("image: transcode:"))
  }

  test("transcode resizes and re-encodes; jpeg output decodes at target size") {
    val out = Multimodal.transcode(png(64, 48, 0x00ff00), Some((32, 24)), "jpeg")
    val back = ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(back.getWidth == 32 && back.getHeight == 24)
    intercept[IllegalArgumentException](
      Multimodal.transcode(Array[Byte](1, 2, 3), Some((8, 8)), "png"))
    intercept[IllegalArgumentException](
      Multimodal.transcode(png(8, 8, 0), None, "not-a-format"))
  }

  test("audio features: fixed length, deterministic, schema array<float>") {
    val df = Multimodal.withAudioFeatures(mediaDf, nCoeffs = 16)
    assert(df.schema("audio_features").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false))
    val a = df.orderBy("id").select("audio_features").collect().map(_.getSeq[Float](0))
    val b = df.orderBy("id").select("audio_features").collect().map(_.getSeq[Float](0))
    assert(a.forall(_.length == 16))
    assert(a.toSeq == b.toSeq) // deterministic
    assert(a(0) != a(1))       // payload-dependent
  }

  test("video frame sampling fans out one row per frame") {
    val rows = Multimodal.sampleVideoFrames(mediaDf.filter(col("id") === 1),
      everyNthMs = 1000, durationMs = 5000)
      .select("id", "frame_ts_ms", "frame_bytes").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(0L, 1000L, 2000L, 3000L, 4000L))
    assert(new String(rows.head.getAs[Array[Byte]](2), "UTF-8").startsWith("FRAME:"))
  }

  // ------------------------------------------------------ audio (real)

  /** Serialize 16-bit mono PCM samples as WAV (little-endian) or AIFF
    * (big-endian) through the JDK's own writers — the re-encode twin of
    * the png() helper.
    */
  private def audioBytes(samples: Array[Short],
      typ: javax.sound.sampled.AudioFileFormat.Type =
        javax.sound.sampled.AudioFileFormat.Type.WAVE,
      bigEndian: Boolean = false): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1,
      2, 8000f, bigEndian)
    val data = new Array[Byte](samples.length * 2)
    samples.indices.foreach { i =>
      val (b0, b1) = ((samples(i) & 0xff).toByte,
        ((samples(i) >> 8) & 0xff).toByte)
      if (bigEndian) { data(2 * i) = b1; data(2 * i + 1) = b0 }
      else { data(2 * i) = b0; data(2 * i + 1) = b1 }
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, typ, bos)
    bos.toByteArray
  }

  /** Deterministic structured signal: LCG noise under a stepped gain
    * envelope (period `section`), so frame energies carry structure the
    * fingerprint can hash (constant-gain audio hashes to 0 by design —
    * the flat-image posture).
    */
  private def signal(seed: Long, n: Int = 6400, section: Int = 300): Array[Short] = {
    var h = seed
    (0 until n).map { j =>
      h = h * 6364136223846793005L + 1442695040888963407L
      val noise = ((h >>> 48).toInt - 32768) / 4
      val gain = ((j / section) % 4) match {
        case 0 => 4; case 1 => 1; case 2 => 3; case _ => 0
      }
      (noise * gain / 4).toShort
    }.toArray
  }

  test("audio metadata decodes for real (JDK codecs); invalid bytes get " +
      "error, not a crash") {
    import spark.implicits._
    val df = Seq(
      (1L, audioBytes(signal(42L))),
      (2L, Array[Byte](9, 9, 9, 9))
    ).toDF("id", "content")
    val rows = Multimodal.withAudioColumns(df).orderBy("id")
      .select("audio_meta.*").collect()
    assert(rows(0).getAs[String]("encoding") == "pcm_signed")
    assert(rows(0).getAs[Float]("sample_rate") == 8000f)
    assert(rows(0).getAs[Int]("channels") == 1)
    assert(rows(0).getAs[Int]("bits") == 16)
    assert(rows(0).getAs[Long]("n_frames") == 6400L)
    assert(rows(0).getAs[Long]("duration_ms") == 800L)
    assert(rows(0).getAs[String]("error") == null)
    assert(rows(1).getAs[String]("error") != null)
  }

  test("audio fingerprint invariances: container/endianness re-encode is " +
      "bit-identical, amplitude tweak lands within hamming 6, different " +
      "content is far, silence hashes 0") {
    import spark.implicits._
    val a = signal(42L)
    val half = a.map(s => (s / 2).toShort)
    val b = signal(99L, section = 430)
    val df = Seq(
      ("a_wav", audioBytes(a)),
      ("a_aiff", audioBytes(a,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bigEndian = true)),
      ("a_half", audioBytes(half)),
      ("b_wav", audioBytes(b)),
      ("silence", audioBytes(new Array[Short](6400)))
    ).toDF("path", "content")
    val h = df.select(col("path"),
        Multimodal.audioAHash(col("content")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("a_wav") == h("a_aiff"),
      "same samples in a different container/endianness must hash identically")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(h("a_wav"), h("a_half")) <= 6,
      s"amplitude tweak drifted ${ham(h("a_wav"), h("a_half"))} bits")
    assert(ham(h("a_wav"), h("b_wav")) > 10,
      s"unrelated signals only ${ham(h("a_wav"), h("b_wav"))} bits apart")
    assert(h("silence") == 0L, "flat audio must hash 0 (hot-bucket posture)")
    assert(h("a_wav") != 0L, "structured signal must not be degenerate")
  }

  test("banded probe GUARANTEES the Hamming-6 radius: one flip per band " +
      "(the r14-advice blind spot) is caught, symmetric and cross-batch") {
    import spark.implicits._
    // Hamming 4 spread as ONE flip in EACH 16-bit band — no band
    // matches exactly, so the pre-multi-probe join missed this pair
    // despite every doc promising 'within Hamming 6'
    val h = 0x5A5A1234ABCD0F0FL
    val h4 = h ^ 0x0001000100010001L // bits 0, 16, 32, 48
    assert(java.lang.Long.bitCount(h ^ h4) == 4)
    val df = Seq(("a", h), ("b", h4)).toDF("med_id", "ahash")
    // the old exact-band join really is blind here (documents the hole)
    assert(graft.operators.BandedHamming
      .pairs(df, "med_id", "ahash").count() == 0)
    // multi-probe closes it
    val got = graft.operators.BandedHamming
      .pairs(df, "med_id", "ahash", multiProbe = true).collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      == Seq(("a", "b", 4)), got.toSeq.toString)
    // and a 4-flips-in-one-band pair still only surfaces when within
    // radius: Hamming 8 spread 2-per-band stays out (>= 2 flips in
    // every band is the documented miss boundary, and 8 > 6 anyway)
    val h8 = h ^ 0x0003000300030003L
    assert(graft.operators.BandedHamming
      .pairs(Seq(("a", h), ("c", h8)).toDF("med_id", "ahash"),
        "med_id", "ahash", multiProbe = true).count() == 0)

    // cross-batch: the stored corpus keeps exact postings; the batch
    // side multi-probes — a re-encode drifting 1 bit per band from a
    // STORED fingerprint must pair
    val idx = java.nio.file.Files.createTempDirectory("media_mp").toString
    Multimodal.mediaHashDelta(spark, idx,
      Seq(("orig", h)).toDF("med_id", "ahash"), "t1", "image")
    val pairs2 = Multimodal.mediaHashDelta(spark, idx,
      Seq(("reenc", h4)).toDF("med_id", "ahash"), "t2", "image")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getBoolean(3)))
    assert(pairs2.toSeq == Seq(("reenc", "orig", 4, true)), pairs2.toSeq)
  }

  test("audio fingerprint survives >2^27 full-scale samples (the Long " +
      "cross-multiply wrap)") {
    // ~56 min of mono 44.1 kHz at full scale: energy(f) * s.length
    // crosses Long.MaxValue (~9.2e18) right at 2^27 full-scale samples,
    // so the old all-Long comparison silently CLEARED every loud
    // frame's bit. Drive the extracted hash core directly — a ~280 MB
    // WAV through the UDF path proves nothing more per run.
    val n = ((1L << 27) * 1.1).toInt // safely past the wrap boundary
    val s = new Array[Int](n)
    java.util.Arrays.fill(s, 0, n / 2, 32767)
    java.util.Arrays.fill(s, n / 2, n, 1)
    val h = Multimodal.aHashOfSamples(s).longValue()
    // loud first half -> frames 0..31 above the global mean, quiet
    // second half below: exactly the low 32 bits
    assert(h == 0xFFFFFFFFL,
      f"long-audio hash corrupted: got 0x$h%016x, want 0x00000000ffffffff")
    // pin that this fixture genuinely exercises the wrap: the retired
    // Long-math comparison disagrees on it (frame 0's cross-multiply
    // goes negative), so a regression back to Long flips this spec red
    val frameLen = n / 64
    val loudFrameEnergy = 32767L * frameLen
    assert(loudFrameEnergy * n < 0,
      "fixture no longer overflows the Long cross-multiply — grow n")
  }

  test("audio dedup pairs planted duplicates, not strangers; undecodable " +
      "rows drop out") {
    import spark.implicits._
    val a = signal(42L)
    val df = Seq(
      ("a", audioBytes(a)),
      ("a_re", audioBytes(a,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bigEndian = true)),
      ("a_amp", audioBytes(a.map(s => (s / 2).toShort))),
      ("b", audioBytes(signal(99L, section = 430))),
      ("junk", Array[Byte](1, 2, 3))
    ).toDF("path", "content")
    val pairs = Multimodal.audioDedup(df)
      .select("audio_id1", "audio_id2").collect()
      .map(r => Set(r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(Set("a", "a_re"), Set("a", "a_amp"),
      Set("a_re", "a_amp")),
      s"got $pairs")
  }

  test("audio energy features are real frame energies: loud sections " +
      "over-index, re-encode reproduces them, undecodable is null") {
    import spark.implicits._
    // section 400 = exactly one 16-frame window each, so the stepped
    // gain envelope (incl. its silent step) maps 1:1 onto frames
    val a = signal(42L, section = 400)
    val df = Seq(
      ("a", audioBytes(a)),
      ("a_re", audioBytes(a,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bigEndian = true)),
      ("junk", Array[Byte](7))
    ).toDF("path", "content")
    val rows = Multimodal.withAudioColumns(df, nFrames = 16)
      .select(col("path"), col("audio_energy")).collect()
      .map(r => r.getString(0) ->
        Option(r.getSeq[Float](1)).map(_.toSeq)).toMap
    val e = rows("a").get
    assert(e.length == 16)
    // the gain envelope (4,1,3,0 per 300 samples) must show through:
    // some frames well above the corpus RMS, some near-silent below it
    assert(e.max > 1.2f && e.min < 0.4f, s"energy profile flat: $e")
    assert(rows("a_re").get == e, "re-encode must reproduce features")
    assert(rows("junk").isEmpty)
  }

  // ------------------------------------------- video (container-real)

  /** Minimal ISO-BMFF writer: nested boxes as (fourcc, payload). The
    * binary twin of png()/audioBytes() — a REAL mp4 header per the
    * public box layout, no codec involved.
    */
  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
    out.putInt(8 + body.length).put(typ.getBytes("ISO-8859-1")).put(body)
    out.array()
  }
  private def be32(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def tkhdV0(w: Int, h: Int): Array[Byte] =
    box("tkhd", new Array[Byte](4 + 72), be32(w.toLong << 16),
      be32(h.toLong << 16))
  private def mp4Bytes(timescale: Long, duration: Long,
      dims: Seq[(Int, Int)]): Array[Byte] = {
    val mvhd = box("mvhd", new Array[Byte](4 + 8), be32(timescale),
      be32(duration), new Array[Byte](80))
    val traks = dims.map { case (w, h) => box("trak", tkhdV0(w, h)) }
    box("ftyp", "isom".getBytes("ISO-8859-1"), be32(0x200)) ++
      box("moov", (mvhd +: traks): _*)
  }
  private def aviBytes(usPerFrame: Long, totalFrames: Long, streams: Int,
      w: Int, h: Int): Array[Byte] = {
    def le32(v: Long) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()
    "RIFF".getBytes("ISO-8859-1") ++ le32(200) ++
      "AVI LIST".getBytes("ISO-8859-1") ++ le32(160) ++
      "hdrlavih".getBytes("ISO-8859-1") ++ le32(56) ++
      le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(totalFrames) ++ le32(0) ++ le32(streams) ++ le32(0) ++
      le32(w) ++ le32(h) ++ new Array[Byte](16)
  }

  test("video metadata parses real mp4/avi container headers; junk gets " +
      "error, not a crash") {
    import spark.implicits._
    val df = Seq(
      // 7.5 s movie, one 640x360 video track + one dimension-less
      // (audio) track — dims must come from the video track
      ("m", mp4Bytes(1000, 7500, Seq((0, 0), (640, 360)))),
      ("a", aviBytes(40000, 250, 2, 320, 240)),
      ("junk", "not a movie at all".getBytes("UTF-8"))
    ).toDF("path", "content")
    val rows = Multimodal.withVideoColumns(df)
      .select(col("path"), col("video_meta.*")).collect()
      .map(r => r.getString(0) -> r).toMap
    val m = rows("m")
    assert(m.getString(1) == "mp4" && m.getString(2) == "isom")
    assert(m.getLong(3) == 7500L, "mvhd duration/timescale -> ms")
    assert(m.getInt(4) == 640 && m.getInt(5) == 360)
    assert(m.getInt(6) == 2 && m.getString(7) == null)
    val a = rows("a")
    assert(a.getString(1) == "avi")
    assert(a.getLong(3) == 10000L, "usPerFrame * frames -> ms")
    assert(a.getInt(4) == 320 && a.getInt(5) == 240 && a.getInt(6) == 2)
    assert(rows("junk").getString(7) != null)
  }

  test("video frame signature: a real image frame gets the perceptual " +
      "aHash, opaque bytes an exact hash, empty null") {
    import spark.implicits._
    val img = png(32, 32, 0x3366cc)
    val df = Seq(("img", img), ("blob", "opaque".getBytes("UTF-8")),
      ("empty", Array.empty[Byte])).toDF("path", "content")
    val sigs = df.select(col("path"),
        Multimodal.videoFrameSig(col("content")).as("s")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    val ahash = df.filter(col("path") === "img")
      .select(Multimodal.imageAHash(col("content"))).head.getLong(0)
    assert(sigs("img").contains(ahash),
      "decodable frame must collapse to the perceptual hash")
    assert(sigs("blob").isDefined && sigs("empty").isEmpty)
  }

  test("video dedup: clips pair by sampled-frame overlap; universal " +
      "title frames are defused by the hot-signature guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    // 1000-byte clips, 10 sampled frames of 100 bytes each; all four
    // share a 300-byte "title card", v1/v2 additionally share [300,800)
    val title = blob(300)
    val mid = blob(500)
    val clips = Seq(
      ("v1", title ++ mid ++ blob(200)),
      ("v2", title ++ mid ++ blob(200)),
      ("v3", title ++ blob(700)),
      ("v4", title ++ blob(700))).toDF("path", "content")
    def pairsAt(maxPerSig: Int, minJ: Double) =
      Multimodal.videoDedup(clips, everyNthMs = 500, durationMs = 5000,
          minJaccard = minJ, maxPerSig = maxPerSig)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // guard off: the title frames alone pair strangers at low thresholds
    assert(pairsAt(100, 0.15).contains(("v1", "v3")))
    // guard on (any sig in >2 of the 4 clips dropped): only the real
    // shared-content pair survives, at its pruned-overlap jaccard
    // 5/(10+10-5) = 0.33
    assert(pairsAt(2, 0.3) == Set(("v1", "v2")))
    val r = Multimodal.videoDedup(clips, everyNthMs = 500,
        durationMs = 5000, minJaccard = 0.3, maxPerSig = 2).collect().head
    assert(r.getLong(2) == 5L && math.abs(r.getDouble(3) - 5.0 / 15) < 1e-9)
  }

  /** Diagonal luma ramp — structurally distinct from both gradient
    * orientations at the 8×8 aHash scale.
    */
  private def diag(w: Int, h: Int,
      tweak: Option[(Int, Int)] = None): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach { x =>
      (0 until h).foreach { y =>
        val v = (x + y) * 255 / (w + h - 2)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    tweak.foreach { case (tx, ty) => img.setRGB(tx, ty, 0x808080) }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("persisted media index: cross-batch dup caught via the index only; " +
      "replay idempotent; as-of answers the historical snapshot") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_idx").toString
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getBoolean(3))).toSeq
      // batch 1: two distinct images — no pairs, hashes admitted
      val b1 = Seq(
        ("a", gradient(64, 64, horizontal = true)),
        ("b_vert", gradient(64, 64, horizontal = false)),
        ("junk", Array[Byte](1, 2, 3)) // undecodable: dropped, never paired
      ).toDF("path", "content")
      assert(Multimodal.imageDedupDelta(spark, idx, b1, "m1").isEmpty)
      // batch 2 does NOT carry a's content — the cross pair can only
      // come from the persisted hash; within-batch pair rides beside it
      val b2 = Seq(
        ("a_jpeg", gradient(64, 64, horizontal = true, format = "jpg")),
        ("c", diag(64, 64)),
        ("c_tweak", diag(64, 64, tweak = Some((3, 3))))
      ).toDF("path", "content")
      val out2 = rows(Multimodal.imageDedupDelta(spark, idx, b2, "m2"))
      assert(out2.filter(_._4) == Seq(("a_jpeg", "a", 0, true)),
        s"cross pairs: $out2")
      assert(out2.filterNot(_._4).map(t => (t._1, t._2)) ==
        Seq(("c", "c_tweak")), s"within pairs: $out2")
      // replay window: re-running a live tag reproduces bit-identically
      assert(rows(Multimodal.imageDedupDelta(spark, idx, b2, "m2")) == out2)
      assert(graft.operators.IndexStore.indexHistory(spark, idx) ==
        Seq("m1", "m2"))

      // index moves on; the as-of probe answers the m1 snapshot (a_jpeg
      // not yet admitted — only the cross pair with a exists there)
      val b3 = Seq(("a_tweak",
        gradient(64, 64, horizontal = true, tweak = Some((3, 3)))))
        .toDF("path", "content")
      val out3 = rows(Multimodal.imageDedupDelta(spark, idx, b3, "m3"))
      assert(out3.map(t => (t._1, t._2, t._4)).toSet ==
        Set(("a_tweak", "a", true), ("a_tweak", "a_jpeg", true)))
      val asOf1 = rows(Multimodal.imageDedupDeltaAsOf(spark, idx, b3, "m1"))
      assert(asOf1.map(t => (t._1, t._2, t._4)) ==
        Seq(("a_tweak", "a", true)),
        s"as-of m1 must not see m2's admissions: $asOf1")

      // kind pinning: an audio probe of an image index refuses loudly,
      // and the read-only refusal leaves the sidecar untouched
      intercept[IllegalArgumentException] {
        Multimodal.audioDedupDelta(spark, idx, b1, "x1")
      }
      assert(graft.operators.IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("kind=image"))

      // compaction: folded tags' replay windows close; fresh ingest
      // still sees the whole folded corpus; history resets to init
      Multimodal.compactMediaIndex(spark, idx)
      intercept[IllegalArgumentException] {
        Multimodal.imageDedupDelta(spark, idx, b2, "m2")
      }
      assert(graft.operators.IndexStore.indexHistory(spark, idx) == Seq("init"))
      val b4 = Seq(("a_again", gradient(64, 64, horizontal = true)))
        .toDF("path", "content")
      val out4 = rows(Multimodal.imageDedupDelta(spark, idx, b4, "m4"))
      assert(out4.map(_._2).toSet == Set("a", "a_jpeg", "a_tweak"),
        s"folded corpus must still answer: $out4")
      // the generic health view reads this index like any other family
      val info = graft.operators.IndexStore.indexInfo(spark, idx)
      assert(info.filter(col("section") === "data" &&
        col("component") === "hashes").count() >= 1)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("persisted audio index: re-encoded cross-batch dup lands at " +
      "hamming 0 through the stored fingerprint") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_audio").toString
    try {
      val a = signal(42L)
      val b1 = Seq(
        ("a", audioBytes(a)),
        ("b", audioBytes(signal(99L, section = 430)))
      ).toDF("path", "content")
      assert(Multimodal.audioDedupDelta(spark, idx, b1, "t1").isEmpty)
      // the re-encode arrives a batch later, in a different container
      val b2 = Seq(("a_re", audioBytes(a,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, bigEndian = true)))
        .toDF("path", "content")
      val out = Multimodal.audioDedupDelta(spark, idx, b2, "t2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      assert(out == Seq(("a_re", "a", 0)), s"got $out")
      intercept[IllegalArgumentException] {
        Multimodal.imageDedupDelta(spark, idx, b1, "x1")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("media cluster labels maintain incrementally: merging a batch's " +
      "pairs equals re-clustering the full pair union") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_ccd").toString
    try {
      val b1 = Seq(
        ("a", gradient(64, 64, horizontal = true)),
        ("a_jpeg", gradient(64, 64, horizontal = true, format = "jpg")),
        ("c", diag(64, 64))
      ).toDF("path", "content")
      val pairs1 = Multimodal.imageDedupDelta(spark, idx, b1, "m1")
        .localCheckpoint(true)
      val labels1 = Multimodal.mediaClusterLabels(pairs1)
      assert(labels1.collect().map(r => (r.getString(0), r.getString(1)))
        .toSet.map((t: (String, String)) => t._1) == Set("a", "a_jpeg"),
        "batch-1 clusters: the a-family only (c is in no pair)")

      // batch 2 grows the a-family THROUGH the persisted index (a's
      // bytes absent) and adds an unrelated singleton
      val b2 = Seq(
        ("a_tweak", gradient(64, 64, horizontal = true, tweak = Some((3, 3)))),
        ("d", diag(64, 64, tweak = Some((9, 9))))
      ).toDF("path", "content")
      val pairs2 = Multimodal.imageDedupDelta(spark, idx, b2, "m2")
        .localCheckpoint(true)
      val merged = Multimodal.mediaClusterDelta(labels1, pairs2)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
        .toSet
      // the exactness law on the string seam: merge == re-cluster the
      // full union of both batches' pairs
      val direct = Multimodal.mediaClusterLabels(
        pairs1.select("id1", "id2").unionByName(pairs2.select("id1", "id2")))
      assert(canon(merged) == canon(direct))
      // one three-member a-family, one representative, stable rule
      val aFam = merged.filter(col("rep_id").isin("a", "a_jpeg", "a_tweak"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(aFam.map(_._1).toSet == Set("a", "a_jpeg", "a_tweak"))
      assert(aFam.map(_._2).toSet.size == 1, s"one rep, got $aFam")
      // d paired with c? they differ by one pixel at the 8x8 hash scale
      // — whether they pair is a hash property, not under test here;
      // the law above already covers whatever pairs2 contains
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("media index crashed-first-contact window: an admit re-records " +
      "the kind, a read-only probe refuses") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_crash").toString
    try {
      // a first audio admit crashed after recording its kind and before
      // any data landed: sidecar present, hashes/ absent
      graft.operators.IndexStore.writeSidecar(spark, s"$idx/_params",
        "kind=audio")
      val b = Seq(("a", gradient(64, 64, horizontal = true)))
        .toDF("path", "content")
      // a read-only probe in the window validates, never re-records
      intercept[IllegalArgumentException] {
        Multimodal.imageDedupDeltaAsOf(spark, idx, b, "t0")
      }
      assert(graft.operators.IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("kind=audio"))
      // but a legitimate first ADMIT with a different kind re-records
      // and proceeds — the path is not wedged (r14 review catch: the
      // probe-before-append ordering inside the delta must not refuse)
      assert(Multimodal.imageDedupDelta(spark, idx, b, "t0").isEmpty)
      assert(graft.operators.IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("kind=image"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("persisted video index: cross-batch overlap caught via stored " +
      "frame sets only; replay idempotent; as-of answers the snapshot; " +
      "cadence pinned; compaction closes replay windows") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("video_idx").toString
    try {
      val rnd = new scala.util.Random(11)
      def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6), r.getBoolean(4))).toSeq
      // 1000-byte clips, 10 sampled frames of 100 bytes each (stub
      // decoder); v-family shares title [0,300) + mid [300,800) =
      // frames 0-7 → overlap 8, jaccard 8/12
      val title = blob(300); val mid = blob(500)
      def v(tail: Array[Byte]) = title ++ mid ++ tail
      val b1 = Seq(("v1", v(blob(200))), ("u", blob(1000)))
        .toDF("path", "content")
      assert(Multimodal.videoDedupDelta(spark, idx, b1, "t1",
        everyNthMs = 500, durationMs = 5000).isEmpty)
      // batch 2 does NOT carry v1's bytes — the cross pair can only
      // come from the persisted frame sets; an identical within-batch
      // pair rides beside it at jaccard 1
      val w = blob(1000)
      val b2 = Seq(("v2", v(blob(200))), ("w1", w), ("w2", w))
        .toDF("path", "content")
      val out2 = rows(Multimodal.videoDedupDelta(spark, idx, b2, "t2",
        everyNthMs = 500, durationMs = 5000))
      assert(out2.filter(_._5) ==
        Seq(("v2", "v1", 8L, math.round(8.0 / 12 * 1e6), true)),
        s"cross pairs: $out2")
      assert(out2.filterNot(_._5) ==
        Seq(("w1", "w2", 10L, 1000000L, false)), s"within pairs: $out2")
      // replay window: re-running a live tag reproduces bit-identically
      assert(rows(Multimodal.videoDedupDelta(spark, idx, b2, "t2",
        everyNthMs = 500, durationMs = 5000)) == out2)
      assert(graft.operators.IndexStore.indexHistory(spark, idx) ==
        Seq("t1", "t2"))

      // index moves on; the as-of probe answers the t1 snapshot (v2
      // not yet admitted — only the pair with v1 exists there)
      val b3 = Seq(("v3", v(blob(200)))).toDF("path", "content")
      val out3 = rows(Multimodal.videoDedupDelta(spark, idx, b3, "t3",
        everyNthMs = 500, durationMs = 5000))
      assert(out3.map(t => (t._1, t._2)).toSet ==
        Set(("v3", "v1"), ("v3", "v2")), s"live: $out3")
      val asOf1 = rows(Multimodal.videoDedupDeltaAsOf(spark, idx, b3, "t1",
        everyNthMs = 500, durationMs = 5000))
      assert(asOf1.map(t => (t._1, t._2)) == Seq(("v3", "v1")),
        s"as-of t1 must not see t2's admissions: $asOf1")

      // cadence pinning: a probe sampled on a different grid refuses
      // loudly, and the read-only refusal leaves the sidecar untouched
      intercept[IllegalArgumentException] {
        Multimodal.videoDedupDeltaAsOf(spark, idx, b3, "t1",
          everyNthMs = 250, durationMs = 5000)
      }
      assert(graft.operators.IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("kind=video,everyNthMs=500,durationMs=5000"))

      // compaction: folded tags' replay windows close; fresh ingest
      // still sees the whole folded corpus; history resets to init
      Multimodal.compactVideoIndex(spark, idx)
      intercept[IllegalArgumentException] {
        Multimodal.videoDedupDelta(spark, idx, b2, "t2",
          everyNthMs = 500, durationMs = 5000)
      }
      assert(graft.operators.IndexStore.indexHistory(spark, idx) == Seq("init"))
      val b4 = Seq(("v_again", v(blob(200)))).toDF("path", "content")
      val out4 = rows(Multimodal.videoDedupDelta(spark, idx, b4, "t4",
        everyNthMs = 500, durationMs = 5000))
      assert(out4.map(_._2).toSet == Set("v1", "v2", "v3"),
        s"folded corpus must still answer: $out4")
      // the generic health view reads this index like any other family
      val info = graft.operators.IndexStore.indexInfo(spark, idx)
      assert(info.filter(col("section") === "data" &&
        col("component") === "frames").count() >= 1)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("video index hot-signature guard counts across batches: a title " +
      "card that went universal in PAST batches is defused for new ones") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("video_hot").toString
    try {
      val rnd = new scala.util.Random(13)
      def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
      // all clips share only a 300-byte title card (frames 0-2);
      // overlap 3 → jaccard 3/17 ≈ 0.176
      val title = blob(300)
      def clip = title ++ blob(700)
      val b1 = Seq(("s1", clip), ("s2", clip ++ Array.empty[Byte]))
        .toDF("path", "content")
      // title is in 2 videos — not yet hot at maxPerSig = 2: the
      // within-batch pair lands at its true low jaccard
      val out1 = Multimodal.videoDedupDelta(spark, idx, b1, "h1",
          everyNthMs = 500, durationMs = 5000, minJaccard = 0.15,
          maxPerSig = 2)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(out1 == Set(("s1", "s2")), s"got $out1")
      // batch 2: the title now spans 3 videos (2 stored + 1 new) —
      // the union count crosses maxPerSig and the guard defuses it,
      // so the stranger pairs with NOTHING despite the shared card
      val b2 = Seq(("s3", clip)).toDF("path", "content")
      assert(Multimodal.videoDedupDelta(spark, idx, b2, "h2",
        everyNthMs = 500, durationMs = 5000, minJaccard = 0.15,
        maxPerSig = 2).isEmpty)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("media index re-admission: an id stored under two tags neither " +
      "self-pairs nor emits duplicate pair rows against later batches") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_readm").toString
    try {
      val b1 = Seq(("a", gradient(64, 64, horizontal = true)))
        .toDF("path", "content")
      assert(Multimodal.imageDedupDelta(spark, idx, b1, "r1").isEmpty)
      // same id, same content, second tag: its stored fingerprint is
      // its own — no self-pair
      assert(Multimodal.imageDedupDelta(spark, idx, b1, "r2").isEmpty,
        "a re-admitted id must not report itself as its duplicate")
      // a's hash now lives under BOTH r1 and r2; a later near-dup must
      // pair with it ONCE, not once per stored tag
      val bx = Seq(("x", gradient(64, 64, horizontal = true,
        tweak = Some((3, 3))))).toDF("path", "content")
      val out = Multimodal.imageDedupDelta(spark, idx, bx, "r3")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(out == Seq(("x", "a")),
        s"twice-stored fingerprint must pair once: $out")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("media/video share one _params root: a video probe of a live " +
      "image index refuses loudly instead of silently re-pinning") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_kinds").toString
    try {
      val b = Seq(("a", gradient(64, 64, horizontal = true)))
        .toDF("path", "content")
      assert(Multimodal.imageDedupDelta(spark, idx, b, "r1").isEmpty)
      // frames/ is absent — the crashed-first-contact window must NOT
      // treat that as first contact while the sibling hashes/ holds a
      // live image index (an ADMIT here would overwrite kind=image)
      intercept[IllegalArgumentException] {
        Multimodal.videoDedupDelta(spark, idx, b, "v1")
      }
      assert(graft.operators.IndexStore.readSidecar(spark, s"$idx/_params")
        .contains("kind=image"), "the image pin must survive")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("media index different-hash re-admission: the pair collapses to " +
      "one row at the best stored hamming") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("media_2hash").toString
    try {
      def hashed(rows: (String, Long)*) = rows.toSeq.toDF("med_id", "ahash")
      val h1 = 0x0123456789ABCDEFL
      assert(Multimodal.mediaHashDelta(spark, idx,
        hashed("a" -> h1), "r1", "image").isEmpty)
      // the same id re-admitted with UPDATED content one bit away
      assert(Multimodal.mediaHashDelta(spark, idx,
        hashed("a" -> (h1 ^ 1L)), "r2", "image").isEmpty,
        "no self-pair on the content update")
      // a probe within range of BOTH stored hashes must pair ONCE, at
      // the best (minimum) hamming — not once per stored fingerprint
      val out = Multimodal.mediaHashDelta(spark, idx,
          hashed("x" -> h1), "r3", "image")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
          r.getBoolean(3))).toSeq
      assert(out == Seq(("x", "a", 0, true)), s"got $out")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("video index union-overlap bound: a different-content re-admit " +
      "cannot push jaccard past 1") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("video_union").toString
    try {
      def frames(id: String, sigs: Range) = sigs
        .map(s => (id, s.toLong, sigs.length.toLong))
        .toDF("video_id", "frame_sig", "n_frames")
      // v1 admitted with sigs 1-10, then re-admitted (content update)
      // with sigs 6-15: its stored UNION is 15 sigs, each admit 10
      Multimodal.appendVideoIndex(spark, idx, frames("v1", 1 to 10),
        "r1", 500, 5000)
      Multimodal.appendVideoIndex(spark, idx, frames("v1", 6 to 15),
        "r2", 500, 5000)
      // probe x with 12 sigs, all inside the union: overlap 12 against
      // a max-single-admit denominator of 10 read jaccard 1.2 before
      // the greatest(n, overlap) bound; now it caps at exactly 1
      val out = Multimodal.videoFrameProbe(spark, idx,
          frames("x", 1 to 12), "p1", 500, 5000, minJaccard = 0.5)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(out == Seq(("x", "v1", 12L, 1.0)), s"got $out")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }

  test("video index re-admission: an id stored under two tags neither " +
      "self-pairs nor double-counts overlap against later batches") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("video_reads").toString
    try {
      val rnd = new scala.util.Random(17)
      def blob(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
      val shared = blob(500) // frames 0-4 of a 1000-byte / 10-frame clip
      val v1 = shared ++ blob(500)
      val b1 = Seq(("v1", v1)).toDF("path", "content")
      assert(Multimodal.videoDedupDelta(spark, idx, b1, "r1",
        everyNthMs = 500, durationMs = 5000).isEmpty)
      // the same id re-ingested under a SECOND tag: its stored frames
      // are its own — no self-pair, despite jaccard 1 against itself
      assert(Multimodal.videoDedupDelta(spark, idx, b1, "r2",
        everyNthMs = 500, durationMs = 5000).isEmpty,
        "a re-admitted id must not report itself as its duplicate")
      // v1's frames now live under BOTH r1 and r2; a probe sharing 5
      // true frames must see overlap 5 (jaccard 5/15), not 10 (1.0)
      val bx = Seq(("x", shared ++ blob(500))).toDF("path", "content")
      val out = Multimodal.videoDedupDelta(spark, idx, bx, "r3",
          everyNthMs = 500, durationMs = 5000, minJaccard = 0.3)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6))).toSeq
      assert(out == Seq(("x", "v1", 5L, math.round(5.0 / 15 * 1e6))),
        s"twice-stored frames must count once: $out")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(idx))
  }
}
