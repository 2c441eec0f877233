package graft.extract

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal
import graft.operators.{IndexStore, Materialize}

/** Multimodal columns (north-star §2.D): images/audio/video ride beside
  * text as opaque `binary` columns with typed metadata structs; per-row
  * media ops are narrow transformations (no shuffle), so a 100 TB media
  * corpus is just more input partitions.
  *
  * Image decode/resize are REAL (JDK ImageIO — PNG/JPEG/BMP/GIF, works
  * offline); audio decode/fingerprint/features are REAL for the JDK's
  * own codecs (WAV/AIFF/AU PCM + µ-law/a-law, `javax.sound.sampled`);
  * video metadata is REAL at the container level (MP4 ISO-BMFF boxes,
  * AVI RIFF header — public binary layouts, no codec needed). Only
  * compressed-audio feature extraction and video frame DECODE need a
  * native library, and stay behind the [[AudioDecoder]]/[[VideoDecoder]]
  * traits as deterministic stubs — a production deployment binds
  * javacv/ffmpeg there; the Spark-side schema/partitioning/batch shape
  * is real and tested (MultimodalSpec).
  */
object Multimodal {

  val imageMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("error", StringType)))

  /** Decode image header → typed metadata struct. Invalid bytes yield a
    * metadata row with `error` set — never a failed job (the pdf2dataset
    * error-column rule applied to media).
    */
  val decodeImageMeta: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Row] {
      override def call(bytes: Array[Byte]): Row =
        try {
          val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
          val readers = ImageIO.getImageReaders(in)
          if (!readers.hasNext) Row(null, null, null, "decode: unknown format")
          else {
            val r = readers.next()
            r.setInput(in)
            val row = Row(r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0), null)
            r.dispose()
            row
          }
        } catch {
          // NonFatal only: the never-fail contract covers decode errors,
          // not OOM/interrupt — those must still fail the task
          case NonFatal(e) => Row(null, null, null, s"decode: ${e.getMessage}")
        }
    }, imageMetaType)

  /** Decode → optional bilinear resize → re-encode in `format` ("jpeg",
    * "png", "bmp", "gif" — whatever ImageIO writes). THROWS on
    * undecodable input or unknown target format, so pipeline callers
    * capture the failure in their error column (the pdf2dataset rule);
    * UDF wrappers that want null-on-error catch at their layer.
    */
  def transcode(bytes: Array[Byte], size: Option[(Int, Int)],
      format: String): Array[Byte] = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null)
      throw new IllegalArgumentException("transcode: not a decodable image")
    val (w, h) = size.getOrElse((img.getWidth, img.getHeight))
    // TYPE_INT_RGB (no alpha): the JPEG encoder rejects ARGB rasters
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    val bos = new ByteArrayOutputStream()
    if (!ImageIO.write(out, format, bos))
      throw new IllegalArgumentException(s"transcode: no encoder for format '$format'")
    bos.toByteArray
  }

  /** Real image resize (bilinear) → `format` bytes (PNG default); null on
    * undecodable input.
    */
  def resizeImage(w: Int, h: Int, format: String = "png")
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Array[Byte]] {
      override def call(bytes: Array[Byte]): Array[Byte] =
        try transcode(bytes, Some((w, h)), format)
        catch { case NonFatal(_) => null }
    }, BinaryType)

  /** Offline stand-in for an audio feature extractor (e.g. MFCC): a
    * production binding would decode PCM and window it; the stub derives a
    * deterministic fixed-length feature vector from the payload so the
    * schema (array<float>) and distributed shape are exercised end-to-end.
    */
  trait AudioDecoder extends Serializable {
    def features(bytes: Array[Byte], nCoeffs: Int): Array[Float]
  }

  object StubAudioDecoder extends AudioDecoder {
    override def features(bytes: Array[Byte], nCoeffs: Int): Array[Float] = {
      val out = new Array[Float](nCoeffs)
      var h = 1125899906842597L // FNV-ish deterministic mix of the payload
      bytes.foreach(b => h = h * 31 + b)
      (0 until nCoeffs).foreach { i =>
        h = h * 6364136223846793005L + 1442695040888963407L
        out(i) = (h >>> 40).toFloat / (1 << 24)
      }
      out
    }
  }

  /** Offline stand-in for video frame sampling: a production binding
    * returns one JPEG per sampled timestamp; the stub emits deterministic
    * per-frame byte payloads. The fan-out (one row per sampled frame) is
    * the real, tested part — it is the same explode shape as the page
    * fan-out.
    */
  trait VideoDecoder extends Serializable {
    def sampleFrames(bytes: Array[Byte], everyNthMs: Long, durationMs: Long): Seq[(Long, Array[Byte])]
  }

  /** FNV-1a 64 over a byte range — the one hash both the stub decoder's
    * frame payloads and [[videoFrameSig]]'s opaque-bytes fallback use;
    * sharing it is load-bearing, since videoDedup's overlap semantics
    * rest on the two sites agreeing on frame identity.
    */
  private def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = from
    while (j < until) {
      h ^= (bytes(j) & 0xffL); h *= 0x100000001b3L; j += 1
    }
    h
  }

  /** Deterministic fake frames: frame i carries an FNV-64 of the byte
    * slice covering its share of the content, so two stub "videos"
    * share a frame exactly when that stretch of their bytes is
    * identical — equal content dedups regardless of container identity,
    * and a corpus of same-length clips differing in a suffix shares
    * exactly the prefix frames (what lets [[videoDedup]]'s
    * partial-overlap semantics be pinned without a codec).
    */
  object StubVideoDecoder extends VideoDecoder {
    override def sampleFrames(bytes: Array[Byte], everyNthMs: Long,
        durationMs: Long): Seq[(Long, Array[Byte])] = {
      val stamps = (0L until durationMs by everyNthMs).toVector
      val n = stamps.length
      stamps.zipWithIndex.map { case (ts, i) =>
        val from = (bytes.length.toLong * i / n).toInt
        val to = (bytes.length.toLong * (i + 1) / n).toInt
        val h = fnv64(bytes, from, to)
        ts -> s"FRAME:$ts:${java.lang.Long.toHexString(h)}".getBytes("UTF-8")
      }
    }
  }

  /** Attach decoded image metadata + a resized thumbnail to a DataFrame
    * with a binary `content` column.
    */
  def withImageColumns(df: DataFrame, contentCol: String = "content",
      thumbW: Int = 32, thumbH: Int = 32): DataFrame =
    df.withColumn("image_meta", decodeImageMeta(col(contentCol)))
      .withColumn("thumbnail", resizeImage(thumbW, thumbH)(col(contentCol)))

  /** Audio feature column (stub-backed; see [[AudioDecoder]]). */
  def withAudioFeatures(df: DataFrame, decoder: AudioDecoder = StubAudioDecoder,
      contentCol: String = "content", nCoeffs: Int = 16): DataFrame = {
    val f = udf((bytes: Array[Byte]) => decoder.features(bytes, nCoeffs))
    df.withColumn("audio_features", f(col(contentCol)))
  }

  /** Partition-batched decode — the Scala analog of Python's
    * `mapInPandas`: the decoder is initialized ONCE per partition (not
    * per row, which matters when the production binding loads a native
    * codec or model), then streamed over the partition's rows. Input
    * (path, content) → output (path, format, width, height, error);
    * per-row failures land in `error`, never fail the task.
    */
  def decodeImageMetaBatched(df: DataFrame, contentCol: String = "content",
      pathCol: String = "path"): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("error", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.select(col(pathCol), col(contentCol)).mapPartitions { it =>
      // per-partition init happens HERE (codec/model load in production)
      it.map { r =>
        val path = r.getString(0)
        val bytes = r.getAs[Array[Byte]](1)
        try {
          val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
          val readers = ImageIO.getImageReaders(in)
          if (!readers.hasNext) Row(path, null, null, null, "decode: unknown format")
          else {
            val reader = readers.next()
            reader.setInput(in)
            val row = Row(path, reader.getFormatName,
              reader.getWidth(0), reader.getHeight(0), null)
            reader.dispose()
            row
          }
        } catch {
          case NonFatal(e) => Row(path, null, null, null, s"decode: ${e.getMessage}")
        }
      }
    }(enc)
  }

  /** Perceptual average-hash (aHash) of an image: decode (real ImageIO),
    * bilinear-downsample to 8×8, luma = (299r + 587g + 114b)/1000 in
    * exact integer math, bit i set iff pixel i's luma > the 64-pixel
    * mean. Near-duplicate images (re-encodes, small edits, format
    * changes) land within a few bits; unrelated images differ in ~32.
    * Returns null (not a throw) on undecodable bytes — the media leaf
    * rule. This is the only non-relational step of [[imageDedup]].
    */
  /** 8×8 luma aHash of a decoded image — shared by [[imageAHash]] and
    * the video frame signature.
    */
  private def aHashOf(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, 8, 8, null)
    g.dispose()
    val luma = new Array[Long](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      luma(i) = (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)) / 1000L
      sum += luma(i)
      i += 1
    }
    var h = 0L
    i = 0
    while (i < 64) { // strict '>' vs mean*64 keeps it all-integer
      if (luma(i) * 64L > sum) h |= (1L << i)
      i += 1
    }
    h
  }

  def imageAHash: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], java.lang.Long] {
      override def call(bytes: Array[Byte]): java.lang.Long =
        try {
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          if (img == null) null
          else java.lang.Long.valueOf(aHashOf(img))
        } catch { case NonFatal(_) => null }
    }, LongType)

  /** Image near-duplicate pairs over a (`idCol`, binary `contentCol`)
    * frame: aHash per image (the only decode pass — one narrow map over
    * the corpus), then the SAME banded candidate plan as text SimHash
    * dedup — 4×16-bit bands of the 64-bit hash, pairs meet only in a
    * shared band bucket (shuffle by (band, value), never all-pairs),
    * Hamming ≤ `maxHamming` verified by bit_count on candidates only.
    * Undecodable rows drop out before banding instead of poisoning a
    * bucket with null values. Degenerate hashes — flat/low-contrast
    * images all aHash to 0 (strict '>' vs the mean), so every such image
    * shares every band bucket — are defused by BandedHamming's hot-bucket
    * guard: any (band, value) bucket holding more than `maxBucket` rows
    * is dropped with a warning rather than going quadratic.
    */
  def imageDedup(df: DataFrame, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    val hashed = df
      .select(col(idCol).as("img_id"), imageAHash(col(contentCol)).as("ahash"))
      .filter(col("ahash").isNotNull)
    graft.operators.BandedHamming
      .pairs(hashed, "img_id", "ahash", bands = 4, maxHamming = maxHamming,
        maxBucket = maxBucket, multiProbe = true)
  }

  /** Cluster labels over [[imageDedup]]'s verified near-dup pairs —
    * image parity with the text path
    * ([[graft.queries.VectorOps.dedupClusterLsh]]): every decodable
    * image gets (img_id, rep_id, is_dup), so a group of mutual
    * near-dups (re-encodes, pixel tweaks, format changes) collapses to
    * ONE representative instead of a bag of pairwise edges.
    *
    * [[graft.operators.ConnectedComponents]] iterates over Long node
    * ids (its convergence check sums labels), so string ids are mapped
    * through xxhash64 — deterministic across runs, and injectivity over
    * THIS corpus is asserted with one cheap aggregate (p(any collision)
    * ≈ n²/2⁶⁴; a silent collision would wrongly merge two clusters, so
    * it fails loudly instead). The representative is the member with
    * the minimum id hash — arbitrary but stable; resolve a
    * domain-preferred keeper downstream (the [[graft.queries.TextOps
    * .dedupKeepBest]] pattern) if representative choice matters.
    * The hash pass is materialized once (an eager cut): decode
    * is the expensive step on a media corpus, and it feeds the pair
    * join, the id map and the iterative CC rounds.
    */
  def imageDedupClusters(df: DataFrame, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    val hashed = Materialize.cut(df
      .select(col(idCol).as("img_id"), imageAHash(col(contentCol)).as("ahash"))
      .filter(col("ahash").isNotNull))
    val ids = hashed.select(col("img_id"), xxhash64(col("img_id")).as("nid"))
    val collided = ids.groupBy(col("nid"))
      .agg(countDistinct(col("img_id")).as("c"))
      .filter(col("c") > 1).limit(1).count()
    require(collided == 0L,
      "imageDedupClusters: xxhash64(img_id) collision — two distinct ids share " +
        "a 64-bit hash on this corpus; disambiguate the id column")
    val pairs = graft.operators.BandedHamming
      .pairs(hashed, "img_id", "ahash", bands = 4, maxHamming = maxHamming,
        maxBucket = maxBucket, multiProbe = true)
    val edges = pairs
      .join(ids.select(col("img_id").as("id1"), col("nid").as("src")), "id1")
      .join(ids.select(col("img_id").as("id2"), col("nid").as("dst")), "id2")
      .select(col("src"), col("dst"))
    // iterate ONLY the near-dup subgraph (the text-path posture):
    // runOnPairs checkpoints the banded pair join once (it would
    // otherwise re-execute for the node scan and every CC round) and
    // images in no pair keep rep = self via the left join, never
    // entering the rounds — per-round shuffles scale with
    // |dup candidates|, not |corpus|
    val labels = graft.operators.ConnectedComponents.runOnPairs(edges)
    val repNames = ids.select(col("nid").as("rep_nid"), col("img_id").as("rep_id"))
    ids.join(labels, col("nid") === col("id"), "left")
      .withColumn("rep_n", coalesce(col("rep"), col("nid")))
      .join(repNames, col("rep_n") === col("rep_nid"))
      .select(col("img_id"), col("rep_id"),
        (col("img_id") =!= col("rep_id")).as("is_dup"))
  }

  /** Frame-sample fan-out: one row per sampled frame (ts_ms, frame). */
  def sampleVideoFrames(df: DataFrame, decoder: VideoDecoder = StubVideoDecoder,
      contentCol: String = "content", everyNthMs: Long = 1000,
      durationMs: Long = 5000): DataFrame = {
    val f = udf((bytes: Array[Byte]) =>
      decoder.sampleFrames(bytes, everyNthMs, durationMs))
    df.withColumn("frame", explode(f(col(contentCol))))
      .withColumn("frame_ts_ms", col("frame._1"))
      .withColumn("frame_bytes", col("frame._2"))
      .drop("frame")
  }

  // ------------------------------------------------------ audio (real)

  /** Audio decode is REAL for the formats the JDK ships codecs for
    * (WAV/AIFF/AU carrying PCM, plus µ-law/a-law via the built-in
    * converters — `javax.sound.sampled`, works offline); compressed
    * formats (MP3/Opus/…) still need the [[AudioDecoder]] binding.
    * The r13 additions follow the image discipline exactly: typed
    * metadata with an error column (never a failed job), a 64-bit
    * perceptual fingerprint, and banded near-dup over it.
    */
  val audioMetaType: StructType = StructType(Seq(
    StructField("encoding", StringType),
    StructField("sample_rate", FloatType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_ms", LongType),
    StructField("error", StringType)))

  /** Decode audio header → typed metadata struct; undecodable bytes set
    * `error` — the media-leaf never-fail rule.
    */
  val decodeAudioMeta: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Row] {
      override def call(bytes: Array[Byte]): Row =
        try {
          val aff = javax.sound.sampled.AudioSystem
            .getAudioFileFormat(new ByteArrayInputStream(bytes))
          val f = aff.getFormat
          val frames = aff.getFrameLength.toLong
          val durMs =
            if (frames >= 0 && f.getFrameRate > 0)
              (frames * 1000L / f.getFrameRate.toLong)
            else -1L
          Row(f.getEncoding.toString.toLowerCase, f.getSampleRate,
            f.getChannels, f.getSampleSizeInBits, frames, durMs, null)
        } catch {
          case NonFatal(e) =>
            Row(null, null, null, null, null, null, s"decode: ${e.getMessage}")
        }
    }, audioMetaType)

  /** Decode audio bytes to channel-mixed 16-bit PCM samples (JDK codec
    * chain: non-PCM encodings the JDK can convert — µ-law/a-law — are
    * routed through PCM_SIGNED 16-bit first). Throws on undecodable
    * input; callers own the null-vs-error policy.
    */
  private def monoSamples(bytes: Array[Byte]): Array[Int] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val raw = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val f0 = raw.getFormat
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      f0.getSampleRate, 16, f0.getChannels, f0.getChannels * 2,
      f0.getSampleRate, false)
    val in =
      if (f0.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
          f0.getSampleSizeInBits == 16) raw
      else AudioSystem.getAudioInputStream(target, raw)
    val fmt = in.getFormat
    val data = in.readAllBytes()
    val ch = fmt.getChannels
    val big = fmt.isBigEndian
    val n = data.length / (2 * ch)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var acc = 0
      var c = 0
      while (c < ch) {
        val o = (i * ch + c) * 2
        val s =
          if (big) ((data(o) << 8) | (data(o + 1) & 0xff)).toShort
          else ((data(o + 1) << 8) | (data(o) & 0xff)).toShort
        acc += s
        c += 1
      }
      out(i) = acc / ch
      i += 1
    }
    out
  }

  /** Perceptual frame-energy hash of an audio payload — the aHash
    * discipline applied to sound: decode to mono 16-bit PCM (real JDK
    * codecs), split into 64 equal frames, per-frame energy = Σ|sample|
    * in exact Long math, bit i set iff frame i's energy × 64 > total
    * energy (strict '>' vs the mean, all-integer — the image rule).
    * Invariances by construction: re-encode/container change (same
    * samples ⇒ same bits), uniform amplitude scaling (energies and
    * their mean scale together ⇒ the comparisons are unchanged up to
    * rounding), small local edits (a few frames flip ⇒ few bits).
    * Degenerate inputs — silence or constant-energy tones — hash to 0
    * exactly like flat images, and the SAME hot-bucket guard defuses
    * them downstream. Null (not a throw) on undecodable bytes.
    */
  /** The hash core over decoded mono samples — split out so the
    * long-duration overflow spec can drive it with a synthetic >2^27-
    * sample stream directly (a ~256 MB WAV through the UDF path proves
    * nothing more and costs a heap spike per test run).
    */
  private[graft] def aHashOfSamples(s: Array[Int]): java.lang.Long =
    if (s.length < 64) null
    else {
      val energy = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < s.length) {
        val e = math.abs(s(i).toLong)
        // Long mul: i * 64 wraps Int past ~2^25 samples (~13 min
        // at 44.1 kHz) — a silent null hash on every long file
        energy((i.toLong * 64 / s.length).toInt) += e
        total += e
        i += 1
      }
      // frames are equal-sized up to integer division remainder;
      // compare frame_mean vs global_mean cross-multiplied so the
      // uneven tail frame is weighted by ITS true length. The
      // cross-multiply must be in DOUBLE: in Long it wraps around
      // 2^27 full-scale samples (~50 min mono 44.1 kHz), silently
      // flipping bits — same wrap class as the frame-index multiply
      // above. A double comparison loses nothing that matters: the
      // fingerprint thresholds a mean, not an exact count.
      var h = 0L
      var f = 0
      while (f < 64) {
        val lo = (f.toLong * s.length / 64).toInt
        val hi = ((f + 1).toLong * s.length / 64).toInt
        if (hi > lo &&
            energy(f).toDouble * s.length > total.toDouble * (hi - lo))
          h |= (1L << f)
        f += 1
      }
      java.lang.Long.valueOf(h)
    }

  def audioAHash: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], java.lang.Long] {
      override def call(bytes: Array[Byte]): java.lang.Long =
        try {
          aHashOfSamples(monoSamples(bytes))
        } catch { case NonFatal(_) => null }
    }, LongType)

  /** REAL audio feature vector where the JDK decodes: `nFrames`
    * normalized frame energies (RMS per frame / overall RMS) — the
    * feature-extraction slot's offline-honest instantiation beside the
    * [[AudioDecoder]] stub (which stands in for MFCC-class extractors
    * needing a DSP library). Null on undecodable input.
    */
  def audioEnergyFeatures(nFrames: Int = 16)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Array[Float]] {
      override def call(bytes: Array[Byte]): Array[Float] =
        try {
          val s = monoSamples(bytes)
          if (s.length < nFrames) null
          else {
            val sq = new Array[Double](nFrames)
            val cnt = new Array[Long](nFrames)
            var i = 0
            while (i < s.length) {
              val f = (i.toLong * nFrames / s.length).toInt // Long mul: see audioAHash
              sq(f) += s(i).toDouble * s(i)
              cnt(f) += 1
              i += 1
            }
            val totalRms = math.sqrt(sq.sum / s.length)
            if (totalRms == 0) new Array[Float](nFrames)
            else (0 until nFrames).map(f =>
              (math.sqrt(sq(f) / math.max(cnt(f), 1L)) / totalRms).toFloat
            ).toArray
          }
        } catch { case NonFatal(_) => null }
    }, ArrayType(FloatType, containsNull = false))

  /** Attach decoded audio metadata + fingerprint + energy features. */
  def withAudioColumns(df: DataFrame, contentCol: String = "content",
      nFrames: Int = 16): DataFrame =
    df.withColumn("audio_meta", decodeAudioMeta(col(contentCol)))
      .withColumn("audio_hash", audioAHash(col(contentCol)))
      .withColumn("audio_energy", audioEnergyFeatures(nFrames)(col(contentCol)))

  /** Audio near-duplicate pairs — [[imageDedup]]'s exact plan over
    * [[audioAHash]]: one decode pass (the only non-relational step),
    * 4×16-bit banded candidates (shuffle by (band, value), never
    * all-pairs), Hamming ≤ `maxHamming` verified on candidates only,
    * undecodable rows dropped before banding, hot buckets (silence,
    * constant tones — all hash 0) defused by the banding guard.
    */
  def audioDedup(df: DataFrame, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    val hashed = df
      .select(col(idCol).as("img_id"), audioAHash(col(contentCol)).as("ahash"))
      .filter(col("ahash").isNotNull)
    graft.operators.BandedHamming
      .pairs(hashed, "img_id", "ahash", bands = 4, maxHamming = maxHamming,
        maxBucket = maxBucket, multiProbe = true)
      .select(col("id1").as("audio_id1"), col("id2").as("audio_id2"),
        col("hamming"))
  }

  // --------------------------------------------- video (container-real)

  /** Video metadata is REAL at the CONTAINER level: MP4/ISO-BMFF
    * (ISO/IEC 14496-12 box structure — `ftyp` brand, `mvhd`
    * timescale/duration, `tkhd` track dimensions) and AVI (RIFF `avih`
    * header) are plain public binary layouts parseable with no codec,
    * so brand/duration/dimensions/track-count come from the actual
    * bytes offline. Only frame DECODE needs a codec and stays behind
    * [[VideoDecoder]] (the audio-family posture: real where the JDK or
    * the format spec allows, a clearly-bound stub where only a native
    * library would do).
    */
  val videoMetaType: StructType = StructType(Seq(
    StructField("container", StringType),
    StructField("brand", StringType),
    StructField("duration_ms", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_tracks", IntegerType),
    StructField("error", StringType)))

  private object VideoContainers {
    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)
    private def le32(b: Array[Byte], o: Int): Long =
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "ISO-8859-1")

    /** Iterate ISO-BMFF boxes in [from, lim): (type, bodyFrom, bodyTo). */
    private def boxes(b: Array[Byte], from: Int, lim: Int)
        : Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
      private var o = from
      def hasNext: Boolean = o + 8 <= lim
      def next(): (String, Int, Int) = {
        val size = be32(b, o)
        val typ = fourcc(b, o + 4)
        val (hdr, end) =
          if (size == 1L && o + 16 <= lim) (16, o + be64(b, o + 8))
          else if (size == 0L) (8, lim.toLong)
          else (8, o + size)
        val clampedEnd = math.min(end, lim.toLong).toInt
        val res = (typ, math.min(o + hdr, clampedEnd), clampedEnd)
        o = if (clampedEnd > o) clampedEnd else lim // malformed size: stop
        res
      }
    }

    def parseMp4(b: Array[Byte]): Row = {
      var brand: String = null
      var durationMs: java.lang.Long = null
      var width: java.lang.Integer = null
      var height: java.lang.Integer = null
      var nTracks = 0
      boxes(b, 0, b.length).foreach {
        case ("ftyp", f, t) if t - f >= 4 => brand = fourcc(b, f)
        case ("moov", mf, mt) =>
          boxes(b, mf, mt).foreach {
            case ("mvhd", f, t) if t - f >= 20 =>
              val v = b(f) & 0xff
              val (ts, dur) =
                if (v == 1 && t - f >= 32) (be32(b, f + 20), be64(b, f + 24))
                else (be32(b, f + 12), be32(b, f + 16))
              if (ts > 0) durationMs = java.lang.Long.valueOf(dur * 1000L / ts)
            case ("trak", tf, tt) =>
              nTracks += 1
              boxes(b, tf, tt).foreach {
                case ("tkhd", f, t) =>
                  val v = b(f) & 0xff
                  val wOff = if (v == 1) f + 88 else f + 76
                  if (t >= wOff + 8) {
                    // 16.16 fixed point; track 0×0 rows (audio tracks)
                    val w = (be32(b, wOff) >> 16).toInt
                    val h = (be32(b, wOff + 4) >> 16).toInt
                    if (w > 0 && h > 0) { width = w; height = h }
                  }
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
      Row("mp4", brand, durationMs, width, height,
        java.lang.Integer.valueOf(nTracks), null)
    }

    def parseAvi(b: Array[Byte]): Row = {
      // scan for the 'avih' chunk (fourcc + LE size + 56-byte header)
      var o = 12
      var row: Row = null
      while (row == null && o + 8 <= b.length) {
        if (fourcc(b, o) == "avih") {
          val f = o + 8
          if (f + 40 <= b.length) {
            val usPerFrame = le32(b, f)
            val totalFrames = le32(b, f + 16)
            val streams = le32(b, f + 24).toInt
            val w = le32(b, f + 32).toInt
            val h = le32(b, f + 36).toInt
            row = Row("avi", null,
              java.lang.Long.valueOf(usPerFrame * totalFrames / 1000L),
              java.lang.Integer.valueOf(w), java.lang.Integer.valueOf(h),
              java.lang.Integer.valueOf(streams), null)
          }
        }
        o += 1
      }
      if (row != null) row
      else Row("avi", null, null, null, null, null, "no avih header found")
    }

    def parse(b: Array[Byte]): Row =
      if (b == null || b.length < 12)
        Row(null, null, null, null, null, null, "too short")
      else if (fourcc(b, 4) == "ftyp") parseMp4(b)
      else if (fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "AVI ") parseAvi(b)
      else Row(null, null, null, null, null, null,
        "unrecognized container (mp4/avi supported)")
  }

  /** Parse video container header → typed metadata struct; unparseable
    * bytes set `error` — the media-leaf never-fail rule.
    */
  val decodeVideoMeta: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], Row] {
      override def call(bytes: Array[Byte]): Row =
        try VideoContainers.parse(bytes)
        catch {
          case NonFatal(e) =>
            Row(null, null, null, null, null, null,
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }, videoMetaType)

  /** 64-bit signature of one sampled frame: a real decoded image frame
    * (a [[VideoDecoder]] binding that emits PNG/JPEG stills) gets the
    * PERCEPTUAL aHash — re-encoded frames collapse; anything else
    * (the stub's fake frames) falls back to an exact FNV-64 of the
    * bytes, which still dedups identical content. Null only on
    * null/empty input.
    */
  val videoFrameSig: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new org.apache.spark.sql.api.java.UDF1[Array[Byte], java.lang.Long] {
      override def call(bytes: Array[Byte]): java.lang.Long = {
        if (bytes == null || bytes.isEmpty) return null
        val asImage =
          try ImageIO.read(new ByteArrayInputStream(bytes))
          catch { case NonFatal(_) => null }
        if (asImage != null) java.lang.Long.valueOf(aHashOf(asImage))
        else java.lang.Long.valueOf(fnv64(bytes, 0, bytes.length))
      }
    }, LongType)

  /** One row per sampled frame with its signature:
    * (video_id, frame_ts_ms, frame_sig).
    */
  def videoFrameSigs(df: DataFrame, idCol: String = "path",
      contentCol: String = "content",
      decoder: VideoDecoder = StubVideoDecoder, everyNthMs: Long = 1000,
      durationMs: Long = 5000): DataFrame =
    sampleVideoFrames(df.select(col(idCol).as("video_id"), col(contentCol)),
        decoder, contentCol, everyNthMs, durationMs)
      .select(col("video_id"), col("frame_ts_ms"),
        videoFrameSig(col("frame_bytes")).as("frame_sig"))
      .filter(col("frame_sig").isNotNull)

  /** Video near-duplicate pairs by SAMPLED-FRAME overlap: two videos
    * are near-dups when the Jaccard of their distinct frame-signature
    * sets is ≥ `minJaccard` — clips sharing most content match even
    * when a suffix/segment differs (where a whole-file hash sees two
    * unrelated blobs). The plan is the inverted-index discipline, one
    * decode pass then relational all the way: distinct (video, sig)
    * rows, candidates meet by JOINING ON frame_sig (shuffle by
    * signature, never all-pairs), overlap = one count per pair,
    * Jaccard from per-video set sizes. Degenerate universal frames —
    * black frames, title cards, the stub's hash of an all-equal slice
    * — would pair everything with everything, so any signature shared
    * by more than `maxPerSig` videos is dropped before the join (the
    * BandedHamming hot-bucket posture; at 100 TB this guard is what
    * keeps the frame index linear).
    */
  def videoDedup(df: DataFrame, idCol: String = "path",
      contentCol: String = "content",
      decoder: VideoDecoder = StubVideoDecoder, everyNthMs: Long = 1000,
      durationMs: Long = 5000, minJaccard: Double = 0.5,
      maxPerSig: Int = 64): DataFrame = {
    // decode is the expensive step: pay it once for the sizes scan,
    // the hot-sig scan and the pair join
    val sigs = Materialize.cut(videoFrameSigs(df, idCol, contentCol, decoder,
        everyNthMs, durationMs)
      .select(col("video_id"), col("frame_sig")).distinct())
    val hot = sigs.groupBy(col("frame_sig"))
      .agg(countDistinct(col("video_id")).as("nv"))
      .filter(col("nv") > maxPerSig)
      .select(col("frame_sig"))
    val pruned = sigs.join(hot, Seq("frame_sig"), "left_anti")
    val sizes = sigs.groupBy(col("video_id"))
      .agg(count(lit(1)).as("n_frames"))
    val overlaps = pruned.as("a")
      .join(pruned.as("b"), col("a.frame_sig") === col("b.frame_sig"))
      .filter(col("a.video_id") < col("b.video_id"))
      .groupBy(col("a.video_id").as("video_id1"),
        col("b.video_id").as("video_id2"))
      .agg(count(lit(1)).as("overlap"))
    overlaps
      .join(sizes.select(col("video_id").as("video_id1"),
        col("n_frames").as("n1")), "video_id1")
      .join(sizes.select(col("video_id").as("video_id2"),
        col("n_frames").as("n2")), "video_id2")
      .withColumn("jaccard",
        col("overlap") / (col("n1") + col("n2") - col("overlap")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("video_id1"), col("video_id2"), col("overlap"),
        col("jaccard"))
  }

  /** Attach video metadata to a binary-content frame (image/audio
    * parity: `withImageColumns`/`withAudioColumns`).
    */
  def withVideoColumns(df: DataFrame, contentCol: String = "content")
      : DataFrame =
    df.withColumn("video_meta", decodeVideoMeta(col(contentCol)))

  // ------------------------------------- persisted media-signature index

  /** Persisted aHash seen-index: the incremental-lifecycle twin every
    * text/vector family already has, for media (r13 verdict gap #3 —
    * [[imageDedup]]/[[audioDedup]] were one-shot batch ops while a real
    * multimodal corpus ingests continuously). One `hashes` component
    * ((med_id, ahash) under the standard `batch=` layout), shared
    * lifecycle verbatim: lazily created by the first delta (the
    * seen-set posture), own-tag-exempt replay overwrites, `_history`
    * sidecar + as-of probes, compaction with closed replay windows
    * (`_compacted_tags`), `_params` kind pinning (an image index probed
    * with audio hashes is hash-compatible but semantically meaningless
    * — record on first admit, refuse a mismatch), and the generic
    * `indexInfo` health view.
    *
    * Scale shape: the batch decodes ONCE (its own aHash pass); the
    * corpus side is the STORED hash table — never re-decoded, never
    * re-hashed. Cross candidates come from the asymmetric band probe
    * (corpus side shuffles by (band, value) only for the probed
    * buckets), within-batch candidates from the symmetric banded join
    * over the batch alone; both verify Hamming on the 64-bit hashes.
    * `rescueHot` stays OFF ([[graft.operators.BandedHamming.pairs]]'
    * rationale: the hash IS the verdict — a degenerate bucket means
    * flat images/silence, and star edges would "verify" at Hamming 0
    * for genuinely different content).
    */
  private val MediaBands = 4
  private val MediaBandBits = 16

  private def mediaBanded(df: DataFrame): DataFrame =
    df.select(col("med_id"), col("ahash"),
        explode(sequence(lit(0), lit(MediaBands - 1))).as("band"))
      .withColumn("bandval", expr(
        s"shiftright(ahash, band * $MediaBandBits) & ${(1L << MediaBandBits) - 1}"))

  /** Record-on-first-admit / refuse-on-mismatch pin for the index's
    * media kind over THIS index's `hashes` component (a read-only as-of
    * probe validates but never writes the sidecar).
    */
  private def mediaPin(kind: String): IndexStore.Pin =
    IndexStore.Pin("hashes", s"kind=$kind",
      "would compare fingerprints of a different media kind",
      siblings = Seq("frames"))

  /** One ingest batch of already-hashed media against the persisted
    * index: near-dup pairs (id1, id2, hamming, cross) where every pair
    * touches ≥1 batch row — `cross = true` pairs a batch row (id1) with
    * a previously-admitted row (id2); `cross = false` pairs two batch
    * rows (id1 < id2). The batch's hashes land under `batch=tag` so the
    * NEXT batch sees them; replaying a live tag reproduces its first
    * run bit-identically (own tag excluded from the corpus side), and
    * replaying a compaction-folded tag fails fast. Probe and append are
    * also exposed separately ([[mediaHashProbe]]/[[appendMediaIndex]])
    * for loops that admit only a SUBSET of the batch — the CurateIngest
    * media stage probes with every candidate but grows the index with
    * the final keepers only (the index must stay exactly the kept
    * corpus, the stage-5/6 discipline).
    */
  def mediaHashDelta(spark: org.apache.spark.sql.SparkSession, path: String,
      hashed: DataFrame, tag: String, kind: String, maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame = {
    // materialize BEFORE the append below
    val result = Materialize.cut(mediaHashProbe(spark, path, hashed, tag,
      kind, maxHamming, maxBucket, admitParams = true))
    appendMediaIndex(spark, path, hashed, tag, kind)
    result
  }

  /** Probe-only half of [[mediaHashDelta]]: pairs vs the index
    * EXCLUDING `tag`'s own increment (replay discipline), nothing
    * written — params are validated, never recorded.
    */
  def mediaHashProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      hashed: DataFrame, tag: String, kind: String, maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket,
      admitParams: Boolean = false): DataFrame =
    // admitParams = true when the caller is an ADMIT path that will
    // append right after (mediaHashDelta, the CurateIngest stage): the
    // crashed-first-contact window then re-records instead of wedging.
    // Standalone / as-of probes stay read-only.
    mediaHashAt(spark, path, hashed, kind, maxHamming, maxBucket,
      IndexStore.View.Excluding(tag), admitParams)

  /** The probe body shared by [[mediaHashProbe]] and
    * [[mediaHashDeltaAsOf]]: the batch's decodable rows against the
    * stored hashes under `view`. */
  private def mediaHashAt(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, kind: String, maxHamming: Int,
      maxBucket: Int, view: IndexStore.View,
      admitParams: Boolean): DataFrame = {
    val corpus = IndexStore.open(spark, path, Seq("hashes"), view,
        Some(mediaPin(kind)), admitParams)("hashes", "med_id STRING, ahash LONG")
      .select(col("med_id"), col("ahash"))
    mediaPairsAgainst(
      hashed.select(col("med_id"), col("ahash")).filter(col("ahash").isNotNull),
      corpus, maxHamming, maxBucket)
  }

  /** Append half of [[mediaHashDelta]]: admit `hashed`'s decodable rows
    * under `batch=tag` (replay overwrite) and record the tag in the
    * index history. Records `kind` on first contact.
    */
  def appendMediaIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, tag: String, kind: String): Unit =
    IndexStore.append(spark, path, tag, Seq("hashes"), Some(mediaPin(kind))) {
      inc =>
        hashed.select(col("med_id"), col("ahash"))
          .filter(col("ahash").isNotNull)
          .write.mode("overwrite").parquet(inc.dir("hashes"))
    }

  /** The one kind → (index root leaf, component) mapping the curation
    * pipelines share, with the kind validation: a typo'd kind must not
    * silently select the image hash over audio bytes (every hash null →
    * the stage becomes a permanent no-op) while pinning the bogus kind
    * into `_params`. Both pipelines and the compaction cadence resolve
    * through HERE — three hand-synced copies of this mapping is exactly
    * where a root-rename bug hides (r14 review catch).
    */
  private[graft] def mediaKindLayout(kind: String): (String, String) = {
    require(kind == "image" || kind == "audio" || kind == "video",
      s"mediaKind must be 'image', 'audio' or 'video', got '$kind'")
    if (kind == "video") ("media_video", "frames") else ("media", "hashes")
  }

  /** The pair core shared by the live delta and the as-of probe:
    * batch-vs-`corpus` cross pairs (asymmetric band probe, Hamming
    * verified on candidates) unioned with within-batch pairs.
    */
  private def mediaPairsAgainst(batch: DataFrame, corpus: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    // an id stored under SEVERAL tags (replayed / re-admitted content)
    // would fan the h2 join out into duplicate output pairs — and a
    // re-admit with a DIFFERENT hash would emit two rows with two
    // hamming values. Rather than distinct()-ing the whole corpus per
    // probe (a corpus-sized shuffle), collapse at the CANDIDATE level:
    // min(hamming) per (id1, id2) — the best stored match is the pair's
    // verdict, exact in the single-admit case (r14 review catch).
    // Accepted trade-off: multi-tag multiplicity also counts toward
    // probedPairs' maxBucket row cap, so a degenerate bucket sitting
    // near the cap crosses it sooner than with a deduped corpus —
    // bounded by the live tag count and HEALED by compaction (which
    // folds to distinct rows); re-admits are rare, every probe paying
    // a corpus shuffle is not.
    // radius-1 multi-probe on the BATCH side only (the corpus keeps its
    // 4 exact postings, so stored bucket populations and the hot-bucket
    // guard are untouched): the candidate guarantee rises to Hamming ≤ 7,
    // actually covering the documented 6-bit re-encode radius — without
    // it, a 4-6-bit drift whose flips span all four bands was silently
    // missed (r14 advice). Probe fan-out is 68 rows per batch hash,
    // linear in the BATCH, the small side of every ingest probe.
    val cross = graft.operators.BandedHamming
      .probedPairs(
        graft.operators.BandedHamming
          .withFlipProbes(mediaBanded(batch), MediaBandBits),
        mediaBanded(corpus.select(col("med_id"), col("ahash"))),
        "med_id", "med_id", Seq("band", "bandval"), maxBucket,
        rescueHot = false)
      // an id probing its own stored fingerprint (a content UPDATE
      // under the same id) is not its own duplicate
      .filter(col("id1") =!= col("id2"))
      .join(batch.select(col("med_id").as("id1"), col("ahash").as("h1")), "id1")
      .join(corpus.select(col("med_id").as("id2"), col("ahash").as("h2")),
        "id2")
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id1"), col("id2"))
      .agg(min(col("hamming")).as("hamming"))
      .select(col("id1"), col("id2"), col("hamming"), lit(true).as("cross"))
    val within = graft.operators.BandedHamming
      .pairs(batch, "med_id", "ahash", bands = MediaBands,
        maxHamming = maxHamming, maxBucket = maxBucket,
        multiProbe = true)
      .withColumn("cross", lit(false))
    cross.unionByName(within).orderBy(col("id1"), col("id2"), col("cross"))
  }

  /** [[mediaHashDelta]] against the index AS OF a recorded batch tag —
    * read-only (nothing admitted, no history entry, no sidecar write):
    * re-ask a batch's media-dup question against exactly the snapshot
    * some earlier admit left behind.
    */
  def mediaHashDeltaAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, hashed: DataFrame, asOf: String, kind: String,
      maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame =
    mediaHashAt(spark, path, hashed, kind, maxHamming, maxBucket,
      IndexStore.View.AsOf(asOf), admitParams = false)

  /** Image ingest against the persisted index: decode + aHash the batch
    * (undecodable rows excluded — they can never pair), then
    * [[mediaHashDelta]]. `kind=image` is pinned on first admit.
    */
  def imageDedupDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, tag: String, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame =
    mediaHashDelta(spark, path,
      df.select(col(idCol).as("med_id"),
        imageAHash(col(contentCol)).as("ahash")),
      tag, "image", maxHamming, maxBucket)

  /** [[imageDedupDelta]]'s read-only as-of twin. */
  def imageDedupDeltaAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, asOf: String, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6): DataFrame =
    mediaHashDeltaAsOf(spark, path,
      df.select(col(idCol).as("med_id"),
        imageAHash(col(contentCol)).as("ahash")),
      asOf, "image", maxHamming)

  /** Audio ingest against the persisted index ([[audioAHash]]
    * fingerprints; `kind=audio`).
    */
  def audioDedupDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, tag: String, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6,
      maxBucket: Int = graft.operators.BandedHamming.DefaultMaxBucket)
      : DataFrame =
    mediaHashDelta(spark, path,
      df.select(col(idCol).as("med_id"),
        audioAHash(col(contentCol)).as("ahash")),
      tag, "audio", maxHamming, maxBucket)

  /** [[audioDedupDelta]]'s read-only as-of twin. */
  def audioDedupDeltaAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, asOf: String, idCol: String = "path",
      contentCol: String = "content", maxHamming: Int = 6): DataFrame =
    mediaHashDeltaAsOf(spark, path,
      df.select(col(idCol).as("med_id"),
        audioAHash(col(contentCol)).as("ahash")),
      asOf, "audio", maxHamming)

  /** Standing cluster labels for a continuously-ingesting media corpus
    * — [[imageDedupClusters]]' collapse semantics made INCREMENTAL over
    * [[mediaHashDelta]]'s per-batch pair output: merge one batch's
    * verified pairs into an existing (med_id, rep_id) label table
    * without re-clustering history
    * ([[graft.operators.ConnectedComponents.mergeLabels]] — each
    * existing component re-enters as its star edges, so only components
    * the new pairs touch can change, and the merge equals re-clustering
    * the full pair union exactly; spec-pinned here on the string seam).
    * String ids map through xxhash64 with the same
    * collision-fails-loudly guard as the one-shot form; the
    * representative is the member with the minimum id hash (stable
    * across batches — a component's rep only changes when a merge joins
    * it to a component with a smaller-hash member). Output
    * (med_id, rep_id, is_dup) for every id in ≥ 1 old-or-new pair;
    * media in no pair keep rep = self implicitly (left-join the full
    * corpus downstream, the
    * [[graft.operators.ConnectedComponents.assignClusters]] pattern).
    */
  def mediaClusterDelta(labels: DataFrame, pairs: DataFrame): DataFrame = {
    val l = labels.select(col("med_id"), col("rep_id"))
    val p = pairs.select(col("id1"), col("id2"))
    val ids = l.select(col("med_id").as("name"))
      .union(l.select(col("rep_id").as("name")))
      .union(p.select(col("id1").as("name")))
      .union(p.select(col("id2").as("name")))
      .distinct()
    val map = Materialize.cut(
      ids.select(col("name"), xxhash64(col("name")).as("nid")))
    val collided = map.groupBy(col("nid"))
      .agg(countDistinct(col("name")).as("c"))
      .filter(col("c") > 1).limit(1).count()
    require(collided == 0L,
      "mediaClusterDelta: xxhash64(med_id) collision — two distinct ids " +
        "share a 64-bit hash on this corpus; disambiguate the id column")
    val nl = l
      .join(map.select(col("name").as("med_id"), col("nid").as("id")), "med_id")
      .join(map.select(col("name").as("rep_id"), col("nid").as("rep")), "rep_id")
      .select(col("id"), col("rep"))
    val np = p
      .join(map.select(col("name").as("id1"), col("nid").as("src")), "id1")
      .join(map.select(col("name").as("id2"), col("nid").as("dst")), "id2")
      .select(col("src"), col("dst"))
    graft.operators.ConnectedComponents.mergeLabels(nl, np)
      .join(map.select(col("nid").as("id"), col("name").as("med_id")), "id")
      .join(map.select(col("nid").as("rep"), col("name").as("rep_id")), "rep")
      .select(col("med_id"), col("rep_id"),
        (col("med_id") =!= col("rep_id")).as("is_dup"))
  }

  /** First-build form of [[mediaClusterDelta]]: cluster a pair frame
    * with no prior labels.
    */
  def mediaClusterLabels(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    mediaClusterDelta(
      spark.emptyDataFrame
        .select(lit("").as("med_id"), lit("").as("rep_id")).limit(0),
      pairs)
  }

  /** Compact the media index in place — the
    * [[graft.queries.TextOps.compactSegmentIndex]] discipline on the
    * `hashes` component ([[IndexStore.compact]]): folded tags' replay
    * windows close, as-of reach resets to `init`.
    */
  def compactMediaIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("hashes"), numFiles,
      closeWindows = true)

  // ---------------------------- persisted video frame-signature index

  /** The video twin of the media-hash index: [[videoDedup]]'s
    * frame-OVERLAP semantics made incremental. A single 64-bit hash per
    * item cannot carry partial-overlap Jaccard, so this index persists
    * the frame-signature SET instead — one `frames` component of
    * `(video_id, frame_sig, n_frames)` rows under the standard `batch=`
    * layout (n_frames is the video's distinct-signature count,
    * denormalized onto every row so a probe NEVER re-scans the corpus
    * for set sizes: any matched row already carries its video's total).
    * Lifecycle is shared verbatim with [[mediaHashDelta]]: own-tag-
    * exempt replay overwrites, `_history` + as-of probes, compaction
    * with closed replay windows, `_params` pinning (the sampling
    * cadence `everyNthMs`/`durationMs` is recorded on first admit and a
    * mismatched probe refused — frame sets sampled on different
    * cadences overlap meaninglessly), and the generic `indexInfo` view.
    *
    * Scale shape: the batch decodes once; the corpus side is the stored
    * signature table, restricted to the BATCH's signatures by a join
    * before anything else (shuffle by frame_sig over probed signatures
    * only, never the whole corpus). The hot-signature guard counts
    * videos per signature across corpus-matched ∪ batch rows — unlike
    * the one-shot [[videoDedup]]'s batch-local count, a title card that
    * went universal across PAST batches is defused here too.
    */
  private def videoPin(everyNthMs: Long, durationMs: Long): IndexStore.Pin =
    IndexStore.Pin("frames",
      s"kind=video,everyNthMs=$everyNthMs,durationMs=$durationMs",
      "would overlap frame sets sampled on a different cadence",
      siblings = Seq("hashes"))

  /** One decode pass over an ingest batch → its distinct frame-set rows
    * `(video_id, frame_sig, n_frames)` — the exact shape the index
    * stores and every probe consumes.
    */
  /** Video knobs for callers that thread the frame-set index through a
    * pipeline stage (CurateIngest's media stage): sampling cadence
    * (pinned into the index `_params` on first admit), the overlap
    * threshold, the hot-signature cap, and the decoder binding.
    */
  case class VideoDedupConfig(everyNthMs: Long = 1000,
      durationMs: Long = 5000, minJaccard: Double = 0.5,
      maxPerSig: Int = 64, decoder: VideoDecoder = StubVideoDecoder)

  private[graft] def batchFrameSet(df: DataFrame, idCol: String,
      contentCol: String, decoder: VideoDecoder, everyNthMs: Long,
      durationMs: Long): DataFrame = {
    // decode is the expensive step: checkpoint BEFORE the self-join
    // below, so one pass feeds both branches (the one-shot videoDedup
    // discipline — exchange reuse is not guaranteed to dedupe it)
    val sigs = Materialize.cut(videoFrameSigs(df, idCol, contentCol, decoder,
        everyNthMs, durationMs)
      .select(col("video_id"), col("frame_sig")).distinct())
    sigs.join(sigs.groupBy(col("video_id"))
        .agg(count(lit(1)).as("n_frames")), "video_id")
  }

  /** The pair core shared by the live video delta and its as-of probe:
    * batch-vs-`corpus` cross pairs plus within-batch pairs, both at
    * [[videoDedup]]'s overlap/Jaccard semantics. Jaccard denominators
    * use the UNPRUNED set sizes (the one-shot's discipline — hot
    * pruning narrows candidates, not identity).
    */
  private def videoPairsAgainst(batch: DataFrame, corpus: DataFrame,
      minJaccard: Double, maxPerSig: Int): DataFrame = {
    // asymmetric probe: only corpus rows sharing a batch signature can
    // ever pair — restrict FIRST, then count hotness over the union.
    // The groupBy collapses an id stored under SEVERAL tags (replayed /
    // re-admitted content) back to one row per (video, sig): without
    // it, each shared signature would count once PER TAG and inflate
    // overlap (a 5-frame overlap against a twice-stored video reads 10
    // and jaccard can even reach 0/0). max(n_frames) keeps the largest
    // recorded set size — conservative for the denominator.
    val matched = corpus.join(
        batch.select(col("frame_sig")).distinct(), Seq("frame_sig"))
      .groupBy(col("video_id"), col("frame_sig"))
      .agg(max(col("n_frames")).as("n_frames"))
    val hot = matched.select(col("frame_sig"), col("video_id"))
      .unionByName(batch.select(col("frame_sig"), col("video_id")))
      .groupBy(col("frame_sig"))
      .agg(countDistinct(col("video_id")).as("nv"))
      .filter(col("nv") > maxPerSig)
      .select(col("frame_sig"))
    val bp = batch.join(hot, Seq("frame_sig"), "left_anti")
    val cp = matched.join(hot, Seq("frame_sig"), "left_anti")
    def overlaps(left: DataFrame, right: DataFrame, crossFlag: Boolean) = {
      val raw = left.as("a")
        .join(right.as("b"), col("a.frame_sig") === col("b.frame_sig"))
      // an id probing its own stored frames (re-ingest, or an as-of
      // read at the batch's own tag) must not report itself as its
      // duplicate — the one-shot videoDedup can never self-pair either
      val filtered =
        if (crossFlag) raw.filter(col("a.video_id") =!= col("b.video_id"))
        else raw.filter(col("a.video_id") < col("b.video_id"))
      filtered
        .groupBy(col("a.video_id").as("id1"), col("b.video_id").as("id2"))
        // n_frames is constant per video within one admit; max() keeps
        // the aggregation deterministic across admits. An id re-admitted
        // with DIFFERENT content probes as the UNION of its admits, whose
        // true distinct size is unknowable from matched rows alone —
        // greatest(n, overlap) restores the set invariant |set| ≥
        // |overlap| (without it, union overlap over a single-admit
        // denominator reads jaccard > 1, even 0/0; r14 review catch).
        // Exact in the no-re-admit case, a lower bound otherwise.
        .agg(count(lit(1)).as("overlap"),
          max(col("a.n_frames")).as("rawN1"), max(col("b.n_frames")).as("rawN2"))
        .withColumn("n1", greatest(col("rawN1"), col("overlap")))
        .withColumn("n2", greatest(col("rawN2"), col("overlap")))
        .withColumn("jaccard",
          col("overlap") / (col("n1") + col("n2") - col("overlap")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id1"), col("id2"), col("overlap"), col("jaccard"),
          lit(crossFlag).as("cross"))
    }
    overlaps(bp, cp, crossFlag = true)
      .unionByName(overlaps(bp, bp, crossFlag = false))
      .orderBy(col("id1"), col("id2"), col("cross"))
  }

  /** Probe-only half of [[videoFrameDelta]]: overlap pairs vs the index
    * EXCLUDING `tag`'s own increment (replay discipline). Read-only
    * unless `admitParams` (the admit paths' crashed-first-contact
    * window, [[mediaHashProbe]]'s semantics).
    */
  def videoFrameProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, frames: DataFrame, tag: String, everyNthMs: Long,
      durationMs: Long, minJaccard: Double = 0.5, maxPerSig: Int = 64,
      admitParams: Boolean = false): DataFrame =
    videoFramesAt(spark, path, frames, everyNthMs, durationMs, minJaccard,
      maxPerSig, IndexStore.View.Excluding(tag), admitParams)

  /** The probe body shared by [[videoFrameProbe]] and
    * [[videoDedupDeltaAsOf]]: batch frame sets against the stored frame
    * sets under `view`. */
  private def videoFramesAt(spark: org.apache.spark.sql.SparkSession,
      path: String, frames: DataFrame, everyNthMs: Long, durationMs: Long,
      minJaccard: Double, maxPerSig: Int, view: IndexStore.View,
      admitParams: Boolean): DataFrame = {
    val corpus = IndexStore.open(spark, path, Seq("frames"), view,
        Some(videoPin(everyNthMs, durationMs)), admitParams)(
        "frames", "video_id STRING, frame_sig LONG, n_frames LONG")
      .select(col("video_id"), col("frame_sig"), col("n_frames"))
    videoPairsAgainst(frames, corpus, minJaccard, maxPerSig)
  }

  /** Append half of [[videoFrameDelta]]: admit a batch's frame-set rows
    * under `batch=tag` (replay overwrite) and record the tag. Cadence
    * params are recorded on first contact.
    */
  def appendVideoIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, frames: DataFrame, tag: String, everyNthMs: Long,
      durationMs: Long): Unit =
    IndexStore.append(spark, path, tag, Seq("frames"),
        Some(videoPin(everyNthMs, durationMs))) { inc =>
      frames.select(col("video_id"), col("frame_sig"), col("n_frames"))
        .write.mode("overwrite").parquet(inc.dir("frames"))
    }

  /** One ingest batch of already-decoded frame sets against the
    * persisted video index: probe (own tag excluded), then admit —
    * [[mediaHashDelta]]'s contract at frame-overlap semantics.
    */
  def videoFrameDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, frames: DataFrame, tag: String, everyNthMs: Long,
      durationMs: Long, minJaccard: Double = 0.5, maxPerSig: Int = 64)
      : DataFrame = {
    // materialize BEFORE the append below
    val result = Materialize.cut(videoFrameProbe(spark, path, frames, tag,
      everyNthMs, durationMs, minJaccard, maxPerSig, admitParams = true))
    appendVideoIndex(spark, path, frames, tag, everyNthMs, durationMs)
    result
  }

  /** Video ingest against the persisted index: decode + frame-sign the
    * batch once, then [[videoFrameDelta]].
    */
  def videoDedupDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, tag: String, idCol: String = "path",
      contentCol: String = "content",
      decoder: VideoDecoder = StubVideoDecoder, everyNthMs: Long = 1000,
      durationMs: Long = 5000, minJaccard: Double = 0.5,
      maxPerSig: Int = 64): DataFrame =
    videoFrameDelta(spark, path,
      batchFrameSet(df, idCol, contentCol, decoder, everyNthMs, durationMs),
      tag, everyNthMs, durationMs, minJaccard, maxPerSig)

  /** [[videoDedupDelta]]'s read-only as-of twin: re-ask a batch's
    * overlap question against exactly the snapshot some earlier admit
    * left behind — nothing admitted, no history entry, no sidecar
    * write.
    */
  def videoDedupDeltaAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, asOf: String, idCol: String = "path",
      contentCol: String = "content",
      decoder: VideoDecoder = StubVideoDecoder, everyNthMs: Long = 1000,
      durationMs: Long = 5000, minJaccard: Double = 0.5,
      maxPerSig: Int = 64): DataFrame =
    videoFramesAt(spark, path,
      batchFrameSet(df, idCol, contentCol, decoder, everyNthMs, durationMs),
      everyNthMs, durationMs, minJaccard, maxPerSig,
      IndexStore.View.AsOf(asOf), admitParams = false)

  /** Compact the video index in place — [[compactMediaIndex]]'s
    * discipline on the `frames` component.
    */
  def compactVideoIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int = 0): Unit =
    IndexStore.compact(spark, path, Seq("frames"), numFiles,
      closeWindows = true)
}
