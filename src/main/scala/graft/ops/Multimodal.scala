package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing for training-data pipelines: media payloads
 * travel as opaque `binary` columns with typed metadata, and per-batch decode /
 * feature-extraction runs in `mapPartitions` over a typed Dataset — the Scala
 * analogue of a batched decode UDF (one decoder instantiation per partition,
 * amortized across rows; the exact shape a JNI image/audio codec binding
 * needs).
 *
 * IMAGE decode is REAL: payloads that are decodable images (PNG/JPEG/BMP/GIF
 * via the JDK's `ImageIO` — zero external dependencies) yield their true
 * width/height and a true nearest-neighbor resample. Non-image bytes (and the
 * audio/video verbs — the JDK ships no audio/video codec) fall back to the
 * documented DETERMINISTIC STUBS, which keeps the synthetic text-payload
 * fixtures oracle-reproducible in DuckDB. The Spark-side plumbing — schema,
 * binary columns, partition-batched typed mapping, checksum — is identical on
 * both paths.
 */
object Multimodal {

  /** Real image decode via the JDK (per-row; the ImageIO temp-file cache is
    * disabled so executor partitions never touch disk). None when the bytes
    * are not a decodable image — magic-byte sniffing makes the miss cheap,
    * so probing text payloads costs near nothing. */
  private def tryDecodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    } catch { case _: Exception => None }

  /** Decoded audio: true format params + the CANONICAL PCM rendering
    * (16-bit signed little-endian at the source rate/channels) — so the same
    * samples decode to the same bytes whether the container was WAV or AIFF,
    * which is the whole point of decoding before feature extraction. */
  private final case class AudioInfo(sampleRate: Double, channels: Int,
      durationS: Double, pcm: Array[Byte])

  /** Real audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/AU —
    * zero external dependencies). None when the bytes are not a decodable
    * audio stream; the header sniff makes the miss cheap on text payloads. */
  private def tryDecodeAudio(payload: Array[Byte]): Option[AudioInfo] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
          fmt.getSampleRate, false)
        val conv = AudioSystem.getAudioInputStream(target, in)
        val pcm = conv.readAllBytes()
        val frames = pcm.length / target.getFrameSize
        Some(AudioInfo(fmt.getSampleRate.toDouble, fmt.getChannels,
          frames.toDouble / fmt.getSampleRate, pcm))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Parsed MP4/ISO-BMFF header metadata. */
  private final case class Mp4Info(width: Int, height: Int, durationS: Double)

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def boxType(b: Array[Byte], o: Int): String =
    new String(b, o + 4, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Real video metadata via MP4/ISO-BMFF box walking — PURE byte parsing
    * (`moov`/`mvhd` for timescale+duration, `trak`/`tkhd` for the 16.16
    * fixed-point width/height), no codec needed: a training pipeline wants
    * dimensions/duration for filtering long before it wants pixels. Requires
    * a leading `ftyp` box (the MP4 magic), so text payloads miss in one
    * 8-byte check. None on 64-bit box sizes (`size == 1`) and malformed
    * trees — the honest stub keeps covering truly opaque bytes. */
  private def tryParseMp4(p: Array[Byte]): Option[Mp4Info] = {
    if (p.length < 16 || boxType(p, 0) != "ftyp") return None
    var w = 0; var h = 0; var durS = -1.0
    def children(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var o = lo
        def hasNext: Boolean = o + 8 <= hi
        def next(): (String, Int, Int) = {
          val sz = be32(p, o)
          if (sz < 8 || o + sz > hi) { o = hi; ("", 0, 0) }
          else { val r = (boxType(p, o), o, o + sz.toInt); o += sz.toInt; r }
        }
      }
    for ((t, lo, hi) <- children(0, p.length) if t == "moov") {
      for ((ct, clo, chi) <- children(lo + 8, hi)) ct match {
        case "mvhd" if chi - clo >= 32 =>
          val v = p(clo + 8) & 0xff
          // v0: vf(4) ctime(4) mtime(4) timescale(4) duration(4)
          // v1: vf(4) ctime(8) mtime(8) timescale(4) duration(8)
          if (v == 0) {
            val ts = be32(p, clo + 20)
            if (ts > 0) durS = be32(p, clo + 24).toDouble / ts
          } else if (chi - clo >= 44) {
            val ts = be32(p, clo + 28)
            val d = (be32(p, clo + 32) << 32) | be32(p, clo + 36)
            if (ts > 0) durS = d.toDouble / ts
          }
        case "trak" =>
          for ((gt, glo, ghi) <- children(clo + 8, chi) if gt == "tkhd") {
            val v = p(glo + 8) & 0xff
            // width/height are the LAST 8 bytes of tkhd (16.16 fixed),
            // after vf + times + ids + reserved + layer/volume + matrix
            val off = if (v == 0) glo + 84 else glo + 96
            if (off + 8 <= ghi) {
              val tw = (be32(p, off) >> 16).toInt
              val th = (be32(p, off + 4) >> 16).toInt
              // the video trak carries nonzero dims; audio traks are 0×0
              if (tw > w) w = tw
              if (th > h) h = th
            }
          }
        case _ => ()
      }
    }
    if (durS >= 0) Some(Mp4Info(w, h, durS)) else None
  }

  /** A media row: opaque payload + source id. */
  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted metadata (+ whether a real decoder/parser produced it). */
  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, duration_s: Double, checksum: String,
      real_decode: Boolean)

  /** Media table synthesized from `documents`: the text bytes stand in for an
    * encoded payload; media_type cycles image/audio/video. */
  def mediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val df = docs.select(
      col("doc_id").cast("long").as("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3).cast("int") + 1).as("media_type"),
      col("text").cast("binary").as("payload"))
    df.as(Encoders.product[MediaRow])
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"$b%02x").mkString

  /** The decoder: one per partition (the expensive-codec-init shape). Every
    * media type now has a REAL path: ImageIO width/height for images,
    * `javax.sound.sampled` rate/duration for audio, MP4 box walking for
    * video dims/duration. Undecodable bytes take the deterministic stub
    * derivation so the synthetic fixtures stay oracle-reproducible. */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] =
    media.mapPartitions { rows =>
      // per-partition init: a real decoder (libjpeg/ffmpeg binding) would be
      // constructed here once and reused across the partition's rows
      val digest = MessageDigest.getInstance("MD5")
      rows.map { r =>
        digest.reset()
        val sum = hex(digest.digest(r.payload))
        val nb = r.payload.length.toLong
        val real: Option[MediaMeta] = r.media_type match {
          case "image" => tryDecodeImage(r.payload).map(img =>
            MediaMeta(r.doc_id, r.media_type, nb, img.getWidth,
              img.getHeight, 0.0, sum, real_decode = true))
          case "audio" => tryDecodeAudio(r.payload).map(a =>
            MediaMeta(r.doc_id, r.media_type, nb, 0, 0, a.durationS, sum,
              real_decode = true))
          case "video" => tryParseMp4(r.payload).map(v =>
            MediaMeta(r.doc_id, r.media_type, nb, v.width, v.height,
              v.durationS, sum, real_decode = true))
          case _ => None
        }
        real.getOrElse(MediaMeta(
          doc_id = r.doc_id,
          media_type = r.media_type,
          n_bytes = nb,
          width = (r.payload.length % 640).toInt,
          height = ((r.doc_id * 7) % 480).toInt,
          duration_s = r.payload.length / 1000.0,
          checksum = sum,
          real_decode = false))
      }
    }(Encoders.product[MediaMeta])

  /** End-to-end: documents -> media table -> partition-batched decode. */
  def meta(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeMeta(mediaTable(docs)).toDF()

  /** A stub-resized image payload's metadata. */
  final case class ResizedImage(
      doc_id: Long, width: Int, height: Int, n_bytes: Int, checksum: String)

  /** Image resize: per-partition decoder init, 1-to-1 typed map — the shape
    * of a real libjpeg/opencv resize. Decodable images take the REAL path: a
    * nearest-neighbor resample of the decoded raster to target×target RGB
    * (source index floor(i·src/target) per axis — implemented directly on
    * the pixel grid rather than through Graphics2D, so the output bytes are
    * deterministic across JVMs), n_bytes = target²·3, checksum over the RGB
    * buffer. Non-image bytes keep the stub "resample" (gather `target`
    * evenly-spaced payload bytes, floor(i·n/target)), deterministic so the
    * oracle reproduces the checksum; payloads at or under the target pass
    * through. */
  def resizeImages(docs: DataFrame, target: Int = 224): Dataset[ResizedImage] =
    resizeMedia(mediaTable(docs).filter(_.media_type == "image"), target)

  /** The resize kernel over an explicit media table ([[resizeImages]] is the
    * documents-backed wrapper; tests feed real PNG payloads here). */
  def resizeMedia(images: Dataset[MediaRow], target: Int): Dataset[ResizedImage] =
    images.mapPartitions { rows =>
      val digest = MessageDigest.getInstance("MD5")
      rows.map { r =>
        digest.reset()
        tryDecodeImage(r.payload) match {
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            val rgb = new Array[Byte](target * target * 3)
            var y = 0
            while (y < target) {
              val sy = (y.toLong * h / target).toInt
              var x = 0
              while (x < target) {
                val sx = (x.toLong * w / target).toInt
                val px = img.getRGB(sx, sy)
                val o = (y * target + x) * 3
                rgb(o) = ((px >> 16) & 0xff).toByte
                rgb(o + 1) = ((px >> 8) & 0xff).toByte
                rgb(o + 2) = (px & 0xff).toByte
                x += 1
              }
              y += 1
            }
            ResizedImage(r.doc_id, target, target, rgb.length,
              hex(digest.digest(rgb)))
          case None =>
            val n = r.payload.length
            val out =
              if (n <= target) r.payload
              else Array.tabulate(target)(i => r.payload((i.toLong * n / target).toInt))
            ResizedImage(r.doc_id, target, target, out.length,
              hex(digest.digest(out)))
        }
      }
    }(Encoders.product[ResizedImage])

  /** Audio feature vector: 8 banded byte sums (f_j = sum of bytes at
    * positions ≡ j mod 8, normalized by length) — the fixed-width per-row
    * feature shape of a real MFCC extractor, as scalar columns (engine
    * outputs stay array-free for the oracle hash compare). Decodable audio
    * (WAV/AIFF/AU) computes the bands over the DECODED canonical PCM — so
    * the same samples yield the same features regardless of container — and
    * reports its true sample rate/channels/duration; opaque bytes band the
    * raw payload (the documented stub) with zeroed format fields. */
  final case class AudioFeatures(doc_id: Long,
      f0: Double, f1: Double, f2: Double, f3: Double,
      f4: Double, f5: Double, f6: Double, f7: Double,
      sample_rate: Double, channels: Int, duration_s: Double,
      real_decode: Boolean)

  private def bandSums(bytes: Array[Byte]): Array[Double] = {
    val sums = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      sums(i % 8) += bytes(i) & 0xff
      i += 1
    }
    val n = math.max(bytes.length, 1).toDouble
    sums.map(_ / n)
  }

  /** Audio feature extraction: per-partition init, one fixed-width feature
    * row per payload. */
  def audioFeatures(docs: DataFrame): Dataset[AudioFeatures] =
    audioFeaturesOf(mediaTable(docs).filter(_.media_type == "audio"))

  /** The feature kernel over an explicit media table ([[audioFeatures]] is
    * the documents-backed wrapper; tests feed real WAV/AIFF payloads here). */
  def audioFeaturesOf(audios: Dataset[MediaRow]): Dataset[AudioFeatures] =
    audios.mapPartitions { rows =>
      rows.map { r =>
        tryDecodeAudio(r.payload) match {
          case Some(a) =>
            val f = bandSums(a.pcm)
            AudioFeatures(r.doc_id, f(0), f(1), f(2), f(3), f(4), f(5),
              f(6), f(7), a.sampleRate, a.channels, a.durationS,
              real_decode = true)
          case None =>
            val f = bandSums(r.payload)
            AudioFeatures(r.doc_id, f(0), f(1), f(2), f(3), f(4), f(5),
              f(6), f(7), 0.0, 0, 0.0, real_decode = false)
        }
      }
    }(Encoders.product[AudioFeatures])

  /** One sampled frame of a video payload. */
  final case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: String)

  /** Frame sampling for video payloads: a 1-to-N typed flatMap (the generator
    * shape of a real frame extractor — one decoder per partition, N output
    * rows per input). The stub "decoder" slices the payload at a fixed byte
    * stride and checksums each slice. */
  def frameSample(docs: DataFrame, stride: Int = 100): Dataset[Frame] = {
    val videos = mediaTable(docs).filter(_.media_type == "video")
    videos.mapPartitions { rows =>
      val digest = MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val n = r.payload.length
        (0 until (n + stride - 1) / stride).iterator.map { i =>
          val lo = i * stride
          val hi = math.min(lo + stride, n)
          digest.reset()
          val slice = java.util.Arrays.copyOfRange(r.payload, lo, hi)
          Frame(r.doc_id, i, hi - lo, hex(digest.digest(slice)))
        }
      }
    }(Encoders.product[Frame])
  }

  /** 56-bit perceptual dHash grid: 7 rows × 9 columns of luma samples, one
    * bit per within-row neighbor comparison (8 × 7 = 56 — the same width as
    * [[Dedup.SimhashBits]], so the pigeonhole pair machinery carries over
    * unchanged). */
  val PhashRows = 7
  val PhashCols = 9
  val PhashBits: Int = PhashRows * (PhashCols - 1)

  /** A media payload's perceptual hash (+ whether a real codec produced it). */
  final case class ImageHash(doc_id: Long, phash: Long, real_decode: Boolean)

  private def dHashFromGrid(grid: Array[Int]): Long = {
    var h = 0L
    var bit = 0
    var r = 0
    while (r < PhashRows) {
      var c = 0
      while (c < PhashCols - 1) {
        if (grid(r * PhashCols + c) > grid(r * PhashCols + c + 1))
          h |= (1L << bit)
        bit += 1
        c += 1
      }
      r += 1
    }
    h
  }

  /** Perceptual image hashing (the image-dedup signature: near-identical
    * images — recompressions, small crops, brightness shifts — land within a
    * few bits of each other, where a byte digest sees nothing): the classic
    * dHash over a downscaled luma grid. Decodable images take the REAL path
    * — nearest-neighbor sample of the decoded raster at the grid points
    * (floor(i·src/grid) per axis, the resize kernel's gather), integer
    * BT.601 luma (×299/587/114 ÷1000 — integer arithmetic, deterministic
    * across JVMs) — and report `real_decode = true`. Non-image bytes take
    * the stub grid (the resize stub's evenly-spaced byte gather), keeping
    * the synthetic text fixtures oracle-reproducible. Same per-partition
    * typed-map shape as every media verb; output is one 56-bit long per
    * image — the join key for [[phashPairs]]. */
  def imagePhash(images: Dataset[MediaRow]): Dataset[ImageHash] =
    images.mapPartitions { rows =>
      rows.map { r =>
        tryDecodeImage(r.payload) match {
          case Some(img) =>
            val grid = new Array[Int](PhashRows * PhashCols)
            var y = 0
            while (y < PhashRows) {
              var x = 0
              while (x < PhashCols) {
                val rgb = img.getRGB(x * img.getWidth / PhashCols,
                  y * img.getHeight / PhashRows)
                grid(y * PhashCols + x) =
                  (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                    (rgb & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            ImageHash(r.doc_id, dHashFromGrid(grid), real_decode = true)
          case None =>
            // Stub path indexes raw payload BYTES; the DuckDB oracle's
            // substr/ascii mirror indexes CHARACTERS/code points — identical
            // only for ASCII payloads. The synthetic fixtures are ASCII by
            // construction (same convention as the resize/audio stubs); a
            // non-ASCII text fixture would silently diverge from the oracle.
            val n = r.payload.length
            val grid = new Array[Int](PhashRows * PhashCols)
            if (n > 0) {
              var i = 0
              while (i < grid.length) {
                grid(i) = r.payload(i * n / grid.length) & 0xff
                i += 1
              }
            }
            ImageHash(r.doc_id, dHashFromGrid(grid), real_decode = false)
        }
      }
    }(Encoders.product[ImageHash])

  /** Documents-backed wrapper: perceptual hash of every image-typed payload. */
  def phash(docs: DataFrame): DataFrame =
    imagePhash(mediaTable(docs).filter(_.media_type == "image")).toDF()

  /** Near-duplicate images by perceptual-hash distance: candidates share one
    * of `maxHamming + 1` hash chunks (pigeonhole — a pair within the Hamming
    * bound MUST agree on some chunk), verified with `bit_count(xor)`. The
    * identical shape as [[Dedup.simhashPairs]] — chunk equi-joins, never an
    * all-pairs product — applied to the image signature: this is how a
    * 100 TB image corpus dedups recompressed copies. */
  def phashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    import Par.maybeBroadcast
    val nChunks = maxHamming + 1
    // Chunk c covers bits [c·bitsPer, (c+1)·bitsPer); the LAST chunk absorbs
    // the PhashBits % nChunks remainder so every bit lands in exactly one
    // chunk — plain integer division would leave the top bits outside every
    // chunk (recall would survive, but uncovered-bit diffs degrade chunk
    // selectivity silently). Pigeonhole needs full coverage only.
    val bitsPer = PhashBits / nChunks
    val chunkCols = (0 until nChunks).map { c =>
      val width = if (c == nChunks - 1) PhashBits - c * bitsPer else bitsPer
      val mask = (1L << width) - 1
      shiftright(col("phash"), c * bitsPer).bitwiseAND(lit(mask)).as(s"c$c")
    }
    // filled now: every chunk branch scans it
    val fps = CacheScope.fill(
      phash(docs).select(col("doc_id") +: col("phash") +: chunkCols: _*))
    val build = maybeBroadcast(fps)
    (0 until nChunks).map { c =>
      val guard = (0 until c)
        .map(p => col(s"l.c$p") =!= col(s"r.c$p"))
        .foldLeft(col(s"l.c$c") === col(s"r.c$c"))(_ && _)
      fps.as("l").join(build.as("r"),
          guard && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
          bit_count(col("l.phash").bitwiseXOR(col("r.phash"))).as("hamming"))
    }.reduce(_ unionByName _)
      .filter(col("hamming") <= maxHamming)
  }
}
