package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed metadata extracted from a media blob. */
case class MediaMeta(
    id: Long,
    byte_len: Long,
    format: String,
    width: Int,
    height: Int,
    n_frames: Int)

/** One sampled "frame" of a media blob. */
case class Frame(id: Long, frame_idx: Int, offset: Long, frame_bytes: Array[Byte])

/** Real decoded-image facts: container format (png/jpeg/gif/bmp), pixel
  * dimensions, and exact per-channel pixel sums (pixel-level proof the
  * decode actually ran). */
case class ImageInfo(
    format: String, width: Int, height: Int,
    r_sum: Long, g_sum: Long, b_sum: Long)

/** Per-blob decoded-image row; `ok=false` marks bytes that are not a
  * decodable image (corrupt or non-image media) — the row is kept, never
  * dropped, so accounting stays exact. */
case class ImageMeta(
    id: Long, byte_len: Long, ok: Boolean, format: String,
    width: Int, height: Int, r_sum: Long, g_sum: Long, b_sum: Long)

/** Real decoded-audio facts (PCM samples actually read): container
  * format, sample rate, channel count, bits per sample, frame count, and
  * EXACT integer sample sums — total and channel 0 — as sample-level
  * proof the decode ran. */
case class AudioInfo(
    format: String, sample_rate: Int, channels: Int, bits: Int,
    n_frames: Long, amp_sum: Long, ch0_sum: Long)

/** Per-blob decoded-audio row; `ok=false` keeps corrupt / non-audio
  * bytes as flagged rows (same contract as [[ImageMeta]]). */
case class AudioMeta(
    id: Long, byte_len: Long, ok: Boolean, format: String,
    sample_rate: Int, channels: Int, bits: Int, n_frames: Long,
    duration_ms: Double, amp_sum: Long, ch0_sum: Long)

/** Real decoded-video facts (uncompressed Y4M frames actually walked):
  * pixel dimensions, frame rate as an exact rational, frame count, and
  * EXACT integer luma sums — all frames and frame 0 — as pixel-level
  * proof the frame walk ran. */
case class VideoInfo(
    width: Int, height: Int, fps_num: Int, fps_den: Int,
    n_frames: Int, y_sum: Long, y0_sum: Long)

/** Per-blob decoded-video row; `ok=false` keeps corrupt / non-video
  * bytes (including a stream truncated mid-frame) as flagged rows (same
  * contract as [[ImageMeta]] / [[AudioMeta]]). */
case class VideoMeta(
    id: Long, byte_len: Long, ok: Boolean, format: String,
    width: Long, height: Long, fps_num: Long, fps_den: Long,
    n_frames: Long, y_sum: Long, y0_sum: Long)

/** One REAL sampled video frame: its index and exact luma-plane sum. */
case class VideoFrameRow(id: Long, frame_idx: Int, y_sum: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata (reference reads raw blobs via
  * `read_files`, pyquokka/df.py:213-253 + unordered_readers.py:206-271,
  * and leaves decoding to user transforms — here the decode/resize/
  * frame-sample stages are first-class operators).
  *
  * Decoding is REAL across all three modalities, zero extra
  * dependencies: [[Multimodal.decodeImage]] runs the JDK's own
  * `javax.imageio` (PNG/JPEG/GIF/BMP, actual pixels),
  * [[Multimodal.decodeAudio]] runs `javax.sound.sampled` (WAV/PCM,
  * actual samples), and [[Multimodal.decodeVideo]] walks Y4M/YUV4MPEG2
  * (uncompressed planar YUV, actual luma planes). Only COMPRESSED
  * audio/video codecs (mp4/mp3/etc — libraries genuinely absent from
  * this container) remain stubbed ([[Multimodal.decodeStub]]); the stub
  * also serves as the fallback for bytes no real decoder claims, so
  * metadata extraction is total over mixed blobs.
  *
  * Scale design: blobs never shuffle — metadata extraction and frame
  * sampling are narrow (per-partition) operations; only the small typed
  * outputs flow into joins/aggregations downstream.
  */
object Multimodal {

  /** Attach a binary payload column (here derived from text for the
    * synthetic tables; in production this IS the stored bytes). */
  def withBlob(df: DataFrame, srcCol: String, blobCol: String = "blob"): DataFrame =
    df.withColumn(blobCol, col(srcCol).cast("binary"))

  // ImageIO defaults to a DISK-backed stream cache (one temp file per
  // createImageInputStream call): per-blob file churn that serializes
  // across executor threads — measured q71 going 2.8 s → 5.1 s when the
  // thread count rose 8 → 32. Blob payloads are already in memory;
  // cache there. JVM-global, set once.
  javax.imageio.ImageIO.setUseCache(false)

  /** Magic-byte sniff for the formats the JDK ships `ImageReader`s for.
    * ImageIO probing costs a stream + synchronized registry walk per
    * call, so bytes that cannot be an image (the common case in a mixed
    * corpus) must never reach it. A 0x00 lead still probes fully — WBMP
    * has no magic, and this keeps the sniff a pure fast-path (no format
    * the full probe accepts is ever rejected: every JDK reader's
    * signature is covered by a branch here). */
  private def maybeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && {
      val b0 = b(0) & 0xff; val b1 = b(1) & 0xff; val b2 = b(2) & 0xff
      (b0 == 0x89 && b1 == 'P' && b2 == 'N') ||   // png
      (b0 == 0xff && b1 == 0xd8 && b2 == 0xff) || // jpeg
      (b0 == 'G' && b1 == 'I' && b2 == 'F') ||    // gif
      (b0 == 'B' && b1 == 'M') ||                 // bmp
      (b0 == 'I' && b1 == 'I' && b2 == 0x2a) ||   // tiff little-endian
      (b0 == 'M' && b1 == 'M' && b2 == 0x00) ||   // tiff big-endian
      b0 == 0x00                                  // possible wbmp
    }

  /** REAL image decode via the JDK's `javax.imageio` (headless; PNG,
    * JPEG, GIF, BMP, WBMP out of the box). Returns the container format
    * reported by the matched `ImageReader`, true pixel dimensions, and
    * exact per-channel pixel sums (bulk `getRGB` row reads — sRGB
    * conversion is the JDK's, deterministic for the formats above).
    * `None` when no installed reader claims the bytes or the stream is
    * corrupt — callers keep the row and mark it, never drop it. */
  def decodeImage(bytes: Array[Byte]): Option[ImageInfo] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    import javax.imageio.ImageIO
    if (!maybeImage(bytes)) return None
    try {
      val iis = ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (readers == null || !readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
            val img = reader.read(0)
            val w = img.getWidth; val h = img.getHeight
            var rs = 0L; var gs = 0L; var bs = 0L
            val rowBuf = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val p = rowBuf(x)
                rs += (p >> 16) & 0xff; gs += (p >> 8) & 0xff; bs += p & 0xff
                x += 1
              }
              y += 1
            }
            Some(ImageInfo(fmt, w, h, rs, gs, bs))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode an RGB image (`pixel(x, y)` → packed `0xRRGGBB`) to real PNG
    * bytes via `javax.imageio` — gates and specs use it to plant
    * decodable fixtures whose pixel sums an integer SQL oracle can state. */
  def encodePng(width: Int, height: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, pixel(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Partition-wise REAL image-metadata extraction: decode every blob
    * with [[decodeImage]]; bytes no reader claims come back with
    * `ok=false` and zeroed dimensions (row preserved — corrupt inputs
    * are data, not exceptions). Narrow (no blob shuffle); the typed
    * output is what flows downstream. */
  def imageMeta(df: DataFrame, idCol: String, blobCol: String): Dataset[ImageMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeImage(bytes) match {
            case Some(i) =>
              ImageMeta(id, bytes.length.toLong, ok = true, i.format,
                i.width, i.height, i.r_sum, i.g_sum, i.b_sum)
            case None =>
              ImageMeta(id, bytes.length.toLong, ok = false, "unknown",
                0, 0, 0L, 0L, 0L)
          }
        }
      }
  }

  /** REAL 64-bit difference hash (dHash) over decoded pixels — the
    * standard image near-dup fingerprint: per-pixel integer luma
    * ((77r + 151g + 28b) >> 8; weights sum to 256 so gray stays exact),
    * area-average downsample to a 9×8 grid (exact integer block
    * sums / integer division — no float resampling, so the hash is
    * bit-reproducible across engines and architectures), then bit
    * y*8+x set iff cell(x+1, y) > cell(x, y). Near-identical images
    * differ in few bits, so hamming distance is the similarity axis
    * ([[graft.dedup.Dedup.hammingNearDupPairs]] is the scale path).
    * `None` when no installed reader claims the bytes or the image is
    * smaller than the 9×8 grid (no meaningful gradient signature). */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    if (!maybeImage(bytes)) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w < 9 || h < 8) return None
      // cell(cx, cy) covers x in [floor(cx·w/9), floor((cx+1)·w/9)) —
      // pixel x maps to cell floor(x·9/w), one row-buffered pass
      val sums = new Array[Long](72)
      val counts = new Array[Long](72)
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        val cy = (y.toLong * 8 / h).toInt
        var x = 0
        while (x < w) {
          val p = rowBuf(x)
          val luma = (77 * ((p >> 16) & 0xff) + 151 * ((p >> 8) & 0xff) +
            28 * (p & 0xff)) >> 8
          val c = cy * 9 + (x.toLong * 9 / w).toInt
          sums(c) += luma; counts(c) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val a = sums(cy * 9 + cx) / counts(cy * 9 + cx)
          val b = sums(cy * 9 + cx + 1) / counts(cy * 9 + cx + 1)
          if (b > a) hash |= 1L << (cy * 8 + cx)
          cx += 1
        }
        cy += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-wise perceptual hashing: (id, ok, phash) with a null
    * phash (ok=false) for blobs [[dHash64]] declines — rows kept, never
    * dropped. Narrow (no blob shuffle): only the 1-long hash flows into
    * the downstream hamming band join. */
  def imagePHash(df: DataFrame, idCol: String, blobCol: String): DataFrame =
    phashDf(df, idCol, blobCol)(dHash64)

  /** Shared (id, ok, phash) partition-wise wrapper for the three
    * modality fingerprints (round-10 review: was three verbatim
    * copies). Undecodable blobs stay flagged rows with a null hash. */
  private def phashDf(df: DataFrame, idCol: String, blobCol: String)(
      hashOf: Array[Byte] => Option[Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        hashOf(bytes) match {
          case Some(hs) => (id, true, Some(hs))
          case None     => (id, false, None: Option[Long])
        }
      }).toDF(idCol, "ok", "phash")
  }

  /** REAL pixel-derived features: per-channel mean intensity in [0,1]
    * as a dense `array<double>` embedding — compatible with every vector
    * operator (nnJoin / annJoin / embedding near-dup), i.e. the
    * image → embedding → similarity pipeline with an actual decoder in
    * the loop. Undecodable blobs yield a null embedding (kept). */
  def imageFeatures(df: DataFrame, idCol: String, blobCol: String,
                    embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val emb = decodeImage(bytes).map { i =>
            val n = math.max(1L, i.width.toLong * i.height).toDouble * 255.0
            Array(i.r_sum / n, i.g_sum / n, i.b_sum / n)
          }.orNull
          (id, emb)
        }
      }
      .toDF(idCol, embCol)
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV / AIFF /
    * AU with PCM payloads — zero extra dependencies, the same play as
    * [[decodeImage]]'s `javax.imageio`). Reads the actual sample stream
    * and returns exact integer sample sums (16-bit signed PCM; total and
    * channel 0) alongside rate/channels/frame count, so an integer SQL
    * oracle can state the decode's result sample-exactly. `None` for
    * bytes no installed reader claims, truncated streams, or non-16-bit
    * payloads — callers keep the row flagged, never drop it. */
  /** Magic-byte sniff for the containers javax.sound ships readers for
    * (WAV/AIFF/AU) — the audio twin of [[maybeImage]]: AudioSystem's
    * provider lookup synchronizes on a global registry per call, so
    * bytes that cannot be audio must never reach it. */
  private def maybeAudio(b: Array[Byte]): Boolean =
    b.length >= 12 && {
      (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') || // wav
      (b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M') || // aiff
      (b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')    // au
    }

  /** Direct RIFF/WAVE PCM16LE parse — the LOCK-FREE fast path for the
    * overwhelmingly common corpus case. javax.sound's AudioSystem walks
    * a synchronized global provider registry on EVERY call: measured at
    * the round-10 sf1 soak, ~450k getAudioInputStream calls across 16
    * threads collapsed to ~2.4k calls/s/thread and made audio decode
    * 20× superlinear (q136 ratio 22) while the hand-walked Y4M video
    * path scaled cleanly. Returns (sampleRate, channels, nFrames,
    * dataOffset, truncated) for plain PCM16 WAVs; None falls through to
    * the javax.sound path (AIFF/AU/extensible WAV). A data chunk
    * declaring more bytes than the payload carries reports
    * truncated=true — exactly javax.sound's declared-frame check, so
    * the q114 corrupt-row semantics are unchanged. */
  private def parseWavPcm16(
      bytes: Array[Byte]): Option[(Int, Int, Long, Int, Boolean)] = {
    if (bytes.length < 12 ||
        bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
        bytes(3) != 'F' ||
        bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' ||
        bytes(11) != 'E') return None
    def u16(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    def u32(o: Int) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
      ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
    var pos = 12
    var rate = -1; var ch = -1; var fmtOk = false
    var dataOff = -1; var dataLen = -1L
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val size = u32(pos + 4)
      val body = pos + 8
      if (bytes(pos) == 'f' && bytes(pos + 1) == 'm' &&
          bytes(pos + 2) == 't' && bytes(pos + 3) == ' ') {
        if (size < 16 || body + 16 > bytes.length) return None
        // plain PCM (tag 1), 16-bit only — anything else (extensible,
        // float, compressed) falls through to javax.sound
        if (u16(body) != 1 || u16(body + 14) != 16) return None
        ch = u16(body + 2)
        rate = u32(body + 4).toInt
        fmtOk = ch > 0 && rate > 0
        if (!fmtOk) return None
      } else if (bytes(pos) == 'd' && bytes(pos + 1) == 'a' &&
          bytes(pos + 2) == 't' && bytes(pos + 3) == 'a') {
        dataOff = body
        dataLen = size
      }
      // chunks are word-aligned: odd sizes carry a pad byte
      pos = body + size.toInt + (size & 1L).toInt
      if (pos <= body) return None // overflow / zero-size guard
    }
    if (!fmtOk || dataOff < 0) return None
    val available = bytes.length - dataOff
    val truncated = available < dataLen
    val frames = dataLen / (ch * 2)
    Some((rate, ch, frames, dataOff, truncated))
  }

  def decodeAudio(bytes: Array[Byte]): Option[AudioInfo] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    parseWavPcm16(bytes) match {
      case Some((rate, ch, frames, dataOff, truncated)) =>
        if (truncated) return None
        var amp = 0L; var ch0 = 0L
        val total = frames * ch
        var i = 0L
        while (i < total) {
          val o = dataOff + 2 * i.toInt
          val s = (((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff))
            .toShort.toLong
          amp += s
          if (i % ch == 0) ch0 += s
          i += 1
        }
        return Some(AudioInfo("wave", rate, ch, 16, frames, amp, ch0))
      case None => ()
    }
    if (!maybeAudio(bytes)) return None
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val bis = new java.io.ByteArrayInputStream(bytes)
      val fileFmt = AudioSystem.getAudioFileFormat(bis)
      bis.reset()
      val ais = AudioSystem.getAudioInputStream(bis)
      try {
        val f = ais.getFormat
        val ch = f.getChannels
        val bits = f.getSampleSizeInBits
        val signed = f.getEncoding == AudioFormat.Encoding.PCM_SIGNED
        if (bits != 16 || !signed || ch <= 0) None
        else {
          val declaredFrames = ais.getFrameLength
          val frameBytes = ch * 2
          val data = ais.readAllBytes()
          // a truncated RIFF body (declared length > actual payload) is
          // corrupt — flag it rather than summing a partial stream
          if (declaredFrames >= 0 && data.length < declaredFrames * frameBytes)
            None
          else {
            val nFrames = data.length / frameBytes
            var amp = 0L; var ch0 = 0L
            var i = 0
            val le = !f.isBigEndian
            while (i < nFrames * ch) {
              val b0 = data(2 * i) & 0xff; val b1 = data(2 * i + 1) & 0xff
              val s = (if (le) (b1 << 8) | b0 else (b0 << 8) | b1).toShort.toLong
              amp += s
              if (i % ch == 0) ch0 += s
              i += 1
            }
            Some(AudioInfo(
              fileFmt.getType.toString.toLowerCase(java.util.Locale.ROOT),
              math.round(f.getSampleRate), ch, bits, nFrames.toLong, amp, ch0))
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Encode interleaved 16-bit signed PCM (`sample(ch, i)` per frame `i`)
    * to real WAV bytes (RIFF/PCM16LE header written directly — byte-
    * deterministic) — gates and specs plant decodable audio fixtures
    * whose sample sums an integer SQL oracle can state. */
  def encodeWavPcm16(sampleRate: Int, channels: Int, nFrames: Int)(
      sample: (Int, Int) => Short): Array[Byte] = {
    val dataLen = nFrames * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < channels) { buf.putShort(sample(c, i)); c += 1 }
      i += 1
    }
    buf.array()
  }

  /** Partition-wise REAL audio-metadata extraction (the audio twin of
    * [[imageMeta]]): every blob through [[decodeAudio]]; bytes no reader
    * claims come back `ok=false` with zeroed facts (row preserved).
    * Narrow — blobs never shuffle; only this typed row flows on. */
  def audioMeta(df: DataFrame, idCol: String, blobCol: String): Dataset[AudioMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeAudio(bytes) match {
            case Some(a) =>
              AudioMeta(id, bytes.length.toLong, ok = true, a.format,
                a.sample_rate, a.channels, a.bits, a.n_frames,
                a.n_frames * 1000.0 / a.sample_rate, a.amp_sum, a.ch0_sum)
            case None =>
              AudioMeta(id, bytes.length.toLong, ok = false, "unknown",
                0, 0, 0, 0L, 0.0, 0L, 0L)
          }
        }
      }
  }

  /** REAL 64-bit audio fingerprint — the dHash idea on the time axis:
    * decode PCM16, split channel 0's samples into 65 equal-share blocks
    * (block b covers frames [b·n/65, (b+1)·n/65)), per-block integer
    * mean amplitude (sum / count, deterministic integer division), bit
    * k set iff mean(k+1) > mean(k). The energy-envelope signature is
    * robust to small edits and bit-reproducible across engines —
    * near-identical takes differ in few bits, so
    * [[graft.dedup.Dedup.hammingNearDupPairs]] is the similarity path
    * (same operator as image dHash). `None` for non-PCM16 / corrupt
    * bytes or fewer than 65 frames (no meaningful envelope). */
  /** 64 strict-mean envelope bits over 65 equal-share blocks of a
    * sequence — the shared fold behind [[audioPHash64]] (per-frame
    * channel-0 samples) and [[videoPHash64]] (per-frame luma sums):
    * bit k set iff integer block mean k+1 > block mean k. None below
    * 65 elements (no meaningful envelope). */
  private def envelope64(n: Long, sample: Int => Long): Option[Long] = {
    if (n < 65) return None
    val sums = new Array[Long](65)
    val counts = new Array[Long](65)
    var i = 0
    while (i < n) {
      val blk = (i.toLong * 65 / n).toInt
      sums(blk) += sample(i); counts(blk) += 1
      i += 1
    }
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (sums(k + 1) / counts(k + 1) > sums(k) / counts(k))
        hash |= 1L << k
      k += 1
    }
    Some(hash)
  }

  def audioPHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    parseWavPcm16(bytes) match {
      case Some((_, ch, frames, dataOff, truncated)) =>
        if (truncated) return None
        return envelope64(frames, { i =>
          val o = dataOff + 2 * ch * i
          (((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)).toShort.toLong
        })
      case None => ()
    }
    if (!maybeAudio(bytes)) return None
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val bis = new java.io.ByteArrayInputStream(bytes)
      val ais = AudioSystem.getAudioInputStream(bis)
      try {
        val f = ais.getFormat
        val ch = f.getChannels
        val bits = f.getSampleSizeInBits
        val signed = f.getEncoding == AudioFormat.Encoding.PCM_SIGNED
        if (bits != 16 || !signed || ch <= 0) None
        else {
          val declaredFrames = ais.getFrameLength
          val frameBytes = ch * 2
          val data = ais.readAllBytes()
          if (declaredFrames >= 0 && data.length < declaredFrames * frameBytes)
            None
          else {
            val le = !f.isBigEndian
            envelope64(data.length / frameBytes, { i =>
              val b0 = data(frameBytes * i) & 0xff
              val b1 = data(frameBytes * i + 1) & 0xff
              (if (le) (b1 << 8) | b0 else (b0 << 8) | b1).toShort.toLong
            })
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL 64-bit temporal video fingerprint: walk the Y4M frames, split
    * them into 65 equal-share groups, per-group integer mean of the
    * frame luma sums (frames are constant-size within a stream, so the
    * comparison is brightness-envelope order), bit k set iff
    * group-mean(k+1) > group-mean(k). The temporal-brightness signature
    * pairs with [[graft.dedup.Dedup.hammingNearDupPairs]] like the
    * image/audio hashes. `None` for non-Y4M / truncated bytes or fewer
    * than 65 frames. */
  def videoPHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    val frameSums = scala.collection.mutable.ArrayBuffer.empty[Long]
    walkY4m(bytes) { (_, off, len) =>
      var i = off
      val end = off + len
      var s = 0L
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      frameSums += s
    }.flatMap { case (_, _, _, _, n) =>
      envelope64(n, frameSums(_))
    }
  }

  /** [[imagePHash]]'s audio twin: (id, ok, phash) via [[audioPHash64]],
    * corrupt rows kept flagged with a null hash. */
  def audioPHash(df: DataFrame, idCol: String, blobCol: String): DataFrame =
    phashDf(df, idCol, blobCol)(audioPHash64)

  /** [[imagePHash]]'s video twin: (id, ok, phash) via [[videoPHash64]]. */
  def videoPHash(df: DataFrame, idCol: String, blobCol: String): DataFrame =
    phashDf(df, idCol, blobCol)(videoPHash64)

  /** REAL sample-derived audio features: per-channel mean amplitude
    * (signed, normalized by 1<<15 into [-1,1)) as a dense `array<double>`
    * embedding — audio → embedding → similarity with an actual decoder
    * in the loop, mirroring [[imageFeatures]]. Undecodable blobs yield a
    * null embedding (kept). */
  def audioFeatures(df: DataFrame, idCol: String, blobCol: String,
                    embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val emb = decodeAudioChannelSums(bytes).orNull
          (id, emb)
        }
      }
      .toDF(idCol, embCol)
  }

  /** Per-channel mean amplitude for [[audioFeatures]] — separate from
    * [[decodeAudio]] so the meta path stays allocation-light. Takes the
    * same lock-free [[parseWavPcm16]] fast path; only non-WAV or
    * truncated bytes reach javax.sound's synchronized registry. */
  private def decodeAudioChannelSums(bytes: Array[Byte]): Option[Array[Double]] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    parseWavPcm16(bytes) match {
      case Some((_, ch, frames, dataOff, truncated)) if !truncated =>
        if (frames == 0) return None
        val sums = new Array[Double](ch)
        val total = frames * ch
        var i = 0L
        while (i < total) {
          val o = dataOff + 2 * i.toInt
          sums((i % ch).toInt) +=
            (((bytes(o + 1) & 0xff) << 8) | (bytes(o) & 0xff)).toShort.toInt
          i += 1
        }
        return Some(sums.map(_ / frames / (1 << 15)))
      case _ => ()
    }
    if (!maybeAudio(bytes)) return None
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    try {
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val ch = f.getChannels
        if (f.getSampleSizeInBits != 16 ||
            f.getEncoding != AudioFormat.Encoding.PCM_SIGNED || ch <= 0) None
        else {
          val data = ais.readAllBytes()
          val nFrames = data.length / (ch * 2)
          if (nFrames == 0) None
          else {
            val sums = new Array[Double](ch)
            val le = !f.isBigEndian
            var i = 0
            while (i < nFrames * ch) {
              val b0 = data(2 * i) & 0xff; val b1 = data(2 * i + 1) & 0xff
              sums(i % ch) +=
                (if (le) (b1 << 8) | b0 else (b0 << 8) | b1).toShort.toInt
              i += 1
            }
            Some(sums.map(_ / nFrames / (1 << 15)))
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Walk a Y4M (YUV4MPEG2) stream: parse the header, then visit every
    * frame's luma plane via `onFrame(frameIdx, yOffset, yLength)`.
    * Returns `(width, height, fpsNum, fpsDen, nFrames)`, or `None` for
    * bytes that are not Y4M, an unsupported colorspace, or a stream
    * TRUNCATED mid-frame (a FRAME marker whose declared planes overrun
    * the payload) — corruption flags the whole blob rather than
    * reporting a silently short video. Y4M is raw planar YUV behind
    * text headers, so this is a REAL pixel-level decode with zero codec
    * dependencies — same play as [[decodeImage]] (javax.imageio) and
    * [[decodeAudio]] (javax.sound.sampled). */
  private def walkY4m(bytes: Array[Byte])(
      onFrame: (Int, Int, Int) => Unit): Option[(Int, Int, Int, Int, Int)] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
    val headerEnd = bytes.indexOf('\n'.toByte)
    if (bytes.length < magic.length ||
        !java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(bytes, 0, magic.length), magic) ||
        headerEnd < 0) None
    else {
      val params = new String(bytes, magic.length, headerEnd - magic.length,
        "US-ASCII").split(' ').filter(_.nonEmpty)
      def num(tag: Char): Option[Int] =
        params.collectFirst { case p if p.head == tag => p.tail }
          .flatMap(_.toIntOption)
      val fps = params.collectFirst { case p if p.head == 'F' => p.tail }
        .map(_.split(':')).collect { case Array(n, d) =>
          (n.toIntOption.getOrElse(0), d.toIntOption.getOrElse(0)) }
        .getOrElse((0, 0))
      val cs = params.collectFirst { case p if p.head == 'C' => p.tail }
        .getOrElse("420jpeg") // Y4M default colorspace is 4:2:0
      (num('W'), num('H')) match {
        case (Some(w), Some(h)) if w > 0 && h > 0 &&
            fps._1 > 0 && fps._2 > 0 =>
          val ySize = w * h
          val chromaSize =
            if (cs.startsWith("420")) ((w + 1) / 2) * ((h + 1) / 2)
            else if (cs.startsWith("422")) ((w + 1) / 2) * h
            else if (cs.startsWith("444")) w * h
            else if (cs.startsWith("mono")) 0
            else -1 // unsupported colorspace
          if (chromaSize < 0) None
          else {
            val frameBytes = ySize + 2 * chromaSize
            val frameMagic = "FRAME".getBytes("US-ASCII")
            var pos = headerEnd + 1
            var n = 0
            var corrupt = false
            while (!corrupt && pos < bytes.length) {
              // each frame: "FRAME"[ params]"\n" then raw planes
              val fEnd = bytes.indexOf('\n'.toByte, pos)
              if (pos + frameMagic.length > bytes.length || fEnd < 0 ||
                  !java.util.Arrays.equals(java.util.Arrays.copyOfRange(
                    bytes, pos, pos + frameMagic.length), frameMagic) ||
                  fEnd + 1 + frameBytes > bytes.length)
                corrupt = true
              else {
                onFrame(n, fEnd + 1, ySize)
                pos = fEnd + 1 + frameBytes
                n += 1
              }
            }
            if (corrupt) None else Some((w, h, fps._1, fps._2, n))
          }
        case _ => None
      }
    }
  }

  /** Decode a Y4M video blob to [[VideoInfo]]: header facts plus exact
    * luma sums over every frame (and frame 0 alone) — `None` for
    * non-Y4M / unsupported / truncated bytes. */
  def decodeVideo(bytes: Array[Byte]): Option[VideoInfo] = {
    if (bytes == null) return None // null blob: flagged row, never a crash
    var ySum = 0L
    var y0Sum = 0L
    walkY4m(bytes) { (idx, off, len) =>
      var i = off
      val end = off + len
      var s = 0L
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      ySum += s
      if (idx == 0) y0Sum = s
    }.map { case (w, h, fn, fd, n) =>
      VideoInfo(w, h, fn, fd, n, ySum, y0Sum)
    }
  }

  /** Encode luma `y(frame, pixelIdx)` (bytes 0-255, row-major over
    * width*height) as a real Y4M stream with neutral (128) chroma at
    * 4:2:0 — byte-deterministic, so gates and specs plant decodable
    * video fixtures whose luma sums an integer SQL oracle can state.
    * `width`/`height` must be even (the 4:2:0 contract). */
  def encodeY4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                nFrames: Int)(y: (Int, Int) => Int): Array[Byte] = {
    require(width % 2 == 0 && height % 2 == 0,
      s"4:2:0 needs even dimensions, got ${width}x$height")
    val header =
      s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII")
    val ySize = width * height
    val chromaSize = (width / 2) * (height / 2)
    val frameHdr = "FRAME\n".getBytes("US-ASCII")
    val out = java.nio.ByteBuffer.allocate(
      header.length + nFrames * (frameHdr.length + ySize + 2 * chromaSize))
    out.put(header)
    var f = 0
    while (f < nFrames) {
      out.put(frameHdr)
      var p = 0
      while (p < ySize) { out.put((y(f, p) & 0xff).toByte); p += 1 }
      var c = 0
      while (c < 2 * chromaSize) { out.put(128.toByte); c += 1 }
      f += 1
    }
    out.array()
  }

  /** Partition-wise REAL video-metadata extraction (the video twin of
    * [[imageMeta]] / [[audioMeta]]): every blob through [[decodeVideo]];
    * non-Y4M or truncated bytes come back `ok=false` with zeroed facts
    * (row preserved). Narrow — blobs never shuffle; only this typed row
    * flows on. */
  def videoMeta(df: DataFrame, idCol: String, blobCol: String): Dataset[VideoMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeVideo(bytes) match {
            case Some(v) =>
              VideoMeta(id, bytes.length.toLong, ok = true, "y4m",
                v.width, v.height, v.fps_num, v.fps_den, v.n_frames,
                v.y_sum, v.y0_sum)
            case None =>
              VideoMeta(id, bytes.length.toLong, ok = false, "unknown",
                0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
  }

  /** REAL video frame sampling: every `every`-th DECODED frame of each
    * Y4M blob as one row with its exact luma sum — the decoded upgrade
    * of the byte-chunk [[frameSample]]. Corrupt / non-Y4M blobs yield
    * no rows here (use [[videoMeta]]'s `ok` flag for accounting).
    * Narrow: the per-frame reduction happens inside the partition; raw
    * frames never shuffle. */
  def videoFrames(df: DataFrame, idCol: String, blobCol: String,
                  every: Int): Dataset[VideoFrameRow] = {
    require(every > 0, s"every must be positive, got $every")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val rows = scala.collection.mutable.ArrayBuffer.empty[VideoFrameRow]
          walkY4m(bytes) { (idx, off, len) =>
            if (idx % every == 0) {
              var i = off
              val end = off + len
              var s = 0L
              while (i < end) { s += bytes(i) & 0xff; i += 1 }
              rows += VideoFrameRow(id, idx, s)
            }
          } match {
            case Some(_) => rows
            case None => Nil // corrupt: no phantom frames
          }
        }
      }
  }

  /** SCENE-CUT detection over REAL Y4M decode: a cut at frame f when
    * the absolute luma-sum change from frame f−1 reaches
    * `tauPerPixel` per pixel — the integer cross-multiplied form
    * |Σy_f − Σy_{f−1}| ≥ τ·(w·h), so the flag set is exact int64 and
    * engine-reproducible (the shot-boundary step of a video-curation
    * pipeline: split clips at cuts before frame-sampling). One frame
    * walk per blob scan-side (sums + plane length in one pass), one
    * per-video lag window; corrupt blobs contribute no rows.
    *
    * Returns (id, frame_idx ≥ 1, y_sum, prev_sum, cut 0/1). */
  def sceneCuts(df: DataFrame, idCol: String, blobCol: String,
      tauPerPixel: Int): DataFrame = {
    require(tauPerPixel > 0, s"tauPerPixel must be positive, got $tauPerPixel")
    val spark = df.sparkSession
    import spark.implicits._
    val frames = df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val rows = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, Int)]
          walkY4m(bytes) { (idx, off, len) =>
            var i = off
            val end = off + len
            var s = 0L
            while (i < end) { s += bytes(i) & 0xff; i += 1 }
            rows += ((id, idx, s, len))
          } match {
            case Some(_) => rows
            case None => Nil
          }
        }
      }.toDF("id", "frame_idx", "y_sum", "y_len")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev_sum", lag(col("y_sum"), 1).over(w))
      .filter(col("prev_sum").isNotNull)
      .withColumn("cut",
        (abs(col("y_sum") - col("prev_sum")) >=
          lit(tauPerPixel.toLong) * col("y_len")).cast("int"))
      .select(col("id"), col("frame_idx"), col("y_sum"), col("prev_sum"),
        col("cut"))
  }

  /** REAL pixel-derived video features: mean luma per frame (normalized
    * by 255 into [0,1]) as a dense `array<double>` temporal profile —
    * video → embedding → similarity with an actual frame walk in the
    * loop, mirroring [[imageFeatures]] / [[audioFeatures]]. Undecodable
    * blobs yield a null embedding (kept). */
  def videoFeatures(df: DataFrame, idCol: String, blobCol: String,
                    embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val sums = scala.collection.mutable.ArrayBuffer.empty[Double]
          val emb = walkY4m(bytes) { (_, off, len) =>
            var i = off
            val end = off + len
            var s = 0L
            while (i < end) { s += bytes(i) & 0xff; i += 1 }
            sums += s.toDouble / len / 255.0
          } match {
            case Some(_) if sums.nonEmpty => sums.toArray
            case _ => null
          }
          (id, emb)
        }
      }
      .toDF(idCol, embCol)
  }

  /** STUB decode — the COMPRESSED video/audio codec path (mp4/mp3/etc
    * libraries genuinely aren't in this container) and the fallback for
    * bytes no real decoder claims: deterministic fake "format" from
    * the first byte, dimensions from header bytes. A real media library
    * call replaces this body (per-partition, so codec state/buffers are
    * reused across the batch); images, PCM audio, and Y4M video never
    * reach it — [[decodeMeta]] routes them through the real
    * [[decodeImage]] / [[decodeAudio]] / [[decodeVideo]] first. */
  def decodeStub(bytes: Array[Byte]): (String, Int, Int, Int) = {
    val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
    val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
    val format = if (b0 % 3 == 0) "img" else if (b0 % 3 == 1) "audio" else "video"
    val width = 16 + (b0 % 64)
    val height = 16 + (b1 % 64)
    val nFrames = 1 + (bytes.length % 30)
    (format, width, height, nFrames)
  }

  /** Partition-wise metadata extraction over (id, blob) rows → typed
    * Dataset[MediaMeta]. Images decode for REAL ([[decodeImage]] —
    * format/width/height from actual pixels, single frame), as do PCM
    * audio ([[decodeAudio]] — width carries the channel count, n_frames
    * the true frame count) and uncompressed Y4M video ([[decodeVideo]] —
    * true dimensions and frame count); only bytes no real decoder
    * claims (compressed codecs the JDK lacks: mp4/mp3/etc) fall back to
    * [[decodeStub]]. The mapPartitions boundary is where a codec
    * amortizes per-task init (dictionary load, JNI handles). */
  def decodeMeta(df: DataFrame, idCol: String, blobCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          decodeImage(bytes) match {
            case Some(i) =>
              MediaMeta(id, bytes.length.toLong, i.format, i.width, i.height, 1)
            case None => decodeAudio(bytes) match {
              case Some(a) =>
                MediaMeta(id, bytes.length.toLong, a.format, a.channels, 0,
                  math.min(a.n_frames, Int.MaxValue.toLong).toInt)
              case None => decodeVideo(bytes) match {
                case Some(v) =>
                  MediaMeta(id, bytes.length.toLong, "y4m", v.width, v.height,
                    v.n_frames)
                case None =>
                  val (format, w, h, n) = decodeStub(bytes)
                  MediaMeta(id, bytes.length.toLong, format, w, h, n)
              }
            }
          }
        }
      }
  }

  /** Sample every `every`-th fixed-size chunk ("frame") of each blob —
    * the video-frame-sampling shape: narrow explode, no blob shuffle. */
  def frameSample(
      df: DataFrame, idCol: String, blobCol: String,
      frameSize: Int, every: Int): Dataset[Frame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val nChunks = math.max(1, (bytes.length + frameSize - 1) / frameSize)
          (0 until nChunks by every).iterator.map { i =>
            val off = i * frameSize
            val end = math.min(off + frameSize, bytes.length)
            Frame(id, i, off.toLong, java.util.Arrays.copyOfRange(bytes, off, end))
          }
        }
      }
  }

  /** Pure-SQL blob statistics (no decode): byte length + content digest.
    * These stay in whole-stage codegen and are oracle-verifiable. */
  def blobStats(df: DataFrame, idCol: String, blobCol: String): DataFrame =
    df.select(col(idCol),
      length(col(blobCol)).as("byte_len"),
      md5(col(blobCol)).as("digest"))

  /** REAL image resize: decode with `javax.imageio`, scale with
    * `Graphics2D` (bilinear), re-encode as PNG — all per-partition, the
    * blob never shuffles. Output schema (id, blob, width, height);
    * undecodable blobs fall back to a deterministic byte-stride
    * downsample (so mixed media still flows) with the requested dims
    * recorded. */
  def imageResize(df: DataFrame, idCol: String, blobCol: String,
                  targetW: Int, targetH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val out = scaleImage(bytes, targetW, targetH)
            .getOrElse(byteStrideDownsample(bytes, targetW, targetH))
          (id, out, targetW, targetH)
        }
      }
      .toDF(idCol, blobCol, "width", "height")
  }

  /** Decode → bilinear-scale → PNG-encode; None when the bytes aren't a
    * decodable image. */
  private[multimodal] def scaleImage(
      bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    import java.awt.image.BufferedImage
    try {
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))).map { src =>
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        bos.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def byteStrideDownsample(
      bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val target = math.max(1, targetW * targetH)
    val stride = math.max(1, bytes.length / target)
    Array.range(0, math.min(target, bytes.length))
      .map(i => bytes(math.min(i.toLong * stride, bytes.length - 1).toInt))
  }

  /** STUB feature extraction — a normalized 16-bin byte histogram as the
    * embedding. The output is a dense `array<double>` column compatible
    * with every vector operator (nnJoin / annJoin / embedding near-dup),
    * i.e. the multimodal → embedding → similarity pipeline end-to-end.
    * A real model inference call replaces the histogram; the per-partition
    * batch boundary (where model weights would be loaded once per task)
    * and the output schema are unchanged. */
  def featureExtract(df: DataFrame, idCol: String, blobCol: String,
                     embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(blobCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Double](16)
          bytes.foreach(b => hist((b & 0xff) >> 4) += 1.0)
          val n = math.max(1, bytes.length).toDouble
          (id, hist.map(_ / n))
        }
      }
      .toDF(idCol, embCol)
  }
}
