package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: image/audio as opaque binary columns with
  * typed metadata, processed per-partition in batches.
  *
  * The decode step is REAL: the JDK ships lossless codecs (javax.imageio
  * PNG/BMP, javax.sound.sampled WAV/PCM), so images and audio are decoded
  * by an actual format parser — no external libraries, no stub. Payloads
  * are rendered deterministically from the fixture tables (this container
  * has no binary media corpus), so every feature below is reproducible and
  * self-attesting: a decode failure or a dimension mismatch is visible in
  * the emitted counts. The JDK has no real video codec, so the video
  * family (frame sampling, per-frame hashing, temporally-aligned
  * near-dup) runs on multi-frame GIF as the container stand-in — the
  * same frame-sequence shape; a production path would FFI to a video
  * codec inside the same mapPartitions batch.
  *
  * Scale notes: decode runs inside mapPartitions — one codec warm-up per
  * partition, rows in a tight loop, the Scala analogue of a mapInPandas
  * batch; payload bytes never pass through a shuffle (features are extracted
  * before any aggregation).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata, the schema a 100 TB
    * multimodal corpus table would carry per modality.
    */
  case class MediaRow(doc_id: Long, source: String, mime: String,
      n_bytes: Long, payload: Array[Byte])

  /** Extracted image features: dimensions + channel means + 4-bin luminance
    * histogram (normalized), one row per decodable payload.
    */
  case class ImageFeatures(doc_id: Long, source: String, ok: Boolean,
      width: Int, height: Int, features: Array[Float])

  /** Extracted audio features: format + duration + RMS amplitude. */
  case class AudioFeatures(doc_id: Long, source: String, ok: Boolean,
      sample_rate: Int, n_frames: Long, duration_ms: Double, rms: Double)

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // creates and deletes a temp file, which for thumbnail-sized payloads
  // costs more than the codec itself (NOTES round 9: 161 -> 67 us per
  // render+decode round-trip with the cache off). Media payloads here are
  // bounded (asImageTable thumbnails, sampled GIF frames), so the
  // in-memory stream path is strictly better; set once per JVM at first
  // touch of this object — executors initialize it before any codec call.
  javax.imageio.ImageIO.setUseCache(false)

  // ---- deterministic payload rendering (fixture -> real format bytes) ----

  /** Deterministic pixel byte for channel k at linear index i — text bytes
    * cycled, hash fallback for empty docs. Shared by the PNG and GIF
    * renderers so their pixel content stays consistent.
    */
  private def pixelByte(docId: Long, bytes: Array[Byte], i: Int, k: Int): Int =
    if (bytes.isEmpty) ((docId + k * 31 + i) % 256).toInt
    else bytes(math.floorMod(i * 3 + k, bytes.length)) & 0xff

  /** Render a doc as a real PNG: 24x16 RGB, pixels derived from the text
    * bytes (cycled) so content differences are visible in channel stats.
    */
  def renderPng(docId: Long, text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val w = 24; val h = 16
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        img.setRGB(x, y, (pixelByte(docId, bytes, i, 0) << 16)
          | (pixelByte(docId, bytes, i, 1) << 8) | pixelByte(docId, bytes, i, 2))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Render a doc as a real WAV: 16-bit mono PCM at 8 kHz, a sine tone whose
    * frequency and duration derive from the doc (freq 200..600 Hz,
    * 400 + (n_chars mod 400) frames).
    */
  def renderWav(docId: Long, nChars: Long): Array[Byte] = {
    val sampleRate = 8000
    val nFrames = 400 + (math.floorMod(nChars, 400L)).toInt
    val freq = 200.0 + math.floorMod(docId, 400L)
    // canonical 44-byte RIFF/WAVE header written directly — byte-identical
    // to AudioSystem.write's output for PCM, without the stream/provider
    // machinery that costs ~50 us per call (NOTES round 9: the sine loop is
    // ~2 us; the codec plumbing was the render). attenuateWav keeps the
    // real codec round-trip — that's where the fixture's "through the
    // JDK codec" claim lives.
    val dataLen = nFrames * 2
    val out = new Array[Byte](44 + dataLen)
    def w32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def tag(o: Int, s: String): Unit = {
      var i = 0; while (i < 4) { out(o + i) = s.charAt(i).toByte; i += 1 }
    }
    tag(0, "RIFF"); w32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16); w16(20, 1); w16(22, 1)
    w32(24, sampleRate); w32(28, sampleRate * 2); w16(32, 2); w16(34, 16)
    tag(36, "data"); w32(40, dataLen)
    var i = 0
    while (i < nFrames) {
      val s = (math.sin(2 * math.Pi * freq * i / sampleRate) * 12000).toInt
      out(44 + 2 * i) = (s & 0xff).toByte
      out(44 + 2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Fast-path RIFF chunk walk for 16-bit PCM little-endian WAVs:
    * (sampleRate, blockAlign, dataOffset, dataLength), or None for
    * ANYTHING the strict parse doesn't recognize — callers fall back to
    * the JDK codec (AIFF/AU, compressed encodings, exotic chunk layouts).
    * Rationale (NOTES round 9): AudioSystem.getAudioInputStream costs ~45 us
    * per call in provider/stream machinery against ~7 us for the whole
    * Goertzel kernel — on a corpus-sized hash the codec plumbing WAS the
    * row. A container chunk walk is what production fingerprinters do;
    * the decode math downstream is unchanged.
    */
  private[operators] def wavPcm16(p: Array[Byte]): Option[(Double, Int, Int, Int)] = {
    def u32(o: Int): Long = (p(o) & 0xffL) | ((p(o + 1) & 0xffL) << 8) |
      ((p(o + 2) & 0xffL) << 16) | ((p(o + 3) & 0xffL) << 24)
    def u16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def tag(o: Int, s: String): Boolean =
      p(o) == s.charAt(0) && p(o + 1) == s.charAt(1) &&
        p(o + 2) == s.charAt(2) && p(o + 3) == s.charAt(3)
    if (p.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var off = 12
    var rate = -1.0; var blockAlign = -1
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= p.length) {
      val sz = u32(off + 4)
      if (sz < 0 || sz > Int.MaxValue || off + 8 + sz > p.length) return None
      if (tag(off, "fmt ")) {
        if (sz < 16) return None
        if (u16(off + 8) != 1 || u16(off + 22) != 16) return None // PCM, 16-bit
        rate = u32(off + 12).toDouble
        blockAlign = u16(off + 20)
      } else if (tag(off, "data")) {
        dataOff = off + 8; dataLen = sz.toInt
      }
      off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    if (rate > 0 && blockAlign > 0 && dataOff >= 0) Some((rate, blockAlign, dataOff, dataLen))
    else None
  }

  // ---- REAL decoders (JDK codecs) ----

  /** Decode any ImageIO-supported payload (PNG/BMP/GIF/JPEG): dimensions,
    * per-channel means, 4-bin luminance histogram. None for undecodable
    * bytes (corrupt rows must not kill a 100 TB job — callers count them).
    * NonFatal, not just IOException: the JDK codecs throw RuntimeExceptions
    * (IllegalArgument, NegativeArraySize, index OOB) on malformed headers.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(payload))).map { img =>
        val w = img.getWidth; val h = img.getHeight
        var r = 0L; var g = 0L; var b = 0L
        val hist = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val pr = (p >> 16) & 0xff; val pg = (p >> 8) & 0xff; val pb = p & 0xff
            r += pr; g += pg; b += pb
            val luma = (pr * 299 + pg * 587 + pb * 114) / 1000
            hist(math.min(3, luma / 64)) += 1
            x += 1
          }
          y += 1
        }
        val n = (w * h).toFloat
        (w, h, Array(r / n / 255f, g / n / 255f, b / n / 255f,
          hist(0) / n, hist(1) / n, hist(2) / n, hist(3) / n))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode a WAV payload: format, frame count, duration, RMS of the 16-bit
    * samples. None for undecodable bytes.
    */
  def decodeWav(payload: Array[Byte]): Option[(Int, Long, Double, Double)] =
    try {
      // fast path: strict RIFF walk (wavPcm16); codec fallback otherwise —
      // same (sampleRate, frames, duration, rms) either way: frames =
      // dataLen / blockAlign exactly as AudioInputStream.getFrameLength
      // reports it, rms over the same 16-bit LE sample stream.
      val (sr, nFrames, data, off, len) = wavPcm16(payload) match {
        case Some((rate, blockAlign, dataOff, dataLen)) =>
          (rate, dataLen.toLong / blockAlign, payload, dataOff, dataLen)
        case None =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          val d = ais.readAllBytes()
          (fmt.getSampleRate.toDouble, ais.getFrameLength, d, 0, d.length)
      }
      var sumSq = 0.0
      var i = off
      while (i + 1 < off + len) {
        val s = ((data(i + 1) << 8) | (data(i) & 0xff)).toShort.toDouble
        sumSq += s * s
        i += 2
      }
      val n = len / 2
      val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
      Some((sr.toInt, nFrames, nFrames * 1000.0 / sr, rms))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL resize: decode, nearest-neighbor-free Graphics2D scale, re-encode.
    * Returns None if the payload doesn't decode.
    */
  def resizePng(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(payload))).map { img =>
        val scaled = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = scaled.createGraphics()
        try g2.drawImage(img, 0, 0, w, h, null) finally g2.dispose()
        val out = new ByteArrayOutputStream()
        javax.imageio.ImageIO.write(scaled, "png", out)
        out.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Render a doc as a real multi-frame GIF (the JDK's stand-in for a video
    * container — same frame-sequence shape, real codec both directions).
    * Frame f shifts the pixel pattern so frames are distinguishable.
    */
  def renderGif(docId: Long, text: String, nFrames: Int): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val w = 16; val h = 12
    val out = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    // try/finally on the writer/stream pair: ImageIO output streams are
    // file-cache backed by default, so an exception path that skips close()
    // leaks a temp-file handle per call on a long-lived executor.
    try {
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = y * w + x + f * 7 // frame-dependent shift
          img.setRGB(x, y, (pixelByte(docId, bytes, i, 0) << 16)
            | (pixelByte(docId, bytes, i, 1) << 8) | pixelByte(docId, bytes, i, 2))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    } finally {
      try ios.close() finally writer.dispose()
    }
    out.toByteArray
  }

  /** REAL frame sampling: open the multi-frame payload with the JDK GIF
    * reader and decode every `everyK`-th frame only (the reader seeks by
    * frame index — unsampled frames are not decoded). Returns
    * (frameIndex, width, height, meanLuma) per sampled frame; Nil for
    * undecodable payloads.
    */
  def sampleFrames(payload: Array[Byte], everyK: Int): Seq[(Int, Int, Int, Double)] =
    try {
      require(everyK > 0)
      // iis is file-cache backed by default: close it (and dispose the
      // reader) on EVERY path, including a throw from reader.read on corrupt
      // bytes — a stream of bad payloads must not leak temp-file handles on
      // a long-lived executor.
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Nil
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            (0 until n by everyK).map { f =>
              val img = reader.read(f)
              var luma = 0L
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val p = img.getRGB(x, y)
                  luma += (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
                  x += 1
                }
                y += 1
              }
              (f, img.getWidth, img.getHeight,
                luma.toDouble / (img.getWidth * img.getHeight))
            }
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** Perceptual difference-hash (dHash) of a decoded image: area-average
    * grayscale down to a 9x8 grid, one bit per adjacent-column comparison
    * (left < right), 64 bits total. Robust to small pixel edits and
    * re-encodes — the image analogue of simhash, and it composes with the
    * SAME Hamming band-bucket machinery (Dedup.hammingPairs): image
    * near-dup at corpus scale is a band join on dHash bands, never a
    * pairwise pixel compare.
    */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    // area-average grayscale: each grid cell sums the pixels whose centers
    // fall in [x0, x1) x [y0, y1) under uniform subdivision
    val cell = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh; val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw; val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            n += 1
            x += 1
          }
          y += 1
        }
        cell(gy)(gx) = if (n == 0) 0.0 else sum / n
        gx += 1
      }
      gy += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      val r = i / 8; val c = i % 8
      if (cell(r)(c) < cell(r)(c + 1)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** (doc_id, h) perceptual hashes for every decodable payload — batched
    * decode + hash in one mapPartitions pass; undecodable rows drop (a
    * 100 TB corpus always has corrupt bytes; callers count them upstream
    * via extractImageFeatures.ok if they need the tally).
    */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      try {
        Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(r.payload)))
          .map(img => (r.doc_id, dHash64(img)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }).toDF("doc_id", "h")
  }

  /** documents -> real multi-frame GIF payload table (the video stand-in:
    * same frame-sequence container shape, real codec both directions).
    */
  def asVideoTable(docs: DataFrame, nFrames: Int = 8): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val gif = renderGif(id, text, nFrames)
        MediaRow(id, src, "image/gif", gif.length.toLong, gif)
      })
  }

  /** (doc_id, frame, h) perceptual hashes for EVERY frame of a multi-frame
    * payload — imageHashes' video twin: one reader open per row, frames
    * decoded in sequence, dHash64 each. Undecodable payloads drop.
    */
  def videoFrameHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new ByteArrayInputStream(r.payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) Nil
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              (0 until reader.getNumImages(true))
                .map(f => (r.doc_id, f, dHash64(reader.read(f))))
            } finally reader.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }).toDF("doc_id", "frame", "h")
  }

  /** Exact-duplicate collapse at fingerprint granularity: (doc_id, rep)
    * where `rep` is the lowest doc_id sharing the video's FULL ordered
    * frame-hash signature. This is the ppjoin identity-collapse
    * discipline applied to video: a class of g byte-identical (or
    * re-encoded-identical) videos forms C(g,2) pairs that NO banding can
    * split (identical signatures land in identical buckets by design —
    * measured at the 100x corpus: the pair join emitted 643M rows, a 40x
    * blowup the runtime guard flagged, almost all of it intra-class).
    * Collapse first, near-pair REPRESENTATIVES only (videoPairs), and the
    * quadratic term never materializes: group membership answers the
    * intra-class pairs in O(n).
    */
  def videoExactGroups(frameHashes: DataFrame): DataFrame = {
    val sigs = frameHashes.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("frame"), col("h")))).as("sig"))
    sigs.select(col("doc_id"),
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sig")))
        .as("rep"))
  }

  /** Video near-dup: temporally-ALIGNED frame-hash matching — two videos
    * are near-duplicates when at least `minMatchFrames` of their frames
    * match AT THE SAME POSITION within `maxHamming` bits (the standard
    * frame-fingerprint video-dedup shape: a re-encode or a small edit in
    * one frame still matches on the rest; a shifted or re-cut sequence
    * misaligns and does NOT match).
    *
    * Scale design: frame hashes ride the SAME Hamming band join as image
    * dHash and text simhash (Dedup.hammingPairs) with the frame index as
    * an ALIGNMENT key — each position gets its own band-bucket space, so
    * the candidate stream never carries cross-position pairs (a
    * shared-bucket join + post-filter paid ~9x the popcount work; only
    * ~1/9 of its candidates were aligned). The per-pair matched-frame
    * count is then one shuffle on (video1, video2). Callers collapse
    * exact groups FIRST (videoExactGroups) and pass representative
    * hashes only — see its scaladoc for the measured intra-class blowup
    * this dodges; the full dedup verdict is rep-pair OR same-group.
    */
  def videoPairs(frameHashes: DataFrame, maxHamming: Int = 4,
      minMatchFrames: Int = 6): DataFrame =
    Dedup.hammingPairs(
      frameHashes.select(col("frame"), col("doc_id").as("id"), col("h")),
      maxHamming, alignCols = Seq("frame"))
      .groupBy(col("id1").as("v1"), col("id2").as("v2"))
      .agg(countDistinct(col("frame")).as("n_frames"),
        max(col("hamming")).as("max_hamming"))
      .where(col("n_frames") >= minMatchFrames)

  /** Re-encode a multi-frame GIF with one pixel inverted in ONE frame —
    * the deterministic video near-duplicate fixture (same sequence through
    * a real decode + edit + re-encode pass), invertOnePixel's video twin.
    */
  def invertOnePixelInFrame(gif: Array[Byte], frame: Int): Array[Byte] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new ByteArrayInputStream(gif))
    val frames = try {
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      try {
        reader.setInput(iis)
        (0 until reader.getNumImages(true)).map { f =>
          val img = reader.read(f)
          // the GIF reader may hand back a palette-indexed image; copy to
          // RGB so the edit and the re-encode see plain pixels
          val rgb = new java.awt.image.BufferedImage(img.getWidth,
            img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g2 = rgb.createGraphics()
          try g2.drawImage(img, 0, 0, null) finally g2.dispose()
          if (f == frame) rgb.setRGB(0, 0, rgb.getRGB(0, 0) ^ 0xffffff)
          rgb
        }
      } finally reader.dispose()
    } finally iis.close()
    val out = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally {
      try ios.close() finally writer.dispose()
    }
    out.toByteArray
  }

  /** Re-encode a PNG with one corner pixel inverted — the deterministic
    * near-duplicate fixture for image dedup (same content, one edit plus a
    * fresh encode pass).
    */
  def invertOnePixel(png: Array[Byte]): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(png))
    img.setRGB(0, 0, img.getRGB(0, 0) ^ 0xffffff)
    val out = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ---- table builders ----

  /** Wrap the documents table's text as a raw binary payload column (the
    * stand-in for reading real bytes via the binaryFile source at scale).
    */
  def asMediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      col("source"),
      lit("application/octet-stream").as("mime"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      encode(col("text"), "UTF-8").as("payload")).as[MediaRow]
  }

  /** documents -> real PNG payload table (rendered per partition). */
  def asImageTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val png = renderPng(id, text)
        MediaRow(id, src, "image/png", png.length.toLong, png)
      })
  }

  /** documents -> real WAV payload table. */
  def asAudioTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("source"), octet_length(col("text")).cast("long"))
      .as[(Long, String, Long)]
      .mapPartitions(_.map { case (id, src, nChars) =>
        val wav = renderWav(id, nChars)
        MediaRow(id, src, "audio/wav", wav.length.toLong, wav)
      })
  }

  /** 64-bit spectral fingerprint of a WAV payload — the audio twin of
    * dHash64 (Haitsma & Kalker 2002 bit derivation): the PCM stream is
    * cut into 16 equal time chunks, each chunk's power measured at 5
    * probe frequencies (Goertzel), and each bit is the SIGN of an
    * adjacent-band power difference (16 chunks x 4 comparisons = 64
    * bits). Sign-of-difference bits are invariant to amplitude scaling
    * (gain multiplies every band by the same factor) and robust to
    * re-encoding — exactly the perturbations an audio dedup must see
    * through — while different tones flip band orderings. None for
    * undecodable or too-short payloads.
    */
  def spectralHash64(payload: Array[Byte]): Option[Long] =
    try {
      wavPcm16(payload) match {
        case Some((sr, _, off, len)) =>
          spectralBits(payload, off, len / 2, sr)
        case None =>
          // codec fallback: any container the strict WAV walk declined
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          val data = ais.readAllBytes()
          spectralBits(data, 0, data.length / 2, fmt.getSampleRate.toDouble)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The Goertzel bit derivation over 16-bit LE samples at data(off..):
    * identical math for the fast path and the codec fallback.
    */
  private def spectralBits(data: Array[Byte], off: Int, n: Int,
      sr: Double): Option[Long] = {
    if (n < 32) None
    else {
      val samples = new Array[Double](n)
      var i = 0
      while (i < n) {
        samples(i) = ((data(off + 2 * i + 1) << 8) |
          (data(off + 2 * i) & 0xff)).toShort.toDouble
        i += 1
      }
      val freqs = Array(220.0, 320.0, 420.0, 520.0, 620.0)
      val chunks = 16
      var bits = 0L
      var c = 0
      while (c < chunks) {
        val lo = c * n / chunks
        val hi = math.max(lo + 1, (c + 1) * n / chunks)
        val p = freqs.map(f => goertzelPower(samples, lo, hi, f, sr))
        var k = 0
        while (k < 4) {
          if (p(k) < p(k + 1)) bits |= (1L << (c * 4 + k))
          k += 1
        }
        c += 1
      }
      Some(bits)
    }
  }

  /** Goertzel power of samples[lo, hi) at frequency f. */
  private def goertzelPower(s: Array[Double], lo: Int, hi: Int,
      f: Double, sampleRate: Double): Double = {
    val w = 2.0 * math.Pi * f / sampleRate
    val coeff = 2.0 * math.cos(w)
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
    var i = lo
    while (i < hi) {
      s0 = s(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** (doc_id, h) spectral hashes for every decodable audio payload —
    * imageHashes' audio twin, feeding the same Dedup.hammingPairs band
    * join.
    */
  def audioHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      spectralHash64(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "h")
  }

  /** Re-encode a WAV attenuated by `gain` — the deterministic audio
    * near-duplicate fixture (same content through a real gain change plus
    * a fresh encode pass), invertOnePixel's audio twin.
    */
  def attenuateWav(wav: Array[Byte], gain: Double): Array[Byte] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    val data = ais.readAllBytes()
    var i = 0
    while (i + 1 < data.length) {
      val s = ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
      val scaled = math.max(Short.MinValue,
        math.min(Short.MaxValue, math.rint(s * gain))).toInt
      data(i) = (scaled & 0xff).toByte
      data(i + 1) = ((scaled >> 8) & 0xff).toByte
      i += 2
    }
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(data), fmt, data.length / fmt.getFrameSize),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ---- batched per-partition extraction ----

  /** Batched image decode: mapPartitions (not per-row map) so codec warm-up
    * happens once per partition and rows run in a tight loop.
    */
  def extractImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodeImage(r.payload) match {
        case Some((w, h, f)) => ImageFeatures(r.doc_id, r.source, ok = true, w, h, f)
        case None => ImageFeatures(r.doc_id, r.source, ok = false, 0, 0, Array.empty)
      }
    })
  }

  /** Batched WAV decode. */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodeWav(r.payload) match {
        case Some((sr, nf, ms, rms)) =>
          AudioFeatures(r.doc_id, r.source, ok = true, sr, nf, ms, rms)
        case None => AudioFeatures(r.doc_id, r.source, ok = false, 0, 0L, 0.0, 0.0)
      }
    })
  }

  /** End-to-end image pipeline: render -> REAL decode -> per-source rollup.
    * Self-attesting: n_failed must be 0 and the decoded dimensions must
    * round-trip the renderer's 24x16.
    */
  def featureSummary(spark: SparkSession, docs: DataFrame): DataFrame = {
    extractImageFeatures(asImageTable(docs))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("n_failed"),
        sum(when(col("width") === 24 && col("height") === 16, 1L).otherwise(0L))
          .as("n_dims_ok"),
        round(avg(element_at(col("features"), 1)), 4).as("avg_r"),
        round(avg(element_at(col("features"), 4)
          + element_at(col("features"), 5)
          + element_at(col("features"), 6)
          + element_at(col("features"), 7)), 4).as("avg_hist_mass"))
      .orderBy("source")
  }
}
