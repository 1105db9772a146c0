package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with typed metadata structs; decode and
  * frame-sample run as partition-batched typed transformations
  * (`mapPartitions` over case classes — the Scala analog of Python's
  * mapInPandas batching).
  *
  * Image decode is REAL: [[ImageIoCodec]] decodes PNG/GIF/BMP/JPEG
  * pixels through `javax.imageio` (the JDK's `java.desktop` module —
  * present in this runtime) and derives exact pixel statistics from
  * actual pixel data. Video payloads that are not RIFF/AVI fall back
  * to the stub frame sampler ([[StubCodec]]) so the pipeline never
  * throws on junk bytes.
  */
object Multimodal {

  /** Typed metadata carried next to every binary payload. */
  final case class MediaMeta(
      mediaType: String,   // "image" | "audio" | "video"
      format: String,      // "png", "wav", ...
      width: Int, height: Int, durationMs: Long)

  final case class MediaRow(id: Long, payload: Array[Byte], meta: MediaMeta)

  final case class FrameSample(id: Long, frameIdx: Int, frameBytes: Array[Byte])

  /** Real pixel decode via the JDK's `javax.imageio` (PNG/GIF/BMP/JPEG).
    * Works headless: decode is pure byte → raster work, no display
    * needed. */
  object ImageIoCodec {
    System.setProperty("java.awt.headless", "true")

    /** Decoded pixel stats with exact integer sums (oracle-friendly). */
    final case class ImageStats(
        width: Int, height: Int, channels: Int, channelSum: Long)

    def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      catch { case _: Exception => None }

    /** Sum of (r+g+b) over all pixels via the sRGB view — exact Long. */
    def stats(img: java.awt.image.BufferedImage): ImageStats = {
      val w = img.getWidth; val h = img.getHeight
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      ImageStats(w, h, img.getRaster.getNumBands, sum)
    }
  }

  /** Deterministic fake codec: every "decoded" value is a pure
    * function of the payload bytes. The frame-sampling fallback for
    * video payloads that do not parse as RIFF/AVI. */
  object StubCodec {
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def sampleFrames(payload: Array[Byte], meta: MediaMeta, everyMs: Long): Seq[Array[Byte]] = {
      val n = math.max(1, (meta.durationMs / math.max(1, everyMs)).toInt)
      val seed = java.util.Arrays.hashCode(payload).toLong
      (0 until n).map(i => Array.tabulate(16)(j => (mix(seed + i * 16 + j) & 0xFF).toByte))
    }
  }

  /** Minimal RIFF/AVI container codec — REAL video plumbing without
    * ffmpeg: writes a standards-shaped MJPEG-style AVI (one `vids`
    * stream; frame payloads in `00dc` chunks) and walks the RIFF tree
    * back to the per-frame byte arrays plus the header timing. Frame
    * payloads are whatever still-image codec the producer chose: JPEG
    * for MJPEG proper, or PNG — which [[ImageIoCodec]] decodes
    * LOSSLESSLY, so frame pixel statistics are oracle-replayable
    * (the q_video_frames contract). Parsing is defensive: any
    * structural violation yields None and callers fall back to the
    * stub, never fail the partition. */
  object AviCodec {
    final case class Avi(usPerFrame: Int, width: Int, height: Int,
                         frames: Seq[Array[Byte]])

    private def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

    def encode(frames: Seq[Array[Byte]], fps: Int,
               width: Int, height: Int): Array[Byte] = {
      require(frames.nonEmpty && fps > 0, "encode needs frames and a rate")
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(fourcc(id)); o.write(le32(body.length)); o.write(body)
        if (body.length % 2 == 1) o.write(0) // RIFF chunks are even-padded
        o.toByteArray
      }
      def list(kind: String, body: Array[Byte]): Array[Byte] = {
        val o = new java.io.ByteArrayOutputStream()
        o.write(fourcc("LIST")); o.write(le32(body.length + 4))
        o.write(fourcc(kind)); o.write(body)
        o.toByteArray
      }
      val maxBytes = frames.map(_.length).max
      val avih = { // 56-byte MainAVIHeader
        val o = new java.io.ByteArrayOutputStream()
        Seq(1000000 / fps, maxBytes * fps, 0, 0, frames.size, 0, 1, maxBytes,
          width, height, 0, 0, 0, 0).foreach(v => o.write(le32(v)))
        o.toByteArray
      }
      val strh = { // 56-byte AVIStreamHeader
        val o = new java.io.ByteArrayOutputStream()
        o.write(fourcc("vids")); o.write(fourcc("MJPG"))
        o.write(le32(0)); o.write(le16(0)); o.write(le16(0))
        o.write(le32(0)); o.write(le32(1)); o.write(le32(fps))
        o.write(le32(0)); o.write(le32(frames.size))
        o.write(le32(maxBytes)); o.write(le32(-1)); o.write(le32(0))
        o.write(le16(0)); o.write(le16(0))
        o.write(le16(width)); o.write(le16(height))
        o.toByteArray
      }
      val strf = { // 40-byte BITMAPINFOHEADER
        val o = new java.io.ByteArrayOutputStream()
        Seq(40, width, height).foreach(v => o.write(le32(v)))
        o.write(le16(1)); o.write(le16(24))
        o.write(fourcc("MJPG")); o.write(le32(width * height * 3))
        Seq(0, 0, 0, 0).foreach(v => o.write(le32(v)))
        o.toByteArray
      }
      val hdrl = list("hdrl",
        chunk("avih", avih) ++
          list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val movi = list("movi",
        frames.toArray.flatMap(f => chunk("00dc", f)))
      val body = fourcc("AVI ") ++ hdrl ++ movi
      val out = new java.io.ByteArrayOutputStream()
      out.write(fourcc("RIFF")); out.write(le32(body.length)); out.write(body)
      out.toByteArray
    }

    def parse(b: Array[Byte]): Option[Avi] = try {
      def rd32(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
      def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
      if (b.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
      var usPerFrame = 0; var w = 0; var h = 0
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      def walk(start: Int, end: Int): Unit = {
        var i = start
        while (i + 8 <= end) {
          val id = tag(i); val sz = rd32(i + 4); val body = i + 8
          // a negative chunk size (corrupt or >2 GiB) would walk
          // BACKWARD and loop forever — reject the container instead
          if (sz < 0) throw new IllegalArgumentException(
            s"negative RIFF chunk size $sz at offset $i")
          // a chunk body running past the buffer is a truncated
          // container — copyOfRange would silently zero-pad the
          // frame; reject instead (long arithmetic: body + sz can
          // overflow Int near Int.MaxValue)
          if (body.toLong + sz > b.length) throw new IllegalArgumentException(
            s"truncated RIFF chunk $id at offset $i: body end ${body.toLong + sz} > ${b.length}")
          if (id == "LIST") walk(body + 4, body + sz)
          else if (id == "avih" && sz >= 40) {
            usPerFrame = rd32(body); w = rd32(body + 32); h = rd32(body + 36)
          } else if ((id.endsWith("dc") || id.endsWith("db")) && sz > 0)
            frames += java.util.Arrays.copyOfRange(b, body, body + sz)
          i = body + sz + (sz & 1)
        }
      }
      walk(12, math.min(b.length, 8 + rd32(4)))
      if (frames.isEmpty || usPerFrame <= 0) None
      else Some(Avi(usPerFrame, w, h, frames.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Frame sampling for video rows: one output row per sampled frame,
    * flatMap keeps memory bounded per input row. A payload that
    * parses as RIFF/AVI yields its REAL embedded frames (sampling
    * stride from the header's frame timing); anything else degrades
    * to the deterministic stub rather than failing the partition. */
  def sampleVideoFrames(media: Dataset[MediaRow], everyMs: Long = 1000L): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      if (r.payload == null || r.meta.mediaType != "video") Iterator.empty
      else AviCodec.parse(r.payload) match {
        case Some(avi) =>
          val msPerFrame = math.max(1.0, avi.usPerFrame / 1000.0)
          val stride = math.max(1, math.round(everyMs / msPerFrame).toInt)
          avi.frames.indices.by(stride).iterator.zipWithIndex
            .map { case (fi, i) => FrameSample(r.id, i, avi.frames(fi)) }
        case None =>
          StubCodec.sampleFrames(r.payload, r.meta, everyMs)
            .iterator.zipWithIndex.map { case (b, i) => FrameSample(r.id, i, b) }
      }
    }
  }

  /** Decode statistics of sampled video frames — the end-to-end
    * "video → frames → pixels" path: AVI walk, then a REAL ImageIO
    * decode per frame. Frames ImageIO cannot parse are dropped
    * (counted rows make the drop visible to the caller). */
  def videoFrameStats(media: Dataset[MediaRow], everyMs: Long = 1000L): DataFrame = {
    import media.sparkSession.implicits._
    sampleVideoFrames(media, everyMs).mapPartitions(_.flatMap { f =>
      ImageIoCodec.readImage(f.frameBytes).map { img =>
        val st = ImageIoCodec.stats(img)
        (f.id, f.frameIdx, st.width, st.height, st.channelSum)
      }
    }).toDF("id", "frame", "width", "height", "channel_sum")
  }

  /** Deterministic synthetic images for end-to-end codec validation:
    * pixel value `v(id,x,y) = (id*31 + x*7 + y*13) % 256` written as a
    * real grayscale-in-RGB image through `ImageIO.write`. PNG and BMP
    * are lossless for 24-bit RGB, so decode must reproduce the exact
    * pixels — and DuckDB can compute the same channel sums analytically,
    * making a real encode→decode round trip hash-checkable. */
  object SyntheticImages {
    def pixel(id: Long, x: Int, y: Int): Int =
      ((id * 31 + x * 7 + y * 13) % 256).toInt

    def encode(id: Long, w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = pixel(id, x, y)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, bos)
      bos.toByteArray
    }
  }

  /** Exact decoded pixel stats per media row (rows whose payload
    * `javax.imageio` can't read are dropped). `channel_sum` is an exact
    * integer; `mean_pixel` is one division of exact integers, so both
    * are engine-portable for oracle hashing. Narrow pass, no shuffle. */
  def imageStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        Option(r.payload).flatMap(ImageIoCodec.readImage).map { img =>
          val s = ImageIoCodec.stats(img)
          (r.id, s.width, s.height, s.channels, s.channelSum,
            s.channelSum / (s.width.toLong * s.height * 3.0 * 255.0))
        }
      }
    }.toDF("id", "width", "height", "channels", "channel_sum", "mean_pixel")
  }

  // ------------------------------------------------------------------
  // Audio: real RIFF/WAVE codec + integer window features
  // ------------------------------------------------------------------

  final case class AudioMeta(sampleRate: Int, channels: Int,
                             bitsPerSample: Int, nSamples: Int)

  /** Minimal-but-real PCM16 WAV codec, pure JVM. The parser walks RIFF
    * chunks generically (unknown chunks like LIST/INFO are skipped),
    * so real-world files with metadata chunks parse too; anything not
    * PCM16 or truncated returns None instead of throwing. */
  object WavCodec {
    def encodePcm16Mono(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort)             // PCM
        .putShort(1.toShort)             // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)          // byte rate
        .putShort(2.toShort)             // block align
        .putShort(16.toShort)            // bits per sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    def parse(payload: Array[Byte]): Option[(AudioMeta, Array[Short])] = {
      if (payload == null || payload.length < 44) return None
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag4(): String = {
        val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
      }
      if (tag4() != "RIFF") return None
      bb.getInt // riff size (trusted only chunk-locally below)
      if (tag4() != "WAVE") return None
      var meta: Option[(Int, Int, Int)] = None // rate, channels, bits
      var data: Option[Array[Byte]] = None
      while (bb.remaining() >= 8 && (meta.isEmpty || data.isEmpty)) {
        val tag = tag4(); val len = bb.getInt
        if (len < 0 || len > bb.remaining()) return None
        tag match {
          case "fmt " if len >= 16 =>
            val fmtCode = bb.getShort; val ch = bb.getShort
            val rate = bb.getInt; bb.getInt; bb.getShort
            val bits = bb.getShort
            bb.position(bb.position() + (len - 16))
            if (fmtCode != 1) return None // PCM only
            meta = Some((rate, ch.toInt, bits.toInt))
          case "data" =>
            val d = new Array[Byte](len); bb.get(d); data = Some(d)
          case _ => bb.position(bb.position() + len) // skip LIST/INFO/...
        }
        if (len % 2 == 1 && bb.remaining() > 0) bb.get // RIFF word padding
      }
      for ((rate, ch, bits) <- meta; d <- data; if bits == 16 && ch == 1) yield {
        val n = d.length / 2
        val sb = java.nio.ByteBuffer.wrap(d)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
        val out = new Array[Short](n); sb.get(out)
        (AudioMeta(rate, ch, bits, n), out)
      }
    }
  }

  /** Deterministic synthetic PCM for end-to-end codec validation:
    * sample `s(id, i) = ((id*37 + i*17) % 4096) - 2048`, written as a
    * REAL PCM16 WAV through [[WavCodec]]. Integer-exact, so DuckDB
    * recomputes per-window features analytically and any byte-level
    * codec deviation breaks the hash — the audio twin of
    * [[SyntheticImages]]. */
  object SyntheticAudio {
    def sample(id: Long, i: Int): Int =
      (((id * 37 + i.toLong * 17) % 4096) - 2048).toInt

    def encode(id: Long, n: Int, sampleRate: Int = 16000): Array[Byte] =
      WavCodec.encodePcm16Mono(
        Array.tabulate(n)(i => sample(id, i).toShort), sampleRate)
  }

  /** Fixed-window integer audio features per media row: for each
    * window of `windowSamples` samples (last window may be partial) —
    * sample count, Σ|s| (energy proxy), Σs² (exact RMS numerator) and
    * the zero-crossing count (strict sign flips, `s[j-1]*s[j] < 0`,
    * window-local). All integers, so the row is engine-portable for
    * oracle hashing; unparseable payloads are dropped. Narrow pass —
    * one task decodes its own partitions' audio, no shuffle. */
  def audioFeatures(media: Dataset[MediaRow], windowSamples: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        WavCodec.parse(r.payload).toSeq.flatMap { case (_, samples) =>
          samples.indices.grouped(windowSamples).zipWithIndex.map {
            case (idx, w) =>
              var absSum = 0L; var sqSum = 0L; var zc = 0
              var j = idx.head
              while (j <= idx.last) {
                val v = samples(j).toLong
                absSum += math.abs(v); sqSum += v * v
                if (j > idx.head && samples(j - 1).toLong * v < 0) zc += 1
                j += 1
              }
              (r.id, w, idx.size, absSum, sqSum, zc)
          }
        }
      }
    }.toDF("id", "window_idx", "n_samples", "abs_sum", "sq_sum", "zero_crossings")
  }
}
