package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal-column plumbing (BASELINE.json north star): media payloads
  * as opaque `binary` columns with typed metadata, decoded/featurized by
  * partition-batched kernels.
  *
  * The decoders are REAL pure-JVM format parsers for two self-describing
  * uncompressed containers — binary PPM (P6: magic, `#` comments,
  * whitespace-separated dimensions, maxval, pixel plane) and RIFF/WAVE
  * PCM (chunked header walk, fmt parse, interleaved 16-bit little-endian
  * frames) — the codec posture this sandbox can hold honestly: header
  * arithmetic and per-channel statistics are byte-exact and
  * oracle-replayable, where a JPEG/FLAC dependency would be a stub. A
  * production deployment swaps the `decode` bodies for its codec
  * (libjpeg/FFmpeg via JNI, or `mapInArrow` to a Python worker); every
  * seam around them — schema, `mapPartitions` batching, corrupt-media
  * routing, integer-exact kernel outputs with plan-side rounding — is
  * the shape that survives that swap. `mapPartitions` (not a per-row
  * UDF) is deliberate: a real decoder amortizes codec init per
  * partition and releases native buffers per batch.
  *
  * Corrupt media routes, never throws: [[Ppm.decode]]/[[Wav.decode]]
  * return `Either[reason, stats]` and [[decodePpmRouted]] splits a
  * media frame into (features, rejects) — the `JsonlTables.readRouted`
  * posture applied to binary payloads (a 100 TB media crawl ALWAYS
  * contains truncated files).
  */
object Multimodal {

  // ---- binary PPM (P6) codec ----------------------------------------------

  /** Per-channel integer statistics of one decoded P6 image: everything
    * downstream rounding needs, with no float computed in the kernel
    * (means divide in the PLAN, so cross-engine float semantics stay in
    * one place — the q148 all-integer discipline).
    */
  final case class PpmStats(width: Int, height: Int, maxval: Int,
      nPixels: Int, nBytes: Long, sums: Array[Long], mins: Array[Int],
      maxs: Array[Int])

  object Ppm {

    /** The one header template [[encode]] writes — the container-byte
      * accounting (q174) derives its fixed overhead from THIS string,
      * so a template change moves the formulas with it instead of
      * silently skewing a hard-coded digit count.
      */
    private def headerOf(width: Int, height: Int): String =
      s"P6\n$width $height\n255\n"

    /** Header bytes excluding the dimension digits, derived from
      * [[headerOf]] (single-digit probe dims subtracted back out).
      */
    val HeaderFixedLen: Int = headerOf(1, 1).length - 2

    /** Wrap a payload as a P6 container: canonical single-whitespace
      * header, payload as the pixel plane zero-padded to `w·h·3` with
      * `h = ceil(max(len,1) / 3w)` — the deterministic media derivation
      * q28 runs on (the corpus stands in for a decoded crawl).
      */
    def encode(payload: Array[Byte], width: Int): Array[Byte] = {
      require(width > 0, "ppm: width must be positive")
      val height = ((math.max(payload.length, 1) + 3L * width - 1)
        / (3L * width)).toInt
      val header = headerOf(width, height)
        .getBytes(StandardCharsets.US_ASCII)
      val out = new Array[Byte](header.length + 3 * width * height)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(payload, 0, out, header.length, payload.length)
      out
    }

    /** Parse the P6 header and validate the plane length. Full header
      * grammar: `P6`, then whitespace-separated width/height/maxval
      * with `#`-to-newline comments allowed anywhere whitespace is,
      * then EXACTLY one whitespace byte, then `w·h·3` plane bytes.
      * Returns `(width, height, maxval, planeOffset)`; anything
      * malformed is a routed reason, never an exception. Shared by the
      * stats reduction ([[decode]]) and the resize kernel
      * ([[decodeGrid]]) so the two can never parse differently.
      */
    private def parseHeader(
        bytes: Array[Byte]): Either[String, (Int, Int, Int, Int)] = {
      var pos = 0
      def skipWs(): Unit = {
        var in = true
        while (in && pos < bytes.length) {
          val b = bytes(pos)
          if (b == '#') { // comment runs to end of line
            while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          } else if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
          else in = false
        }
      }
      def readInt(): Option[Int] = {
        skipWs()
        val start = pos
        var v = 0L
        while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
          v = v * 10 + (bytes(pos) - '0'); pos += 1
          if (v > Int.MaxValue) return None
        }
        if (pos == start) None else Some(v.toInt)
      }
      if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
        return Left("bad_magic")
      pos = 2
      val w = readInt().getOrElse(return Left("bad_width"))
      val h = readInt().getOrElse(return Left("bad_height"))
      val mv = readInt().getOrElse(return Left("bad_maxval"))
      if (w <= 0 || h <= 0) return Left("bad_dimensions")
      if (mv <= 0 || mv > 255) return Left("unsupported_maxval")
      // exactly ONE whitespace byte separates maxval from the plane
      if (pos >= bytes.length || !(bytes(pos) == ' ' || bytes(pos) == '\n' ||
          bytes(pos) == '\r' || bytes(pos) == '\t'))
        return Left("bad_header_terminator")
      pos += 1
      val expect = 3L * w * h
      if (bytes.length - pos != expect)
        return Left(s"truncated_plane:${bytes.length - pos}:$expect")
      Right((w, h, mv, pos))
    }

    /** Parse a P6 container and reduce its pixel plane to per-channel
      * (sum, min, max).
      */
    def decode(bytes: Array[Byte]): Either[String, PpmStats] =
      parseHeader(bytes).map { case (w, h, mv, off) =>
        val sums = new Array[Long](3)
        val mins = Array(Int.MaxValue, Int.MaxValue, Int.MaxValue)
        val maxs = Array(Int.MinValue, Int.MinValue, Int.MinValue)
        var pos = off
        var i = 0
        while (pos < bytes.length) {
          val v = bytes(pos) & 0xFF
          val c = i % 3
          sums(c) += v
          if (v < mins(c)) mins(c) = v
          if (v > maxs(c)) maxs(c) = v
          i += 1; pos += 1
        }
        PpmStats(w, h, mv, w * h, bytes.length.toLong, sums, mins, maxs)
      }

    /** Parse a P6 container and reduce it to a `gx×gy` block-average
      * grid — the RESIZE kernel. `gx = min(g, width)`, `gy = min(g,
      * height)` (downsample only: a grid never exceeds the source, so
      * every cell holds ≥ 1 pixel). Pixel `(px, py)` lands in cell
      * `(px·gx ÷ w, py·gy ÷ h)` — the standard box-filter block
      * assignment; each cell accumulates the integer sum of its pixels'
      * THREE channel bytes (so `sum / (3·count)` is the cell's
      * grayscale mean) and its pixel count. No float in the kernel —
      * means divide in the PLAN, the q28 discipline.
      */
    def decodeGrid(bytes: Array[Byte], g: Int): Either[String, PpmGrid] = {
      require(g > 0, "ppm: grid must be positive")
      parseHeader(bytes).map { case (w, h, _, off) =>
        val gx = math.min(g, w)
        val gy = math.min(g, h)
        val sums = new Array[Long](gx * gy)
        val cnts = new Array[Long](gx * gy)
        var p = 0
        val n = w * h
        while (p < n) {
          val px = p % w
          val py = p / w
          val cell = ((py.toLong * gy) / h).toInt * gx +
            ((px.toLong * gx) / w).toInt
          val base = off + 3 * p
          sums(cell) += (bytes(base) & 0xFF) + (bytes(base + 1) & 0xFF) +
            (bytes(base + 2) & 0xFF)
          cnts(cell) += 1
          p += 1
        }
        PpmGrid(w, h, gx, gy, sums, cnts)
      }
    }
  }

  /** One decoded image reduced to a `gx×gy` block-average grid: integer
    * block sums (all three channel bytes — grayscale·3) and pixel
    * counts, row-major cells (`cell = cy·gx + cx`).
    */
  final case class PpmGrid(width: Int, height: Int, gx: Int, gy: Int,
      sums: Array[Long], cnts: Array[Long])

  // ---- RIFF/WAVE PCM codec -------------------------------------------------

  /** Integer statistics of one decoded PCM take: per-channel signed
    * sample sum and peak magnitude, plus the fmt-chunk header fields —
    * again no float in the kernel.
    */
  final case class WavStats(channels: Int, sampleRate: Int,
      bitsPerSample: Int, nFrames: Long, sums: Array[Long], peaks: Array[Int])

  object Wav {

    private def le16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    private def le32(b: Array[Byte], o: Int): Long =
      (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)

    /** Canonical header byte count, derived from the encoder itself
      * (an empty payload is pure header) — the q174 accounting reads
      * this, never a literal 44.
      */
    lazy val HeaderLen: Int = encode(Array.emptyByteArray, 8000).length

    /** Wrap a payload's bytes as 16-bit mono PCM frames (odd tail
      * zero-padded to a full sample) in a canonical RIFF/WAVE
      * container: RIFF size, fmt chunk (PCM, channels, rate, byte
      * rate, block align, bits), data chunk.
      */
    def encode(payload: Array[Byte], sampleRate: Int): Array[Byte] = {
      val dataLen = payload.length + (payload.length & 1)
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes(StandardCharsets.US_ASCII))
      out.putInt(36 + dataLen)
      out.put("WAVE".getBytes(StandardCharsets.US_ASCII))
      out.put("fmt ".getBytes(StandardCharsets.US_ASCII))
      out.putInt(16)
      out.putShort(1.toShort)               // PCM
      out.putShort(1.toShort)               // mono
      out.putInt(sampleRate)
      out.putInt(sampleRate * 2)            // byte rate = rate·block
      out.putShort(2.toShort)               // block align
      out.putShort(16.toShort)              // bits per sample
      out.put("data".getBytes(StandardCharsets.US_ASCII))
      out.putInt(dataLen)
      out.put(payload)
      out.array()
    }

    /** Walk the RIFF chunks (unknown chunks skipped by their declared
      * size — real WAV files carry LIST/INFO chunks), parse and
      * validate fmt, locate the data chunk. Only integer PCM-16 is
      * accepted; other formats route with a reason (the production
      * decoder would dispatch on them). Returns `(channels, rate,
      * dataOffset, dataLength)`. Shared by the whole-take reduction
      * ([[decode]]) and the frame-window kernel ([[windowedStats]]) so
      * the two can never walk the container differently.
      */
    private def parsePcm16(
        bytes: Array[Byte]): Either[String, (Int, Int, Int, Int)] = {
      if (bytes.length < 12 ||
          new String(bytes, 0, 4, StandardCharsets.US_ASCII) != "RIFF" ||
          new String(bytes, 8, 4, StandardCharsets.US_ASCII) != "WAVE")
        return Left("bad_riff_header")
      var pos = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // (format, ch, rate, bits)
      var data: Option[(Int, Int)] = None          // (offset, length)
      while (pos + 8 <= bytes.length && data.isEmpty) {
        val id = new String(bytes, pos, 4, StandardCharsets.US_ASCII)
        val size = le32(bytes, pos + 4)
        if (size < 0 || pos + 8 + size > bytes.length)
          return Left(s"truncated_chunk:$id")
        id match {
          case "fmt " =>
            if (size < 16) return Left("short_fmt_chunk")
            fmt = Some((le16(bytes, pos + 8), le16(bytes, pos + 10),
              le32(bytes, pos + 12).toInt, le16(bytes, pos + 22)))
          case "data" => data = Some((pos + 8, size.toInt))
          case _ => () // skip unknown chunk
        }
        pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      val (format, ch, rate, bits) = fmt.getOrElse(return Left("no_fmt_chunk"))
      val (off, len) = data.getOrElse(return Left("no_data_chunk"))
      if (format != 1) return Left(s"unsupported_format:$format")
      if (bits != 16) return Left(s"unsupported_bits:$bits")
      if (ch <= 0 || rate <= 0) return Left("bad_fmt_fields")
      if (len % (2 * ch) != 0) return Left("partial_frame")
      Right((ch, rate, off, len))
    }

    /** Reduce the data chunk's interleaved 16-bit LE frames to
      * per-channel (sum, peak).
      */
    def decode(bytes: Array[Byte]): Either[String, WavStats] =
      parsePcm16(bytes).map { case (ch, rate, off, len) =>
        val blockAlign = 2 * ch
        val nFrames = len / blockAlign
        val sums = new Array[Long](ch)
        val peaks = new Array[Int](ch)
        var f = 0
        while (f < nFrames) {
          var c = 0
          while (c < ch) {
            val raw = le16(bytes, off + f * blockAlign + 2 * c)
            val s = if (raw >= 0x8000) raw - 0x10000 else raw
            sums(c) += s
            val a = math.abs(s)
            if (a > peaks(c)) peaks(c) = a
            c += 1
          }
          f += 1
        }
        WavStats(ch, rate, 16, nFrames.toLong, sums, peaks)
      }

    /** FRAME-SAMPLE a mono PCM-16 take: `nWindows` evenly spaced
      * windows of up to `frameLen` frames each (start stride
      * `max(max(n − frameLen, 0) ÷ nWindows, 1)` — the byte-level
      * [[Multimodal.frameSample]] arithmetic lifted to frames; the
      * `max(·, 0)` keeps the stride truncation-safe cross-engine), each
      * reduced to (start, count, sum, peak). Windows that would start
      * past the take are dropped, so every emitted window holds ≥ 1
      * sample; a zero-frame take emits no windows. Mono only — the
      * window grain is the FRAME and our media derivation is mono; a
      * multi-channel take routes.
      */
    def windowedStats(bytes: Array[Byte], nWindows: Int,
        frameLen: Int): Either[String, Seq[WavWindow]] = {
      require(nWindows > 0 && frameLen > 0, "wav: window params positive")
      parsePcm16(bytes).flatMap { case (ch, _, off, len) =>
        if (ch != 1) Left(s"not_mono:$ch")
        else {
          val n = len / 2
          val step = math.max(math.max(n - frameLen, 0) / nWindows, 1)
          Right((0 until nWindows).flatMap { k =>
            val start = k * step
            if (start >= n) None
            else {
              val end = math.min(start + frameLen, n)
              var sum = 0L
              var absSum = 0L
              var peak = 0
              var j = start
              while (j < end) {
                val raw = le16(bytes, off + 2 * j)
                val s = if (raw >= 0x8000) raw - 0x10000 else raw
                sum += s
                val a = math.abs(s)
                absSum += a
                if (a > peak) peak = a
                j += 1
              }
              Some(WavWindow(k, start.toLong, (end - start).toLong, sum,
                absSum, peak))
            }
          })
        }
      }
    }
  }

  /** One frame-sampled window of a mono PCM take: window index, first
    * frame, sample count, integer amplitude sum and magnitude sum
    * (means divide in the plan) and peak magnitude.
    */
  final case class WavWindow(idx: Int, startFrame: Long, nSamples: Long,
      ampSum: Long, absSum: Long, peak: Int)

  // ---- YUV4MPEG2 (Y4M) video codec ------------------------------------------

  /** One decoded Y4M stream's header fields and frame count — the
    * integer reductions stay per-frame ([[Y4m.frameStats]]); no float
    * in the kernel.
    */
  final case class Y4mInfo(width: Int, height: Int, fpsNum: Int,
      fpsDen: Int, nFrames: Int, dataOffset: Int)

  /** One sampled video frame reduced to integer luma statistics:
    * sample index, actual frame number, pixel count, luma sum (mean
    * divides in the plan), min, max.
    */
  final case class Y4mFrame(idx: Int, frameNo: Int, nPx: Int,
      lumaSum: Long, lumaMin: Int, lumaMax: Int)

  object Y4m {

    private val Magic = "YUV4MPEG2"

    /** The one stream-header template [[encode]] writes; the q174
      * accounting derives its fixed overhead from this string (the
      * [[Ppm.headerOf]] posture).
      */
    private[operators] def headerOf(width: Int, height: Int,
        fps: Int): String = s"$Magic W$width H$height F$fps:1 Cmono\n"

    /** Per-frame marker byte count, from the marker string itself. */
    val MarkerLen: Int = "FRAME\n".length

    /** Wrap a payload as a REAL YUV4MPEG2 stream (the uncompressed
      * video container mplayer/ffmpeg read): ASCII stream header
      * `YUV4MPEG2 W<w> H<h> F<num>:<den> Cmono\n`, then per frame an
      * ASCII `FRAME\n` marker + `w·h` luma-plane bytes (mono chroma
      * mode — one plane per frame). Payload zero-padded to
      * `ceil(max(len,1) / (w·h))` whole frames — the deterministic
      * media derivation q171 runs on.
      */
    def encode(payload: Array[Byte], width: Int, height: Int,
        fps: Int): Array[Byte] = {
      require(width > 0 && height > 0 && fps > 0, "y4m: positive dims")
      val frameSize = width.toLong * height
      require(frameSize <= Int.MaxValue, "y4m: frame exceeds array bound")
      val nFrames = ((math.max(payload.length, 1) + frameSize - 1)
        / frameSize).toInt
      val header = headerOf(width, height, fps)
        .getBytes(StandardCharsets.US_ASCII)
      val marker = "FRAME\n".getBytes(StandardCharsets.US_ASCII)
      // size in LONG arithmetic: a multi-GB payload must fail with a
      // clear message, not wrap negative into NegativeArraySizeException
      val totalLen = header.length +
        nFrames.toLong * (marker.length + frameSize)
      require(totalLen <= Int.MaxValue,
        s"y4m: stream of $totalLen bytes exceeds one array; " +
          "chunk the payload before encoding")
      val out = new Array[Byte](totalLen.toInt)
      val fsz = frameSize.toInt // ≤ totalLen ≤ Int.MaxValue
      System.arraycopy(header, 0, out, 0, header.length)
      var pos = header.length
      var f = 0
      while (f < nFrames) {
        System.arraycopy(marker, 0, out, pos, marker.length)
        pos += marker.length
        val start = f * fsz
        val n = math.min(fsz, math.max(payload.length - start, 0))
        if (n > 0) System.arraycopy(payload, start, out, pos, n)
        pos += fsz
        f += 1
      }
      out
    }

    /** Parse the stream header (magic, space-separated `W`/`H`/`F`
      * parameters with unknown parameters skipped — real Y4M carries
      * `I`/`A`/`X` tags) and validate the frame walk: every frame is
      * an exact `FRAME\n` marker (parameterized frame headers route —
      * the production decoder would parse them) followed by `w·h`
      * luma bytes, and the stream must end on a frame boundary.
      * Routed reasons, never exceptions.
      */
    def parse(bytes: Array[Byte]): Either[String, Y4mInfo] = {
      val headerEnd = bytes.indexOf('\n'.toByte)
      if (headerEnd < 0) return Left("no_header_terminator")
      val header = new String(bytes, 0, headerEnd, StandardCharsets.US_ASCII)
      val tokens = header.split(" ")
      if (tokens.isEmpty || tokens(0) != Magic) return Left("bad_magic")
      var w = -1; var h = -1; var fn = -1; var fd = -1
      // the Y4M default when no C tag is present IS 4:2:0 ("420jpeg"),
      // so an untagged stream must route too — only Cmono has the
      // one-plane frame size this walker assumes; silently walking a
      // C420/C444 stream would misread chroma bytes as luma frames
      var cm = "420jpeg"
      tokens.drop(1).foreach { t =>
        if (t.nonEmpty) t.charAt(0) match {
          case 'W' => w = t.drop(1).toIntOption.getOrElse(-1)
          case 'H' => h = t.drop(1).toIntOption.getOrElse(-1)
          case 'F' => t.drop(1).split(":") match {
            case Array(n, d) =>
              fn = n.toIntOption.getOrElse(-1)
              fd = d.toIntOption.getOrElse(-1)
            case _ => ()
          }
          case 'C' => cm = t.drop(1)
          case _ => () // unknown parameter (I/A/X...) — skipped
        }
      }
      if (w <= 0 || h <= 0) return Left("bad_dimensions")
      if (fn <= 0 || fd <= 0) return Left("bad_frame_rate")
      if (cm != "mono") return Left(s"unsupported_chroma:$cm")
      // frame size in LONG arithmetic (the encode() discipline): a
      // foreign header declaring W·H past Int.MaxValue wraps negative
      // in Int math and the walk below would re-read the same marker
      // forever or index negative — route, never hang or throw
      val frameSizeL = w.toLong * h
      if (frameSizeL > Int.MaxValue) return Left("frame_exceeds_stream")
      val frameSize = frameSizeL.toInt
      val marker = "FRAME\n".getBytes(StandardCharsets.US_ASCII)
      var pos = headerEnd + 1
      var nFrames = 0
      while (pos < bytes.length) {
        if (pos + marker.length > bytes.length ||
            !marker.indices.forall(i => bytes(pos + i) == marker(i)))
          return Left(s"bad_frame_marker:$nFrames")
        pos += marker.length
        // LONG compare: pos + frameSize can itself wrap Int when the
        // declared frame nearly fills the address space
        if (pos.toLong + frameSize > bytes.length)
          return Left(s"truncated_frame:$nFrames")
        pos += frameSize
        nFrames += 1
      }
      Right(Y4mInfo(w, h, fn, fd, nFrames, headerEnd + 1))
    }

    /** FRAME-SAMPLE a parsed stream: `k` evenly spaced frames (stride
      * `max(nFrames ÷ k, 1)`, frames past the end dropped — the
      * [[Wav.windowedStats]] discipline at frame grain), each reduced
      * to integer luma (count, sum, min, max).
      */
    def frameStats(bytes: Array[Byte],
        k: Int): Either[String, Seq[Y4mFrame]] = {
      require(k > 0, "y4m: sample count positive")
      parse(bytes).map { info =>
        val frameSize = info.width * info.height
        val marker = 6 // "FRAME\n"
        val step = math.max(info.nFrames / k, 1)
        (0 until k).flatMap { i =>
          val f = i * step
          if (f >= info.nFrames) None
          else {
            val base = info.dataOffset + f * (marker + frameSize) + marker
            var sum = 0L
            var mn = Int.MaxValue
            var mx = Int.MinValue
            var j = 0
            while (j < frameSize) {
              val v = bytes(base + j) & 0xFF
              sum += v
              if (v < mn) mn = v
              if (v > mx) mx = v
              j += 1
            }
            Some(Y4mFrame(i, f, frameSize, sum, mn, mx))
          }
        }
      }
    }
  }

  // ---- media frame + routing ----------------------------------------------

  /** Per-payload decode counters for the three media kernels (one
    * increment per input payload, not per emitted row) — the
    * composite-intake spec's probe that `intakeOfBatch` decodes each
    * arriving payload exactly once per modality; nothing else reads
    * them (the `Ivf.trainsPerformed` posture).
    */
  private[graft] val gridDecodes =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val audioDecodes =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val videoDecodes =
    new java.util.concurrent.atomic.AtomicLong

  /** Deterministic media derivation: each document's text bytes wrapped
    * as a REAL P6 container (header + zero-padded pixel plane), width
    * from doc stats the way a manifest would carry it — the corpus
    * standing in for a decoded media crawl.
    */
  def withMediaColumns(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("doc_id", LongType),
      StructField("media", BinaryType))))
    docs.select(col("doc_id"), col("text"), col("n_chars"))
      .mapPartitions { rows =>
        rows.map { r =>
          val text = Option(r.getString(1)).getOrElse("")
          val width = (r.getLong(2) % 24 + 8).toInt
          Row(r.getLong(0),
            Ppm.encode(text.getBytes(StandardCharsets.UTF_8), width))
        }
      }(enc)
  }

  private val ppmFeatureSchema = StructType(
    Seq(StructField("doc_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("maxval", IntegerType),
      StructField("n_pixels", IntegerType),
      StructField("n_bytes", LongType)) ++
      Seq("r", "g", "b").flatMap(c => Seq(
        StructField(s"sum_$c", LongType),
        StructField(s"min_$c", IntegerType),
        StructField(s"max_$c", IntegerType))) :+
      StructField("reject_reason", StringType))

  /** Partition-batched decode over a `(doc_id, media)` frame: one row
    * per payload with either the header fields + per-channel integer
    * stats or a routing reason — never an exception (media decode at
    * corpus scale must quarantine, not abort a 10-hour job).
    */
  private def decodePpmStats(mediaDf: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(ppmFeatureSchema)
    // positional getters: rows crossing a second mapPartitions boundary
    // arrive as schema-less GenericRows
    mediaDf.select("doc_id", "media").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Ppm.decode(r.getAs[Array[Byte]](1)) match {
          case Right(s) => Row.fromSeq(
            Seq[Any](id, s.width, s.height, s.maxval, s.nPixels, s.nBytes) ++
              (0 until 3).flatMap(c =>
                Seq[Any](s.sums(c), s.mins(c), s.maxs(c))) ++ Seq(null))
          case Left(reason) => Row.fromSeq(
            Seq[Any](id) ++ Seq.fill(14)(null) ++ Seq(reason))
        }
      }
    }(enc)
  }

  /** The routed split: (decoded features, rejects with reasons) — the
    * corrupt-line-routing posture for binary media.
    */
  def decodePpmRouted(mediaDf: DataFrame): (DataFrame, DataFrame) = {
    val all = decodePpmStats(mediaDf)
    (all.filter(col("reject_reason").isNull).drop("reject_reason"),
      all.filter(col("reject_reason").isNotNull)
        .select("doc_id", "reject_reason"))
  }

  private val y4mInfoSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fps_num", IntegerType),
    StructField("fps_den", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("reject_reason", StringType)))

  /** The routed split for VIDEO: each `(doc_id, media)` payload walked
    * by [[Y4m.parse]] into header fields + validated frame count, or a
    * routing reason — [[decodePpmRouted]]'s posture for the third
    * container (a 100 TB video crawl always contains truncated streams,
    * unsupported chroma modes, and foreign magic).
    */
  def decodeY4mRouted(mediaDf: DataFrame): (DataFrame, DataFrame) = {
    val enc = RowEncoder.encoderFor(y4mInfoSchema)
    val all = mediaDf.select("doc_id", "media").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Y4m.parse(r.getAs[Array[Byte]](1)) match {
          case Right(i) =>
            Row(id, i.width, i.height, i.fpsNum, i.fpsDen, i.nFrames, null)
          case Left(reason) =>
            Row(id, null, null, null, null, null, reason)
        }
      }
    }(enc)
    (all.filter(col("reject_reason").isNull).drop("reject_reason"),
      all.filter(col("reject_reason").isNotNull)
        .select("doc_id", "reject_reason"))
  }

  /** Frame sampling: n evenly spaced fixed-width byte windows from the
    * payload (the video-frame-sample analog), as pure column expressions.
    */
  def frameSample(mediaDf: DataFrame, nFrames: Int, frameLen: Int): DataFrame =
    mediaDf.select(col("doc_id"),
      transform(sequence(lit(0), lit(nFrames - 1)), i =>
        substring(col("media"),
          (i * greatest((length(col("media")) - frameLen) / nFrames, lit(1)) + 1)
            .cast("int"),
          lit(frameLen))).as("frames"))

  /** q178's window geometry: [[FrameSampleWindows]] byte windows of up
    * to [[FrameSampleBytes]] bytes each over the P6 container.
    */
  val FrameSampleWindows = 4
  val FrameSampleBytes = 32

  /** q178 — the byte-grain FRAME-SAMPLE op as its own hash-oracled
    * query: each document's REAL P6 container sliced by [[frameSample]]
    * into [[FrameSampleWindows]] evenly spaced [[FrameSampleBytes]]-byte
    * windows (the stride a sampler uses to cheaply profile a binary
    * object without decoding it — magic sniffing, corruption spotting,
    * entropy probes), each window reduced to (declared 1-based start,
    * byte count, byte sum, min, max) with the bytes re-parsed out of
    * the BINARY column. The oracle rebuilds every window from first
    * principles — header chars, payload chars, zero pad, the
    * double-division stride and its end clamp — so an off-by-one in
    * the window arithmetic, a wrong header byte, or a mis-clamped tail
    * all hash-mismatch. q164 is this op at audio-frame grain, q171 at
    * video-frame grain; this pins the raw byte-window helper itself.
    *
    * Scale shape: one container-encode pass, ≤ [[FrameSampleWindows]]
    * fixed-width slices per doc — no per-byte rows leave the plan
    * (the per-byte explosion exists only in the oracle's replay).
    */
  def q178FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsFanned(spark, dir)
    val frames = frameSample(withMediaColumns(d),
        FrameSampleWindows, FrameSampleBytes)
      .select(col("doc_id"),
        posexplode(col("frames")).as(Seq("frame_idx", "fbytes")))
    // container length by the SAME header arithmetic q174 ships (and
    // whose formulas are spec-pinned to the real encoder): joining it
    // back beats a second encode pass just to read a length
    val geo = d.select(col("doc_id"),
        octet_length(coalesce(col("text"), lit(""))).cast("long").as("L"),
        (col("n_chars") % 24 + 8).as("w"))
      .withColumn("h", expr("(GREATEST(L, 1) + 3*w - 1) DIV (3*w)"))
      .select(col("doc_id"),
        (lit(Ppm.HeaderFixedLen.toLong) + length(col("w").cast("string"))
          + length(col("h").cast("string"))
          + lit(3L) * col("w") * col("h")).as("clen"))
    frames.join(geo, "doc_id")
      // the helper's own stride arithmetic, replayed: double division,
      // floor-by-int-cast (both positive by construction)
      .withColumn("win_start", expr(
        s"CAST(frame_idx * GREATEST(CAST(clen - $FrameSampleBytes AS DOUBLE)" +
          s" / $FrameSampleWindows, 1.0D) + 1 AS INT)"))
      .withColumn("codes", expr(
        "transform(sequence(1, length(fbytes)), p -> " +
          "CAST(conv(hex(substr(fbytes, p, 1)), 16, 10) AS INT))"))
      .select(col("doc_id"), col("frame_idx"), col("win_start"),
        length(col("fbytes")).as("n_bytes"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("byte_sum"),
        expr("array_min(codes)").as("byte_min"),
        expr("array_max(codes)").as("byte_max"))
      .orderBy("doc_id", "frame_idx")
  }

  lazy val q178OracleSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CAST(n_chars % 24 + 8 AS INTEGER) AS w,
       |         list_transform(generate_series(1, length(coalesce(text, ''))),
       |                        i -> ascii(substring(text, i, 1))) AS codes,
       |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
       |  FROM documents
       |), geo AS (
       |  SELECT doc_id, codes, L, w, h,
       |         'P6' || chr(10) || CAST(w AS VARCHAR) || ' '
       |           || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10) AS hdr,
       |         CAST(${Ppm.HeaderFixedLen} + len(CAST(w AS VARCHAR))
       |           + len(CAST(h AS VARCHAR)) AS BIGINT) AS hl,
       |         CAST(${Ppm.HeaderFixedLen} + len(CAST(w AS VARCHAR))
       |           + len(CAST(h AS VARCHAR)) + 3 * w * h AS BIGINT) AS clen
       |  FROM (SELECT doc_id, codes, L, w,
       |               CAST(CEIL(CAST(GREATEST(L, 1) AS DOUBLE) / (3 * w))
       |                 AS BIGINT) AS h
       |        FROM base)
       |), spans AS (
       |  SELECT doc_id, codes, L, hdr, hl, clen, frame_idx,
       |         CAST(FLOOR(frame_idx * GREATEST(
       |             CAST(clen - $FrameSampleBytes AS DOUBLE)
       |               / $FrameSampleWindows, 1.0) + 1) AS BIGINT) AS win_start
       |  FROM (SELECT *, unnest(generate_series(0, ${FrameSampleWindows - 1}))
       |          AS frame_idx FROM geo)
       |), vals AS (
       |  SELECT doc_id, frame_idx, win_start,
       |         CASE WHEN p <= hl
       |                THEN ascii(substring(hdr, CAST(p AS INTEGER), 1))
       |              WHEN p - hl <= L THEN codes[CAST(p - hl AS INTEGER)]
       |              ELSE 0 END AS v
       |  FROM (SELECT doc_id, frame_idx, win_start, hl, L, hdr, codes,
       |               unnest(generate_series(win_start,
       |                 LEAST(win_start + ${FrameSampleBytes - 1}, clen))) AS p
       |        FROM spans)
       |)
       |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |       CAST(win_start AS INTEGER) AS win_start,
       |       CAST(count(*) AS INTEGER) AS n_bytes,
       |       CAST(sum(v) AS BIGINT) AS byte_sum,
       |       CAST(min(v) AS INTEGER) AS byte_min,
       |       CAST(max(v) AS INTEGER) AS byte_max
       |FROM vals GROUP BY doc_id, frame_idx, win_start
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ---- q28: image pipeline end-to-end --------------------------------------

  /** q28 — the multimodal IMAGE pipeline end-to-end: container build →
    * batched REAL P6 decode (header parse + per-channel plane
    * reduction) → per-channel means in the plan (decimal-routed
    * rounding). The kernel emits only integers; every reported field —
    * parsed dimensions, maxval, container byte length (header digits
    * included), channel sums folded to means, channel min/max with the
    * zero padding visible — is replayed arithmetically by the DuckDB
    * oracle from the same text bytes, so a wrong header parse, a
    * swapped channel, or an off-by-one in the padding all
    * hash-mismatch.
    *
    * ASCII dependency (enforced, not assumed): the kernel iterates
    * UTF-8 BYTES of the payload while the oracle iterates CHARACTERS
    * of the text — identical only while every char is one byte
    * (`SimilaritySpec` pins the corpus and names this oracle in its
    * failure message).
    */
  def q28MultimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    // unfanned: the PPM decode is one cheap arithmetic pass per row —
    // r19/r20 measured the fan exchange shipping the raw media payload
    // for no compute win (driver bench 0.213→0.257; local A/B ×0.83
    // unfanned)
    val (good, bad) = decodePpmRouted(
      withMediaColumns(Tables.documents(spark, dir)))
    // self-encoded containers must parse — a reject here is a codec
    // defect, not data (the routing path is for FOREIGN media and is
    // spec-covered on crafted corrupt fixtures)
    val cols = Seq("width", "height", "maxval", "n_pixels", "n_bytes")
      .map(col) ++
      Seq("r", "g", "b").flatMap(c => Seq(
        round6(col(s"sum_$c").cast("double") / col("n_pixels"))
          .as(s"mean_$c"),
        col(s"min_$c"), col(s"max_$c")))
    good.select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  /** Replays [[Ppm.encode]] + [[Ppm.decode]] arithmetically: width from
    * the manifest derivation, height from the ceil division, container
    * length = header digits + plane, channel c = character codes at
    * positions ≡ c (mod 3) plus the zero padding (visible in count,
    * min, and the mean denominator `w·h`).
    */
  lazy val q28OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    val chCols = Seq("r", "g", "b").zipWithIndex.map { case (cn, c) =>
      val vals = s"list_transform(generate_series(${c + 1}, L, 3), i -> codes[i])"
      s"""       ${round6Sql(s"CAST(COALESCE(list_sum(v_$cn), 0) AS DOUBLE)" +
           " / (width * height)")} AS mean_$cn,
         |       CAST(CASE WHEN width * height > len(v_$cn) THEN 0
         |                 ELSE list_min(v_$cn) END AS INTEGER) AS min_$cn,
         |       CAST(CASE WHEN width * height > len(v_$cn)
         |                 THEN GREATEST(COALESCE(list_max(v_$cn), 0), 0)
         |                 ELSE list_max(v_$cn) END AS INTEGER) AS max_$cn"""
        .stripMargin -> s"$vals AS v_$cn"
    }
    s"""WITH base AS (
       |  SELECT doc_id,
       |         CAST(n_chars % 24 + 8 AS INTEGER) AS width,
       |         list_transform(generate_series(1, length(coalesce(text, ''))),
       |                        i -> ascii(substring(text, i, 1))) AS codes,
       |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
       |  FROM documents
       |), dims AS (
       |  SELECT doc_id, width, codes, L,
       |         CAST(CEIL(CAST(GREATEST(L, 1) AS DOUBLE) / (3 * width))
       |           AS INTEGER) AS height
       |  FROM base
       |), chans AS (
       |  SELECT doc_id, width, height, L,
       |         ${chCols.map(_._2).mkString(",\n         ")}
       |  FROM dims
       |)
       |SELECT doc_id, width, height, 255 AS maxval,
       |       CAST(width * height AS INTEGER) AS n_pixels,
       |       CAST(3 + len(CAST(width AS VARCHAR)) + 1
       |            + len(CAST(height AS VARCHAR)) + 5
       |            + 3 * width * height AS BIGINT) AS n_bytes,
       |${chCols.map(_._1).mkString(",\n")}
       |FROM chans ORDER BY doc_id""".stripMargin
  }

  // ---- q161: audio pipeline end-to-end -------------------------------------

  /** q161 — the multimodal AUDIO pipeline end-to-end: each document's
    * text bytes wrapped as REAL mono PCM-16 RIFF/WAVE (sample rate
    * from doc stats, odd tail zero-padded), then the chunk-walking
    * decoder parses the container back and reduces the frames to
    * amplitude statistics; mean amplitude divides in the plan
    * (decimal-routed). The oracle rebuilds every sample from the
    * character codes — two bytes little-endian, sign-corrected — so
    * the byte pairing, the signed 16-bit interpretation, the odd-tail
    * pad, and the duration arithmetic are all hash-pinned.
    */
  def q161WavStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val kernelSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", LongType),
      StructField("amp_sum", LongType),
      StructField("peak_amp", IntegerType)))
    val enc = RowEncoder.encoderFor(kernelSchema)
    // unfanned: WAV header decode is too light to amortize an exchange
    // of the raw payload (driver bench 0.168→0.206 fanned; local A/B
    // ×0.68 unfanned)
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .mapPartitions { rows =>
        rows.map { r =>
          val text = Option(r.getString(1)).getOrElse("")
          val rate = (8000 + (r.getLong(2) % 8) * 1000).toInt
          val container = Wav.encode(
            text.getBytes(StandardCharsets.UTF_8), rate)
          Wav.decode(container) match {
            case Right(s) => Row(r.getLong(0), s.sampleRate,
              s.nFrames, s.sums(0), s.peaks(0))
            case Left(reason) => throw new IllegalStateException(
              s"q161: self-encoded WAV failed to decode: $reason")
          }
        }
      }(enc)
    stats.select(col("doc_id"), col("sample_rate"), col("n_frames"),
        expr("n_frames * 1000 DIV sample_rate").as("duration_ms"),
        round6(col("amp_sum").cast("double") / nullif(col("n_frames"), lit(0L)))
          .as("mean_amp"),
        col("peak_amp"))
      .orderBy("doc_id")
  }

  /** The shared WAV oracle replay (`base` … `samp`): every sample
    * rebuilt from the character codes — two bytes little-endian,
    * sign-corrected at 0x8000, odd tail paired with the zero pad.
    * q161 reduces the whole take from it; q164 slices frame windows —
    * one sample derivation, so the two oracles can never pair bytes
    * differently.
    */
  private lazy val wavSampCtes: String =
    """base AS (
      |  SELECT doc_id,
      |         CAST(8000 + (n_chars % 8) * 1000 AS INTEGER) AS sample_rate,
      |         list_transform(generate_series(1, length(coalesce(text, ''))),
      |                        i -> ascii(substring(text, i, 1))) AS codes,
      |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
      |  FROM documents
      |), samp AS (
      |  SELECT doc_id, sample_rate, L,
      |         list_transform(generate_series(1, CAST((L + 1) // 2 AS INTEGER)),
      |           j -> CASE WHEN codes[2*j - 1]
      |                       + 256 * COALESCE(codes[2*j], 0) >= 32768
      |                     THEN codes[2*j - 1]
      |                       + 256 * COALESCE(codes[2*j], 0) - 65536
      |                     ELSE codes[2*j - 1]
      |                       + 256 * COALESCE(codes[2*j], 0) END) AS s
      |  FROM base
      |)""".stripMargin

  /** Frame count, duration, mean, and peak from the replayed samples. */
  lazy val q161OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $wavSampCtes
       |SELECT doc_id, sample_rate,
       |       CAST((L + 1) // 2 AS BIGINT) AS n_frames,
       |       CAST(((L + 1) // 2) * 1000 // sample_rate AS BIGINT)
       |         AS duration_ms,
       |       ${round6Sql("CAST(COALESCE(list_sum(s), 0) AS DOUBLE)" +
              " / nullif((L + 1) // 2, 0)")} AS mean_amp,
       |       CAST(COALESCE(list_max(list_transform(s, x -> abs(x))), 0)
       |         AS INTEGER) AS peak_amp
       |FROM samp ORDER BY doc_id""".stripMargin
  }

  // ---- q162: image resize (block-average grid) ------------------------------

  /** Grid edge for the resize family: decoded images downsample to at
    * most [[Grid]]×[[Grid]] block-average cells — 16 cells is the
    * classic average-hash geometry, and small enough that q163's
    * fingerprint fits one BIGINT with room to spare.
    */
  val Grid = 4

  private val gridKernelSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("gx", IntegerType),
    StructField("gy", IntegerType),
    StructField("sums", ArrayType(LongType)),
    StructField("cnts", ArrayType(LongType)),
    StructField("reject_reason", StringType)))

  /** Partition-batched RESIZE over a `(doc_id, media)` frame: each
    * payload decoded and reduced to its block-average grid by
    * [[Ppm.decodeGrid]], corrupt media routed with a reason — the
    * (features, rejects) split of [[decodePpmRouted]] applied to the
    * resize kernel.
    */
  def resizeGridRouted(mediaDf: DataFrame,
      g: Int): (DataFrame, DataFrame) = {
    val enc = RowEncoder.encoderFor(gridKernelSchema)
    val all = mediaDf.select("doc_id", "media").mapPartitions { rows =>
      rows.map { r =>
        gridDecodes.incrementAndGet()
        val id = r.getLong(0)
        Ppm.decodeGrid(r.getAs[Array[Byte]](1), g) match {
          case Right(gr) => Row(id, gr.width, gr.height, gr.gx, gr.gy,
            gr.sums.toSeq, gr.cnts.toSeq, null)
          case Left(reason) =>
            Row(id, null, null, null, null, null, null, reason)
        }
      }
    }(enc)
    (all.filter(col("reject_reason").isNull).drop("reject_reason"),
      all.filter(col("reject_reason").isNotNull)
        .select("doc_id", "reject_reason"))
  }

  /** q162 — the multimodal RESIZE op: every image downsampled to its
    * `gx×gy` block-average thumbnail (gx = min(4, w), gy = min(4, h) —
    * downsample only, every cell ≥ 1 pixel), one row per cell with the
    * integer pixel count and channel-byte sum from the kernel and the
    * grayscale mean dividing in the plan (`px_sum / (3·n_px)`). The
    * oracle replays the pixel → cell box-filter assignment from the
    * same text bytes, so a transposed cell index, a wrong block edge,
    * or a padding byte miscounted all hash-mismatch. The grid rows are
    * what q163 fingerprints and what an embedding/vision tower would
    * consume as its fixed-size input.
    *
    * Scale shape: ONE `mapPartitions` decode pass (no per-pixel rows
    * ever leave the kernel — a doc emits ≤ 16 cells); the per-pixel
    * explosion exists only in the ORACLE's replay.
    */
  def q162ImageResize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    // artifact-first (one decode per corpus snapshot, not per query);
    // self-encoded containers must parse (q28's routing note applies)
    imageFingerprints(spark, dir).select(col("doc_id"), col("gx"),
        posexplode(arrays_zip(col("sums"), col("cnts"))))
      .select(col("doc_id"),
        expr("CAST(pos DIV gx AS INT)").as("cell_y"),
        expr("CAST(pos % gx AS INT)").as("cell_x"),
        col("col.cnts").as("n_px"),
        col("col.sums").as("px_sum"),
        round6(col("col.sums").cast("double") / (col("col.cnts") * 3))
          .as("mean_val"))
      .orderBy("doc_id", "cell_y", "cell_x")
  }

  /** The shared grid oracle replay (`base` … `cells`): the q28 header
    * derivation, then every pixel assigned to its box-filter cell
    * (`cx = px·gx ÷ w`, `cy = py·gy ÷ h`) and each cell reduced to
    * (pixel count, channel-byte sum). q162 reads the cells; q163
    * fingerprints them — one block assignment, so the two oracles can
    * never disagree on the grid.
    */
  private lazy val gridCellsCtes: String =
    s"""base AS (
       |  SELECT doc_id,
       |         CAST(n_chars % 24 + 8 AS INTEGER) AS w,
       |         list_transform(generate_series(1, length(coalesce(text, ''))),
       |                        i -> ascii(substring(text, i, 1))) AS codes,
       |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
       |  FROM documents
       |), dims AS (
       |  SELECT doc_id, w, codes, L,
       |         CAST(CEIL(CAST(GREATEST(L, 1) AS DOUBLE) / (3 * w))
       |           AS INTEGER) AS h
       |  FROM base
       |), px AS (
       |  SELECT doc_id, w, h, LEAST($Grid, w) AS gx, LEAST($Grid, h) AS gy,
       |         codes, L,
       |         unnest(generate_series(0, CAST(w AS BIGINT) * h - 1)) AS p
       |  FROM dims
       |), vals AS (
       |  SELECT doc_id, gx, gy,
       |         CAST(((p // w) * gy) // h AS INTEGER) AS cell_y,
       |         CAST(((p % w) * gx) // w AS INTEGER) AS cell_x,
       |         (CASE WHEN 3 * p + 1 <= L
       |               THEN codes[CAST(3 * p + 1 AS INTEGER)] ELSE 0 END
       |        + CASE WHEN 3 * p + 2 <= L
       |               THEN codes[CAST(3 * p + 2 AS INTEGER)] ELSE 0 END
       |        + CASE WHEN 3 * p + 3 <= L
       |               THEN codes[CAST(3 * p + 3 AS INTEGER)] ELSE 0 END) AS pv
       |  FROM px
       |), cells AS (
       |  SELECT doc_id, gx, gy, cell_y, cell_x,
       |         CAST(count(*) AS BIGINT) AS n_px,
       |         CAST(sum(pv) AS BIGINT) AS px_sum
       |  FROM vals GROUP BY doc_id, gx, gy, cell_y, cell_x
       |)""".stripMargin

  lazy val q162OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $gridCellsCtes
       |SELECT doc_id, cell_y, cell_x, n_px, px_sum,
       |       ${round6Sql("CAST(px_sum AS DOUBLE) / (3 * n_px)")} AS mean_val
       |FROM cells ORDER BY doc_id, cell_y, cell_x""".stripMargin
  }

  // ---- the perceptual-dedup core (image, video, audio) ----------------------

  /** Every perceptual signature — the ≤ 16-bit image grid fingerprint,
    * the ≤ 12-bit video and audio signatures — is a `(doc_id, class,
    * fingerprint)` frame, comparable only within its class column (`gy`
    * for images, `n_frames` for takes). One core serves all three
    * modalities: [[sigGroups]] (distance 0: q163/q172/q176),
    * [[hammingPairs]] (Hamming 1–[[HammingMax]]: q165/q173/q177) and
    * [[verdictsOf]] (the intake verdicts: [[phashVerdictsOf]] /
    * [[sigVerdictsOf]]), with [[sigGroupsSql]] / [[hammingPairsSql]] as
    * the oracle's tails over each family's own signature replay.
    *
    * The near-dup joins split a fingerprint into [[HammingBands]]
    * disjoint bands of `bandBits` bits ([[GridBandBits]] for grids,
    * [[SigBandBits]] for takes). Recall at Hamming ≤ [[HammingMax]] is
    * EXACT by pigeonhole: 3 differing bits cannot touch all 4 bands,
    * so every qualifying pair shares at least one band bucket, and the
    * `bit_count(xor)` check makes the output exact, not candidates. A
    * take with fewer sampled frames has a shorter signature; its
    * constantly-zero high bands are shared by its whole class only.
    */
  val HammingMax = 3
  val HammingBands = 4
  private[graft] val GridBandBits = 4
  private[graft] val SigBandBits = 3

  /** The one band split: `df` exploded to one row per band `b`, with
    * `bits` = that band's `bandBits`-wide slice of column `fp`.
    */
  private[graft] def withBands(df: DataFrame, fp: String, bandBits: Int,
      b: String = "b", bits: String = "bits"): DataFrame =
    df.withColumn(b, explode(sequence(lit(0), lit(HammingBands - 1))))
      .withColumn(bits, expr(s"shiftright($fp, $bandBits * $b) & " +
        s"CAST(${(1L << bandBits) - 1} AS BIGINT)"))

  /** Distance-0 dup groups: signatures shared by ≥ 2 documents within a
    * class, with member count and ordered member list — ONE shuffle on
    * the signature (the q17 exact-dedup shape). `cls` is reported as
    * `outCol`.
    */
  private def sigGroups(sigs: DataFrame, cls: String,
      outCol: String): DataFrame =
    sigs.groupBy(col(cls).as(outCol), col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("doc_ids"))
      .filter(col("n_docs") >= 2)
      .orderBy(outCol, "fingerprint")

  /** Near-dup pairs at Hamming 1–[[HammingMax]] within a class, at
    * DISTINCT-SIGNATURE grain: pairing *documents* would be quadratic in
    * the dup-group sizes, so the band join runs over the distinct
    * signatures and each row carries both groups' document counts —
    * the document-grain pair count is `n_docs_a·n_docs_b` without
    * materializing it (the q21/q82 capped-candidate discipline,
    * achieved structurally rather than by a cap).
    *
    * Scale shape: signature-grain aggregate → 4-row band explode →
    * equi-join on (class, band, bits) → popcount filter. No doc-grain
    * pair ever exists.
    */
  private def hammingPairs(sigs: DataFrame, cls: String, outCol: String,
      bandBits: Int): DataFrame = {
    val bands = withBands(sigs.groupBy(cls, "fingerprint")
      .agg(count(lit(1)).as("n_docs")), "fingerprint", bandBits)
    def side(t: String) = bands.select(col(cls), col("b"), col("bits"),
      col("fingerprint").as(s"fp_$t"), col("n_docs").as(s"n_docs_$t"))
    side("a").join(side("b"), Seq(cls, "b", "bits"))
      .filter(col("fp_a") < col("fp_b"))
      .select(cls, "fp_a", "n_docs_a", "fp_b", "n_docs_b").distinct()
      .withColumn("hamming", expr("CAST(bit_count(fp_a ^ fp_b) AS INT)"))
      .filter(col("hamming") <= HammingMax)
      .select(col(cls).as(outCol), col("fp_a"), col("fp_b"),
        col("hamming"), col("n_docs_a"), col("n_docs_b"))
      .orderBy(outCol, "fp_a", "fp_b")
  }

  /** The verdict cores' standing side at distinct-signature grain: one
    * `(keyCol, fingerprint, min_id)` row per distinct signature. Both
    * verdict paths reduce to `min(doc_id)` over the matches, and a
    * group's min is preserved by taking the min per distinct signature
    * first — so this is a pure re-bracketing of the same aggregate,
    * while the exact and band joins downstream see each corpus
    * signature once however many takes carry it. A boilerplate image
    * with k corpus copies would otherwise put k rows in every one of
    * its band buckets and fan each probe out k ways.
    */
  private[graft] def distinctStanding(standing: DataFrame, keyCol: String): DataFrame =
    standing.groupBy(col(keyCol), col("fingerprint"))
      .agg(min(col("doc_id")).as("min_id"))

  /** The perceptual INTAKE verdict: probe rows `(doc_id, cls,
    * fingerprint)` against a standing frame of the same shape — `exact`
    * when an identical (class, fingerprint) exists, `near` at Hamming
    * 1–[[HammingMax]] through the band join, else `new`; `match_id` =
    * the smallest matching standing doc, exact winning over near. The
    * probe side is batch-bounded; the standing side is one artifact
    * read ([[distinctStanding]]) plus map-only band arithmetic — no
    * corpus media is ever re-decoded.
    */
  private def verdictsOf(probes: DataFrame, standing: DataFrame, cls: String,
      bandBits: Int, exact: String, near: String): DataFrame = {
    val p = probes.select(col("doc_id"), col(cls).cast("long").as("cls"),
      col("fingerprint"))
    val s = distinctStanding(standing, cls)
      .select(col("min_id").as("m_id"), col(cls).cast("long").as("m_cls"),
        col("fingerprint").as("m_fp"))
    val exactIds = p
      .join(s, col("cls") === col("m_cls") && col("fingerprint") === col("m_fp"))
      .groupBy("doc_id").agg(min("m_id").as("exact_id"))
    val nearIds = withBands(p, "fingerprint", bandBits)
      .join(withBands(s, "m_fp", bandBits, "m_b", "m_bits"),
        col("cls") === col("m_cls") && col("b") === col("m_b") &&
          col("bits") === col("m_bits"))
      .filter(expr(s"bit_count(fingerprint ^ m_fp) BETWEEN 1 AND $HammingMax"))
      .groupBy("doc_id").agg(min("m_id").as("near_id"))
    p.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, exact)
          .when(col("near_id").isNotNull, near)
          .otherwise("new").as("verdict"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }

  /** The image intake verdict ([[verdictsOf]] over grid rows `(doc_id,
    * gy, fingerprint)`): `exact_phash` / `near_phash` / `new`.
    */
  def phashVerdictsOf(probes: DataFrame, standing: DataFrame): DataFrame =
    verdictsOf(probes, standing, "gy", GridBandBits, "exact_phash", "near_phash")

  /** The video/audio intake verdict ([[verdictsOf]] over take signatures
    * `(doc_id, n_frames, fingerprint)`): `exact_sig` / `near_sig` / `new`.
    */
  def sigVerdictsOf(probes: DataFrame, standing: DataFrame): DataFrame =
    verdictsOf(probes, standing, "n_frames", SigBandBits, "exact_sig", "near_sig")

  /** Oracle twin of [[sigGroups]] over the signature CTE `src` of the
    * replay `ctes`.
    */
  private def sigGroupsSql(ctes: String, src: String, cls: String,
      outCol: String): String =
    s"""WITH $ctes
       |SELECT $cls AS $outCol, fingerprint,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |         AS doc_ids
       |FROM $src GROUP BY $cls, fingerprint HAVING count(*) >= 2
       |ORDER BY $outCol, fingerprint""".stripMargin

  /** Oracle twin of [[hammingPairs]] over the signature CTE `src` of the
    * replay `ctes`.
    */
  private def hammingPairsSql(ctes: String, src: String, cls: String,
      outCol: String, bandBits: Int): String =
    s"""WITH $ctes, grp AS (
       |  SELECT $cls, fingerprint, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM $src GROUP BY $cls, fingerprint
       |), bands AS (
       |  SELECT $cls, fingerprint, n_docs,
       |         unnest(generate_series(0, ${HammingBands - 1})) AS b
       |  FROM grp
       |), b2 AS (
       |  SELECT $cls, fingerprint, n_docs, b,
       |         (fingerprint >> CAST($bandBits * b AS INTEGER))
       |           & ${(1L << bandBits) - 1} AS bits
       |  FROM bands
       |), cand AS (
       |  SELECT DISTINCT a.$cls, a.fingerprint AS fp_a, a.n_docs AS n_docs_a,
       |         c.fingerprint AS fp_b, c.n_docs AS n_docs_b
       |  FROM b2 a JOIN b2 c ON a.$cls = c.$cls AND a.b = c.b
       |    AND a.bits = c.bits AND a.fingerprint < c.fingerprint
       |)
       |SELECT $cls AS $outCol, fp_a, fp_b,
       |       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming,
       |       n_docs_a, n_docs_b
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $HammingMax
       |ORDER BY $outCol, fp_a, fp_b""".stripMargin

  // ---- q163: perceptual-hash image near-dup ---------------------------------

  /** The standing `image_grids` artifact rows, one per document: grid
    * geometry, block sums/counts, and the packed aHash fingerprint —
    * q163's scoring stage, shared with q162's thumbnail cells, q165's
    * banded Hamming join, and q167's embedding derivation. One
    * `mapPartitions` decode, then map-only column arithmetic over the
    * ≤ 16-element grid arrays (bit c = `s_c·N ≥ S·n_c`, packed by
    * positional shift). Media decode is the expensive pass of a 100 TB
    * multimodal corpus, so this frame is exactly what
    * `Artifacts.materialize` persists (the `doc_hashes` posture for
    * pixels): decode once, dedup/search many.
    */
  def imageGridRows(docs: DataFrame): DataFrame = {
    // tolerate schema-minimal corpora (the artifact-maintenance fixtures
    // carry only doc_id/text/source): n_chars IS length(text) on every
    // shipped corpus (a data invariant, not an assumption — zero
    // mismatches at every SF), so deriving it is the same media frame
    val withStats =
      if (docs.columns.contains("n_chars")) docs
      else docs.withColumn("n_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
    val (good, _bad) = resizeGridRouted(withMediaColumns(withStats), Grid)
    good
      .withColumn("s_total", expr(
        "aggregate(sums, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("n_total", expr(
        "aggregate(cnts, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("fingerprint", expr(
        """aggregate(transform(sums, (s, i) ->
          |  IF(s * n_total >= s_total * cnts[i],
          |     shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
          |CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
      .select("doc_id", "gx", "gy", "sums", "cnts", "fingerprint")
  }

  /** Grid frame for the corpus — the standing artifact when fresh,
    * else [[imageGridRows]] inline.
    */
  private def imageFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.ImageGridsName)

  /** q163 — multimodal DEDUP: the classic average-hash (aHash) over
    * q162's grids. Per image, bit c = (cell c's mean ≥ the image's
    * global pixel mean), compared integer-exactly as
    * `s_c·N ≥ S·n_c` (no division, no float, no tie ambiguity); the
    * ≤ 16 bits pack into one BIGINT fingerprint. Images whose
    * fingerprints collide are perceptual near-duplicates — the
    * image-dedup posture of the large crawl pipelines, where
    * re-encoded/lightly-retouched copies survive exact byte dedup but
    * land on the same coarse luminance shape. Output is the dup groups
    * (≥ 2 members): grid height (fingerprints are only comparable
    * within a geometry; gx is constant 4 here since w ≥ 8 by the width
    * derivation), fingerprint, member count, and the ordered member
    * list.
    *
    * Scale shape: one `mapPartitions` decode pass, per-doc column
    * arithmetic over a 16-element array, then the shared [[sigGroups]]
    * core — ONE shuffle on the fingerprint (at 100 TB the fingerprint
    * column is the standing artifact, and near-dup at Hamming
    * distance > 0 adds q165's band join, exactly like MinHash's).
    */
  def q163ImagePhashDups(spark: SparkSession, dir: String): DataFrame =
    sigGroups(imageFingerprints(spark, dir), "gy", "grid_rows")

  /** The shared fingerprint replay (`base` … `fp`): [[gridCellsCtes]]
    * plus the per-document global totals and the packed aHash bits —
    * q163 groups it, q165 bands it, one derivation.
    */
  private lazy val fpCtes: String =
    s"""$gridCellsCtes, tot AS (
       |  SELECT doc_id, sum(n_px) AS n_total, sum(px_sum) AS s_total
       |  FROM cells GROUP BY doc_id
       |), fp AS (
       |  SELECT c.doc_id, any_value(c.gy) AS gy,
       |         CAST(sum(CASE WHEN c.px_sum * t.n_total >= t.s_total * c.n_px
       |                       THEN (CAST(1 AS BIGINT)
       |                             << (c.cell_y * c.gx + c.cell_x))
       |                       ELSE 0 END) AS BIGINT) AS fingerprint
       |  FROM cells c JOIN tot t USING (doc_id)
       |  GROUP BY c.doc_id
       |)""".stripMargin

  lazy val q163OracleSql: String =
    sigGroupsSql(fpCtes, "fp", "gy", "grid_rows")

  // ---- q164: audio frame-window features ------------------------------------

  /** Frame-window geometry for q164: [[FrameWindows]] evenly spaced
    * windows of up to [[FrameLen]] frames each.
    */
  val FrameWindows = 3
  val FrameLen = 64

  /** The frame-window kernel pass shared by q164 (window grain) and
    * q166 (per-take screen): one `mapPartitions` decode emitting ≤
    * [[FrameWindows]] rows per doc, each with the window's integer
    * (count, amplitude sum, magnitude sum, peak). Takes ANY
    * `(doc_id, text[, n_chars])` frame — a missing `n_chars` is derived
    * (the [[imageGridRows]] posture), which is what lets the streaming
    * intake gate run the identical kernel over a raw batch.
    */
  private[graft] def audioWindowsOf(docs: DataFrame): DataFrame = {
    val kernelSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("window_idx", IntegerType),
      StructField("start_frame", LongType),
      StructField("n_samples", LongType),
      StructField("amp_sum", LongType),
      StructField("abs_sum", LongType),
      StructField("peak_amp", IntegerType)))
    val enc = RowEncoder.encoderFor(kernelSchema)
    val withStats =
      if (docs.columns.contains("n_chars")) docs
      else docs.withColumn("n_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
    withStats
      .select(col("doc_id"), col("text"), col("n_chars"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          audioDecodes.incrementAndGet()
          val text = Option(r.getString(1)).getOrElse("")
          val rate = (8000 + (r.getLong(2) % 8) * 1000).toInt
          val container = Wav.encode(
            text.getBytes(StandardCharsets.UTF_8), rate)
          Wav.windowedStats(container, FrameWindows, FrameLen) match {
            case Right(ws) => ws.map(w => Row(r.getLong(0), w.idx,
              w.startFrame, w.nSamples, w.ampSum, w.absSum, w.peak))
            case Left(reason) => throw new IllegalStateException(
              s"audioWindows: self-encoded WAV failed to window: $reason")
          }
        }
      }(enc)
  }

  private def audioWindows(spark: SparkSession, dir: String): DataFrame =
    audioWindowsOf(Tables.documentsFanned(spark, dir))

  /** q164 — the multimodal FRAME-SAMPLE op as a hash-oracled query:
    * each document's PCM take (q161's derivation) sliced into
    * [[FrameWindows]] evenly spaced windows of [[FrameLen]] frames by
    * [[Wav.windowedStats]], each window reduced to integer (count,
    * amplitude sum, peak) in the kernel with the mean dividing in the
    * plan — the windowed-feature pass an audio featurizer runs before
    * embedding (VAD energy, clipping detection), and the audio analog
    * of [[frameSample]]'s byte windows. The oracle re-slices the same
    * windows from the replayed samples, so the stride arithmetic, the
    * window clamp, and the dropped-past-the-end windows are all
    * hash-pinned. Takes with zero frames emit no windows (oracle:
    * `WHERE` on the frame count), and every emitted window holds ≥ 1
    * sample so the mean never divides by zero.
    *
    * Scale shape: one `mapPartitions` decode pass emitting ≤
    * [[FrameWindows]] rows per doc; no per-sample rows leave the
    * kernel.
    */
  def q164AudioFrames(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    audioWindows(spark, dir)
      .select(col("doc_id"), col("window_idx"), col("start_frame"),
        col("n_samples"), col("amp_sum"),
        round6(col("amp_sum").cast("double") / col("n_samples"))
          .as("mean_amp"),
        col("peak_amp"))
      .orderBy("doc_id", "window_idx")
  }

  lazy val q164OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $audioWindowCtes
       |SELECT doc_id, CAST(k AS INTEGER) AS window_idx,
       |       CAST(start AS BIGINT) AS start_frame,
       |       CAST(len(ws) AS BIGINT) AS n_samples,
       |       CAST(list_sum(ws) AS BIGINT) AS amp_sum,
       |       ${round6Sql("CAST(list_sum(ws) AS DOUBLE) / len(ws)")}
       |         AS mean_amp,
       |       CAST(list_max(list_transform(ws, x -> abs(x))) AS INTEGER)
       |         AS peak_amp
       |FROM w3 ORDER BY doc_id, window_idx""".stripMargin
  }

  /** The q164 window slicing as shared oracle CTEs (`base` … `w3`):
    * the replayed samples, the window stride, and the clamped slices —
    * q164 reports the windows, q166 screens the take from them.
    */
  private lazy val audioWindowCtes: String =
    s"""$wavSampCtes, wins AS (
       |  SELECT doc_id, s, CAST((L + 1) // 2 AS BIGINT) AS n,
       |         unnest(generate_series(0, ${FrameWindows - 1})) AS k
       |  FROM samp WHERE (L + 1) // 2 > 0
       |), w2 AS (
       |  SELECT doc_id, k, n, s,
       |         k * GREATEST(GREATEST(n - $FrameLen, 0) // $FrameWindows, 1)
       |           AS start
       |  FROM wins
       |), w3 AS (
       |  SELECT doc_id, k, start,
       |         list_transform(generate_series(CAST(start + 1 AS INTEGER),
       |           CAST(LEAST(start + $FrameLen, n) AS INTEGER)),
       |           j -> s[j]) AS ws
       |  FROM w2 WHERE start < n
       |)""".stripMargin

  // ---- q165: banded Hamming near-dup over image fingerprints ----------------

  /** q165 — NEAR-duplicate images at Hamming distance 1–[[HammingMax]]
    * over q163's aHash fingerprints: the shared [[hammingPairs]] core
    * per grid geometry, over [[GridBandBits]]-wide bands of the ≤ 16
    * fingerprint bits. q163's groups are the distance-0 story; this is
    * the tail where a retouch moved a cell across the global mean.
    */
  def q165ImageHammingPairs(spark: SparkSession, dir: String): DataFrame =
    hammingPairs(imageFingerprints(spark, dir), "gy", "grid_rows", GridBandBits)

  lazy val q165OracleSql: String =
    hammingPairsSql(fpCtes, "fp", "gy", "grid_rows", GridBandBits)

  // ---- q166: audio quality screen -------------------------------------------

  /** Clipping floor: a windowed peak at or above this magnitude flags
    * the take (32767 = positive full scale; −32768 exceeds it).
    */
  val ClipPeak = 32767

  /** Silence ceiling: a take whose windowed mean |amplitude| is below
    * this (~1% of full scale) flags as silent — compared integer-exactly
    * as `abs_sum < ceiling · n_samples`.
    */
  val SilenceMeanAbs = 328L

  /** q166's verdict core over ANY `(doc_id, text[, n_chars])` frame —
    * one definition for the batch audit and the streaming intake gate
    * (`StreamingOps.audioQualityOfBatch`), so the screen a crawl passes
    * at the door can never drift from the audit a release runs later.
    */
  private[graft] def audioVerdictsOf(docs: DataFrame): DataFrame =
    audioVerdictsFromWindows(docs, audioWindowsOf(docs))

  /** [[audioVerdictsOf]] over an ALREADY-DECODED window frame — the
    * composite intake's seam (see [[audioSigsFromWindows]]).
    */
  private[graft] def audioVerdictsFromWindows(docs: DataFrame,
      windows: DataFrame): DataFrame = {
    import graft.functions.VectorOps.round6
    val agg = windows.groupBy("doc_id")
      .agg(count(lit(1)).as("w_n"), sum("n_samples").as("w_samp"),
        sum("abs_sum").as("w_abs"), max("peak_amp").as("w_peak"))
    val nW = coalesce(col("w_n"), lit(0L))
    val nS = coalesce(col("w_samp"), lit(0L))
    val aS = coalesce(col("w_abs"), lit(0L))
    val pk = coalesce(col("w_peak"), lit(0))
    val clipped = pk >= ClipPeak
    val silent = (nS === 0L) || (aS < lit(SilenceMeanAbs) * nS)
    docs.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), nW.as("n_windows"), nS.as("n_samples"),
        aS.as("abs_sum"),
        round6(aS.cast("double") / nullif(nS, lit(0L))).as("mean_abs"),
        pk.as("peak_amp"), clipped.as("clipped"), silent.as("silent"),
        (!clipped && !silent).as("keep"))
  }

  /** q166 — the audio QUALITY SCREEN: per take, q164's sampled windows
    * rolled up to (window count, sample count, magnitude sum, peak) and
    * two flags a media pipeline gates on before paying for embedding —
    * `clipped` (any windowed peak at full scale: the take is distorted)
    * and `silent` (windowed mean |amplitude| under [[SilenceMeanAbs]],
    * integer-exact; zero-frame takes are silent by definition) —
    * `keep = ¬clipped ∧ ¬silent`. Screening on SAMPLED windows, not the
    * whole take, is the point of frame-sampling: the verdict costs
    * ≤ [[FrameWindows]]·[[FrameLen]] samples per take regardless of
    * take length. Every document gets a verdict row (zero-frame takes
    * included, via the left join), so the screen composes with the
    * curation ledger the way q83's text gate does.
    *
    * Scale shape: the one decode pass → doc-grain map-side-partial
    * aggregate (≤ 3 rows in, 1 out per doc) → broadcast-or-shuffle
    * equi-join back to the doc spine; flags are column arithmetic.
    */
  def q166AudioQualityScreen(spark: SparkSession, dir: String): DataFrame =
    audioVerdictsOf(Tables.documents(spark, dir)).orderBy("doc_id")

  lazy val q166OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $audioWindowCtes, wagg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS w_n,
       |         CAST(sum(len(ws)) AS BIGINT) AS w_samp,
       |         CAST(sum(list_sum(list_transform(ws, x -> abs(x))))
       |           AS BIGINT) AS w_abs,
       |         CAST(max(list_max(list_transform(ws, x -> abs(x))))
       |           AS INTEGER) AS w_peak
       |  FROM w3 GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(w.w_n, 0) AS n_windows,
       |       COALESCE(w.w_samp, 0) AS n_samples,
       |       COALESCE(w.w_abs, 0) AS abs_sum,
       |       ${round6Sql("CAST(COALESCE(w.w_abs, 0) AS DOUBLE)" +
              " / NULLIF(COALESCE(w.w_samp, 0), 0)")} AS mean_abs,
       |       COALESCE(w.w_peak, 0) AS peak_amp,
       |       COALESCE(w.w_peak, 0) >= $ClipPeak AS clipped,
       |       (COALESCE(w.w_samp, 0) = 0 OR
       |        COALESCE(w.w_abs, 0) < $SilenceMeanAbs * COALESCE(w.w_samp, 0))
       |         AS silent,
       |       NOT (COALESCE(w.w_peak, 0) >= $ClipPeak) AND
       |       NOT (COALESCE(w.w_samp, 0) = 0 OR
       |            COALESCE(w.w_abs, 0) <
       |              $SilenceMeanAbs * COALESCE(w.w_samp, 0)) AS keep
       |FROM documents d LEFT JOIN wagg w USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- q176/q177: audio perceptual dedup --------------------------------------

  /** The per-take quantized amplitude signature `(doc_id, n_frames,
    * fingerprint)` — each of q164's sampled windows reduced to its mean
    * |amplitude| quantized to 4 bits (`min(⌊abs_sum·16 ÷
    * (32768·n_samples)⌋, 15)` — integer-exact, the q172 quantizer in
    * amplitude space) and packed by window position, keyed by the
    * take's frame count (signatures are only comparable within a length
    * class, the q163/q172 geometry rule). Zero-frame takes carry no
    * audio to fingerprint and emit no signature. Shared by q176
    * (distance-0 groups) and q177 (banded Hamming tail).
    */
  private def audioSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.AudioSigsName)

  /** The signature derivation over ANY docs frame — [[videoSigRows]]'s
    * quantize-and-pack in amplitude space: what the standing
    * `audio_sigs` artifact materializes and what the intake gate runs
    * batch-bounded.
    */
  def audioSigRows(docs: DataFrame): DataFrame =
    audioSigsFromWindows(docs, audioWindowsOf(docs))

  /** [[audioSigRows]] over an ALREADY-DECODED window frame
    * ([[audioWindowsOf]]'s shape) — the seam the composite intake uses
    * to derive the signature and the quality verdict from ONE decode
    * pass instead of two.
    */
  private[graft] def audioSigsFromWindows(docs: DataFrame,
      windows: DataFrame): DataFrame = {
    val sigs = windows
      .withColumn("q", expr(
        "least(CAST(abs_sum * 16 DIV (32768 * n_samples) AS BIGINT)," +
          " CAST(15 AS BIGINT))"))
      .groupBy("doc_id")
      .agg(sum(expr("shiftleft(q, 4 * window_idx)")).as("fingerprint"))
    val lens = docs.select(col("doc_id"),
      expr("(octet_length(coalesce(text, '')) + 1) DIV 2")
        .cast("long").as("n_frames"))
    sigs.join(lens, "doc_id").select("doc_id", "n_frames", "fingerprint")
  }

  /** q176 — AUDIO perceptual dedup, completing the modality matrix
    * (q163 images, q172 video — every modality now carries its own
    * perceptual dedup beside its quality screen): takes sharing
    * (frame count, quantized windowed-amplitude signature) are
    * perceptual near-duplicates — the same recording re-containered or
    * re-mastered at the same length lands on the same coarse loudness
    * trajectory. Output is the dup groups (≥ 2 members) with ordered
    * member lists.
    *
    * Scale shape: the one decode pass → per-doc ≤ 3-row aggregate →
    * the shared [[sigGroups]] core (ONE shuffle on the signature).
    */
  def q176AudioPhashDups(spark: SparkSession, dir: String): DataFrame =
    sigGroups(audioSignatures(spark, dir), "n_frames", "n_frames")

  /** The shared signature replay (`base` … `asig`): [[audioWindowCtes]]
    * plus the 4-bit amplitude quantization, the positional pack, and
    * the frame-count key — q176 groups it, q177 bands it.
    */
  private lazy val audioSigCtes: String =
    s"""$audioWindowCtes, aq AS (
       |  SELECT doc_id, k,
       |         LEAST(CAST(COALESCE(list_sum(list_transform(ws,
       |             x -> abs(x))), 0) * 16 // (32768 * len(ws))
       |           AS BIGINT), 15) AS q
       |  FROM w3
       |), asig AS (
       |  SELECT s.doc_id, l.n_frames, s.fingerprint FROM (
       |    SELECT doc_id,
       |           CAST(sum(q << CAST(4 * k AS INTEGER)) AS BIGINT)
       |             AS fingerprint
       |    FROM aq GROUP BY doc_id
       |  ) s JOIN (
       |    SELECT doc_id,
       |           CAST((octet_length(encode(coalesce(text, ''))) + 1) // 2
       |             AS BIGINT) AS n_frames
       |    FROM documents
       |  ) l USING (doc_id)
       |)""".stripMargin

  lazy val q176OracleSql: String =
    sigGroupsSql(audioSigCtes, "asig", "n_frames", "n_frames")

  /** q177 — NEAR-duplicate audio at Hamming 1–[[HammingMax]] over
    * q176's signatures: the shared [[hammingPairs]] core per
    * frame-count class over [[SigBandBits]]-wide bands — the re-master
    * that moved one window's loudness a quantization step.
    */
  def q177AudioHammingPairs(spark: SparkSession, dir: String): DataFrame =
    hammingPairs(audioSignatures(spark, dir), "n_frames", "n_frames",
      SigBandBits)

  lazy val q177OracleSql: String =
    hammingPairsSql(audioSigCtes, "asig", "n_frames", "n_frames", SigBandBits)

  // ---- q167: image-embedding kNN --------------------------------------------

  /** q167's probe count and neighbors returned per probe. */
  val ImageKnnProbes = 3
  val ImageTopK = 5

  /** The 16-dim grid EMBEDDING frame `(vec_id, vec)` of the full-grid
    * images — cell means off a grid frame (the standing `image_grids`
    * artifact in artifact mode; one map, no decode). The image-side
    * twin of the embeddings table: q167 searches it exact, q175's
    * trained IVF indexes it, and the `image_ivf_*` artifacts are
    * functions of it.
    */
  def imageVecRows(grids: DataFrame): DataFrame =
    grids.filter(col("gy") === Grid)
      .select(col("doc_id").as("vec_id"), expr(
        "transform(sums, (s, i) -> CAST(s AS DOUBLE) / (3.0 * cnts[i]))")
        .as("vec"))

  /** [[imageVecRows]] quantized to the IVF's fixed-point domain
    * `(vec_id, q)` — the frame the image IVF trains and assigns over.
    */
  def imageQuantRows(grids: DataFrame): DataFrame =
    imageVecRows(grids)
      .select(col("vec_id"), Ivf.quantize(col("vec")).as("q"))

  /** q167 — SIMILARITY SEARCH over image features: q162's thumbnails as
    * 16-dim grayscale-mean embeddings (`s_c / (3·n_c)` per cell — the
    * fixed-size vector a vision tower would refine), brute-force cosine
    * top-[[ImageTopK]] for [[ImageKnnProbes]] probe images. The
    * decode → resize → embed → search arc end to end: probes are the
    * HIGHEST doc_ids among full-grid (gy = 4) images (the q117
    * eval-probe posture), candidates every other full-grid image
    * (partial grids aren't dimension-compatible), scores through the
    * native [[graft.functions.DotProduct]] kernel, rounded BEFORE
    * ranking so cross-engine ties break identically (q22's rule:
    * cos DESC, neighbor_id ASC).
    *
    * Scale shape: the probe side is [[ImageKnnProbes]] rows broadcast
    * into one map-only scan of the candidate vectors, then a
    * per-probe top-k — q22's brute-force baseline over KERNEL-DERIVED
    * features instead of stored embeddings; the IVF/PQ path (q125/
    * q139) applies unchanged the moment the fingerprint frame is
    * materialized as a standing artifact.
    */
  def q167ImageKnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val vecs = imageVecRows(imageFingerprints(spark, dir))
      .select(col("vec_id").as("doc_id"), col("vec"))
    val probes = vecs.orderBy(col("doc_id").desc).limit(ImageKnnProbes)
      .select(col("doc_id").as("probe_id"), col("vec").as("pvec"))
    val scored = vecs.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id").as("neighbor_id"),
        VectorOps.round6(VectorOps.cosine(col("pvec"), col("vec")))
          .as("cos"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= ImageTopK)
      .select("probe_id", "rank", "neighbor_id", "cos")
      .orderBy("probe_id", "rank")
  }

  // ---- q171: video frame sampling --------------------------------------------

  /** q171's stream geometry: fixed luma-plane height, frames sampled
    * per stream, and the nominal frame rate the container carries.
    */
  val Y4mHeight = 6
  val Y4mSamples = 3
  val Y4mFps = 24

  /** The video frame-sampling kernel pass shared by q171 (frame grain)
    * and q172 (per-take signature): one `mapPartitions` decode emitting
    * ≤ [[Y4mSamples]] rows per doc, each with the frame's integer luma
    * reductions plus the take's frame count.
    */
  private def videoFrames(spark: SparkSession, dir: String): DataFrame =
    videoFramesOf(Tables.documents(spark, dir))

  /** The same kernel over ANY `(doc_id, text[, n_chars])` frame — a
    * missing `n_chars` is derived (the [[imageGridRows]] posture),
    * which is what lets the streaming intake gate and the signature
    * artifact's maintenance paths run the identical walk over a raw
    * batch.
    */
  private def videoFramesOf(docs: DataFrame): DataFrame = {
    val kernelSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame_no", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("n_px", IntegerType),
      StructField("luma_sum", LongType),
      StructField("luma_min", IntegerType),
      StructField("luma_max", IntegerType)))
    val enc = RowEncoder.encoderFor(kernelSchema)
    val withStats =
      if (docs.columns.contains("n_chars")) docs
      else docs.withColumn("n_chars",
        length(coalesce(col("text"), lit(""))).cast("long"))
    withStats
      .select(col("doc_id"), col("text"), col("n_chars"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          videoDecodes.incrementAndGet()
          val text = Option(r.getString(1)).getOrElse("")
          val w = (r.getLong(2) % 16 + 8).toInt
          val payload = text.getBytes(StandardCharsets.UTF_8)
          val container = Y4m.encode(payload, w, Y4mHeight, Y4mFps)
          // the decoder's own frame count, not the encode arithmetic —
          // the two must agree or the container is malformed
          val nf = Y4m.parse(container).fold(
            reason => throw new IllegalStateException(
              s"videoFrames: self-encoded Y4M failed to parse: $reason"),
            _.nFrames)
          Y4m.frameStats(container, Y4mSamples) match {
            case Right(fs) => fs.map(f => Row(r.getLong(0), f.idx,
              f.frameNo, nf, f.nPx, f.lumaSum, f.lumaMin, f.lumaMax))
            case Left(reason) => throw new IllegalStateException(
              s"videoFrames: self-encoded Y4M failed to sample: $reason")
          }
        }
      }(enc)
  }

  /** q171 — the multimodal VIDEO pipeline end-to-end: each document's
    * text bytes wrapped as a REAL YUV4MPEG2 stream (the uncompressed
    * video container ffmpeg/mplayer read: ASCII stream header, per
    * frame an ASCII `FRAME\n` marker + the luma plane, mono chroma,
    * width from doc stats, last frame zero-padded), then the parser
    * walks the header grammar (unknown parameters skipped) and the
    * frame markers, and [[Y4m.frameStats]] samples [[Y4mSamples]]
    * evenly spaced frames, reducing each to integer luma (count, sum,
    * min, max) — the thumbnail-track pass a video featurizer runs
    * before embedding, and the third REAL container beside P6 (q28)
    * and RIFF/WAVE (q161): image, audio, and video each decode from a
    * self-describing format, never a synthetic stub. The oracle
    * rebuilds every sampled frame from the character codes — frame
    * size, stride, the drop-past-the-end rule, and the zero padding
    * visible in the last frame's min — so the whole walk is
    * hash-pinned. Means divide in the plan (the q28 discipline).
    *
    * Scale shape: one `mapPartitions` decode pass emitting ≤
    * [[Y4mSamples]] rows per doc; no per-pixel rows leave the kernel.
    */
  def q171VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    videoFrames(spark, dir).select(col("doc_id"), col("frame_idx"),
        col("frame_no"),
        col("n_px"), col("luma_sum"),
        round6(col("luma_sum").cast("double") / col("n_px")).as("mean_luma"),
        col("luma_min"), col("luma_max"))
      .orderBy("doc_id", "frame_idx")
  }

  /** The shared video-frame replay (`base` … `f3`): frame `f` covers
    * payload bytes `[f·S, (f+1)·S)` with `S = h·w`, bytes past the
    * text are the zero pad; stride, drop rule, and the slices — q171
    * reports the frames, q172 fingerprints them, one walk.
    */
  private lazy val videoFrameCtes: String =
    s"""base AS (
       |  SELECT doc_id,
       |         CAST(n_chars % 16 + 8 AS INTEGER) AS w,
       |         list_transform(generate_series(1, length(coalesce(text, ''))),
       |                        i -> ascii(substring(text, i, 1))) AS codes,
       |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
       |  FROM documents
       |), dims AS (
       |  SELECT doc_id, codes, L, $Y4mHeight * w AS fs,
       |         CAST(CEIL(CAST(GREATEST(L, 1) AS DOUBLE) / ($Y4mHeight * w))
       |           AS INTEGER) AS nf
       |  FROM base
       |), fr AS (
       |  SELECT doc_id, codes, L, fs, nf,
       |         unnest(generate_series(0, ${Y4mSamples - 1})) AS i
       |  FROM dims
       |), f2 AS (
       |  SELECT doc_id, codes, L, fs, nf, i,
       |         i * GREATEST(nf // $Y4mSamples, 1) AS f
       |  FROM fr
       |), f3 AS (
       |  SELECT doc_id, i, f, fs, nf,
       |         list_transform(generate_series(CAST(f * fs + 1 AS INTEGER),
       |           CAST((f + 1) * fs AS INTEGER)),
       |           j -> CASE WHEN j <= L THEN codes[j] ELSE 0 END) AS px
       |  FROM f2 WHERE f < nf
       |)""".stripMargin

  lazy val q171OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $videoFrameCtes
       |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
       |       CAST(f AS INTEGER) AS frame_no,
       |       CAST(fs AS INTEGER) AS n_px,
       |       CAST(list_sum(px) AS BIGINT) AS luma_sum,
       |       ${round6Sql("CAST(list_sum(px) AS DOUBLE) / fs")} AS mean_luma,
       |       CAST(list_min(px) AS INTEGER) AS luma_min,
       |       CAST(list_max(px) AS INTEGER) AS luma_max
       |FROM f3 ORDER BY doc_id, frame_idx""".stripMargin
  }

  // ---- q172: video perceptual dedup -------------------------------------------

  /** The per-take quantized luma signature `(doc_id, n_frames,
    * fingerprint)` — q172's scoring stage, shared with q173's banded
    * Hamming join (one derivation, the q163/q165 split at video grain).
    */
  private def videoSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.serve(spark, dir, graft.Artifacts.VideoSigsName)

  /** The signature derivation over ANY docs frame — one decode pass →
    * per-doc ≤ [[Y4mSamples]]-row aggregate. This is what the standing
    * `video_sigs` artifact materializes (decode once per snapshot, the
    * `image_grids` posture for footage) and what the intake gate runs
    * batch-bounded over arrivals.
    */
  def videoSigRows(docs: DataFrame): DataFrame =
    videoFramesOf(docs)
      .withColumn("q", expr(
        "least(CAST(luma_sum * 16 DIV (255 * n_px) AS BIGINT)," +
          " CAST(15 AS BIGINT))"))
      .groupBy("doc_id", "n_frames")
      .agg(sum(expr("shiftleft(q, 4 * frame_idx)")).as("fingerprint"))

  /** q172 — VIDEO perceptual dedup, closing the dedup story across all
    * three modalities (q163 images, q165 their Hamming tail — this is
    * the video analog): each take's signature is its sampled frames'
    * luma means quantized to 4 bits each
    * (`min(⌊sum·16 ÷ (255·n_px)⌋, 15)` — integer-exact, no float, no
    * tie ambiguity) packed by sample position into one BIGINT, keyed
    * by the take's frame count (signatures are only comparable within
    * a length class, the q163 geometry rule). Takes sharing
    * (n_frames, signature) are perceptual near-duplicates — the same
    * footage re-containered or lightly re-encoded lands on the same
    * coarse luma trajectory. Output is the dup groups (≥ 2 members)
    * with ordered member lists.
    *
    * Scale shape: the one decode pass → per-doc 3-row aggregate →
    * the shared [[sigGroups]] core (ONE shuffle on the signature; at
    * 100 TB the signature column joins the standing artifacts).
    */
  def q172VideoPhashDups(spark: SparkSession, dir: String): DataFrame =
    sigGroups(videoSignatures(spark, dir), "n_frames", "n_frames")

  /** The shared signature replay (`base` … `sig`): [[videoFrameCtes]]
    * plus the 4-bit quantization and the positional pack — q172 groups
    * it, q173 bands it, one derivation.
    */
  private lazy val videoSigCtes: String =
    s"""$videoFrameCtes, f4 AS (
       |  SELECT doc_id, i, nf,
       |         LEAST(CAST(COALESCE(list_sum(px), 0) * 16 // (255 * fs)
       |           AS BIGINT), 15) AS q
       |  FROM f3
       |), sig AS (
       |  SELECT doc_id, nf,
       |         CAST(sum(q << CAST(4 * i AS INTEGER)) AS BIGINT)
       |           AS fingerprint
       |  FROM f4 GROUP BY doc_id, nf
       |)""".stripMargin

  lazy val q172OracleSql: String =
    sigGroupsSql(videoSigCtes, "sig", "nf", "n_frames")

  // ---- q173: banded Hamming near-dup over video signatures -------------------

  /** q173 — NEAR-duplicate videos at Hamming distance 1–[[HammingMax]]
    * over q172's quantized luma signatures: the shared [[hammingPairs]]
    * core per frame-count class, over [[SigBandBits]]-wide bands of the
    * ≤ 12-bit signature (4 bits × ≤ [[Y4mSamples]] sampled frames) —
    * the tail where one sampled frame's coarse luma moved a
    * quantization step, the re-encode/re-grade case.
    */
  def q173VideoHammingPairs(spark: SparkSession, dir: String): DataFrame =
    hammingPairs(videoSignatures(spark, dir), "n_frames", "n_frames",
      SigBandBits)

  lazy val q173OracleSql: String =
    hammingPairsSql(videoSigCtes, "sig", "nf", "n_frames", SigBandBits)

  // ---- q168: the multimodal curation ledger ----------------------------------

  /** q168 — the MULTIMODAL curation ledger: every modality's gate
    * composed into one per-document ship verdict — text quality (q83's
    * classifier label), audio quality (q166's clipped/silent screen),
    * and image dedup (q163's perceptual groups reduced to a keeper:
    * the smallest doc of each (geometry, fingerprint) group ships, its
    * perceptual copies don't — unique images are their own keeper).
    * `ship = text_keep ∧ audio_keep ∧ image_keeper`, with `image_match`
    * carrying the keeper id so a culled copy is attributable. The
    * multimodal twin of q138's text ledger: the one frame a release
    * pipeline joins before packing a corpus that carries media columns.
    *
    * Scale shape: one fingerprint-grain aggregate (keeper per group) +
    * three doc-grain equi-joins; the image side reads the standing
    * `image_grids`, the text and audio sides are map-only scans.
    */
  def q168MultimodalLedger(spark: SparkSession, dir: String): DataFrame = {
    val img = imageFingerprints(spark, dir)
      .select("doc_id", "gy", "fingerprint")
    val keepers = img.groupBy("gy", "fingerprint")
      .agg(min("doc_id").as("image_match"))
    val withK = img.join(keepers, Seq("gy", "fingerprint"))
      .select(col("doc_id"), col("image_match"))
    val txt = TextAnalysis.q83QualityClassifier(spark, dir)
      .select(col("doc_id"), (col("quality_label") === "keep").as("text_keep"))
    val aud = q166AudioQualityScreen(spark, dir)
      .select(col("doc_id"), col("keep").as("audio_keep"))
    withK.join(txt, "doc_id").join(aud, "doc_id")
      .select(col("doc_id"), col("text_keep"), col("audio_keep"),
        (col("doc_id") === col("image_match")).as("image_keeper"),
        col("image_match"),
        (col("text_keep") && col("audio_keep") &&
          (col("doc_id") === col("image_match"))).as("ship"))
      .orderBy("doc_id")
  }

  /** q83's and q166's oracles embedded whole (the q158-embeds-q138
    * precedent — inner WITHs shadow legally), the keeper reduction on
    * [[fpCtes]], and the conjunction — all three modality gates
    * replayed in ONE statement.
    */
  lazy val q168OracleSql: String =
    s"""WITH $fpCtes, grpmin AS (
       |  SELECT gy, fingerprint, min(doc_id) AS keeper
       |  FROM fp GROUP BY gy, fingerprint
       |), img AS (
       |  SELECT f.doc_id, g.keeper FROM fp f
       |  JOIN grpmin g USING (gy, fingerprint)
       |), txt AS (
       |  SELECT doc_id, quality_label FROM (
       |${TextAnalysis.q83OracleSql}
       |  )
       |), aud AS (
       |  SELECT doc_id, keep AS audio_keep FROM (
       |$q166OracleSql
       |  )
       |)
       |SELECT i.doc_id,
       |       t.quality_label = 'keep' AS text_keep,
       |       a.audio_keep,
       |       i.doc_id = i.keeper AS image_keeper,
       |       i.keeper AS image_match,
       |       (t.quality_label = 'keep' AND a.audio_keep
       |        AND i.doc_id = i.keeper) AS ship
       |FROM img i JOIN txt t USING (doc_id) JOIN aud a USING (doc_id)
       |ORDER BY i.doc_id""".stripMargin

  // ---- q169: per-source image dup burden -------------------------------------

  /** q169 — image dup burden by SOURCE: which feed ships perceptually
    * duplicated images (q67's source-grain dup accounting in image
    * space). Per source: image count, count in a ≥2-member perceptual
    * group, and the dup rate — the number that says "this crawl
    * mirrors that one's pictures" before storage is paid at scale.
    *
    * Scale shape: fingerprint-grain group sizes (≤ 2¹⁶ per geometry)
    * joined back at doc grain, one (doc_id, source) documents
    * projection, source-grain rollup.
    */
  def q169SourceImageDups(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val img = imageFingerprints(spark, dir)
      .select("doc_id", "gy", "fingerprint")
    val sizes = img.groupBy("gy", "fingerprint").agg(count(lit(1)).as("gsz"))
    val flagged = img.join(sizes, Seq("gy", "fingerprint"))
      .select(col("doc_id"), (col("gsz") >= 2).cast("long").as("dup"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(flagged, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_images"), sum("dup").as("n_dup_images"))
      .withColumn("dup_rate",
        round6(col("n_dup_images").cast("double") / col("n_images")))
      .orderBy(col("source").asc_nulls_last)
  }

  lazy val q169OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH $fpCtes, gsz AS (
       |  SELECT gy, fingerprint, count(*) AS gsz
       |  FROM fp GROUP BY gy, fingerprint
       |), flag AS (
       |  SELECT f.doc_id, CASE WHEN g.gsz >= 2 THEN 1 ELSE 0 END AS dup
       |  FROM fp f JOIN gsz g USING (gy, fingerprint)
       |)
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_images,
       |       CAST(sum(fl.dup) AS BIGINT) AS n_dup_images,
       |       ${round6Sql("CAST(sum(fl.dup) AS DOUBLE) / count(*)")}
       |         AS dup_rate
       |FROM documents d JOIN flag fl USING (doc_id)
       |GROUP BY d.source ORDER BY d.source ASC NULLS LAST""".stripMargin
  }

  // ---- q174: per-source media storage accounting ------------------------------

  /** Y4M stream-header bytes excluding the WIDTH digits (height and
    * fps are fixed corpus geometry, so their digits are part of the
    * fixed overhead), derived from [[Y4m.headerOf]] with a
    * single-digit probe width subtracted back out — change the
    * template or the geometry constants and the accounting formulas
    * (both engines — the oracle interpolates the same value) move
    * with them.
    */
  private lazy val Y4mHeaderFixedLen: Int =
    Y4m.headerOf(1, Y4mHeight, Y4mFps).length - 1

  /** q174 — media STORAGE accounting by (source, modality): documents,
    * container bytes, media units (pixels / samples / frames), mean
    * units and bytes per doc, and the modality's leading dimension
    * (image/video width, audio sample rate). The capacity-planning
    * query a multimodal lake runs before paying 100 TB of object
    * storage — "which feed ships the pixel mass, and at what container
    * overhead" — and the storage twin of q169's dup burden.
    *
    * Zero media decode, zero grid scan: every container field is HEADER
    * ARITHMETIC over the manifest columns the derivations carry
    * (`n_chars`, byte length) — P6's dims/plane (q28's n_bytes
    * formula), WAV's 44-byte header + padded data chunk, Y4M's ASCII
    * header + per-frame marker+plane — so the plan is one documents
    * projection (no text content read beyond its length) into a
    * dimension-sized rollup. The oracle replays all three container
    * layouts byte-for-byte.
    */
  def q174MediaStorage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.round6
    val d = Tables.documents(spark, dir).select(col("source"),
      col("n_chars"),
      octet_length(coalesce(col("text"), lit(""))).cast("long").as("L"))
    val img = d
      .withColumn("w", col("n_chars") % 24 + 8)
      .withColumn("h", expr("(GREATEST(L, 1) + 3*w - 1) DIV (3*w)"))
      .select(col("source"), lit("image").as("modality"),
        col("w").as("dim1"),
        (col("w") * col("h")).as("units"),
        // header "P6\n{w} {h}\n255\n" = fixed + digits, then the plane
        (lit(Ppm.HeaderFixedLen.toLong) + length(col("w").cast("string"))
          + length(col("h").cast("string"))
          + lit(3L) * col("w") * col("h")).as("bytes"))
    val aud = d.select(col("source"), lit("audio").as("modality"),
      (lit(8000L) + (col("n_chars") % 8) * 1000).as("dim1"),
      expr("(L + 1) DIV 2").as("units"),
      // canonical RIFF/WAVE header + odd-tail-padded data chunk
      (lit(Wav.HeaderLen.toLong) + col("L") + col("L") % 2).as("bytes"))
    val vid = d
      .withColumn("w", col("n_chars") % 16 + 8)
      .withColumn("nf", expr(s"(GREATEST(L, 1) + $Y4mHeight*w - 1)" +
        s" DIV ($Y4mHeight*w)"))
      .select(col("source"), lit("video").as("modality"),
        col("w").as("dim1"),
        col("nf").as("units"),
        // stream header = fixed + width digits, then per frame the
        // "FRAME\n" marker + the luma plane
        (lit(Y4mHeaderFixedLen.toLong) + length(col("w").cast("string"))
          + col("nf") * (lit(Y4m.MarkerLen.toLong)
            + lit(Y4mHeight.toLong) * col("w")))
          .as("bytes"))
    img.unionByName(aud).unionByName(vid)
      .groupBy("source", "modality")
      .agg(count(lit(1)).as("n_docs"),
        sum("bytes").as("container_bytes"),
        sum("units").as("n_units"),
        // integer sum then ONE divide: exact and partition-order-free,
        // where avg(double) could drift a ulp across engines
        sum("dim1").as("dim1_sum"))
      .withColumn("mean_dim1",
        round6(col("dim1_sum").cast("double") / col("n_docs")))
      .drop("dim1_sum")
      .withColumn("mean_units",
        round6(col("n_units").cast("double") / col("n_docs")))
      .withColumn("mean_bytes",
        round6(col("container_bytes").cast("double") / col("n_docs")))
      .orderBy(col("source").asc_nulls_last, col("modality"))
  }

  lazy val q174OracleSql: String = {
    import graft.functions.VectorOps.round6Sql
    s"""WITH d AS (
       |  SELECT source, n_chars,
       |         CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS L
       |  FROM documents
       |), img AS (
       |  SELECT source, 'image' AS modality,
       |         CAST(w AS BIGINT) AS dim1,
       |         CAST(w * h AS BIGINT) AS units,
       |         CAST(${Ppm.HeaderFixedLen} + len(CAST(w AS VARCHAR))
       |              + len(CAST(h AS VARCHAR))
       |              + 3 * w * h AS BIGINT) AS bytes
       |  FROM (SELECT source, n_chars % 24 + 8 AS w,
       |               (GREATEST(L, 1) + 3*(n_chars % 24 + 8) - 1)
       |                 // (3*(n_chars % 24 + 8)) AS h
       |        FROM d)
       |), aud AS (
       |  SELECT source, 'audio' AS modality,
       |         CAST(8000 + (n_chars % 8) * 1000 AS BIGINT) AS dim1,
       |         CAST((L + 1) // 2 AS BIGINT) AS units,
       |         CAST(${Wav.HeaderLen} + L + L % 2 AS BIGINT) AS bytes
       |  FROM d
       |), vid AS (
       |  SELECT source, 'video' AS modality,
       |         CAST(w AS BIGINT) AS dim1,
       |         CAST(nf AS BIGINT) AS units,
       |         CAST($Y4mHeaderFixedLen + len(CAST(w AS VARCHAR))
       |              + nf * (${Y4m.MarkerLen} + $Y4mHeight * w)
       |           AS BIGINT) AS bytes
       |  FROM (SELECT source, n_chars % 16 + 8 AS w,
       |               (GREATEST(L, 1) + $Y4mHeight*(n_chars % 16 + 8) - 1)
       |                 // ($Y4mHeight*(n_chars % 16 + 8)) AS nf
       |        FROM d)
       |), m AS (
       |  SELECT * FROM img UNION ALL SELECT * FROM aud
       |  UNION ALL SELECT * FROM vid
       |)
       |SELECT source, modality,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(bytes) AS BIGINT) AS container_bytes,
       |       CAST(SUM(units) AS BIGINT) AS n_units,
       |       ${round6Sql("CAST(SUM(dim1) AS DOUBLE) / COUNT(*)")}
       |         AS mean_dim1,
       |       ${round6Sql("CAST(SUM(units) AS DOUBLE) / COUNT(*)")}
       |         AS mean_units,
       |       ${round6Sql("CAST(SUM(bytes) AS DOUBLE) / COUNT(*)")}
       |         AS mean_bytes
       |FROM m GROUP BY source, modality
       |ORDER BY source ASC NULLS LAST, modality""".stripMargin
  }

  // ---- q175: trained IVF over image embeddings --------------------------------

  /** q175 — the trained IVF path (q125's shape) over IMAGE vectors:
    * q167's 16-dim grid embeddings quantized (fixed-point, the q125
    * discipline), [[Ivf.K]] centroids trained by the sampled Lloyd loop
    * over the deterministic PolyHash sample, every full-grid image
    * assigned map-side against the literal centroids, and q167's probe
    * images searched at nprobe = [[Ivf.Nprobe]] with a float-cosine
    * rerank — recall@[[ImageTopK]] scored against q167's exact
    * brute-force ranks. This is the scale path q167's scaladoc promised:
    * brute-force cosine is the baseline, the trained inverted file is
    * what a 10⁹-image corpus actually serves, and the oracle replays
    * the WHOLE arc (grid derivation → quantize → Lloyd → assignment →
    * probe → rerank → recall) in one statement.
    *
    * Scale shape: the trained model is STANDING state
    * (`image_ivf_centroids`/`image_ivf_cells`, documents-fp keyed
    * beside `image_grids`) — in artifact mode query time reads the
    * committed centroids/cells and pays zero Lloyd work and zero
    * assignment pass (training, when it does run at materialize time,
    * collects only the bounded PolyHash sample); zero media decode,
    * zero documents scan; the probe side is [[ImageKnnProbes]] rows
    * broadcast; the rerank scans only the probed cells' members.
    */
  def q175ImageIvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val vecs = imageVecRows(imageFingerprints(spark, dir))
    // the trained model is STANDING state (documents-fp keyed
    // `image_ivf_centroids`/`image_ivf_cells` — grids derive from
    // documents): artifact-first, so in artifact mode query time pays
    // zero Lloyd iterations and zero assignment pass — the probe side
    // below quantizes only the ImageKnnProbes probe rows
    val (cents, cells) = graft.Artifacts.imageIvfModel(spark, dir)
    // checkpointed: the probe-cell selection and the rerank's probe
    // frame both read the same TakeOrdered result
    val probes = graft.Checkpoints.checkpoint(
      vecs.orderBy(col("vec_id").desc).limit(ImageKnnProbes))
    val probeCells = probes
      .select(col("vec_id").as("probe_id"),
        Ivf.quantize(col("vec")).as("q"))
      .select(col("probe_id"),
        slice(array_sort(Ivf.distStructs(col("q"), cents)), 1, Ivf.Nprobe)
          .as("near"))
      .select(col("probe_id"), explode(col("near")("cell")).as("cell"))
    val probeVecs = probes
      .select(col("vec_id").as("probe_id"), col("vec").as("pvec"))
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id").asc)
    val approx = broadcast(probeCells.join(probeVecs, "probe_id"))
      .join(cells.join(vecs.withColumnRenamed("vec", "nv"), "vec_id"), "cell")
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("cos", VectorOps.round6(
        VectorOps.cosine(col("pvec"), col("nv"))))
      .withColumn("rank", row_number().over(rank))
      .filter(col("rank") <= ImageTopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        lit(1).as("hit"))
    val exact = q167ImageKnn(spark, dir).select("probe_id", "neighbor_id")
    // the approx side is probe-bounded (<= probes x TopK rows at ANY
    // corpus size) — broadcast it so the recall join skips the exchange
    // + sort pair on both probe-bounded sides
    exact.join(broadcast(approx), Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .withColumn("recall", VectorOps.round6(
        col("n_hit").cast("double") / col("n_exact")))
      .orderBy("probe_id")
  }

  lazy val q175OracleSql: String = {
    import graft.functions.VectorOps
    val dist = "list_sum(list_transform(generate_series(1, len(q)), " +
      "i -> (q[i] - c[i]) * (q[i] - c[i])))"
    val probeIn = s"vec_id IN (SELECT vec_id FROM ivecs " +
      s"ORDER BY vec_id DESC LIMIT $ImageKnnProbes)"
    val ncos = VectorOps.round6Sql(VectorOps.cosineSql("pv.vec", "e.vec"))
    val xcos = VectorOps.round6Sql(VectorOps.cosineSql("p.pvec", "v.vec"))
    val recall = VectorOps.round6Sql(
      "CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*)")
    s"""WITH $gridCellsCtes, ivecs AS MATERIALIZED (
       |  SELECT doc_id AS vec_id, list(CAST(px_sum AS DOUBLE) / (3.0 * n_px)
       |           ORDER BY cell_y * gx + cell_x) AS vec
       |  FROM cells WHERE gy = $Grid GROUP BY doc_id
       |), ${Ivf.cellsCtesFrom(
             s"SELECT vec_id, ${Ivf.quantizeSql("vec")} AS q FROM ivecs",
             cellName = "icell")},
       |probe_cells AS (
       |  SELECT vec_id AS probe_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY $dist, c.cell) AS rn
       |    FROM quant v CROSS JOIN cent${Ivf.Iters} c
       |    WHERE v.$probeIn
       |  ) WHERE rn <= ${Ivf.Nprobe}
       |), approx AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT pc.probe_id, e.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY pc.probe_id
       |             ORDER BY $ncos DESC, e.vec_id ASC) AS rank
       |    FROM probe_cells pc
       |    JOIN icell cl ON pc.cell = cl.cell
       |    JOIN ivecs e ON cl.vec_id = e.vec_id
       |    JOIN ivecs pv ON pc.probe_id = pv.vec_id
       |    WHERE e.vec_id <> pc.probe_id
       |  ) WHERE rank <= $ImageTopK
       |), probes AS (
       |  SELECT vec_id AS probe_id, vec AS pvec FROM ivecs WHERE $probeIn
       |), exact AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT p.probe_id, v.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY $xcos DESC, v.vec_id ASC) AS rank
       |    FROM probes p JOIN ivecs v ON v.vec_id <> p.probe_id
       |  ) WHERE rank <= $ImageTopK
       |)
       |SELECT e.probe_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
       |       $recall AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.probe_id
       |ORDER BY e.probe_id""".stripMargin
  }

  lazy val q167OracleSql: String = {
    import graft.functions.VectorOps
    val cos = VectorOps.round6Sql(VectorOps.cosineSql("p.pvec", "v.vec"))
    s"""WITH $gridCellsCtes, vecs AS (
       |  SELECT doc_id, list(CAST(px_sum AS DOUBLE) / (3.0 * n_px)
       |           ORDER BY cell_y * gx + cell_x) AS vec
       |  FROM cells WHERE gy = $Grid GROUP BY doc_id
       |), probes AS (
       |  SELECT doc_id AS probe_id, vec AS pvec FROM vecs
       |  ORDER BY doc_id DESC LIMIT $ImageKnnProbes
       |), scored AS (
       |  SELECT p.probe_id, v.doc_id AS neighbor_id, $cos AS cos
       |  FROM probes p JOIN vecs v ON v.doc_id <> p.probe_id
       |), ranked AS (
       |  SELECT probe_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT probe_id, rank, neighbor_id, cos
       |FROM ranked WHERE rank <= $ImageTopK
       |ORDER BY probe_id, rank""".stripMargin
  }
}
