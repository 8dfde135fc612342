package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for the training-data pipeline: image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata; decode /
  * feature-extract / resize / frame-sample run per-partition so one
  * executor task amortizes codec setup over its whole partition (the
  * mapInPandas batch shape, in Scala: mapPartitions over an iterator).
  *
  * The actual codecs are NOT in this container, so the decode kernel is a
  * clearly-marked deterministic STUB (content-hash-seeded) — the
  * Spark-side contract (schema, null behavior, batch iteration,
  * partitioning) is real and tested, and swapping `StubCodec` for a JNI
  * codec changes no plan shape.
  */
object Multimodal {

  /** media(doc_id, kind, payload, meta) — the at-rest schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))), nullable = true)))

  final case class Media(doc_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int)
  final case class MediaFeatures(doc_id: Long, kind: String,
      feature: Seq[Float], width: Int, height: Int)

  /** ======= STUB ======= deterministic stand-in for a real decoder:
    * features are a content-hash-seeded pseudo-embedding. Replace with the
    * actual codec (JNI/FFI) without touching the pipeline shape. */
  object StubCodec {
    def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
      var h = 1125899906842597L // FNV-ish rolling seed
      payload.foreach(b => h = h * 31 + (b & 0xff))
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        h = h * 6364136223846793005L + 1442695040888963407L
        out(i) = ((h >>> 33).toInt % 1000) / 1000.0f
        i += 1
      }
      out
    }
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      payload.take(math.max(16, (payload.length.toLong * w * h /
        math.max(1, w.toLong * h)).toInt)) // STUB: size-preserving no-op
  }

  /** ======= REAL (codec-free) ======= container-format sniffing from
    * magic bytes: the standard first step of a media ingest pipeline —
    * route rows to the right decoder, quarantine mislabeled payloads.
    * Pure column expressions over the binary payload (codegen'd, no UDF). */
  def sniffFormat(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def startsWithBytes(bytes: Int*): org.apache.spark.sql.Column =
      bytes.zipWithIndex.map { case (b, i) =>
        // substring on binary is 1-based and yields 1-byte binary slices
        substring(payload, i + 1, 1) === lit(Array(b.toByte))
      }.reduce(_ && _)
    when(payload.isNull, lit(null).cast("string"))
      .when(startsWithBytes(0x89, 0x50, 0x4e, 0x47), "png")
      .when(startsWithBytes(0xff, 0xd8, 0xff), "jpeg")
      .when(startsWithBytes(0x47, 0x49, 0x46, 0x38), "gif")
      // RIFF containers split by their form type at offset 8
      .when(startsWithBytes(0x52, 0x49, 0x46, 0x46) &&
        substring(payload, 9, 4) === lit("WEBP".getBytes), "webp")
      .when(startsWithBytes(0x52, 0x49, 0x46, 0x46) &&
        substring(payload, 9, 4) === lit("WAVE".getBytes), "wav")
      .when(startsWithBytes(0x52, 0x49, 0x46, 0x46) &&
        substring(payload, 9, 4) === lit("AVI ".getBytes), "avi")
      .when(startsWithBytes(0x52, 0x49, 0x46, 0x46), "riff")
      .when(startsWithBytes(0x49, 0x44, 0x33), "mp3")
      .when(startsWithBytes(0x4f, 0x67, 0x67, 0x53), "ogg")
      // TIFF: "II*\0" (little-endian) / "MM\0*" (big-endian)
      .when(startsWithBytes(0x49, 0x49, 0x2a, 0x00), "tiff")
      .when(startsWithBytes(0x4d, 0x4d, 0x00, 0x2a), "tiff")
      .when(startsWithBytes(0x00, 0x00, 0x00) &&
        substring(payload, 5, 4) === lit("ftyp".getBytes), "mp4")
      .when(startsWithBytes(0x25, 0x50, 0x44, 0x46, 0x2d), "pdf") // %PDF-
      .otherwise("unknown")
  }

  /** ======= REAL (codec-free) ======= PDF structural metadata (r13) —
    * the dominant DOCUMENT container of real training-data ingest: the
    * `%PDF-x.y` header version, the page count from the page-tree
    * root's `/Count` entry (the spec's own page-count source — counting
    * `/Type /Page` objects would miscount inheritance-split trees), and
    * the `%%EOF` trailer check (a missing trailer is the classic
    * truncated-download signature — such files quarantine before any
    * text-extraction stage). PDF's header/xref/trailer grammar is ASCII
    * by spec, so the walk is pure codegen'd string/regexp Columns over
    * the decoded payload — no UDF, no shuffle, scale-free. */
  def withPdfMeta(media: DataFrame, payloadCol: String = "payload")
      : DataFrame = {
    val p = col(payloadCol)
    val s = p.cast("string")
    val isPdf = p.isNotNull &&
      substring(p, 1, 5) === lit("%PDF-".getBytes)
    val cnt = regexp_extract(s, "/Type\\s*/Pages[^>]*/Count\\s+(\\d+)", 1)
    media
      .withColumn("is_pdf", isPdf)
      .withColumn("pdf_version",
        when(isPdf, substring(s, 6, 3)).otherwise(lit(null).cast("string")))
      .withColumn("pdf_pages",
        when(isPdf && cnt =!= "", cnt.cast("int"))
          .otherwise(lit(null).cast("int")))
      .withColumn("pdf_eof_ok", isPdf && s.rlike("%%EOF\\s*$"))
  }

  /** ======= REAL (codec-free) ======= SRT SUBTITLE metadata (r13) —
    * subtitle dumps (the OpenSubtitles lineage) are a staple
    * conversational-text source, and their cue timing is the usable
    * signal: cue count, total cued milliseconds (the speech-density /
    * speaking-rate denominator), and the format check that quarantines
    * mislabeled files. SRT's grammar is ASCII timing lines
    * (`HH:MM:SS,mmm --> HH:MM:SS,mmm`), so the parse is codegen'd
    * regexp + fixed-offset substring arithmetic over each matched
    * timing line — a bounded HOF over the ≤cues matches, all-integer
    * milliseconds. */
  def withSrtMeta(media: DataFrame, payloadCol: String = "payload")
      : DataFrame = {
    val s = col(payloadCol).cast("string")
    val isSrt = col(payloadCol).isNotNull &&
      s.rlike("^\\d+\\r?\\n\\d{2}:\\d{2}:\\d{2},\\d{3} -->")
    val times = regexp_extract_all(s,
      lit("\\d{2}:\\d{2}:\\d{2},\\d{3} --> \\d{2}:\\d{2}:\\d{2},\\d{3}"),
      lit(0))
    // "HH:MM:SS,mmm --> HH:MM:SS,mmm": start fields at 1/4/7/10, end
    // fields at 18/21/24/27 (1-based, fixed by the matched grammar)
    def ms(e: org.apache.spark.sql.Column, off: Int) =
      substring(e, off, 2).cast("long") * 3600000L +
        substring(e, off + 3, 2).cast("long") * 60000L +
        substring(e, off + 6, 2).cast("long") * 1000L +
        substring(e, off + 9, 3).cast("long")
    media
      .withColumn("is_srt", isSrt)
      .withColumn("n_cues",
        when(isSrt, size(times)).otherwise(lit(0)).cast("int"))
      .withColumn("cued_ms",
        when(isSrt, aggregate(transform(times,
            e => ms(e, 18) - ms(e, 1)), lit(0L), (a, v) => a + v))
          .otherwise(lit(0L)))
  }

  /** ======= REAL (codec-free) ======= Shannon byte entropy of a payload
    * (bits/byte, 0–8): the standard corrupt/encrypted/truncated-media
    * screen — compressed media sits near 8, zero-padding and text sit
    * low. Per-partition batch loop over a 256-bin histogram. */
  def withByteEntropy(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "entropy"): DataFrame = {
    val entropy = udf { (payload: Array[Byte]) =>
      if (payload == null || payload.isEmpty) 0.0
      else {
        val counts = new Array[Long](256)
        payload.foreach(b => counts(b & 0xff) += 1)
        val n = payload.length.toDouble
        var e = 0.0
        counts.foreach { c =>
          if (c > 0) { val p = c / n; e -= p * (math.log(p) / math.log(2)) }
        }
        e
      }
    }
    // a JVM UDF (not Python): stays in-process, no serialization boundary;
    // acceptable here because the histogram loop has no Column spelling
    media.withColumn(outCol, entropy(col(payloadCol)))
  }

  final case class HeaderMeta(format: String, width: Option[Int],
      height: Option[Int])

  /** ======= REAL (codec-free) ======= image dimensions from container
    * HEADERS — PNG's IHDR chunk (big-endian at offset 16/20), GIF's
    * logical-screen descriptor (little-endian at 6/8), BMP's info header
    * (little-endian at 18/22), and JPEG's first SOFn frame header (found
    * by walking the segment chain; height/width are big-endian at +5/+7
    * past the marker). Pure byte arithmetic, no codec: this is the
    * metadata a real ingest records for every payload BEFORE any decode
    * (size filters, aspect-ratio screens, thumbnail routing).
    * JVM UDF for the same reason as [[withByteEntropy]]: a byte-offset
    * loop has no Column spelling, and it stays in-process. */
  def withHeaderMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "header_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      if (p == null) HeaderMeta("missing", None, None)
      else {
        def u(i: Int) = p(i) & 0xff
        if (p.length >= 24 && u(0) == 0x89 && u(1) == 0x50 &&
            u(2) == 0x4e && u(3) == 0x47)
          HeaderMeta("png",
            Some((u(16) << 24) | (u(17) << 16) | (u(18) << 8) | u(19)),
            Some((u(20) << 24) | (u(21) << 16) | (u(22) << 8) | u(23)))
        else if (p.length >= 10 && u(0) == 'G' && u(1) == 'I' &&
            u(2) == 'F' && u(3) == '8')
          HeaderMeta("gif",
            Some(u(6) | (u(7) << 8)), Some(u(8) | (u(9) << 8)))
        else if (p.length >= 4 && u(0) == 0xff && u(1) == 0xd8) {
          // JPEG: walk segments to the first SOFn (C0–CF minus the
          // non-frame C4/C8/CC); stop at SOS (entropy-coded data) or a
          // malformed length. The walk touches header bytes only —
          // bounded, no decode.
          var i = 2
          var out = HeaderMeta("jpeg", None, None)
          var done = false
          while (!done && i + 3 < p.length && u(i) == 0xff) {
            val m = u(i + 1)
            if (m == 0xff) i += 1 // fill byte
            else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
            else {
              val len = (u(i + 2) << 8) | u(i + 3)
              if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                if (i + 8 < p.length)
                  out = HeaderMeta("jpeg",
                    Some((u(i + 7) << 8) | u(i + 8)),  // samples per line
                    Some((u(i + 5) << 8) | u(i + 6)))  // number of lines
                done = true
              } else if (m == 0xda || len < 2) done = true
              else i += 2 + len
            }
          }
          out
        }
        else if (p.length >= 16 && u(0) == 'R' && u(1) == 'I' &&
            u(2) == 'F' && u(3) == 'F' && u(8) == 'W' && u(9) == 'E' &&
            u(10) == 'B' && u(11) == 'P') {
          // WebP: the first chunk fourCC at 12 picks the bitstream flavor
          val cc = new String(Array(p(12), p(13), p(14), p(15)), "US-ASCII")
          cc match {
            case "VP8 " if p.length >= 30 && u(23) == 0x9d &&
                u(24) == 0x01 && u(25) == 0x2a =>
              // lossy: 14-bit LE dimensions past the frame start code
              HeaderMeta("webp",
                Some((u(26) | (u(27) << 8)) & 0x3fff),
                Some((u(28) | (u(29) << 8)) & 0x3fff))
            case "VP8L" if p.length >= 25 && u(20) == 0x2f =>
              // lossless: LSB-first packed 14-bit width-1 / height-1
              val v = u(21) | (u(22) << 8) | (u(23) << 16) | (u(24) << 24)
              HeaderMeta("webp",
                Some((v & 0x3fff) + 1), Some(((v >> 14) & 0x3fff) + 1))
            case "VP8X" if p.length >= 30 =>
              // extended: 24-bit LE canvas width-1 / height-1 after flags
              HeaderMeta("webp",
                Some((u(24) | (u(25) << 8) | (u(26) << 16)) + 1),
                Some((u(27) | (u(28) << 8) | (u(29) << 16)) + 1))
            case _ => HeaderMeta("webp", None, None)
          }
        }
        else if (p.length >= 8 &&
            ((u(0) == 'I' && u(1) == 'I' && u(2) == 0x2a && u(3) == 0) ||
              (u(0) == 'M' && u(1) == 'M' && u(2) == 0 && u(3) == 0x2a))) {
          // TIFF: byte order from the magic, then the first IFD's
          // 12-byte entries; ImageWidth (256) / ImageLength (257) as
          // SHORT (type 3, value in the field's first 2 bytes, in file
          // byte order) or LONG (type 4, full 4 bytes). Header bytes
          // only — bounded walk, out-of-range IFD degrades to no dims.
          val le = u(0) == 'I'
          def r16(i: Int) =
            if (le) u(i) | (u(i + 1) << 8) else (u(i) << 8) | u(i + 1)
          def r32(i: Int): Long =
            if (le) u(i).toLong | (u(i + 1).toLong << 8) |
              (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
            else (u(i).toLong << 24) | (u(i + 1).toLong << 16) |
              (u(i + 2).toLong << 8) | u(i + 3).toLong
          val ifd = r32(4)
          if (ifd < 0 || ifd + 2 > p.length) HeaderMeta("tiff", None, None)
          else {
            val base = ifd.toInt
            val n = r16(base)
            var w: Option[Int] = None
            var h: Option[Int] = None
            var e = 0
            while (e < n && base + 2 + 12 * (e + 1) <= p.length) {
              val off = base + 2 + 12 * e
              val tag = r16(off)
              val v: Option[Int] = r16(off + 2) match {
                case 3 => Some(r16(off + 8))
                case 4 => Some(r32(off + 8).toInt)
                case _ => None
              }
              if (tag == 256) w = v else if (tag == 257) h = v
              e += 1
            }
            HeaderMeta("tiff", w, h)
          }
        }
        else if (p.length >= 26 && u(0) == 'B' && u(1) == 'M')
          // biWidth/biHeight are SIGNED; a negative biHeight means a
          // top-down row order, the magnitude is still the pixel height
          HeaderMeta("bmp",
            Some(math.abs(u(18) | (u(19) << 8) | (u(20) << 16) | (u(21) << 24))),
            Some(math.abs(u(22) | (u(23) << 8) | (u(24) << 16) | (u(25) << 24))))
        else HeaderMeta("unknown", None, None)
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class AudioMeta(format: String, channels: Option[Int],
      sample_rate: Option[Int], bits_per_sample: Option[Int],
      duration_ms: Option[Long])

  /** ======= REAL (codec-free) ======= audio metadata from WAV headers:
    * walk the RIFF chunk chain for `fmt ` (channels / sample rate / bit
    * depth, all little-endian) and `data` (payload size, which with the
    * fmt byte rate yields duration) — the sample-rate / channel / length
    * screens an audio ingest applies before any decode. Chunk sizes pad
    * to even offsets per the RIFF spec; the walk touches chunk headers
    * only, never sample data. */
  def withAudioMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "audio_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def u16(i: Int) = u(i) | (u(i + 1) << 8)
      def u32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
        (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
      if (p == null || p.length < 12 || u(0) != 'R' || u(1) != 'I' ||
          u(2) != 'F' || u(3) != 'F' || u(8) != 'W' || u(9) != 'A' ||
          u(10) != 'V' || u(11) != 'E')
        AudioMeta("not_wav", None, None, None, None)
      else {
        var i = 12
        var channels, rate, bits = Option.empty[Int]
        var byteRate = Option.empty[Long]
        var dataLen = Option.empty[Long]
        while (i + 8 <= p.length && (channels.isEmpty || dataLen.isEmpty)) {
          val cc = new String(Array(p(i), p(i + 1), p(i + 2), p(i + 3)), "US-ASCII")
          val len = u32(i + 4)
          if (cc == "fmt " && i + 24 <= p.length) {
            channels = Some(u16(i + 10))
            rate = Some(u32(i + 12).toInt)
            byteRate = Some(u32(i + 16))
            bits = Some(u16(i + 22))
          } else if (cc == "data") dataLen = Some(len)
          // chunks pad to even; a corrupt length that would step backwards
          // (or past Int range) ends the walk instead of looping
          val next = i.toLong + 8L + len + (len & 1L)
          i = if (next <= i || next > Int.MaxValue) p.length else next.toInt
        }
        val dur = for (d <- dataLen; br <- byteRate if br > 0)
          yield d * 1000L / br
        AudioMeta("wav", channels, rate, bits, dur)
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class WavStats(format: String, n_samples: Option[Long],
      peak: Option[Int], sumsq: Option[Long], rms: Option[Double])

  /** ======= REAL (decode, not just headers) ======= PCM sample
    * statistics from a 16-bit mono WAV: walk the RIFF chain to `fmt `
    * and `data`, then READ THE SAMPLES — peak |amplitude|, exact
    * integer sum of squares, and RMS (the loudness/silence screen an
    * audio curation pipeline runs to drop silent or clipped clips).
    * This is the one multimodal op that touches payload bytes beyond
    * headers — the actual "feature extract" step, kept codec-free by
    * speaking raw PCM. The accumulators are integers (sumsq ≤ n·2³⁰,
    * 63-bit-safe for any real clip), so only the final
    * `round(sqrt(sumsq/n), 4)` is floating — one IEEE op sequence,
    * identical cross-engine. Non-WAV, non-16-bit, non-mono, empty or
    * TRUNCATED data (declared length past the payload) degrade to
    * `not_wav`/nulls per the corrupt contract — a half-read clip must
    * never report a confident loudness. */
  def withWavStats(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "wav_stats"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def u16(i: Int) = u(i) | (u(i + 1) << 8)
      def s16(i: Int) = u16(i).toShort.toInt
      def u32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
        (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
      val bad = WavStats("not_wav", None, None, None, None)
      if (p == null || p.length < 12 || u(0) != 'R' || u(1) != 'I' ||
          u(2) != 'F' || u(3) != 'F' || u(8) != 'W' || u(9) != 'A' ||
          u(10) != 'V' || u(11) != 'E')
        bad
      else {
        var i = 12
        var bits, channels = -1
        var dataAt = -1
        var dataLen = -1L
        while (i + 8 <= p.length && (bits < 0 || dataAt < 0)) {
          val cc = new String(Array(p(i), p(i + 1), p(i + 2), p(i + 3)),
            "US-ASCII")
          val len = u32(i + 4)
          if (cc == "fmt " && i + 24 <= p.length) {
            channels = u16(i + 10); bits = u16(i + 22)
          } else if (cc == "data") { dataAt = i + 8; dataLen = len }
          val next = i.toLong + 8L + len + (len & 1L)
          i = if (next <= i || next > Int.MaxValue) p.length else next.toInt
        }
        if (bits != 16 || channels != 1 || dataAt < 0 || dataLen <= 0 ||
            dataLen % 2 != 0 || dataAt + dataLen > p.length)
          bad
        else {
          val n = (dataLen / 2).toInt
          var k = 0
          var peak = 0
          var sumsq = 0L
          while (k < n) {
            val s = s16(dataAt + 2 * k)
            val a = math.abs(s)
            if (a > peak) peak = a
            sumsq += s.toLong * s
            k += 1
          }
          val rms = BigDecimal(math.sqrt(sumsq.toDouble / n))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          WavStats("wav", Some(n.toLong), Some(peak), Some(sumsq), Some(rms))
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class ExifMeta(orientation: Option[Int],
      captured_at: Option[String])

  /** ======= REAL (codec-free) ======= EXIF metadata from a JPEG's APP1
    * segment: walk the marker chain (skipping APP0/JFIF, XMP and any
    * other segment) to the APP1 whose payload starts `Exif\0\0`, then
    * run a TIFF IFD walk over the EMBEDDED tiff block — both byte
    * orders — extracting Orientation (tag 274, SHORT) and DateTime
    * (tag 306, 20-byte ASCII, reached through its value OFFSET into the
    * tiff block). Orientation is the rotate/flip screen an image ingest
    * applies before any decode; the capture timestamp drives temporal
    * splits. All offsets are bounds-checked against the APP1 segment
    * end, so truncated or exif-less JPEGs degrade to nulls — the
    * m_corrupt discipline. JVM UDF for the [[withHeaderMeta]] reason:
    * a byte-offset walk has no Column spelling. */
  def withExifMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "exif_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      if (p == null || p.length < 4 || u(0) != 0xff || u(1) != 0xd8)
        ExifMeta(None, None)
      else {
        // marker walk to the Exif APP1 (same chain discipline as the
        // SOFn walk in withHeaderMeta)
        var i = 2
        var tiff = -1
        var tiffEnd = -1
        var done = false
        while (!done && i + 3 < p.length && u(i) == 0xff) {
          val m = u(i + 1)
          if (m == 0xff) i += 1
          else if (m == 0x01 || m == 0xd9 || (m >= 0xd0 && m <= 0xd7)) {
            if (m == 0xd9) done = true else i += 2
          } else {
            val len = (u(i + 2) << 8) | u(i + 3)
            if (m == 0xe1 && len >= 16 && i + 9 < p.length &&
                u(i + 4) == 'E' && u(i + 5) == 'x' && u(i + 6) == 'i' &&
                u(i + 7) == 'f' && u(i + 8) == 0 && u(i + 9) == 0) {
              tiff = i + 10
              tiffEnd = math.min(p.length, i + 2 + len)
              done = true
            } else if (m == 0xda || len < 2) done = true
            else i += 2 + len
          }
        }
        if (tiff < 0 || tiff + 8 > tiffEnd) ExifMeta(None, None)
        else {
          def t(i: Int) = p(tiff + i) & 0xff
          val isLe = t(0) == 'I' && t(1) == 'I' && t(2) == 0x2a && t(3) == 0
          val isBe = t(0) == 'M' && t(1) == 'M' && t(2) == 0 && t(3) == 0x2a
          if (!isLe && !isBe) ExifMeta(None, None)
          else {
            def r16(i: Int) =
              if (isLe) t(i) | (t(i + 1) << 8) else (t(i) << 8) | t(i + 1)
            def r32(i: Int): Long =
              if (isLe) t(i).toLong | (t(i + 1).toLong << 8) |
                (t(i + 2).toLong << 16) | (t(i + 3).toLong << 24)
              else (t(i).toLong << 24) | (t(i + 1).toLong << 16) |
                (t(i + 2).toLong << 8) | t(i + 3).toLong
            val ifd = r32(4)
            if (ifd < 0 || tiff + ifd + 2 > tiffEnd) ExifMeta(None, None)
            else {
              val base = ifd.toInt
              val n = r16(base)
              var orient = Option.empty[Int]
              var dt = Option.empty[String]
              var e = 0
              while (e < n && tiff + base + 2 + 12 * (e + 1) <= tiffEnd) {
                val off = base + 2 + 12 * e
                val tag = r16(off)
                val typ = r16(off + 2)
                val cnt = r32(off + 4)
                if (tag == 274 && typ == 3) orient = Some(r16(off + 8))
                else if (tag == 306 && typ == 2 && cnt == 20) {
                  val vo = r32(off + 8)
                  if (vo >= 0 && tiff + vo + 20 <= tiffEnd)
                    dt = Some(new String(p, tiff + vo.toInt, 19, "US-ASCII"))
                }
                e += 1
              }
              ExifMeta(orient, dt)
            }
          }
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class FlacMeta(format: String, channels: Option[Int],
      sample_rate: Option[Int], bits_per_sample: Option[Int],
      total_samples: Option[Long], duration_ms: Option[Long])

  /** ======= REAL (codec-free) ======= FLAC STREAMINFO metadata: after
    * the `fLaC` magic, the first metadata block must be STREAMINFO
    * (type 0, 34 bytes) whose bit-packed tail carries 20 bits sample
    * rate, 3 bits channels−1, 5 bits bits-per-sample−1 and 36 bits
    * total samples — the exact screen an audio ingest runs before any
    * decode. Header bytes only; frames are never read. Anything that
    * is not FLAC (or whose first block is not a well-formed STREAMINFO)
    * reports `not_flac` with null fields, the [[withAudioMeta]]
    * discipline. */
  def withFlacMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "flac_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      val bad = FlacMeta("not_flac", None, None, None, None, None)
      if (p == null || p.length < 42 || u(0) != 'f' || u(1) != 'L' ||
          u(2) != 'a' || u(3) != 'C')
        bad
      else {
        val blockType = u(4) & 0x7f
        val blockLen = (u(5) << 16) | (u(6) << 8) | u(7)
        if (blockType != 0 || blockLen != 34 || p.length < 8 + 34) bad
        else {
          val rate = (u(18) << 12) | (u(19) << 4) | (u(20) >> 4)
          val ch = ((u(20) >> 1) & 0x7) + 1
          val bps = (((u(20) & 1) << 4) | (u(21) >> 4)) + 1
          val samples = ((u(21) & 0xf).toLong << 32) |
            (u(22).toLong << 24) | (u(23).toLong << 16) |
            (u(24).toLong << 8) | u(25).toLong
          val dur = if (rate > 0) Some(samples * 1000L / rate) else None
          FlacMeta("flac", Some(ch), Some(rate), Some(bps),
            Some(samples), dur)
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class AviMeta(format: String, width: Option[Int],
      height: Option[Int], total_frames: Option[Long],
      duration_ms: Option[Long])

  /** ======= REAL (codec-free) ======= AVI main-header metadata: walk
    * the RIFF chunk chain for the `LIST`/`hdrl` whose first subchunk is
    * the 56-byte `avih` main header — µs-per-frame, total frames,
    * width, height (all little-endian) — the dimension/duration screen
    * a video ingest runs before any codec work; completes the RIFF
    * family next to [[withAudioMeta]]'s WAV walk. Chunk sizes pad to
    * even offsets per the RIFF spec; anything not RIFF/`AVI ` (or with
    * a malformed/truncated header list) degrades to `not_avi` with
    * null fields. */
  def withAviMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "avi_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def u32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
        (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
      def cc(i: Int) = new String(p.slice(i, i + 4), "US-ASCII")
      val bad = AviMeta("not_avi", None, None, None, None)
      if (p == null || p.length < 12 || cc(0) != "RIFF" || cc(8) != "AVI ")
        bad
      else {
        var i = 12
        var out = bad
        while (out.format == "not_avi" && i + 8 <= p.length) {
          val kind = cc(i)
          val len = u32(i + 4)
          if (kind == "LIST" && i + 12 <= p.length && cc(i + 8) == "hdrl" &&
              i + 12 + 8 <= p.length && cc(i + 12) == "avih" &&
              u32(i + 16) >= 40 && i + 20 + 40 <= p.length) {
            val a = i + 20
            val usf = u32(a)
            val frames = u32(a + 16)
            val dur = if (usf > 0) Some(frames * usf / 1000L) else None
            out = AviMeta("avi", Some(u32(a + 32).toInt),
              Some(u32(a + 36).toInt), Some(frames), dur)
          } else {
            val next = i.toLong + 8L + len + (len & 1L)
            i = if (next <= i || next > Int.MaxValue) p.length
              else next.toInt
          }
        }
        out
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class OggMeta(format: String, channels: Option[Int],
      sample_rate: Option[Int], granule: Option[Long])

  /** ======= REAL (codec-free) ======= Ogg/Vorbis metadata: the first
    * Ogg page (`OggS` magic, version 0, little-endian 64-bit granule
    * position, 27-byte header + segment table) must carry a Vorbis
    * IDENTIFICATION header as its first packet (`vorbis`,
    * version 0, channels u8, sample rate u32 LE) — the container walk
    * an audio ingest runs before any codec work. A non-Ogg payload, a
    * non-zero structure version, a first packet that isn't a Vorbis ID
    * header, or truncation degrade to `not_ogg` with null fields (the
    * [[withAudioMeta]] discipline). Header bytes only. */
  def withOggMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "ogg_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      val bad = OggMeta("not_ogg", None, None, None)
      if (p == null || p.length < 28 || u(0) != 'O' || u(1) != 'g' ||
          u(2) != 'g' || u(3) != 'S' || u(4) != 0)
        bad
      else {
        val granule = (0 until 8).map(i => u(6 + i).toLong << (8 * i)).sum
        val nSegs = u(26)
        val body = 27 + nSegs
        // first packet starts right after the segment table
        if (p.length < body + 16) bad
        else if (u(body) != 1 || u(body + 1) != 'v' || u(body + 2) != 'o' ||
            u(body + 3) != 'r' || u(body + 4) != 'b' || u(body + 5) != 'i' ||
            u(body + 6) != 's')
          bad
        else {
          // vorbis_version u32 LE must be 0, then channels u8, rate u32
          val ver = (0 until 4).map(i => u(body + 7 + i) << (8 * i)).sum
          if (ver != 0) bad
          else {
            val ch = u(body + 11)
            val rate = (0 until 4).map(i => u(body + 12 + i) << (8 * i)).sum
            OggMeta("ogg", Some(ch), Some(rate), Some(granule))
          }
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class MkvMeta(format: String, doc_type_version: Option[Int],
      timestamp_scale: Option[Long])

  /** ======= REAL (codec-free) ======= Matroska/WebM metadata: an EBML
    * varint walk — element IDs are 1-4-byte varints (class marker bits
    * kept), sizes are 1-8-byte varints (marker stripped, all-value-bits-
    * set means "unknown: extends to the end", the streaming-Segment
    * convention). The walk reads the EBML head's `DocType`
    * (`matroska`/`webm`) and `DocTypeVersion`, then descends the
    * unknown-size Segment past decoy elements (SeekHead, Void) into
    * `Info`/`TimestampScale` — exactly the container sniff a video
    * ingest runs before touching a cluster. Unknown IDs are skipped by
    * their declared size; a payload that isn't EBML or whose head is
    * malformed degrades to `not_mkv` with null fields; a Segment without
    * an Info keeps the format but reports a null timestamp scale. */
  def withMkvMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "mkv_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      // EBML varint: width = leading zero bits of the first byte + 1.
      // Returns (value, width); for IDs the marker bit is KEPT (the
      // conventional ID spelling), for sizes it is stripped. A size
      // whose value bits are all ones is "unknown" -> Long.MaxValue.
      def vintWidth(i: Int): Int = {
        val b = u(i)
        if (b >= 0x80) 1 else if (b >= 0x40) 2 else if (b >= 0x20) 3
        else if (b >= 0x10) 4 else if (b >= 0x08) 5 else if (b >= 0x04) 6
        else if (b >= 0x02) 7 else if (b == 0x01) 8 else 0
      }
      def readId(i: Int): (Long, Int) = {
        val w = vintWidth(i)
        if (w == 0 || w > 4 || i + w > p.length) (-1L, 0)
        else ((0 until w).foldLeft(0L)((a, k) => (a << 8) | u(i + k)), w)
      }
      def readSize(i: Int): (Long, Int) = {
        val w = vintWidth(i)
        if (w == 0 || i + w > p.length) (-1L, 0)
        else {
          val raw = (0 until w).foldLeft(0L)((a, k) => (a << 8) | u(i + k))
          val v = raw & ((1L << (7 * w)) - 1)
          (if (v == (1L << (7 * w)) - 1) Long.MaxValue else v, w)
        }
      }
      def readUint(i: Int, len: Int): Long =
        (0 until len).foldLeft(0L)((a, k) => (a << 8) | u(i + k))
      val bad = MkvMeta("not_mkv", None, None)
      if (p == null || p.length < 6) bad
      else {
        val (headId, hw) = readId(0)
        val (headSz, hsw) = readSize(hw)
        if (headId != 0x1A45DFA3L || hsw == 0 || headSz == Long.MaxValue ||
            hw + hsw + headSz > p.length)
          bad
        else {
          // -- EBML head children: DocType (0x4282), DocTypeVersion (0x4287)
          var docType: String = null
          var dtv: Option[Int] = None
          var i = hw + hsw
          val headEnd = i + headSz.toInt
          var ok = true
          while (ok && i < headEnd) {
            val (id, iw) = readId(i)
            val (sz, sw) = readSize(i + iw)
            if (iw == 0 || sw == 0 || sz == Long.MaxValue ||
                i + iw + sw + sz > headEnd) { ok = false }
            else {
              val at = i + iw + sw
              if (id == 0x4282L)
                docType = new String(p.slice(at, at + sz.toInt), "US-ASCII")
              else if (id == 0x4287L) dtv = Some(readUint(at, sz.toInt).toInt)
              i = at + sz.toInt
            }
          }
          if (!ok || docType == null ||
              (docType != "matroska" && docType != "webm")) bad
          else {
            // -- Segment (0x18538067), size may be unknown (to end)
            var ts: Option[Long] = None
            if (headEnd + 2 <= p.length) {
              val (segId, sgw) = readId(headEnd)
              val (segSz, sgsw) = readSize(headEnd + sgw)
              if (segId == 0x18538067L && sgsw != 0) {
                var j = headEnd + sgw + sgsw
                val segEnd =
                  if (segSz == Long.MaxValue) p.length
                  else math.min(p.length.toLong, j + segSz).toInt
                var go = true
                while (go && j < segEnd) {
                  val (id, iw) = readId(j)
                  val (sz, sw) = readSize(j + iw)
                  if (iw == 0 || sw == 0 || sz == Long.MaxValue ||
                      j + iw + sw + sz > segEnd) { go = false }
                  else if (id == 0x1549A966L) { // Info: scan children
                    var k = j + iw + sw
                    val infoEnd = k + sz.toInt
                    while (go && k < infoEnd) {
                      val (cid, cw) = readId(k)
                      val (csz, csw) = readSize(k + cw)
                      if (cw == 0 || csw == 0 || csz == Long.MaxValue ||
                          k + cw + csw + csz > infoEnd) { go = false }
                      else {
                        if (cid == 0x2AD7B1L)
                          ts = Some(readUint(k + cw + csw, csz.toInt))
                        k = k + cw + csw + csz.toInt
                      }
                    }
                    go = false // Info found; done either way
                  } else j = j + iw + sw + sz.toInt
                }
              }
            }
            MkvMeta(if (docType == "webm") "webm" else "mkv", dtv, ts)
          }
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class GzipMeta(format: String, mtime: Option[Long],
      os: Option[Int], fname: Option[String], isize: Option[Long])

  /** ======= REAL (codec-free) ======= gzip member metadata (RFC 1952):
    * magic `1f 8b`, deflate CM, then the FLG-driven optional-field walk —
    * FEXTRA is skipped by its little-endian XLEN, FNAME/FCOMMENT are
    * NUL-terminated scans, FHCRC is two bytes — and the trailer's last
    * four bytes are ISIZE (uncompressed size mod 2^32). This is the
    * inventory pass an ingest runs over a crawl archive before deciding
    * what to decompress; the deflate stream itself is never touched.
    * Non-gzip payloads and members truncated before the trailer degrade
    * to `not_gzip` with null fields. */
  def withGzipMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "gzip_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def le32(i: Int) = (0 until 4).map(k => u(i + k).toLong << (8 * k)).sum
      val bad = GzipMeta("not_gzip", None, None, None, None)
      if (p == null || p.length < 18 || u(0) != 0x1f || u(1) != 0x8b ||
          u(2) != 8)
        bad
      else {
        val flg = u(3); val mtime = le32(4); val os = u(9)
        var i = 10
        var ok = true
        if ((flg & 4) != 0) { // FEXTRA: u16 LE length prefix
          if (i + 2 > p.length) ok = false
          else { val xlen = u(i) | (u(i + 1) << 8); i += 2 + xlen }
        }
        var name: Option[String] = None
        if (ok && (flg & 8) != 0) { // FNAME: NUL-terminated latin-1
          val start = i
          while (i < p.length && u(i) != 0) i += 1
          if (i >= p.length) ok = false
          else { name = Some(new String(p.slice(start, i), "ISO-8859-1"))
            i += 1 }
        }
        if (ok && (flg & 16) != 0) { // FCOMMENT
          while (i < p.length && u(i) != 0) i += 1
          if (i >= p.length) ok = false else i += 1
        }
        if (ok && (flg & 2) != 0) i += 2 // FHCRC
        if (!ok || i + 8 > p.length) bad // CRC32 + ISIZE must fit
        else GzipMeta("gzip", Some(mtime), Some(os), name,
          Some(le32(p.length - 4)))
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class GzipInflated(format: String, n_bytes: Long,
      isize_ok: Option[Boolean], truncated: Boolean)

  /** REAL gzip inflation stats (r15 — [[withGzipMeta]] is header
    * metadata only; this one INFLATES via the [[inflateMembers]] walk
    * the `.warc.gz` path introduced): inflated byte count, whether the
    * trailer's ISIZE (mod 2³²) matches it (single-member payloads only
    * — a concatenated stream's last trailer covers its last member, so
    * the check is skipped as None), and the truncated flag for
    * CRC/format damage or a cap hit. Per-row narrow byte work, zero
    * shuffle; DuckDB cannot inflate, so the gate stays spec-side:
    * deterministic round-trips against GZIPOutputStream, damage cases
    * degrading — while [[withGzipMeta]] keeps its metadata oracle. */
  def withGzipInflated(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "gzip_inflated"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      if (p == null || p.length < 18 || u(0) != 0x1f || u(1) != 0x8b ||
          u(2) != 8)
        GzipInflated("not_gzip", 0L, None, truncated = false)
      else {
        val (plain, damaged) = inflateMembers(p)
        // single-member detection: a second member magic would start
        // right after this member's trailer — we approximate by
        // checking the whole payload holds exactly one 0x1f8b08 at
        // offset 0 (members can't overlap; a payload-interior magic in
        // compressed data is possible but then ISIZE simply reads None
        // — the conservative arm)
        val single = (1 until p.length - 2).forall(i =>
          !(u(i) == 0x1f && u(i + 1) == 0x8b && u(i + 2) == 8))
        val isizeOk =
          if (damaged || !single) None
          else {
            def le32(i: Int) =
              (0 until 4).map(k => u(i + k).toLong << (8 * k)).sum
            Some(le32(p.length - 4) == (plain.length.toLong & 0xffffffffL))
          }
        GzipInflated("gzip", plain.length.toLong, isizeOk, damaged)
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class ZipMeta(format: String, n_entries: Option[Int],
      cd_size: Option[Long], cd_offset: Option[Long],
      first_name: Option[String])

  /** ======= REAL (codec-free) ======= ZIP inventory: find the
    * End-Of-Central-Directory record by scanning BACKWARD from the tail
    * (the EOCD floats in front of a variable-length archive comment —
    * the part naive fixed-offset readers get wrong), read the entry
    * count and central-directory size/offset, then verify the first
    * central-directory header and lift its filename — the listing pass
    * an ingest runs to decide whether an archive is worth extracting.
    * No signature at cd_offset, a truncated tail, or an out-of-range
    * directory degrade to `not_zip` with null fields. */
  def withZipMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "zip_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def u16(i: Int) = u(i) | (u(i + 1) << 8)
      def u32(i: Int) = u(i).toLong | (u(i + 1).toLong << 8) |
        (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
      val bad = ZipMeta("not_zip", None, None, None, None)
      if (p == null || p.length < 22) bad
      else {
        // EOCD scan: last 22..22+65535 bytes; bounded by the payload
        var at = -1
        var i = p.length - 22
        val floor = math.max(0, p.length - 22 - 65535)
        while (at < 0 && i >= floor) {
          if (u(i) == 0x50 && u(i + 1) == 0x4b && u(i + 2) == 0x05 &&
              u(i + 3) == 0x06 &&
              i + 22 + u16(i + 20) == p.length) // comment len must close
            at = i
          else i -= 1
        }
        if (at < 0) bad
        else {
          val n = u16(at + 10)
          val cdSize = u32(at + 12)
          val cdOff = u32(at + 16)
          if (cdOff + cdSize > at || cdOff + 46 > p.length ||
              u32(cdOff.toInt) != 0x02014b50L)
            bad
          else {
            val fnLen = u16(cdOff.toInt + 28)
            if (cdOff + 46 + fnLen > p.length) bad
            else ZipMeta("zip", Some(n), Some(cdSize), Some(cdOff),
              Some(new String(p.slice(cdOff.toInt + 46,
                cdOff.toInt + 46 + fnLen), "US-ASCII")))
          }
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class Mp3Meta(format: String, id3_version: Option[Int],
    tag_size: Option[Int], mpeg_version: Option[String],
    layer: Option[Int], bitrate_kbps: Option[Int],
    sample_rate: Option[Int], channel_mode: Option[String])

  /** ======= REAL (codec-free) ======= MP3 metadata: an optional ID3v2
    * tag header (`ID3` magic, version byte, 28-bit SYNCSAFE size — 7
    * bits per byte, the tag's own skip count) followed by the first
    * MPEG audio frame header (11-bit sync `0xFFE`, version/layer bits,
    * bitrate + sample-rate indices into the published tables, channel
    * mode) — the routing screen an audio ingest runs before any frame
    * decode. Bitrate tables are implemented for Layer III (the "3" in
    * mp3) in MPEG-1 and MPEG-2/2.5; a Layer I/II frame still reports
    * its version/layer/rate but a null bitrate. A payload with no
    * valid sync after the tag (or a reserved version/layer/sample-rate
    * field, or truncation) degrades to `not_mp3` with null fields —
    * the [[withAudioMeta]] discipline. Header bytes only; audio frames
    * are never read. */
  def withMp3Meta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "mp3_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      val bad = Mp3Meta("not_mp3", None, None, None, None, None, None, None)
      if (p == null || p.length < 4) bad
      else {
        val (idv, tag, off) =
          if (p.length >= 10 && u(0) == 'I' && u(1) == 'D' && u(2) == '3') {
            val size = (u(6) << 21) | (u(7) << 14) | (u(8) << 7) | u(9)
            (Some(u(3)), size, 10 + size)
          } else (None, 0, 0)
        if (p.length < off + 4 || u(off) != 0xff ||
            (u(off + 1) & 0xe0) != 0xe0) bad
        else {
          val b1 = u(off + 1); val b2 = u(off + 2); val b3 = u(off + 3)
          val verBits = (b1 >> 3) & 0x3
          val layerBits = (b1 >> 1) & 0x3 // 1=III, 2=II, 3=I
          val srIdx = (b2 >> 2) & 0x3
          if (verBits == 1 || layerBits == 0 || srIdx == 3) bad
          else {
            val ver = verBits match {
              case 3 => "1"; case 2 => "2"; case _ => "2.5"
            }
            val brIdx = (b2 >> 4) & 0xf
            val v1l3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
              160, 192, 224, 256, 320)
            val v2l3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96,
              112, 128, 144, 160)
            val br =
              if (brIdx == 0 || brIdx == 15 || layerBits != 1) None
              else Some(if (verBits == 3) v1l3(brIdx) else v2l3(brIdx))
            val srs = verBits match {
              case 3 => Array(44100, 48000, 32000)
              case 2 => Array(22050, 24000, 16000)
              case _ => Array(11025, 12000, 8000)
            }
            val mode = ((b3 >> 6) & 0x3) match {
              case 0 => "stereo"; case 1 => "joint_stereo"
              case 2 => "dual_channel"; case _ => "mono"
            }
            Mp3Meta("mp3", idv, Some(tag), Some(ver),
              Some(4 - layerBits), br, Some(srs(srIdx)), Some(mode))
          }
        }
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class TarMeta(is_tar: Boolean, n_entries: Int,
      payload_bytes: Long, checksum_ok: Boolean, truncated: Boolean)

  /** Build a real USTAR (POSIX.1-1988) archive: one 512-byte header per
    * entry — name[100] mode[8] uid[8] gid[8] size[12 octal] mtime[12]
    * chksum[8] typeflag linkname[100] magic "ustar\0" version "00"
    * uname[32] gname[32] devmajor[8] devminor[8] prefix[155] — the
    * checksum the simple unsigned sum of the header with its own field
    * as 8 spaces, rendered "%06o\0 "; payload 'x'·size zero-padded to
    * the 512 block; the archive terminated by two zero blocks. The
    * writer half of the [[withTarMeta]] contract: the gate assembles
    * archives with it, the spec corrupts them. Timestamps are fixed 0
    * (replay-stable — no wall clock). */
  def buildUstar(entries: Seq[(String, Long)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, size) =>
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII")
        System.arraycopy(b, 0, h, off, math.min(b.length, 100))
      }
      put(0, name.take(99))
      put(100, "0000644\u0000"); put(108, "0000000\u0000")
      put(116, "0000000\u0000")
      put(124, ("%011o".format(size)) + "\u0000")
      put(136, "00000000000\u0000")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      h(156) = '0'
      put(257, "ustar\u0000"); put(263, "00")
      val sum = h.map(_ & 0xff).sum
      put(148, "%06o".format(sum) + "\u0000 ")
      out.write(h)
      val pad = ((size + 511) / 512) * 512
      val body = new Array[Byte](pad.toInt)
      java.util.Arrays.fill(body, 0, size.toInt, 'x'.toByte)
      out.write(body)
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** ======= REAL ======= TAR archive walk — the container screen a
    * crawl ingest runs on `.tar` payloads before any member extraction
    * (how many members, how many payload bytes, is the container
    * intact): hop header→header via `512 + ⌈size/512⌉·512` (octal size
    * field), VERIFY each header's checksum (unsigned byte sum with the
    * checksum field as spaces — the rule every tar implementation
    * agrees on) and the `ustar` magic, and stop cleanly at the
    * two-zero-block terminator. Degradations are deterministic, never
    * thrown: no valid first header → `not_tar`; a mid-archive cut (an
    * interrupted download) → `truncated = true` with only the FULLY
    * CONTAINED members counted; a checksum mismatch stops the walk
    * with `checksum_ok = false`. Headers only — member bytes are
    * hopped over, never read (the [[withVideoMeta]] box-walk
    * discipline). Per-row narrow byte walk, zero shuffle. */
  def withTarMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "tar_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      val bad = TarMeta(is_tar = false, 0, 0L, checksum_ok = false,
        truncated = false)
      if (p == null || p.length < 512) bad
      else {
        var off = 0
        var entries = 0
        var bytes = 0L
        var sawValid = false
        var ckOk = true
        var trunc = false
        var done = false
        while (!done) {
          if (off + 512 > p.length) {
            // ran off the end without the zero-block terminator
            trunc = sawValid; done = true
          } else if ((off until off + 512).forall(p(_) == 0)) {
            done = true // proper terminator
          } else if (!(p(off + 257) == 'u' && p(off + 258) == 's' &&
              p(off + 259) == 't' && p(off + 260) == 'a' &&
              p(off + 261) == 'r')) {
            if (sawValid) trunc = true // garbage after valid members
            done = true
          } else {
            // checksum: unsigned sum with the chksum field as spaces
            var sum = 0
            var i = 0
            while (i < 512) {
              sum += (if (i >= 148 && i < 156) ' '.toInt
                else p(off + i) & 0xff)
              i += 1
            }
            val stored = new String(p, off + 148, 8, "US-ASCII")
              .takeWhile(c => c >= '0' && c <= '7')
            val size = new String(p, off + 124, 12, "US-ASCII")
              .dropWhile(c => c == ' ' || c == '\u0000')
              .takeWhile(c => c >= '0' && c <= '7')
            if (stored.isEmpty || size.isEmpty ||
                java.lang.Integer.parseInt(stored, 8) != sum) {
              if (sawValid || stored.nonEmpty) ckOk = false
              done = true
            } else {
              sawValid = true
              val sz = java.lang.Long.parseLong(size, 8)
              val span = 512L + ((sz + 511L) / 512L) * 512L
              if (off + span > p.length) {
                trunc = true; done = true // member cut mid-payload
              } else {
                entries += 1; bytes += sz; off = (off + span).toInt
              }
            }
          }
        }
        if (!sawValid) bad
        else TarMeta(is_tar = true, entries, bytes, ckOk, trunc)
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class WarcMeta(is_warc: Boolean, warc_version: String,
      n_records: Int, n_responses: Int, content_bytes: Long,
      truncated: Boolean)

  /** ======= REAL ======= WARC record walk (r14) — the container of the
    * dominant web-scale training corpus (Common Crawl ships as WARC, ISO
    * 28500): before any HTML stripping or text extraction an ingest
    * needs the container-level screen — how many records, how many are
    * `response` records (the only ones carrying page payloads), how many
    * content bytes, and is the file intact. Each record is an ASCII
    * header block (`WARC/x.y` version line + `Name: value` fields)
    * terminated by CRLFCRLF, then exactly `Content-Length` content
    * bytes, then the CRLFCRLF record separator — so the walk MUST hop by
    * declared length (content is arbitrary bytes; a regex scan would
    * false-match `WARC/` inside payloads). Degradations are
    * deterministic, never thrown ([[withTarMeta]]'s discipline): no
    * `WARC/` magic (after gzip inflation when the payload opens with
    * 0x1f8b — `.warc.gz`, member-per-record or whole-file, r15) → not
    * WARC; a record whose declared content overruns
    * the buffer or whose separator is missing (the interrupted-download
    * signature) → `truncated = true` with only FULLY CONTAINED records
    * counted. Header fields are matched case-insensitively (the spec
    * says field names are). Per-row narrow byte walk, zero shuffle. */
  final case class WarcResponse(rec_idx: Int, content: String)

  /** Inflate cap for gzip'd WARC payloads: a crafted bomb (1 KB →
    * gigabytes) must degrade deterministically, not OOM an executor —
    * inflation stops at the cap with the truncated flag set, the same
    * arm an interrupted download takes. */
  private val maxWarcInflate: Long = 1L << 30

  /** Inflate EVERY gzip member of `p` into one plaintext buffer.
    * Common Crawl's wild format is one gzip member PER RECORD,
    * concatenated (ISO 28500 annex; enables per-record random access);
    * a whole-file gzip is a single member. JDK's GZIPInputStream walks
    * concatenated members transparently, and the concatenation of
    * per-record inflations IS the plaintext WARC file — so both
    * layouts reduce to the one existing record walk. Returns the
    * inflated bytes plus a damaged flag (CRC/format error mid-stream
    * or inflate cap hit); bytes inflated before the error are kept so
    * intact leading records still count ([[walkWarc]]'s contract). */
  private def inflateMembers(p: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(p.length.toLong * 4, 1L << 20).toInt)
    var damaged = false
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(p))
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0 && out.size() <= maxWarcInflate) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      if (n >= 0) damaged = true // inflate cap hit: bomb posture
    } catch { case _: java.io.IOException => damaged = true }
    (out.toByteArray, damaged)
  }

  /** One shared record walk behind [[withWarcMeta]] (counters) and
    * [[warcResponses]] (extraction) — `withContent` gates the UTF-8
    * content decode so the meta-only path never materializes record
    * bodies. A payload opening with the gzip member magic (0x1f8b —
    * the `.warc.gz` wild format, r15 verdict task #2) inflates first
    * ([[inflateMembers]]); a damaged or capped inflation forces the
    * truncated flag even when the inflated prefix happens to end at a
    * record boundary. */
  private def walkWarc(p: Array[Byte], withContent: Boolean)
      : (WarcMeta, Seq[WarcResponse]) =
    if (p != null && p.length > 2 &&
        (p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b) {
      val (plain, damaged) = inflateMembers(p)
      val (meta, resp) = walkWarcPlain(plain, withContent)
      (if (meta.is_warc && damaged) meta.copy(truncated = true) else meta,
        resp)
    } else walkWarcPlain(p, withContent)

  private def walkWarcPlain(p: Array[Byte], withContent: Boolean)
      : (WarcMeta, Seq[WarcResponse]) = {
    val bad = WarcMeta(is_warc = false, null, 0, 0, 0L,
      truncated = false)
    def ascii(from: Int, until: Int) =
      new String(p, from, until - from, "US-ASCII")
    val resp = scala.collection.mutable.ArrayBuffer.empty[WarcResponse]
    if (p == null || p.length < 9 || ascii(0, 5) != "WARC/")
      (bad, Seq.empty)
    else {
      var records = 0
      var responses = 0
      var bytes = 0L
      var trunc = false
      var done = false
      var off = 0
      var version: String = null
      while (!done) {
        if (off >= p.length) done = true // clean end-of-file
        else if (off + 5 > p.length || ascii(off, off + 5) != "WARC/") {
          trunc = true; done = true // bytes between records: damaged
        } else {
          // header block ends at the first CRLFCRLF
          var hEnd = -1
          var i = off
          while (hEnd < 0 && i + 3 < p.length) {
            if (p(i) == '\r' && p(i + 1) == '\n' &&
                p(i + 2) == '\r' && p(i + 3) == '\n') hEnd = i
            i += 1
          }
          if (hEnd < 0) { trunc = true; done = true }
          else {
            val lines = ascii(off, hEnd).split("\r\n")
            if (version == null) version = lines.head.drop(5)
            val fields = lines.tail.flatMap { l =>
              val c = l.indexOf(':')
              if (c < 0) None
              else Some(l.take(c).trim.toLowerCase ->
                l.drop(c + 1).trim)
            }.toMap
            fields.get("content-length")
                .flatMap(v => scala.util.Try(v.toLong).toOption) match {
              case None => trunc = true; done = true
              case Some(len) =>
                val cStart = hEnd + 4
                // Guard the untrusted declared length BEFORE any
                // arithmetic on it (r15 advisor fix): a negative value
                // would reach the String/array reads below and throw,
                // and a value near Long.MaxValue overflows recEnd + 4
                // past the bounds check. Both are the truncated/damaged
                // arm — degrade, never throw.
                if (len < 0L || len > p.length.toLong - cStart) {
                  trunc = true; done = true
                } else {
                val recEnd = cStart.toLong + len
                if (recEnd + 4 > p.length ||
                    p(recEnd.toInt) != '\r' ||
                    p(recEnd.toInt + 1) != '\n' ||
                    p(recEnd.toInt + 2) != '\r' ||
                    p(recEnd.toInt + 3) != '\n') {
                  trunc = true; done = true
                } else {
                  records += 1
                  if (fields.get("warc-type").contains("response")) {
                    responses += 1
                    if (withContent)
                      resp += WarcResponse(records,
                        new String(p, cStart, len.toInt, "UTF-8"))
                  }
                  bytes += len
                  off = recEnd.toInt + 4
                }
                }
            }
          }
        }
      }
      (WarcMeta(is_warc = true, version, records, responses, bytes,
        trunc), resp.toSeq)
    }
  }

  /** WARC RESPONSE EXTRACTION (r14) — the ingest step after
    * [[withWarcMeta]]'s screen: each fully contained `response`
    * record's content decodes (UTF-8, the web-archive convention) and
    * explodes to one row per response with its 1-based record index —
    * the page stream t_html / the quality screens consume. Truncated
    * or damaged tails contribute nothing past the last intact record
    * (the walk's contract); non-response records and non-WARC payloads
    * yield no rows. Per-row narrow byte walk + explode, zero
    * shuffle. */
  def warcResponses(media: DataFrame, payloadCol: String = "payload")
      : DataFrame = {
    val extract = udf { (p: Array[Byte]) => walkWarc(p, true)._2 }
    media
      .withColumn("__resp", explode(extract(col(payloadCol))))
      .select((media.columns.filterNot(_ == payloadCol).map(col) ++
        Seq(col("__resp.rec_idx").as("rec_idx"),
          col("__resp.content").as("content"))): _*)
  }

  def withWarcMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "warc_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) => walkWarc(p, false)._1 }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  final case class VideoMeta(format: String, major_brand: Option[String],
      timescale: Option[Long], duration_ms: Option[Long])

  /** ======= REAL (codec-free) ======= video metadata from MP4 / ISO-BMFF
    * headers: walk the top-level box chain (big-endian u32 size + fourCC
    * type, with the size==1 64-bit largesize escape) for `ftyp` (major
    * brand — the mp4/mov/m4a routing key) and `moov`, then walk moov's
    * children for `mvhd` (movie header: timescale and duration, u32 in
    * version 0, u64 duration in version 1) — duration_ms = duration ·
    * 1000 / timescale, the length screen a video ingest applies before
    * touching any codec. Box headers only; sample data (`mdat`) is never
    * read. */
  def withVideoMeta(media: DataFrame, payloadCol: String = "payload",
      outCol: String = "video_meta"): DataFrame = {
    val parse = udf { (p: Array[Byte]) =>
      def u(i: Int) = p(i) & 0xff
      def u32(i: Int) = u(i).toLong << 24 | u(i + 1).toLong << 16 |
        u(i + 2).toLong << 8 | u(i + 3).toLong
      def u64(i: Int) = (u32(i) << 32) | u32(i + 4)
      def cc(i: Int) = new String(p.slice(i, i + 4), "US-ASCII")
      if (p == null || p.length < 12 || cc(4) != "ftyp")
        VideoMeta("not_mp4", None, None, None)
      else {
        var brand = Option.empty[String]
        var timescale = Option.empty[Long]
        var durMs = Option.empty[Long]
        def walk(from: Int, until: Int, inMoov: Boolean): Unit = {
          var i = from
          while (i + 8 <= until) {
            val size0 = u32(i)
            val typ = cc(i + 4)
            val (hdr, size) =
              if (size0 == 1L && i + 16 <= until) (16, u64(i + 8))
              else (8, if (size0 == 0L) (until - i).toLong else size0)
            if (typ == "ftyp" && i + hdr + 4 <= until)
              brand = Some(cc(i + hdr))
            else if (typ == "moov" && !inMoov)
              walk(i + hdr, math.min(until.toLong, i + size).toInt, inMoov = true)
            else if (typ == "mvhd" && inMoov && i + hdr + 20 <= until) {
              val version = u(i + hdr)
              if (version == 1 && i + hdr + 32 <= until) {
                timescale = Some(u32(i + hdr + 20))
                durMs = timescale.filter(_ > 0)
                  .map(ts => u64(i + hdr + 24) * 1000L / ts)
              } else if (version == 0) {
                timescale = Some(u32(i + hdr + 12))
                durMs = timescale.filter(_ > 0)
                  .map(ts => u32(i + hdr + 16) * 1000L / ts)
              }
            }
            // a corrupt size that would step backwards or overflow ends
            // the walk instead of looping (the WAV-walk rule)
            val next = i.toLong + size
            i = if (next <= i || next > until) until else next.toInt
          }
        }
        walk(0, p.length, inMoov = false)
        VideoMeta("mp4", brand, timescale, durMs)
      }
    }
    media.withColumn(outCol, parse(col(payloadCol)))
  }

  /** Feature extraction over a media Dataset: per-partition batch loop —
    * codec init happens once per partition, not per row (the reason this
    * is mapPartitions, not a scalar UDF). */
  def extractFeatures(media: Dataset[Media], dim: Int = 64)
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec/session init would go here (amortized)
      it.map { m =>
        val f = StubCodec.decodeFeatures(m.payload, dim)
        MediaFeatures(m.doc_id, m.kind, f.toSeq, m.width, m.height)
      }
    }
  }

  /** Frame sampling for video rows: every `everyMs` milliseconds of
    * duration becomes one (doc_id, frame_no) row — the explode shape a
    * real frame extractor would fill with decoded frames. */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          greatest(floor(coalesce(col("meta.duration_ms"), lit(0L)) / everyMs)
            .cast("long") - 1, lit(0L))))
          .as("frame_no"))

  /** 64-bit perceptual difference hash of a raw 9×8 grayscale grid —
    * [[org.apache.spark.sql.graft.DHash64]], the codegen'd kernel;
    * NULL for payloads under 72 bytes (corrupt-input contract). */
  def dHash64(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.GraftExpressions.col(
      org.apache.spark.sql.graft.DHash64(
        org.apache.spark.sql.graft.GraftExpressions.expr(payload)))

  /** Perceptual-hash near-duplicate IMAGE pairs — the visual twin of
    * the text near-dup family: [[dHash64]] each payload's grayscale
    * grid, split the 64-bit hash into FOUR 16-bit bands, candidate
    * pairs share at least one band value, and survivors have Hamming
    * distance ≤ `maxHamming`. With 4 bands, pigeonhole guarantees FULL
    * recall for Hamming ≤ 3 (3 differing bits can't dirty all 4 bands)
    * — so the gate's oracle is the plain all-pairs form, exactly.
    *
    * Shape: one narrow hash projection, a ×4 band explode of the
    * (doc_id, hash) table, one self-join per shared band key — never
    * all-pairs on the corpus; `maxBucket` caps degenerate bands (hub
    * guard, the minhash-LSH discipline; at gate scale no band nears
    * it, so the cap never disturbs the oracle equality). Corrupt
    * (short) payloads hash NULL and drop out. */
  def phashNearDup(media: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band LSH guarantees full recall only up to Hamming 3")
    // r18: parallelism floor under the per-row pixel/dHash kernel (guide
    // §2.5/§2.6 — a one-file media scan pins the byte walk to one core;
    // no-op at scale)
    val hashed = graft.ops.Par
      .spread(media.select(col("doc_id"), col("payload")))
      .select(col("doc_id"), dHash64(col("payload")).as("h"))
      .filter(col("h").isNotNull)
    val banded = hashed.select(col("doc_id"), col("h"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            // mask, don't mod: band 0's shift is 0 and a signed % on a
            // negative hash (bit 63 set) would key low-16-equal hashes
            // of mixed sign into DIFFERENT buckets — losing pairs the
            // all-pairs oracle keeps
            shiftrightunsigned(col("h"), b * 16)
              .bitwiseAND(lit(0xffffL)).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band"), col("bk.key"))
    val ok = banded.groupBy("band", "key").agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= 2 && col("bc") <= maxBucket)
    val bandedOk = banded.join(ok.select("band", "key"), Seq("band", "key"))
    bandedOk.as("x").join(bandedOk.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.h").as("ha"), col("y.h").as("hb"))
      .distinct()
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup detection over media: stub features -> cosine LSH buckets,
    * reusing the embedding pipeline end-to-end. */
  def mediaNearDups(spark: SparkSession, media: Dataset[Media],
      threshold: Double): DataFrame = {
    val emb = extractFeatures(media)
      .select(col("doc_id").as("vec_id"), col("feature").as("embedding"))
    graft.pipeline.Similarity.embeddingNearDupPairs(emb, threshold)
  }
}
