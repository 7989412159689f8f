package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** One decoded media item: typed metadata plus `pixels`, the decoded
  * feature payload (stubbed — see [[Multimodal]]). */
case class DecodedMedia(media_id: Long, kind: String, width: Int, height: Int,
    pixels: Array[Float])
/** Parsed RIFF/WAVE header fields (all from the byte payload). */
case class WavMeta(audio_format: Int, channels: Int, sample_rate: Int,
    bits_per_sample: Int, n_samples: Long, duration_ms: Long)
/** Per-channel amplitude stats decoded from 16-bit PCM frames. */
case class WavChannelStats(channel: Int, n_frames: Long, s_min: Int,
    s_max: Int, rms: Double)
/** Parsed ISO-BMFF (MP4) box fields (all from the byte payload). */
case class Mp4Meta(brand: String, timescale: Int, duration_ms: Long,
    track_id: Int, width: Int, height: Int, n_frames: Long)

/** Multimodal-column plumbing (brief requirement): image/audio/video
  * carried as opaque `binary` columns with typed metadata, processed by
  * per-partition batch functions.
  *
  * The Spark-side machinery — schema, partitioning, batch shape, metadata
  * extraction, frame sampling — is implemented and tested. The codec step
  * is REAL for images (`javax.imageio`, JDK built-in: PNG/JPEG/GIF/BMP
  * payloads decode to actual pixel features), for audio METADATA
  * ([[wavMeta]] parses RIFF/WAVE headers byte-for-byte — q115) and
  * SAMPLES ([[wavPcmStats]] decodes every 16-bit PCM frame — q124), for
  * video METADATA ([[mp4Meta]] walks ISO-BMFF boxes byte-for-byte —
  * q123), and — since r20 — for video FRAME PIXELS of the intra-coded
  * MJPEG family: [[mp4FrameRanges]] runs the real stsz/stco/stsc
  * sample-location algorithm and each extracted frame decodes through
  * `javax.imageio` (q134 certifies the round trip pixel-exactly).
  * Only inter-coded video (H.264/HEVC — no pure-JVM decoder exists)
  * falls back to the deterministic STUB — swap [[Multimodal.stubPixels]]
  * for an ffmpeg binding without touching any plumbing. Undecodable
  * image bytes also fall back to the stub rather than failing the batch
  * (corrupt payloads are data, not errors, in a 100 TB crawl).
  *
  * Scale notes: payloads stay in executor memory only one partition-batch
  * at a time (`mapPartitions`, no collect); metadata-only queries never
  * deserialize payload bytes (column pruning drops the binary column at
  * the parquet scan when untouched).
  */
object Multimodal {

  /** Synthetic media table derived deterministically from `documents`:
    * payload = utf8 bytes of text, kind cycles image/audio/video by
    * doc_id, fake dimensions derived from the content hash. */
  def mediaTable(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(col("payload")), 1, 8), 16, 10).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("width", (h % 640 + 1).cast("int"))
      .withColumn("height", (floor(h / 640) % 480 + 1).cast("int"))
  }

  /** STUB codec for kinds with no in-container decoder (audio/video, and
    * image bytes no installed ImageReader accepts): deterministic fake
    * "decode" of a payload into a fixed 8-float feature vector
    * (hash-seeded). The batch shape (one partition-iterator at a time,
    * bounded memory) is the part that matters for scale. */
  private[multimodal] def stubPixels(payload: Array[Byte]): Array[Float] = {
    var h = 1125899906842597L // deterministic FNV-ish fold, not a codec
    payload.foreach(b => h = h * 31 + b)
    Array.tabulate(8)(i => (((h >>> (i * 8)) & 0xff).toFloat) / 255.0f)
  }

  /** 8-float image feature: mean R, G, B over the whole frame, mean gray
    * of the four quadrants, and width/height ratio — all in [0, 1]. */
  private def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = Array.fill(3)(0.0)          // r, g, b over all pixels
    val quad = Array.fill(4)(0.0)          // gray per quadrant
    val quadN = Array.fill(4)(0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sums(0) += r; sums(1) += g; sums(2) += b
        val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
        quad(q) += (r + g + b) / 3.0
        quadN(q) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    Array(
      (sums(0) / n / 255.0).toFloat, (sums(1) / n / 255.0).toFloat,
      (sums(2) / n / 255.0).toFloat,
      (quad(0) / math.max(quadN(0), 1L) / 255.0).toFloat,
      (quad(1) / math.max(quadN(1), 1L) / 255.0).toFloat,
      (quad(2) / math.max(quadN(2), 1L) / 255.0).toFloat,
      (quad(3) / math.max(quadN(3), 1L) / 255.0).toFloat,
      (w.toFloat / math.max(w, h)))
  }

  /** Minimal PCM RIFF/WAVE writer (canonical 44-byte header + `data`
    * chunk): sample values are a deterministic per-`seed` LCG so the
    * payload is a pure function of its parameters — used by q115 to
    * synthesize real WAV payloads from hash-derived params, and by
    * MultimodalSpec's fixtures. */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
               nSamples: Int, seed: Long): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nSamples * blockAlign
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort)
      .putShort(bitsPerSample.toShort)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var s = seed
    (0 until nSamples * channels).foreach { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      buf.putShort((s >>> 48).toShort)
    }
    buf.array()
  }

  /** 16-bit PCM RIFF/WAVE writer over EXPLICIT interleaved samples
    * (frame f, channel c at `samples(f * channels + c)`), the q124
    * counterpart of the LCG-seeded [[wavBytes]]: when the caller owns
    * the sample values, the synth→parse oracle can state amplitude
    * facts about them in closed form. `samples.length` must be a
    * multiple of `channels`. */
  def wavBytesPcm(sampleRate: Int, channels: Int,
                  samples: Array[Short]): Array[Byte] = {
    require(channels > 0 && samples.length % channels == 0,
      s"${samples.length} samples do not tile $channels channels")
    val blockAlign = channels * 2
    val dataSize = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort)
      .putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Shared RIFF chunk walk: `fmt ` fields plus the `data` chunk's
    * offset and size, or `None` for anything malformed. Declared sizes
    * are unsigned 32-bit and kept as `Long` throughout; a chunk whose
    * declared extent overruns the payload (the classic 0xFFFFFFF8
    * hostile size) is rejected rather than truncated to a
    * non-advancing or negative `Int` step. */
  private def wavChunks(payload: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (payload.length < 12) return None
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(at: Int): String =
      new String(payload, at, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12L // Long throughout: declared sizes are unsigned 32-bit
    var fmt: Option[(Int, Int, Int, Int, Int)] = None // fmt, ch, sr, align, bits
    var dataPos = -1; var dataSize = -1L
    var bad = false
    while (!bad && pos + 8 <= payload.length && (fmt.isEmpty || dataSize < 0)) {
      val p = pos.toInt // safe: pos + 8 <= payload.length <= Int.MaxValue
      val id = tag(p)
      val size = buf.getInt(p + 4).toLong & 0xffffffffL
      if (pos + 8 + size > payload.length) bad = true // chunk overruns payload
      else {
        if (id == "fmt " && size >= 16)
          fmt = Some((buf.getShort(p + 8) & 0xffff,
            buf.getShort(p + 10) & 0xffff,
            buf.getInt(p + 12),
            buf.getShort(p + 20) & 0xffff,
            buf.getShort(p + 22) & 0xffff))
        else if (id == "data") { dataPos = p + 8; dataSize = size }
        pos += 8 + size + (size & 1L) // chunks pad to even; always advances
      }
    }
    for ((audioFormat, ch, sr, align, bits) <- fmt
         if !bad && dataSize >= 0 && align > 0 && sr > 0)
      yield (audioFormat, ch, sr, align, bits, dataPos, dataSize)
  }

  /** RIFF/WAVE header parse from the raw byte payload — the audio
    * analogue of the pixel-exact image decode: walks the chunk list
    * (little-endian sizes, even-byte padding), reads the `fmt ` fields,
    * and derives sample count and duration from the `data` chunk size.
    * `None` for anything malformed (truncated, wrong magic, missing
    * chunks, chunk sizes overrunning the payload) — corrupt payloads
    * are data, not errors, in a 100 TB crawl. */
  def wavMeta(payload: Array[Byte]): Option[WavMeta] =
    wavChunks(payload).map { case (audioFormat, ch, sr, align, bits, _, dataSize) =>
      WavMeta(audioFormat, ch, sr, bits,
        n_samples = dataSize / align,
        duration_ms = dataSize * 1000L / (sr.toLong * align))
    }

  /** REAL 16-bit PCM sample decode (the last closable synthetic-sample
    * face — video frame pixels stay out of scope, no codecs
    * in-container): decodes every little-endian frame of the `data`
    * chunk and folds per-channel amplitude stats (min, max, RMS) in one
    * pass, O(channels) memory. RMS accumulates the exact integer sum of
    * squares in a `Long` (|v| ≤ 2^15 so 2^31 frames fit without
    * overflow), then takes one double sqrt — deterministic and
    * bit-identical to any engine computing sqrt(sum(v²)/n) over the
    * same integers. `None` unless the payload is well-formed PCM
    * (format 1) at 16 bits with a whole number of frames. */
  def wavPcmStats(payload: Array[Byte]): Option[Seq[WavChannelStats]] =
    wavChunks(payload).flatMap {
      case (audioFormat, ch, _, align, bits, dataPos, dataSize) =>
        val nFrames = dataSize / align
        if (audioFormat != 1 || bits != 16 || align != ch * 2 ||
            dataSize % align != 0 || nFrames == 0) None
        else {
          val buf = java.nio.ByteBuffer.wrap(payload)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val mins = Array.fill(ch)(Int.MaxValue)
          val maxs = Array.fill(ch)(Int.MinValue)
          val sumSq = Array.fill(ch)(0L)
          var i = 0; val n = (nFrames * ch).toInt
          while (i < n) {
            val c = i % ch
            val v = buf.getShort(dataPos + i * 2).toInt
            if (v < mins(c)) mins(c) = v
            if (v > maxs(c)) maxs(c) = v
            sumSq(c) += v.toLong * v
            i += 1
          }
          Some((0 until ch).map(c => WavChannelStats(c, nFrames,
            mins(c), maxs(c), math.sqrt(sumSq(c).toDouble / nFrames))))
        }
    }

  /** Minimal ISO-BMFF (MP4) writer: `ftyp` + `mdat` (LCG fake sample
    * bytes) + `moov{ mvhd, trak{ tkhd, mdia{ mdhd, hdlr, minf{ stbl{
    * stts }}}}}` — the canonical video-file skeleton, all version-0
    * full boxes, big-endian sizes per the spec (the mirror image of
    * [[wavBytes]]'s little-endian RIFF). The payload is a pure function
    * of its parameters — used by q123 to synthesize real MP4 payloads
    * from hash-derived params, and by MultimodalSpec's fixtures.
    * `durationTicks` is in `timescale` units (mvhd and mdhd share the
    * timescale here); `width`/`height` land in tkhd as 16.16 fixed
    * point; `nFrames` is the single stts entry's sample count. */
  // -- ISO-BMFF box-writer helpers (shared by mp4Bytes and mp4BytesFrames) --
  private def box(id: String, body: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + body.length) // big-endian default
    b.putInt(8 + body.length).put(id.getBytes("US-ASCII")).put(body)
    b.array()
  }
  private def full(id: String, body: Array[Byte]): Array[Byte] =
    box(id, Array[Byte](0, 0, 0, 0) ++ body) // version 0, flags 0
  private def be(ints: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 * ints.length)
    ints.foreach(b.putInt); b.array()
  }
  private def be16(shorts: Int*): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 * shorts.length)
    shorts.foreach(v => b.putShort(v.toShort)); b.array()
  }
  private def identityMatrix: Array[Byte] =
    be(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)

  def mp4Bytes(timescale: Int, durationTicks: Int, width: Int, height: Int,
               nFrames: Int, seed: Long): Array[Byte] = {
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be(0x200) ++
        "isommp41".getBytes("US-ASCII"))
    var s = seed
    val mdat = box("mdat", Array.tabulate(nFrames * 3) { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L; (s >>> 56).toByte
    })
    val mvhd = full("mvhd",
      be(0, 0, timescale, durationTicks, 0x10000) ++ // created, modified, ts, dur, rate 1.0
        Array[Byte](1, 0) ++ Array.fill[Byte](10)(0) ++ // volume 1.0 + reserved
        identityMatrix ++ be(0, 0, 0, 0, 0, 0, 2)) // pre_defined ++ next_track_ID
    val tkhd = box("tkhd",
      be(3) ++ // version 0, flags = enabled | in_movie
        be(0, 0, 1, 0, durationTicks) ++ // created, modified, track_ID 1, reserved, dur
        be(0, 0) ++ Array.fill[Byte](8)(0) ++ // reserved ++ layer/alt/volume/reserved
        identityMatrix ++ be(width << 16, height << 16))
    val mdhd = full("mdhd",
      be(0, 0, timescale, durationTicks) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    val hdlr = full("hdlr",
      be(0) ++ "vide".getBytes("US-ASCII") ++ be(0, 0, 0) ++ Array[Byte](0))
    val stts = full("stts", be(1, nFrames, math.max(durationTicks / math.max(nFrames, 1), 1)))
    val mdia = box("mdia", mdhd ++ hdlr ++ box("minf", box("stbl", stts)))
    ftyp ++ mdat ++ box("moov", mvhd ++ box("trak", tkhd ++ mdia))
  }

  /** ISO-BMFF writer with a REAL sample table ([[mp4Bytes]] carries only
    * an stts count; this carries the frames themselves): `mdat` holds the
    * concatenated coded frame bytes and `stbl` gains the three boxes a
    * player needs to LOCATE them — `stsz` (per-sample sizes), `stco`
    * (chunk offsets into the file) and `stsc` (chunk → sample-count
    * runs) — plus `stsd` (a VisualSampleEntry whose 4CC is `format`,
    * e.g. `png ` / `jpeg` for intra-coded MJPEG-family tracks) and the
    * `vmhd`/`dinf{dref{url }}` boxes a well-formed video `minf`
    * requires. `samplesPerChunk` below the frame count splits the mdat
    * into multiple chunks (adjacent here, as in flat-file muxers), so
    * `stsc` carries a run per chunk size — the general layout
    * [[mp4FrameRanges]]'s walk must handle, including the trailing
    * partial chunk's second run. Pure function of its arguments. */
  def mp4BytesFrames(timescale: Int, durationTicks: Int, width: Int,
                     height: Int, frames: Seq[Array[Byte]],
                     samplesPerChunk: Int = Int.MaxValue,
                     format: String = "png "): Array[Byte] = {
    require(frames.nonEmpty && samplesPerChunk > 0 && format.length == 4,
      s"mp4BytesFrames needs frames, a positive chunk size and a 4CC " +
        s"(got ${frames.length} frames, spc $samplesPerChunk, '$format')")
    val nFrames = frames.length
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be(0x200) ++
        "isommp41".getBytes("US-ASCII"))
    val mdat = box("mdat", frames.toArray.flatten)
    // chunking: full chunks of `spc` samples + an optional trailing rest
    val spc = math.min(samplesPerChunk, nFrames)
    val nFullChunks = nFrames / spc
    val rest = nFrames % spc
    val mdatDataOff = ftyp.length + 8 // first frame's absolute file offset
    val chunkOffsets = {
      var off = mdatDataOff.toLong
      var s = 0
      (0 until nFullChunks + (if (rest > 0) 1 else 0)).map { _ =>
        val here = off
        val take = math.min(spc, nFrames - s)
        (0 until take).foreach { i => off += frames(s + i).length; }
        s += take
        here.toInt
      }
    }
    val stsd = full("stsd", be(1) ++ box(format,
      Array.fill[Byte](6)(0) ++ be16(1) ++      // reserved, data_ref_index
        be16(0, 0) ++ be(0, 0, 0) ++            // pre_defined, reserved, pre_defined[3]
        be16(width, height) ++
        be(0x00480000, 0x00480000) ++           // 72 dpi horizontal/vertical
        be(0) ++ be16(1) ++                     // reserved, frame_count 1
        Array.fill[Byte](32)(0) ++              // compressorname (empty)
        be16(24, 0xFFFF)))                      // depth 24, pre_defined -1
    val stts = full("stts",
      be(1, nFrames, math.max(durationTicks / nFrames, 1)))
    val stsc = full("stsc",
      if (rest == 0) be(1, 1, spc, 1)
      else be(2, 1, spc, 1, nFullChunks + 1, rest, 1))
    val stsz = full("stsz", be(0, nFrames) ++ be(frames.map(_.length): _*))
    val stco = full("stco", be(chunkOffsets.length) ++ be(chunkOffsets: _*))
    val vmhd = box("vmhd", be(1) ++ be16(0, 0, 0, 0)) // flags 1; graphicsmode copy
    val dinf = box("dinf", full("dref", be(1) ++ box("url ", be(1))))
    val mvhd = full("mvhd",
      be(0, 0, timescale, durationTicks, 0x10000) ++
        Array[Byte](1, 0) ++ Array.fill[Byte](10)(0) ++
        identityMatrix ++ be(0, 0, 0, 0, 0, 0, 2))
    val tkhd = box("tkhd",
      be(3) ++ be(0, 0, 1, 0, durationTicks) ++ be(0, 0) ++
        Array.fill[Byte](8)(0) ++ identityMatrix ++
        be(width << 16, height << 16))
    val mdhd = full("mdhd",
      be(0, 0, timescale, durationTicks) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    val hdlr = full("hdlr",
      be(0) ++ "vide".getBytes("US-ASCII") ++ be(0, 0, 0) ++ Array[Byte](0))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val mdia = box("mdia", mdhd ++ hdlr ++ box("minf", vmhd ++ dinf ++ stbl))
    ftyp ++ mdat ++ box("moov", mvhd ++ box("trak", tkhd ++ mdia))
  }

  /** ISO-BMFF box walk from the raw byte payload — the video analogue of
    * the pixel-exact image decode and [[wavMeta]]'s RIFF walk: recurses
    * into container boxes (`moov`/`trak`/`mdia`/`minf`/`stbl`), reads
    * the `ftyp` major brand, mvhd timescale + duration (duration_ms
    * derived), tkhd track id and 16.16 fixed-point dimensions, and the
    * total stts sample count. Version-0 boxes only (32-bit times — the
    * shape [[mp4Bytes]] writes and the overwhelmingly common on-disk
    * case). `None` for anything malformed — corrupt payloads are data,
    * not errors, in a 100 TB crawl. */
  def mp4Meta(payload: Array[Byte]): Option[Mp4Meta] = {
    if (payload.length < 8) return None
    val buf = java.nio.ByteBuffer.wrap(payload) // big-endian default
    def tag(at: Int): String = new String(payload, at, 4, "US-ASCII")
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var brand: Option[String] = None
    var timescale = 0; var duration = -1L; var trackId = 0
    var w = -1; var h = -1; var nFrames = -1L
    def walk(from: Int, to: Int): Boolean = { // false = malformed
      var pos = from
      while (pos + 8 <= to) {
        val size = buf.getInt(pos).toLong & 0xffffffffL
        if (size < 8 || pos + size > to) return false
        val end = pos + size.toInt
        tag(pos + 4) match {
          case c if containers(c) => if (!walk(pos + 8, end)) return false
          case "ftyp" if size >= 12 => brand = Some(tag(pos + 8))
          case "mvhd" if size >= 32 =>
            timescale = buf.getInt(pos + 20)
            duration = buf.getInt(pos + 24).toLong & 0xffffffffL
          case "tkhd" if size >= 92 =>
            trackId = buf.getInt(pos + 20)
            w = buf.getInt(pos + 84) >>> 16
            h = buf.getInt(pos + 88) >>> 16
          case "stts" if size >= 16 =>
            val n = buf.getInt(pos + 12)
            if (pos + 16 + 8L * n > end) return false
            var total = 0L; var i = 0
            while (i < n) {
              total += buf.getInt(pos + 16 + i * 8).toLong & 0xffffffffL; i += 1
            }
            nFrames = total
          case _ => () // unknown leaf boxes are skipped, per the spec
        }
        pos = end
      }
      true
    }
    if (!walk(0, payload.length)) return None
    for (b <- brand if timescale > 0 && duration >= 0 && trackId > 0 &&
           w >= 0 && h >= 0 && nFrames >= 0)
      yield Mp4Meta(b, timescale, duration * 1000L / timescale,
        trackId, w, h, nFrames)
  }

  /** Locate every sample's (offset, size) byte range from the ISO-BMFF
    * sample table — the real player algorithm over `stsz` (per-sample
    * sizes), `stco` (per-chunk file offsets) and `stsc` (runs of
    * chunk → samples-per-chunk): walk chunks in order, each taking the
    * samples-per-chunk of the last `stsc` run whose `first_chunk` it has
    * reached; within a chunk samples are contiguous, so offsets
    * accumulate the preceding sizes. First video track only (the
    * [[mp4Meta]] scope). `None` for anything malformed — a missing box,
    * a non-positive or non-ascending `stsc` run, chunks that don't
    * cover exactly the `stsz` sample count, or any range overrunning
    * the payload (declared sizes are unsigned 32-bit, validated in
    * `Long`) — corrupt payloads are data, not errors, in a 100 TB
    * crawl. */
  def mp4FrameRanges(payload: Array[Byte]): Option[Vector[(Int, Int)]] = {
    if (payload.length < 8) return None
    val buf = java.nio.ByteBuffer.wrap(payload) // big-endian default
    def tag(at: Int): String = new String(payload, at, 4, "US-ASCII")
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var sizes: Option[Array[Long]] = None
    var chunkOffs: Option[Array[Long]] = None
    var runs: Option[Array[(Int, Int)]] = None // (first_chunk, samples/chunk)
    def u32(at: Int): Long = buf.getInt(at).toLong & 0xffffffffL
    def walk(from: Int, to: Int): Boolean = {
      var pos = from
      while (pos + 8 <= to) {
        val size = u32(pos)
        if (size < 8 || pos + size > to) return false
        val end = pos + size.toInt
        tag(pos + 4) match {
          case c if containers(c) => if (!walk(pos + 8, end)) return false
          case "stsz" if size >= 20 && sizes.isEmpty =>
            val uniform = u32(pos + 12)
            val n = u32(pos + 16)
            if (n > Int.MaxValue) return false
            if (uniform != 0L) {
              // uniform samples are >= 1 byte each, so a count beyond the
              // payload length cannot be real — reject BEFORE allocating
              // (a hostile 2^31 count must not OOM the batch)
              if (n > payload.length) return false
              sizes = Some(Array.fill(n.toInt)(uniform))
            } else {
              if (pos + 20 + 4L * n > end) return false
              sizes = Some(Array.tabulate(n.toInt)(i => u32(pos + 20 + i * 4)))
            }
          case "stco" if size >= 16 && chunkOffs.isEmpty =>
            val n = u32(pos + 12)
            if (pos + 16 + 4L * n > end) return false
            chunkOffs = Some(Array.tabulate(n.toInt)(i => u32(pos + 16 + i * 4)))
          case "stsc" if size >= 16 && runs.isEmpty =>
            val n = u32(pos + 12)
            if (pos + 16 + 12L * n > end) return false
            runs = Some(Array.tabulate(n.toInt) { i =>
              (buf.getInt(pos + 16 + i * 12), buf.getInt(pos + 20 + i * 12))
            })
          case _ => () // unknown leaf boxes are skipped, per the spec
        }
        pos = end
      }
      true
    }
    if (!walk(0, payload.length)) return None
    for {
      sz <- sizes
      co <- chunkOffs
      rs <- runs
      // stsc runs must start at chunk 1, ascend, and carry positive counts
      if rs.nonEmpty && rs.head._1 == 1 && rs.forall(_._2 > 0) &&
        rs.sliding(2).forall(w => w.length < 2 || w(0)._1 < w(1)._1)
      ranges <- {
        val out = Vector.newBuilder[(Int, Int)]
        var sample = 0
        var run = 0
        var ok = true
        var ci = 0
        while (ok && ci < co.length && sample < sz.length) {
          val chunkNo = ci + 1
          while (run + 1 < rs.length && rs(run + 1)._1 <= chunkNo) run += 1
          var off = co(ci)
          var k = 0
          while (ok && k < rs(run)._2 && sample < sz.length) {
            val n = sz(sample)
            if (off < 0 || n < 0 || off + n > payload.length) ok = false
            else {
              out += ((off.toInt, n.toInt)); off += n; sample += 1; k += 1
            }
          }
          ci += 1
        }
        if (ok && sample == sz.length && sz.nonEmpty) Some(out.result())
        else None
      }
    } yield ranges
  }

  /** Slice each located sample's coded bytes out of the payload — the
    * frame-extraction half of real video decode ([[mp4FrameRanges]]
    * for how they are found). */
  def mp4Frames(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    mp4FrameRanges(payload).map(_.map { case (off, n) =>
      java.util.Arrays.copyOfRange(payload, off, off + n)
    })

  /** REAL video frame-pixel decode (the face rounds 9–19 held as "no
    * codecs in-container"): extract every coded frame via the sample
    * table and decode it with the JDK's own `javax.imageio` readers —
    * real for the intra-coded MJPEG family (PNG/JPEG/GIF/BMP samples,
    * the formats `ImageIO` ships), which is exactly what
    * [[mp4BytesFrames]] writes; inter-coded codecs (H.264/HEVC) still
    * have no pure-JVM decoder and fall back to the stub at the
    * [[decodePixels]] dispatch. Feature = the per-frame
    * [[imageFeatures]] averaged over frames. `None` unless the payload
    * carries a locatable sample table whose every frame ImageIO
    * accepts. */
  def videoFrameFeatures(payload: Array[Byte]): Option[Array[Float]] =
    mp4Frames(payload).flatMap { frames =>
      val imgs = frames.map { f =>
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
        catch { case _: java.io.IOException => null }
      }
      if (imgs.isEmpty || imgs.exists(_ == null)) None
      else {
        val feats = imgs.map(imageFeatures)
        Some(Array.tabulate(8)(i => feats.map(_(i)).sum / feats.length))
      }
    }

  /** Codec dispatch: real `javax.imageio` decode for images (any format
    * the JDK readers accept), real sample-table walk + per-frame
    * `javax.imageio` decode for videos whose frames the JDK readers
    * accept (the MJPEG family — [[videoFrameFeatures]]), [[stubPixels]]
    * otherwise. */
  private[multimodal] def decodePixels(kind: String,
      payload: Array[Byte]): Array[Float] =
    if (kind == "image") {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: java.io.IOException => null }
      if (img == null) stubPixels(payload) else imageFeatures(img)
    } else if (kind == "video") {
      videoFrameFeatures(payload).getOrElse(stubPixels(payload))
    } else stubPixels(payload)

  /** Decode stage as a typed per-partition batch map — the Scala analogue
    * of a `mapInPandas` batch UDF: payload bytes never leave the executor,
    * one partition streams at a time. */
  def decode(media: DataFrame): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("kind"), col("width"), col("height"),
        col("payload"))
      .as[(Long, String, Int, Int, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, w, h, payload) =>
        DecodedMedia(id, kind, w, h, decodePixels(kind, payload))
      })
  }

  /** Declarative resize: metadata transform only (no payload touch). */
  def resizeMeta(media: DataFrame, maxW: Int, maxH: Int): DataFrame =
    media.withColumn("scale",
        least(lit(maxW) / col("width"), lit(maxH) / col("height"), lit(1.0)))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** Frame sampling for video rows: every `step`-th frame index of a
    * frame count derived from payload size (generator/explode shape) —
    * the same count q123 synthesizes into, and parses back out of, a
    * real MP4 stts box. */
  def sampleFrames(media: DataFrame, step: Int): DataFrame =
    media.where(col("kind") === "video")
      .withColumn("n_frames", (col("n_bytes") % 120 + 1).cast("int"))
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step))).as("frame_no"))
}
