package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the training-data pipeline: media
  * (image/audio/video) as opaque `binary` columns + typed metadata,
  * processed batch-wise with `mapPartitions`-style iteration.
  *
  * The image decode is REAL: headers via [[ImageHeader]], pixels via
  * [[PixelDecode]] (JDK ImageIO with a from-the-spec pure PNG decoder
  * as fallback and cross-check), integer-exact pixel features
  * (gray sum / sum-of-squares, dHash, pHash). Only bytes no engine
  * recognizes fall back to a clearly-marked deterministic stub.
  */
object Multimodal {

  /** Feature row the decoder emits per media blob. `format`, `width`,
    * `height` are real header parses for PNG/JPEG/GIF/BMP/TIFF/WebP
    * ([[ImageHeader]]); when the PIXELS decode (`decoded` = true —
    * PNG/JPEG/GIF/BMP/TIFF via [[PixelDecode]], lossless WebP via
    * [[Vp8lDecode]]) the remaining columns
    * are real integer-exact pixel features and `sig` is the pHash hex.
    * Unrecognized bytes get format "unknown", deterministic stub
    * dimensions, zeroed pixel features, and an md5-derived `sig`
    * stand-in (still a usable dedup key for opaque blobs).
    */
  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_chunks", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("decoded", BooleanType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_sumsq", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("sig", StringType, nullable = false)))

  /** Typed form of the per-blob feature row — the kernel behind
    * [[featuresColumn]] (the struct column both batch and streaming
    * callers share).
    */
  final case class MediaFeatures(
      n_bytes: Long, n_chunks: Int, format: String,
      width: Int, height: Int, decoded: Boolean,
      px_sum: Long, px_sumsq: Long, dhash: Long, phash: Long,
      sig: String)

  /** Image decode: real container format + dimensions when a PNG /
    * JPEG / GIF / BMP / TIFF signature matches, real pixel features
    * when the pixels decode; deterministic stub math on the first
    * bytes for unrecognized blobs.
    */
  def featuresOf(bytes: Array[Byte], chunkSize: Int): MediaFeatures = {
    val n = bytes.length.toLong
    val nChunks = ((n + chunkSize - 1) / chunkSize).toInt
    val (fmt, width, height) = ImageHeader.parse(bytes) match {
      case Some(info) => (info.format, info.width, info.height)
      case None =>
        // pretend the first 4 bytes encode dimensions
        def b(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else 0
        ("unknown", 1 + (b(0) << 8 | b(1)) % 1024, 1 + (b(2) << 8 | b(3)) % 1024)
    }
    // pixel decode only runs behind a successful header parse: on a
    // corpus where most blobs are NOT images, per-row ImageIO reader
    // sniffing of arbitrary bytes would be pure overhead (every
    // decodable container above also header-parses). WebP routes
    // straight to the pure [[Vp8lDecode]] (lossless payloads decode
    // for real; lossy VP8 is a DSP codec — honest decoded=false with
    // real header dims), skipping the guaranteed-failing ImageIO
    // sniff.
    val decodedPx =
      if (fmt == "unknown") None
      else if (fmt == "webp") Vp8lDecode.decode(bytes)
      else PixelDecode.decode(bytes)
    decodedPx match {
      case Some(px) =>
        val g = PixelDecode.grayLuma(px)
        var s = 0L; var sq = 0L
        var i = 0
        while (i < g.length) { s += g(i); sq += g(i).toLong * g(i); i += 1 }
        val ph = PixelDecode.pHash(g, px.width, px.height)
        MediaFeatures(n, nChunks, fmt, px.width, px.height, true, s, sq,
          PixelDecode.dHash(g, px.width, px.height), ph, f"$ph%016x")
      case None =>
        val sig = graft.chem.Chem.hex(java.security.MessageDigest
          .getInstance("MD5").digest(bytes).take(4))
        MediaFeatures(n, nChunks, fmt, width, height, false,
          0L, 0L, 0L, 0L, sig)
    }
  }

  /** The decode kernel as a struct COLUMN — the single entry point
    * both [[withDecodedFeatures]] (batch convenience) and streaming
    * plans build on. `df.withColumn("mf",
    * featuresColumn(col("media"))).select($"*", $"mf.*")` yields the
    * same columns on any (batch or streaming) frame; null media
    * decodes like empty bytes.
    */
  def featuresColumn(
      media: org.apache.spark.sql.Column,
      chunkSize: Int = 256): org.apache.spark.sql.Column = {
    val f = udf((bytes: Array[Byte]) =>
      featuresOf(if (bytes == null) Array.empty[Byte] else bytes,
        chunkSize))
    f(media)
  }

  /** Attach decoded features to a DataFrame's binary (or UTF-8
    * string) column. Delegates to [[featuresColumn]] — ONE kernel
    * entry point, so batch callers get the same column pruning /
    * codegen-friendly plan as streaming callers instead of an RDD Row
    * round-trip (a string column casts to its UTF-8 bytes, matching
    * the historical RDD-form contract; null media decodes like empty
    * bytes).
    */
  def withDecodedFeatures(
      df: DataFrame,
      binaryCol: String,
      chunkSize: Int = 256): DataFrame = {
    val bin = df.schema(binaryCol).dataType match {
      case BinaryType => col(binaryCol)
      case _ => col(binaryCol).cast(BinaryType)
    }
    val cols = df.columns.map(col) ++
      featureSchema.fieldNames.map(f => col("__mf").getField(f).as(f))
    df.withColumn("__mf", featuresColumn(bin, chunkSize))
      .select(cols.toIndexedSeq: _*)
  }

  /** Feature row the audio "decoder" emits per media blob: REAL
    * RIFF/WAVE header fields + exact integer PCM16 signal stats (see
    * [[AudioHeader]] — pure-JVM, no codecs); non-WAV bytes get format
    * "unknown" with zeroed fields. rms_x1000 is computed from the
    * exact integer Σ sample² so it is bit-stable across partitionings.
    */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("a_format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("rms_x1000", LongType, nullable = false),
    StructField("n_clipped", LongType, nullable = false)))

  /** Typed form of the per-blob AUDIO feature row — the kernel behind
    * [[audioFeaturesColumn]], the audio twin of [[MediaFeatures]].
    * Field names match [[audioFeatureSchema]] so the struct column
    * expands to the historical `withAudioFeatures` columns.
    */
  final case class AudioFeatures(
      a_format: String, sample_rate: Int, channels: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long,
      peak: Int, rms_x1000: Long, n_clipped: Long)

  private val noAudio =
    AudioFeatures("unknown", 0, 0, 0, 0L, 0L, 0, 0L, 0L)

  private def rmsX1000(n: Long, sumSq: Long): Long =
    if (n == 0) 0L else math.round(math.sqrt(sumSq.toDouble / n) * 1000)

  /** Audio decode kernel: RIFF/WAVE header parse + exact integer
    * PCM16 signal stats, the MP4 'soun'-track PCM16 path (`sowt`
    * little-endian / `twos` big-endian sample entries, reassembled in
    * sample-table order via [[VideoHeader.trackSamples]]), or a FLAC
    * stream at 16 bps ([[FlacDecode]] — all four subframe types
    * including LPC, all four channel assignments, bit-exact);
    * "unknown" with zeroed fields otherwise. Pure JVM, no third-party
    * codecs — payloads outside those shapes (mp4a/AAC, MP3 frames)
    * report container metadata through
    * [[VideoHeader]]/[[AudioHeader.parseMp3]]/[[AudioHeader.parseFlac]],
    * never approximate samples here.
    */
  def audioFeaturesOf(bytes: Array[Byte]): AudioFeatures =
    AudioHeader.parse(bytes) match {
      case Some(info) if info.audioFormat == 1 =>
        val st = AudioHeader.pcm16Stats(bytes)
          .getOrElse(AudioHeader.Pcm16Stats(0L, 0, 0L, 0L))
        AudioFeatures(info.format, info.sampleRate, info.channels,
          info.bitsPerSample, info.nSamples, info.durationMs,
          st.peak, rmsX1000(st.n, st.sumSq), st.nClipped)
      case Some(info) =>
        // compressed-WAV leg: G.711 µ-law/A-law and mono IMA ADPCM
        // decode exactly ([[AudioCodecs.samples]]); other formats
        // keep the header facts with zeroed signal stats
        AudioCodecs.samples(bytes) match {
          case Some(sm) =>
            var peak = 0; var sumSq = 0L; var clipped = 0L
            var i = 0
            while (i < sm.length) {
              val v = sm(i).toInt
              val a = math.abs(v)
              if (a > peak) peak = a
              sumSq += v.toLong * v
              if (v == 32767 || v == -32768) clipped += 1
              i += 1
            }
            val fmt = info.audioFormat match {
              case 6 => "wav-alaw"
              case 7 => "wav-ulaw"
              case 17 => "wav-adpcm"
              case _ => info.format
            }
            val n = sm.length.toLong / info.channels
            AudioFeatures(fmt, info.sampleRate, info.channels,
              info.bitsPerSample, n,
              if (info.sampleRate > 0) n * 1000 / info.sampleRate else 0L,
              peak, rmsX1000(sm.length.toLong, sumSq), clipped)
          case None =>
            AudioFeatures(info.format, info.sampleRate, info.channels,
              info.bitsPerSample, info.nSamples, info.durationMs,
              0, 0L, 0L)
        }
      case None =>
        mp4AudioFeaturesOf(bytes)
          .orElse(flacAudioFeaturesOf(bytes))
          .orElse(oggFlacAudioFeaturesOf(bytes))
          .getOrElse(noAudio)
    }

  /** The Ogg-FLAC leg of [[audioFeaturesOf]]: reassemble the embedded
    * FLAC stream from the Ogg pages ([[OggHeader.oggFlacStream]] —
    * CRC-verified, packets rejoined across page boundaries) and run
    * the same FLAC decode + stats; .oga blobs get the identical
    * numbers their .flac twin gets, under format "ogg-flac".
    */
  private def oggFlacAudioFeaturesOf(
      bytes: Array[Byte]): Option[AudioFeatures] =
    OggHeader.oggFlacStream(bytes)
      .flatMap(flacAudioFeaturesOf)
      .map(_.copy(a_format = "ogg-flac"))

  /** The FLAC leg of [[audioFeaturesOf]]: full-stream frame decode
    * (CRC-verified — a corrupt stream falls to "unknown", never to
    * wrong stats), signal stats over the PCM16-NORMALIZED stream
    * ([[FlacDecode.pcm16NormalizedSamples]]' width rule — so 24-bit
    * hi-res FLAC gets comparable numbers to its 16-bit twin, like
    * the WAV width legs), `bits_per_sample` reporting the REAL
    * depth. Same pooled-channel integer stats as the WAV path.
    */
  private def flacAudioFeaturesOf(
      bytes: Array[Byte]): Option[AudioFeatures] =
    FlacDecode.decode(bytes).map { d =>
      val shift = d.info.bitsPerSample - 16
      var peak = 0; var sumSq = 0L; var clipped = 0L
      var i = 0
      while (i < d.samples.length) {
        val v0 = d.samples(i)
        val v = (if (shift == 0) v0
          else if (shift > 0) v0 >> shift
          else v0 << -shift).toShort.toInt
        val a = math.abs(v)
        if (a > peak) peak = a
        sumSq += v.toLong * v
        if (v == 32767 || v == -32768) clipped += 1
        i += 1
      }
      AudioFeatures("flac", d.info.sampleRate, d.info.channels,
        d.info.bitsPerSample, d.info.totalSamples, d.info.durationMs,
        peak, rmsX1000(d.samples.length.toLong, sumSq), clipped)
    }

  /** The MP4 leg of [[audioFeaturesOf]]: first 'soun' track whose
    * sample entry is uncompressed PCM16 (`sowt` LE / `twos` BE, per
    * the QuickTime sound sample descriptions ISO-BMFF inherited).
    * Stats pool all interleaved channels, matching the WAV path; the
    * minimal sample entry synthesized/parsed here carries no channel
    * count, so channels reports 1 (the stream is still fully
    * accounted for — n_samples counts every int16).
    */
  private def mp4AudioFeaturesOf(
      bytes: Array[Byte]): Option[AudioFeatures] =
    for {
      info <- VideoHeader.parse(bytes)
      track <- info.audioTracks.headOption
      if track.codec == "sowt" || track.codec == "twos"
      samples <- VideoHeader.trackSamples(bytes, "soun")
    } yield {
      val le = track.codec == "sowt"
      var n = 0L; var peak = 0; var sumSq = 0L; var clipped = 0L
      samples.sortBy(_.index).foreach { s =>
        var i = s.offset.toInt
        val end = s.offset + s.size
        while (i + 1 < end) {
          val v =
            if (le) ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort.toInt
            else ((bytes(i) << 8) | (bytes(i + 1) & 0xff)).toShort.toInt
          val a = math.abs(v)
          if (a > peak) peak = a
          sumSq += v.toLong * v
          if (v == 32767 || v == -32768) clipped += 1
          n += 1
          i += 2
        }
      }
      AudioFeatures("mp4-" + track.codec, track.timescale.toInt, 1, 16,
        n, track.durationMs, peak, rmsX1000(n, sumSq), clipped)
    }

  /** The audio decode kernel as a struct COLUMN — the single entry
    * point batch and streaming callers share, the audio twin of
    * [[featuresColumn]] (null media decodes like empty bytes).
    */
  def audioFeaturesColumn(
      media: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val f = udf((bytes: Array[Byte]) =>
      audioFeaturesOf(if (bytes == null) Array.empty[Byte] else bytes))
    f(media)
  }

  /** Attach audio features to a DataFrame's binary (or UTF-8 string)
    * column. Delegates to [[audioFeaturesColumn]] — ONE kernel entry
    * point, same column-pruning / codegen-friendly plan shape as
    * [[withDecodedFeatures]]; the historical RDD Row round-trip is
    * gone (a string column casts to its UTF-8 bytes, matching the
    * historical contract).
    */
  def withAudioFeatures(df: DataFrame, binaryCol: String): DataFrame = {
    val bin = df.schema(binaryCol).dataType match {
      case BinaryType => col(binaryCol)
      case _ => col(binaryCol).cast(BinaryType)
    }
    val cols = df.columns.map(col) ++
      audioFeatureSchema.fieldNames.map(f => col("__af").getField(f).as(f))
    df.withColumn("__af", audioFeaturesColumn(bin))
      .select(cols.toIndexedSeq: _*)
  }

  /** Split a binary column into fixed-size chunk rows — the sharded-blob
    * layout pattern (one row per chunk, ordered by chunk_idx) used when
    * media exceeds row-size budgets.
    */
  def chunked(df: DataFrame, binaryCol: String, chunkSize: Int): DataFrame =
    // null media -> one empty chunk row (consistent with
    // withDecodedFeatures' empty-bytes handling), not a dropped row
    df.withColumn("__n",
        coalesce(octet_length(col(binaryCol)), lit(0)))
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          greatest(ceil(col("__n") / chunkSize).cast("int") - 1, lit(0)))))
      .withColumn("chunk",
        expr(s"substring(coalesce($binaryCol, cast('' as binary)), " +
          s"chunk_idx * $chunkSize + 1, $chunkSize)"))
      .drop("__n")

  /** Sample every `stride`-th fixed-size frame from a binary column —
    * the video frame-sampling pattern (decode is elsewhere; this is the
    * SELECTION step a pipeline runs before handing frames to a codec
    * UDF). One output row per SAMPLED frame (`frame_idx` is the frame's
    * position in the full frame sequence, so downstream code can
    * reconstruct timing); the final partial frame is a frame (codecs
    * get the tail); empty/null media emit no frames (there is nothing
    * to sample — unlike [[chunked]], whose storage-layout contract
    * needs a row per blob). Pure codegen'd expressions — sequence +
    * explode + byte substring — no UDF.
    */
  def frameSample(
      df: DataFrame, binaryCol: String,
      frameSize: Int, stride: Int): DataFrame = {
    require(frameSize > 0 && stride > 0,
      s"frameSize/stride must be positive: $frameSize/$stride")
    df.withColumn("__nf",
        coalesce(ceil(octet_length(col(binaryCol)) / frameSize.toDouble)
          .cast("int"), lit(0)))
      .where(col("__nf") > 0)
      .withColumn("frame_idx",
        explode(expr(s"sequence(0, __nf - 1, $stride)")))
      .withColumn("frame",
        expr(s"substring($binaryCol, frame_idx * $frameSize + 1, " +
          s"$frameSize)"))
      .drop("__nf")
  }

  /** Container-TRUE video frame sampling — the real-demuxer upgrade of
    * [[frameSample]]'s fixed-size byte slicing: every `stride`-th
    * sample of the first video track, located through the actual
    * ISO-BMFF sample tables ([[VideoHeader.videoSamples]]: stsc runs
    * resolved against stco chunk offsets, stsz sizes, stts decode
    * times). One output row per sampled frame with `frame_idx`, `dts`
    * (track timescale), and the frame's exact payload `frame` bytes
    * from mdat. Blobs that aren't demuxable MP4 video emit no rows
    * (nothing to sample). The demux is a stateless per-row projection
    * — batch and streaming frames plan identically.
    */
  def mp4FrameSample(
      df: DataFrame, mediaCol: String, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val extract = udf { bytes: Array[Byte] =>
      val b = if (bytes == null) Array.empty[Byte] else bytes
      VideoHeader.videoSamples(b).getOrElse(Seq.empty)
        .filter(_.index % stride == 0)
        .map(s => (s.index, s.dts,
          java.util.Arrays.copyOfRange(b, s.offset.toInt,
            s.offset.toInt + s.size)))
    }
    df.withColumn("__fr", explode(extract(col(mediaCol))))
      .withColumn("frame_idx", col("__fr._1"))
      .withColumn("dts", col("__fr._2"))
      .withColumn("frame", col("__fr._3"))
      .drop("__fr")
  }

  /** Caption/subtitle extraction from MP4 TEXT tracks — the bridge
    * from the media pipeline into the text pipeline: the first
    * 'text' (or, via `handler`, 'sbtl') track's samples are located
    * through the same sample-table walk as video frames and decoded
    * per the 3GPP timed-text sample shape (ISO 14496-17 / tx3g: a
    * 16-bit BE text length followed by UTF-8 bytes; style boxes after
    * the text are ignored). One row per cue with `cue_idx`, `dts`
    * (track timescale), and the cue `text` — ready for langid /
    * token counting / dedup like any documents table. Malformed cues
    * (length running past the sample) and non-MP4 blobs emit
    * nothing; stateless per-row projection.
    */
  def mp4Cues(
      df: DataFrame, mediaCol: String,
      handler: String = "text"): DataFrame = {
    val extract = udf { bytes: Array[Byte] =>
      val b = if (bytes == null) Array.empty[Byte] else bytes
      VideoHeader.trackSamples(b, handler).getOrElse(Seq.empty)
        .flatMap { s =>
          if (s.size < 2 || s.offset < 0 ||
            s.offset + s.size > b.length) None
          else {
            val off = s.offset.toInt
            val len = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
            if (len > s.size - 2) None
            else Some((s.index, s.dts,
              new String(b, off + 2, len,
                java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
    }
    df.withColumn("__cue", explode(extract(col(mediaCol))))
      .withColumn("cue_idx", col("__cue._1"))
      .withColumn("dts", col("__cue._2"))
      .withColumn("text", col("__cue._3"))
      .drop("__cue")
  }

  /** Album-art extraction from ID3v2 APIC frames — the MP3 -> IMAGE
    * bridge into the image pipeline ([[AudioHeader.id3ApicFrames]]),
    * the album-art twin of [[mp4Cues]]' MP4 -> text bridge: one row
    * per attached picture with `apic_idx`, `mime`, `pic_type`, and
    * the raw `art` bytes — ready for [[featuresColumn]] / pHash
    * near-dup like any image column. Blobs without a well-formed
    * ID3v2 tag emit nothing; stateless per-row projection (the same
    * plan on batch and streaming frames).
    */
  def id3CoverArt(df: DataFrame, mediaCol: String): DataFrame = {
    val extract = udf { bytes: Array[Byte] =>
      val b = if (bytes == null) Array.empty[Byte] else bytes
      AudioHeader.id3ApicFrames(b).zipWithIndex.map {
        case ((mime, tp, img), i) => (i, mime, tp, img)
      }
    }
    df.withColumn("__ap", explode(extract(col(mediaCol))))
      .withColumn("apic_idx", col("__ap._1"))
      .withColumn("mime", col("__ap._2"))
      .withColumn("pic_type", col("__ap._3"))
      .withColumn("art", col("__ap._4"))
      .drop("__ap")
  }

  /** Container-true KEYFRAME sampling — what a 100 TB video pipeline
    * actually decodes for thumbnails/shot analysis: only the frames
    * the stss sync-sample table marks seekable (I-frames), located
    * through the full sample-table walk and stamped with both decode
    * (`dts`) and presentation (`pts` = dts + ctts offset) times. A
    * track without an stss box has every sample sync (§8.6.2), so
    * this degrades to full-frame extraction exactly when the
    * container says it should. Stateless per-row projection, same
    * scale shape as [[mp4FrameSample]].
    */
  def mp4KeyframeSample(df: DataFrame, mediaCol: String): DataFrame = {
    val extract = udf { bytes: Array[Byte] =>
      val b = if (bytes == null) Array.empty[Byte] else bytes
      VideoHeader.videoSamples(b).getOrElse(Seq.empty)
        .filter(_.sync)
        .map(s => (s.index, s.dts, s.pts,
          java.util.Arrays.copyOfRange(b, s.offset.toInt,
            s.offset.toInt + s.size)))
    }
    df.withColumn("__kf", explode(extract(col(mediaCol))))
      .withColumn("frame_idx", col("__kf._1"))
      .withColumn("dts", col("__kf._2"))
      .withColumn("pts", col("__kf._3"))
      .withColumn("frame", col("__kf._4"))
      .drop("__kf")
  }

  /** Aspect-fit RESIZE planning — the geometry half of an image-resize
    * stage: fit (width, height) into a `maxDim` box preserving aspect
    * ratio with integer-exact arithmetic (floor division, short side
    * floored at 1 px), plus the `resized` work flag and the exact
    * output pixel count a batch scheduler budgets on. The pixel
    * RESAMPLE itself belongs to the codec-backed decode UDF (absent
    * from this container by brief); every decision a distributed
    * pipeline makes about the resize — which images need work, what
    * geometry to emit, how many output pixels to allocate — is this
    * plan, computed as codegen'd column expressions. Images already
    * inside the box pass through unchanged (the standard thumbnailer
    * contract: never upscale).
    */
  /** EXIF-aware display dimensions: orientations 5-8 (the 90°/270°
    * rotation family — [[ImageHeader.exifOrientation]]) swap the
    * stored width/height, so a resize/thumbnail plan computed on the
    * RAW header dims would budget the wrong aspect box. Emits
    * `disp_w`/`disp_h` (null/absent orientation = upright); feed
    * those to [[withResizePlan]].
    */
  def withDisplayDims(
      df: DataFrame,
      widthCol: String,
      heightCol: String,
      orientationCol: String): DataFrame = {
    val rotated = col(orientationCol).isin(5, 6, 7, 8)
    df.withColumn("disp_w",
        when(rotated, col(heightCol)).otherwise(col(widthCol)))
      .withColumn("disp_h",
        when(rotated, col(widthCol)).otherwise(col(heightCol)))
  }

  def withResizePlan(
      df: DataFrame,
      widthCol: String,
      heightCol: String,
      maxDim: Int): DataFrame = {
    require(maxDim >= 1, s"maxDim must be positive: $maxDim")
    val w = s"greatest($widthCol, 1)"
    val h = s"greatest($heightCol, 1)"
    df.withColumn("resized",
        expr(s"greatest($w, $h) > $maxDim"))
      .withColumn("target_w", expr(
        s"cast(if(greatest($w, $h) <= $maxDim, $w, " +
          s"if($w >= $h, $maxDim, " +
          s"greatest(($w * $maxDim) div $h, 1))) as int)"))
      .withColumn("target_h", expr(
        s"cast(if(greatest($w, $h) <= $maxDim, $h, " +
          s"if($w >= $h, greatest(($h * $maxDim) div $w, 1), " +
          s"$maxDim)) as int)"))
      .withColumn("out_pixels",
        expr("cast(target_w as bigint) * target_h"))
  }

  /** Shingle row [[videoShingles]] emits: `t` is the first frame's
    * sample index, `fk` the frame's folded dHash key, `sid` the
    * k-frame shingle band key.
    */
  final case class VideoShingle(t: Int, fk: Long, sid: Long)

  /** Modulus the video shingle keys fold with: the largest prime
    * below 2^20, so a 3-frame shingle key stays under 2^60 (inside
    * signed 64-bit for both Spark and a relational oracle replay).
    */
  val ShingleMod = 1048573L

  /** Fold a 64-bit frame dHash into the base-M frame key. */
  private def frameKey(dhash: Long): Long = {
    val dlo = dhash & 0xffffffffL
    val dhi = dhash >>> 32
    (dlo * 31 + dhi) % ShingleMod
  }

  /** Combine consecutive decoded frame keys into k-frame shingles —
    * the fold shared by the MP4 and animated-GIF kernels. Input:
    * (frame ordinal, frame key) for DECODED frames only; a gap in the
    * ordinals (an undecodable frame) breaks shingle runs, never
    * bridged.
    */
  private def shingleFoldKeys(
      fks: Seq[(Int, Long)], k: Int): Seq[VideoShingle] =
    fks.sliding(k).filter { w =>
      w.length == k &&
        w.zipWithIndex.forall { case ((t, _), i) => t == w.head._1 + i }
    }.map { w =>
      VideoShingle(w.head._1, w.head._2,
        w.foldLeft(0L)((acc, p) => acc * ShingleMod + p._2))
    }.toSeq

  /** The per-blob kernel behind [[videoShingles]]: demux the first
    * video track's sample table ([[VideoHeader.videoSamples]]),
    * decode each frame through the ONE image kernel entry point
    * ([[featuresOf]] — header-gated, so non-image payloads cost a
    * signature check, not a decoder), fold each frame's 64-bit dHash
    * into `fk = (lo32 * 31 + hi32) mod [[ShingleMod]]`, and emit one
    * shingle per run of `k` CONSECUTIVE decoded frames with
    * `sid = ((fk0 * M + fk1) * M + fk2)` (base-M positional combine).
    * dHash is invariant to global brightness shifts (neighbor
    * differences keep their sign) and `sid` is time-shift-COVARIANT
    * (a whole-frame shift moves `t`, never `sid`), so a banded
    * equi-join on `sid` plus an aligned-offset verify recovers
    * shifted and re-graded duplicates — the video twin of
    * [[AudioFingerprint]]'s landmark triples. Frames that fail to
    * decode break shingle runs (never bridged); non-MP4 bytes emit
    * nothing.
    */
  def videoShingleRows(bytes: Array[Byte], k: Int): Seq[VideoShingle] = {
    require(k >= 1 && k <= 3, s"k must be in [1, 3]: $k")
    val b = if (bytes == null) Array.empty[Byte] else bytes
    val fks = VideoHeader.videoSamples(b).getOrElse(Seq.empty)
      .sortBy(_.index)
      .flatMap { sm =>
        val end = sm.offset + sm.size
        if (sm.offset < 0 || end > b.length || sm.size < 0) None
        else {
          val mf = featuresOf(java.util.Arrays.copyOfRange(
            b, sm.offset.toInt, end.toInt), 256)
          if (!mf.decoded) None
          else Some((sm.index, frameKey(mf.dhash)))
        }
      }
    shingleFoldKeys(fks, k)
  }

  /** The animated-GIF twin of [[videoShingleRows]]: decode every
    * composited canvas frame ([[PixelDecode.gifFrames]] — GCE
    * disposal/transparency, frame rects, the full GIF89a animation
    * semantics), dHash each canvas, fold into the SAME base-M k-frame
    * shingle keys — so animated GIFs and MP4s of the same content
    * land in the same banded near-dup space. Non-GIF or malformed
    * bytes emit nothing (the funnel's decode gate).
    */
  def gifShingleRows(bytes: Array[Byte], k: Int): Seq[VideoShingle] = {
    require(k >= 1 && k <= 3, s"k must be in [1, 3]: $k")
    val b = if (bytes == null) Array.empty[Byte] else bytes
    val fks = PixelDecode.gifFrames(b).getOrElse(Seq.empty)
      .zipWithIndex.map { case (px, i) =>
        val g = PixelDecode.grayLuma(px)
        (i, frameKey(PixelDecode.dHash(g, px.width, px.height)))
      }
    shingleFoldKeys(fks, k)
  }

  /** [[videoShingles]]' GIF twin as a DataFrame transform — same
    * stateless per-row projection, same output columns.
    */
  def gifShingles(
      df: DataFrame, mediaCol: String, k: Int = 3): DataFrame = {
    val sh = udf((bytes: Array[Byte]) => gifShingleRows(bytes, k))
    val keep = df.columns.filter(_ != mediaCol).map(col)
    df.withColumn("__vs", explode(sh(col(mediaCol))))
      .select(keep.toIndexedSeq ++ Seq(col("__vs.t").as("t"),
        col("__vs.fk").as("fk"), col("__vs.sid").as("sid")): _*)
  }

  /** The animated-PNG twin of [[gifShingleRows]]: APNG frames
    * ([[PixelDecode.apngFrames]] — acTL/fcTL/fdAT with dispose
    * compositing) into the SAME base-M shingle space as MP4s and
    * GIFs. Non-APNG or malformed bytes emit nothing.
    */
  def apngShingleRows(bytes: Array[Byte], k: Int): Seq[VideoShingle] = {
    require(k >= 1 && k <= 3, s"k must be in [1, 3]: $k")
    val b = if (bytes == null) Array.empty[Byte] else bytes
    val fks = PixelDecode.apngFrames(b).getOrElse(Seq.empty)
      .zipWithIndex.map { case (px, i) =>
        val g = PixelDecode.grayLuma(px)
        (i, frameKey(PixelDecode.dHash(g, px.width, px.height)))
      }
    shingleFoldKeys(fks, k)
  }

  /** Container-DISPATCHING animation shingler: GIF bytes through
    * [[gifShingleRows]], PNG bytes through [[apngShingleRows]] — one
    * shingle space either way, so a mixed animation corpus dedups
    * ACROSS containers in one funnel. Non-animation bytes emit
    * nothing (each decoder's own gate).
    */
  def animShingleRows(bytes: Array[Byte], k: Int): Seq[VideoShingle] = {
    val b = if (bytes == null) Array.empty[Byte] else bytes
    if (b.length >= 3 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      gifShingleRows(b, k)
    else apngShingleRows(b, k)
  }

  /** [[videoShingles]]' mixed-container twin ([[animShingleRows]]) as
    * a DataFrame transform — same stateless per-row projection, same
    * output columns, GIF and APNG blobs in one frame.
    */
  def animShingles(
      df: DataFrame, mediaCol: String, k: Int = 3): DataFrame = {
    val sh = udf((bytes: Array[Byte]) => animShingleRows(bytes, k))
    val keep = df.columns.filter(_ != mediaCol).map(col)
    df.withColumn("__vs", explode(sh(col(mediaCol))))
      .select(keep.toIndexedSeq ++ Seq(col("__vs.t").as("t"),
        col("__vs.fk").as("fk"), col("__vs.sid").as("sid")): _*)
  }

  /** Temporal video fingerprint as a DataFrame transform: one row per
    * k-frame shingle of the first video track (columns `t`, `fk`,
    * `sid` appended; the media column is dropped after the kernel so
    * the exploded rows stay narrow). The whole clip rides on its one
    * blob row, so the kernel is a STATELESS per-row projection — no
    * window, no shuffle, and the same plan on a streaming frame.
    */
  def videoShingles(
      df: DataFrame, mediaCol: String, k: Int = 3): DataFrame = {
    val sh = udf((bytes: Array[Byte]) => videoShingleRows(bytes, k))
    val keep = df.columns.filter(_ != mediaCol).map(col)
    df.withColumn("__vs", explode(sh(col(mediaCol))))
      .select(keep.toIndexedSeq ++ Seq(col("__vs.t").as("t"),
        col("__vs.fk").as("fk"), col("__vs.sid").as("sid")): _*)
  }
}
