package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column operators (north-star extension): image/audio/video
  * payloads as opaque `binary` columns with typed metadata, decoded by
  * REAL pure-JVM codecs ([[MediaCodecs]]: PNM rasters, RIFF/WAVE audio)
  * inside `mapPartitions` batch stages — the Scala analogue of Python's
  * `mapInPandas` batch shape, with per-partition setup (codec contexts)
  * amortized across rows.
  *
  * The test fixture is planted binary media built row-by-row from the
  * driver's `documents` table: each document's ASCII-sanitized text bytes
  * become the pixel/sample payload of a genuine PPM image, WAV file, or
  * concatenated-PPM frame stream (headers and all), constructed with
  * Spark string/binary expressions. Because the payload construction is
  * deterministic arithmetic over the text column, a SQL oracle can
  * recompute every decoded statistic — so the DECODER ITSELF is under the
  * correctness gate: a mis-parsed header width, an off-by-one raster
  * offset, or a mis-walked RIFF chunk shifts the decoded byte stream and
  * breaks the hash.
  *
  * Scale notes: payloads never shuffle (decode stages are map-only);
  * metadata-only plans (mm1) prune the binary column at the scan;
  * decoded outputs carry per-row statistics, never sample arrays.
  */
object Multimodal {

  /** Decoded features: payload/decoded byte counts + fixed-width vector. */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, n_decoded: Long,
      feature: Array[Float], feature_dim: Int)

  /** The codec seam. Implementations must be deterministic per payload.
    * `decodeSamples` returns the raw sample/pixel bytes with ALL container
    * framing (headers, chunk lists, padding) stripped; the feature vector
    * is a histogram over those samples. Counts are exact integers (a
    * float is exact up to 2^24), so any normalization happens in double at
    * the aggregation — which is what keeps the mm2 gate SQL-replicable:
    * integer counts have no accumulation-order sensitivity.
    */
  trait Decoder extends Serializable {
    def featureDim: Int
    /** Decode one payload into raw sample bytes (container stripped). */
    def decodeSamples(kind: String, format: String, payload: Array[Byte]): Array[Byte]
    /** Modulo-bucket byte histogram — the fixed-width feature vector. */
    final def histogram(samples: Array[Byte]): Array[Float] = {
      val f = new Array[Float](featureDim)
      var i = 0
      while (i < samples.length) {
        f(math.floorMod(samples(i).toInt, featureDim)) += 1.0f
        i += 1
      }
      f
    }
    final def decode(kind: String, format: String, payload: Array[Byte]): Array[Float] =
      histogram(decodeSamples(kind, format, payload))
  }

  /** The real decoder: dispatches on declared format to the
    * [[MediaCodecs]] parsers. `ppm`/`pgm` = one PNM raster; `wav` = RIFF
    * walk to the PCM data chunk; `ppms` = concatenated PNM frame stream
    * (frames' rasters concatenated in order). Unknown formats fail loudly
    * — a silent empty decode would vanish rows from the gate.
    */
  final class MediaDecoder(val featureDim: Int = 8) extends Decoder {
    override def decodeSamples(
        kind: String, format: String, payload: Array[Byte]): Array[Byte] = {
      if (payload == null || payload.isEmpty) return Array.emptyByteArray
      format match {
        case "ppm" | "pgm" => MediaCodecs.Pnm.parse(payload).pixels
        case "wav" => MediaCodecs.Wav.parse(payload).data
        case "ppms" =>
          val frames = MediaCodecs.Pnm.parseAll(payload)
          val out = new Array[Byte](frames.iterator.map(_.pixels.length).sum)
          var off = 0
          frames.foreach { f =>
            System.arraycopy(f.pixels, 0, out, off, f.pixels.length)
            off += f.pixels.length
          }
          out
        case other =>
          throw new IllegalArgumentException(s"no codec for format '$other'")
      }
    }
  }

  private def chrC(n: Column): Column = call_function("chr", n)

  /** 4-byte little-endian integer as a codepoint-per-byte string (encoded
    * to real bytes by the final ISO-8859-1 `encode`, which maps codepoints
    * 0-255 to single bytes exactly).
    */
  private def le32(n: Column): Column =
    concat((0 to 3).map(i =>
      chrC(shiftright(n.cast("long"), 8 * i).bitwiseAND(lit(255L)))): _*)

  /** Little-endian integer as a codepoint-per-byte Scala string constant
    * (for the header fields that don't depend on the payload).
    */
  private def leBytes(v: Long, n: Int): String =
    (0 until n).map(i => ((v >> (8 * i)) & 0xff).toChar).mkString

  /** Constant `fmt ` chunk (size word + 16-byte body): PCM (1), mono (1),
    * 8000 Hz, byte rate 8000, block align 1, 8 bits/sample — all
    * little-endian; each codepoint < 256 becomes one latin-1 byte at the
    * final encode.
    */
  private val WavFmtConst =
    leBytes(16, 4) + leBytes(1, 2) + leBytes(1, 2) + leBytes(8000, 4) +
      leBytes(8000, 4) + leBytes(1, 2) + leBytes(8, 2)

  /** Canonical 44-byte RIFF/WAVE header for an 8-bit mono 8 kHz PCM
    * payload of `nb` bytes.
    */
  private def wavHeader(nb: Column): Column = concat(
    lit("RIFF"), le32(nb + lit(36L)), lit("WAVEfmt "),
    lit(WavFmtConst), lit("data"), le32(nb))

  /** Build the planted media table from the driver's documents: REAL
    * binary payloads whose sample bytes are the document's ASCII-sanitized
    * text (one byte per char by construction; the driver corpus is pure
    * ASCII anyway — the strip pins the invariant, and makes every decoded
    * statistic recomputable from the text column by any SQL engine).
    *
    *   - image (doc_id%3=0): P6 PPM, width 4+doc_id%13, height
    *     nb div (3*width) — multi-digit dims exercise real header parsing;
    *   - audio (doc_id%3=1): WAV, 8-bit mono 8 kHz, nb PCM samples;
    *   - video (doc_id%3=2): nb div 192 concatenated 16x4 P6 frames.
    *
    * Metadata columns agree with the embedded binary headers (asserted in
    * MultimodalSpec), so metadata-only plans (mm1) answer without decoding.
    */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x20-\\x7E]", "").as("st"))
      .withColumn("nb", length(col("st")).cast("long"))
      .withColumn("w", (col("doc_id") % 13 + 4).cast("int"))
      .withColumn("h", expr("cast(nb div (3 * w) as int)"))
      .withColumn("frames", expr("nb div 192"))
    val m = col("doc_id") % 3
    val imageStr = concat(
      format_string("P6\n%d %d\n255\n", col("w"), col("h")),
      expr("substring(st, 1, 3 * w * h)"))
    val audioStr = concat(wavHeader(col("nb")), col("st"))
    val videoStr = when(col("frames") > 0,
      expr("array_join(transform(sequence(0L, frames - 1), " +
        "i -> concat('P6\\n16 4\\n255\\n', substring(st, cast(i * 192 + 1 as int), 192))), '')"))
      .otherwise(lit(""))
    d.select(
      col("doc_id").as("media_id"),
      element_at(typedlit(Seq("image", "audio", "video")), m.cast("int") + 1).as("kind"),
      element_at(typedlit(Seq("ppm", "wav", "ppms")), m.cast("int") + 1).as("format"),
      encode(when(m === 0, imageStr).when(m === 1, audioStr).otherwise(videoStr),
        "ISO-8859-1").as("payload"),
      when(m === 0, col("w")).when(m === 2, lit(16)).as("width"),
      when(m === 0, col("h")).when(m === 2, lit(4)).as("height"),
      when(m === 1, expr("nb div 8"))
        .when(m === 2, col("frames") * 40L).as("duration_ms"))
  }

  /** Feature extraction: mapPartitions batch over payloads — decode once
    * per row, payload column pruned from the output.
    */
  def extractFeatures(media: DataFrame, decoder: Decoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val pruned = media.select("media_id", "kind", "format", "payload")
    pruned.mapPartitions { rows =>
      // per-partition setup happens here (codec contexts etc.)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val samples = decoder.decodeSamples(
          r.getAs[String]("kind"), r.getAs[String]("format"), payload)
        MediaFeatures(
          r.getAs[Long]("media_id"), r.getAs[String]("kind"),
          if (payload == null) 0L else payload.length.toLong,
          samples.length.toLong,
          decoder.histogram(samples), decoder.featureDim)
      }
    }
  }

  /** Metadata-only profile: never touches the payload bytes — the parquet
    * scan prunes the binary column (asserted in MultimodalSpec).
    */
  def metadataProfile(media: DataFrame): DataFrame =
    media.groupBy("kind", "format")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("duration_ms"), lit(0L))).as("total_duration_ms"))
      .orderBy("kind", "format")

  /** Oracle query: metadata profile over the planted media table. */
  def mediaProfile(spark: SparkSession, dir: String): DataFrame =
    metadataProfile(syntheticMedia(spark, dir))

  /** Oracle query: full decode through the real codecs, aggregated per
    * kind. `decoded_bytes` counts ONLY raster/PCM sample bytes —
    * `total_bytes - decoded_bytes` is exactly the container framing, so
    * the gate pins both the decoded stream and where every header byte
    * ends. Bucket-0 counts sum exactly (integers); the one double
    * division per output row happens at the very end.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    extractFeatures(syntheticMedia(spark, dir), new MediaDecoder(8))
      .groupBy($"kind")
      .agg(count(lit(1)).as("n"),
        sum(element_at($"feature", 1).cast("long")).as("f0_total"),
        sum($"n_decoded").as("decoded_bytes"),
        sum($"n_bytes").as("total_bytes"))
      .select($"kind", $"n", $"f0_total", $"decoded_bytes", $"total_bytes",
        round($"f0_total".cast("double") / $"decoded_bytes", 6).as("f0_share"))
      .orderBy($"kind")
  }

  /** One parsed frame row for [[frameSample]]. */
  final case class FrameRow(
      media_id: Long, frame_idx: Long, frame_w: Int, frame_h: Int,
      frame_bytes: Long, frame_fp: String)

  /** Per-image stats row for [[imageStats]]. */
  final case class ImageStatsRow(
      media_id: Long, width: Int, height: Int, channels: Int,
      maxval: Int, n_sample_bytes: Long, sum_bytes: Long)

  /** Per-clip stats row for [[audioStats]]. */
  final case class AudioStatsRow(
      media_id: Long, audio_format: Int, channels: Int, sample_rate: Int,
      bits_per_sample: Int, n_samples: Long, duration_ms: Long,
      sum_bytes: Long, sum_sq_dev: Long)

  /** Frame sampling: each video payload is a REAL concatenated-PNM
    * stream; the codec walks frame headers to find each raster, emitting
    * one row per frame with its parsed dimensions and an md5 fingerprint
    * of the PIXEL bytes only — the canonical one-row-to-many-frames stage
    * of a video pipeline, map-only (no shuffle), payload pruned from the
    * output. A misaligned parse shifts every fingerprint, so the DuckDB
    * windows over the text column gate the frame walker exactly.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir)
      .filter(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, payload) =>
          MediaCodecs.Pnm.parseAll(payload).iterator.zipWithIndex.map {
            case (img, i) =>
              val hex = md.digest(img.pixels).map(b => f"$b%02x").mkString
              FrameRow(id, i.toLong, img.width, img.height,
                img.pixels.length.toLong, hex)
          }
        }
      }
      .toDF()
      .orderBy("media_id", "frame_idx")
  }

  /** Image statistics from REAL header parsing: width/height/maxval come
    * out of the PPM header bytes (not metadata columns), the mean sample
    * value from the raster — the decode-and-profile stage of an image
    * pipeline. The oracle recomputes the dims arithmetically, so a parser
    * that misreads a multi-digit width fails the gate.
    */
  def imageStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir)
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = MediaCodecs.Pnm.parse(payload)
          var s = 0L
          var i = 0
          while (i < img.pixels.length) { s += (img.pixels(i) & 0xff); i += 1 }
          ImageStatsRow(id, img.width, img.height, img.channels, img.maxVal,
            img.pixels.length.toLong, s)
        }
      }
      .select(col("media_id"), col("width"), col("height"), col("channels"),
        col("maxval"), col("n_sample_bytes"),
        when(col("n_sample_bytes") > 0,
          round(col("sum_bytes").cast("double") / col("n_sample_bytes"), 6))
          .as("mean_byte"))
      .orderBy("media_id")
  }

  /** mm5 — audio statistics from REAL RIFF/WAVE chunk walking: the fmt
    * fields (PCM tag, channel count, rate, bit depth) come out of the
    * binary header, sample count and duration derive from the parsed
    * `data` chunk, and the signal stats — mean sample value and RMS
    * deviation from the 8-bit midpoint (the loudness proxy an audio
    * curation pass thresholds on) — fold over the raw PCM bytes. The
    * audio analogue of mm4: the oracle recomputes everything from the
    * text column (one byte per char by construction), so a mis-walked
    * chunk list or off-by-one data offset breaks the hash.
    *
    * Scale: map-only decode; sums are exact integers, and the two
    * divisions and the sqrt are single correctly-rounded IEEE ops under
    * the 6-decimal grid.
    */
  def audioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir)
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val wav = MediaCodecs.Wav.parse(payload)
          var s = 0L
          var sq = 0L
          var i = 0
          while (i < wav.data.length) {
            val v = wav.data(i) & 0xff
            s += v
            val d = v - 128
            sq += d.toLong * d
            i += 1
          }
          AudioStatsRow(id, wav.audioFormat, wav.channels, wav.sampleRate,
            wav.bitsPerSample, wav.nSamples, wav.durationMs, s, sq)
        }
      }
      .select(col("media_id"), col("audio_format"), col("channels"),
        col("sample_rate"), col("bits_per_sample"), col("n_samples"),
        col("duration_ms"),
        when(col("n_samples") > 0,
          round(col("sum_bytes").cast("double") / col("n_samples"), 6))
          .as("mean_sample"),
        when(col("n_samples") > 0,
          round(sqrt(col("sum_sq_dev").cast("double") / col("n_samples")), 6))
          .as("rms_dev"))
      .orderBy("media_id")
  }

  /** One raw inter-frame diff row for [[keyframes]]. */
  final case class KeyframeRaw(
      media_id: Long, frame_idx: Long, diff_bytes: Long, sum_abs_diff: Long)

  /** mm6 — keyframe detection over the parsed frame stream: each frame's
    * mean absolute byte difference against its predecessor (computed over
    * the overlapping raster prefix), with frames above the change
    * threshold — plus frame 0, every stream's anchor — marked keyframes.
    * The shot-boundary / scene-change pass a video curation pipeline runs
    * to pick which frames feed the (expensive) captioning or embedding
    * stage; everything downstream reads only keyframes.
    *
    * Scale: map-only like mm3 — frames of one payload are adjacent, so
    * the pairwise walk never crosses rows. The oracle recomputes every
    * byte difference from the text column. Threshold 28.0 sits at the
    * observed inter-frame diff median for ASCII payloads, so both
    * verdicts appear in the gated output.
    */
  def keyframes(spark: SparkSession, dir: String): DataFrame =
    keyframesOf(syntheticMedia(spark, dir), spark)

  private[graft] def keyframesOf(media: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    media
      .filter(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val frames = MediaCodecs.Pnm.parseAll(payload)
          frames.iterator.zipWithIndex.map { case (img, i) =>
            if (i == 0) KeyframeRaw(id, 0L, 0L, 0L)
            else {
              val prev = frames(i - 1).pixels
              val cur = img.pixels
              val n = math.min(prev.length, cur.length)
              var s = 0L
              var j = 0
              while (j < n) {
                s += math.abs((cur(j) & 0xff) - (prev(j) & 0xff))
                j += 1
              }
              KeyframeRaw(id, i.toLong, n.toLong, s)
            }
          }
        }
      }
      .select(col("media_id"), col("frame_idx"),
        when(col("frame_idx") > 0,
          round(col("sum_abs_diff").cast("double") / col("diff_bytes"), 6))
          .as("mean_abs_diff"))
      .withColumn("is_keyframe",
        when(col("frame_idx") === 0, lit(true))
          .otherwise(col("mean_abs_diff") > 28.0))
      .orderBy("media_id", "frame_idx")
  }

  /** One resized-image row for [[imageResize]]. */
  final case class ResizeRow(
      media_id: Long, width: Int, height: Int, r_width: Int, r_height: Int,
      n_resized_bytes: Long, sum_bytes: Long, resized_fp: String)

  /** mm7 — nearest-neighbour 2× downscale of the decoded rasters: the
    * resize stage every image-training pipeline runs before batching
    * (thumbnailing for dedup fingerprints, normalizing to the model's
    * input grid). Each output pixel (r, c) copies source pixel
    * (2r, 2c) — ceil-halved dims so odd edges keep their last row/col —
    * and the gate carries the resized dims, the mean resized byte and an
    * md5 of the RESIZED raster, which the oracle recomputes byte-for-
    * byte from the text payload: a wrong stride or channel offset shifts
    * every fingerprint.
    *
    * Scale: map-only; rows carry statistics and a 32-char fingerprint,
    * never rasters.
    */
  def imageResize(spark: SparkSession, dir: String): DataFrame =
    resizeForTest(syntheticMedia(spark, dir), spark)

  private[graft] def resizeForTest(media: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    media
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          val img = MediaCodecs.Pnm.parse(payload)
          val w = img.width
          val h = img.height
          val rw = (w + 1) / 2
          val rh = (h + 1) / 2
          val out = new Array[Byte](3 * rw * rh)
          var i = 0
          var r = 0
          while (r < rh) {
            var c = 0
            while (c < rw) {
              val src = ((r * 2) * w + c * 2) * 3
              out(i) = img.pixels(src); out(i + 1) = img.pixels(src + 1)
              out(i + 2) = img.pixels(src + 2)
              i += 3; c += 1
            }
            r += 1
          }
          var s = 0L
          var j = 0
          while (j < out.length) { s += (out(j) & 0xff); j += 1 }
          val hex = md.digest(out).map(b => f"$b%02x").mkString
          ResizeRow(id, w, h, rw, rh, out.length.toLong, s, hex)
        }
      }
      .select(col("media_id"), col("width"), col("height"),
        col("r_width"), col("r_height"), col("n_resized_bytes"),
        when(col("n_resized_bytes") > 0,
          round(col("sum_bytes").cast("double") / col("n_resized_bytes"), 6))
          .as("mean_byte"),
        col("resized_fp"))
      .orderBy("media_id")
  }

  final case class DhashRow(media_id: Long, dhash: Long)

  /** mm8 — perceptual-hash image dedup: a 56-bit dHash per image (8×8
    * nearest-neighbour grayscale thumbnail, each bit = "is this pixel
    * darker than its right neighbour", 7 comparisons × 8 rows — 56 bits
    * so the key stays positive in a signed 64-bit lane on both engines),
    * then the verified near-duplicate pairs at Hamming ≤ 7. This is the
    * image-modality twin of dd4's SimHash: visually-near-identical
    * images collide on most comparison bits even when their byte
    * payloads differ everywhere.
    *
    * Candidate generation is banded exactly like dd3/dd4: 8 bands × 7
    * bits; by pigeonhole ANY pair with ≤ 7 differing bits shares at
    * least one untouched band (7 < 8), so band routing has EXACT recall
    * at this threshold and the oracle can gate against all-pairs
    * Hamming. Scale shape: dHash is map-only (decode → thumbnail → 56
    * comparisons inside the existing mapPartitions decode pass); the
    * self-join runs per (band, key) bucket, never all-pairs; at larger
    * corpora the band width is the knob (wider bands + multiprobe, the
    * sim2 convention) and the hot-bucket cap rule (dd3's) applies
    * unchanged.
    */
  def imageNearDups(spark: SparkSession, dir: String): DataFrame =
    imageNearDupsOf(syntheticMedia(spark, dir), spark)

  private[graft] def imageNearDupsOf(media: DataFrame,
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    val hashes = media
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val img = MediaCodecs.Pnm.parse(payload)
          val w = img.width
          val h = img.height
          if (h < 1 || w < 1) Iterator.empty
          else {
            val g = new Array[Int](64)
            var i = 0
            while (i < 64) {
              val sr = (i / 8) * h / 8
              val sc = (i % 8) * w / 8
              val o = (sr * w + sc) * 3
              g(i) = ((img.pixels(o) & 0xff) + (img.pixels(o + 1) & 0xff) +
                (img.pixels(o + 2) & 0xff)) / 3
              i += 1
            }
            var bits = 0L
            var j = 0
            while (j < 56) {
              val r = j / 7
              val c = j % 7
              if (g(r * 8 + c) < g(r * 8 + c + 1)) bits |= 1L << j
              j += 1
            }
            Iterator.single(DhashRow(id, bits))
          }
        }
      }
      .toDF()
    // band key = the 7 bits starting at band*7
    val keyed = hashes.select(col("media_id"), col("dhash"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bkey", expr("shiftright(dhash, 7 * band) % 128"))
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"),
        col("y.media_id").as("media_b"),
        col("x.dhash").as("da"), col("y.dhash").as("db"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("da").bitwiseXOR(col("db"))))
      .filter(col("hamming") <= 7)
      .select(col("media_a"), col("media_b"),
        col("hamming").cast("long").as("hamming"))
      .orderBy("media_a", "media_b")
  }

  final case class ResampleRow(
      media_id: Long, n_samples: Long, n_out: Long, sum_out: Long,
      out_fp: String)

  /** mm9 — audio downsample: 2× decimation of the PCM stream (keep every
    * other sample — the 8 kHz → 4 kHz preprocessing cut a speech
    * pipeline runs before featurization; mm7's resize for the audio
    * modality). The gate carries output sample counts, the mean kept
    * byte and an md5 of the DECIMATED stream, recomputed byte-for-byte
    * by the oracle from the text payload — an off-by-one phase error or
    * stride bug shifts every fingerprint. Map-only like every decode
    * stage; rows carry statistics and a 32-char fingerprint, never PCM.
    */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir)
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          val wav = MediaCodecs.Wav.parse(payload)
          val n = wav.data.length
          val out = new Array[Byte]((n + 1) / 2)
          var i = 0
          var s = 0L
          while (i < out.length) {
            out(i) = wav.data(2 * i)
            s += out(i) & 0xff
            i += 1
          }
          val hex = md.digest(out).map(b => f"$b%02x").mkString
          ResampleRow(id, n.toLong, out.length.toLong, s, hex)
        }
      }
      .select(col("media_id"), col("n_samples"), col("n_out"),
        when(col("n_out") > 0,
          round(col("sum_out").cast("double") / col("n_out"), 6))
          .as("mean_out"),
        col("out_fp"))
      .orderBy("media_id")
  }

  final case class VadFrameRow(media_id: Long, frame_idx: Long, sq: Long)

  /** 10 ms VAD frames: 80 samples at the corpus's planted 8 kHz rate. */
  private val VadFrameSamples = 80
  private val VadFrameMs = 10L

  /** Energy gate sitting at the observed frame-RMS median (41–49 across
    * the corpus), so both verdicts appear in the gated output — mm6's
    * threshold convention. Frame energies are carried as EXACT integer
    * MICRO-rms (`round(rms·10⁶)` — sim7's integer micro-unit convention):
    * the threshold compare and the segment-mean sum are integer-exact on
    * both engines, leaving sqrt and one final division as the only float
    * ops (single correctly-rounded IEEE ops — no accumulation-order
    * sensitivity; an avg over per-frame ROUNDED doubles measurably
    * straddled a half-ulp at sf0.1).
    */
  private val VadThresholdMicroRms = 45000000L

  /** mm11 — energy-based voice-activity segments over the PCM stream:
    * chop each clip into 10 ms frames (80 samples at 8 kHz), score each
    * frame's RMS deviation from the 8-bit midpoint (mm5's loudness
    * proxy), and merge consecutive above-threshold frames into speech
    * segments — one row per segment with its frame span, millisecond
    * span and mean energy. The segmentation an audio curation pipeline
    * runs FIRST: everything expensive downstream (transcription,
    * speaker embedding) reads only active segments, so the VAD's recall
    * bounds the whole pipeline. Tail samples short of a full frame are
    * truncated (mm10's edge convention); a clip with no active frames
    * emits no rows.
    *
    * Scale: map-only decode emitting one row per frame, then
    * gaps-and-islands (`frame_idx − row_number()` island keys) in a
    * single shuffle keyed on media_id. Frame energy sums are exact
    * integers carried as micro-rms units end-to-end
    * ([[VadThresholdMicroRms]]).
    *
    * The oracle recomputes every frame's energy from the text column
    * (one byte per char by construction), so a mis-strided frame walk
    * or an off-by-one island boundary breaks the hash.
    */
  def vadSegments(spark: SparkSession, dir: String): DataFrame =
    vadSegmentsOf(syntheticMedia(spark, dir), spark)

  /** mm11 over an explicit media frame — MultimodalSpec plants a
    * loud–quiet–loud clip (two segments split exactly at the quiet
    * island) and an all-quiet clip (no rows).
    */
  private[graft] def vadSegmentsOf(media: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val fr = media
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val wav = MediaCodecs.Wav.parse(payload)
          val nf = wav.data.length / VadFrameSamples
          (0 until nf).iterator.map { f =>
            var sq = 0L
            var j = 0
            while (j < VadFrameSamples) {
              val d = (wav.data(f * VadFrameSamples + j) & 0xff) - 128
              sq += d.toLong * d
              j += 1
            }
            VadFrameRow(id, f.toLong, sq)
          }
        }
      }
      .toDF()
    val act = fr
      .withColumn("rms_u",
        round(sqrt(col("sq").cast("double") / VadFrameSamples) * 1e6)
          .cast("long"))
      .filter(col("rms_u") > VadThresholdMicroRms)
    val wOrd = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    val seg = act
      .withColumn("grp", col("frame_idx") - row_number().over(wOrd))
      .groupBy(col("media_id"), col("grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        round(sum(col("rms_u")).cast("double") /
          (lit(1e6) * count(lit(1))), 6).as("mean_rms"))
    seg
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("media_id")).orderBy(col("start_frame")))
        .cast("long"))
      .select(col("media_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"),
        (col("start_frame") * VadFrameMs).as("start_ms"),
        ((col("end_frame") + 1L) * VadFrameMs).as("end_ms"),
        col("mean_rms"))
      .orderBy("media_id", "seg_idx")
  }

  final case class AudioFpRow(
      media_id: Long, n_frames: Long, n_bits: Long, fp: Long)

  /** mm12 — audio fingerprinting: the energy-delta sign signature (bit i
    * set iff frame i+1 is louder than frame i, over the clip's first 32
    * VAD frames) — the Haitsma–Kalker / Shazam-family shape reduced to
    * its deterministic core: a time-warp-tolerant, amplitude-ordinal
    * fingerprint that matches re-encoded or re-leveled copies of the
    * same recording. Clips grouped by (n_bits, fp) with the group's
    * minimum media id as canonical — dd1's exact-dedup contract on the
    * AUDIO modality (mm8 is the image analogue; the near-match extension
    * is mm8's banded Hamming walk, documented not duplicated).
    *
    * Scale: map-only decode emitting one row per clip, then one window
    * over the fingerprint key (dd1's shape). Everything is exact integer
    * arithmetic; the oracle recomputes every energy bit from the text
    * payload.
    */
  def audioFingerprint(spark: SparkSession, dir: String): DataFrame =
    audioFingerprintOf(syntheticMedia(spark, dir), spark)

  /** mm12 over an explicit media frame — MultimodalSpec plants a clip
    * and its re-leveled copy (same ordinal pattern at different volume →
    * same fingerprint, one group) against a reversed-profile clip
    * (different fingerprint).
    */
  private[graft] def audioFingerprintOf(media: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = media
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val wav = MediaCodecs.Wav.parse(payload)
          val nf = wav.data.length / VadFrameSamples
          val en = new Array[Long](nf)
          var f = 0
          while (f < nf) {
            var sq = 0L
            var j = 0
            while (j < VadFrameSamples) {
              val d = (wav.data(f * VadFrameSamples + j) & 0xff) - 128
              sq += d.toLong * d
              j += 1
            }
            en(f) = sq
            f += 1
          }
          val nBits = math.min(math.max(nf - 1, 0), 31)
          var fp = 0L
          var i = 0
          while (i < nBits) {
            if (en(i + 1) > en(i)) fp |= 1L << i
            i += 1
          }
          AudioFpRow(id, nf.toLong, nBits.toLong, fp)
        }
      }
      .toDF()
    val w = Window.partitionBy(col("n_bits"), col("fp"))
    rows
      .withColumn("canonical_id", min(col("media_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("media_id"), col("n_frames"), col("n_bits"), col("fp"),
        col("canonical_id"), col("group_size"))
      .orderBy("media_id")
  }

  final case class PatchSrcRow(
    media_id: Long, width: Int, height: Int, bytes: Seq[Int])

  /** mm10 — ViT-style patchification: split each decoded raster into
    * non-overlapping 2×2 pixel patches (edge remainders truncated, the
    * standard ViT convention) and emit per-patch token statistics —
    * byte count, mean and max over the patch's interleaved RGB bytes.
    * This is the image→token-sequence step a multimodal training
    * pipeline runs between decode and packing: the (media_id,
    * patch_row, patch_col) grid IS the patch-token coordinate system,
    * and the per-patch stats stand in for the projection a real encoder
    * would apply (the linear patch embedding is a model weight, not an
    * engine op). The oracle recomputes the grid from the text-derived
    * payload, so a wrong raster offset or patch index breaks the hash.
    *
    * Scale: map-only decode, then a posexplode into an aggregate keyed on
    * the patch grid; payloads never shuffle. Sums are exact integers; the
    * one division lands on the 6-grid.
    */
  def patchify(spark: SparkSession, dir: String): DataFrame =
    patchifyOf(syntheticMedia(spark, dir), spark)

  /** mm10 over an explicit media frame — MultimodalSpec plants a 4×3
    * raster with position-coded pixels: the truncated third row must
    * vanish and each patch's mean/max must match the hand grid.
    */
  private[graft] def patchifyOf(media: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val src = media
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = MediaCodecs.Pnm.parse(payload)
          PatchSrcRow(id, img.width, img.height,
            img.pixels.toSeq.map(_ & 0xff))
        }
      }
      .toDF()
    src
      .select(col("media_id"), col("width"), col("height"),
        posexplode(col("bytes")).as(Seq("k", "v")))
      // all grid arithmetic in explicit floor-division (Spark `/` is
      // double division; floor of an exact small-int quotient is exact)
      .withColumn("p", floor(col("k") / 3))
      .withColumn("y", floor(col("p") / col("width")))
      .withColumn("x", col("p") % col("width"))
      .filter(col("y") < lit(2) * floor(col("height") / 2) &&
        col("x") < lit(2) * floor(col("width") / 2))
      .groupBy(col("media_id"), floor(col("y") / 2).as("patch_row"),
        floor(col("x") / 2).as("patch_col"))
      .agg(count(lit(1)).as("n_bytes"),
        round(sum(col("v")).cast("double") / count(lit(1)), 6)
          .as("mean_byte"),
        max(col("v")).cast("long").as("max_byte"))
      .orderBy("media_id", "patch_row", "patch_col")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm12_audio_fingerprint" -> audioFingerprint,
    "mm11_vad_segments" -> vadSegments,
    "mm10_patchify" -> patchify,
    "mm9_audio_resample" -> audioResample,
    "mm8_image_neardups" -> imageNearDups,
    "mm1_media_profile" -> mediaProfile,
    "mm2_media_features" -> mediaFeatures,
    "mm3_frame_sample" -> frameSample,
    "mm4_image_stats" -> imageStats,
    "mm5_audio_stats" -> audioStats,
    "mm6_keyframes" -> keyframes,
    "mm7_image_resize" -> imageResize
  )

  val oracle: Map[String, String] = Map(
    // Frame energies and every fingerprint bit recomputed from the text;
    // group stats re-derived with a window over the same key.
    "mm12_audio_fingerprint" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 1),
        | f AS (SELECT media_id, st,
        |    CAST(length(st) // 80 AS BIGINT) AS n_frames FROM s),
        | en AS (
        |  SELECT media_id, n_frames,
        |    list_transform(range(0, n_frames), fi ->
        |      list_aggregate(list_transform(range(1, 81),
        |        j -> (ord(st[CAST(fi * 80 + j AS BIGINT)]) - 128)
        |           * (ord(st[CAST(fi * 80 + j AS BIGINT)]) - 128)),
        |        'sum')) AS e
        |  FROM f),
        | fp AS (
        |  SELECT media_id, n_frames,
        |    least(greatest(n_frames - 1, 0), 31) AS n_bits,
        |    coalesce(CAST(list_sum(list_transform(
        |      range(0, least(greatest(n_frames - 1, 0), 31)),
        |      i -> CASE WHEN e[CAST(i + 2 AS BIGINT)]
        |                   > e[CAST(i + 1 AS BIGINT)]
        |        THEN (1::BIGINT << CAST(i AS INTEGER))
        |        ELSE 0::BIGINT END)) AS BIGINT), 0) AS fp
        |  FROM en)
        |SELECT media_id, n_frames, n_bits, fp,
        |  min(media_id) OVER (PARTITION BY n_bits, fp) AS canonical_id,
        |  CAST(count(*) OVER (PARTITION BY n_bits, fp) AS BIGINT)
        |    AS group_size
        |FROM fp
        |ORDER BY media_id""".stripMargin,
    // Frame energies recomputed from the text: frame f covers chars
    // [f*80+1, f*80+80]; islands re-derived with the same row_number
    // difference, so a shifted frame or boundary breaks the hash.
    "mm11_vad_segments" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 1),
        | f AS (SELECT media_id, st, length(st) // 80 AS frames
        |       FROM s WHERE length(st) >= 80),
        | fr AS (SELECT media_id, st, unnest(range(0, frames)) AS frame_idx
        |        FROM f),
        | r AS (
        |  SELECT media_id, frame_idx,
        |    CAST(round(sqrt(CAST(list_aggregate(list_transform(range(1, 81),
        |      j -> (ord(st[CAST(frame_idx * 80 + j AS BIGINT)]) - 128)
        |         * (ord(st[CAST(frame_idx * 80 + j AS BIGINT)]) - 128)),
        |      'sum') AS DOUBLE) / 80) * 1e6) AS BIGINT) AS rms_u
        |  FROM fr),
        | act AS (
        |  SELECT media_id, frame_idx, rms_u,
        |    frame_idx - row_number() OVER (
        |      PARTITION BY media_id ORDER BY frame_idx) AS grp
        |  FROM r WHERE rms_u > 45000000),
        | seg AS (
        |  SELECT media_id, grp,
        |    min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
        |    count(*) AS n_frames,
        |    round(CAST(sum(rms_u) AS DOUBLE) / (1e6 * count(*)), 6)
        |      AS mean_rms
        |  FROM act GROUP BY 1, 2)
        |SELECT media_id,
        |  CAST(row_number() OVER (
        |    PARTITION BY media_id ORDER BY start_frame) AS BIGINT) AS seg_idx,
        |  start_frame, end_frame, n_frames,
        |  start_frame * 10 AS start_ms, (end_frame + 1) * 10 AS end_ms,
        |  mean_rms
        |FROM seg
        |ORDER BY media_id, seg_idx""".stripMargin,
    "mm10_patchify" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 0),
        | d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |    CAST(length(st) // (3 * (4 + doc_id % 13)) AS INTEGER) AS height,
        |    st
        |  FROM s),
        | b AS (
        |  SELECT media_id, width, height, st,
        |    unnest(range(1, 3 * width * height + 1)) AS i
        |  FROM d),
        | v AS (
        |  SELECT media_id, width, height,
        |    ((i - 1) // 3) // width AS y,
        |    ((i - 1) // 3) % width AS x,
        |    ord(st[i]) AS v
        |  FROM b),
        | f AS (
        |  SELECT * FROM v
        |  WHERE y < 2 * (height // 2) AND x < 2 * (width // 2))
        |SELECT media_id,
        |  CAST(y // 2 AS BIGINT) AS patch_row,
        |  CAST(x // 2 AS BIGINT) AS patch_col,
        |  count(*) AS n_bytes,
        |  round(CAST(sum(v) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_byte,
        |  CAST(max(v) AS BIGINT) AS max_byte
        |FROM f GROUP BY media_id, y // 2, x // 2
        |ORDER BY media_id, patch_row, patch_col""".stripMargin,
    "mm9_audio_resample" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 1),
        | d AS (
        |  SELECT media_id, CAST(length(st) AS BIGINT) AS n_samples,
        |    coalesce(list_aggregate(list_transform(
        |      range(0, (length(st) + 1) // 2),
        |      i -> substr(st, CAST(2 * i + 1 AS BIGINT), 1)),
        |      'string_agg', ''), '') AS dec
        |  FROM s)
        |SELECT media_id, n_samples,
        |  CAST(length(dec) AS BIGINT) AS n_out,
        |  CASE WHEN length(dec) > 0 THEN
        |    round(CAST(list_aggregate(list_transform(
        |      range(1, length(dec) + 1), j -> ord(dec[j])), 'sum')
        |      AS DOUBLE) / length(dec), 6)
        |  END AS mean_out,
        |  md5(dec) AS out_fp
        |FROM d
        |ORDER BY media_id""".stripMargin,
    // mm8: the thumbnail grid, grayscale and comparison bits recompute
    // from the text payload at the same integer offsets the JVM parser
    // reads; the pair set is ALL-PAIRS Hamming <= 7 (banding has exact
    // recall at this threshold by pigeonhole, so the sets must agree).
    "mm8_image_neardups" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 0),
        | d AS (
        |  SELECT media_id,
        |    CAST(4 + media_id % 13 AS INTEGER) AS w,
        |    CAST(length(st) // (3 * (4 + media_id % 13)) AS INTEGER) AS h,
        |    st
        |  FROM s),
        | g AS (
        |  SELECT media_id,
        |    list_transform(range(0, 64), i ->
        |      (ord(substr(st, CAST(((((i // 8) * h) // 8) * w
        |          + (((i % 8) * w) // 8)) * 3 + 1 AS BIGINT), 1))
        |     + ord(substr(st, CAST(((((i // 8) * h) // 8) * w
        |          + (((i % 8) * w) // 8)) * 3 + 2 AS BIGINT), 1))
        |     + ord(substr(st, CAST(((((i // 8) * h) // 8) * w
        |          + (((i % 8) * w) // 8)) * 3 + 3 AS BIGINT), 1))) // 3)
        |      AS gr
        |  FROM d WHERE h >= 1),
        | hsh AS (
        |  SELECT media_id,
        |    list_aggregate(list_transform(range(0, 56), j ->
        |      CASE WHEN gr[CAST((j // 7) * 8 + (j % 7) + 1 AS BIGINT)]
        |              < gr[CAST((j // 7) * 8 + (j % 7) + 2 AS BIGINT)]
        |           THEN 1::BIGINT << j ELSE 0 END), 'sum') AS dhash
        |  FROM g)
        |SELECT a.media_id AS media_a, b.media_id AS media_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM hsh a JOIN hsh b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
        |ORDER BY media_a, media_b""".stripMargin,
    // Durations derive from the planted payload sizes: nb samples at
    // 8 kHz = nb/8 ms of audio; nb div 192 frames at 25 fps = 40 ms each.
    "mm1_media_profile" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    length(regexp_replace(text, '[^\x20-\x7E]', '', 'g')) AS nb
        |  FROM documents)
        |SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CASE doc_id % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' ELSE 'ppms' END AS format,
        |  count(*) AS n,
        |  CAST(sum(CASE doc_id % 3 WHEN 1 THEN nb // 8
        |           WHEN 2 THEN (nb // 192) * 40 ELSE 0 END) AS BIGINT) AS total_duration_ms
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY kind, format""".stripMargin,
    // The real decoders' byte streams, recomputed from the text column:
    // decoded bytes are the format's sample region (full pixel rows for
    // P6, the whole PCM payload for WAV, whole 192-byte frames for the
    // stream); header bytes are the PPM header ("P6\n<w> <h>\n255\n" =
    // 9 + digits(w) + digits(h)), the canonical 44-byte WAV header, or 12
    // bytes per stream frame.
    "mm2_media_features" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents),
        | d AS (
        |  SELECT doc_id, kind, st,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 3 * (4 + doc_id % 13) * (length(st) // (3 * (4 + doc_id % 13)))
        |      WHEN 1 THEN length(st)
        |      ELSE 192 * (length(st) // 192) END AS dec,
        |    CASE doc_id % 3
        |      WHEN 0 THEN 9 + length(CAST(4 + doc_id % 13 AS VARCHAR))
        |                    + length(CAST(length(st) // (3 * (4 + doc_id % 13)) AS VARCHAR))
        |      WHEN 1 THEN 44
        |      ELSE 12 * (length(st) // 192) END AS hdr
        |  FROM s),
        | h AS (
        |  SELECT kind, dec, dec + hdr AS total,
        |    len(list_filter(range(1, dec + 1), i -> ord(st[i]) % 8 = 0)) AS f0
        |  FROM d)
        |SELECT kind, count(*) AS n, CAST(sum(f0) AS BIGINT) AS f0_total,
        |  CAST(sum(dec) AS BIGINT) AS decoded_bytes,
        |  CAST(sum(total) AS BIGINT) AS total_bytes,
        |  round(CAST(sum(f0) AS DOUBLE) / sum(dec), 6) AS f0_share
        |FROM h
        |GROUP BY kind
        |ORDER BY kind""".stripMargin,
    // Frames recomputed from the text column: frame i's raster is chars
    // [i*192+1, i*192+192], and the md5 fingerprints agree byte-for-byte
    // because the payload is one byte per character.
    "mm3_frame_sample" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 2),
        | f AS (SELECT media_id, st, length(st) // 192 AS frames
        |       FROM s WHERE length(st) >= 192),
        | fr AS (SELECT media_id, st, unnest(range(0, frames)) AS frame_idx FROM f)
        |SELECT media_id, frame_idx, 16 AS frame_w, 4 AS frame_h,
        |  CAST(192 AS BIGINT) AS frame_bytes,
        |  md5(substr(st, CAST(frame_idx * 192 + 1 AS BIGINT), 192)) AS frame_fp
        |FROM fr
        |ORDER BY media_id, frame_idx""".stripMargin,
    // Dims recomputed arithmetically (width 4+doc_id%13, height
    // nb div 3w); the Spark side reads them out of the binary header.
    "mm4_image_stats" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 0),
        | d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |    CAST(length(st) // (3 * (4 + doc_id % 13)) AS INTEGER) AS height, st
        |  FROM s)
        |SELECT media_id, width, height, 3 AS channels, 255 AS maxval,
        |  CAST(3 * width * height AS BIGINT) AS n_sample_bytes,
        |  CASE WHEN height = 0 THEN NULL ELSE
        |    round(CAST(list_aggregate(list_transform(range(1, 3 * width * height + 1),
        |      i -> ord(st[i])), 'sum') AS DOUBLE) / (3 * width * height), 6)
        |  END AS mean_byte
        |FROM d
        |ORDER BY media_id""".stripMargin,
    // fmt fields are the planted constants (PCM mono 8 kHz 8-bit); sample
    // count/duration and the PCM byte folds recompute from the text.
    "mm5_audio_stats" ->
      """WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 1),
        | d AS (
        |  SELECT doc_id AS media_id, st, CAST(length(st) AS BIGINT) AS n
        |  FROM s),
        | a AS (
        |  SELECT media_id, n,
        |    CAST(list_aggregate(list_transform(range(1, n + 1),
        |      i -> ord(st[i])), 'sum') AS BIGINT) AS sb,
        |    CAST(list_aggregate(list_transform(range(1, n + 1),
        |      i -> (ord(st[i]) - 128) * (ord(st[i]) - 128)), 'sum') AS BIGINT) AS sq
        |  FROM d)
        |SELECT media_id, 1 AS audio_format, 1 AS channels,
        |  8000 AS sample_rate, 8 AS bits_per_sample, n AS n_samples,
        |  n // 8 AS duration_ms,
        |  CASE WHEN n > 0 THEN round(CAST(sb AS DOUBLE) / n, 6) END AS mean_sample,
        |  CASE WHEN n > 0 THEN round(sqrt(CAST(sq AS DOUBLE) / n), 6) END AS rms_dev
        |FROM a
        |ORDER BY media_id""".stripMargin,
    // Inter-frame byte diffs recomputed from the text: frame i's raster
    // is chars [i*192+1, i*192+192], the mean |cur - prev| over the 192
    // positions matches the codec walk byte-for-byte.
    "mm6_keyframes" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 2),
        | f AS (SELECT media_id, st, length(st) // 192 AS frames
        |       FROM s WHERE length(st) >= 192),
        | fr AS (SELECT media_id, st, unnest(range(0, frames)) AS frame_idx FROM f),
        | d AS (
        |  SELECT media_id, frame_idx,
        |    CASE WHEN frame_idx > 0 THEN
        |      round(CAST(list_aggregate(list_transform(range(1, 193),
        |        j -> abs(ord(st[CAST(frame_idx * 192 + j AS BIGINT)])
        |               - ord(st[CAST((frame_idx - 1) * 192 + j AS BIGINT)]))),
        |        'sum') AS DOUBLE) / 192, 6)
        |    END AS mean_abs_diff
        |  FROM fr)
        |SELECT media_id, frame_idx, mean_abs_diff,
        |  CASE WHEN frame_idx = 0 THEN TRUE
        |       ELSE mean_abs_diff > 28.0 END AS is_keyframe
        |FROM d
        |ORDER BY media_id, frame_idx""".stripMargin,
    // Resized raster recomputed from the text: output pixel i of the
    // ceil-halved grid copies the 3 chars at source offset
    // ((2r)w + 2c)*3, r = i div rw, c = i mod rw — the same
    // stride walk the codec-side resize runs.
    "mm7_image_resize" ->
      """WITH s AS (
        |  SELECT doc_id AS media_id,
        |    regexp_replace(text, '[^\x20-\x7E]', '', 'g') AS st
        |  FROM documents WHERE doc_id % 3 = 0),
        | d AS (
        |  SELECT media_id,
        |    CAST(4 + media_id % 13 AS INTEGER) AS width,
        |    CAST(length(st) // (3 * (4 + media_id % 13)) AS INTEGER) AS height,
        |    st
        |  FROM s),
        | r AS (
        |  SELECT media_id, width, height,
        |    CAST((width + 1) // 2 AS INTEGER) AS r_width,
        |    CAST((height + 1) // 2 AS INTEGER) AS r_height,
        |    coalesce(list_aggregate(list_transform(
        |      range(0, ((height + 1) // 2) * ((width + 1) // 2)),
        |      i -> substr(st, CAST(((i // ((width + 1) // 2)) * 2 * width
        |           + (i % ((width + 1) // 2)) * 2) * 3 + 1 AS BIGINT), 3)),
        |      'string_agg', ''), '') AS rs
        |  FROM d)
        |SELECT media_id, width, height, r_width, r_height,
        |  CAST(length(rs) AS BIGINT) AS n_resized_bytes,
        |  CASE WHEN length(rs) > 0 THEN
        |    round(CAST(list_aggregate(list_transform(range(1, length(rs) + 1),
        |      j -> ord(rs[j])), 'sum') AS DOUBLE) / length(rs), 6)
        |  END AS mean_byte,
        |  md5(rs) AS resized_fp
        |FROM r
        |ORDER BY media_id""".stripMargin
  )
}
