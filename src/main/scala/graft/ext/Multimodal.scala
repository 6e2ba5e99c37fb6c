package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata. The decode/resize/feature kernels are REAL as of round 9
  * — JDK-native `javax.imageio` PNG/JPEG codecs, a true bilinear resample,
  * and a RIFF/WAVE chunk-walking PCM parser ([[MediaCodecs]]) — wrapped in
  * the same batched `mapPartitions` plumbing as before. Only the fixture
  * payloads are synthetic (generated at id-derived dimensions, since this
  * container ships no media files): that is exactly what makes the pipeline
  * oracle-checkable — DuckDB recomputes every expected width/height/
  * duration/RMS from the id, so a broken codec path fails the hash gate.
  *
  * Scale notes: every op is narrow (per-partition, no shuffle); batching
  * bounds peak memory per task; binary columns stream through the
  * vectorized parquet reader without driver involvement. A production
  * vision/audio encoder replaces the kernel body, not the plumbing.
  */
object Multimodal {

  /** Batched per-partition map: group rows, apply the batch kernel, emit
    * one output row per input row with the id riding along (no join). */
  private def mapBatched[T](df: DataFrame, idCol: String, binCol: String,
                            schema: StructType, batchSize: Int)(
                            kernel: Seq[Array[Byte]] => Seq[T])(
                            emit: (Long, T) => Row): DataFrame = {
    val out = df.select(col(idCol).cast("long"), col(binCol).cast("binary")).rdd
      .mapPartitions { it =>
        it.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
          .grouped(batchSize)
          .flatMap { batch =>
            val results = kernel(batch.map(_._2))
            require(results.length == batch.length,
              s"kernel returned ${results.length} results for a batch of ${batch.length}")
            batch.map(_._1).zip(results)
          }
      }
      .map { case (id, r) => emit(id, r) }
    df.sparkSession.createDataFrame(out, schema)
  }

  // ---------------- fixture synthesis (id-derived, oracle-replayable) ----

  /** Deterministic image fixture parameters — the SQL oracle recomputes
    * these same formulas, closing the loop on the real codec round-trip. */
  def imgW(id: Long): Int = (16 + id % 112).toInt
  def imgH(id: Long): Int = (16 + (id * 7) % 112).toInt
  def imgRgb(id: Long): Int =
    (((id % 256) << 16) | (((id * 3) % 256) << 8) | ((id * 5) % 256)).toInt
  def imgFormat(id: Long): String = if (id % 3 == 0) "jpeg" else "png"

  /** Codec kernels are CPU-bound: a fixture id list read from one small
    * parquet file arrives as ONE partition, which would serialize every
    * encode on a single core. Spreading the ids costs a shuffle of 8-byte
    * longs — nothing — and buys full-cluster codec parallelism (real media
    * corpora arrive pre-partitioned; this matters only for synthesized
    * payloads). */
  private def spreadIds(df: DataFrame, idCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val ids = df.select(col(idCol).cast("long"))
    if (ids.rdd.getNumPartitions >= target) ids else ids.repartition(target)
  }

  /** Real PNG/JPEG payloads (format alternating by id) at id-derived dims. */
  def synthImages(df: DataFrame, idCol: String, pngOnly: Boolean = false,
                  batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("img", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val fmt = if (pngOnly) "png" else imgFormat(id)
        Row(id, MediaCodecs.encodeImage(imgW(id), imgH(id), imgRgb(id), fmt))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Quadrant colors for the feature-extraction fixture: quadrant `q`
    * (row-major 0..3) of image `id` is solid (r,g,b) =
    * ((id+37q)%256, (3id+59q)%256, (5id+83q)%256). */
  def quadRgb(id: Long, q: Int): Int =
    ((((id + 37L * q) % 256) << 16) | (((id * 3 + 59L * q) % 256) << 8) |
      ((id * 5 + 83L * q) % 256)).toInt

  def synthQuadImages(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("img", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, MediaCodecs.encodeQuadImage(imgW(id), imgH(id),
          (0 until 4).map(quadRgb(id, _))))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** WAV fixture parameters. */
  def wavSamples(id: Long): Int = (800 + id % 800).toInt
  def wavRate(id: Long): Int = if (id % 2 == 0) 8000 else 16000
  def wavAmp(id: Long): Short = (100 + (id * 11) % 900).toShort

  def synthWavs(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("audio", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, MediaCodecs.encodeWavPcm16(wavSamples(id), wavRate(id), wavAmp(id)))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Frame-stream fixture parameters (video stand-in: concatenated PNGs). */
  def frameCount(id: Long): Int = (1 + id % 5).toInt
  def frameW(id: Long): Int = (16 + id % 48).toInt
  def frameH(id: Long): Int = (16 + (id * 3) % 48).toInt

  def synthFrameStreams(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("video", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, MediaCodecs.encodeFrameStream(frameW(id), frameH(id),
          (0 until frameCount(id)).map(f => imgRgb(id + 29L * f))))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  // ---------------- real decode / transform operators ----------------

  /** REAL image decode: width/height/format parsed from the byte stream by
    * the registered `javax.imageio` reader (container sniff, not extension
    * guess), via batched mapPartitions with ids riding along. */
  def withImageMeta(df: DataFrame, idCol: String, binCol: String,
                    batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("format", StringType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.decodeImageMeta)) {
      case (id, (w, h, f)) => Row(id, w, h, f)
    }
  }

  /** REAL resize: decode → bilinear resample to fit within `maxSide`
    * (aspect-preserving, never upscaling) → re-encode → decode the RESIZED
    * payload back for its dims and channel means. The emitted metadata is
    * thus a round-trip proof: it comes from the resized bytes, not from the
    * fit-within arithmetic. */
  def withResizedImage(df: DataFrame, idCol: String, binCol: String,
                       maxSide: Int, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("resized_w", IntegerType, nullable = false),
      StructField("resized_h", IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(_.map { bytes =>
      // ONE source decode (dims come off the decoded raster); the resized
      // payload is decoded back deliberately — its dims/means are the
      // round-trip proof, not bookkeeping
      val src = MediaCodecs.decodeImage(bytes)
      val resized = MediaCodecs.resizeFitRaster(src, maxSide)
      val (rw, rh, _) = MediaCodecs.decodeImageMeta(resized)
      val (mr, mg, mb) = MediaCodecs.pixelMeans(resized)
      (src.getWidth, src.getHeight, rw, rh, mr, mg, mb)
    }) { case (id, (w, h, rw, rh, mr, mg, mb)) =>
      Row(id, w, h, rw, rh, mr, mg, mb)
    }
  }

  /** Noise-image fixture for the perceptual-hash path: dims from the
    * standard formulas, pixels from an LCG keyed by the id (solid fills
    * would make every dHash zero). */
  def synthNoiseImages(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("img", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, MediaCodecs.encodeNoiseImage(imgW(id), imgH(id), seed = id))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Perceptual dHash column over a binary image column — feeds
    * [[graft.ext.Dedup.hammingNearDuplicatesBySketch]] for image near-dup. */
  def withImageDHash(df: DataFrame, idCol: String, binCol: String,
                     batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.dHash64)) { case (id, h) => Row(id, h) }
  }

  /** Noise-VIDEO fixture for the video-fingerprint path: an ODD number of
    * noise frames (3 or 5, keyed by id — odd so the sketch's per-bit
    * majority never ties) with per-frame pixels from an LCG keyed by
    * (id, frame). */
  def synthNoiseVideos(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("video", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val frames = (0 until (3 + 2 * (id % 2)).toInt).map(f =>
          MediaCodecs.encodeNoiseImage(imgW(id), imgH(id),
            seed = MediaCodecs.mix64(id, 7919L + f)))
        val bos = new java.io.ByteArrayOutputStream()
        frames.foreach(bos.write)
        Row(id, bos.toByteArray)
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Video fingerprint column pair over a binary frame-stream column: the
    * per-frame dHash SEQUENCE (`vfp`, temporal structure preserved) and its
    * 64-bit majority sketch (`vsketch`) for
    * [[graft.ext.Dedup.hammingNearDuplicatesBySketch]] banding. */
  def withVideoFingerprint(df: DataFrame, idCol: String, binCol: String,
                           batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("vfp", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("vsketch", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(_.map { bytes =>
      val hashes = MediaCodecs.videoDHashes(bytes)
      (hashes, MediaCodecs.videoSketch64(hashes))
    }) { case (id, (hashes, sketch)) =>
      Row(id, hashes, sketch, hashes.length)
    }
  }

  /** Energy-varying WAV fixture: 65 windows of LCG-keyed amplitudes per id
    * (constant-amplitude streams would fingerprint as all-zeros). */
  def synthPatternWavs(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("audio", BinaryType, nullable = false)))
    val out = spreadIds(df, idCol).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val amps = (0 until 65).map { w =>
          (100 + (MediaCodecs.mix64(id, w.toLong) & 0x7fffffffL) % 30000).toShort
        }
        Row(id, MediaCodecs.encodeWavPattern(amps, samplesPerWindow = 64,
          sampleRate = 8000))
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Acoustic fingerprint column over a binary WAV column — feeds
    * [[graft.ext.Dedup.hammingNearDuplicatesBySketch]] for audio near-dup. */
  def withAudioFingerprint(df: DataFrame, idCol: String, binCol: String,
                           batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("afp", LongType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.audioFingerprint64)) { case (id, h) => Row(id, h) }
  }

  /** PERMISSIVE image decode — the 100 TB robustness mode: a corrupt
    * payload among billions must flag, not kill the job (Spark's
    * PERMISSIVE-vs-FAILFAST reader convention). Undecodable payloads emit
    * null metadata plus the decode error; good rows are identical to
    * [[withImageMeta]]. */
  def withImageMetaPermissive(df: DataFrame, idCol: String, binCol: String,
                              batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("format", StringType, nullable = true),
      StructField("error", StringType, nullable = true)))
    mapBatched(df, idCol, binCol, schema, batchSize)(_.map { bytes =>
      try {
        val (w, h, f) = MediaCodecs.decodeImageMeta(bytes)
        (Some((w, h, f)), None: Option[String])
      } catch {
        case e: Exception => (None, Some(String.valueOf(e.getMessage)))
      }
    }) {
      case (id, (Some((w, h, f)), _)) => Row(id, w, h, f, null)
      case (id, (None, err)) => Row(id, null, null, null, err.orNull)
    }
  }

  /** REAL resize emitting the RESIZED PAYLOAD itself as a binary column
    * (`(id, value: binary)`) — the spec-layer [[graft.spec.ImageResizeOp]]
    * form, chainable into any other binary-column consumer. */
  def withResizedPayload(df: DataFrame, idCol: String, binCol: String,
                         maxSide: Int, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("value", BinaryType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.resizeFit(_, maxSide))) { case (id, bytes) =>
      Row(id, bytes)
    }
  }

  /** REAL feature extraction: a grid×grid pixel-sample embedding over the
    * decoded raster (luminance at cell centers). A production vision
    * encoder replaces [[MediaCodecs.gridEmbedding]]; schema, batching and
    * partitioning are unchanged. */
  def withImageEmbedding(df: DataFrame, idCol: String, binCol: String,
                         grid: Int = 2, batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType), nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(b => MediaCodecs.gridEmbedding(b, grid).toSeq)) {
      case (id, vec) => Row(id, vec)
    }
  }

  /** REAL audio decode: RIFF/WAVE chunk walk + PCM16 sample scan →
    * rate/channels/sample count/duration/RMS/peak. */
  def withAudioMeta(df: DataFrame, idCol: String, binCol: String,
                    batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("duration_us", LongType, nullable = false),
      StructField("rms", DoubleType, nullable = false),
      StructField("peak", IntegerType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.decodeWav)) { case (id, m) =>
      Row(id, m.sampleRate, m.channels, m.nSamples,
        m.nSamples * 1000000L / m.sampleRate, m.rms, m.peak)
    }
  }

  /** Frame EXPLOSION — the row-multiplying half of video sampling: one
    * output row per frame, `(id, frame_idx, frame: binary)`, each frame a
    * standalone decodable payload that feeds any image op downstream.
    * Narrow (the explode happens inside the partition); output row count is
    * bounded by total frames, the same data that already sat in the stream
    * payloads. */
  def explodeFrames(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val out = df.select(col(idCol).cast("long"), col(binCol).cast("binary")).rdd
      .mapPartitions(_.flatMap { r =>
        MediaCodecs.splitFrames(r.getAs[Array[Byte]](1)).zipWithIndex.map {
          case (frame, i) => Row(r.getLong(0), i, frame)
        }
      })
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Per-frame mean channel values over the DECODED raster of each exploded
    * frame — the per-frame feature step of a video pipeline (a real vision
    * encoder takes the same `(keys, bytes)` rows). */
  def withFramePixelMeans(df: DataFrame, idCol: String, frameIdxCol: String,
                          binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField(frameIdxCol, IntegerType, nullable = false),
      StructField("mean_r", DoubleType, nullable = false),
      StructField("mean_g", DoubleType, nullable = false),
      StructField("mean_b", DoubleType, nullable = false)))
    val out = df.select(col(idCol).cast("long"), col(frameIdxCol).cast("int"),
        col(binCol).cast("binary")).rdd
      .mapPartitions(_.map { r =>
        val (mr, mg, mb) = MediaCodecs.pixelMeans(r.getAs[Array[Byte]](2))
        Row(r.getLong(0), r.getInt(1), mr, mg, mb)
      })
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Audio WINDOW explosion — the row-multiplying half of audio sampling:
    * one output row per fixed-size PCM window, `(id, window_idx,
    * n_in_window, rms, peak)`, the last window partial. Narrow like
    * [[explodeFrames]]; an audio encoder consumes the exploded rows. */
  def explodeAudioWindows(df: DataFrame, idCol: String, binCol: String,
                          windowSamples: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("window_idx", IntegerType, nullable = false),
      StructField("n_in_window", IntegerType, nullable = false),
      StructField("rms", DoubleType, nullable = false),
      StructField("peak", IntegerType, nullable = false)))
    val out = df.select(col(idCol).cast("long"), col(binCol).cast("binary")).rdd
      .mapPartitions(_.flatMap { r =>
        MediaCodecs.wavWindows(r.getAs[Array[Byte]](1), windowSamples)
          .zipWithIndex.map { case ((n, rms, peak), i) =>
            Row(r.getLong(0), i, n, rms, peak)
          }
      })
    df.sparkSession.createDataFrame(out, schema)
  }

  /** REAL frame sampling over a concatenated-PNG stream: frame count by
    * signature scan, first-frame dims by decoding it. */
  def withFrameStats(df: DataFrame, idCol: String, binCol: String,
                     batchSize: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_w", IntegerType, nullable = false),
      StructField("frame_h", IntegerType, nullable = false)))
    mapBatched(df, idCol, binCol, schema, batchSize)(
      _.map(MediaCodecs.frameStreamStats)) { case (id, (n, w, h)) =>
      Row(id, n, w, h)
    }
  }
}
