package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Real media codec kernels (round 9): javax.imageio PNG/JPEG round-trips,
  * true bilinear resize, RIFF/WAVE chunk-walking PCM parse, concatenated-PNG
  * frame streams — plus the Spark plumbing that batches them per partition.
  * The "solid color survives bilinear resize exactly" property that the
  * q_mm_resize oracle depends on is verified EXHAUSTIVELY over the fixture
  * id space here (not spot-checked).
  */
class MultimodalSpec extends SparkTestBase {

  import spark.implicits._

  // ---------------- pure kernels ----------------

  test("PNG encode/decode round-trips dims, format, and exact pixels") {
    val bytes = MediaCodecs.encodeImage(37, 23, 0x336699, "png")
    val (w, h, fmt) = MediaCodecs.decodeImageMeta(bytes)
    assert((w, h, fmt) == (37, 23, "png"))
    val img = MediaCodecs.decodeImage(bytes)
    assert((img.getRGB(0, 0) & 0xffffff) == 0x336699)
    assert((img.getRGB(36, 22) & 0xffffff) == 0x336699)
    val (mr, mg, mb) = MediaCodecs.pixelMeans(bytes)
    assert((mr, mg, mb) == (0x33.toDouble, 0x66.toDouble, 0x99.toDouble))
  }

  test("JPEG encode/decode round-trips dims and sniffs format from bytes") {
    val bytes = MediaCodecs.encodeImage(41, 19, 0xaabbcc, "jpeg")
    val (w, h, fmt) = MediaCodecs.decodeImageMeta(bytes)
    assert((w, h, fmt) == (41, 19, "jpeg"))
  }

  test("decodeImageMeta rejects non-image payloads") {
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeImageMeta("not an image".getBytes("UTF-8"))
    }
  }

  test("fitWithin preserves aspect, floors, and never upscales") {
    assert(MediaCodecs.fitWithin(100, 50, 64) == (64, 32))
    assert(MediaCodecs.fitWithin(50, 100, 64) == (32, 64))
    assert(MediaCodecs.fitWithin(30, 20, 64) == (30, 20)) // no upscale
    assert(MediaCodecs.fitWithin(1000, 3, 64) == (64, 1)) // 1px floor
  }

  test("solid-color bilinear resize is pixel-exact over the WHOLE fixture id space") {
    // The q_mm_resize oracle predicts mean_r/g/b == the fill color, which
    // holds only if bilinear interpolation of a constant raster is exactly
    // constant after the PNG re-encode round-trip. Prove it for every id the
    // bench/verify data can produce (doc_id 0..4999 covers sf0.001-0.1).
    (0L until 5000L).foreach { id =>
      val rgb = Multimodal.imgRgb(id)
      val bytes = MediaCodecs.encodeImage(
        Multimodal.imgW(id), Multimodal.imgH(id), rgb, "png")
      val resized = MediaCodecs.resizeFit(bytes, 64)
      val (rw, rh, _) = MediaCodecs.decodeImageMeta(resized)
      val (ew, eh) = MediaCodecs.fitWithin(Multimodal.imgW(id), Multimodal.imgH(id), 64)
      assert((rw, rh) == (ew, eh), s"dims mismatch for id=$id")
      val (mr, mg, mb) = MediaCodecs.pixelMeans(resized)
      assert(mr == ((rgb >> 16) & 0xff).toDouble
        && mg == ((rgb >> 8) & 0xff).toDouble
        && mb == (rgb & 0xff).toDouble, s"color drift for id=$id")
    }
  }

  test("quadrant colors survive bilinear resize at grid sample points — WHOLE id space") {
    // The spec-layer chain ImageEmbedOp(ImageResizeOp(img, 64), 2) is
    // oracle-predicted to return the quadrant colors: grid samples hit
    // quadrant INTERIORS (margin ≥ w/4 ≥ 4px from any blend boundary), so
    // downsampling interpolation never reaches them. Exhaustive over the
    // fixture id space, like the solid-color sweep above.
    (0L until 5000L).foreach { id =>
      val quads = (0 until 4).map(Multimodal.quadRgb(id, _))
      val bytes = MediaCodecs.encodeQuadImage(
        Multimodal.imgW(id), Multimodal.imgH(id), quads)
      val emb = MediaCodecs.gridEmbedding(MediaCodecs.resizeFit(bytes, 64), 2)
      val expected = quads.map(c =>
        (((c >> 16) & 0xff) + ((c >> 8) & 0xff) + (c & 0xff)) / 765.0)
      assert(emb.toSeq == expected, s"embed drift for id=$id")
    }
  }

  test("grid embedding samples real quadrant pixels") {
    val id = 123L
    val quads = (0 until 4).map(Multimodal.quadRgb(id, _))
    val bytes = MediaCodecs.encodeQuadImage(
      Multimodal.imgW(id), Multimodal.imgH(id), quads)
    val emb = MediaCodecs.gridEmbedding(bytes, 2)
    val expected = quads.map(c =>
      (((c >> 16) & 0xff) + ((c >> 8) & 0xff) + (c & 0xff)) / 765.0)
    assert(emb.toSeq == expected)
  }

  test("WAV encode/decode: chunk walk, header fields, exact RMS and peak") {
    val bytes = MediaCodecs.encodeWavPcm16(1000, 16000, 250.toShort)
    val m = MediaCodecs.decodeWav(bytes)
    assert(m.sampleRate == 16000 && m.channels == 1 && m.bitsPerSample == 16)
    assert(m.nSamples == 1000L)
    assert(m.rms == 250.0) // IEEE sqrt of a perfect square is exact
    assert(m.peak == 250)
    // stereo + odd sample count still parse
    val st = MediaCodecs.decodeWav(MediaCodecs.encodeWavPcm16(333, 8000, 77.toShort, channels = 2))
    assert(st.channels == 2 && st.nSamples == 333L && st.rms == 77.0 && st.peak == 77)
  }

  test("WAV parser rejects multiple data chunks instead of merging statistics") {
    // splice a second data chunk onto a valid stream: mixed overwrite/
    // accumulate semantics would silently report wrong RMS — a hard error
    // (and a permissive-path flag) is the correct contract
    val base = MediaCodecs.encodeWavPcm16(10, 8000, 5.toShort)
    val extra = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put("data".getBytes("US-ASCII")).putInt(4).putShort(9).putShort(9)
    val spliced = {
      val b = java.nio.ByteBuffer.allocate(base.length + 12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(base); b.put(extra.array())
      // patch the RIFF size so the chunk walk accepts the appended chunk
      b.putInt(4, base.length + 12 - 8)
      b.array()
    }
    val e = intercept[IllegalArgumentException] { MediaCodecs.decodeWav(spliced) }
    assert(e.getMessage.contains("multiple data chunks"))
  }

  test("WAV parser walks past unknown chunks and validates structure") {
    // encoder plants a LIST chunk between fmt and data; a fixed-offset
    // reader would misparse — successful decode proves the chunk walk
    val bytes = MediaCodecs.encodeWavPcm16(10, 8000, 5.toShort)
    assert(new String(bytes.slice(36, 40), "US-ASCII") == "LIST")
    assert(MediaCodecs.decodeWav(bytes).nSamples == 10L)
    intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav("RIFFxxxxNOPE".getBytes("US-ASCII"))
    }
  }

  test("WAVE_FORMAT_EXTENSIBLE: decodes like PCM; non-PCM SubFormat rejected") {
    val ext = MediaCodecs.encodeWavPcm16(10, 8000, 5.toShort, extensible = true)
    assert(MediaCodecs.decodeWav(ext) ==
      MediaCodecs.decodeWav(MediaCodecs.encodeWavPcm16(10, 8000, 5.toShort)))
    // the REAL format tag is the SubFormat GUID's first two bytes at offset
    // 44 (RIFF12 + fmt-header8 + std-fmt16 + cbSize2 + validBits2 + mask4);
    // flip PCM(1) → IEEE float(3): a strict parse must hard-error
    val bad = ext.clone()
    bad(44) = 3
    val e = intercept[IllegalArgumentException](MediaCodecs.decodeWav(bad))
    assert(e.getMessage.contains("SubFormat"))
  }

  test("frame stream: signature-scan count + first-frame decode") {
    val payload = MediaCodecs.encodeFrameStream(20, 12, Seq(0x112233, 0x445566, 0x778899))
    val (n, w, h) = MediaCodecs.frameStreamStats(payload)
    assert((n, w, h) == (3, 20, 12))
  }

  test("frameOffsets walks the chunk list — signature bytes inside chunk data don't start a phantom frame") {
    val sig = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      '\r'.toByte, '\n'.toByte, 0x1a.toByte, '\n'.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + data.length)
      b.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data).putInt(0)
      b.array()
    }
    // a frame whose teXt chunk data CONTAINS the 8 signature bytes — a
    // byte-scanner would report a phantom frame inside it
    val booby = sig ++ chunk("teXt", sig ++ "inner".getBytes("US-ASCII")) ++
      chunk("IEND", Array.emptyByteArray)
    val stream = booby ++ booby
    assert(MediaCodecs.frameOffsets(stream) == Seq(0, booby.length))
    assert(MediaCodecs.splitFrames(stream).map(_.length) ==
      Seq(booby.length, booby.length))
    // a truncated trailing frame still counts, extending to end-of-stream
    val trunc = booby ++ sig ++ chunk("teXt", "x".getBytes("US-ASCII")).take(6)
    assert(MediaCodecs.frameOffsets(trunc) == Seq(0, booby.length))
    // MID-stream corruption must not swallow later frames: the scan resumes
    // past the corrupt frame's signature and recovers the intact ones
    val corrupt = sig ++ chunk("teXt", "x".getBytes("US-ASCII")).take(6)
    val recovered = corrupt ++ booby ++ booby
    assert(MediaCodecs.frameOffsets(recovered) ==
      Seq(0, corrupt.length, corrupt.length + booby.length))
    // signature bytes embedded in a CORRUPT frame's chunk data: the failed
    // chunk walk switches the scan to recovery mode, where a candidate
    // signature counts only if its own chunk walk validates — the embedded
    // signature (followed by garbage, walk fails) is skipped, the next
    // intact frame is still found
    val hugeLen = Array(0x7f, 0xff, 0xff, 0xff).map(_.toByte)
    val corruptEmb = sig ++ hugeLen ++ "teXt".getBytes("US-ASCII") ++
      sig ++ "junk".getBytes("US-ASCII")
    assert(MediaCodecs.frameOffsets(corruptEmb ++ booby) ==
      Seq(0, corruptEmb.length))
  }

  test("splitFrames yields standalone decodable frames in order") {
    val colors = Seq(0x112233, 0x445566, 0x778899)
    val payload = MediaCodecs.encodeFrameStream(20, 12, colors)
    val frames = MediaCodecs.splitFrames(payload)
    assert(frames.length == 3)
    frames.zip(colors).foreach { case (f, c) =>
      assert(MediaCodecs.decodeImageMeta(f) == ((20, 12, "png")))
      assert((MediaCodecs.decodeImage(f).getRGB(5, 5) & 0xffffff) == c)
    }
    intercept[IllegalArgumentException] {
      MediaCodecs.splitFrames("no frames here".getBytes("UTF-8"))
    }
  }

  // ---------------- Spark plumbing ----------------

  private lazy val ids = (0L until 50L).toDF("doc_id")

  test("withImageMeta decodes a real synthesized PNG/JPEG column") {
    val rows = Multimodal.withImageMeta(
        Multimodal.synthImages(ids, "doc_id"), "doc_id", "img")
      .orderBy("doc_id").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") == Multimodal.imgW(id))
      assert(r.getAs[Int]("height") == Multimodal.imgH(id))
      assert(r.getAs[String]("format") == Multimodal.imgFormat(id))
    }
  }

  test("withResizedImage round-trips resized dims and solid-color means") {
    val rows = Multimodal.withResizedImage(
        Multimodal.synthImages(ids, "doc_id", pngOnly = true),
        "doc_id", "img", maxSide = 64)
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (ew, eh) = MediaCodecs.fitWithin(Multimodal.imgW(id), Multimodal.imgH(id), 64)
      assert((r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h")) == (ew, eh))
      assert(r.getAs[Double]("mean_r") == (Multimodal.imgRgb(id) >> 16 & 0xff).toDouble)
    }
  }

  test("withAudioMeta parses a real WAV column with exact statistics") {
    val rows = Multimodal.withAudioMeta(
        Multimodal.synthWavs(ids, "doc_id"), "doc_id", "audio")
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("sample_rate") == Multimodal.wavRate(id))
      assert(r.getAs[Long]("n_samples") == Multimodal.wavSamples(id).toLong)
      assert(r.getAs[Long]("duration_us") ==
        Multimodal.wavSamples(id).toLong * 1000000L / Multimodal.wavRate(id))
      assert(r.getAs[Double]("rms") == Multimodal.wavAmp(id).toDouble)
      assert(r.getAs[Int]("peak") == Multimodal.wavAmp(id).toInt)
    }
  }

  test("withFrameStats counts frames and decodes first-frame dims") {
    val rows = Multimodal.withFrameStats(
        Multimodal.synthFrameStreams(ids, "doc_id"), "doc_id", "video")
      .orderBy("doc_id").collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("n_frames") == Multimodal.frameCount(id))
      assert(r.getAs[Int]("frame_w") == Multimodal.frameW(id))
      assert(r.getAs[Int]("frame_h") == Multimodal.frameH(id))
    }
  }

  test("wavWindows: fixed-size PCM framing with a partial tail window") {
    // 10 samples, windows of 4 → sizes 4, 4, 2; ±7 square wave → rms 7
    val bytes = MediaCodecs.encodeWavPcm16(10, 8000, 7.toShort)
    val ws = MediaCodecs.wavWindows(bytes, 4)
    assert(ws.map(_._1) == Seq(4, 4, 2))
    assert(ws.forall { case (_, rms, peak) => rms == 7.0 && peak == 7 })
    // window larger than the stream → one partial window
    assert(MediaCodecs.wavWindows(bytes, 100).map(_._1) == Seq(10))
  }

  test("explodeAudioWindows: one row per window with exact stats") {
    val rows = Multimodal.explodeAudioWindows(
        Multimodal.synthWavs(ids, "doc_id"), "doc_id", "audio", 300)
      .orderBy("doc_id", "window_idx").collect()
    val expected = (0L until 50L).map(id =>
      math.ceil(Multimodal.wavSamples(id) / 300.0).toInt).sum
    assert(rows.length == expected)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Double]("rms") == Multimodal.wavAmp(id).toDouble)
      assert(r.getAs[Int]("n_in_window") <= 300 && r.getAs[Int]("n_in_window") >= 1)
    }
  }

  test("explodeFrames + withFramePixelMeans recover per-frame colors") {
    val exploded = Multimodal.explodeFrames(
      Multimodal.synthFrameStreams(ids, "doc_id"), "doc_id", "video")
    val rows = Multimodal.withFramePixelMeans(
        exploded, "doc_id", "frame_idx", "frame")
      .orderBy("doc_id", "frame_idx").collect()
    assert(rows.length == (0L until 50L).map(Multimodal.frameCount(_)).sum)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id"); val f = r.getAs[Int]("frame_idx")
      val c = Multimodal.imgRgb(id + 29L * f)
      assert(r.getAs[Double]("mean_r") == ((c >> 16) & 0xff).toDouble)
      assert(r.getAs[Double]("mean_g") == ((c >> 8) & 0xff).toDouble)
      assert(r.getAs[Double]("mean_b") == (c & 0xff).toDouble)
    }
  }

  test("dHash: identical payloads collide, distinct noise images are far apart") {
    val a = MediaCodecs.encodeNoiseImage(64, 48, seed = 1L)
    val b = MediaCodecs.encodeNoiseImage(64, 48, seed = 2L)
    assert(MediaCodecs.dHash64(a) == MediaCodecs.dHash64(a.clone()))
    val dist = java.lang.Long.bitCount(MediaCodecs.dHash64(a) ^ MediaCodecs.dHash64(b))
    assert(dist > 10, s"distinct noise images at hamming $dist")
  }

  test("dHash is dimension-normalizing: a resized copy stays perceptually close") {
    // dHash's resize robustness is a SMOOTH-content property (gradient
    // signs of a 9×8 downsample): white noise is its worst case (near-tie
    // gradients flip arbitrarily), natural/smooth images its home turf —
    // so the fixture is a smooth sinusoid field, not noise
    def smoothPng(w: Int, h: Int, phase: Double): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = 128 + (127 * math.sin(
          2 * math.Pi * (x.toDouble / w + 0.5 * y.toDouble / h) + phase)).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    Seq(0.0, 1.3, 2.6).foreach { phase =>
      val orig = smoothPng(96, 72, phase)
      val resized = MediaCodecs.resizeFit(orig, 48) // genuine downscale
      val d = java.lang.Long.bitCount(
        MediaCodecs.dHash64(orig) ^ MediaCodecs.dHash64(resized))
      assert(d <= 8, s"phase=$phase drifted to hamming $d")
      // and the two smooth images at different phases are still FAR apart
      val other = java.lang.Long.bitCount(
        MediaCodecs.dHash64(orig) ^ MediaCodecs.dHash64(smoothPng(96, 72, phase + 2.0)))
      assert(other > 8, s"phase separation collapsed to $other")
    }
  }

  test("video fingerprint: per-frame dHashes + majority sketch, exact formula") {
    val frames = (0 until 5).map(f =>
      MediaCodecs.encodeNoiseImage(32, 24, seed = 100L + f))
    val bos = new java.io.ByteArrayOutputStream()
    frames.foreach(bos.write)
    val video = bos.toByteArray
    val fp = MediaCodecs.videoDHashes(video)
    // the sequence IS the per-frame image hashes, in frame order
    assert(fp == frames.map(MediaCodecs.dHash64))
    // the sketch is the per-bit strict majority of the sequence
    val sketch = MediaCodecs.videoSketch64(fp)
    (0 until 64).foreach { bit =>
      val ones = fp.count(h => (h >>> bit & 1L) == 1L)
      assert((sketch >>> bit & 1L) == (if (2 * ones > fp.length) 1L else 0L))
    }
    // an exact copy sketches identically; frame ORDER does not change the
    // majority sketch but DOES change the sequence fingerprint
    assert(MediaCodecs.videoSketch64(fp.reverse) == sketch)
    assert(MediaCodecs.videoDHashes(video).hashCode == fp.hashCode)
    intercept[IllegalArgumentException](MediaCodecs.videoSketch64(Nil))
  }

  test("hamming-banded video near-dup finds exactly the planted copies") {
    val vids = Multimodal.synthNoiseVideos(ids, "doc_id")
    val planted = vids.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000L).as("doc_id"), col("video"))
    val fp = Multimodal.withVideoFingerprint(vids.union(planted), "doc_id", "video")
    // odd frame counts by construction (majority never ties)
    assert(fp.select("n_frames").distinct().collect().map(_.getInt(0)).toSet
      .forall(n => n % 2 == 1))
    val pairs = Dedup.hammingNearDuplicatesBySketch(fp, "vsketch", "doc_id",
        maxHamming = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 1000L)).toSet)
  }

  test("hamming-banded image near-dup finds exactly the planted copies") {
    val imgs = Multimodal.synthNoiseImages(ids, "doc_id")
    val planted = imgs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000L).as("doc_id"), col("img"))
    val hashed = Multimodal.withImageDHash(imgs.union(planted), "doc_id", "img")
    val pairs = Dedup.hammingNearDuplicatesBySketch(hashed, "dhash", "doc_id",
        maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 1000L)).toSet)
  }

  test("acoustic fingerprint: copies collide, distinct patterns separate, contour is what matters") {
    val ampsA = (0 until 65).map(w => (200 + 37 * w % 900).toShort)
    val ampsB = ampsA.reverse
    val a = MediaCodecs.encodeWavPattern(ampsA, 64, 8000)
    val b = MediaCodecs.encodeWavPattern(ampsB, 64, 8000)
    assert(MediaCodecs.audioFingerprint64(a) == MediaCodecs.audioFingerprint64(a.clone()))
    assert(MediaCodecs.audioFingerprint64(a) != MediaCodecs.audioFingerprint64(b))
    // scaling every amplitude by 2 preserves the energy CONTOUR → same hash
    val scaled = MediaCodecs.encodeWavPattern(ampsA.map(v => (v * 2).toShort), 64, 8000)
    assert(MediaCodecs.audioFingerprint64(scaled) == MediaCodecs.audioFingerprint64(a))
  }

  test("hamming-banded audio near-dup finds exactly the planted copies") {
    val wavs = Multimodal.synthPatternWavs(ids, "doc_id")
    val planted = wavs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000L).as("doc_id"), col("audio"))
    val hashed = Multimodal.withAudioFingerprint(wavs.union(planted), "doc_id", "audio")
    val pairs = Dedup.hammingNearDuplicatesBySketch(hashed, "afp", "doc_id",
        maxHamming = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0L until 5L).map(i => (i, i + 1000L)).toSet)
  }

  test("permissive decode flags corrupt payloads, decodes the rest") {
    val imgs = Multimodal.synthImages(ids, "doc_id")
      .withColumn("img", when(col("doc_id") === 7L,
        lit("garbage".getBytes("UTF-8"))).otherwise(col("img")))
    val rows = Multimodal.withImageMetaPermissive(imgs, "doc_id", "img")
      .orderBy("doc_id").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id == 7L) {
        assert(r.isNullAt(r.fieldIndex("width")))
        assert(r.getAs[String]("error") != null)
      } else {
        assert(r.getAs[Int]("width") == Multimodal.imgW(id))
        assert(r.isNullAt(r.fieldIndex("error")))
      }
    }
    // FAILFAST counterpart really fails
    intercept[org.apache.spark.SparkException] {
      Multimodal.withImageMeta(imgs, "doc_id", "img").collect()
    }
  }

  test("fixture synthesis prunes the source scan to the id column") {
    // the mm queries read `documents` only for doc_id; a scan that drags
    // the text column along would read most of the table for nothing
    val dir = java.nio.file.Files.createTempDirectory("graft-mm-prune-")
    (0L until 20L).map(i => (i, "x" * 100, s"l$i"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // synthImages plans `df.select(id).rdd` — the `.rdd` boundary
    // materializes THIS logical plan, so asserting its executed scan is
    // asserting what the fixture stage actually reads from parquet
    val feeding = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long"))
    val scans = feeding.queryExecution.executedPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach(f =>
      assert(f.requiredSchema.fieldNames.toSeq == Seq("doc_id"),
        s"scan read ${f.requiredSchema.fieldNames.mkString(",")}"))
    // and the full pipeline over it still yields real decoded rows
    val out = Multimodal.withImageMeta(
      Multimodal.synthImages(feeding, "doc_id"), "doc_id", "img")
    assert(out.count() == 20L)
  }

  test("withImageEmbedding flows into the ANN operators' expected shape") {
    val emb = Multimodal.withImageEmbedding(
        Multimodal.synthQuadImages(ids, "doc_id"), "doc_id", "img", grid = 2)
    assert(emb.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val first = emb.orderBy("doc_id").head()
    assert(first.getSeq[Double](first.fieldIndex("embedding")).length == 4)
  }
}
