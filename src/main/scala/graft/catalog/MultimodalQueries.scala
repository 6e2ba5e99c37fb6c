package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Bpe, Dedup, Multimodal, Similarity}
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** Multimodal binary columns (image, audio and frame decode, resize,
  * embeddings, perceptual fingerprints), the spec-layer dedup and ANN graphs
  * over persisted fixtures, and the BPE / unigram tokenizer queries. */
object MultimodalQueries {

  /** Plant offset for planted-copy fixtures: max(id)+1, so planted ids can
    * never collide with real ids at any scale factor. One tiny max-agg job
    * over a pruned single-column scan; the oracle SQL derives the same
    * offset with `(SELECT max(id)+1 FROM t)`. An EMPTY table yields offset
    * 0 — the planted set is empty too, matching the oracle's empty result
    * instead of throwing on the null max. */
  private def plantOffset(df: DataFrame, idCol: String): Long = {
    val row = df.agg(max(col(idCol)).cast("long")).head
    if (row.isNullAt(0)) 0L else row.getLong(0) + 1L
  }

  /** Multimodal fixture parquet (doc_id, img: quad PNG, audio: WAV) written
    * once per (JVM, sf dir) in doc_id file order — the binary-column SOURCE
    * for the spec-layer multimodal graph query. */
  private def mmFixtureFor(s: SparkSession, dir: String): String =
    fixture("media", dir) { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-mm-fixture-").toString + "/media"
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.synthQuadImages(docs, "doc_id")
        .join(Multimodal.synthWavs(docs, "doc_id"), "doc_id")
        .join(Multimodal.synthFrameStreams(docs, "doc_id"), "doc_id")
        .orderBy("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }

  /** Disjoint-vocabulary dedup fixture parquet (the q_dedup_minhash_planted
    * trick, persisted): 100 originals (doc_id 0..99) + exact copies at
    * +1000, written in doc_id order — the binary contract the spec-layer
    * dedup query's constant oracle relies on. */
  private def dedupFixtureFor(s: SparkSession): String =
    fixture("dedup-docs", "") { _ =>
      import s.implicits._
      val path = java.nio.file.Files
        .createTempDirectory("graft-dedup-fixture-").toString + "/docs"
      val base = (0 until 100).map { i =>
        (i.toLong, (0 until 30).map(j => s"tok${i}x$j").mkString(" "))
      }
      val copies = base.map { case (id, text) => (id + 1000L, text) }
      // quality = doc_id: every COPY outscores its original, so the
      // keep-best rule (q_best_graph) provably inverts the min-index rule
      (base ++ copies).map { case (id, text) => (id, text, id.toDouble) }
        .toDF("doc_id", "text", "quality")
        .orderBy("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }

  /** Cosine-dedup fixture: the embeddings table in vec_id order with exact
    * vector copies of the first 50 rows appended (re-keyed +1000000). */
  private def cosineFixtureFor(s: SparkSession, dir: String): String =
    fixture("cosine-emb", dir) { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-cosine-fixture-").toString + "/emb"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      emb.union(copies).orderBy("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }

  /** q_unigram_* gate shape (shared engine/oracle): pieces to 4 chars,
    * 40 multi-char seeds, 2 Viterbi-EM rounds — deep enough that round 2
    * re-segments under round-1 counts (pieces the first decoder pass
    * dropped change the lattice) while the oracle stays two unrolled DP
    * recursions. */
  private val UniPieceLen: Int = graft.ext.Unigram.DefaultPieceLen
  private val UniSeedMulti: Int = graft.ext.Unigram.DefaultSeedMulti
  private val UniRounds: Int = graft.ext.Unigram.DefaultRounds

  /** Full DuckDB replay of the [[graft.ext.Unigram]] Viterbi-EM loop
    * through `rounds` rounds: the seed substring counts over the
    * unique-word table, the top-`seedMulti` total-order selection, the
    * micro-nat scores (`round(1e6·ln(cnt/total))` — the LangModel ln
    * precedent), and per round a per-word Viterbi DP as a recursive CTE
    * carrying the dp/backpointer LISTS. The argmax at each position is
    * ONE integer MAX over a packed key `(dp[j]+s+2⁴⁰)·1024 + (1023−j)` —
    * maximal value, ties to the smallest j, exactly the engine's
    * ascending-scan strict-improvement rule. Produces CTEs up to
    * `v{rounds}`/`s{rounds}` (final counts/scores) plus `wl`, `pos`,
    * `chars`, `multi0`; callers append the output select (and optionally
    * one more DP round for the encode replay via [[unigramDpCtes]]). */
  private def unigramOracleCtes(rounds: Int, seedMulti: Int,
                                pieceLen: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""wl AS MATERIALIZED (
         |  SELECT word, COUNT(*) AS cnt, length(word) AS len
         |  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |               x -> length(x) > 0)) AS word FROM documents)
         |  GROUP BY 1),
         |pos AS MATERIALIZED (
         |  SELECT word, j, unnest(range(j + 1, least(j + $pieceLen, len) + 1)) AS i
         |  FROM (SELECT word, len, unnest(range(len)) AS j FROM wl)),
         |seedc AS (
         |  SELECT substr(w.word, CAST(p.j + 1 AS INT), CAST(p.i - p.j AS INT)) AS piece,
         |         SUM(w.cnt) AS cnt
         |  FROM wl w JOIN pos p USING (word) GROUP BY 1),
         |chars AS (SELECT piece, cnt FROM seedc WHERE length(piece) = 1),
         |multi0 AS (SELECT piece, cnt FROM seedc WHERE length(piece) > 1
         |           ORDER BY cnt DESC, piece LIMIT $seedMulti),
         |v0 AS (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM multi0),
         |s0 AS (SELECT piece, CAST(round(1e6 * ln(CAST(cnt AS DOUBLE)
         |         / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v0))) AS BIGINT) AS s
         |       FROM v0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(",\n").append(unigramDpCtes(r, r - 1, pieceLen))
      sb.append(s""",
        |c$r AS (SELECT p.piece, SUM(w.cnt) AS cnt
        |        FROM upc$r p JOIN wl w USING (word) GROUP BY 1),
        |v$r AS (SELECT ch.piece, COALESCE(c$r.cnt, 0) + 1 AS cnt
        |        FROM chars ch LEFT JOIN c$r ON c$r.piece = ch.piece
        |        UNION ALL
        |        SELECT m0.piece, c$r.cnt FROM multi0 m0
        |        JOIN c$r ON c$r.piece = m0.piece),
        |s$r AS (SELECT piece, CAST(round(1e6 * ln(CAST(cnt AS DOUBLE)
        |          / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM v$r))) AS BIGINT) AS s
        |        FROM v$r)""".stripMargin)
    }
    sb.toString
  }

  /** One Viterbi-DP round's CTEs (`m$r`, `rec$r`, `walk$r`, `pc$r`) over
    * the scores CTE `s$sr`: the forward DP recursion (packed argmax) and
    * the backpointer walk emitting (word, j, piece) rows. */
  private def unigramDpCtes(r: Int, sr: Int, pieceLen: Int): String = {
    val Off = 1099511627776L // 2^40: shifts every packed dp value positive
    s"""um$r AS MATERIALIZED (
       |  SELECT p.word, p.j, p.i, s.s
       |  FROM pos p JOIN s$sr s
       |    ON s.piece = substr(p.word, CAST(p.j + 1 AS INT), CAST(p.i - p.j AS INT))),
       |urec$r AS (
       |  SELECT word, len, [CAST(0 AS BIGINT)] AS dpl,
       |         [CAST(0 AS BIGINT)] AS bpl, CAST(1 AS BIGINT) AS i
       |  FROM wl
       |  UNION ALL
       |  SELECT word, len,
       |    dpl || [pk // 1024 - $Off], bpl || [1023 - (pk % 1024)], i + 1
       |  FROM (
       |    SELECT r.word, any_value(r.len) AS len, any_value(r.dpl) AS dpl,
       |      any_value(r.bpl) AS bpl, any_value(r.i) AS i,
       |      MAX((r.dpl[CAST(m.j + 1 AS INT)] + m.s + $Off) * 1024
       |          + (1023 - m.j)) AS pk
       |    FROM urec$r r JOIN um$r m ON m.word = r.word AND m.i = r.i
       |    WHERE r.i <= r.len
       |    GROUP BY r.word)),
       |uwalk$r AS (
       |  SELECT word, len AS pos, bpl FROM urec$r WHERE i = len + 1
       |  UNION ALL
       |  SELECT word, bpl[CAST(pos + 1 AS INT)] AS pos, bpl
       |  FROM uwalk$r WHERE pos > 0),
       |upc$r AS (
       |  SELECT word, bpl[CAST(pos + 1 AS INT)] AS j,
       |    substr(word, CAST(bpl[CAST(pos + 1 AS INT)] + 1 AS INT),
       |      CAST(pos - bpl[CAST(pos + 1 AS INT)] AS INT)) AS piece
       |  FROM uwalk$r WHERE pos > 0)""".stripMargin
  }

  val queries: Seq[Query] = Seq(

    // Real codecs as of round 9 (javax.imageio + RIFF/WAVE parser): each
    // query synthesizes genuine PNG/JPEG/WAV payloads at id-derived
    // dimensions, runs them through the batched decode path, and the oracle
    // recomputes the expected metadata from doc_id alone — a broken codec
    // round-trip fails the hash gate.
    Query("q_mm_decode", (s, dir) => {
      // real PNG/JPEG byte streams (format alternating by id) → real
      // ImageIO container-sniff decode → dims + format
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withImageMeta(
          Multimodal.synthImages(docs, "doc_id"), "doc_id", "img")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
        .orderBy(col("doc_id"))
    },
      // Multimodal oracles recompute the fixture formulas from doc_id (see
      // Multimodal.imgW/imgH/imgRgb/...): the Spark side must reproduce them
      // through a REAL encode → decode codec round-trip, so any defect in the
      // imageio/WAV path breaks the hash match.
      """SELECT doc_id,
        |16 + doc_id % 112 AS width,
        |16 + (doc_id * 7) % 112 AS height,
        |CASE WHEN doc_id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_mm_frames", (s, dir) => {
      // video stand-in: concatenated-PNG frame stream; frame count by
      // signature scan, first-frame dims by really decoding it
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withFrameStats(
          Multimodal.synthFrameStreams(docs, "doc_id"), "doc_id", "video")
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_w").cast("long").as("frame_w"),
          col("frame_h").cast("long").as("frame_h"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |1 + doc_id % 5 AS n_frames,
        |16 + doc_id % 48 AS frame_w,
        |16 + (doc_id * 3) % 48 AS frame_h
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_mm_resize", (s, dir) => {
      // real bilinear resample to fit-within-64; emitted dims and channel
      // means come from decoding the RESIZED payload (round-trip proof) —
      // solid-color fixtures keep the means exactly oracle-predictable
      // (bilinear of equal values is that value; verified exhaustively over
      // the id space in MultimodalSpec)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withResizedImage(
          Multimodal.synthImages(docs, "doc_id", pngOnly = true),
          "doc_id", "img", maxSide = 64)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("resized_w").cast("long").as("resized_w"),
          col("resized_h").cast("long").as("resized_h"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"))
    },
      """WITH meta AS (
        |  SELECT doc_id,
        |  16 + doc_id % 112 AS width,
        |  16 + (doc_id * 7) % 112 AS height
        |  FROM documents),
        |scaled AS (
        |  SELECT doc_id, width, height,
        |    least(64.0 / width, 64.0 / height, 1.0) AS s
        |  FROM meta)
        |SELECT doc_id, width, height,
        |  greatest(CAST(floor(width * s) AS BIGINT), 1) AS resized_w,
        |  greatest(CAST(floor(height * s) AS BIGINT), 1) AS resized_h,
        |  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
        |  CAST((doc_id * 3) % 256 AS DOUBLE) AS mean_g,
        |  CAST((doc_id * 5) % 256 AS DOUBLE) AS mean_b
        |FROM scaled ORDER BY doc_id""".stripMargin),

    Query("q_mm_embed", (s, dir) => {
      // real feature extraction: 2×2 grid pixel-sample embedding over the
      // decoded raster of a quadrant-colored fixture — the sampled values
      // ARE the quadrant colors, so the oracle recomputes them per (id,pos)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withImageEmbedding(
          Multimodal.synthQuadImages(docs, "doc_id"), "doc_id", "img", grid = 2)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy(col("doc_id"), col("pos"))
    },
      """WITH e AS (SELECT doc_id, unnest(range(4)) AS pos FROM documents)
        |SELECT doc_id, pos,
        |((doc_id + 37 * pos) % 256 + (doc_id * 3 + 59 * pos) % 256
        |  + (doc_id * 5 + 83 * pos) % 256) / 765.0 AS val
        |FROM e ORDER BY doc_id, pos""".stripMargin),

    Query("q_mm_audio", (s, dir) => {
      // real RIFF/WAVE PCM16 payloads (square wave, LIST chunk in the way)
      // → chunk-walking parse + full sample scan: rate/duration/RMS/peak
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withAudioMeta(
          Multimodal.synthWavs(docs, "doc_id"), "doc_id", "audio")
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_samples"), col("duration_us"), col("rms"),
          col("peak").cast("long").as("peak"))
        .orderBy(col("doc_id"))
    },
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate,
        |    800 + doc_id % 800 AS n,
        |    100 + (doc_id * 11) % 900 AS amp
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
        |  CAST(amp AS DOUBLE) AS rms,
        |  CAST(amp AS BIGINT) AS peak
        |FROM p ORDER BY doc_id""".stripMargin),

    Query("q_mm_corrupt", (s, dir) => {
      // PERMISSIVE decode under planted corruption: every 97th payload is
      // replaced with garbage; the job must survive, flag exactly those
      // rows, and decode the rest — the 100 TB robustness contract. Error
      // strings are engine-specific, so the oracle checks the ok FLAG plus
      // null-vs-formula metadata.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val imgs = Multimodal.synthImages(docs, "doc_id")
        .withColumn("img", when(col("doc_id") % 97 === 0,
          lit("deadbeef: not an image".getBytes("UTF-8"))).otherwise(col("img")))
      Multimodal.withImageMetaPermissive(imgs, "doc_id", "img")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"),
          col("error").isNull.as("ok"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE 16 + doc_id % 112 END AS width,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE 16 + (doc_id * 7) % 112 END AS height,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS format,
        |  doc_id % 97 <> 0 AS ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_mm_audio_windows", (s, dir) => {
      // AUDIO SAMPLING, row-multiplying half: WAV → one row per 300-sample
      // PCM window (last window partial), per-window RMS/peak from a real
      // sample scan. Square-wave fixtures make RMS exactly amp in EVERY
      // window; the window count and last-window size vary by id.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.explodeAudioWindows(
          Multimodal.synthWavs(docs, "doc_id"), "doc_id", "audio",
          windowSamples = 300)
        .select(col("doc_id"), col("window_idx").cast("long").as("window_idx"),
          col("n_in_window").cast("long").as("n_in_window"),
          col("rms"), col("peak").cast("long").as("peak"))
        .orderBy(col("doc_id"), col("window_idx"))
    },
      """WITH p AS (
        |  SELECT doc_id, 800 + doc_id % 800 AS n,
        |         100 + (doc_id * 11) % 900 AS amp
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n, amp,
        |    unnest(range(CAST(ceil(n / 300.0) AS BIGINT))) AS window_idx
        |  FROM p)
        |SELECT doc_id, window_idx,
        |  CAST(CASE WHEN window_idx < CAST(ceil(n / 300.0) AS BIGINT) - 1
        |       THEN 300
        |       ELSE n - 300 * (CAST(ceil(n / 300.0) AS BIGINT) - 1)
        |       END AS BIGINT) AS n_in_window,
        |  CAST(amp AS DOUBLE) AS rms,
        |  CAST(amp AS BIGINT) AS peak
        |FROM w ORDER BY doc_id, window_idx""".stripMargin),

    Query("q_mm_frame_embed", (s, dir) => {
      // VIDEO SAMPLING, row-multiplying half: frame stream → one row per
      // frame (real PNG split) → per-frame pixel features (real decode).
      // Frame f of doc id is solid imgRgb(id + 29f), so the oracle predicts
      // every frame's mean channels from (id, frame_idx) alone.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val frames = Multimodal.explodeFrames(
        Multimodal.synthFrameStreams(docs, "doc_id"), "doc_id", "video")
      Multimodal.withFramePixelMeans(frames, "doc_id", "frame_idx", "frame")
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      """WITH f AS (
        |  SELECT doc_id, unnest(range(1 + doc_id % 5)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  CAST((doc_id + 29 * frame_idx) % 256 AS DOUBLE) AS mean_r,
        |  CAST(((doc_id + 29 * frame_idx) * 3) % 256 AS DOUBLE) AS mean_g,
        |  CAST(((doc_id + 29 * frame_idx) * 5) % 256 AS DOUBLE) AS mean_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    Query("q_mm_graph", (s, dir) => {
      // MULTIMODAL THROUGH THE SPEC/RUNNER LAYER: a parquet with binary
      // media columns loaded content-addressed, then SelectBinaryColumnOp →
      // ImageMetaOp (real decode) / ImageResizeOp → ImageEmbedOp (real
      // bilinear resample, then real pixel sampling) / AudioMetaOp (real
      // RIFF walk) — every stage persisted + memoized under its uuid. The
      // oracle predicts all of it from doc_id (quad colors survive the
      // resize at grid sample points — proven exhaustively in
      // MultimodalSpec).
      val r = runnerFor(s)
      val ds = r.fromParquet(mmFixtureFor(s, dir))
      val img = SelectBinaryColumnOp(ds, "img")
      val meta = ImageMetaOp(img)
      val emb = ImageEmbedOp(ImageResizeOp(img, maxSide = 64L), grid = 2L)
      val audio = AudioMetaOp(SelectBinaryColumnOp(ds, "audio"))
      val idx = col(ColumnOps.RowIdx)
      val ids = r.toFrame(ds).select(idx, col("doc_id"))
      val m = r.toFrame(meta)
      val a = r.toFrame(audio)
        .select(idx, col("sample_rate"), col("n_samples"), col("rms"))
      val e = r.toFrame(emb).select(idx, posexplode(col("value")))
      ids.join(m, ColumnOps.RowIdx).join(a, ColumnOps.RowIdx)
        .join(e, ColumnOps.RowIdx)
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("rms"),
          col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy(col("doc_id"), col("pos"))
    },
      """WITH e AS (SELECT doc_id, unnest(range(4)) AS pos FROM documents)
        |SELECT doc_id,
        |  16 + doc_id % 112 AS width,
        |  16 + (doc_id * 7) % 112 AS height,
        |  'png' AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS BIGINT) AS sample_rate,
        |  CAST(800 + doc_id % 800 AS BIGINT) AS n_samples,
        |  CAST(100 + (doc_id * 11) % 900 AS DOUBLE) AS rms,
        |  pos,
        |  ((doc_id + 37 * pos) % 256 + (doc_id * 3 + 59 * pos) % 256
        |    + (doc_id * 5 + 83 * pos) % 256) / 765.0 AS val
        |FROM e ORDER BY doc_id, pos""".stripMargin),

    Query("q_mm_frames_graph", (s, dir) => {
      // ROW-MULTIPLYING op through the spec layer: frame-stream column →
      // ExplodeFramesOp (fresh positional identity, one row per frame) →
      // the exploded `frame` column re-enters the image family via
      // SelectBinaryColumnOp → ImageMetaOp. Oracle predicts per-doc frame
      // counts and per-frame dims from doc_id.
      val r = runnerFor(s)
      val ds = r.fromParquet(mmFixtureFor(s, dir))
      val frames = ExplodeFramesOp(SelectBinaryColumnOp(ds, "video"))
      val meta = ImageMetaOp(SelectBinaryColumnOp(frames, "frame"))
      val idx = col(ColumnOps.RowIdx)
      val ids = r.toFrame(ds)
        .select(idx.as("parent_idx"), col("doc_id"))
      r.toFrame(frames).select(idx, col("parent_idx"), col("frame_idx"))
        .join(ids, "parent_idx")
        .join(r.toFrame(meta), ColumnOps.RowIdx)
        .select(col("doc_id"), col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      """WITH f AS (
        |  SELECT doc_id, unnest(range(1 + doc_id % 5)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  16 + doc_id % 48 AS width,
        |  16 + (doc_id * 3) % 48 AS height,
        |  'png' AS format
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    Query("q_dedup_graph", (s, dir) => {
      // NEAR-DUP DEDUP THROUGH THE SPEC LAYER: content-addressed load →
      // MinHashNearDupPairsOp (banded LSH over row indices) →
      // DropNearDuplicatesOp (connected components, min-index survivor,
      // contiguous re-index) — every stage persisted under its uuid. The
      // disjoint-vocabulary fixture makes the pair set provably EXACTLY the
      // planted copies, so the survivor set (the 100 originals, re-indexed
      // in file order) is a constant the oracle can state.
      val r = runnerFor(s)
      val ds = r.fromParquet(dedupFixtureFor(s))
      val pairs = MinHashNearDupPairsOp(SelectTextColumnOp(ds, "text"),
        shingleN = 3L, threshold = 0.5)
      val kept = DropNearDuplicatesOp(ds, pairs)
      r.toFrame(kept)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("doc_id"))
        .orderBy(col("row_idx"))
    },
      // constant-output oracle (q_lsh_skew_report precedent): the fixture is
      // engine-synthesized, so the expected survivors are stated directly —
      // the 100 originals, re-indexed contiguously in file order
      """WITH s AS (SELECT unnest(range(100)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, CAST(i AS BIGINT) AS doc_id
        |FROM s ORDER BY row_idx""".stripMargin),

    Query("q_best_graph", (s, dir) => {
      // QUALITY-AWARE survivor selection through the spec layer, same
      // fixture and pair op as q_dedup_graph: quality = doc_id, so every
      // planted COPY outscores its original and the keep set is exactly
      // the INVERSE of the min-index rule — rows 100..199 true
      val r = runnerFor(s)
      val ds = r.fromParquet(dedupFixtureFor(s))
      val pairs = MinHashNearDupPairsOp(SelectTextColumnOp(ds, "text"),
        shingleN = 3L, threshold = 0.5)
      r.toFrame(KeepBestPerClusterOp(SelectScoreColumnOp(ds, "quality"), pairs))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    },
      // keep-best inverts the survivor set: the copies (rows 100..199,
      // quality = doc_id + 1000) win every cluster
      """WITH s AS (SELECT unnest(range(200)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, (i >= 100) AS value
        |FROM s ORDER BY row_idx""".stripMargin),

    Query("q_sh_graph", (s, dir) => {
      // the SimHash spec-op chain over the same disjoint-vocab fixture:
      // distinct docs' sketches are 64 independent fair bits (P(hamming≤8)
      // ≈ 3e-10/pair), so pairs = exactly the planted copies and the
      // survivor set is the same constant
      val r = runnerFor(s)
      val ds = r.fromParquet(dedupFixtureFor(s))
      val pairs = SimHashNearDupPairsOp(SelectTextColumnOp(ds, "text"),
        maxHamming = 8L)
      r.toFrame(DropNearDuplicatesOp(ds, pairs))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("doc_id"))
        .orderBy(col("row_idx"))
    },
      """WITH s AS (SELECT unnest(range(100)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, CAST(i AS BIGINT) AS doc_id
        |FROM s ORDER BY row_idx""".stripMargin),

    Query("q_cos_graph", (s, dir) => {
      // the cosine spec-op chain: embeddings + exact vector copies of the
      // first 50 rows appended → identical sketches guarantee the planted
      // candidates, random 64-d vectors never reach cos 0.95 → survivors =
      // the original rows, re-indexed in vec_id order (oracle replays from
      // the embeddings table)
      val r = runnerFor(s)
      val path = cosineFixtureFor(s, dir)
      val ds = r.fromParquet(path)
      val pairs = CosineNearDupPairsOp(SelectVectorColumnOp(ds, "embedding"),
        dim = 64L, threshold = 0.95)
      r.toFrame(DropNearDuplicatesOp(ds, pairs))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("vec_id"))
        .orderBy(col("row_idx"))
    },
      """SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS row_idx,
        |vec_id FROM embeddings ORDER BY row_idx""".stripMargin),

    Query("q_sem_graph", (s, dir) => {
      // SEMANTIC DEDUP THROUGH THE SPEC LAYER: the same planted fixture as
      // q_cos_graph (copies of the first 50 rows appended after all
      // originals in vec_id order), ids = positional row indices,
      // centroids = row indices 0..7 — content-addressed like the other
      // dedup chains. Copies land in their originals' cells (identical
      // cosines, same tie-break) and are flagged keep=false; the DuckDB
      // oracle replays assignment, pairing, and the survivor rule over
      // file-order row numbers.
      val r = runnerFor(s)
      val ds = r.fromParquet(cosineFixtureFor(s, dir))
      // the oracle replays NO split (leaf = cell string) — true only while
      // every cell fits the default maxCell; guard the regime loudly
      val nRows = r.toFrame(SelectVectorColumnOp(ds, "embedding")).count()
      require(nRows <= 10000L,
        s"q_sem_graph's no-split oracle is pinned to corpora <= default " +
          s"maxCell (10000) rows; got $nRows")
      val sem = SemanticDedupOp(SelectVectorColumnOp(ds, "embedding"),
        centroidIds = 0L to 7L, threshold = 0.8)
      r.toFrame(sem)
        .select(col("id").as("row_idx"), col("cell"), col("leaf"), col("keep"))
        .orderBy(col("row_idx"))
    },
      // spec-layer SemDeDup replay over the q_cos_graph fixture: positional
      // row ids in vec_id order (copies sort after every original), centroids
      // = rows 0..7, max-cosine assignment (ties -> smaller cell), survivor
      // rule within cells; no cell overflows at sf0.01 so leaf = cell string
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 50),
        |base AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS rid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM u),
        |cent AS (SELECT CAST(rid AS INT) cent_id, v AS cv FROM base WHERE rid < 8),
        |assign AS (
        |  SELECT rid, cell, v FROM (
        |    SELECT b.rid, c.cent_id AS cell, b.v,
        |      row_number() OVER (PARTITION BY b.rid
        |        ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cent_id) rn
        |    FROM base b, cent c) WHERE rn = 1),
        |dup AS (
        |  SELECT DISTINCT b.rid AS dup_id
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.rid < b.rid
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
        |SELECT a.rid AS row_idx, a.cell, CAST(a.cell AS VARCHAR) AS leaf,
        |  (d.dup_id IS NULL) AS keep
        |FROM assign a LEFT JOIN dup d ON a.rid = d.dup_id
        |ORDER BY row_idx""".stripMargin),

    Query("q_ann_graph", (s, dir) => {
      // ANN THROUGH THE SPEC LAYER: vector column + positional TakeRows
      // query slice → AnnBruteTopKOp, ids = row indices; DuckDB replays
      // the whole ranking over file-order row numbers (q_runner_slice
      // precedent for positional identity).
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val corpus = SelectVectorColumnOp(ds, "embedding")
      val queries = SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(3L)), "embedding")
      r.toFrame(AnnBruteTopKOp(corpus, queries, k = 5L))
        .select(col("query_id"), col("corpus_id"), col("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH base AS (
        |  SELECT row_number() OVER () - 1 AS rid,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT rid AS qid, v AS qv FROM base WHERE rid < 3),
        |s AS (SELECT qid AS query_id, b.rid AS corpus_id,
        |  list_cosine_similarity(qv, v) AS cosf FROM q, base b),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_pq_graph", (s, dir) => {
      // IVF-PQ THROUGH THE SPEC LAYER: corpus + positional TakeRows query
      // slice → IvfPqTopKOp with explicit member centroids (row indices
      // 0..7) and codewords (0..15, m=8 subspaces) — content-addressed
      // like the other ANN chains; the DuckDB oracle replays assignment,
      // probe, per-subspace code argmin, and ADC scoring over file-order
      // row numbers.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val corpus = SelectVectorColumnOp(ds, "embedding")
      val queries = SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(3L)), "embedding")
      r.toFrame(IvfPqTopKOp(corpus, queries, 0L to 7L, 0L to 15L,
          k = 5L, m = 8L, nprobe = 2L))
        .select(col("query_id"), col("corpus_id"), col("score"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
      // the q_ann_ivfpq replay over file-order row numbers (the spec layer's
      // positional ids) instead of vec_id — same assignment, probe, code
      // argmin, and ADC arithmetic
      """WITH corp AS (SELECT row_number() OVER () - 1 AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
        |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
        |cw AS (SELECT s.sub, CAST(c.cid AS INT) j,
        |    c.v[s.sub*8+1 : s.sub*8+8] wv
        |  FROM corp c, subs s WHERE c.cid < 16),
        |cwn AS (SELECT sub, j, wv,
        |    list_sum(list_transform(wv, x -> x*x)) w2 FROM cw),
        |dist AS (SELECT c.cid, w.sub, w.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (c.v[w.sub*8+i] - w.wv[i]) * (c.v[w.sub*8+i] - w.wv[i]))) d
        |  FROM corp c, cwn w),
        |codes AS (SELECT cid, sub, j FROM (
        |    SELECT cid, sub, j,
        |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
        |    FROM dist) WHERE rn = 1),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |q AS (SELECT cid qid, v qv,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
        |  FROM corp WHERE cid < 3),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |elig AS (SELECT p.qid, a.cid FROM probe p JOIN assign a USING (cell)),
        |contrib AS (SELECT e.qid, e.cid,
        |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s,
        |    w.w2 r2_s
        |  FROM elig e JOIN q ON q.qid = e.qid
        |    JOIN codes cd ON cd.cid = e.cid
        |    JOIN cwn w ON w.sub = cd.sub AND w.j = cd.j),
        |sc AS (SELECT qid, cid, sum(num_s) num, sum(r2_s) r2
        |  FROM contrib GROUP BY 1, 2),
        |scored AS (SELECT sc.qid query_id, sc.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(sc.r2) > 0
        |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
        |  FROM sc JOIN q ON q.qid = sc.qid),
        |r AS (SELECT query_id, corpus_id, s,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
        |  FROM scored)
        |SELECT query_id, corpus_id, round(s, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_bpe_pairs", (s, dir) => {
      // tokenizer induction, round 0: corpus → unique-word frequencies
      // (ONE shuffle) → adjacent char-pair statistics — the argmax of this
      // table is BPE's first merge. Top-20 with a total ordering so the
      // oracle replays it exactly; the full multi-round loop is oracled by
      // q_bpe_train / q_bpe_encode below.
      Bpe.initialPairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
        .limit(20)
        .select(col("sym_a"), col("sym_b"), col("cnt"))
    },
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT word, COUNT(*) AS wcnt FROM w GROUP BY word),
        |p AS (SELECT word, wcnt, unnest(range(length(word) - 1)) AS i
        |      FROM wc WHERE length(word) >= 2),
        |pc AS (SELECT substr(word, CAST(i + 1 AS INT), 1) AS sym_a,
        |              substr(word, CAST(i + 2 AS INT), 1) AS sym_b,
        |              SUM(wcnt) AS cnt
        |       FROM p GROUP BY 1, 2)
        |SELECT sym_a, sym_b, CAST(cnt AS BIGINT) AS cnt
        |FROM pc ORDER BY cnt DESC, sym_a, sym_b LIMIT 20""".stripMargin),

    Query("q_unigram_train", (s, dir) => {
      // round 18: the OTHER major tokenizer family — unigram-LM
      // SentencePiece-style Viterbi-EM (ext/Unigram.scala, Kudo 2018)
      // next to the existing BPE. The oracle replays the seed substring
      // counts, the total-order top-`UniSeedMulti` selection, the
      // micro-nat scores, and EVERY EM round's per-word Viterbi DP (a
      // recursive CTE with a packed-int argmax) bit-for-bit.
      graft.ext.Unigram.trainTable(t(s, dir, "documents"), "text",
          seedMulti = UniSeedMulti, rounds = UniRounds, pieceLen = UniPieceLen)
        .orderBy(col("piece"))
    }, ("WITH RECURSIVE " +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + s"""
      |SELECT v.piece, CAST(v.cnt AS BIGINT) AS cnt, s.s AS score_u6
      |FROM v$UniRounds v JOIN s$UniRounds s USING (piece)
      |ORDER BY piece""".stripMargin)),

    Query("q_unigram_encode", (s, dir) => {
      // ENCODE with the trained unigram model: every unique corpus word
      // Viterbi-segmented under the final scores (map-only; the bounded
      // vocabulary rides as a broadcast). The oracle runs one MORE DP
      // round over the final score table and rebuilds each word's
      // segmentation string in piece order.
      val docs = t(s, dir, "documents")
      val fit = graft.ext.Unigram.train(docs, "text",
        seedMulti = UniSeedMulti, rounds = UniRounds, pieceLen = UniPieceLen)
      graft.ext.Unigram.encodeWords(docs, "text", fit, pieceLen = UniPieceLen)
        .orderBy(col("word"))
    }, ("WITH RECURSIVE " +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + ",\n" +
      unigramDpCtes(UniRounds + 1, UniRounds, UniPieceLen) + s"""
      |SELECT w.word, CAST(w.cnt AS BIGINT) AS cnt,
      |  CAST(COUNT(*) AS BIGINT) AS n_pieces,
      |  string_agg(p.piece, chr(31) ORDER BY p.j) AS seg
      |FROM upc${UniRounds + 1} p JOIN wl w USING (word)
      |GROUP BY w.word, w.cnt
      |ORDER BY w.word""".stripMargin)),

    Query("q_uni_graph", (s, dir) => {
      // spec-layer twin of the unigram family: TrainUnigramTokenizerOp
      // (the content-addressed integer vocab artifact) composed with
      // UnigramTokenizeOp through the runner — per-document piece arrays
      // over positional identity. The oracle replays training, one more
      // Viterbi round, and every document's word-ordered rebuild.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val text = SelectTextColumnOp(ds, "text")
      val tok = TrainUnigramTokenizerOp(text, seedMulti = UniSeedMulti.toLong,
        rounds = UniRounds.toLong, pieceLen = UniPieceLen.toLong)
      val pieces = UnigramTokenizeOp(tok, text)
      r.toFrame(pieces)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          size(col("value")).cast("long").as("n_pieces"),
          array_join(col("value"), "\u001f").as("seg"))
        .orderBy(col("row_idx"))
    }, ("WITH RECURSIVE " +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + ",\n" +
      unigramDpCtes(UniRounds + 1, UniRounds, UniPieceLen) + s""",
      |wseg AS (SELECT word, string_agg(piece, chr(31) ORDER BY j) AS seg,
      |           COUNT(*) AS np
      |         FROM upc${UniRounds + 1} GROUP BY word),
      |docs0 AS (SELECT row_number() OVER () - 1 AS row_idx,
      |            list_filter(regexp_split_to_array(trim(text), '\\s+'),
      |              x -> length(x) > 0) AS arr
      |          FROM documents),
      |docw AS (SELECT row_idx, u.i AS ord, arr[CAST(u.i + 1 AS INT)] AS word
      |         FROM docs0, LATERAL (SELECT unnest(range(len(arr))) AS i) u)
      |SELECT d.row_idx,
      |  COALESCE(CAST(SUM(ws.np) AS BIGINT), 0) AS n_pieces,
      |  COALESCE(string_agg(ws.seg, chr(31) ORDER BY dw.ord), '') AS seg
      |FROM docs0 d
      |LEFT JOIN docw dw ON dw.row_idx = d.row_idx
      |LEFT JOIN wseg ws ON ws.word = dw.word
      |GROUP BY d.row_idx
      |ORDER BY d.row_idx""".stripMargin)),

    Query("q_tok_compare", (s, dir) => {
      // round 18: TOKENIZER SELECTION — both subword families trained on
      // the same corpus and compared on corpus fertility (pieces per
      // whitespace word, integer micro-unit ratio): the eval a pipeline
      // runs before committing a tokenizer. One map pass per family +
      // one 1-row aggregate; the oracle replays BOTH training loops
      // (all BPE merge rounds AND all unigram EM rounds) in one query.
      import s.implicits._
      val docs = t(s, dir, "documents")
      // ONE corpus scan + unique-word shuffle shared by BOTH trainers
      // (round 22, guide §2.4 — each trainer otherwise re-derives the
      // identical wordCounts table from the corpus); both fits are pure
      // functions of this table, so results are unchanged by construction
      val wc = Bpe.wordCounts(docs, "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val merges = Bpe.trainMergesFromWordCounts(wc, BpeMerges)
      val fit = graft.ext.Unigram.trainFromWordCounts(wc,
        seedMulti = UniSeedMulti, rounds = UniRounds, pieceLen = UniPieceLen)
      wc.unpersist(false) // both fits are collected driver values by now
      val wordsCol = filter(split(trim(col("text")), "\\s+"),
        w => length(w) > 0)
      val agg = docs.select(
          size(Bpe.tokenizeColumn(col("text"), merges)).cast("long").as("bt"),
          size(graft.ext.Unigram.tokenizeColumn(col("text"), fit,
            UniPieceLen)).cast("long").as("ut"),
          size(wordsCol).cast("long").as("w"))
        .agg(sum(col("bt")), sum(col("ut")), sum(col("w"))).head()
      Seq(("bpe", agg.getLong(0), agg.getLong(2)),
          ("unigram", agg.getLong(1), agg.getLong(2)))
        .toDF("tokenizer", "tokens", "words")
        .withColumn("fertility_u6", expr("tokens * 1000000 div words"))
        .orderBy(col("tokenizer"))
    },
      // both tokenizer-training loops replayed in ONE query: the BPE merge
      // chain (w0..w6) and the unigram EM chain (seed → rounds → final DP)
      (bpeOracleCtes(BpeMerges) + ",\n" +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + ",\n" +
      unigramDpCtes(UniRounds + 1, UniRounds, UniPieceLen) + s""",
      |bt AS (SELECT CAST(SUM(cnt * len(list_filter(string_split(seg, chr(31)),
      |         x -> length(x) > 0))) AS BIGINT) AS tokens FROM w$BpeMerges),
      |ut AS (SELECT CAST(SUM(w.cnt) AS BIGINT) AS tokens
      |       FROM upc${UniRounds + 1} p JOIN wl w USING (word)),
      |tw AS (SELECT CAST(SUM(cnt) AS BIGINT) AS words FROM wl)
      |SELECT * FROM (
      |  SELECT 'bpe' AS tokenizer, bt.tokens, tw.words,
      |    bt.tokens * 1000000 // tw.words AS fertility_u6 FROM bt, tw
      |  UNION ALL
      |  SELECT 'unigram', ut.tokens, tw.words,
      |    ut.tokens * 1000000 // tw.words FROM ut, tw)
      |ORDER BY tokenizer""".stripMargin)),

    Query("q_bpe_train", (s, dir) => {
      // the FULL tokenizer-training loop, hash-oracled: `BpeMerges` merge
      // rounds, each = one distributed pair-count aggregation over the
      // unique-word table (corpus never rescanned after round 0's single
      // shuffle) + a total-order 1-row argmax. The oracle unrolls every
      // round as a recursive leftmost-replacement CTE chain — see
      // bpeOracleCtes for why leftmost-until-fixpoint == the engine's
      // greedy left-to-right mergeOnce pass.
      import s.implicits._
      val merges = Bpe.trainMerges(t(s, dir, "documents"), "text", BpeMerges)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "sym_a", "sym_b")
        .orderBy("rank")
    }, (bpeOracleCtes(BpeMerges) + "\n" +
      (0 until BpeMerges)
        .map(k => s"SELECT CAST($k AS BIGINT) AS rank, sym_a, sym_b FROM b$k")
        .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY rank"))),

    Query("q_bpe_encode", (s, dir) => {
      // ENCODE with the learned tokenizer: the corpus re-tokenized under
      // the learned merges — map-only, the (bounded) merge list rides the
      // closure like a broadcast dim — then top-30 token frequencies.
      // Oracle = the training chain's final unique-word table with tokens
      // exploded and weighted by word counts (identical by construction:
      // tokenizeColumn replays the same merges per word).
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", BpeMerges)
      docs.select(explode(Bpe.tokenizeColumn(col("text"), merges)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(30)
    }, (bpeOracleCtes(BpeMerges) + s""",
        |tk AS (SELECT unnest(list_filter(string_split(seg, chr(31)),
        |         x -> length(x) > 0)) AS token, cnt FROM w$BpeMerges)
        |SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt FROM tk GROUP BY 1
        |ORDER BY cnt DESC, token LIMIT 30""".stripMargin)),

    Query("q_mm_phash", (s, dir) => {
      // PERCEPTUAL image near-dup: noise images (LCG pixels keyed by id)
      // with exact copies planted at id+offset for id<50 → real decode →
      // dHash (9×8 bilinear luminance gradients) → hamming-banded pair
      // search. Distinct noise images have ~iid gradient bits, so
      // P(hamming ≤ 2) ≈ 2e3/2^64 per pair — the output is EXACTLY the 50
      // planted pairs at hamming 0, which the oracle states from doc_id.
      // The offset is max(doc_id)+1 (one tiny pruned-scan agg), derived
      // identically in the oracle SQL, so planted ids can never collide
      // with real ids at ANY scale factor.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val off = plantOffset(docs, "doc_id")
      val imgs = Multimodal.synthNoiseImages(docs, "doc_id")
      val planted = imgs.filter(col("doc_id") < 50)
        .select((col("doc_id") + off).as("doc_id"), col("img"))
      val hashed = Multimodal.withImageDHash(
        imgs.union(planted), "doc_id", "img")
      Dedup.hammingNearDuplicatesBySketch(hashed, "dhash", "doc_id",
          maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin),

    Query("q_mm_afp", (s, dir) => {
      // ACOUSTIC near-dup: energy-varying WAVs (LCG window amplitudes) with
      // exact copies planted at id+offset for id<50 → real PCM parse →
      // 64-bit energy-contour fingerprint → hamming-banded pair search.
      // Distinct streams have ~iid delta bits, so the output is EXACTLY
      // the 50 planted pairs at hamming 0. Offset = max(doc_id)+1, derived
      // identically in the oracle (see q_mm_phash).
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val off = plantOffset(docs, "doc_id")
      val wavs = Multimodal.synthPatternWavs(docs, "doc_id")
      val planted = wavs.filter(col("doc_id") < 50)
        .select((col("doc_id") + off).as("doc_id"), col("audio"))
      val hashed = Multimodal.withAudioFingerprint(
        wavs.union(planted), "doc_id", "audio")
      Dedup.hammingNearDuplicatesBySketch(hashed, "afp", "doc_id",
          maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin),

    Query("q_mm_vfp", (s, dir) => {
      // VIDEO near-dup: noise frame-streams (odd frame counts, LCG pixels
      // keyed by (id, frame)) with exact copies planted at id+offset for
      // id<50 → real per-frame decode → per-frame dHash sequence → per-bit
      // MAJORITY sketch → hamming-banded pair search. Majorities of iid
      // fair bits stay fair, so distinct videos collide with the same
      // ~2e3/2^64 per-pair probability as q_mm_phash and the output is
      // EXACTLY the 50 planted pairs at hamming 0. Offset = max(doc_id)+1,
      // derived identically in the oracle (see q_mm_phash).
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val off = plantOffset(docs, "doc_id")
      val vids = Multimodal.synthNoiseVideos(docs, "doc_id")
      val planted = vids.filter(col("doc_id") < 50)
        .select((col("doc_id") + off).as("doc_id"), col("video"))
      val fp = Multimodal.withVideoFingerprint(
        vids.union(planted), "doc_id", "video")
      Dedup.hammingNearDuplicatesBySketch(fp, "vsketch", "doc_id",
          maxHamming = 2)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin),

    Query("q_mm_ann", (s, dir) => {
      // END-TO-END MULTIMODAL RETRIEVAL: real pixels → ANN. Synthesize
      // quadrant-colored images, decode them and grid-sample a pixel
      // embedding from the raster, then brute-force cosine top-5 for the
      // first 3 images as queries. The fixture colors have period 256 in
      // doc_id, so the corpus contains exact visual copies every 256 ids —
      // the top-k provably retrieves them at cosine 1.0, and the oracle
      // replays the whole decode → featurize → rank chain from the formula.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val emb = Multimodal.withImageEmbedding(
        Multimodal.synthQuadImages(docs, "doc_id"), "doc_id", "img", grid = 2)
      val queries = emb.filter(col("doc_id") < 3)
      Similarity.bruteForceTopK(emb, "doc_id", "embedding",
          queries, "doc_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH e AS (
        |  SELECT doc_id, list_transform(range(4), p ->
        |    ((doc_id + 37 * p) % 256 + (doc_id * 3 + 59 * p) % 256
        |      + (doc_id * 5 + 83 * p) % 256) / 765.0) AS v
        |  FROM documents),
        |q AS (SELECT doc_id qid, v qv FROM e WHERE doc_id < 3),
        |s AS (SELECT qid query_id, e.doc_id corpus_id,
        |  list_cosine_similarity(qv, v) cosf FROM q, e),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )
}
