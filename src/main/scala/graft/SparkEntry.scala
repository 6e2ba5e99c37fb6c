package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Bm25, Bpe, Corpus, Dedup, Diversify, Dsir, Joins, LangModel, Multimodal, Profile, Retrieval, Similarity, TextAnalysis}
import graft.spec._
import graft.runner.LocalSparkRunner

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the scale extensions), with a DuckDB oracle wherever the
  * semantics are ANSI-SQL-expressible.
  *
  * Float discipline for oracle parity: aggregations of doubles are performed
  * over DECIMAL casts (exact, order-independent) and cast back to DOUBLE at
  * the end; per-row double arithmetic is IEEE-deterministic and identical in
  * both engines. Every query has an explicit ORDER BY in both forms.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The chained unigram-Jaccard near-dup pairs (doc i ~ i+1 ~ i+2 at
    * θ=0.9 without i ~ i+2) shared by the CC / PageRank / keep-best
    * gates — mirrors [[jaccardPairCtes]]. */
  private def chainedPairs(docs: DataFrame): DataFrame = {
    val cands = docs.select(col("doc_id").as("id_a"))
      .join(docs.select(col("doc_id").as("id_b")),
        col("id_b") > col("id_a") && col("id_b") <= col("id_a") + 5)
    Dedup.jaccardVerify(docs, "text", "doc_id", cands,
      shingleN = 1, threshold = 0.9)
  }

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

  /** events.ts arrives in whatever shape the driver's generator last wrote:
    * TIMESTAMP(NANOS) parquet reads as Long (`spark.sql.legacy.parquet
    * .nanosAsLong`, set in Verify/Bench), TIMESTAMP(MICROS) without the
    * UTC-adjusted flag reads as TIMESTAMP_NTZ (which `unix_micros` rejects).
    * Normalize both to microsecond TimestampType under the UTC session tz —
    * the same instants DuckDB sees on read, invariant to the writer.
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ→timestamp cast reinterprets wall-clock fields in the
        // SESSION zone; only under UTC does that yield the same instants
        // DuckDB reads. Fail loudly instead of hash-mismatching later.
        require(df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          "events TIMESTAMP_NTZ normalization requires " +
            "spark.sql.session.timeZone=UTC (got '" +
            df.sparkSession.conf.get("spark.sql.session.timeZone") + "')")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  private def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(t(s, dir, "events"))

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** One content-addressed store per JVM for the runner-backed queries —
    * results are keyed by dataset content hash, so sf dirs don't collide.
    * `resetRunnerKeepLoads` clears results between Bench's steady passes
    * (queries re-EXECUTE rather than serving `done`-marker cache hits)
    * while the stamped ingest copies persist. */
  @volatile private var queryStore: String =
    java.nio.file.Files.createTempDirectory("graft-query-store-").toString
  /** One runner per session, not per query invocation: each runner persists
    * its SelectColumnOp frames into the session-shared block cache, so
    * per-query runners leak cache entries (and spam `already cached`
    * warnings) across a multi-query run. */
  private val runnerCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, LocalSparkRunner]
  private def runnerFor(s: SparkSession): LocalSparkRunner =
    runnerCache.computeIfAbsent(s, s2 => new LocalSparkRunner(s2, queryStore))

  /** Release the session's runner and its block-cache entries (call before
    * `spark.stop()`); the content-addressed store itself survives. */
  def closeRunner(s: SparkSession): Unit = {
    val r = runnerCache.remove(s)
    if (r != null) r.close()
  }

  /** Reset for a steady-state bench pass: drop every memoized RESULT so
    * runner-backed queries re-execute, but KEEP the stamped ingest copies
    * (`Load*DatasetOp` store entries). Ingest stamping is a once-per-dataset
    * cost by design — the stamped copy is shared by every later plan,
    * process, and machine — so a steady pass should measure the post-ingest
    * regime; a fresh-store reset (round 12) re-paid the stamping write
    * inside every timed pass, drifting the whole headline upward without
    * any plan change. */
  def resetRunnerKeepLoads(s: SparkSession): Unit = {
    closeRunner(s)
    val root = java.nio.file.Paths.get(queryStore)
    if (java.nio.file.Files.isDirectory(root)) {
      val keep = Set("LoadLocalParquetDatasetOp", "LoadLocalJsonlDatasetOp",
        "LoadLocalCsvDatasetOp")
      val children = java.nio.file.Files.list(root)
      try children.forEach { p =>
        if (!keep(p.getFileName.toString))
          graft.runner.LocalSparkRunner.deleteTreeTolerant(p)
      } finally children.close()
    }
  }

  /** On-disk IVF index over `embeddings`, built once per (JVM, sf dir):
    * centroids = corpus members vec_id 0..7 (deterministic AND replayable
    * by the SQL oracle), corpus parquet partitioned by cell id. */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def ivfIndexFor(s: SparkSession, dir: String): String =
    ivfIndexCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-index-").toString
      val emb = t(s, d, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L until 8L), path)
      path
    })

  /** The chunked corpus as an ANN corpus: hashed-TF embeddings of the
    * q_chunk windows, composite id `doc_id·10⁴ + chunk_idx` (the same
    * attribution key q_chunk_bm25 uses). Model-free and SQL-replayable —
    * the dense mirror of the chunk→BM25 leg. */
  private def chunkEmb(s: SparkSession, dir: String): DataFrame =
    Corpus.chunkWords(t(s, dir, "documents"), "doc_id", "text",
        size = 32, overlap = 8)
      .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
        TextAnalysis.hashedTfEmbedding(col("chunk_text"), 64).as("emb"))

  /** On-disk IVF index over the CHUNKED corpus's hashed-TF embeddings,
    * built once per (JVM, sf dir): centroids = the first chunk of docs
    * 0..7 (cell ids positional 0..7 — deterministic AND replayable by the
    * SQL oracle), chunk parquet partitioned by cell id. The passage-level
    * index dense RAG serving probes (q_chunk_ann). */
  private val chunkIvfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def chunkIvfIndexFor(s: SparkSession, dir: String): String =
    chunkIvfIndexCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-chunk-ivf-").toString
      val emb = chunkEmb(s, d)
      Similarity.buildIvfIndex(emb, "chunk_id", "emb",
        Similarity.centroidsByIds(emb, "chunk_id", "emb",
          (0L until 8L).map(_ * 10000L)), path)
      path
    })

  /** Deterministic 16→8→4 MLP weight fixture for the in-process `mlp:`
    * provider (q_llm_mlp): dyadic weights (k/1024) from a replayable
    * integer formula, so with integer hashed-TF inputs EVERY product and
    * sum in the forward pass is exact in IEEE double and the oracle
    * rebuilds the whole net — ReLU layer, affine head — bit for bit.
    * One JSON file per JVM; the same formula feeds the oracle SQL. */
  private[graft] object MlpFixture {
    def w1(j: Int, i: Int): Int = ((3 * j + 5 * i + 1) % 9) - 4
    def b1(j: Int): Int = (j % 5) - 2
    def w2(j: Int, i: Int): Int = ((7 * j + 11 * i + 3) % 9) - 4
    def b2(j: Int): Int = (j % 3) - 1
    lazy val path: String = {
      // Double.toString is shortest-roundtrip: Jackson parses back the
      // identical dyadic double
      def row(f: Int => Int, n: Int) =
        (0 until n).map(i => (f(i) / 1024.0).toString).mkString("[", ",", "]")
      def mat(f: (Int, Int) => Int, out: Int, in: Int) =
        (0 until out).map(j => row(i => f(j, i), in)).mkString("[", ",", "]")
      val json =
        s"""{"dim_in": 16,
           | "layers": [
           |  {"w": ${mat(w1, 8, 16)}, "b": ${row(b1, 8)}},
           |  {"w": ${mat(w2, 4, 8)}, "b": ${row(b2, 4)}}],
           | "vocab": {"yes": [1.0,0.0,0.0,0.0], "no": [0.0,1.0,0.0,0.0]}}
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft-mlp-", ".json")
      java.nio.file.Files.writeString(f, json)
      f.toString
    }
  }

  /** The q_tf_embed transformer weights (shared engine/oracle): every
    * matrix entry is a small-integer formula over (row, col) scaled by
    * 1/16 — dyadic, so the q/k/v projections and attention scores are
    * EXACT in IEEE double and the oracle inlines the same integers. */
  private[graft] object TfFixture {
    val Dim = 8
    val MaxLen = 8
    def wq(r: Int, c: Int): Int = (3 * r + 5 * c + 1) % 9 - 4
    def wk(r: Int, c: Int): Int = (7 * r + 2 * c + 3) % 9 - 4
    def wv(r: Int, c: Int): Int = (2 * r + 7 * c + 5) % 9 - 4
    def w1(r: Int, c: Int): Int = (5 * r + 3 * c + 2) % 9 - 4
    def b1(r: Int): Int = r % 5 - 2
    def w2(r: Int, c: Int): Int = (4 * r + 5 * c + 1) % 9 - 4
    def b2(r: Int): Int = r % 3 - 1
    /** p(i,k), in the same 1/16 dyadic units as the weights. */
    def posEnc(i: Int, k: Int): Int = (5 * i + 3 * k + 1) % 9 - 4
    lazy val path: String = {
      def row(f: Int => Int) =
        (0 until Dim).map(r => (f(r) / 16.0).toString).mkString("[", ",", "]")
      def mat(f: (Int, Int) => Int) =
        (0 until Dim).map(r => (0 until Dim)
          .map(c => (f(r, c) / 16.0).toString).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
      val json =
        s"""{"dim": $Dim, "max_len": $MaxLen,
           | "wq": ${mat(wq)}, "wk": ${mat(wk)}, "wv": ${mat(wv)},
           | "w1": ${mat(w1)}, "b1": ${row(b1)},
           | "w2": ${mat(w2)}, "b2": ${row(b2)},
           | "vocab": {"yes": [1,0,0,0,0,0,0,0], "no": [0,1,0,0,0,0,0,0]}}
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft-tf-", ".json")
      java.nio.file.Files.writeString(f, json)
      f.toString
    }
  }

  /** The q_tf_deep weights: a 2-BLOCK × 2-HEAD stack under the same
    * dyadic discipline as [[TfFixture]], with DISTINCT small-integer
    * formulas per block so the layers are genuinely different functions
    * (a shared-weight stack would let a depth bug cancel out). Rendered
    * once here and consumed twice: as the provider's stacked-JSON weight
    * file and as the SQL oracle's inlined integers. */
  private[graft] object TfFixture2 {
    val Dim = 8
    val MaxLen = 8
    val Blocks: Seq[TfBlockFix] = Seq(
      TfBlockFix(2,
        wq = (r, c) => (3 * r + 5 * c + 2) % 9 - 4,
        wk = (r, c) => (7 * r + 2 * c + 1) % 9 - 4,
        wv = (r, c) => (2 * r + 7 * c + 3) % 9 - 4,
        w1 = (r, c) => (5 * r + 3 * c + 4) % 9 - 4,
        b1 = r => r % 5 - 2,
        w2 = (r, c) => (4 * r + 5 * c + 2) % 9 - 4,
        b2 = r => r % 3 - 1),
      // block 1 exercises the FULL real-checkpoint block shape oracled:
      // attention output projection wo, learned LayerNorm γ (near-1
      // dyadics) and β
      TfBlockFix(2,
        wq = (r, c) => (6 * r + c + 2) % 9 - 4,
        wk = (r, c) => (r + 6 * c + 5) % 9 - 4,
        wv = (r, c) => (5 * r + 4 * c + 1) % 9 - 4,
        w1 = (r, c) => (2 * r + 5 * c + 3) % 9 - 4,
        b1 = r => r % 4 - 2,
        w2 = (r, c) => (7 * r + 3 * c + 2) % 9 - 4,
        b2 = r => (r + 1) % 3 - 1,
        wo = Some((r, c) => (3 * r + 7 * c + 4) % 9 - 4),
        lnG = Some(r => 14 + r % 3),
        lnB = Some(r => r % 3 - 1)))
    /** Learned input layer (round 19): a token-embedding table over six
      * corpus-frequent words (every doc hits the learned path AND the
      * md5-nibble OOV fallback) and a learned positional matrix — the
      * W_E/W_pos of a real checkpoint, dyadic like everything else. */
    val EmbedTokens = Seq("scan", "column", "window", "order", "sort", "join")
    def embedV(t: Int)(k: Int): Int = (2 * t + 3 * k + 1) % 9 - 4
    val Embed: Seq[(String, Int => Int)] =
      EmbedTokens.zipWithIndex.map { case (tok, t) => tok -> embedV(t) _ }
    def posM(i: Int, k: Int): Int = (7 * i + 2 * k + 3) % 9 - 4
    lazy val path: String = {
      def row(f: Int => Int) =
        (0 until Dim).map(r => (f(r) / 16.0).toString).mkString("[", ",", "]")
      def mat(f: (Int, Int) => Int) =
        (0 until Dim).map(r => (0 until Dim)
          .map(c => (f(r, c) / 16.0).toString).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
      val bjs = Blocks.map { b =>
        val opt = b.wo.map(m => s""", "wo": ${mat(m)}""").getOrElse("") +
          b.lnG.map(g => s""", "ln_g": ${row(g)}""").getOrElse("") +
          b.lnB.map(be => s""", "ln_b": ${row(be)}""").getOrElse("")
        s"""{"heads": ${b.heads},
           |  "wq": ${mat(b.wq)}, "wk": ${mat(b.wk)}, "wv": ${mat(b.wv)},
           |  "w1": ${mat(b.w1)}, "b1": ${row(b.b1)},
           |  "w2": ${mat(b.w2)}, "b2": ${row(b.b2)}$opt}""".stripMargin
      }.mkString("[", ",\n", "]")
      val json =
        s"""{"dim": $Dim, "max_len": $MaxLen,
           | "blocks": $bjs,
           | "embed": ${Embed.map { case (tok, f) =>
                s""""$tok": ${(0 until Dim).map(k => (f(k) / 16.0).toString)
                  .mkString("[", ",", "]")}"""
              }.mkString("{", ", ", "}")},
           | "pos": ${(0 until MaxLen).map(i => (0 until Dim)
                .map(k => (posM(i, k) / 16.0).toString)
                .mkString("[", ",", "]")).mkString("[", ",", "]")},
           | "vocab": {"yes": [1,0,0,0,0,0,0,0], "no": [0,1,0,0,0,0,0,0]}}
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft-tf2-", ".json")
      java.nio.file.Files.writeString(f, json)
      f.toString
    }
  }

  /** The q_tf_preln weights: a 2-block × 2-head PRE-LN stack with GELU
    * FFNs — the GPT-2 / TransformerLens architecture shape (reference
    * `model_registry_implementations.py:81-407` serves exactly such
    * checkpoints): LN1 (learned γ/β) before the projections, the
    * attention output added onto the RAW residual stream, LN2 (its own
    * γ/β) before a RECTANGULAR FFN (hid = 12 ≠ dim = 8, the real 4×dim
    * shape scaled down), GELU via the pinned tanh-approximation chain.
    * Block 1 adds the output projection wo. Distinct small-integer
    * dyadic formulas per block, same discipline as [[TfFixture2]]. */
  private[graft] object TfFixture3 {
    val Dim = 8
    val MaxLen = 8
    val Hid = 12
    val Blocks: Seq[TfBlockFix] = Seq(
      TfBlockFix(2,
        wq = (r, c) => (4 * r + 3 * c + 1) % 9 - 4,
        wk = (r, c) => (2 * r + 5 * c + 4) % 9 - 4,
        wv = (r, c) => (6 * r + c + 2) % 9 - 4,
        w1 = (r, c) => (3 * r + 4 * c + 5) % 9 - 4,
        b1 = r => r % 5 - 2,
        w2 = (r, c) => (5 * r + 2 * c + 3) % 9 - 4,
        b2 = r => r % 3 - 1,
        lnG = Some(r => 14 + (r + 1) % 3),
        lnB = Some(r => (r + 2) % 3 - 1),
        preLn = true,
        ln2G = Some(r => 15 + r % 2),
        ln2B = Some(r => r % 3 - 1),
        act = "gelu", hid = Hid),
      TfBlockFix(2,
        wq = (r, c) => (r + 7 * c + 3) % 9 - 4,
        wk = (r, c) => (5 * r + 3 * c + 2) % 9 - 4,
        wv = (r, c) => (3 * r + 6 * c + 1) % 9 - 4,
        w1 = (r, c) => (7 * r + 2 * c + 4) % 9 - 4,
        b1 = r => (r + 1) % 4 - 2,
        w2 = (r, c) => (2 * r + 7 * c + 1) % 9 - 4,
        b2 = r => (r + 2) % 3 - 1,
        wo = Some((r, c) => (4 * r + 5 * c + 2) % 9 - 4),
        lnG = Some(r => 14 + r % 3),
        lnB = Some(r => r % 2),
        preLn = true,
        ln2G = Some(r => 16 - r % 3),
        ln2B = Some(r => (r + 1) % 3 - 1),
        act = "gelu", hid = Hid))
    /** Final-LayerNorm γ/β and a DENSE vocab head (dyadic formulas) for
      * the ln_f logits gate — rendered only when `renderPath` asks. */
    def lnFG(r: Int): Int = 15 + (r + 1) % 2
    def lnFB(r: Int): Int = (r + 2) % 3 - 1
    def vocabYes(k: Int): Int = (3 * k + 1) % 9 - 4
    def vocabNo(k: Int): Int = (5 * k + 2) % 9 - 4

    private[graft] def renderPath(softmax: String,
                                  lnF: Boolean = false,
                                  denseVocab: Boolean = false): String = {
      def rowN(f: Int => Int, n: Int) =
        (0 until n).map(r => (f(r) / 16.0).toString).mkString("[", ",", "]")
      def matN(f: (Int, Int) => Int, rows: Int, cols: Int) =
        (0 until rows).map(r => (0 until cols)
          .map(c => (f(r, c) / 16.0).toString).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
      val bjs = Blocks.map { b =>
        val opt = b.wo.map(m => s""", "wo": ${matN(m, Dim, Dim)}""").getOrElse("")
        s"""{"heads": ${b.heads}, "pre_ln": true, "act": "gelu",
           |  "softmax": "$softmax",
           |  "wq": ${matN(b.wq, Dim, Dim)}, "wk": ${matN(b.wk, Dim, Dim)},
           |  "wv": ${matN(b.wv, Dim, Dim)},
           |  "w1": ${matN(b.w1, Hid, Dim)}, "b1": ${rowN(b.b1, Hid)},
           |  "w2": ${matN(b.w2, Dim, Hid)}, "b2": ${rowN(b.b2, Dim)},
           |  "ln_g": ${rowN(b.lnG.get, Dim)}, "ln_b": ${rowN(b.lnB.get, Dim)},
           |  "ln2_g": ${rowN(b.ln2G.get, Dim)}, "ln2_b": ${rowN(b.ln2B.get, Dim)}$opt}""".stripMargin
      }.mkString("[", ",\n", "]")
      val vocabJs =
        if (denseVocab)
          s"""{"yes": ${rowN(vocabYes, Dim)}, "no": ${rowN(vocabNo, Dim)}}"""
        else """{"yes": [1,0,0,0,0,0,0,0], "no": [0,1,0,0,0,0,0,0]}"""
      val lnfJs =
        if (lnF)
          s""" "ln_f_g": ${rowN(lnFG, Dim)}, "ln_f_b": ${rowN(lnFB, Dim)},\n"""
        else ""
      val json =
        s"""{"dim": $Dim, "max_len": $MaxLen,
           | "blocks": $bjs,
           |$lnfJs "vocab": $vocabJs}
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft-tf3-", ".json")
      java.nio.file.Files.writeString(f, json)
      f.toString
    }
    lazy val path: String = renderPath("int")
  }

  /** The q_tf_float weights: [[TfFixture3]]'s pre-LN GELU stack with
    * FLOAT-SOFTMAX attention — the COMPLETE GPT-2-class block function
    * (s = q·k/√d_h, real e^x weights via the pinned exp chain): the
    * round-19 "same function up to the integer-softmax attention" delta
    * is closed. Same weights as TfFixture3, different attention
    * function — both gates green pins exactly the softmax semantics. */
  private[graft] object TfFixture4 {
    val Dim = TfFixture3.Dim
    val MaxLen = TfFixture3.MaxLen
    val Hid = TfFixture3.Hid
    val Blocks: Seq[TfBlockFix] =
      TfFixture3.Blocks.map(_.copy(softmax = "float"))
    lazy val path: String = TfFixture3.renderPath("float")
    /** The ln_f + dense-vocab-head variant (q_tf_logits): the COMPLETE
      * GPT-2 head path — unembed(ln_f(resid_post)), pooled. */
    lazy val pathLnF: String =
      TfFixture3.renderPath("float", lnF = true, denseVocab = true)
  }

  /** q_tf_bpe fixture: [[TfFixture]]'s single post-LN block plus a
    * learned embed table keyed on single-CHARACTER subword tokens (chars
    * survive a short merge list in every corpus, so the learned-W_E path
    * is exercised at any SF; merged multi-char tokens take the
    * md5-nibble OOV fallback) and a STORED BPE TOKENIZER artifact — the
    * path is injected per sf-dir because the merges are trained on the
    * corpus itself ([[graft.ext.Bpe.train]], replayed by the oracle's
    * training CTEs). */
  private[graft] object TfFixtureBpe {
    val Dim = 8
    val MaxLen = 8
    val EmbedTokens = Seq("e", "t", "a", "o", "i", "n")
    def embedV(t: Int)(k: Int): Int = (3 * t + 2 * k + 2) % 9 - 4
    val Embed: Seq[(String, Int => Int)] =
      EmbedTokens.zipWithIndex.map { case (tok, t) => tok -> embedV(t) _ }
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, String]
    def path(tokenizerPath: String): String =
      cache.computeIfAbsent(tokenizerPath, { tp =>
        import TfFixture.{wq, wk, wv, w1, b1, w2, b2}
        def row(f: Int => Int) =
          (0 until Dim).map(r => (f(r) / 16.0).toString).mkString("[", ",", "]")
        def mat(f: (Int, Int) => Int) =
          (0 until Dim).map(r => (0 until Dim)
            .map(c => (f(r, c) / 16.0).toString).mkString("[", ",", "]"))
            .mkString("[", ",", "]")
        val json =
          s"""{"dim": $Dim, "max_len": $MaxLen,
             | "wq": ${mat(wq)}, "wk": ${mat(wk)}, "wv": ${mat(wv)},
             | "w1": ${mat(w1)}, "b1": ${row(b1)},
             | "w2": ${mat(w2)}, "b2": ${row(b2)},
             | "embed": ${Embed.map { case (tok, f) =>
                  s""""$tok": ${(0 until Dim).map(k => (f(k) / 16.0).toString)
                    .mkString("[", ",", "]")}"""
                }.mkString("{", ", ", "}")},
             | "tokenizer_path": "${tp.replace("\\", "\\\\")}",
             | "vocab": {"yes": [1,0,0,0,0,0,0,0], "no": [0,1,0,0,0,0,0,0]}}
             |""".stripMargin
        val f = java.nio.file.Files.createTempFile("graft-tfbpe-", ".json")
        java.nio.file.Files.writeString(f, json)
        f.toString
      })
  }

  /** Content-addressed BPE tokenizer artifact, trained once per
    * (JVM, sf dir) on the documents corpus — the stored-tokenizer input
    * the q_tf_bpe provider loads. */
  private val bpeTokCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def bpeTokenizerFor(s: SparkSession, dir: String): String =
    bpeTokCache.computeIfAbsent(dir, { d =>
      val (merges, _) =
        graft.ext.Bpe.train(t(s, d, "documents"), "text", BpeMerges)
      graft.ext.Bpe.saveTokenizer(merges,
        java.nio.file.Files.createTempDirectory("graft-bpe-tok-").toString)
    })

  /** On-disk inverted BM25 index, built once per (JVM, sf dir) —
    * q_bm25_indexed probes it instead of scanning the corpus. */
  private val bm25IndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    bm25IndexCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-bm25-index-").toString
      Bm25.buildIndex(t(s, d, "documents"), "doc_id", "text", path)
      path
    })

  /** Head-of-corpus BM25 index (doc_id < 250) + the tail as a 3-file
    * parquet fixture (2 micro-batches under maxFilesPerTrigger=1) — the
    * streaming-ingest twin appends the tail into a COPY of the head
    * index, then its standing query must equal the full-corpus scan. */
  private val bm25HeadIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def bm25HeadIndexFor(s: SparkSession, dir: String): String =
    bm25HeadIndexCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-bm25-head-").toString
      Bm25.buildIndex(t(s, d, "documents").filter(col("doc_id") < 250),
        "doc_id", "text", path)
      path
    })
  private val bm25TailFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def bm25TailFixtureFor(s: SparkSession, dir: String): String =
    bm25TailFixtureCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-bm25-tail-").toString + "/tail"
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") >= 250)
        .repartitionByRange(2, col("doc_id"))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** On-disk MinHash index over the OLD corpus (doc_id < 1000), built once
    * per (JVM, sf dir) — q_dedup_incr probes new batches against it. */
  private val minhashIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def minhashIndexFor(s: SparkSession, dir: String): String =
    minhashIndexCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-mh-index-").toString
      Dedup.buildMinhashIndex(s, path,
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 1000),
        "text", "doc_id")
      path
    })

  /** Recursive file copy of a (small, fixture-scale) directory tree into a
    * fresh temp dir — hands a mutating consumer (the streaming ingest
    * twin) its own disposable copy of a cached immutable index. */
  private def copyDir(src: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val from = Paths.get(src)
    val to = Files.createTempDirectory("graft-idx-copy-")
    val walk = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.foreach { p: Path =>
        val dst = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
    to.toString
  }

  /** The q_dedup_incr planted batch as a parquet directory (one file ⇒ one
    * micro-batch for the streaming ingest twin), written once per
    * (JVM, sf dir). */
  private val incrBatchFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def incrBatchFixtureFor(s: SparkSession, dir: String): String =
    incrBatchFixtureCache.computeIfAbsent(dir, { d =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-incr-batch-").toString + "/batch"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    })

  /** JSONL / CSV fixtures derived from `documents.parquet`, written once
    * per (JVM, sf dir): the q_load_jsonl / q_load_csv round-trips load them
    * back through the runner's content-addressed source ops. */
  private val fmtFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def formatFixtureFor(s: SparkSession, dir: String,
                               fmt: String): String =
    fmtFixtureCache.computeIfAbsent(s"$fmt:$dir", { _ =>
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-$fmt-fixture-").toString + "/docs"
      val base = t(s, dir, "documents")
      fmt match {
        case "jsonl" =>
          base.select(col("doc_id"), col("lang"), col("text"))
            .coalesce(1).write.mode("overwrite").json(path)
        case "csv" =>
          // no free-text column: CSV's quoted-newline escape needs the
          // non-splittable multiLine read — wrong trade for a fixture
          base.select(col("doc_id"), col("lang"))
            .coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(path)
      }
      path
    })

  /** Multimodal fixture parquet (doc_id, img: quad PNG, audio: WAV) written
    * once per (JVM, sf dir) in doc_id file order — the binary-column SOURCE
    * for the spec-layer multimodal graph query. */
  private val mmFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def mmFixtureFor(s: SparkSession, dir: String): String =
    mmFixtureCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-mm-fixture-").toString + "/media"
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.synthQuadImages(docs, "doc_id")
        .join(Multimodal.synthWavs(docs, "doc_id"), "doc_id")
        .join(Multimodal.synthFrameStreams(docs, "doc_id"), "doc_id")
        .orderBy("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Disjoint-vocabulary dedup fixture parquet (the q_dedup_minhash_planted
    * trick, persisted): 100 originals (doc_id 0..99) + exact copies at
    * +1000, written in doc_id order — the binary contract the spec-layer
    * dedup query's constant oracle relies on. */
  private val dedupFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def dedupFixtureFor(s: SparkSession): String =
    dedupFixtureCache.computeIfAbsent("fixture", { _ =>
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
    })

  /** Cosine-dedup fixture: the embeddings table in vec_id order with exact
    * vector copies of the first 50 rows appended (re-keyed +1000000). */
  private val cosineFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private def cosineFixtureFor(s: SparkSession, dir: String): String =
    cosineFixtureCache.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-cosine-fixture-").toString + "/emb"
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val copies = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      emb.union(copies).orderBy("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    })

  /** A file stream that delivers `batches` as consecutive micro-batches:
    * each is written as one parquet file under `b<i>` of a fresh temp dir,
    * and every batch but the last is back-dated (b0 oldest), so
    * `Trigger.AvailableNow` with `maxFilesPerTrigger=1`, which takes files
    * in modification-time order, delivers them in order without sleeping. */
  private def batchFileStream(s: SparkSession, tag: String,
                              batches: DataFrame*): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory(s"graft-$tag-src-")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$src/b$i")
    }
    batches.indices.init.foreach { i =>
      val files = Files.walk(Paths.get(s"$src/b$i"))
      try files.forEach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + i * 100000000000L)))
      finally files.close()
    }
    s.readStream
      .schema(s.read.parquet(s"$src/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(batches.indices.map(i => s"b$i")
        .mkString(s"$src/{", ",", "}/*.parquet"))
  }

  /** Runs a `*ToSink` operator as `run(sink, checkpoint)` into a fresh
    * temp sink and checkpoint dir, and returns the sink root. */
  private def runSink(tag: String)(run: (String, String) => Unit): String = {
    val sink = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-out-").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-ck-").toString
    run(sink, ckpt)
    sink
  }

  /** Reads a sink table back: every batch's rows without the `batch_id`
    * partition column, or with `newestOnly` only the newest `batch_id=B`
    * directory (a running state or card, or the last batch's verdicts). */
  private def readSink(s: SparkSession, dir: String,
                       newestOnly: Boolean = false): DataFrame =
    if (!newestOnly) s.read.parquet(dir).drop("batch_id")
    else {
      val newest = new java.io.File(dir).list()
        .filter(_.startsWith("batch_id="))
        .maxBy(_.stripPrefix("batch_id=").toLong)
      s.read.parquet(s"$dir/$newest")
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- headline relational (bench + capability demonstration) ----

    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_join_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("total_revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),

    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q_events_daily" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    "q_sessionize" -> ((s, dir) => {
      // gap-based sessionization (30 min), the batch shape of streaming
      // session windows: two stacked windows over (user_id, ts) — one
      // shuffle on user_id.
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          // microsecond-precision gap compare — unix_timestamp truncates to
          // whole seconds, which disagreed with the oracle's fractional
          // epoch() on boundary gaps (round-1 hash mismatch)
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- scans / sources (SURVEY §2.1) ----

    "q_load_parquet" -> ((s, dir) => {
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    }),

    "q_load_inline_json" -> ((s, dir) => {
      // LoadInlineJsonDatasetOp THROUGH THE RUNNER: the dataset rides in
      // the spec itself (ephemeral — no store write). Materialized by the
      // engine rather than restated inline, so a broken inline decode path
      // hash-fails against the oracle's constants.
      val r = runnerFor(s)
      val ds = LoadInlineJsonDatasetOp(Map(
        "id" -> Seq(1L, 2L, 3L),
        "name" -> Seq("alpha", "beta", "gamma"),
        "flag" -> Seq(true, false, true)))
      r.toFrame(ds).select(col("id"), col("name"), col("flag"))
        .orderBy(col("id"))
    }),

    "q_load_jsonl" -> ((s, dir) => {
      // LoadLocalJsonlDatasetOp: documents round-tripped through
      // newline-delimited JSON (the LLM-corpus interchange format) and
      // loaded back content-addressed through the runner; the oracle reads
      // the same rows from the parquet base table, so any encode/decode
      // mangling (escaping, unicode, schema drift) hash-fails.
      val r = runnerFor(s)
      val ds = r.fromJsonl(formatFixtureFor(s, dir, "jsonl"))
      r.toFrame(ds)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    }),

    "q_load_csv" -> ((s, dir) => {
      // LoadLocalCsvDatasetOp: headered CSV round-trip, inferred types
      // normalized by explicit cast (CSV inference may narrow to int)
      val r = runnerFor(s)
      val ds = r.fromCsv(formatFixtureFor(s, dir, "csv"))
      r.toFrame(ds)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ---- projection / typed selects (SURVEY §2.2) ----

    "q_select_text" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"), col("c_name").as("text_val"))
        .orderBy(col("c_custkey"))
    }),

    "q_select_score" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice").as("score_val"))
        .orderBy(col("o_orderkey"))
    }),

    "q_select_categorical" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus").as("category_val"))
        .orderBy(col("o_orderkey"))
    }),

    "q_select_vector" -> ((s, dir) => {
      // flattened (vec_id, pos, val) form: scalar columns hash-compare in
      // the driver's pandas harness (round-1 list columns were unhashable)
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    "q_select_json" -> ((s, dir) => {
      events(s, dir).select(col("event_id"), col("props").as("json_val"))
        .orderBy(col("event_id"))
    }),

    "q_select_boolean" -> ((s, dir) => {
      import s.implicits._
      Seq((1, true), (2, false), (3, true), (4, false))
        .toDF("id", "flag").orderBy(col("id"))
    }),

    "q_select_split" -> ((s, dir) => {
      // SelectTrainTestSplitColumnOp parity: a split-typed column
      // (values ∈ {train,test}) selected off a dataset
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(4)) === 0, "test").otherwise("train")
            .as("split_val"))
        .orderBy(col("c_custkey"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // as-of join: each click attributed to the user's latest purchase at
      // or before it (union + per-key running last — one shuffle, no pair
      // explosion; see Joins.asofJoin)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_id", "purchase_value"))
        .select(col("event_id"), col("user_id"),
          col("purchase_id"), col("purchase_value"))
        .orderBy(col("event_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      // range join via time binning: clicks inside each purchase's 1-hour
      // attribution window, counted per purchase (equi-join on (user, bin),
      // never an inequality cross product; see Joins.rangeJoinBinned)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 3600000000L).as("end_us"))
      Joins.rangeJoinBinned(clicks, "click_us", purchases,
          "start_us", "end_us", Seq("user_id"), binWidth = 3600000000L)
        .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_clicks"))
        .orderBy(col("purchase_id"))
    }),

    "q_select_conversation" -> ((s, dir) => {
      // conversation column (array<struct<role,content>>), flattened to
      // (id, pos, role, content) for the scalar-only oracle compare
      import s.implicits._
      Seq(
        (1L, Seq(("user", "Hello"), ("assistant", "Hi there!"))),
        (2L, Seq(("user", "How are you?"), ("assistant", "Great."))))
        .toDF("id", "conv")
        .select(col("id"), posexplode(col("conv")))
        .select(col("id"), col("pos").cast("long").as("pos"),
          col("col._1").as("role"), col("col._2").as("content"))
        .orderBy(col("id"), col("pos"))
    }),

    // ---- filters / row selection (SURVEY §2.3) ----

    "q_take_rows" -> ((s, dir) => {
      // TakeRowsOp: table[10::7][:50] over the canonical row order
      val base = ColumnOps.withRowIdxByKey(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_linenumber"))
      ColumnOps.takeRows(base, skip = 7, offset = 10, numRows = Some(50))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col(ColumnOps.RowIdx).as("row_idx"))
    }),

    "q_mask_rows" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnOps.maskRows(li, ColumnOps.categoryToBoolean(col("l_returnflag"), Set("R")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_category_to_boolean" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          ColumnOps.categoryToBoolean(col("o_orderstatus"), Set("O", "F")).as("is_of"),
          ColumnOps.categoryToBoolean(col("o_orderstatus"), Set.empty,
            Some(Set("P"))).as("not_p"))
        .orderBy(col("o_orderkey"))
    }),

    "q_boolean_logic" -> ((s, dir) => {
      val a = col("o_orderstatus") === "O"
      val b = col("o_totalprice") > 150000.0
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          ColumnOps.booleanLogic("and", a, b).as("and_val"),
          ColumnOps.booleanLogic("or", a, b).as("or_val"),
          ColumnOps.booleanLogic("xor", a, b).as("xor_val"),
          ColumnOps.booleanLogic("not", a, b).as("not_val"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- scalar transforms (SURVEY §2.4) ----

    "q_pairwise_arith" -> ((s, dir) => {
      val l = col("l_quantity"); val r = col("l_discount")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          ColumnOps.pairwiseArithmetic("add", l, r).as("add_val"),
          ColumnOps.pairwiseArithmetic("subtract", l, r).as("sub_val"),
          ColumnOps.pairwiseArithmetic("multiply", l, r).as("mul_val"),
          ColumnOps.pairwiseArithmetic("divide", l, col("l_extendedprice")).as("div_val"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_vector_to_scalar" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          ColumnOps.vectorToScalar(col("embedding"), 0).cast("double").as("elem0"),
          ColumnOps.vectorToScalar(col("embedding"), 63).cast("double").as("elem63"))
        .orderBy(col("vec_id"))
    }),

    "q_parse_json" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    }),

    "q_templatize" -> ((s, dir) => {
      // JinjaTemplatizeOp over two context columns; this simple var-only
      // template lowers to concat (stays in codegen); the full Jinja path
      // (conditionals/loops/filters) is exercised in TemplateSpec tests.
      val tmpl = "Hello {{name}}, segment {{segment}}!"
      val render = udf { (name: String, segment: String) =>
        graft.ops.Template.render(tmpl,
          Map("name" -> name, "segment" -> segment))
      }
      t(s, dir, "customer")
        .select(col("c_custkey"),
          render(col("c_name"), col("c_mktsegment")).as("prompt"))
        .orderBy(col("c_custkey"))
    }),

    "q_assign_rowid" -> ((s, dir) => {
      ColumnOps.assignRowId(t(s, dir, "orders"), col("o_orderkey"))
        .select(col("o_orderkey"), col("row_id"))
        .orderBy(col("o_orderkey"))
    }),

    "q_train_test_split" -> ((s, dir) => {
      // exact-count contract: ceil(0.25*n) test rows, rest train
      ColumnOps.assignTrainTestSplit(t(s, dir, "customer"),
          Some(0.25), None, seed = 19190115L)
        .groupBy(col("split")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("split"))
    }),

    // ---- the engine proper: spec graphs through the memoizing runner ----

    "q_runner_slice" -> ((s, dir) => {
      // SURVEY §7.2.3 minimum slice THROUGH THE RUNNER: content-addressed
      // load → typed select → isin → positional mask → slice. Exercises
      // __row_idx stamping, ephemeral fusion, and the spec layer end-to-end
      // under the driver's oracle.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/customer.parquet")
      val seg = SelectCategoricalColumnOp(ds, "c_mktsegment")
      val keep = CategoryToBooleanOp(seg, Some(Seq("BUILDING")))
      val take = TakeRowsOp(MaskRowsOp(ds, keep), skip = 3L, offset = 1L,
        numRows = Some(100L))
      r.toFrame(take).select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_subs_graph" -> ((s, dir) => {
      // THE REFERENCE'S SIGNATURE GRAPH SURGERY (`op_spec.py:404-530`)
      // through the correctness gate: prototype a pipeline on a small
      // inline "train" dataset, then subs() the dataset node for the full
      // parquet corpus — the SAME DAG rebuilt node-for-node over the test
      // data, new content-addressed uuids at every level. Both the train
      // graph and the subbed test graph materialize through the runner and
      // both results are oracled (train rows as stated constants, test rows
      // as the token-count formula over documents).
      val r = runnerFor(s)
      val train = LoadInlineJsonDatasetOp(Map(
        "text" -> Seq("alpha beta gamma", "", "one  two")))
      val trainCounts = TokenCountOp(SelectTextColumnOp(train, "text"))
      val test = r.fromParquet(s"$dir/documents.parquet")
      val testCounts = trainCounts.subs(train, test).asInstanceOf[TokenCountOp]
      // the surgery rebuilt every node on the path, nothing else
      require(testCounts.uuid != trainCounts.uuid, "subs must re-uuid the DAG")
      require(testCounts.text.asInstanceOf[SelectTextColumnOp].dataset == test,
        "subs must splice the replacement dataset in")
      def tagged(op: TokenCountOp, phase: String) =
        r.toFrame(op).select(lit(phase).as("phase"),
          col(ColumnOps.RowIdx).cast("long").as("rid"),
          col("value").as("n_tokens"))
      tagged(trainCounts, "train").union(tagged(testCounts, "test"))
        .orderBy(col("phase"), col("rid"))
    }),

    "q_probe_eval" -> ((s, dir) => {
      // ML probe chain (train→predict→evaluate) through the runner; the
      // oracle checks the deterministic report fields (eligible counts).
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cat = SelectCategoricalColumnOp(ds, "label")
      val pos = CategoryToBooleanOp(cat, Some(Seq("0", "1", "2", "3", "4")))
      val neg = CategoryToBooleanOp(cat, Some(Seq("5", "6", "7", "8", "9")))
      val model = TrainClassifierOp("logistic_regression", x, pos, neg,
        params = Map("max_iter" -> 25L, "tol" -> 1e-3))
      val eval = ClassifierEvaluationOp(ClassifierPredictOp(model, x), pos, neg)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits").asInstanceOf[JObj]("all")
        .asInstanceOf[JObj]
      def l(n: String): Long = all(n).asInstanceOf[JLong].value
      import s.implicits._
      Seq(("all", l("count"), l("n_true"), l("n_false")))
        .toDF("split", "cnt", "n_true", "n_false")
    }),

    "q_probe_rbf_eval" -> ((s, dir) => {
      // the kernel-probe chain (RFF feature map → linear SVC) through the
      // runner: train, score EVERY row, evaluate. The oracle checks the
      // deterministic eligibility counts plus the scored-row count; the
      // in-query finiteness gate makes a broken kernel path a hard error
      // (NO OUTPUT), never a silently-degenerate green row. Kernel QUALITY
      // (circles fixture, kernel-vs-linear lift) is asserted in KernelSpec.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cat = SelectCategoricalColumnOp(ds, "label")
      val pos = CategoryToBooleanOp(cat, Some(Seq("0", "1", "2", "3", "4")))
      val neg = CategoryToBooleanOp(cat, Some(Seq("5", "6", "7", "8", "9")))
      val model = TrainClassifierOp("rbf_svc", x, pos, neg,
        params = Map("max_iter" -> 25L, "rff_dim" -> 128L))
      val predict = ClassifierPredictOp(model, x)
      val eval = ClassifierEvaluationOp(predict, pos, neg)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits").asInstanceOf[JObj]("all")
        .asInstanceOf[JObj]
      def l(n: String): Long = all(n).asInstanceOf[JLong].value
      val scored = r.toFrame(predict)
      val v = scored.agg(count(lit(1)),
        count(when(isnan(col(r.ValueCol)) ||
          col(r.ValueCol).isNull, 1))).head()
      require(v.getLong(1) == 0, "kernel probe produced non-finite scores")
      import s.implicits._
      Seq(("all", l("count"), l("n_true"), l("n_false"), v.getLong(0)))
        .toDF("split", "cnt", "n_true", "n_false", "n_scored")
    }),

    "q_probe_svm" -> ((s, dir) => {
      // round 18 (VERDICT r17 missing #3): the EXACT kernel SVM — the SMO
      // dual solver that IS the reference's SVC backend (libsvm), not the
      // RFF approximation — through the runner: train on every embedding
      // row, score EVERY row, evaluate. The oracle checks the
      // deterministic eligibility counts + scored-row count; in-query
      // HARD gates make a broken solver an error, never a silently-
      // degenerate green row: the persisted model must satisfy the KKT
      // conditions on its own training set (recomputed from (SVs, duals,
      // b, C) after the store round-trip), the dual balance Σyα = 0 must
      // hold, and every score must be finite. Margin QUALITY (analytic
      // max-margin recovery, exact circles separation, partitioning
      // invariance) is asserted in ExactSvmSpec.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cat = SelectCategoricalColumnOp(ds, "label")
      val pos = CategoryToBooleanOp(cat, Some(Seq("0", "1", "2", "3", "4")))
      val neg = CategoryToBooleanOp(cat, Some(Seq("5", "6", "7", "8", "9")))
      val model = TrainClassifierOp("rbf_svc", x, pos, neg,
        params = Map("C" -> 2.0)) // no rff_dim => exact SMO path
      val predict = ClassifierPredictOp(model, x)
      val eval = ClassifierEvaluationOp(predict, pos, neg)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits").asInstanceOf[JObj]("all")
        .asInstanceOf[JObj]
      def l(n: String): Long = all(n).asInstanceOf[JLong].value
      // hard optimality gates on the trained model itself
      val pm = r.toModel(model).asInstanceOf[org.apache.spark.ml.PipelineModel]
      val svm = pm.stages.last.asInstanceOf[graft.ml.ExactSvmModel]
      val tr = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("embedding").cast("array<double>"), col("label")).collect()
      val xs = tr.map(_.getSeq[Double](0).toArray)
      val ys = tr.map(rr => if (rr.getInt(1) <= 4) 1 else -1)
      require(svm.numSupportVectors > 0 && svm.numSupportVectors <= xs.length,
        s"support-vector count ${svm.numSupportVectors} out of (0, n]")
      require(math.abs(svm.dualBalance) < 1e-6,
        s"dual balance ${svm.dualBalance} != 0")
      val resid = svm.kktResidual(xs, ys)
      require(resid < 0.05, s"KKT residual $resid: solver did not converge")
      val scored = r.toFrame(predict)
      val v = scored.agg(count(lit(1)),
        count(when(isnan(col(r.ValueCol)) ||
          col(r.ValueCol).isNull, 1))).head()
      require(v.getLong(1) == 0, "exact SVM produced non-finite scores")
      import s.implicits._
      Seq(("all", l("count"), l("n_true"), l("n_false"), v.getLong(0)))
        .toDF("split", "cnt", "n_true", "n_false", "n_scored")
    }),

    "q_probe_nusvm" -> ((s, dir) => {
      // round 18: the exact ν-SVM + Platt calibration chain — the
      // reference's calibrated_rbf_nusvm (CalibratedClassifierCV(NuSVC))
      // as the REAL thing: Solver_NU dual solve, LIBSVM margin rescale,
      // sigmoid fit on the training decisions. Counts oracle + hard
      // gates: the rescaled model must satisfy the C-SVM-form KKT with
      // C = 1/ρ, every probability must live in [0,1], and the ν-property
      // must hold (margin-error fraction ≤ ν ≤ SV fraction — Schölkopf
      // 2000, Prop. 5, checked on the persisted duals).
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cat = SelectCategoricalColumnOp(ds, "label")
      val pos = CategoryToBooleanOp(cat, Some(Seq("0", "1", "2", "3", "4")))
      val neg = CategoryToBooleanOp(cat, Some(Seq("5", "6", "7", "8", "9")))
      val nuVal = 0.3
      val nuTol = 1e-5
      val model = TrainClassifierOp("calibrated_rbf_nusvm", x, pos, neg,
        params = Map("nu" -> nuVal, "tol" -> nuTol))
      val predict = ClassifierPredictOp(model, x)
      val eval = ClassifierEvaluationOp(predict, pos, neg)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits").asInstanceOf[JObj]("all")
        .asInstanceOf[JObj]
      def l(n: String): Long = all(n).asInstanceOf[JLong].value
      val pm = r.toModel(model).asInstanceOf[org.apache.spark.ml.PipelineModel]
      val svm = pm.stages.last.asInstanceOf[graft.ml.ExactSvmModel]
      val tr = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("embedding").cast("array<double>"), col("label")).collect()
      val xs = tr.map(_.getSeq[Double](0).toArray)
      val ys = tr.map(rr => if (rr.getInt(1) <= 4) 1 else -1)
      // the KKT tolerance is SCALE-AWARE: LIBSVM's rescale divides every
      // margin by ρ (= 1/effC), so the ACHIEVED stopping gap bounds the
      // scaled residual by gap·effC — on heavily-overlapping data ρ is
      // tiny and an absolute threshold would either gate nothing or
      // everything. A broken rescale/offset derivation violates this
      // bound by orders of magnitude (the r/rho swap measured 5000×).
      val effC = svm.getOrDefault(svm.cM)
      val achievedGap = svm.getOrDefault(svm.solveGapM)
      val resid = svm.kktResidual(xs, ys)
      require(resid <= math.max(1e-6, 2.0 * achievedGap * effC),
        s"nu-SVM KKT residual $resid vs bound ${2.0 * achievedGap * effC} " +
          s"(gap=$achievedGap, effC=$effC)")
      val nTr = xs.length
      val nBound = svm.getOrDefault(svm.dualCoef)
        .count(d => math.abs(d) >= effC * (1 - 1e-6))
      require(nBound <= nuVal * nTr + 1,
        s"nu-property: $nBound margin errors > nu*n = ${nuVal * nTr}")
      require(svm.numSupportVectors + 1 >= nuVal * nTr,
        s"nu-property: ${svm.numSupportVectors} SVs < nu*n = ${nuVal * nTr}")
      val scored = r.toFrame(predict)
      val v = scored.agg(count(lit(1)),
        count(when(isnan(col(r.ValueCol)) || col(r.ValueCol).isNull ||
          col(r.ValueCol) < 0 || col(r.ValueCol) > 1, 1))).head()
      require(v.getLong(1) == 0,
        "calibrated nu-SVM produced scores outside [0,1]")
      import s.implicits._
      Seq(("all", l("count"), l("n_true"), l("n_false"), v.getLong(0)))
        .toDF("split", "cnt", "n_true", "n_false", "n_scored")
    }),

    "q_probe_predict" -> ((s, dir) => {
      // round 12: the QUANTIZED-EXACT train→score pipeline promoted to the
      // main row (was q_probe_predict_exact; VERDICT r11 #3): weights to
      // 1e-9, inputs to 1e-6, integer-valued-double dot — the only predict
      // score column that can be hash-compared across engines (IEEE float
      // dots are summation-order-dependent). The LBFGS/LR predict path
      // through the runner spec chain stays exercised by q_probe_eval /
      // q_probe_rbf_eval (both hash-gated on their deterministic report
      // fields) and by ProbeSpec's score-quality tests.
      val emb = t(s, dir, "embeddings")
      graft.ml.DiffOfMeans.scoresExact(emb, col("vec_id"),
          col("embedding"), col("label") <= 4)
        .orderBy(col("vec_id"))
    }),

    "q_probe_diffmeans" -> ((s, dir) => {
      // the difference_of_means probe's training aggregation in exact
      // integer arithmetic (1e-6 quantized long sums): hash-oracle-able
      // where float Summarizer means are summation-order-dependent. The
      // registry's Summarizer form is asserted ≡ this (to 1e-6) in
      // ProbeSpec.
      graft.ml.DiffOfMeans.weightsExact(
          t(s, dir, "embeddings"), col("embedding"), col("label") <= 4)
        .orderBy(col("dim"))
    }),

    "q_llm_activations" -> ((s, dir) => {
      // fake: provider — md5-derived doubles, bit-exact in the DuckDB oracle
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val acts = LLMLayerActivationsOp("fake:d8",
        SelectTextColumnOp(ds, "text"), layerNum = 3L, tokenMode = "last",
        batchSize = 64L)
      r.toFrame(acts)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    }),

    "q_llm_mlp" -> ((s, dir) => {
      // IN-PROCESS inference (the reference's hf:/tl: provider role, pure
      // JVM): the mlp: provider's real forward pass — hashed-TF features →
      // ReLU layer → affine head — over the corpus, through the SAME
      // content-addressed LLM op the fake:/http: schemes use. Dyadic
      // weights make every activation EXACT in double; the oracle rebuilds
      // the entire net from the shared integer formula.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val acts = LLMLayerActivationsOp(s"mlp:${MlpFixture.path}",
        SelectTextColumnOp(ds, "text"), layerNum = 2L, tokenMode = "last",
        batchSize = 64L)
      r.toFrame(acts)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    }),

    "q_mlp_probe" -> ((s, dir) => {
      // the reference's CORE chain — model activations → linear probe —
      // with EVERY stage in-process: the mlp: provider's layer-2
      // activations feed the exact difference-of-means probe (label:
      // lang = en), no server, no HTTP, one scan + one (dim × class)
      // aggregate. Activations are dyadic-exact, the probe is
      // quantized-exact, so train→score hashes end to end.
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"mlp:${MlpFixture.path}")
      val mlp = prov.asInstanceOf[graft.llm.MlpProvider]
      val fw = udf((t: String) => mlp.forward(t, 2))
      val emb = docs.select(col("doc_id"), (col("lang") === "en").as("pos"),
        fw(col("text")).as("emb"))
      graft.ml.DiffOfMeans.scoresExact(emb, col("doc_id"), col("emb"),
          col("pos"))
        .orderBy(col("vec_id"))
    }),

    "q_tf_embed" -> ((s, dir) => {
      // IN-PROCESS TRANSFORMER inference (tf: provider): a single-layer
      // single-head CAUSAL-ATTENTION encoder runs entirely in executor
      // JVMs — real attention over token positions, residuals, LayerNorm,
      // position-wise FFN — and BOTH layers' mean-pooled states hash-match
      // the DuckDB replay of the whole forward pass. The exactness
      // discipline: dyadic weights/embeddings (projections and q·k scores
      // EXACT), integer-softmax attention (floor-quantized scores,
      // 2^(s−max) weights — exact powers of two, no exp), fixed-order
      // folds everywhere else (IEEE-deterministic on both engines). The
      // closest JVM answer to the reference's in-process hf:/tl: torch
      // transformers; at 100 TB the same map-side shape serves any
      // weights the JSON format carries.
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      // round 21: ONE scan, ONE forward pass per document (pooledAll) —
      // the q_tf_deep pattern; the previous per-layer UDF pair ran the
      // whole stack (and tokenization) once PER LAYER per row, 2× the
      // per-row cost for bit-identical pooled values (pooledAll pools
      // the same statesAll run both twins replay)
      val f = udf((t: String) => tf.pooledAll(t, "mean").map(_.toSeq))
      docs.select(col("doc_id"), posexplode(f(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("layer"),
          posexplode(col("col")))
        .select(col("doc_id"), col("layer"),
          col("pos").cast("long").as("dim"), col("col").as("val"))
        .orderBy(col("doc_id"), col("layer"), col("dim"))
    }),

    "q_tf_probe" -> ((s, dir) => {
      // the reference's CORE chain with a TRANSFORMER: tf: pooled
      // final-layer states feed the exact difference-of-means probe
      // (label: lang = en) — attention-derived features through the same
      // quantized-exact probe as q_mlp_probe, so train→score hashes end
      // to end against the full forward-pass + probe replay.
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      val fw = udf((t: String) => tf.pooled(t, 2, "mean"))
      val emb = docs.select(col("doc_id"), (col("lang") === "en").as("pos"),
        fw(col("text")).as("emb"))
      graft.ml.DiffOfMeans.scoresExact(emb, col("doc_id"), col("emb"),
          col("pos"))
        .orderBy(col("vec_id"))
    }),

    "q_tf_graph" -> ((s, dir) => {
      // the transformer through the SAME content-addressed LLM op every
      // other scheme uses (spec-layer parity): layer-1 — the
      // post-attention LayerNorm state, a REAL intermediate layer —
      // mean-pooled per doc, keyed by positional row identity. The
      // oracle runs the forward-pass CTEs over row_number-keyed docs.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val acts = LLMLayerActivationsOp(s"tf:${TfFixture.path}",
        SelectTextColumnOp(ds, "text"), layerNum = 1L, tokenMode = "mean",
        batchSize = 64L)
      r.toFrame(acts)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    }),

    "q_tf_rerank" -> ((s, dir) => {
      // MODEL-SCORED RERANKING — the modern two-stage retrieval stack
      // composed entirely from the engine's pieces: BM25 selects a top-10
      // candidate pool (corpus-wide, map-side), then the in-process
      // transformer scores each (query, doc) PAIR — the logit of the
      // "yes" head over "<query> [SEP] <doc>" — and the pool re-ranks by
      // quantized model score. The cross-encoder serving shape: the
      // expensive model touches k rows, never the corpus; the oracle
      // replays BM25, the full transformer forward pass over the pair
      // images, and both rankings.
      val docs = t(s, dir, "documents")
      val topk = Bm25.rank(docs, "doc_id", "text", RrfTerms, k = 10)
        .select(col("doc_id"), col("rank").as("bm25_rank"))
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      val q = RrfTerms.mkString(" ")
      val scoreUdf = udf((t: String) =>
        tf.logitScores(Iterator(Seq(s"$q [SEP] $t")), Seq("yes"))
          .next().head(0))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("model_u6").desc, col("doc_id"))
      topk.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .withColumn("model_u6",
          round(scoreUdf(col("text")) * 1e6).cast("long"))
        .select(col("doc_id"), col("bm25_rank"), col("model_u6"))
        .withColumn("rerank", row_number().over(w).cast("long"))
        .orderBy(col("rerank"))
    }),

    "q_tf_deep" -> ((s, dir) => {
      // round 19: the DEEP transformer — a 2-BLOCK × 2-HEAD causal
      // stack ([[TfFixture2]]) carrying the FULL real-checkpoint
      // architecture: learned token embeddings W_E (six corpus-frequent
      // words; every doc also exercises the md5-nibble OOV fallback),
      // learned positional table W_pos, and on block 1 the attention
      // output projection wo + LayerNorm γ/β — through the generalized
      // tf: provider,
      // with ALL FOUR intermediate layers' mean pools (per block:
      // post-attention LayerNorm, post-FFN residual) hash-matching the
      // DuckDB replay of the full two-block multi-head forward pass.
      // This is the architecture shape of the reference's pretrained
      // hf:/tl: checkpoints; tools/make_tf_weights.py converts real
      // checkpoint tensors into this JSON layout offline.
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture2.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      require(tf.nLayers == 4 && tf.blocks.forall(_.heads == 2),
        s"q_tf_deep expects 2 blocks x 2 heads, loaded ${tf.blocks}")
      // ONE scan, ONE forward pass per document (pooledAll) — per-layer
      // UDFs would re-run the whole stack 4× and re-scan the table 4×
      val f = udf((t: String) => tf.pooledAll(t, "mean").map(_.toSeq))
      docs.select(col("doc_id"), posexplode(f(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("layer"),
          posexplode(col("col")))
        .select(col("doc_id"), col("layer"),
          col("pos").cast("long").as("dim"), col("col").as("val"))
        .orderBy(col("doc_id"), col("layer"), col("dim"))
    }),

    "q_tf_preln" -> ((s, dir) => {
      // round 20: the PRE-LN + GELU stack ([[TfFixture3]]) — the GPT-2 /
      // TransformerLens architecture the reference's hf:/tl: providers
      // serve: LN before each sublayer (ln1 feeding q/k/v, ln2 feeding
      // the FFN), the residual stream never normalized, a RECTANGULAR
      // 12-hidden FFN, and GELU rendered as the pinned tanh-approximation
      // chain. All four intermediate layers (per block: resid_mid =
      // post-attention residual, resid_post = post-FFN residual) pooled
      // and hash-matched against the full DuckDB replay — converted real
      // checkpoints now run with their own ln1/ln2 mapped (the round-19
      // "same shape, different function" gap closed up to the
      // integer-softmax attention).
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture3.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      require(tf.nLayers == 4 && tf.blocks.forall(b =>
          b.preLn && b.act == "gelu" && b.b1.length == TfFixture3.Hid),
        s"q_tf_preln expects a 2-block pre-LN GELU stack, loaded ${tf.blocks}")
      val f = udf((t: String) => tf.pooledAll(t, "mean").map(_.toSeq))
      docs.select(col("doc_id"), posexplode(f(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("layer"),
          posexplode(col("col")))
        .select(col("doc_id"), col("layer"),
          col("pos").cast("long").as("dim"), col("col").as("val"))
        .orderBy(col("doc_id"), col("layer"), col("dim"))
    }),

    "q_tf_float" -> ((s, dir) => {
      // round 20: FLOAT-SOFTMAX attention — the last architecture delta
      // closed: s = q·k/√d_h in double, weights = real e^(s−max) via the
      // pinned exp chain (expA: reduction + [6/6] Padé + exact 2^n
      // rescale), on top of the pre-LN + GELU stack. Same WEIGHTS as
      // q_tf_preln (TfFixture3), different attention function — the two
      // gates together pin the softmax semantics exactly. A converted
      // GPT-2-class checkpoint now runs its own function to ~1e-13.
      val docs = t(s, dir, "documents")
      val (prov, _) = graft.llm.ModelRegistry.get(s"tf:${TfFixture4.path}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      require(tf.blocks.forall(b => b.preLn && b.softmax == "float"),
        s"q_tf_float expects a float-softmax pre-LN stack, loaded ${tf.blocks}")
      val f = udf((t: String) => tf.pooledAll(t, "mean").map(_.toSeq))
      docs.select(col("doc_id"), posexplode(f(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("layer"),
          posexplode(col("col")))
        .select(col("doc_id"), col("layer"),
          col("pos").cast("long").as("dim"), col("col").as("val"))
        .orderBy(col("doc_id"), col("layer"), col("dim"))
    }),

    "q_tf_bpe" -> ((s, dir) => {
      // round 20: the CHECKPOINT-TOKENIZER input path — the reference
      // tokenizes with the checkpoint's OWN tokenizer; here a BPE merge
      // list is TRAINED on the corpus (graft.ext.Bpe, the engine's own
      // induction), stored as a content-addressed artifact, and the tf:
      // provider loads it via tokenizer_path: embedding inputs are real
      // SUBWORD tokens into W_E (single-char tokens hit the learned
      // table, merged tokens the md5-nibble OOV fallback). The oracle
      // replays BOTH stages end to end: the BPE training CTEs re-derive
      // the merges, per-doc tokenization maps words through the final
      // segmented-word table, and the forward pass runs over the token
      // stream — tokenization + inference, one hash gate.
      val docs = t(s, dir, "documents")
      val tokPath = bpeTokenizerFor(s, dir)
      val (prov, _) = graft.llm.ModelRegistry
        .get(s"tf:${TfFixtureBpe.path(tokPath)}")
      val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
      require(tf.tokenizer.exists(_.nonEmpty),
        "q_tf_bpe expects a stored tokenizer on the provider")
      val f = udf((t: String) => tf.pooledAll(t, "mean").map(_.toSeq))
      docs.select(col("doc_id"), posexplode(f(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("layer"),
          posexplode(col("col")))
        .select(col("doc_id"), col("layer"),
          col("pos").cast("long").as("dim"), col("col").as("val"))
        .orderBy(col("doc_id"), col("layer"), col("dim"))
    }),

    "q_tf_logits" -> ((s, dir) => {
      // round 20: the COMPLETE GPT-2 head path — unembed(ln_f(resid_post))
      // with a DENSE vocab head — through the spec-layer
      // LLMLogitScoresOp on the float-softmax pre-LN stack. The oracle
      // replays the whole chain: forward pass (expA softmax, GELU), the
      // final LayerNorm per position, masked-zero mean pool, and both
      // tokens' dense dot products in the provider's fold order.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val logits = LLMLogitScoresOp(s"tf:${TfFixture4.pathLnF}",
        SelectTextColumnOp(ds, "text"), Seq("yes", "no"))
      r.toFrame(logits)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    }),

    "q_llm_logits" -> ((s, dir) => {
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val logits = LLMLogitScoresOp("fake:d8",
        SelectTextColumnOp(ds, "text"), Seq("yes", "no", 7L))
      r.toFrame(logits)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    }),

    "q_llm_generate" -> ((s, dir) => {
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val gen = LLMGenerateTextOp("fake:d8", SelectTextColumnOp(ds, "text"),
        maxTokens = 100L)
      r.toFrame(gen)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value").as("gen_text"))
        .orderBy(col("row_idx"))
    }),

    "q_grouped" -> ((s, dir) => {
      // GroupedOp: materialize a set of ops as one unit, result = last
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val g = GroupedOp(Seq(AssignRowIDOp(ds),
        AssignTrainTestSplitOp(ds, testSize = Some(0.25))))
      r.materialize(g)
      r.toFrame(g.ops.last).groupBy(col("value").as("split"))
        .agg(count(lit(1)).as("cnt")).orderBy(col("split"))
    }),

    "q_umap_viz" -> ((s, dir) => {
      // UMAPVizOp → ExactPca(2) stand-in (round 12): quantized-exact
      // covariance + fixed-iteration power method, sign-canonical — fully
      // deterministic, so the DuckDB replay hash-checks the embedding
      // bit for bit (was rows-only while Spark ML PCA's axes were
      // sign-indeterminate)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val viz = UMAPVizOp(SelectVectorColumnOp(ds, "embedding"))
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("x"), element_at(col("value"), 2).as("y"))
        .orderBy(col("row_idx"))
    }),

    "q_spectral" -> ((s, dir) => {
      // Laplacian-eigenmaps 2-D manifold embedding (Belkin & Niyogi 2003)
      // — the REAL nonlinear layout the ExactPca stand-in can't produce;
      // quantized-exact joint orthogonal iteration, so the DuckDB oracle
      // replays the kNN graph AND all iterations bit-for-bit. The gate
      // corpus is capped (brute-force kNN is the O(n²) gate form — the
      // scale path injects LSH/IVF edges via embed2dFromEdges); sf0.01's
      // full table sits under the cap, so correctness covers everything
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < SpectralCap)
      graft.ml.Spectral.embed2d(emb, "vec_id", "embedding")
        .orderBy(col("id"))
    }),

    "q_umap_layout" -> ((s, dir) => {
      // round 18 (VERDICT r17 missing #2): the REAL UMAP — the force-
      // directed optimization phase itself (ml/UmapLayout.scala: Cauchy-
      // kernel attract/repulse gradients, md5 negative sampling, linear
      // lr decay), not a projection stand-in. Quantized-exact epochs, so
      // the DuckDB oracle replays the kNN graph AND every epoch's every
      // gradient term bit-for-bit. init=random is the gate form (the
      // oracle replays the layout loop in isolation); the spectral-init
      // default composes Spectral.embed2d (already oracled by q_spectral)
      // with this loop, pinned bit-exactly local-vs-distributed in
      // UmapSpec. Same O(n²) gate-form kNN cap as q_spectral — the scale
      // path injects LSH/IVF candidate edges via embedFromEdges.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < SpectralCap)
      graft.ml.UmapLayout.embed(emb, "vec_id", "embedding",
          k = graft.ml.Spectral.DefaultK, iters = UmapGateIters,
          negatives = UmapGateNegs, init = "random")
        .orderBy(col("id"))
    }),

    "q_kmeans" -> ((s, dir) => {
      // quantized-exact distributed k-means (ml/ExactKMeans.scala):
      // member-init centroids (vec_ids 0..7 — the SemanticDedupOp
      // falsifiability contract), 4 Lloyd passes of integer argmax
      // assignment + integer-mean update — the DuckDB oracle unrolls every
      // iteration and replays cells AND scores bit-for-bit
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
        KmInitIds, KmIters)
      graft.ml.ExactKMeans.assign(emb,
          col("vec_id").cast("long"), col("embedding"), fit)
        .orderBy(col("id"))
    }),

    "q_km_graph" -> ((s, dir) => {
      // spec-layer twin: KMeansClusterOp through the content-addressed
      // runner — cluster id as a CATEGORICAL value column (composable with
      // masks / grouped filters / stratified sampling)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val km = KMeansClusterOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters)
      r.toFrame(km)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    }),

    "q_proto_drop" -> ((s, dir) => {
      // D4 prototype-drop (ext/Diversify.scala, Tirumala 2023): the SAME
      // exact k-means fit as q_kmeans (member-init ids 0..7, 4 Lloyd
      // passes), then drop the 1/4 of each cell CLOSEST to its centroid —
      // diversity-keeping selection; the oracle extends the unrolled
      // k-means replay with the per-cell rank and the integer
      // floor-division drop count
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
        KmInitIds, KmIters)
      Diversify.prototypeDrop(emb, "vec_id", "embedding", fit,
          ProtoDropNum, ProtoDropDen)
        .orderBy(col("id"))
    }),

    "q_d4_graph" -> ((s, dir) => {
      // spec-layer twin: PrototypeDropOp keep verdicts as a BOOLEAN value
      // column — composable with MaskRowsOp exactly like the token-budget
      // and keep-best verdicts
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val pd = PrototypeDropOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters, ProtoDropNum, ProtoDropDen)
      r.toFrame(pd)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    }),

    "q_d4_pipeline" -> ((s, dir) => {
      // the diversity op composing INTO the reference op algebra:
      // PrototypeDropOp keep verdicts → MaskRowsOp (positional re-index
      // through the content-addressed store) → per-label survivor counts
      // — the "diversify, then measure what the cut did to the class mix"
      // curation step
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val pd = PrototypeDropOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters, ProtoDropNum, ProtoDropDen)
      r.toFrame(MaskRowsOp(ds, pd))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    }),

    "q_distinct_sketch" -> ((s, dir) => {
      // per-language KMV distinct-text estimate at k=80: en (218 distinct
      // at sf0.01) exercises the (k−1)·2⁶⁰/h₍ₖ₎ estimator, the smaller
      // languages the exact below-k path — the oracle replays the sorted
      // distinct 60-bit hash prefix and the HUGEINT floor division
      Profile.distinctEstimate(t(s, dir, "documents"), "lang", "text",
          KmvK)
        .orderBy(col("lang"))
    }),

    "q_corpus_stats" -> ((s, dir) => {
      // one-pass per-source data card over a corpus with PLANTED exact
      // duplicates (copies of doc_id < 200 at +100000): est_distinct_texts
      // < n_docs surfaces the per-source duplication rate a curation run
      // reports before dedup
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("source"), col("text"))
        .union(docs.filter(col("doc_id") < 200)
          .select(col("source"), col("text")))
      Profile.corpusReport(planted, "source", "text")
        .orderBy(col("source"))
    }),

    "q_stats_graph" -> ((s, dir) => {
      // the data card as a CONTENT-ADDRESSED spec op: per-lang totals +
      // KMV distinct estimate through the runner store — profiled once per
      // corpus hash, ever. Shares q_distinct_sketch's estimator/exact
      // straddle at k=80
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(CorpusStatsOp(SelectCategoricalColumnOp(ds, "lang"),
          SelectTextColumnOp(ds, "text"), k = KmvK.toLong))
        .orderBy(col("group"))
    }),

    "q_top_sources" -> ((s, dir) => {
      // exact top-3 sources per language — the two-phase heavy-hitters
      // rank over the bounded (lang, source) count table
      Profile.topValues(t(s, dir, "documents"), "lang", "source", n = 3)
        .orderBy(col("lang"), col("rank"))
    }),

    "q_domain_cap_stream" -> ((s, dir) => {
      // the STREAMING form of the per-source quota: two id-ranged
      // micro-batches flow through the carried per-source count
      // (sourceQuotaToSink, read back without batch ids) —
      // at most 3 docs admitted per source over the stream's life, in
      // (batch, doc_id) order. Because the batches are id-ranged and
      // each batch's group admits id-sorted, global admission order per
      // source IS doc_id order — which is exactly what the oracle's
      // window replays. (The batch q_domain_cap keeps top-N by LENGTH —
      // offline it can; the online form admits first-N, the crawler-
      // frontier semantics. Both gated, each against its own oracle.)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stream = batchFileStream(s, "dcs",
        docs.filter(col("doc_id") < 500), docs.filter(col("doc_id") >= 500))
      val sink = runSink("dcs")((sink, ckpt) =>
        graft.streaming.Streaming.sourceQuotaToSink(stream, "source",
          "doc_id", maxPerSource = 3, sink, ckpt))
      readSink(s, s"$sink/data")
        .select(col("source"), col("doc_id"), col("n_kept"))
        .orderBy(col("source"), col("n_kept"))
    }),

    "q_quota_sink" -> ((s, dir) => {
      // round 19: the per-source admission quota as a DURABLE
      // exactly-once sink (sourceQuotaToSink) — the last
      // production-shaped admission operator graduates from the
      // state-store twin to the state-fold sink family (parquet state,
      // GC'd to newest + grace). Two id-ranged micro-batches, at most 3
      // docs per source over the stream's life; batch 1 admits on top
      // of batch 0's CARRIED counts, so the union equals the global
      // doc_id-order first-3 and each verdict's batch_id is determined
      // by its id range. Forced-restart replay pinned in StreamingSpec.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stream = batchFileStream(s, "qsink",
        docs.filter(col("doc_id") < 500), docs.filter(col("doc_id") >= 500))
      val sink = runSink("qsink")((sink, ckpt) =>
        graft.streaming.Streaming.sourceQuotaToSink(stream, "source",
          "doc_id", maxPerSource = 3, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("source"),
          col("doc_id"), col("n_kept"))
        .orderBy(col("source"), col("n_kept"))
    }),

    "q_domain_cap" -> ((s, dir) => {
      // per-source document quota — the CommonCrawl-style per-host cap
      // that stops one domain from dominating a training mix: keep at
      // most 5 docs per source, preferring the longest (n_chars desc,
      // doc_id tiebreak). The window carries only NARROW columns (id,
      // source, n_chars) — text never enters the exchange — so at 100 TB
      // the shuffle is O(docs × ~24 bytes) hashed on source, and a
      // skewed mega-source pays only its own partition's sort; callers
      // semi-join the kept ids back against the corpus.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    }),

    "q_cms" -> ((s, dir) => {
      // Count-Min word-frequency sketch at depth 4 × width 128 over the
      // corpus word stream (thousands of distinct words → every bucket
      // carries collision mass), probed for the exact top-20 words:
      // est_cnt ≥ exact_cnt row by row, min-over-rows replayed by the
      // oracle counter for counter. The sketch shuffle is bounded by
      // depth·width whatever the corpus size — the per-value-count twin
      // of the KMV distinct card.
      val occ = t(s, dir, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sk = Profile.cmsSketch(occ, "word", CmsDepth, CmsWidth)
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
        .join(top, "word")
        .select(col("word"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("word"))
    }),

    "q_bloom" -> ((s, dir) => {
      // Bloom membership pre-filter: the doc_id < 2000 snapshot's texts
      // pack into a 16 Kib bitmap that rides probe plans as a LITERAL —
      // the whole corpus then tests k bits per row, map-only, no join
      // with the reference anywhere. Output pins the one-sided contract
      // row for row: bloom_hit true for every member (no false
      // negatives), plus the ~3% deterministic false positives the load
      // factor forces; exact_hit is the gate-only truth column.
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000).select(col("text"))
      val words = Profile.bloomBitmap(ref, "text", BloomK, BloomM)
      docs.select(col("doc_id"), col("text"))
        .withColumn("bloom_hit",
          Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
        .join(ref.distinct().withColumn("__in", lit(true)),
          Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("__in"), lit(false)).as("exact_hit"))
        .orderBy(col("doc_id"))
    }),

    "q_cms_graph" -> ((s, dir) => {
      // the Count-Min card as a CONTENT-ADDRESSED spec op — profiled once
      // per corpus hash; shares q_cms's oracle verbatim (same corpus,
      // same sketch shape, same top-20 probe)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(CmsWordCountsOp(SelectTextColumnOp(ds, "text"),
          depth = CmsDepth.toLong, width = CmsWidth.toLong, topN = 20L))
        .orderBy(col("exact_cnt").desc, col("word"))
    }),

    "q_bloom_graph" -> ((s, dir) => {
      // Bloom membership as a composable BOOLEAN value column: the
      // reference set is the first-2000-rows slice (TakeRowsOp — the op
      // algebra's own row selection), the verdict column aligns to every
      // corpus row and composes with MaskRowsOp like any other mask
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val text = SelectTextColumnOp(ds, "text")
      val ref = SelectTextColumnOp(
        TakeRowsOp(ds, numRows = Some(2000L)), "text")
      r.toFrame(BloomMembershipOp(text, ref,
          numHashes = BloomK.toLong, numBits = BloomM.toLong))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    }),

    "q_shard_graph" -> ((s, dir) => {
      // the epoch-shard layout as a spec op over the runner's positional
      // identity: (row_idx, shard, pos) for epoch 3 — content-addressed,
      // so an epoch's layout is computed once per (corpus, epoch) ever
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(EpochShardOp(ds, epoch = 3L, numShards = 8L))
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          col("shard"), col("pos"))
        .orderBy(col("row_idx"))
    }),

    "q_bloom_stream" -> ((s, dir) => {
      // the STREAMING Bloom build under the SAME oracle as q_bloom: the
      // reference snapshot arrives as a stream and each micro-batch ORs
      // its bit positions into the carried bitmap (bit-set union is an
      // OR monoid ⇒ slicing-invariant; multi-batch == batch pinned in
      // StreamingSpec), then the identical corpus probe runs against the
      // streamed filter, read back from the sink's newest state
      val schema = t(s, dir, "documents").schema
      val refStream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .filter(col("doc_id") < 2000).select(col("text"))
      val sink = runSink("blstream")((sink, ckpt) =>
        graft.streaming.Streaming.bloomBitmapToSink(refStream, "text",
          BloomK, BloomM, sink, ckpt))
      // numBits/64 words: the bitmap rides the probe plan as a literal
      val words = readSink(s, s"$sink/_state", newestOnly = true)
        .select(col("idx"), col("word")).orderBy(col("idx"))
        .collect().map(_.getLong(1))
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000).select(col("text"))
      docs.select(col("doc_id"), col("text"))
        .withColumn("bloom_hit",
          Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
        .join(ref.distinct().withColumn("__in", lit(true)),
          Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("__in"), lit(false)).as("exact_hit"))
        .orderBy(col("doc_id"))
    }),

    "q_cms_stream" -> ((s, dir) => {
      // the STREAMING Count-Min sketch under the SAME oracle as q_cms:
      // the word stream folds into the carried counter matrix per
      // micro-batch (sum monoid ⇒ slicing-invariant; multi-batch == batch
      // pinned in StreamingSpec), then the identical top-20 probe runs
      // against the streamed counters, read back from the sink's newest
      // state
      val schema = t(s, dir, "documents").schema
      val words = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sink = runSink("cmsstream")((sink, ckpt) =>
        graft.streaming.Streaming.cmsSketchToSink(words, "word",
          CmsDepth, CmsWidth, sink, ckpt))
      val sk = readSink(s, s"$sink/_state", newestOnly = true)
        .select(col("row").cast("int").as("row"),
          col("bucket").cast("long").as("bucket"),
          col("cnt").cast("long").as("cnt"))
      val occ = t(s, dir, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
        .join(top, "word")
        .select(col("word"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("word"))
    }),

    "q_len_quantiles" -> ((s, dir) => {
      // exact per-language token-length quantiles (the data card's p50/p90
      // rows): rank ⌈q·n⌉ picks over the (lang, length) count table — the
      // oracle replays the cumulative walk and every pick
      Profile.lengthQuantiles(t(s, dir, "documents"), "lang", "text",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"))
    }),

    "q_stats_stream" -> ((s, dir) => {
      // the STREAMING data card under the SAME oracle as q_stats_graph:
      // single-file fixture → one micro-batch, the sink's newest card read
      // back; the adversarial-slicing monoid equality is pinned in
      // StreamingSpec
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("statsstream")((sink, ckpt) =>
        graft.streaming.Streaming.corpusReportToSink(stream, "lang", "text",
          KmvK, sink, ckpt))
      readSink(s, s"$sink/card", newestOnly = true)
        .withColumnRenamed("lang", "group")
        .orderBy(col("group"))
    }),

    "q_doremi" -> ((s, dir) => {
      // DoReMi-shape domain-mixture reweighting (ext.Mixing, Xie 2023):
      // domain = language; proxy/reference losses here are cheap
      // deterministic μ-nat stand-ins (chars·1000 vs tokens·4000 — the
      // per-language chars-per-token ratio makes the excess genuinely
      // differ across domains); production feeds LangModel.score /
      // LLM-logit losses through the same operator. 3 linearized
      // multiplicative-weights rounds, every iteration replayed as
      // HUGEINT // chains in the oracle.
      val d = t(s, dir, "documents")
        .withColumn("__proxy", (col("n_chars") * lit(1000L)).cast("long"))
        .withColumn("__ref",
          TextAnalysis.tokenCount(col("text")).cast("long") * lit(4000L))
      graft.ext.Mixing.domainWeights(d, "lang", "__proxy", "__ref",
          rounds = 3, etaU6 = 100000L, smoothU6 = 100000L)
        .orderBy(col("domain"))
    }),

    "q_token_budget" -> ((s, dir) => {
      // per-language token-budget fill (the pretraining-mix cut): rank by
      // n_chars DESC (longest-doc priority, deterministic doc_id
      // tie-break), keep while the language's cumulative whitespace-token
      // count stays ≤ the budget — cum replayed exactly by a window SUM
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      graft.ext.Corpus.tokenBudgetSelect(docs, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_tb_graph" -> ((s, dir) => {
      // spec-layer twin: TokenBudgetKeepOp through the content-addressed
      // runner — keep verdicts for EVERY row (compose with MaskRowsOp to
      // realize the cut), the three inputs as typed column ops
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val keep = TokenBudgetKeepOp(
        SelectCategoricalColumnOp(ds, "lang"),
        SelectScoreColumnOp(ds, "n_chars"),
        TokenCountOp(SelectTextColumnOp(ds, "text")),
        TbBudget)
      r.toFrame(keep)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    }),

    "q_tb_stream" -> ((s, dir) => {
      // the STREAMING token-budget twin under the SAME oracle as
      // q_token_budget: the single-file fixture arrives as one batch (the
      // equality-contract trivial case; the carried-fill multi-batch case
      // is pinned in StreamingSpec), verdicts read back from the sink and
      // realized as the kept cut
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      val sink = runSink("tbstream")((sink, ckpt) =>
        graft.streaming.Streaming.tokenBudgetToSink(stream, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget, sink, ckpt))
      readSink(s, s"$sink/data")
        .filter(col("keep"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_group_split" -> ((s, dir) => {
      // round 18: GROUP-AWARE train/test split (Corpus.groupAwareSplit) —
      // whole sources to one side, the leakage-safe split web corpora
      // need (a row split lets near-dups from one site straddle the
      // boundary). In-query hard gates: no source straddles, and the
      // test-group count is exactly ceil(G/3); the oracle replays the
      // md5 group ranking and the verdict join row-for-row.
      val docs = t(s, dir, "documents")
      val out = graft.ext.Corpus.groupAwareSplit(docs, "source", 1L, 3L)
        .select(col("doc_id"), col("source"), col("is_test"))
      val sides = out.groupBy(col("source"))
        .agg(countDistinct(col("is_test")).as("k"))
        .agg(max(col("k"))).head().getLong(0)
      require(sides == 1L, "a source straddles the split boundary")
      val g = out.select(col("source"), col("is_test")).distinct()
        .agg(count(lit(1)), count(when(col("is_test"), 1))).head()
      require(g.getLong(1) == (g.getLong(0) + 2) / 3,
        s"test groups ${g.getLong(1)} != ceil(${g.getLong(0)}/3)")
      out.orderBy(col("doc_id"))
    }),

    "q_len_batches" -> ((s, dir) => {
      // round 18: LENGTH-BUCKETED BATCH ASSEMBLY (Corpus.
      // lengthBucketBatches) — the padding-efficiency layout trainers use
      // (fairseq/t2t-style dynamic bucketing): similar lengths batch
      // together, each batch pads to its own max. Per-doc layout
      // hash-oracled; the in-query gate asserts the op's ACTUAL
      // invariant: every batch's members share one length bucket, so a
      // doc's pad is bounded by bucketWidth−1. (Comparing against
      // doc_id-arrival batching is NOT an invariant — bucket boundaries
      // can pair distant lengths while arrival order happens to pair
      // near ones — and its control needed a single-partition window.)
      val docs = t(s, dir, "documents")
      val nTok = size(filter(split(trim(col("text")), "\\s+"),
        w => length(w) > 0))
      val out = graft.ext.Corpus.lengthBucketBatches(
        docs, "doc_id", nTok, bucketWidth = 16L, batchSize = 8)
      val maxPad = out.agg(max(col("pad"))).head().getLong(0)
      require(maxPad < 16L,
        s"pad $maxPad breaches the bucket-width bound: batch members " +
          "must share a 16-token length bucket")
      out.orderBy(col("doc_id"))
    }),

    "q_lm_sink" -> ((s, dir) => {
      // round 18: the ONLINE perplexity filter as a durable exactly-once
      // sink (lmScoreToSink): two micro-batches (even doc_ids, then odd).
      // Batch 0 bootstraps by self-fit (== the batch operator on the even
      // docs); batch 1 is scored by the STANDING even-docs model — odd
      // docs hit the backoff and OOV arms against a model they never fit,
      // the true online-curation semantics. Verdicts are read back from
      // the sink per batch; forced-restart replay pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "lmsink",
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))
        .select(col("doc_id"), col("text"))
      val sink = runSink("lmsink")((sink, ckpt) =>
        graft.streaming.Streaming.lmScoreToSink(stream, "doc_id", "text",
          sink, ckpt))
      Seq(0, 1).map { b =>
        s.read.parquet(s"$sink/data/batch_id=$b")
          .select(lit(b.toLong).as("batch_id"), col("doc_id"),
            col("n_tokens"), col("logp_u6"), col("ppl"))
      }.reduce(_ unionByName _).orderBy(col("batch_id"), col("doc_id"))
    }),

    "q_cms_sink" -> ((s, dir) => {
      // DURABLE Count-Min sketch (cmsSketchToSink): the word stream of
      // two micro-batches (even doc_ids, then odd) folds into a persisted
      // counter matrix; the RUNNING sketch after each batch is read back
      // from the sink and probed for the corpus-wide top-20 — batch 0's
      // estimates replay against the even-docs prefix sketch, batch 1's
      // against everything (the sum monoid makes it equal the batch
      // operator). Exactly-once restart pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "cmssink",
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sink = runSink("cmssink")((sink, ckpt) =>
        graft.streaming.Streaming.cmsSketchToSink(stream, "word",
          CmsDepth, CmsWidth, sink, ckpt))
      val occ = docs.select(explode(filter(split(trim(col("text")), "\\s+"),
        w => length(w) > 0)).as("word"))
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Seq(0, 1).map { b =>
        val sk = s.read.parquet(s"$sink/_state/batch_id=$b")
          .select(col("row").cast("int").as("row"),
            col("bucket").cast("long").as("bucket"),
            col("cnt").cast("long").as("cnt"))
        Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
          .join(top, "word")
          .select(lit(b.toLong).as("batch_id"), col("word"),
            col("exact_cnt"), col("est_cnt"))
      }.reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("exact_cnt").desc, col("word"))
    }),

    "q_bloom_sink" -> ((s, dir) => {
      // DURABLE Bloom filter (bloomBitmapToSink): the reference snapshot
      // streams in two batches (even doc_ids, then odd); the RUNNING
      // bitmap after each batch probes the whole corpus — batch 0's
      // verdicts replay against the even-refs prefix filter (exact_hit =
      // prefix membership, so one-sidedness is pinned per prefix),
      // batch 1's equal the batch build (OR monoid). Exactly-once
      // restart pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      val stream = batchFileStream(s, "blsink",
          ref.filter(col("doc_id") % 2 === 0),
          ref.filter(col("doc_id") % 2 =!= 0))
        .select(col("text"))
      val sink = runSink("blsink")((sink, ckpt) =>
        graft.streaming.Streaming.bloomBitmapToSink(stream, "text",
          BloomK, BloomM, sink, ckpt))
      Seq(0, 1).map { b =>
        val words = s.read.parquet(s"$sink/_state/batch_id=$b")
          .select(col("idx"), col("word")).orderBy(col("idx"))
          .collect().map(_.getLong(1))
        val prefRef =
          if (b == 0) ref.filter(col("doc_id") % 2 === 0).select(col("text"))
          else ref.select(col("text"))
        docs.select(col("doc_id"), col("text"))
          .withColumn("bloom_hit",
            Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
          .join(prefRef.distinct().withColumn("__in", lit(true)),
            Seq("text"), "left")
          .select(lit(b.toLong).as("batch_id"), col("doc_id"),
            col("bloom_hit"), coalesce(col("__in"), lit(false)).as("exact_hit"))
      }.reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("doc_id"))
    }),

    "q_card_sink" -> ((s, dir) => {
      // DURABLE data card (corpusReportToSink): two documents
      // micro-batches (even doc_ids, then odd) fold into a persisted
      // per-group state; the RUNNING card after each batch is read back
      // from the sink and must equal the batch corpusReport over exactly
      // the prefix that batch saw — the oracle replays both prefixes.
      // Exactly-once across restarts is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "cardsink",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      val sink = runSink("cardsink")((sink, ckpt) =>
        graft.streaming.Streaming.corpusReportToSink(stream, "lang", "text",
          KmvK, sink, ckpt))
      Seq(0, 1).map(b => s.read.parquet(s"$sink/card/batch_id=$b")
          .select(lit(b.toLong).as("batch_id"), col("lang"),
            col("n_docs"), col("n_tokens"), col("n_chars"),
            col("est_distinct_texts")))
        .reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("lang"))
    }),

    "q_tb_sink" -> ((s, dir) => {
      // DURABLE token-budget admission ledger (tokenBudgetToSink): two
      // batches (even doc_ids, then odd) cumsum on top of the persisted
      // per-language fill; because batch 0's WHOLE fill precedes batch 1,
      // the entire ledger replays as ONE window cumsum keyed
      // (batch, priority DESC, id) in the oracle. Verdicts for EVERY row
      // (keep realized as a column), exactly-once pinned in StreamingSpec.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      val stream = batchFileStream(s, "tbsink",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      val sink = runSink("tbsink")((sink, ckpt) =>
        graft.streaming.Streaming.tokenBudgetToSink(stream, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("doc_id"),
          col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    "q_km_stream" -> ((s, dir) => {
      // the STREAMING k-means twin under the SAME oracle as q_kmeans:
      // the exact model is fitted once on the static corpus
      // (fit-batch/serve-stream), then the availableNow stream re-scores
      // every row through the stateless map-only scorer into the sink
      val static = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(static, "vec_id", "embedding",
        KmInitIds, KmIters)
      val schema = static.schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/embeddings.parque[t]")
        .select(col("vec_id").cast("long").as("vid"), col("embedding"))
      val sink = runSink("kmstream")((sink, ckpt) =>
        graft.streaming.Streaming.kmeansAssignToSink(stream, "vid",
          "embedding", fit, sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("id"))
    }),

    "q_km_sink" -> ((s, dir) => {
      // round 20: q_km_stream's DURABLE graduation — the centroid set
      // (the serving model) is PINNED at sink/_model before the stream
      // starts, per-batch assignments land exactly-once at
      // sink/data/batch_id=B. Two id-ordered batches; the model readback
      // must equal the fit (the artifact gate), and the assignment
      // ledger replays under the same unrolled-Lloyd oracle as q_kmeans
      // with batch_id derived from the id split.
      val static = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(static, "vec_id", "embedding",
        KmInitIds, KmIters)
      val emb = static
        .select(col("vec_id").cast("long").as("vid"), col("embedding"))
      val stream = batchFileStream(s, "kmsink",
        emb.filter(col("vid") < 30), emb.filter(col("vid") >= 30))
      val sink = runSink("kmsink")((sink, ckpt) =>
        graft.streaming.Streaming.kmeansAssignToSink(stream, "vid",
          "embedding", fit, sink, ckpt))
      // artifact gate: the pinned model must read back as the fit
      val model = s.read.parquet(s"$sink/_model")
        .select(col("cell"), col("dim"), col("qm")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val expect = fit.qm.zipWithIndex.flatMap { case (row, cell) =>
        row.zipWithIndex.map { case (q, d) => (cell, d, q) }
      }.toSet
      require(model == expect, "pinned model diverged from the fit")
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("id"),
          col("cell"), col("score"))
        .orderBy(col("id"))
    }),

    "q_sp_graph" -> ((s, dir) => {
      // spec-layer twin of q_spectral: SpectralVizOp through the
      // content-addressed runner — ids are row indices, the [e1,e2] value
      // column exploded back to scalars for the hash gate
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      // k/iters pinned to the SHARED constants the oracle reads — the op
      // defaults alone cannot drift the gate
      val viz = SpectralVizOp(SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(SpectralCap)), "embedding"),
        k = graft.ml.Spectral.DefaultK.toLong,
        iters = graft.ml.Spectral.DefaultIters.toLong)
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("e1"),
          element_at(col("value"), 2).as("e2"))
        .orderBy(col("row_idx"))
    }),

    "q_umap_graph" -> ((s, dir) => {
      // spec-layer twin of q_umap_layout: UmapLayoutOp through the
      // content-addressed runner — ids are row indices; same shared gate
      // constants as the direct query so the oracle cannot drift
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val viz = UmapLayoutOp(SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(SpectralCap)), "embedding"),
        k = graft.ml.Spectral.DefaultK.toLong,
        iters = UmapGateIters.toLong, negatives = UmapGateNegs.toLong,
        init = "random")
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("e1"),
          element_at(col("value"), 2).as("e2"))
        .orderBy(col("row_idx"))
    }),

    // ---- multimodal binary columns ----
    // Real codecs as of round 9 (javax.imageio + RIFF/WAVE parser): each
    // query synthesizes genuine PNG/JPEG/WAV payloads at id-derived
    // dimensions, runs them through the batched decode path, and the oracle
    // recomputes the expected metadata from doc_id alone — a broken codec
    // round-trip fails the hash gate.

    "q_mm_decode" -> ((s, dir) => {
      // real PNG/JPEG byte streams (format alternating by id) → real
      // ImageIO container-sniff decode → dims + format
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withImageMeta(
          Multimodal.synthImages(docs, "doc_id"), "doc_id", "img")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("format"))
        .orderBy(col("doc_id"))
    }),

    "q_mm_frames" -> ((s, dir) => {
      // video stand-in: concatenated-PNG frame stream; frame count by
      // signature scan, first-frame dims by really decoding it
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withFrameStats(
          Multimodal.synthFrameStreams(docs, "doc_id"), "doc_id", "video")
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_w").cast("long").as("frame_w"),
          col("frame_h").cast("long").as("frame_h"))
        .orderBy(col("doc_id"))
    }),

    "q_mm_resize" -> ((s, dir) => {
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
    }),

    "q_mm_embed" -> ((s, dir) => {
      // real feature extraction: 2×2 grid pixel-sample embedding over the
      // decoded raster of a quadrant-colored fixture — the sampled values
      // ARE the quadrant colors, so the oracle recomputes them per (id,pos)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Multimodal.withImageEmbedding(
          Multimodal.synthQuadImages(docs, "doc_id"), "doc_id", "img", grid = 2)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("val"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q_mm_audio" -> ((s, dir) => {
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
    }),

    "q_mm_corrupt" -> ((s, dir) => {
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
    }),

    "q_mm_audio_windows" -> ((s, dir) => {
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
    }),

    "q_mm_frame_embed" -> ((s, dir) => {
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
    }),

    "q_mm_graph" -> ((s, dir) => {
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
    }),

    "q_mm_frames_graph" -> ((s, dir) => {
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
    }),

    "q_dedup_graph" -> ((s, dir) => {
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
    }),

    "q_best_graph" -> ((s, dir) => {
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
    }),

    "q_sh_graph" -> ((s, dir) => {
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
    }),

    "q_cos_graph" -> ((s, dir) => {
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
    }),

    "q_sem_graph" -> ((s, dir) => {
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
    }),

    "q_ann_graph" -> ((s, dir) => {
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
    }),

    "q_pq_graph" -> ((s, dir) => {
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
    }),

    "q_bpe_pairs" -> ((s, dir) => {
      // tokenizer induction, round 0: corpus → unique-word frequencies
      // (ONE shuffle) → adjacent char-pair statistics — the argmax of this
      // table is BPE's first merge. Top-20 with a total ordering so the
      // oracle replays it exactly; the full multi-round loop is oracled by
      // q_bpe_train / q_bpe_encode below.
      Bpe.initialPairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
        .limit(20)
        .select(col("sym_a"), col("sym_b"), col("cnt"))
    }),

    "q_unigram_train" -> ((s, dir) => {
      // round 18: the OTHER major tokenizer family — unigram-LM
      // SentencePiece-style Viterbi-EM (ext/Unigram.scala, Kudo 2018)
      // next to the existing BPE. The oracle replays the seed substring
      // counts, the total-order top-`UniSeedMulti` selection, the
      // micro-nat scores, and EVERY EM round's per-word Viterbi DP (a
      // recursive CTE with a packed-int argmax) bit-for-bit.
      graft.ext.Unigram.trainTable(t(s, dir, "documents"), "text",
          seedMulti = UniSeedMulti, rounds = UniRounds, pieceLen = UniPieceLen)
        .orderBy(col("piece"))
    }),

    "q_unigram_encode" -> ((s, dir) => {
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
    }),

    "q_uni_graph" -> ((s, dir) => {
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
    }),

    "q_tok_compare" -> ((s, dir) => {
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
      val (merges, _) = Bpe.trainFromWordCounts(wc, BpeMerges)
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
    }),

    "q_bpe_train" -> ((s, dir) => {
      // the FULL tokenizer-training loop, hash-oracled: `BpeMerges` merge
      // rounds, each = one distributed pair-count aggregation over the
      // unique-word table (corpus never rescanned after round 0's single
      // shuffle) + a total-order 1-row argmax. The oracle unrolls every
      // round as a recursive leftmost-replacement CTE chain — see
      // bpeOracleCtes for why leftmost-until-fixpoint == the engine's
      // greedy left-to-right mergeOnce pass.
      import s.implicits._
      val (merges, _) = Bpe.train(t(s, dir, "documents"), "text", BpeMerges)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "sym_a", "sym_b")
        .orderBy("rank")
    }),

    "q_bpe_encode" -> ((s, dir) => {
      // ENCODE with the learned tokenizer: the corpus re-tokenized under
      // the learned merges — map-only, the (bounded) merge list rides the
      // closure like a broadcast dim — then top-30 token frequencies.
      // Oracle = the training chain's final unique-word table with tokens
      // exploded and weighted by word counts (identical by construction:
      // tokenizeColumn replays the same merges per word).
      val docs = t(s, dir, "documents")
      val (merges, _) = Bpe.train(docs, "text", BpeMerges)
      docs.select(explode(Bpe.tokenizeColumn(col("text"), merges)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(30)
    }),

    "q_mm_phash" -> ((s, dir) => {
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
    }),

    "q_mm_afp" -> ((s, dir) => {
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
    }),

    "q_mm_vfp" -> ((s, dir) => {
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
    }),

    "q_mm_ann" -> ((s, dir) => {
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
    }),

    // ---- dedup extensions ----

    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactDuplicateGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(col("text_md5"), col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    "q_dedup_drop" -> ((s, dir) => {
      // the deduplicated dataset itself (min-id representative per text)
      Dedup.dropExactDuplicates(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      // pairs → CLUSTERS: unigram-Jaccard pairs on an id-window candidate
      // set (chains deliberately: doc i ~ i+1 ~ i+2 at θ=0.9 without
      // i ~ i+2), closed transitively by alternating large-star/small-star
      // connected components. The oracle recomputes the closure in DuckDB
      // with a recursive CTE — 10 multi-doc clusters with 71 transitively-
      // implied (never directly edged) memberships at sf0.01, so a CC bug
      // cannot hide behind the pair list.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      Dedup.duplicateClusters(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"), col("is_representative"))
        .orderBy(col("doc_id"))
    }),

    "q_pagerank" -> ((s, dir) => {
      // quantized-exact PageRank (ext/PageRank.scala) over the SAME
      // chained near-dup graph: centrality in integer micro-units — every
      // floor-division iteration unrolled and replayed by the oracle, the
      // ExactKMeans pattern applied to graph analytics
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.ext.PageRank.ranks(sym, "src", "dst", PrIters)
        .orderBy(col("id"))
    }),

    "q_hits" -> ((s, dir) => {
      // HITS hub/authority over the DIRECTED near-dup pairs (smaller id
      // → larger id: "original endorses later copy"): the two-sided
      // centrality PageRank's single score can't express — much-copied
      // originals separate from heavy copiers. Integer max-normalized
      // iterations, every step replayed by the oracle.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      graft.ext.Hits.scores(chainedPairs(docs), "id_a", "id_b", HitsIters)
        .orderBy(col("id"))
    }),

    "q_ppr" -> ((s, dir) => {
      // PERSONALIZED PageRank (random walk with restart): teleport mass
      // returns only to the vetted-seed docs (doc_id % 40 == 0) — rank
      // becomes graph PROXIMITY TO THE TRUSTED SET propagated through
      // the same chained near-dup graph (quality/trust propagation, the
      // label-propagation ranking cousin); every floor-division
      // iteration replayed, seed-gated init and base included
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val seeds = docs.filter(col("doc_id") % 40 === 0).select(col("doc_id"))
      graft.ext.PageRank.personalizedRanks(sym, "src", "dst",
          seeds, "doc_id", PrIters)
        .orderBy(col("id"))
    }),

    "q_rank_best" -> ((s, dir) => {
      // CENTRALITY-BASED representative selection: within each transitive
      // near-dup cluster the most central member (max PageRank, ties →
      // smaller id) survives — the "canonical version of a boilerplate
      // family" heuristic, composing the CC and PageRank families
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val pr = graft.ext.PageRank.ranks(sym, "src", "dst", PrIters)
      val cl = Dedup.duplicateClusters(docs.select(col("doc_id")),
        "doc_id", pairs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(coalesce(col("pr_u6"), lit(0L)).desc, col("doc_id"))
      cl.join(pr.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_best" -> ((s, dir) => {
      // quality-aware representative selection over the SAME chained
      // clusters as q_dedup_clusters: keep the LONGEST member (n_chars
      // priority) of each near-dup cluster instead of the min-id one —
      // the oracle recomputes the closure AND the per-cluster argmax
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      Dedup.keepBestPerCluster(
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars",
          pairs)
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
          shingleN = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_minhash_planted" -> ((s, dir) => {
      // planted near-duplicate fixture with a FULL oracle (the cosine-LSH
      // falsifiability trick applied to text): exact copies of doc_id < 200
      // shifted to +100000. At threshold 0.9 the per-pair candidate-miss
      // probability of 16 bands × 4 rows is (1-0.9⁴)¹⁶ ≈ 4e-8 — and the
      // hash family is deterministic — so the LSH output equals the exact
      // all-pairs Jaccard≥0.9 set, which DuckDB computes independently.
      // base corpus capped at 1000 docs: the planted pairs carry the
      // falsifiability; the full-corpus LSH cost is already paid (and
      // rows-only-checked) by q_dedup_minhash
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val planted = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.minhashNearDuplicates(docs.union(planted), "text", "doc_id",
          shingleN = 3, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_incr" -> ((s, dir) => {
      // INCREMENTAL dedup: a new batch (copies of doc_id < 200 at +100000,
      // double-copies of doc_id < 50 at +200000 — the latter plant
      // within-batch pairs) against the STORED index of the old corpus —
      // old band keys and shingles read from the store, never rehashed.
      // Same falsifiability argument as q_dedup_minhash_planted: at θ=0.9
      // the LSH candidate set equals the exact all-pairs Jaccard≥0.9 set,
      // which the oracle computes independently and restricts to pairs
      // touching the batch.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val batch = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.minhashDedupAgainstIndex(s, minhashIndexFor(s, dir), batch,
          "text", "doc_id", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_delta_pipeline" -> ((s, dir) => {
      // THE MONTHLY-RECRAWL PIPELINE in one gate: snapshotDiff classifies
      // the recrawl against the old corpus, and ONLY the delta (added +
      // changed — ids shifted by 2e6 so an edited doc can match its own
      // old version) probes the STORED MinHash index — re-processing
      // cost tracks the delta, never the corpus. Edited docs (one token
      // appended) stay near-dups of their old selves only when long
      // enough, so the threshold genuinely cuts; the oracle replays the
      // diff, the delta selection, and exact all-pairs Jaccard.
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val nw = old.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(old.filter(col("doc_id") < 300)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val delta = nw
        .join(Corpus.snapshotDiff(old, nw, "doc_id", "text")
          .filter(col("status").isin("added", "changed")), "doc_id")
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.minhashDedupAgainstIndex(s, minhashIndexFor(s, dir), delta,
          "text", "doc_id", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_incr_stream" -> ((s, dir) => {
      // the STREAMING ingest form of q_dedup_incr: the planted batch
      // arrives as one micro-batch over a FRESH copy of the old-corpus
      // index (the sink MUTATES its index — probe then append — so the
      // q_dedup_incr cache cannot be shared); the pair ledger is read
      // back without batch ids. The probe-then-append multi-batch
      // equality is pinned in StreamingSpec
      val idx = copyDir(minhashIndexFor(s, dir))
      val batchPath = incrBatchFixtureFor(s, dir)
      val stream = s.readStream
        .schema(s.read.parquet(batchPath).schema).parquet(batchPath)
      val sink = runSink("incrstream")((sink, ckpt) =>
        graft.streaming.Streaming.minhashDedupIngestToSink(stream, idx,
          "text", "doc_id", sink, ckpt, threshold = 0.9))
      readSink(s, sink)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_compact" -> ((s, dir) => {
      // MINHASH INDEX COMPACTION under the gate (the q_bm25_compact
      // treatment): the old corpus arrives as a head build + two TAGGED
      // segment appends, then compactMinhashIndex folds the three
      // segments into one bucket-partitioned band_key-sorted table — and
      // the probe after compaction must STILL equal q_dedup_incr's probe
      // of the single-shot index bit for bit (shared oracle; compaction
      // is pure layout).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-mh-compact-").toString
      // modulo splits: non-empty at every sf (sf0.001 has only 500 docs)
      Dedup.buildMinhashIndex(s, idx, docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id")
      // one handle across append/append/compact/probe (round 21): the
      // path forms re-read the manifest per call — 4 extra driver
      // round-trips for identical results
      val h = Dedup.openMinhashIndex(s, idx)
      Dedup.appendToMinhashIndex(h, docs.filter(col("doc_id") % 3 === 1),
        "text", "doc_id", tag = "a")
      Dedup.appendToMinhashIndex(h, docs.filter(col("doc_id") % 3 === 2),
        "text", "doc_id", tag = "b")
      Dedup.compactMinhashIndex(h)
      val batch = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.minhashDedupAgainstIndex(h, batch,
          "text", "doc_id", threshold = 0.9, maxBucket = 1000,
          excludeSeg = "")
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_simhash_planted" -> ((s, dir) => {
      // falsifiability fixture for the simhash path (the q_dedup_cosine /
      // q_dedup_minhash_planted trick): 100 docs with globally DISJOINT
      // token vocabularies + an exact copy of each at id+1000. Disjoint
      // vocabularies make distinct docs' simhashes 64 independent fair
      // bits — P(hamming ≤ 8) ≈ 3e-10 per pair, and the hash family is
      // deterministic, so the output is EXACTLY the 100 planted pairs at
      // hamming 0, which the oracle states as constants. Validates both
      // guaranteed recall at hamming 0 and no false positives.
      import s.implicits._
      val base = (0 until 100).map { i =>
        (i.toLong, (0 until 30).map(j => s"tok${i}x$j").mkString(" "))
      }
      val copies = base.map { case (id, text) => (id + 1000L, text) }
      Dedup.simhashNearDuplicates((base ++ copies).toDF("doc_id", "text"),
          "text", "doc_id", maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_lsh_skew_report" -> ((s, dir) => {
      // the maxBucket recall trade-off surfaced as a measurable report: a
      // planted mega-bucket (200 identical docs) over 16 bands must show as
      // exactly 16 overflowing buckets of 200 band-memberships each —
      // content-independent COUNTS, so the oracle states them as constants
      import s.implicits._
      val boiler = (0 until 200).map(i =>
        (i.toLong, "the same boilerplate footer text repeated everywhere"))
      val unique = (0 until 50).map(i =>
        (1000L + i, s"unique document $i with alpha$i beta$i gamma$i delta$i"))
      val keys = Dedup.minhashBandKeys((boiler ++ unique).toDF("doc_id", "text"),
        "text", "doc_id", numBands = 16)
      Dedup.bucketOverflowReport(keys, "band_key", maxBucket = 100)
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram Jaccard on an id-window candidate set (smoke shape;
      // the LSH path above is the scale path)
      val docs = t(s, dir, "documents")
      val cands = docs.select(col("doc_id").as("id_a"))
        .filter(col("id_a") < 20)
        .crossJoin(docs.select(col("doc_id").as("id_b")).filter(col("id_b") < 20))
        .filter(col("id_a") < col("id_b"))
      Dedup.jaccardVerify(docs, "text", "doc_id", cands, shingleN = 3,
          threshold = 0.0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_cosine" -> ((s, dir) => {
      // planted near-duplicate fixture: exact copies of vec_id < 50 shifted
      // to +100000 ids. Random 64-d embeddings never reach cos 0.8, so the
      // exact all-pairs oracle equals exactly the planted pairs — making the
      // LSH path falsifiable (round-1 output was 0 rows, unverifiable).
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Dedup.cosineNearDuplicates(emb.union(planted), "embedding", "vec_id",
          dim = 64, nBands = 8, planesPerBand = 8, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_semantic" -> ((s, dir) => {
      // SemDeDup (cluster-then-pair) over the same planted fixture as
      // q_dedup_cosine: exact copies of vec_id < 50 at +100000. Identical
      // vectors assign to identical cells (same centroid cosines, same
      // first-max tie-break), so each copy meets its original inside one
      // cell at cosine 1.0 and is dropped (copy id > original id); random
      // 64-d pairs never reach 0.8, so the survivor set is exactly the
      // originals. Centroids are explicit members (vec_id 0..7) — the
      // DuckDB oracle replays assignment, pairing, and the survivor rule.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val u = emb.union(planted)
      Dedup.semanticDedup(u, "vec_id", "embedding",
          Similarity.centroidsByIds(u, "vec_id", "embedding", 0L to 7L),
          threshold = 0.8)
        .select(col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    "q_dedup_semantic_skew" -> ((s, dir) => {
      // mode-collapse regime: ONE centroid puts the whole corpus (plants
      // included) into a single mega-cell above maxCell, which the old
      // guard would silently skip. The recursive overflow split
      // re-partitions cell 0 by its 16 smallest-id members (vec_id 0..15)
      // and the planted copies — identical vectors, identical sub-cosines,
      // same first-max tie-break — land in their originals' leaves and are
      // still dropped. The DuckDB oracle replays the split level
      // (sub-centroid pick, reassignment, pairing, survivor rule), so the
      // whole recovery path is hash-checked, not just row-counted.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val u = emb.union(planted)
      // the DuckDB oracle replays exactly ONE split level, so the engine
      // must split exactly once at EVERY sf the query runs at (bench is
      // sf0.1, correctness sf0.01). Deriving maxCell = ceil(n/8) pins the
      // invariant for any corpus size: cell 0 always overflows (n > n/8),
      // and 16 near-uniform random sub-leaves (~n/16 rows, fluctuation
      // O(√(n/16))) always fit under 2× their mean — a fixed maxCell made
      // the single-level assumption silently sf-dependent.
      val n = u.count()
      Dedup.semanticDedup(u, "vec_id", "embedding",
          Similarity.centroidsByIds(u, "vec_id", "embedding", Seq(0L)),
          threshold = 0.8, maxCell = math.max(1L, (n + 7) / 8).toInt,
          splitFanout = 16)
        .select(col("id").as("vec_id"), col("cell"), col("leaf"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    // ---- similarity search extensions ----

    "q_ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_hard_negatives" -> ((s, dir) => {
      // contrastive-pair mining: corpus = embeddings + planted COPIES of
      // vec_id < 50 (cosine 1 with their sources); per query the top-5
      // similar-but-NOT-duplicate neighbors — each query's own planted
      // copy is excluded by the 0.95 duplicate threshold, so the mined
      // negatives are hard, never false
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.union(emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.hardNegatives(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dupThreshold = 0.95)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_ivf_pruned" -> ((s, dir) => {
      // stored-bucketed IVF (the 100 TB scan-reduction): the corpus is
      // WRITTEN partitioned by cell id once per (JVM, sf dir), and the
      // probe's literal cell set prunes unprobed cell directories at the
      // source (ExtSpec asserts partitionCount == |probed cells| < nlist).
      // Centroids are explicit corpus members (vec_id 0..7), so the DuckDB
      // oracle replays the ENTIRE pipeline — assignment, probe, scoring —
      // from the base table; nprobe=2 < nlist=8 means this oracle checks
      // true IVF semantics, not brute force.
      Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
          t(s, dir, "embeddings").filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_recall" -> ((s, dir) => {
      // index-quality EVALUATION — the measurement that sets the
      // nprobe/recall trade before a config ships: recall@5 of the stored
      // pruned IVF probe (nprobe=2 < nlist=8) against the exact
      // brute-force ranking, per query. Integer output (hits of 5,
      // recall in micro-units) keeps the gate hash exact. At 100 TB this
      // runs on a SAMPLE of queries: both legs are bounded by the query
      // batch, the brute leg by design (it exists to calibrate the
      // approximate one).
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
          queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"))
      exact.join(approx.withColumn("__hit", lit(1L)),
          Seq("query_id", "corpus_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") * 200000L).as("recall_u6")) // = hits/5 in µ-units
        .orderBy(col("query_id"))
    }),

    "q_ann_stream" -> ((s, dir) => {
      // STREAMING ANN ingest (the third stored index on the
      // probe-then-append discipline): two embedding micro-batches
      // retrieve their top-5 neighbors from the ACCUMULATED store —
      // batch 1 can retrieve batch 0's vectors — then append themselves
      // as tagged segments, with per-batch auto-compaction folding the
      // store to one generation under the gate. The oracle replays each
      // batch's full IVF pipeline (assign, probe, score, cut) against
      // exactly the corpus prefix that batch saw.
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-annstream-idx-").toString
      val head = emb.filter(col("vec_id") < 20)
      Similarity.buildIvfIndex(head, "vec_id", "embedding",
        Similarity.centroidsByIds(head, "vec_id", "embedding", 0L until 8L),
        idx)
      val stream = batchFileStream(s, "annstream",
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 40))
      val sink = runSink("annstream")((sink, ckpt) =>
        graft.streaming.Streaming.ivfIngestToSink(stream, idx, "vec_id",
          "embedding", k = 5, nprobe = 2, sink, ckpt, autoCompactAt = 1))
      s.read.parquet(sink)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
        .orderBy(col("batch_id"), col("query_id"), col("rank"))
    }),

    "q_pq_stream" -> ((s, dir) => {
      // STREAMING PQ ingest — the FOURTH stored index on the
      // probe-then-append discipline (enabled by the round-18 segment
      // port of the PQ store): two embedding micro-batches retrieve
      // their codes-only ADC top-5 from the ACCUMULATED store (batch 1
      // sees batch 0's codes), then append themselves as tagged segments
      // encoded against the STORED codebooks; per-batch auto-compaction
      // folds the store under the gate. The oracle replays each batch's
      // full IVF-PQ pipeline (assignment, code argmin, probe, ADC)
      // against exactly the corpus prefix that batch saw.
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-pqstream-idx-").toString
      val head = emb.filter(col("vec_id") < 20)
      Similarity.buildIvfPqIndex(head, "vec_id", "embedding",
        Similarity.centroidsByIds(head, "vec_id", "embedding", 0L to 7L),
        Similarity.pqCodebooksByIds(head, "vec_id", "embedding", m = 8,
          0L to 15L),
        idx)
      val stream = batchFileStream(s, "pqstream",
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 40))
      val sink = runSink("pqstream")((sink, ckpt) =>
        graft.streaming.Streaming.pqIngestToSink(stream, idx, "vec_id",
          "embedding", k = 5, nprobe = 2, sink, ckpt, autoCompactAt = 1))
      s.read.parquet(sink)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("query_id"), col("corpus_id"), col("score"), col("rank"))
        .orderBy(col("batch_id"), col("query_id"), col("rank"))
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ (Jégou et al., TPAMI 2011): IVF cell pruning + product-
      // quantized ADC scoring — candidates cost O(m) LUT lookups over
      // m-int codes, never a vector dot (the billion-scale payload cut:
      // codes are m bytes/row vs 4·d for raw vectors). Centroids are
      // explicit members (vec_id 0..7) and codewords explicit member
      // sub-slices (vec_id 0..15, m=8 subspaces × 8 dims), so the DuckDB
      // oracle replays the ENTIRE pipeline: assignment, probe, the
      // per-subspace L2 code argmin, and LUT scoring. nprobe=2 < nlist=8
      // keeps true IVF semantics in the check.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L),
          Similarity.pqCodebooksByIds(emb, "vec_id", "embedding", m = 8, 0L to 15L),
          nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_ivfpq_rerank" -> ((s, dir) => {
      // the two-stage retrieval the production config runs: ADC selects a
      // top-8 candidate pool per query, the exact-cosine pass re-ranks it
      // to the final top-5 — vectors join the 8·nq survivors only. The
      // oracle replays BOTH rankings (ADC pool cut, then exact), gating
      // the rerank path's tie-breaks and rounding end-to-end.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L),
          Similarity.pqCodebooksByIds(emb, "vec_id", "embedding", m = 8, 0L to 15L),
          nprobe = 2, rerank = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_ann_ivfpq_res" -> ((s, dir) => {
      // IVFADC proper: codes quantize v − centroid(cell), scoring adds the
      // query⋅centroid dot to the ADC gather-sum and normalizes by the
      // reconstruction norm. Codewords are EXPLICIT member residuals
      // (vec_id 0..15 after their own assignment), so the oracle replays
      // assignment, member-residual codebooks, the per-subspace argmin
      // over residuals, and the full ADC arithmetic.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L)
      val resCb = Similarity.pqCodebooksByIds(
        Similarity.pqResiduals(emb, "vec_id", "embedding", cents),
        "id", "__v", m = 8, 0L to 15L)
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          cents, resCb, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- text analysis extensions ----

    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    "q_tfidf" -> ((s, dir) => {
      // per-doc top-5 TF-IDF terms; rank by (tf desc, term asc) is integer-
      // deterministic so the whole result hash-compares (see tfidfTopTerms)
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("rank"))
    }),

    "q_quality_score" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents")
        .select(Seq(col("doc_id")) ++
          TextAnalysis.qualityFeatures(text).filter(_._1 != "mean_token_len")
            .map { case (n, c) =>
              (if (n == "n_tokens") c.cast("long") else c).as(n)
            } :+ TextAnalysis.qualityScore(text).as("quality"): _*)
        .orderBy(col("doc_id"))
    }),

    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "q_lm_perplexity" -> ((s, dir) => {
      // bigram stupid-backoff perplexity (ext.LangModel): fit on the even
      // doc_ids, score EVERYTHING — odd docs hit the backoff and OOV arms,
      // so the oracle exercises all three probability paths. Integer
      // micro-nat per-doc sums are the hash-stable field; ppl derives from
      // them by one exp + round(6). The oracle replays fit AND score.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.score(docs, "doc_id", "text", lm).orderBy(col("doc_id"))
    }),

    "q_dedup_spans" -> ((s, dir) => {
      // ExactSubstr span dedup (Lee et al. 2021) over the corpus + planted
      // duplicates: full copies of docs 0..9 (every window duplicated →
      // whole doc dropped) and one partial plant (5 unique filler words +
      // doc 0's text → exactly the copied suffix drops, the sliding-window
      // property stride-k segments can't see). Originals stay first
      // occurrences and pass untouched.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val partial = docs.filter(col("doc_id") === 0)
        .select(lit(200000L).as("doc_id"),
          concat_ws(" ", lit("uq1 uq2 uq3 uq4 uq5"), col("text")).as("text"))
      Corpus.dedupSpans(docs.union(copies).union(partial),
          "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    "q_quality_probe" -> ((s, dir) => {
      // fastText-SHAPE quality classifier with zero neural model: hashed-TF
      // features (scaled by /1024 — dyadic, exact in float) + the exact
      // difference-of-means probe, label = "looks like English". The whole
      // train→score pipeline is integer-exact (weightsExact/scoresExact
      // contract), so the classifier's OUTPUT hashes bit-for-bit.
      val docs = t(s, dir, "documents")
      val emb = docs.select(col("doc_id"), col("lang"),
        transform(TextAnalysis.hashedTfEmbedding(col("text"), 64),
          x => x / 1024.0f).as("emb"))
      graft.ml.DiffOfMeans.scoresExact(emb, col("doc_id"), col("emb"),
          col("lang") === "en")
        .orderBy(col("vec_id"))
    }),

    "q_spans_graph" -> ((s, dir) => {
      // ExactSubstr THROUGH THE SPEC LAYER: the corpus's own planted exact
      // duplicates (doc 178 etc.) drop; the expensive window pass is
      // content-addressed in the store. ids = file-order row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(DedupSpansOp(SelectTextColumnOp(ds, "text"), k = 8L))
        .orderBy(col("id"))
    }),

    "q_bm25_graph" -> ((s, dir) => {
      // BM25 THROUGH THE SPEC LAYER: a content-addressed ranked retrieval —
      // repeated curation queries hit the store, not the corpus
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(Bm25RankOp(SelectTextColumnOp(ds, "text"),
          Seq("spark", "merge", "window"), k = 10L))
        .orderBy(col("rank"))
    }),

    "q_hash_embed_ann" -> ((s, dir) => {
      // text → ANN bridge: model-free hashed-TF embeddings (signed bucket
      // counts — integer-exact floats) feed the SAME bruteForceTopK the
      // neural-embedding path uses; docs 0..2 as queries. The oracle
      // rebuilds every vector and replays the ranking.
      val emb = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      Similarity.bruteForceTopK(emb, "doc_id", "emb",
          emb.filter(col("doc_id") < 3), "doc_id", "emb", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_rrf_indexed" -> ((s, dir) => {
      // the FULLY-SERVED hybrid: sparse leg = inverted-text-index probe,
      // dense leg = the stored cell-partitioned IVF probe at nprobe=2
      // (REAL pruning) querying doc 0's embedding — neither leg scans the
      // corpus at query time; fusion over the shared 0-based row-id space
      val sparse = Bm25.topKIndexed(s, bm25IndexFor(s, dir), RrfTerms,
          k = RrfPoolK)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
          emb.filter(col("vec_id") === 0), "vec_id", "embedding",
          k = RrfPoolK, nprobe = 2)
        .select(col("corpus_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(sparse, dense, "doc_id", RrfKConst, RrfN)
        .orderBy(col("rank"))
    }),

    "q_rrf" -> ((s, dir) => {
      // hybrid retrieval (ext/Retrieval.scala, Cormack 2009 RRF): BM25
      // top-20 for the query terms fused with hashed-TF cosine top-20 for
      // the SAME query text by reciprocal-rank fusion — both legs and the
      // pico-quantized fusion replay in SQL
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rank(docs, "doc_id", "text", RrfTerms, RrfPoolK)
      val emb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      val qdf = s.range(1).select(col("id").as("qid"),
        TextAnalysis.hashedTfEmbedding(lit(RrfTerms.mkString(" ")), 64)
          .as("emb"))
      val dense = Similarity.bruteForceTopK(emb, "doc_id", "emb",
        qdf, "qid", "emb", k = RrfPoolK)
      Retrieval.rrfFuse(
          sparse.select(col("doc_id"), col("rank")),
          dense.select(col("corpus_id").as("doc_id"), col("rank")),
          "doc_id", RrfKConst, RrfN)
        .orderBy(col("rank"))
    }),

    "q_rrf_graph" -> ((s, dir) => {
      // hybrid retrieval THROUGH THE SPEC LAYER: content-addressed
      // Bm25RankOp (sparse leg) + AnnBruteTopKOp over hashed-TF embeddings
      // with an INLINE one-row query dataset (dense leg), fused by
      // RrfFuseOp — each leg rides the store independently, so re-running
      // the hybrid query with new fusion params reuses both ranked lists
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val text = SelectTextColumnOp(ds, "text")
      val sparse = Bm25RankOp(text, RrfTerms, RrfPoolK.toLong)
      val qds = LoadInlineJsonDatasetOp(Map(
        "qtext" -> Seq(RrfTerms.mkString(" "))))
      val dense = AnnBruteTopKOp(
        HashedTfEmbeddingOp(text),
        HashedTfEmbeddingOp(SelectTextColumnOp(qds, "qtext")),
        RrfPoolK.toLong)
      r.toFrame(RrfFuseOp(sparse, dense, "id", "corpus_id",
          RrfKConst.toLong, RrfN.toLong))
        .orderBy(col("rank"))
    }),

    "q_phrase" -> ((s, dir) => {
      // exact phrase search (TextAnalysis.phraseCount): contiguous-window
      // positional matching, pure map-side — one scan, zero shuffle at
      // any corpus size; occurrence counts per matching document
      val cnt = TextAnalysis.phraseCount(col("text"), PhraseTerms)
      t(s, dir, "documents")
        .select(col("doc_id"), cnt.as("n_hits"))
        .filter(col("n_hits") > 0L)
        .orderBy(col("doc_id"))
    }),

    "q_phrase_rank" -> ((s, dir) => {
      // phrase-CONSTRAINED retrieval: BM25 over only the documents
      // containing the exact phrase (the "must-match quote + ranked terms"
      // search shape) — the phrase filter composes map-side ahead of the
      // one-pass ranking, statistics computed over the constrained corpus
      val docs = t(s, dir, "documents")
        .filter(TextAnalysis.phraseCount(col("text"), PhraseTerms) > 0L)
      Bm25.rank(docs, "doc_id", "text", RrfTerms, k = 10)
        .orderBy(col("rank"))
    }),

    "q_phrase_indexed" -> ((s, dir) => {
      // phrase search as an INDEX PROBE: the positional payload in the
      // stored postings answers the same contiguous-window query by
      // meeting the phrase terms' position lists per document — no corpus
      // scan, no re-tokenization; shares q_phrase's oracle verbatim
      Bm25.phraseCountIndexed(s, bm25IndexFor(s, dir), PhraseTerms)
        .orderBy(col("doc_id"))
    }),

    "q_phrase_multi" -> ((s, dir) => {
      // BATCH phrase probe (Bm25.phraseCountManyIndexed): thousands of
      // contamination phrases priced as ONE read of the union of their
      // buckets — per phrase it must equal the scan-form count, which is
      // how the oracle replays it (one UNION ALL branch per phrase)
      Bm25.phraseCountManyIndexed(s, bm25IndexFor(s, dir), MultiPhrases)
        .orderBy(col("phrase_id"), col("doc_id"))
    }),

    "q_bm25_indexed" -> ((s, dir) => {
      // stored INVERTED-INDEX probe (the 100 TB retrieval serving shape,
      // the text analog of q_ann_ivf_pruned): postings bucket-partitioned
      // by term hash, the probe reads ONLY the query terms' bucket
      // directories with the term equality pushed into the scan. k=10 is
      // far under the matched-doc count at every sf, so the result is
      // bit-identical to the q_bm25 corpus scan — the oracle IS q_bm25's.
      Bm25.topKIndexed(s, bm25IndexFor(s, dir), RrfTerms, k = 10)
        .orderBy(col("rank"))
    }),

    "q_bm25_stream" -> ((s, dir) => {
      // STREAMING INGEST of the inverted index: the corpus tail arrives
      // in 2 micro-batches appended into a fresh COPY of the head-built
      // index (postings append + vocab-bounded df merge behind a staged
      // rename + additive stats LAST — probe-anytime consistency); the
      // standing query against the final index (the sink's last batch)
      // shares q_bm25's oracle: streamed build == batch corpus scan, bit
      // for bit
      val idx = copyDir(bm25HeadIndexFor(s, dir))
      val tail = bm25TailFixtureFor(s, dir)
      val stream = s.readStream
        .schema(s.read.parquet(tail).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tail)
      val sink = runSink("bm25stream")((sink, ckpt) =>
        graft.streaming.Streaming.bm25IngestToSink(stream, idx, "doc_id",
          "text", RrfTerms, k = 10, sink, ckpt))
      readSink(s, sink, newestOnly = true)
        .orderBy(col("rank"))
    }),

    "q_bm25_compact" -> ((s, dir) => {
      // INDEX COMPACTION under the gate: head index + the tail appended
      // as two delta segments, then compactIndex folds everything into
      // one term-sorted base (orphan sweep, atomic stats cutover) — the
      // probe after compaction must STILL equal the q_bm25 corpus scan
      // bit for bit (shared oracle). This is the long-running-ingest
      // maintenance path: thousands of micro-batch segments fold back to
      // one-file-per-bucket min/max-skippable row groups.
      val idx = copyDir(bm25HeadIndexFor(s, dir))
      // one handle across append/append/compact/probe (round 21): the
      // path forms re-read the stats pointer per call — 4 extra driver
      // round-trips for identical results
      val h = Bm25.openIndex(s, idx)
      val tailDocs = s.read.parquet(bm25TailFixtureFor(s, dir))
      Bm25.appendToIndex(h, tailDocs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tag = "even")
      Bm25.appendToIndex(h, tailDocs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", tag = "odd")
      Bm25.compactIndex(h)
      Bm25.topKIndexed(h, RrfTerms, k = 10, k1 = 1.2, b = 0.75)
        .orderBy(col("rank"))
    }),

    "q_bm25_multi" -> ((s, dir) => {
      // BATCH retrieval (ext.Bm25.rankMany): three term-list queries
      // priced as ONE corpus pass — union-terms stats row broadcast, one
      // tf UDF pass, per-query two-phase WindowGroupLimit top-k; the
      // oracle replays every query's own fold order and the per-query cut
      Bm25.rankMany(t(s, dir, "documents"), "doc_id", "text",
        MultiQueries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_multi_graph" -> ((s, dir) => {
      // batch retrieval THROUGH THE SPEC LAYER: Bm25RankManyOp
      // content-addresses a whole eval-suite's retrievals (query_id =
      // position in the nested term-list param — nested-seq serde)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(Bm25RankManyOp(SelectTextColumnOp(ds, "text"),
          MultiQueries.map(_._2), k = 10L))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_rrf_multi" -> ((s, dir) => {
      // BATCH hybrid retrieval: rankMany sparse legs + multi-query
      // hashed-TF cosine dense legs (bruteForceTopK already batches
      // queries), fused per query by rrfFusePerQuery — every window
      // partitioned by query_id, nothing corpus-proportional past the
      // two scans
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rankMany(docs, "doc_id", "text", MultiQueries,
          RrfPoolK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val hemb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      import s.implicits._
      val q = MultiQueries.map { case (qid, ts) => (qid, ts.mkString(" ")) }
        .toDF("query_id", "qtext")
        .select(col("query_id"),
          TextAnalysis.hashedTfEmbedding(col("qtext"), 64).as("emb"))
      val dense = Similarity.bruteForceTopK(hemb, "doc_id", "emb",
          q, "query_id", "emb", k = RrfPoolK)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      Retrieval.rrfFusePerQuery(sparse, dense, "query_id", "doc_id",
          RrfKConst, RrfN)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_rrf_eval" -> ((s, dir) => {
      // per-query retrieval-quality SWEEP over the hybrid ranking — the
      // shape a real relevance sweep runs: every eval query's BM25 +
      // dense legs fused per query (the q_rrf_multi pipeline), then
      // per-query MRR/nDCG@10 against that query's own relevance labels
      // (gain = tf of the query's head term — a deterministic stand-in
      // for judged qrels; production passes the judged set). All metric
      // arithmetic exact-integer (shared DcgWeightsU6 plan literals,
      // micro-unit floor division) and every step PARTITIONED by
      // query_id — nothing corpus-proportional past the two ranking
      // scans and the label join.
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rankMany(docs, "doc_id", "text", MultiQueries,
          RrfPoolK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val hemb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      import s.implicits._
      val q = MultiQueries.map { case (qid, ts) => (qid, ts.mkString(" ")) }
        .toDF("query_id", "qtext")
        .select(col("query_id"),
          TextAnalysis.hashedTfEmbedding(col("qtext"), 64).as("emb"))
      val dense = Similarity.bruteForceTopK(hemb, "doc_id", "emb",
          q, "query_id", "emb", k = RrfPoolK)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      val fused = Retrieval.rrfFusePerQuery(sparse, dense, "query_id",
        "doc_id", RrfKConst, RrfN)
      val heads = MultiQueries.map { case (qid, ts) => (qid, ts.head) }
        .toDF("query_id", "__head")
      val gains = docs.crossJoin(broadcast(heads))
        .select(col("query_id"), col("doc_id"),
          size(filter(Corpus.words(col("text")), w => w === col("__head")))
            .cast("long").as("gain"))
      Retrieval.rankingMetricsPerQuery(fused, "query_id", "rank", "doc_id",
          gains, "query_id", "doc_id", "gain", k = 10)
        .orderBy(col("query_id"))
    }),

    "q_bm25" -> ((s, dir) => {
      // BM25 ranked retrieval (ext.Bm25): one stats row broadcast, map-side
      // tf, fixed-term-order score fold quantized to micro-units; the
      // oracle replays statistics, arithmetic, and the top-k cut.
      Bm25.rank(t(s, dir, "documents"), "doc_id", "text",
        RrfTerms, k = 10)
        .orderBy(col("rank"))
    }),

    "q_retrieval_eval" -> ((s, dir) => {
      // retrieval EVALUATION — MRR and nDCG@10 of the BM25 ranking
      // against term-relevance labels (gain = tf of the query's head
      // term): the measurement that gates a ranking change before it
      // ships. DCG discount weights are PRECOMPUTED integer micro-units
      // (round(1e6/log2(rank+1)), [[DcgWeightsU6]]) shared as literals
      // with the oracle, so neither engine evaluates a transcendental at
      // query time and all metric arithmetic is exact integer. Bounded
      // everywhere: the retrieved leg by k, the ideal leg by a
      // corpus-wide top-10 (collected — 10 rows by construction). At
      // 100 TB this runs per query over a SAMPLE of queries; each costs
      // one BM25 probe plus one narrow top-10.
      val docs = t(s, dir, "documents")
      val topk = Bm25.rank(docs, "doc_id", "text", RrfTerms, k = 10)
      val gains = docs.select(col("doc_id"),
        size(filter(Corpus.words(col("text")), w => w === RrfTerms.head))
          .cast("long").as("gain"))
      Retrieval.rankingMetrics(topk, "rank", "doc_id",
        gains, "doc_id", "gain", k = 10)
    }),

    "q_dsir_select" -> ((s, dir) => {
      // DSIR data selection (ext.Dsir): target = English docs, raw = the
      // whole corpus, m=4096 hashed unigram+bigram buckets, add-1
      // smoothing; deterministic top-50 by integer micro-nat importance
      // weight. The oracle replays bucketing, fit, scoring, and the cut.
      val docs = t(s, dir, "documents")
      val ratios = Dsir.fitLogRatios(s, docs.filter(col("lang") === "en"),
        docs, "text", m = 4096)
      val w = Dsir.importanceWeights(docs, "doc_id", "text", ratios, 4096)
      Dsir.selectTopK(w, "doc_id", 50)
        .orderBy(col("w_u6").desc, col("doc_id"))
    }),

    "q_dsir_gumbel" -> ((s, dir) => {
      // the paper's sampling rule: Gumbel-top-k with md5(seed:id) uniforms
      // — a pure function of (data, seed), so the draw itself is oracled
      val docs = t(s, dir, "documents")
      val ratios = Dsir.fitLogRatios(s, docs.filter(col("lang") === "en"),
        docs, "text", m = 4096)
      val w = Dsir.importanceWeights(docs, "doc_id", "text", ratios, 4096)
      Dsir.gumbelTopK(w, "doc_id", 50, seed = 13L)
        .orderBy(col("g_u6").desc, col("doc_id"))
    }),

    "q_lm_graph" -> ((s, dir) => {
      // LM PERPLEXITY THROUGH THE SPEC LAYER: content-addressed load →
      // TakeRowsOp(skip=2) fit slice (the even doc_ids, file order ==
      // doc_id) → LmPerplexityOp score column. The fitted counts ride the
      // store: a re-run is a scan, not a re-fit.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val lm = LmPerplexityOp(SelectTextColumnOp(ds, "text"),
        SelectTextColumnOp(TakeRowsOp(ds, skip = 2L), "text"))
      r.toFrame(lm)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value").as("ppl"))
        .orderBy(col("row_idx"))
    }),

    "q_lm_trigram" -> ((s, dir) => {
      // trigram stupid backoff (LangModel.fit3/score3): all five count
      // tables derive from ONE BOS²-prefixed triple stream, so every
      // backoff order is well-normalized; fit on even doc_ids, score all —
      // the tri, bi, and uni/OOV arms are all exercised and replayed.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit3(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.score3(docs, "doc_id", "text", lm).orderBy(col("doc_id"))
    }),

    "q_lm_stream" -> ((s, dir) => {
      // the STREAMING twin under the SAME oracle as q_lm_perplexity: an
      // availableNow file stream scored per micro-batch against the STATIC
      // model fit on the even doc_ids — no cross-batch state, so the
      // verdicts read back from the sink equal the batch scorer's bit for
      // bit (multi-batch invariance pinned in StreamingSpec)
      val static = t(s, dir, "documents")
      val lm = LangModel.fit(static.filter(col("doc_id") % 2 === 0), "text")
      val stream = s.readStream.schema(static.schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("lmstream")((sink, ckpt) =>
        graft.streaming.Streaming.pinnedLmScoreToSink(
          stream.select(col("doc_id"), col("text")), "doc_id", "text", lm,
          sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("doc_id"))
    }),

    "q_dsir_graph" -> ((s, dir) => {
      // DSIR THROUGH THE SPEC LAYER: lang category → ==en boolean → masked
      // target slice → DsirSelectOp top-50 against the full text column —
      // the selection set is content-addressed like every other store
      // result. Same fit/score/cut as q_dsir_select, ids = row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val isEn = CategoryToBooleanOp(
        SelectCategoricalColumnOp(ds, "lang"), Some(Seq("en")))
      val sel = DsirSelectOp(
        SelectTextColumnOp(ds, "text"),
        SelectTextColumnOp(MaskRowsOp(ds, isEn), "text"),
        m = 4096L, k = 50L)
      r.toFrame(sel)
        .select(col("id").as("row_idx"), col("n_feats"), col("w_u6"))
        .orderBy(col("w_u6").desc, col("row_idx"))
    }),

    "q_curate_pipeline" -> ((s, dir) => {
      // END-TO-END CURATION THROUGH THE SPEC/RUNNER LAYER: content-addressed
      // load → benchmark slice (every 20th row, TakeRowsOp) → contamination
      // flag (broadcast gram hashes) → keep-clean mask → exact dedup (first
      // copy per digest) → exact stratified half-sample per lang →
      // JinjaTemplatize render. Five ops deep, three positional re-indexes;
      // the oracle replays every stage over the same positional identity.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val benchText = SelectTextColumnOp(TakeRowsOp(ds, skip = 20L), "text")
      val flag = ContaminationFlagOp(
        SelectTextColumnOp(ds, "text"), benchText, n = 5L)
      val clean = MaskRowsOp(ds, BooleanLogicOp("not", flag, flag))
      val dedup = DropExactDuplicatesOp(clean,
        SelectTextColumnOp(clean, "text"))
      val samp = StratifiedSampleOp(dedup,
        SelectCategoricalColumnOp(dedup, "lang"), frac = 0.5)
      val rendered = JinjaTemplatizeOp("[{{lang}}] {{text}}", Map(
        "lang" -> SelectCategoricalColumnOp(samp, "lang"),
        "text" -> SelectTextColumnOp(samp, "text")))
      r.toFrame(samp).select(col("doc_id"), col(ColumnOps.RowIdx))
        .join(r.toFrame(rendered)
          .select(col(ColumnOps.RowIdx), col("value").as("rendered")),
          ColumnOps.RowIdx)
        .select(col("doc_id"), col("rendered"))
        .orderBy(col("doc_id"))
    }),

    "q_contamination" -> ((s, dir) => {
      // benchmark-contamination: docs sharing any word 5-gram with the
      // "benchmark" slice (every 20th doc). Benchmark grams broadcast.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      Corpus.contamination(train, bench, "text", "doc_id", n = 5)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_segments" -> ((s, dir) => {
      // corpus-wide first-occurrence segment dedup (8-word segments);
      // oracle recomputes with a window in DuckDB
      Corpus.dedupSegments(t(s, dir, "documents"), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    }),

    "q_redact_pii" -> ((s, dir) => {
      // deterministic PII injected per doc (base corpus has none), then
      // redacted — exercises all three patterns and their ordering
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), Corpus.redactPII(injected).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    "q_gopher_rules" -> ((s, dir) => {
      val rules = Corpus.gopherRules(col("text"), minWords = 20, maxWords = 60,
        minMeanWordLen = 3.0, maxMeanWordLen = 6.0, minUniqueFrac = 0.3)
      t(s, dir, "documents")
        .select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // exact floor(0.3 * |stratum|) per lang, md5-ranked (seed "graft")
      Corpus.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          frac = 0.3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_mixture_sample" -> ((s, dir) => {
      // domain re-weighting: keep half of en, all of zh, a quarter of the
      // rest — exact floor counts per lang, md5-ranked (seed "graft")
      Corpus.mixtureSample(t(s, dir, "documents"), "lang", "doc_id",
          fracs = Map("en" -> 0.5, "zh" -> 1.0), defaultFrac = 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_pack_sequences" -> ((s, dir) => {
      // concat-and-chunk training layout at seq_len=512: every doc's token
      // offset and sequence range via the two-phase distributed prefix-sum
      // (no global window, no eager driver action — the range-bucket bound
      // is a broadcast 1-row max joined in-plan)
      Corpus.packSequences(t(s, dir, "documents"), "doc_id",
          size(Corpus.words(col("text"))), seqLen = 512L)
        .orderBy(col("doc_id"))
    }),

    "q_chunk" -> ((s, dir) => {
      // RAG chunking: overlapping 32-word windows (stride 24) per doc —
      // the map-only prep step before embedding + ANN indexing; chunk
      // identity (doc_id, chunk_idx) is what attribution joins back on.
      // ONE tokenization per row (bindArray), windows as a higher-order
      // expression, the explode never shuffles.
      Corpus.chunkWords(t(s, dir, "documents"), "doc_id", "text",
          size = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_chunk_bm25" -> ((s, dir) => {
      // chunk → retrieve → attribute: the RAG serving composition. The
      // q_chunk windows become the retrieval corpus (composite id
      // doc_id·10⁴ + chunk_idx), BM25 ranks PASSAGES with chunk-level
      // statistics, and each hit attributes back to (doc_id, chunk_idx)
      // — the join key chunking exists to provide.
      val chunks = Corpus.chunkWords(t(s, dir, "documents"), "doc_id",
          "text", size = 32, overlap = 8)
        .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      Bm25.rank(chunks, "chunk_id", "chunk_text", RrfTerms, k = 10)
        .select(col("rank"),
          expr("chunk_id div 10000").as("doc_id"),
          (col("chunk_id") % 10000L).as("chunk_idx"),
          col("score_u6"))
        .orderBy(col("rank"))
    }),

    "q_train_export" -> ((s, dir) => {
      // end-to-end tokenizer-aware export: LEARN the tokenizer (6 BPE
      // merges over the unique-word table), re-tokenize the corpus with
      // it, and pack the resulting counts into seqLen=256 training rows
      // — the tokenize→count→pack composition a real export job runs.
      // The oracle replays the merge loop, every word's learned
      // tokenization length, and the pack prefix-sum.
      val docs = t(s, dir, "documents")
      val (merges, _) = Bpe.train(docs, "text", BpeMerges)
      Corpus.packSequences(docs, "doc_id",
          size(Bpe.tokenizeColumn(col("text"), merges)), seqLen = 256L)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_lines" -> ((s, dir) => {
      // CCNet-style corpus-wide duplicated-LINE removal: every doc gets
      // a planted boilerplate footer (15k copies — drops) and a unique
      // line (keeps); corpus-duplicated body lines drop too. The oracle
      // replays the digest counts, every verdict, and the line-order
      // rebuild.
      val d0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nCOPYRIGHT BOILERPLATE FOOTER\nunique-"),
          col("doc_id")).as("text"))
      Corpus.dropDuplicatedLines(d0, "doc_id", "text", maxCopies = 10L)
        .orderBy(col("doc_id"))
    }),

    "q_snapshot_diff" -> ((s, dir) => {
      // crawl-refresh delta: old = the corpus; new = a synthetic recrawl
      // (every 17th doc ≡3 dropped, every 17th ≡5 edited, 300 new ids) —
      // the digest-keyed full-outer join classifies every id so the
      // pipeline re-processes ONLY added+changed. Documents never
      // shuffle; the join carries (id, 16-byte digest) rows.
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newer = old.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(old.filter(col("doc_id") < 300)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(old, newer, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_chunk_graph" -> ((s, dir) => {
      // chunking as a CONTENT-ADDRESSED spec op over the runner's
      // positional identity — chunk once per (corpus, size, overlap),
      // (row_idx, chunk_idx) the attribution key
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(ChunkTextOp(SelectTextColumnOp(ds, "text"),
          size = 32L, overlap = 8L))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("chunk_idx"),
          col("chunk_text"), col("n_words"))
        .orderBy(col("row_idx"), col("chunk_idx"))
    }),

    "q_chunk_maxp" -> ((s, dir) => {
      // doc-level retrieval by MAX PASSAGE score (the BERT-maxP pattern:
      // a long doc is as relevant as its best passage): passage-level
      // BM25 over ALL chunks (k = corpus-wide cut high enough to keep
      // every scored passage per doc candidate), then per-doc max + a
      // deterministic re-rank. Chunk-level statistics, doc-level answer.
      val chunks = Corpus.chunkWords(t(s, dir, "documents"), "doc_id",
          "text", size = 32, overlap = 8)
        .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      Bm25.rank(chunks, "chunk_id", "chunk_text", RrfTerms, k = 200)
        .select(expr("chunk_id div 10000").as("doc_id"), col("score_u6"))
        .groupBy(col("doc_id")).agg(max(col("score_u6")).as("best_u6"))
        .orderBy(col("best_u6").desc, col("doc_id"))
        .limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("best_u6").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("best_u6"))
    }),

    "q_chunk_ann" -> ((s, dir) => {
      // DENSE passage retrieval — the RAG-serving composition q_chunk_maxp
      // runs for BM25, on the ANN leg: chunk → hashed-TF embed → the
      // STORED cell-partitioned IVF probe (nprobe=2 < nlist=8: true
      // pruning, only probed cell directories are read) → per-query
      // passage pool (top-40) → doc-level maxP. Queries = the first chunk
      // of docs 10..12 (corpus members, so rank 1 is provably their own
      // doc at cosine 1). The oracle replays the whole chain: chunk
      // windows, embeddings, centroid assignment, probe, pool cut, max.
      val emb = chunkEmb(s, dir)
      val queries = emb.filter(
        col("chunk_id").isin(100000L, 110000L, 120000L))
      val hits = Similarity.ivfTopKIndexed(s, chunkIvfIndexFor(s, dir),
        queries, "chunk_id", "emb", k = 40, nprobe = 2)
      hits.select(col("query_id"),
          expr("corpus_id div 10000").as("doc_id"), col("cosine"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(col("cosine")).as("best_cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("best_cos").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("best_cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_epoch_shuffle" -> ((s, dir) => {
      // deterministic per-epoch shuffle into 8 training shards, two
      // epochs side by side: shard = epoch-salted replayable hash mod 8
      // (map-only), pos ranks within a shard only — no corpus-wide sort
      // anywhere. The oracle replays both epochs' layouts row for row;
      // epoch re-salting makes them uncorrelated yet each reproducible.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e1 = Corpus.epochShards(docs, "doc_id", epoch = 1L, numShards = 8)
        .withColumn("epoch", lit(1L))
      val e2 = Corpus.epochShards(docs, "doc_id", epoch = 2L, numShards = 8)
        .withColumn("epoch", lit(2L))
      e1.union(e2)
        .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("epoch"), col("shard"), col("pos"))
    }),

    "q_bpe_fertility" -> ((s, dir) => {
      // tokenizer EVALUATION per language: fertility = BPE tokens per
      // whitespace word after the learned merges — the metric multilingual
      // pipelines gate tokenizers on (a vocab trained on one language
      // over-segments the others; fertility per lang exposes it).
      // Integer micro-unit ratio keeps the hash exact; one map pass +
      // one tiny per-lang aggregate at any corpus size.
      val docs = t(s, dir, "documents")
      val (merges, _) = Bpe.train(docs, "text", BpeMerges)
      docs.select(col("lang"),
          size(Bpe.tokenizeColumn(col("text"), merges)).cast("long").as("t"),
          size(Corpus.words(col("text"))).cast("long").as("w"))
        .groupBy(col("lang"))
        .agg(sum(col("t")).as("tokens"), sum(col("w")).as("words"))
        .select(col("lang"), col("tokens"), col("words"),
          when(col("words") > 0,
            expr("tokens * 1000000 div words")).as("fertility_u6"))
        .orderBy(col("lang"))
    }),

    "q_shard_export" -> ((s, dir) => {
      // END-TO-END SHARDED TRAINING EXPORT (verdict r16 #6): LEARN the
      // tokenizer (6 BPE merges), stream the corpus through the
      // exactly-once export sink — tokenize → epoch-shard → pack-per-shard
      // → ACTUAL per-shard parquet files — then read THE FILES back. What
      // the gate hashes is the on-disk layout a trainer would stream, not
      // an in-memory frame; the oracle replays merges, per-word token
      // lengths, the epoch-salted shard hash, and both per-shard prefix
      // sums. Restart exactly-once is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val (merges, _) = Bpe.train(docs, "text", BpeMerges)
      val sink = java.nio.file.Files
        .createTempDirectory("graft-shard-export-").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-shard-ckpt-").toString
      val stream = s.readStream.schema(docs.schema)
        .parquet(s"$dir/documents.parque[t]")
      graft.streaming.Streaming.shardedExportToSink(
        stream.select(col("doc_id"), col("text")), "doc_id",
        size(Bpe.tokenizeColumn(col("text"), merges)),
        epoch = 1L, numShards = 4, seqLen = 256L, sink, ckpt)
      s.read.parquet(s"$sink/data")
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("pos"), col("n_tokens"), col("token_offset"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("shard"), col("pos"))
    }),

    "q_pack_stream" -> ((s, dir) => {
      // the STREAMING form under the SAME oracle: an availableNow file
      // stream over the corpus, per-batch distributed packing + the
      // running token total carried in the sink's state — for the
      // single-file fixture the layout read back from the sink equals
      // the batch layout exactly; the multi-batch contiguity contract is
      // pinned in StreamingSpec
      val static = t(s, dir, "documents")
      // the fixture is a single parquet FILE; the streaming file source
      // needs a directory base, so a glob ([t] matches only 't') makes the
      // sf dir the base and the file the match
      val stream = s.readStream.schema(static.schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("packstream")((sink, ckpt) =>
        graft.streaming.Streaming.packSequencesToSink(
          stream.select(col("doc_id"), col("text")), "doc_id",
          size(Corpus.words(col("text"))), seqLen = 512L, sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("doc_id"))
    }),

    "q_repetition" -> ((s, dir) => {
      val sig = Corpus.repetitionSignals(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint_rolling" -> ((s, dir) => {
      // 64-bit Rabin-Karp-style rolling hash, replayed exactly in the
      // DuckDB oracle via HUGEINT mod-2^64 arithmetic
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.rollingHashUdf(col("text")).as("fp_rolling"))
        .orderBy(col("doc_id"))
    }),

    // ---- multiclass probe chain (round 14) ----

    "q_probe_multiclass" -> ((s, dir) => {
      // the QUANTIZED-EXACT multiclass probe (nearest-class-mean in 1e-6
      // integer arithmetic — ml.Multiclass): fit on the even vec_ids, score
      // EVERY row — held-out odd rows replay the same centroid literals.
      // Long format (vec_id, label, score, pred_label): the per-class score
      // surface AND the argmax class are both hash-gated; every score is an
      // exact quotient of integer arithmetic (the scoresExact contract), the
      // argmax first-max-wins on the sorted label order.
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.Multiclass.fitCentroidsExact(
        emb.filter(col("vec_id") % 2 === 0), col("embedding"), col("label"))
      graft.ml.Multiclass.scoresExact(emb, col("vec_id"), col("embedding"), fit)
        .select(col("id").as("vec_id"), col("label"), col("score"),
          col("pred_label"))
        .orderBy(col("vec_id"), col("label"))
    }),

    "q_probe_mc_eval" -> ((s, dir) => {
      // multiclass chain THROUGH THE SPEC LAYER: TrainMulticlassClassifierOp
      // ("nearest_centroid" — the exact registry member) → MulticlassPredictOp
      // → MulticlassEvaluationOp; the store round-trips the custom
      // QuantizedCentroidModel stage via PipelineModel.load. The gate row
      // re-derives every metric from the report's INTEGER confusion counts
      // by single divisions quantized to micro-units (f1 = 2tp/(2tp+fp+fn) —
      // one division, so the full metric set is bit-replayable where the
      // report's composed doubles would not be).
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cls = SelectCategoricalColumnOp(ds, "label")
      val model = TrainMulticlassClassifierOp("nearest_centroid", x, cls)
      val pred = MulticlassPredictOp(model, x)
      val eval = MulticlassEvaluationOp(pred, cls)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits")
        .asInstanceOf[JObj]("all").asInstanceOf[JObj]
      def l(v: JValue): Long = v.asInstanceOf[JLong].value
      val n = l(all("count"))
      val classes = all("classes").asInstanceOf[JObj].fields.toSeq.map {
        case (lab, o: JObj) =>
          (lab, l(o("support")), l(o("tp")), l(o("fp")), l(o("fn")))
        case other => throw new IllegalStateException(s"bad class entry $other")
      }
      val correct = classes.map(_._3).sum
      import s.implicits._
      val perClass = classes
        .toDF("label", "support", "tp", "fp", "fn")
        .withColumn("p_u6", when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")) * 1e6)
            .cast("long")))
        .withColumn("r_u6", when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")) * 1e6)
            .cast("long")))
        .withColumn("f1_u6", when(col("tp") * 2 + col("fp") + col("fn") > 0,
          round(col("tp").cast("double") * 2
            / (col("tp") * 2 + col("fp") + col("fn")) * 1e6).cast("long")))
      val agg = perClass.agg(
        round(sum(col("f1_u6")).cast("double") / count(lit(1))).cast("long")
          .as("macro_u6")).head().getLong(0)
      perClass
        .withColumn("acc_u6",
          round(lit(correct).cast("double") / lit(n) * 1e6).cast("long"))
        .withColumn("macro_u6", lit(agg))
        .orderBy(col("label"))
    }),

    "q_lang_id_trained" -> ((s, dir) => {
      // TRAINED language ID (fastText's shape: hashed-TF bag-of-words →
      // exact linear multiclass) fit on the even doc_ids' lang labels,
      // predicting every doc. On this synthetic corpus the text carries no
      // real language signal (shared vocabulary) — the gate checks the
      // EXACT train→predict arithmetic end to end; classification QUALITY
      // (trained beats the stopword heuristic on a multilingual fixture)
      // is asserted in MulticlassSpec.
      TextAnalysis.langIdTrained(t(s, dir, "documents"),
          "doc_id", "text", "lang", fitFilter = col("doc_id") % 2 === 0)
        .orderBy(col("doc_id"))
    }),

    "q_lang_graph" -> ((s, dir) => {
      // the same trained classifier THROUGH THE SPEC LAYER:
      // HashedTfEmbeddingOp (the text→vector bridge, dyadic /1024 scaling)
      // → nearest-centroid multiclass fit on ALL rows → predicted label as
      // a content-addressed CATEGORICAL column; ids = file-order row
      // indices
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val x = HashedTfEmbeddingOp(SelectTextColumnOp(ds, "text"),
        dim = 64L, scaleBits = 10L)
      val model = TrainMulticlassClassifierOp("nearest_centroid", x,
        SelectCategoricalColumnOp(ds, "lang"))
      r.toFrame(MulticlassPredictOp(model, x))
        .select(col(ColumnOps.RowIdx).cast("long").as("id"),
          col("value").as("pred_label"))
        .orderBy(col("id"))
    }),

    "q_temp_sample" -> ((s, dir) => {
      // temperature-flattened language mixture (mT5 α-sampling) at α=0.5
      // (the √ arm — correctly-rounded, hence replayable), frac=0.5:
      // high-resource langs trim toward √-proportional shares, small langs
      // keep more of themselves. The oracle replays the quota table
      // (integer arithmetic end-to-end past one weight rounding) and the
      // md5-ranked per-stratum cut.
      Corpus.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, frac = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_ccnet" -> ((s, dir) => {
      // CCNet-style quality tiers (Wenzek 2020): reference bigram LM fit on
      // the even doc_ids, every doc scored, per-language head/middle/tail
      // by exact perplexity-rank thirds — the global two-phase rank, no
      // per-language window. The oracle replays fit, scoring, ranking, and
      // the bucket cut.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.ccnetBuckets(docs, "doc_id", "text", "lang", lm)
        .orderBy(col("doc_id"))
    }),

    "q_ccnet_graph" -> ((s, dir) => {
      // CCNet THROUGH THE SPEC LAYER, in its true operating shape: the
      // reference model is fit on TARGET-DOMAIN text (the English slice,
      // selected by a lang mask — Wenzek 2020 fits on Wikipedia), and the
      // buckets measure how reference-like each document is within its own
      // language. The tiering is content-addressed in the store. ids =
      // file-order row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val isEn = CategoryToBooleanOp(
        SelectCategoricalColumnOp(ds, "lang"), Some(Seq("en")))
      r.toFrame(CcnetBucketsOp(
          SelectTextColumnOp(ds, "text"),
          SelectCategoricalColumnOp(ds, "lang"),
          SelectTextColumnOp(MaskRowsOp(ds, isEn), "text")))
        .orderBy(col("id"))
    }),

    "q_curate_stream" -> ((s, dir) => {
      // END-TO-END STREAMING CURATION (curateIngestToSink): the whole
      // admission pipeline — quality gate → near-dup vs the CURATED
      // corpus (a stored MinHash index that grows by exactly the
      // admitted rows) → per-language token budget with carried fill —
      // run over two micro-batches with planted cross-batch copies, all
      // three gates' verdicts for EVERY row read back from the durable
      // sink. The oracle replays the full cascade: batch 0's admissions
      // feed batch 1's dedup candidates, the fill carries across batches
      // as one batch-keyed window cumsum, exact Jaccard stands in for
      // the LSH probe (the q_dedup_incr falsifiability argument covers
      // this id range).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val head = docs.filter(col("doc_id") < 50)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-curstream-idx-").toString
      Dedup.buildMinhashIndex(s, idx, head, "text", "doc_id")
      import s.implicits._
      val shortRow = Seq((99999L, "en", "too short", 9L))
        .toDF("doc_id", "lang", "text", "n_chars")
      val b0 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 150)
        .unionByName(docs.filter(col("doc_id") === 3 || col("doc_id") === 60)
          .select((col("doc_id") + 100000L).as("doc_id"), col("lang"),
            col("text"), col("n_chars")))
        .unionByName(shortRow)
      val b1 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)
        .unionByName(docs.filter(col("doc_id") === 3 || col("doc_id") === 70)
          .select((col("doc_id") + 200000L).as("doc_id"), col("lang"),
            col("text"), col("n_chars")))
      val stream = batchFileStream(s, "curstream", b0, b1)
      val sink = runSink("curstream")((sink, ckpt) =>
        graft.streaming.Streaming.curateIngestToSink(stream, "doc_id",
          "text", "lang", "n_chars", idx, threshold = 0.9, minTokens = 5L,
          budget = TbBudget, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("doc_id"),
          col("quality_ok"), col("is_dup"), col("cum_tokens"),
          col("admitted"))
        .orderBy(col("doc_id"))
    }),

    "q_sem_sink" -> ((s, dir) => {
      // DURABLE SemDeDup (semanticDedupToSink): two id-ordered embedding
      // micro-batches (vec_id < 30; then 30..59 ∪ planted copies of
      // 30..39 at +100000) dedup against pinned centroids — batch 1's
      // rows must drop against batch 0's PERSISTED cell-assigned state
      // (the append-shaped, cell-pruned state store), so the whole
      // ledger equals the batch operator over the union (nondecreasing
      // arrival). Exactly-once restart pinned in StreamingSpec.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding",
        0L to 7L)
      val stream = batchFileStream(s, "semsink",
        emb.filter(col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
          .union(emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
            .select((col("vec_id") + 100000L).as("vec_id"),
              col("embedding"))))
      val sink = runSink("semsink")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(stream, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    "q_sem_horizon" -> ((s, dir) => {
      // round 20: BOUNDED-HORIZON SemDeDup — the production state bound
      // the unbounded sink only documented. Three id-ordered batches,
      // horizonBatches = 1: batch 1's planted copies of batch 0 rows
      // (+100000) drop against the carried b0 state (within horizon),
      // batch 2's copies of batch 1 rows (+200000) drop against b1 —
      // but batch 2's copies of batch 0 rows (+300000) see NO b0 state
      // (beyond horizon) and survive unless a within-horizon neighbor
      // matches. The oracle replays exactly that batch-distance rule;
      // state dirs older than the horizon are GC'd (StreamingSpec pins
      // the cap and the exact==horizoned equality on a within-horizon
      // corpus).
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding",
        0L to 7L)
      val stream = batchFileStream(s, "semhor",
        emb.filter(col("vec_id") < 20),
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
          .union(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
            .select((col("vec_id") + 100000L).as("vec_id"),
              col("embedding"))),
        emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
          .union(emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
            .select((col("vec_id") + 200000L).as("vec_id"),
              col("embedding")))
          .union(emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + 300000L).as("vec_id"),
              col("embedding"))))
      val sink = runSink("semhor")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(stream, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt,
          horizonBatches = 1))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    }),

    "q_sem_stream" -> ((s, dir) => {
      // the STREAMING SemDeDup twin under the SAME oracle as
      // q_dedup_semantic: an availableNow stream of the corpus (originals ∪
      // planted copies, built by the same transformations on the streaming
      // frame) deduped against PINNED centroids (vec_id 0..7, fit from the
      // static corpus — the stored-centroid shape), exact (no horizon).
      // Single-file fixture → one micro-batch → the verdicts read back
      // from the sink equal the batch operator exactly; the multi-batch
      // == batch invariance (carried per-cell state) is pinned in
      // StreamingSpec.
      val static = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(
        static.union(static.filter(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))),
        "vec_id", "embedding", 0L to 7L)
      val schema = t(s, dir, "embeddings").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/embeddings.parque[t]")
        .select(col("vec_id"), col("embedding"))
      val streamU = stream.union(stream.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val sink = runSink("semstream")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(streamU, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt,
          horizonBatches = 0))
      readSink(s, s"$sink/data")
        .select(col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    })
  )

  /** DuckDB rendering of FakeProvider.value: int(md5(expr)[0:8], 16) / 2^31
    * - 1, exact in double on both engines (power-of-two division). */
  private def duckMd5Val(expr: String): String =
    "(list_sum(list_transform(range(8), i -> " +
      s"(strpos('0123456789abcdef', substr(md5($expr), i+1, 1)) - 1) * pow(16, 7-i)" +
      ")) / 2147483648.0 - 1.0)"

  /** DuckDB list of the UTF-16 CODE UNITS of word `w` (as HUGEINTs). The
    * engine's word hash (`Dedup.hash64`) iterates `s.charAt(i)` — UTF-16
    * units — while DuckDB's `unicode(substr(...))` yields CODE POINTS; the
    * two coincide only on BMP text, so an astral-plane character (emoji)
    * must expand to its surrogate pair here or the replayed word hashes
    * silently diverge from the engine's. cp >= 0x10000 splits by the
    * standard arithmetic: high = 0xD800 + (cp-0x10000)/1024, low = 0xDC00 +
    * (cp-0x10000)%1024. (Expansion formula pinned against hash64 on astral
    * input in DedupSpec; the driver's fixture text is BMP-only, where the
    * CASE's THEN branch reproduces the previous code-point behavior.) */
  private def utf16UnitsSql(w: String): String = {
    val cp = s"unicode(substr($w, CAST(k AS INT)+1, 1))"
    s"flatten(list_transform(range(length($w)), k -> " +
      s"CASE WHEN $cp < 65536 THEN [CAST($cp AS HUGEINT)] " +
      s"ELSE [CAST(55296 + ($cp - 65536) // 1024 AS HUGEINT), " +
      s"CAST(56320 + ($cp - 65536) % 1024 AS HUGEINT)] END))"
  }

  /** Full DuckDB replay of q_umap_viz ([[graft.ml.ExactPca]]): quantized-
    * exact scaled covariance in HUGEINT, then the SAME fixed-iteration
    * power method the engine runs — every sum the same left fold
    * (`list_reduce (x,y)->x+y` ≡ `reduceLeft`), only correctly-rounded
    * IEEE ops (+,−,×,÷,sqrt), the same first-nonzero-positive sign
    * canonicalization — so the 2-D embedding hash-matches BIT FOR BIT
    * (validated 500/500 exact against an independent pinned-order
    * implementation). Constants (Quant, Iters) imported from ExactPca so
    * they can never drift. The `CAST(1.0 AS DOUBLE)` in the anchor is
    * load-bearing: a bare 1.0 is DECIMAL(2,1) in DuckDB and poisons the
    * whole recursion with scale-1 decimal arithmetic. */
  private def umapVizOracleSql: String = {
    val d = 64 // embeddings fixture dimensionality
    val it = graft.ml.ExactPca.Iters
    val qk = graft.ml.ExactPca.Quant
    def fold(terms: String) = s"list_reduce($terms, (x, y) -> x + y)"
    def matvec(am: String, v: String) =
      s"list_transform(range($d), i -> ${fold(s"list_transform(range($d), j -> $am[i+1][j+1] * $v[j+1])")})"
    def normalize(w: String) =
      s"list_transform($w, t -> t / sqrt(${fold(s"list_transform($w, u -> u * u)")}))"
    def canon(v: String) =
      s"CASE WHEN list_filter($v, t -> t <> 0)[1] < 0 " +
        s"THEN list_transform($v, t -> -t) ELSE $v END"
    def power(name: String, amExpr: String) =
      s"""$name AS (
         |  SELECT 0 AS k, list_transform(range($d), i -> CAST(1.0 AS DOUBLE)) AS v, $amExpr AS am
         |  UNION ALL
         |  SELECT k + 1, ${normalize("w")}, am
         |  FROM (SELECT k, am, ${matvec("am", "v")} AS w FROM $name WHERE k < $it))""".stripMargin
    s"""WITH RECURSIVE q AS (
       |  SELECT row_number() OVER () - 1 AS row_idx,
       |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * $qk) AS BIGINT)) AS qx
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM q),
       |mom AS (
       |  SELECT i, j, sum(qx[i+1] * qx[j+1]) AS mij
       |  FROM q, range($d) t1(i), range($d) t2(j) GROUP BY i, j),
       |sv AS (SELECT i, sum(qx[i+1]) AS si FROM q, range($d) t(i) GROUP BY i),
       |amat AS (
       |  SELECT list(arow ORDER BY i) AS am FROM (
       |    SELECT m.i AS i,
       |      list(CAST((SELECT n FROM nn) * m.mij - s1.si * s2.si AS DOUBLE) ORDER BY m.j) AS arow
       |    FROM mom m JOIN sv s1 ON s1.i = m.i JOIN sv s2 ON s2.i = m.j
       |    GROUP BY m.i)),
       |${power("pow1", "(SELECT am FROM amat)")},
       |r1 AS (SELECT v, am, ${matvec("am", "v")} AS av FROM pow1 WHERE k = $it),
       |c1 AS (
       |  SELECT ${canon("v")} AS v1, am,
       |    ${fold(s"list_transform(range($d), i -> v[i+1] * av[i+1])")} AS lam1
       |  FROM r1),
       |a2 AS (
       |  SELECT list_transform(range($d), i -> list_transform(range($d), j ->
       |    am[i+1][j+1] - lam1 * v1[i+1] * v1[j+1])) AS am2, v1
       |  FROM c1),
       |${power("pow2", "(SELECT am2 FROM a2)")},
       |c2 AS (SELECT ${canon("v")} AS v2 FROM pow2 WHERE k = $it)
       |SELECT row_idx,
       |  ${fold(s"list_transform(range($d), j -> qx[j+1] * c1.v1[j+1])")} AS x,
       |  ${fold(s"list_transform(range($d), j -> qx[j+1] * c2.v2[j+1])")} AS y
       |FROM q, c1, c2 ORDER BY row_idx""".stripMargin
  }

  /** Full DuckDB replay of q_spectral ([[graft.ml.Spectral]]): the kNN
    * graph (rounded-cosine rank, corpus-id tie-break, symmetrize+distinct)
    * AND the joint orthogonal iteration — Iters steps, each one double
    * SpMV in BIGINT, the five exact HUGEINT moments, the micro-quantized
    * deflation `rq = round(num/den·1e6)` and the pure-integer
    * `z2 = 1e6(y2−m2) − rq·z1`, the same correctly-rounded IEEE
    * divide/sqrt/multiply sequence and half-up rounds — run in ONE
    * recursive CTE (the ExactPca-oracle recursion pattern, applied to a
    * data-sized iterate carried as LISTs in a single row). Constants
    * (Quant, DefaultK, DefaultIters, the two md5 seed tags) come from
    * [[graft.ml.Spectral]] so they can never drift. `1e6`-style literals
    * are DOUBLE in DuckDB (a bare 1000000.0 would be DECIMAL and poison
    * the recursion — the ExactPca oracle's lesson). */
  /** q_kmeans gate constants, shared by the queries and the oracle so the
    * clustering setup can never drift between engine and replay. */
  private val KmInitIds: Seq[Long] = 0L until 8L
  private val KmIters: Int = 4

  /** q_proto_drop / q_d4_graph gate fraction (shared engine/oracle): drop
    * the 1/4 of each k-means cell closest to its centroid. */
  private val ProtoDropNum: Long = 1L
  private val ProtoDropDen: Long = 4L

  /** Hybrid-retrieval gate constants (shared engine/oracle): the query
    * terms double as the BM25 term list and the dense query text; each leg
    * contributes its top-`RrfPoolK`, fused at `rrfK = RrfKConst` into the
    * top-`RrfN`. */
  private val RrfTerms: Seq[String] = Seq("spark", "merge", "window")

  /** The DCG discount literals the q_retrieval_eval oracle injects —
    * the SAME values [[graft.ext.Retrieval.rankingMetrics]] embeds in
    * the Spark plan, so neither engine evaluates log2 at query time. */
  private val DcgWeightsU6: Seq[Long] = Retrieval.dcgWeightsU6(10)
  private val RrfPoolK: Int = 20
  private val RrfKConst: Int = 60
  private val RrfN: Int = 10

  /** Batch-retrieval gate queries (shared engine/oracle): overlapping
    * term sets exercise the union-stats df sharing, query 1 reverses the
    * fold order, query 2 is a single term. */
  private val MultiQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "merge", "window"),
    1L -> Seq("merge", "spark"),
    2L -> Seq("window"))

  /** Phrase-search gate (shared engine/oracle): a 2-word phrase that
    * occurs in the synthetic corpus at every sf. */
  private val PhraseTerms: Seq[String] = Seq("table", "hash")

  /** Batch-phrase gate (shared engine/oracle): the decontamination shape —
    * many phrases, one index read. Covers the scan phrase itself, reversed
    * word order, a single-word phrase, a 3-word phrase, and a phrase with
    * an absent term (must contribute zero rows, not an error). */
  private val MultiPhrases: Seq[(Long, Seq[String])] = Seq(
    0L -> PhraseTerms,
    1L -> PhraseTerms.reverse,
    2L -> Seq("hash"),
    3L -> Seq("the", "table", "hash"),
    4L -> Seq("zzz_absent_term", "table"))

  /** q_distinct_sketch KMV size (shared engine/oracle): straddles the sf
    * language cardinalities — en (218 distinct texts at sf0.01) runs the
    * estimator, de/es/fr/zh (< 80) the exact below-k path. */
  private val KmvK: Int = 80

  /** q_cms sketch shape (shared engine/oracle): width 128 against
    * thousands of distinct corpus words forces real collision mass into
    * every counter, so the gate exercises the min-over-rows estimate, not
    * a collision-free identity. */
  private val CmsDepth: Int = 4
  private val CmsWidth: Int = 128

  /** DuckDB replay of q_bloom / q_bloom_stream: the reference's distinct
    * bit positions, the per-doc k-bit probe, and the exact-membership
    * truth column. */
  private def bloomOracleSql: String =
    s"""WITH ref AS (SELECT DISTINCT text FROM documents WHERE doc_id < 2000),
       |rs AS (SELECT unnest(range($BloomK)) AS i),
       |bits AS (SELECT DISTINCT
       |           CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |             AS BIGINT) % $BloomM AS bit
       |         FROM ref, rs),
       |ph AS (SELECT doc_id,
       |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |           AS BIGINT) % $BloomM AS bit
       |       FROM documents, rs),
       |bm AS (SELECT doc_id,
       |         COUNT(*) FILTER (WHERE bit IN (SELECT bit FROM bits))
       |           = $BloomK AS bloom_hit
       |       FROM ph GROUP BY doc_id)
       |SELECT d.doc_id, bm.bloom_hit,
       |       (d.text IN (SELECT text FROM ref)) AS exact_hit
       |FROM documents d JOIN bm USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of q_cms / q_cms_stream: word counts once, then every
    * occupied counter as the per-(row, bucket) sum over the words hashing
    * there — the min-over-rows probe replayed counter for counter. */
  private def cmsOracleSql: String =
    s"""WITH w AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |    x -> length(x) > 0)) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
       |rs AS (SELECT unnest(range($CmsDepth)) AS r),
       |sk AS (SELECT r,
       |         CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |           AS BIGINT) % $CmsWidth AS bucket,
       |         SUM(cnt) AS cnt
       |       FROM wc, rs GROUP BY 1, 2),
       |top AS (SELECT word, cnt AS exact_cnt FROM wc
       |        ORDER BY cnt DESC, word LIMIT 20),
       |probe AS (SELECT word, exact_cnt, r,
       |            CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |              AS BIGINT) % $CmsWidth AS bucket
       |          FROM top, rs)
       |SELECT word, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |       CAST(MIN(sk.cnt) AS BIGINT) AS est_cnt
       |FROM probe JOIN sk USING (r, bucket)
       |GROUP BY word, exact_cnt
       |ORDER BY exact_cnt DESC, word""".stripMargin

  /** q_cms_sink replay: per batch prefix (even doc_ids; everything), the
    * prefix's counter matrix probed for the CORPUS-WIDE top-20 — the sum
    * monoid makes batch 1 equal the plain q_cms oracle. */
  private def cmsSinkOracleSql: String = {
    val legs = Seq(0 -> "doc_id % 2 = 0", 1 -> "1 = 1").map { case (b, w) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, word,
         |  CAST(exact_cnt AS BIGINT) AS exact_cnt,
         |  CAST(MIN(sk$b.cnt) AS BIGINT) AS est_cnt
         |FROM probe JOIN (
         |  SELECT r, CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
         |      AS BIGINT) % $CmsWidth AS bucket, SUM(cnt) AS cnt
         |  FROM (SELECT word, COUNT(*) AS cnt FROM (
         |      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |        x -> length(x) > 0)) AS word FROM documents WHERE $w)
         |    GROUP BY 1), rs GROUP BY 1, 2) sk$b USING (r, bucket)
         |GROUP BY word, exact_cnt""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |    x -> length(x) > 0)) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
       |rs AS (SELECT unnest(range($CmsDepth)) AS r),
       |top AS (SELECT word, cnt AS exact_cnt FROM wc
       |        ORDER BY cnt DESC, word LIMIT 20),
       |probe AS (SELECT word, exact_cnt, r,
       |            CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |              AS BIGINT) % $CmsWidth AS bucket
       |          FROM top, rs)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, exact_cnt DESC, word""".stripMargin
  }

  /** q_bloom_sink replay: per batch prefix of the reference snapshot, the
    * prefix bitmap's corpus probe with exact_hit = prefix membership. */
  private def bloomSinkOracleSql: String = {
    val legs = Seq(0, 1).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, d.doc_id, bm.bloom_hit,
         |  (d.text IN (SELECT text FROM ref$b)) AS exact_hit
         |FROM documents d JOIN (
         |  SELECT doc_id, COUNT(*) FILTER (WHERE bit IN (
         |      SELECT DISTINCT CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |        AS BIGINT) % $BloomM FROM ref$b, rs)) = $BloomK AS bloom_hit
         |  FROM ph GROUP BY doc_id) bm USING (doc_id)""".stripMargin
    }
    s"""WITH rs AS (SELECT unnest(range($BloomK)) AS i),
       |ref0 AS (SELECT DISTINCT text FROM documents
       |         WHERE doc_id < 2000 AND doc_id % 2 = 0),
       |ref1 AS (SELECT DISTINCT text FROM documents WHERE doc_id < 2000),
       |ph AS (SELECT doc_id,
       |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |           AS BIGINT) % $BloomM AS bit
       |       FROM documents, rs)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, doc_id""".stripMargin
  }

  /** q_bloom filter shape (shared engine/oracle): ~2k reference texts ×
    * 3 hashes into 16384 bits ⇒ load ≈ 0.37 per hash, FP rate ≈ 3% — the
    * gate sees REAL false positives (one-sidedness exercised, not a
    * collision-free identity) while every verdict stays deterministic. */
  private val BloomK: Int = 3
  private val BloomM: Int = 16384

  /** q_bpe_train / q_bpe_encode merge-round count (shared engine/oracle).
    * Each extra round adds one unrolled CTE block to the oracle; 6 is deep
    * enough that later rounds merge PAIRS OF MERGED SYMBOLS (not just
    * chars), exercising the loop's fixpoint semantics end-to-end. */
  private val BpeMerges: Int = 6

  /** q_unigram_* gate shape (shared engine/oracle): pieces to 4 chars,
    * 40 multi-char seeds, 2 Viterbi-EM rounds — deep enough that round 2
    * re-segments under round-1 counts (pieces the first decoder pass
    * dropped change the lattice) while the oracle stays two unrolled DP
    * recursions. */
  private val UniPieceLen: Int = graft.ext.Unigram.DefaultPieceLen
  private val UniSeedMulti: Int = graft.ext.Unigram.DefaultSeedMulti
  private val UniRounds: Int = graft.ext.Unigram.DefaultRounds

  /** Unrolled DuckDB replay of the [[graft.ext.Bpe.train]] merge loop:
    * round k = pair counts over the unique-word symbol table (`p{k}`),
    * total-order argmax (`b{k}`), and a RECURSIVE leftmost-replacement
    * CTE (`m{k}`) applying the merge until fixpoint. Leftmost-until-
    * fixpoint equals [[graft.ext.Bpe.mergeOnce]]'s greedy left-to-right
    * single pass: a merged token `a+b` can never create a NEW `(a, b)`
    * adjacency (that would need `a+b == a` or `a+b == b`, impossible for
    * non-empty symbols), so replacement order cannot change the result.
    * Segmentations ride as chr(31)-delimited strings (boundary-shared:
    * `<US>a<US>b<US>` consumes and restores the shared
    * delimiter). Every CTE is MATERIALIZED — DuckDB inlines plain CTEs
    * per reference, and each round references its predecessor twice
    * (pair counts + merge), which re-derives the whole prefix chain
    * exponentially in rounds without it. */
  /** The two generated SQL fragments of the [[MlpFixture]] forward pass:
    * layer-1 ReLU columns `h0..h7 FROM v(vv)` and the 4 head expressions
    * over them — shared by the q_llm_mlp and q_mlp_probe oracles so the
    * replayed net can never drift from the fixture formula. */
  /** One transformer block's ORACLE weights: integer dyadic formulas
    * (value/16) over (row, col), plus the head count. The SQL generator
    * and the JSON the provider loads are both rendered from these same
    * integers, so engine and oracle share one source of truth. */
  private[graft] final case class TfBlockFix(heads: Int,
      wq: (Int, Int) => Int, wk: (Int, Int) => Int, wv: (Int, Int) => Int,
      w1: (Int, Int) => Int, b1: Int => Int,
      w2: (Int, Int) => Int, b2: Int => Int,
      wo: Option[(Int, Int) => Int] = None,
      lnG: Option[Int => Int] = None,
      lnB: Option[Int => Int] = None,
      // round 20: the pre-LN block variant — LN1 (lnG/lnB) before the
      // projections, LN2 (ln2G/ln2B) before a possibly-RECTANGULAR FFN
      // (hid hidden units), GELU or ReLU activation
      preLn: Boolean = false,
      ln2G: Option[Int => Int] = None,
      ln2B: Option[Int => Int] = None,
      act: String = "relu",
      hid: Int = -1,
      softmax: String = "int") {
    /** FFN hidden width: dim unless overridden (rectangular FFN). */
    def hidOr(dim: Int): Int = if (hid > 0) hid else dim
  }

  /** q_tf_embed / q_tf_deep oracle core: the transformer forward pass of
    * an ARBITRARY block stack unrolled to SQL — position-unrolled stage
    * CTEs per block (embeddings → q/k/v → per-head integer-softmax
    * causal attention → residual+LayerNorm → FFN+residual), block b
    * reading block b−1's residual stream. Every weight is an integer
    * over 16.0 (exact dyadic), attention weights index a literal table
    * of exact powers of two (no `exp`/`pow` on either engine), and every
    * inexact fold is written left-associated in the same order the Scala
    * provider accumulates — bit-identical by construction. Masked
    * positions (i ≥ n) carry garbage through the SQL stages, harmlessly:
    * the causal mask means no real position ever attends to j > i, and
    * the pools gate on `n > i` — exactly the positions the provider
    * zeroes. Block b's states are columns `ln{b}_{i}` / `y{b}_{i}`; the
    * final CTE is always `tfy`. */
  private def tfStackCtes(blocks: Seq[TfBlockFix], srcSql: String,
                          embed: Seq[(String, Int => Int)] = Seq.empty,
                          posM: Option[(Int, Int) => Int] = None,
                          // explicit model shape (ADVICE r19): sourced
                          // from the fixture being RENDERED, not from
                          // TfFixture — a stack with a different shape
                          // gets the right oracle by construction
                          dim: Int = TfFixture.Dim,
                          maxLen: Int = TfFixture.MaxLen,
                          posEncF: (Int, Int) => Int = TfFixture.posEnc,
                          // true: srcSql already carries a token-list
                          // column `ws` (the stored-tokenizer path) —
                          // tf0 truncates instead of whitespace-splitting
                          preTokenized: Boolean = false)
      : String = {
    val D = dim
    val L = maxLen
    val posEnc = posEncF
    def fr(v: Int) = s"($v)/16.0"
    // sum of pre-rendered terms, left-associated from `seed`
    def fold(seed: String, terms: Seq[String]) =
      terms.foldLeft(seed)((a, t) => s"$a + $t")
    // input layer: LEARNED token embedding (CASE over the table's tokens,
    // the real-checkpoint W_E) with the md5-nibble OOV fallback, plus the
    // learned or formulaic positional row — all integer dyadics summed
    // before ONE /16 division (exact, so it equals the provider's
    // e/16 + p/16 elementwise add bit-for-bit)
    val posF = posM.getOrElse(posEnc)
    val xs = (0 until L).map { i =>
      val elems = (0 until D).map { k =>
        val nib = s"CAST((hs[${i + 1}] >> ${4 * k}) & 15 AS BIGINT) - 8"
        val e =
          if (embed.isEmpty) nib
          else "CASE " + embed.map { case (t, f) =>
            s"WHEN ws[${i + 1}] = '${t.replace("'", "''")}' THEN ${f(k)}"
          }.mkString(" ") + s" ELSE $nib END"
        s"($e + ${posF(i, k)})/16.0"
      }.mkString(", ")
      s"CASE WHEN n > $i THEN [$elems] ELSE [${Seq.fill(D)("0.0").mkString(", ")}] END AS x$i"
    }.mkString(",\n    ")
    // exact decimal images of 2^0 .. 2^-60 (BigDecimal: every negative
    // power of two is a finite decimal) — the no-`pow` weight table
    val pw = (0 to 60).map(m =>
      (BigDecimal(1) / BigDecimal(2).pow(m)).underlying.toPlainString)
      .mkString("[", ", ", "]")
    // float-softmax rescale table: 2^0 .. 2^-87 (x ≥ −60 ⇒ n ≥ −87) —
    // every negative power of two is a finite decimal, multiply is exact
    val pwfCol =
      if (!blocks.exists(_.softmax == "float")) ""
      else ", " + (0 to 87).map(m =>
        (BigDecimal(1) / BigDecimal(2).pow(m)).underlying.toPlainString)
        .mkString("[", ", ", "]") + " AS pwf"
    val blockCtes = blocks.zipWithIndex.map { case (blk, b) =>
      val H = blk.heads
      val dh = D / H
      val hid = blk.hidOr(D)
      def xcol(i: Int) = if (b == 0) s"x$i" else s"y${b - 1}_$i"
      // pre-LN: the projections read h{b}_i = LN1(x) (rendered below);
      // post-LN: they read the residual stream directly
      def projIn(i: Int) = if (blk.preLn) s"h${b}_$i" else xcol(i)
      def proj(name: String, w: (Int, Int) => Int) = (0 until L).map { i =>
        val elems = (0 until D).map { r =>
          fold("0.0", (0 until D).map(c => s"${fr(w(r, c))}*${projIn(i)}[${c + 1}]"))
        }.mkString(", ")
        s"[$elems] AS ${name}${b}_$i"
      }.mkString(",\n    ")
      // LN1 stages (pre-LN only): mean/variance of the INCOMING stream,
      // then the affine-normalized h{b}_i the projections read. Masked
      // positions normalize garbage (block 0: the zero vector → β)
      // harmlessly — the causal mask means no real position reads them.
      val ln1Ctes = if (!blk.preLn) "" else {
        val mus1 = (0 until L).map { i =>
          s"(${fold("0.0", (0 until D).map(d => s"${xcol(i)}[${d + 1}]"))})/$D.0 AS nu${b}_$i"
        }.mkString(",\n    ")
        val vas1 = (0 until L).map { i =>
          s"(${fold("0.0", (0 until D).map(d =>
            s"(${xcol(i)}[${d + 1}]-nu${b}_$i)*(${xcol(i)}[${d + 1}]-nu${b}_$i)"))})/$D.0 AS na${b}_$i"
        }.mkString(",\n    ")
        val g1 = blk.lnG.getOrElse((_: Int) => 16)
        val be1 = blk.lnB.getOrElse((_: Int) => 0)
        val hs1 = (0 until L).map { i =>
          val elems = (0 until D).map { d =>
            s"(${xcol(i)}[${d + 1}] - nu${b}_$i)/sqrt(na${b}_$i + 0.0000152587890625)*(${fr(g1(d))}) + (${fr(be1(d))})"
          }.mkString(", ")
          s"[$elems] AS h${b}_$i"
        }.mkString(",\n    ")
        s"""tfp1_$b AS (SELECT *,
           |    $mus1
           |  FROM ${if (b == 0) "tfx" else s"tfy_${b - 1}"}),
           |tfp2_$b AS (SELECT *,
           |    $vas1
           |  FROM tfp1_$b),
           |tfp3_$b AS (SELECT *,
           |    $hs1
           |  FROM tfp2_$b),
           |""".stripMargin
      }
      val floatSm = blk.softmax == "float"
      val scores = (for (h <- 0 until H; i <- 0 until L; j <- 0 to i) yield {
        val dot = fold("0.0", (h * dh until (h + 1) * dh).map(d =>
          s"q${b}_$i[${d + 1}]*k${b}_$j[${d + 1}]"))
        if (floatSm)
          // REAL attention scores: (q·k)/√d_h in double — no
          // quantization; √ of an integer literal is correctly rounded
          // identically on both engines
          s"($dot) / sqrt($dh.0) AS s${b}_${h}_${i}_$j"
        else
          s"CAST(floor(16.0 * ($dot)) AS BIGINT) AS s${b}_${h}_${i}_$j"
      }).mkString(",\n    ")
      val maxes = (for (h <- 0 until H; i <- 0 until L) yield {
        val args = (0 to i).map(j => s"s${b}_${h}_${i}_$j").mkString(", ")
        s"greatest($args) AS m${b}_${h}_$i"
      }).mkString(",\n    ")
      // expA(xx): the provider's pinned exp chain, inlined — clamp,
      // n = floor(xx·log2e), r = xx − n·ln2 (recomputed identically at
      // each use), [6/6] Padé, exact 2^n rescale via the pwf table
      def expASql(xx: String): String = {
        val r = s"($xx - floor($xx * 1.4426950408889634) * 0.6931471805599453)"
        val num = s"(665280.0 + $r*(332640.0 + $r*(75600.0 + $r*(10080.0 + $r*(840.0 + $r*(42.0 + $r))))))"
        val den = s"(665280.0 - $r*(332640.0 - $r*(75600.0 - $r*(10080.0 - $r*(840.0 - $r*(42.0 - $r))))))"
        s"CASE WHEN $xx < -60.0 THEN 0.0 ELSE ($num/$den) * " +
          s"pwf[CAST(-floor($xx * 1.4426950408889634) AS INT) + 1] END"
      }
      val es = (for (h <- 0 until H; i <- 0 until L; j <- 0 to i) yield {
        if (floatSm)
          s"${expASql(s"(s${b}_${h}_${i}_$j - m${b}_${h}_$i)")} AS e${b}_${h}_${i}_$j"
        else
          s"pw[CAST(least(m${b}_${h}_$i - s${b}_${h}_${i}_$j, 60) AS INT) + 1] AS e${b}_${h}_${i}_$j"
      }).mkString(",\n    ")
      val ss = (for (h <- 0 until H; i <- 0 until L) yield
        fold("0.0", (0 until L).map(j =>
          if (j <= i) s"e${b}_${h}_${i}_$j" else "0.0")) + s" AS sw${b}_${h}_$i"
      ).mkString(",\n    ")
      // attention-mix quotient per component; with an output projection
      // wo the mix lands in its own a{b}_i stage and z = x + wo·a
      def mix(i: Int, d: Int): String = {
        val h = d / dh
        val num = fold("0.0", (0 until L).map(j =>
          (if (j <= i) s"e${b}_${h}_${i}_$j" else "0.0") + s"*v${b}_$j[${d + 1}]"))
        s"($num) / sw${b}_${h}_$i"
      }
      val as = blk.wo.map { _ =>
        (0 until L).map { i =>
          val elems = (0 until D).map(d => mix(i, d)).mkString(", ")
          s"[$elems] AS a${b}_$i"
        }.mkString(",\n    ")
      }
      val zs = (0 until L).map { i =>
        val elems = (0 until D).map { d =>
          blk.wo match {
            case None => s"${xcol(i)}[${d + 1}] + ${mix(i, d)}"
            case Some(m) =>
              val proj = fold("0.0", (0 until D).map(c =>
                s"${fr(m(d, c))}*a${b}_$i[${c + 1}]"))
              s"${xcol(i)}[${d + 1}] + ($proj)"
          }
        }.mkString(", ")
        s"[$elems] AS z${b}_$i"
      }.mkString(",\n    ")
      val mus = (0 until L).map { i =>
        s"(${fold("0.0", (0 until D).map(d => s"z${b}_$i[${d + 1}]"))})/$D.0 AS mu${b}_$i"
      }.mkString(",\n    ")
      val vas = (0 until L).map { i =>
        s"(${fold("0.0", (0 until D).map(d =>
          s"(z${b}_$i[${d + 1}]-mu${b}_$i)*(z${b}_$i[${d + 1}]-mu${b}_$i)"))})/$D.0 AS va${b}_$i"
      }.mkString(",\n    ")
      // the SECOND norm: post-LN's single LN (γ/β = lnG/lnB) over the
      // residual, or pre-LN's LN2 (γ/β = ln2G/ln2B) feeding the FFN
      val (gSel, bSel) =
        if (blk.preLn) (blk.ln2G, blk.ln2B) else (blk.lnG, blk.lnB)
      val affine = gSel.isDefined || bSel.isDefined
      val lns = (0 until L).map { i =>
        if (!affine)
          s"list_transform(z${b}_$i, zz -> (zz - mu${b}_$i)/sqrt(va${b}_$i + 0.0000152587890625)) AS ln${b}_$i"
        else {
          // ((z−μ)/σ)·γ + β with γ/β as parenthesized dyadic factors —
          // the parens force the same single-rounding order as the
          // provider's base * γ(d) + β(d)
          val g = gSel.getOrElse((_: Int) => 16)
          val be = bSel.getOrElse((_: Int) => 0)
          val elems = (0 until D).map { d =>
            s"(z${b}_$i[${d + 1}] - mu${b}_$i)/sqrt(va${b}_$i + 0.0000152587890625)*(${fr(g(d))}) + (${fr(be(d))})"
          }.mkString(", ")
          s"[$elems] AS ln${b}_$i"
        }
      }.mkString(",\n    ")
      // FFN pre-activations over the hid hidden units (rectangular when
      // hid != D). ReLU renders in-stage; GELU expands to the staged
      // pinned-rounding chain below (geluCtes).
      val pas = (0 until L).map { i =>
        val elems = (0 until hid).map { c =>
          "(" + fold(fr(blk.b1(c)), (0 until D).map(kk =>
            s"${fr(blk.w1(c, kk))}*ln${b}_$i[${kk + 1}]")) + ")"
        }.mkString(", ")
        s"[$elems] AS pa${b}_$i"
      }.mkString(",\n    ")
      // GELU = 0.5·v·(1 + tanhA(s)), s = √(2/π)·(v + 0.044715·v³), with
      // tanhA = clamp → ÷64 (exact) → [7/6] Padé → 6 doublings — the
      // EXACT textual chain TransformerProvider.tanhA/gelu runs, each
      // stage one list_transform so the expression tree stays linear in
      // depth instead of exponential
      val geluCtes = if (blk.act != "gelu") "" else {
        val dbl = (1 to 6).map { k =>
          val src = if (k == 1) s"tq${b}_" else s"td${k - 1}${b}_"
          val sas = (0 until L).map(i =>
            s"list_transform($src$i, t -> 2.0*t/(1.0+t*t)) AS td$k${b}_$i")
            .mkString(",\n    ")
          s"""tfd${k}_$b AS (SELECT *,
             |    $sas
             |  FROM ${if (k == 1) s"tfgp_$b" else s"tfd${k - 1}_$b"}),""".stripMargin
        }.mkString("\n")
        val sArgs = (0 until L).map(i =>
          s"list_transform(pa${b}_$i, v -> 0.7978845608028654*(v + 0.044715*(v*v*v))) AS sa${b}_$i")
          .mkString(",\n    ")
        val t0s = (0 until L).map(i =>
          s"list_transform(sa${b}_$i, s -> s/64.0) AS t0${b}_$i")
          .mkString(",\n    ")
        val pades = (0 until L).map(i =>
          s"list_transform(t0${b}_$i, t -> (t*(135135.0 + (t*t)*(17325.0 + (t*t)*(378.0 + (t*t))))) / (135135.0 + (t*t)*(62370.0 + (t*t)*(3150.0 + (t*t)*28.0)))) AS tq${b}_$i")
          .mkString(",\n    ")
        s"""tfga_$b AS (SELECT *,
           |    $sArgs
           |  FROM tff_$b),
           |tfg0_$b AS (SELECT *,
           |    $t0s
           |  FROM tfga_$b),
           |tfgp_$b AS (SELECT *,
           |    $pades
           |  FROM tfg0_$b),
           |$dbl
           |""".stripMargin
      }
      val ffs = (0 until L).map { i =>
        val elems = (0 until hid).map { c =>
          if (blk.act == "gelu")
            s"0.5*pa${b}_$i[${c + 1}]*(1.0 + CASE WHEN sa${b}_$i[${c + 1}] > 19.0 THEN 1.0 WHEN sa${b}_$i[${c + 1}] < -19.0 THEN -1.0 ELSE td6${b}_$i[${c + 1}] END)"
          else
            s"CASE WHEN pa${b}_$i[${c + 1}] < 0 THEN 0.0 ELSE pa${b}_$i[${c + 1}] END"
        }.mkString(", ")
        s"[$elems] AS f${b}_$i"
      }.mkString(",\n    ")
      // the FFN adds back onto ln (post-LN) or onto the raw residual z
      // (pre-LN — the stream is never normalized)
      val resBase = if (blk.preLn) "z" else "ln"
      val ys = (0 until L).map { i =>
        val elems = (0 until D).map { d =>
          val a = fold(fr(blk.b2(d)), (0 until hid).map(c =>
            s"${fr(blk.w2(d, c))}*f${b}_$i[${c + 1}]"))
          s"$resBase${b}_$i[${d + 1}] + ($a)"
        }.mkString(", ")
        s"[$elems] AS y${b}_$i"
      }.mkString(",\n    ")
      val prev =
        if (blk.preLn) s"tfp3_$b"
        else if (b == 0) "tfx" else s"tfy_${b - 1}"
      s"""${ln1Ctes}tfq_$b AS (SELECT *,
         |    ${proj("q", blk.wq)},
         |    ${proj("k", blk.wk)},
         |    ${proj("v", blk.wv)}
         |  FROM $prev),
         |tfs_$b AS (SELECT *,
         |    $scores
         |  FROM tfq_$b),
         |tfm_$b AS (SELECT *,
         |    $maxes
         |  FROM tfs_$b),
         |tfe_$b AS (SELECT *,
         |    $es
         |  FROM tfm_$b),
         |tfsum_$b AS (SELECT *,
         |    $ss
         |  FROM tfe_$b),${as.map(a => s"""
         |tfatt_$b AS (SELECT *,
         |    $a
         |  FROM tfsum_$b),""").getOrElse("")}
         |tfa_$b AS (SELECT *,
         |    $zs
         |  FROM ${if (as.isDefined) s"tfatt_$b" else s"tfsum_$b"}),
         |tfl_$b AS (SELECT *,
         |    $mus
         |  FROM tfa_$b),
         |tfv_$b AS (SELECT *,
         |    $vas
         |  FROM tfl_$b),
         |tfn_$b AS (SELECT *,
         |    $lns
         |  FROM tfv_$b),
         |tff_$b AS (SELECT *,
         |    $pas
         |  FROM tfn_$b),
         |${geluCtes}tffz_$b AS (SELECT *,
         |    $ffs
         |  FROM ${if (blk.act == "gelu") s"tfd6_$b" else s"tff_$b"}),
         |tfy_$b AS (SELECT *,
         |    $ys
         |  FROM tffz_$b)""".stripMargin
    }.mkString(",\n")
    val tf0Body =
      if (preTokenized) s"SELECT doc_id, lang, ws[1:$L] AS ws FROM $srcSql"
      else
        s"""SELECT doc_id, lang, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
           |    x -> length(x) > 0)[1:$L] AS ws FROM $srcSql""".stripMargin
    s"""tf0 AS (
       |  $tf0Body),
       |tf1 AS (
       |  SELECT doc_id, lang, ws, len(ws) AS n, $pw AS pw$pwfCol,
       |    list_transform(ws, t ->
       |      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
       |  FROM tf0),
       |tfx AS (SELECT doc_id, lang, n, pw${if (pwfCol.isEmpty) "" else ", pwf"},
       |    $xs
       |  FROM tf1),
       |$blockCtes,
       |tfy AS (SELECT * FROM tfy_${blocks.length - 1})""".stripMargin
  }

  /** The q_tf_embed single-block chain (the [[TfFixture]] weights, one
    * head) — block-0 state columns `ln0_{i}` / `y0_{i}`. */
  private def tfCtes: String = tfCtes("documents")

  /** Same CTE chain over an arbitrary `(doc_id, lang, text)` source —
    * the composition hook (e.g. the rerank oracle scores BM25 survivors
    * whose text is the (query, doc) pair image). */
  private def tfCtes(srcSql: String): String = {
    import TfFixture._
    tfStackCtes(Seq(TfBlockFix(1, wq, wk, wv, w1, b1, w2, b2)), srcSql)
  }

  /** Zero-padded mean pool of per-position state lists `st0..st7` at list
    * index `idx` — the exact fold the provider's `pooled` runs. */
  private def tfPool(st: String, idx: String): String = {
    val acc = (0 until TfFixture.MaxLen).foldLeft("0.0")((a, i) =>
      s"$a + CASE WHEN n > $i THEN $st$i[$idx] ELSE 0.0 END")
    s"CASE WHEN n = 0 THEN 0.0 ELSE ($acc) / n END"
  }

  private def tfNetSql: String =
    s"""WITH $tfCtes,
       |dims AS (SELECT CAST(unnest(range(${TfFixture.Dim})) AS BIGINT) AS dm)
       |SELECT doc_id, CAST(1 AS BIGINT) AS layer, dm AS dim,
       |  ${tfPool("ln0_", "CAST(dm AS INT) + 1")} AS val
       |FROM tfy CROSS JOIN dims
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT) AS layer, dm AS dim,
       |  ${tfPool("y0_", "CAST(dm AS INT) + 1")} AS val
       |FROM tfy CROSS JOIN dims
       |ORDER BY doc_id, layer, dim""".stripMargin

  /** q_tf_deep oracle: the [[TfFixture2]] 2-block × 2-head stack
    * replayed in full — layer 2b+1 pools block b's post-attention
    * LayerNorm columns, layer 2b+2 its post-FFN residual columns. */
  private def tfDeepSql: String = {
    val pools = (0 until TfFixture2.Blocks.length).flatMap { b =>
      Seq((2 * b + 1, s"ln${b}_"), (2 * b + 2, s"y${b}_"))
    }.map { case (layer, pre) =>
      s"""SELECT doc_id, CAST($layer AS BIGINT) AS layer, dm AS dim,
         |  ${tfPool(pre, "CAST(dm AS INT) + 1")} AS val
         |FROM tfy CROSS JOIN dims""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${tfStackCtes(TfFixture2.Blocks, "documents",
          embed = TfFixture2.Embed, posM = Some(TfFixture2.posM),
          dim = TfFixture2.Dim, maxLen = TfFixture2.MaxLen)},
       |dims AS (SELECT CAST(unnest(range(${TfFixture2.Dim})) AS BIGINT) AS dm)
       |$pools
       |ORDER BY doc_id, layer, dim""".stripMargin
  }

  /** q_tf_preln oracle: the [[TfFixture3]] pre-LN GELU stack replayed in
    * full. Per pre-LN block the MID state is the RAW post-attention
    * residual (`z{b}_` columns — TransformerLens `resid_mid`), not a
    * LayerNorm output, so layer 2b+1 pools z and layer 2b+2 pools y. */
  private def tfPrelnSql: String = {
    val pools = (0 until TfFixture3.Blocks.length).flatMap { b =>
      Seq((2 * b + 1, s"z${b}_"), (2 * b + 2, s"y${b}_"))
    }.map { case (layer, pre) =>
      s"""SELECT doc_id, CAST($layer AS BIGINT) AS layer, dm AS dim,
         |  ${tfPool(pre, "CAST(dm AS INT) + 1")} AS val
         |FROM tfy CROSS JOIN dims""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${tfStackCtes(TfFixture3.Blocks, "documents",
          dim = TfFixture3.Dim, maxLen = TfFixture3.MaxLen)},
       |dims AS (SELECT CAST(unnest(range(${TfFixture3.Dim})) AS BIGINT) AS dm)
       |$pools
       |ORDER BY doc_id, layer, dim""".stripMargin
  }

  /** q_tf_float oracle: the [[TfFixture4]] stack — tfPrelnSql's replay
    * with float-softmax score/weight stages (REAL s = q·k/√d_h, the
    * expA chain against the pwf power-of-two table). */
  private def tfFloatSql: String = {
    val pools = (0 until TfFixture4.Blocks.length).flatMap { b =>
      Seq((2 * b + 1, s"z${b}_"), (2 * b + 2, s"y${b}_"))
    }.map { case (layer, pre) =>
      s"""SELECT doc_id, CAST($layer AS BIGINT) AS layer, dm AS dim,
         |  ${tfPool(pre, "CAST(dm AS INT) + 1")} AS val
         |FROM tfy CROSS JOIN dims""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${tfStackCtes(TfFixture4.Blocks, "documents",
          dim = TfFixture4.Dim, maxLen = TfFixture4.MaxLen)},
       |dims AS (SELECT CAST(unnest(range(${TfFixture4.Dim})) AS BIGINT) AS dm)
       |$pools
       |ORDER BY doc_id, layer, dim""".stripMargin
  }

  /** q_tf_logits oracle: the [[TfFixture4]] `pathLnF` head path — the
    * float-softmax forward pass, then the FINAL LayerNorm per real
    * position (masked positions stay exact zeros), the masked-zero mean
    * pool, and each token's dense vocab dot in the provider's ascending
    * fold order. */
  private def tfLogitsSql: String = {
    val D = TfFixture4.Dim
    val L = TfFixture4.MaxLen
    val B = TfFixture4.Blocks.length - 1
    import TfFixture3.{lnFG, lnFB, vocabYes, vocabNo}
    def fold(seed: String, terms: Seq[String]) =
      terms.foldLeft(seed)((a, t) => s"$a + $t")
    val fmus = (0 until L).map { i =>
      s"(${fold("0.0", (0 until D).map(d => s"y${B}_$i[${d + 1}]"))})/$D.0 AS fmu_$i"
    }.mkString(",\n    ")
    val fvas = (0 until L).map { i =>
      s"(${fold("0.0", (0 until D).map(d =>
        s"(y${B}_$i[${d + 1}]-fmu_$i)*(y${B}_$i[${d + 1}]-fmu_$i)"))})/$D.0 AS fva_$i"
    }.mkString(",\n    ")
    val lfs = (0 until L).map { i =>
      val elems = (0 until D).map { d =>
        s"(y${B}_$i[${d + 1}] - fmu_$i)/sqrt(fva_$i + 0.0000152587890625)*((${lnFG(d)})/16.0) + ((${lnFB(d)})/16.0)"
      }.mkString(", ")
      s"[$elems] AS lf_$i"
    }.mkString(",\n    ")
    val pools = (0 until D).map(k =>
      s"${tfPool("lf_", (k + 1).toString)} AS p$k").mkString(",\n    ")
    def logitExpr(v: Int => Int) =
      fold("0.0", (0 until D).map(k => s"((${v(k)})/16.0)*p$k"))
    s"""WITH ${tfStackCtes(TfFixture4.Blocks,
          "(SELECT row_number() OVER () - 1 AS doc_id, lang, text FROM documents)",
          dim = TfFixture4.Dim, maxLen = TfFixture4.MaxLen)},
       |tflm AS (SELECT *,
       |    $fmus
       |  FROM tfy),
       |tflv AS (SELECT *,
       |    $fvas
       |  FROM tflm),
       |tflf AS (SELECT *,
       |    $lfs
       |  FROM tflv),
       |tfhp AS (SELECT doc_id, n,
       |    $pools
       |  FROM tflf)
       |SELECT doc_id AS row_idx, CAST(0 AS BIGINT) AS pos,
       |  ${logitExpr(vocabYes)} AS val FROM tfhp
       |UNION ALL
       |SELECT doc_id, CAST(1 AS BIGINT), ${logitExpr(vocabNo)} FROM tfhp
       |ORDER BY row_idx, pos""".stripMargin
  }

  /** q_tf_bpe oracle: the BPE training CTEs ([[bpeOracleCtes]]) re-derive
    * the stored tokenizer's merges, the final segmented-word table maps
    * every word to its token list (`replace(seg, chr(31), '')`
    * reconstructs the word; the segments ARE the tokens), each doc's
    * first-maxLen words expand to the flattened subword stream, and the
    * forward pass runs over it (`preTokenized` tf0 truncates at maxLen
    * tokens) — tokenization and inference replayed under one hash. */
  private def tfBpeSql: String = {
    val S = "chr(31)"
    val L = TfFixtureBpe.MaxLen
    bpeOracleCtes(BpeMerges) + s""",
       |wmap AS (SELECT replace(seg, $S, '') AS word,
       |    list_filter(string_split(seg, $S), x -> length(x) > 0) AS toks
       |  FROM w$BpeMerges),
       |bwords AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> length(x) > 0)[1:$L] AS words
       |  FROM documents),
       |bw AS (SELECT doc_id, i, words[CAST(i+1 AS INT)] AS w
       |  FROM bwords, LATERAL (SELECT unnest(range(len(words))) AS i) u),
       |bt AS (SELECT b.doc_id, b.i, m.toks
       |  FROM bw b JOIN wmap m ON m.word = b.w),
       |bagg AS (SELECT doc_id, flatten(list(toks ORDER BY i)) AS ws
       |  FROM bt GROUP BY doc_id),
       |bsrc AS (SELECT d.doc_id, d.lang,
       |    coalesce(a.ws, CAST([] AS VARCHAR[])) AS ws
       |  FROM documents d LEFT JOIN bagg a USING (doc_id)),
       |${tfStackCtes(Seq(TfBlockFix(1, TfFixture.wq, TfFixture.wk,
            TfFixture.wv, TfFixture.w1, TfFixture.b1, TfFixture.w2,
            TfFixture.b2)), "bsrc", embed = TfFixtureBpe.Embed,
            dim = TfFixtureBpe.Dim, maxLen = TfFixtureBpe.MaxLen,
            preTokenized = true)},
       |dims AS (SELECT CAST(unnest(range(${TfFixtureBpe.Dim})) AS BIGINT) AS dm)
       |SELECT doc_id, CAST(1 AS BIGINT) AS layer, dm AS dim,
       |  ${tfPool("ln0_", "CAST(dm AS INT) + 1")} AS val
       |FROM tfy CROSS JOIN dims
       |UNION ALL
       |SELECT doc_id, CAST(2 AS BIGINT) AS layer, dm AS dim,
       |  ${tfPool("y0_", "CAST(dm AS INT) + 1")} AS val
       |FROM tfy CROSS JOIN dims
       |ORDER BY doc_id, layer, dim""".stripMargin
  }

  /** q_tf_rerank oracle: the q_bm25 scoring CTEs cut the candidate pool,
    * then the transformer CTE chain runs over the (query, doc) PAIR
    * images of the survivors; model score = the "yes" head's logit =
    * pooled final dim 1 (unit vocab vector), quantized to micro-units;
    * both rankings replayed with their tie-breaks. */
  private def tfRerankOracleSql: String = {
    val q = RrfTerms.mkString(" ")
    s"""WITH ${bm25ScCtes(RrfTerms)},
       |tk AS (SELECT doc_id, rank AS bm25_rank FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rank FROM sc)
       |  WHERE rank <= 10),
       |${tfCtes(s"(SELECT d.doc_id, d.lang, '$q [SEP] ' || d.text AS text" +
          " FROM documents d JOIN tk USING (doc_id))")},
       |scored2 AS (SELECT doc_id,
       |    CAST(round((${tfPool("y0_", "1")}) * 1e6) AS BIGINT) AS model_u6
       |  FROM tfy)
       |SELECT t.doc_id, t.bm25_rank, s2.model_u6,
       |  CAST(row_number() OVER (ORDER BY s2.model_u6 DESC, t.doc_id)
       |    AS BIGINT) AS rerank
       |FROM tk t JOIN scored2 s2 USING (doc_id)
       |ORDER BY rerank""".stripMargin
  }

  /** q_pq_stream oracle: the q_ann_ivfpq replay per BATCH PREFIX — shared
    * CTEs for the head-built codebooks/centroids and the per-row code
    * argmin + cell assignment (both are row-local and
    * batch-independent), then per batch the probe/ADC chain restricted
    * to exactly the corpus prefix that batch saw (`cid < lo`). */
  private def pqStreamOracleSql: String = {
    val batches = Seq((0, 20, 30), (1, 30, 40))
    val legs = batches.map { case (b, lo, hi) =>
      s"""q$b AS (SELECT cid qid, v qv,
         |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
         |  FROM corp WHERE cid >= $lo AND cid < $hi),
         |probe$b AS (SELECT qid, cent_id AS cell FROM (
         |    SELECT q.qid, ct.cent_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
         |          ct.cent_id) rn
         |    FROM q$b q, cent ct) WHERE rn <= 2),
         |elig$b AS (SELECT p.qid, a.cid FROM probe$b p
         |  JOIN assign a USING (cell) WHERE a.cid < $lo),
         |contrib$b AS (SELECT e.qid, e.cid,
         |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s,
         |    w.w2 r2_s
         |  FROM elig$b e JOIN q$b q ON q.qid = e.qid
         |    JOIN codes cd ON cd.cid = e.cid
         |    JOIN cwn w ON w.sub = cd.sub AND w.j = cd.j),
         |sc$b AS (SELECT qid, cid, sum(num_s) num, sum(r2_s) r2
         |  FROM contrib$b GROUP BY 1, 2),
         |scored$b AS (SELECT sc.qid query_id, sc.cid corpus_id,
         |    CASE WHEN q.qn * sqrt(sc.r2) > 0
         |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
         |  FROM sc$b sc JOIN q$b q ON q.qid = sc.qid),
         |r$b AS (SELECT query_id, corpus_id, s,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
         |  FROM scored$b)""".stripMargin
    }
    val selects = batches.map { case (b, _, _) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, query_id, corpus_id,
         |  round(s, 6) AS score, rank FROM r$b WHERE rank <= 5""".stripMargin
    }
    s"""WITH corp AS (SELECT vec_id cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |  FROM embeddings WHERE vec_id < 40),
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
       |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
       |          ct.cent_id) rn
       |    FROM corp c, cent ct) WHERE rn = 1),
       |${legs.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, query_id, rank""".stripMargin
  }

  /** q_tf_probe oracle: the transformer CTEs give each doc's pooled
    * final state; the q_mlp_probe diff-of-means replay runs on top —
    * quantized activations, per-dim class-mean difference weights,
    * micro-unit integer scores. */
  private def tfProbeOracleSql: String = {
    val D = TfFixture.Dim
    val es = (0 until D).map(d => tfPool("y0_", (d + 1).toString))
      .mkString("[", ",\n      ", "]")
    s"""WITH $tfCtes,
       |hdx AS (SELECT doc_id, lang = 'en' AS is_pos,
       |    $es AS es
       |  FROM tfy),
       |q AS (SELECT doc_id, is_pos, CAST(dm AS BIGINT) AS dim,
       |        CAST(round(es[CAST(dm AS INT) + 1] * 1e6) AS BIGINT) AS qx
       |      FROM hdx, range($D) t(dm)),
       |w AS (SELECT dim,
       |    CAST(SUM(CASE WHEN is_pos THEN qx END) AS DOUBLE)
       |      / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
       |  - CAST(SUM(CASE WHEN NOT is_pos THEN qx END) AS DOUBLE)
       |      / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
       |  FROM q GROUP BY dim),
       |qw AS (SELECT dim, CAST(round(w * 1e9) AS BIGINT) AS qw FROM w)
       |SELECT q.doc_id AS vec_id,
       |  CAST(SUM(q.qx * qw.qw) AS DOUBLE) / 1e15 AS score
       |FROM q JOIN qw USING (dim)
       |GROUP BY q.doc_id ORDER BY vec_id""".stripMargin
  }

  private def mlpNetSql: (String, String) = {
    val l1 = (0 until 8).map { j =>
      val terms = (0 until 16)
        .map(i => s"(${MlpFixture.w1(j, i)}*vv[${i + 1}])/1024.0")
        .mkString(" + ")
      s"greatest(0.0, (${MlpFixture.b1(j)})/1024.0 + $terms) AS h$j"
    }.mkString(",\n    ")
    val hd = (0 until 4).map { j =>
      val terms = (0 until 8)
        .map(i => s"(${MlpFixture.w2(j, i)}*h$i)/1024.0")
        .mkString(" + ")
      s"(${MlpFixture.b2(j)})/1024.0 + $terms"
    }.mkString(", ")
    (l1, hd)
  }

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

  private def bpeOracleCtes(numMerges: Int): String = {
    val S = "chr(31)"
    def pat(k: Int) = s"(SELECT $S||sym_a||$S||sym_b||$S FROM b$k)"
    def rep(k: Int) = s"(SELECT $S||sym_a||sym_b||$S FROM b$k)"
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
         |  SELECT $S || regexp_replace(word, '(.)', '\\1' || $S, 'g') AS seg,
         |         COUNT(*) AS cnt
         |  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |               x -> length(x) > 0)) AS word FROM documents)
         |  GROUP BY 1)""".stripMargin)
    for (k <- 0 until numMerges) {
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT l[CAST(i+1 AS INT)] AS sym_a, l[CAST(i+2 AS INT)] AS sym_b,
        |         SUM(cnt) AS cnt
        |  FROM (SELECT list_filter(string_split(seg, $S), x -> length(x) > 0) AS l,
        |               cnt FROM w$k),
        |       LATERAL (SELECT unnest(range(len(l)-1)) AS i) u
        |  GROUP BY 1, 2),
        |b$k AS MATERIALIZED (
        |  SELECT sym_a, sym_b FROM p$k ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
        |m$k AS MATERIALIZED (
        |  SELECT seg, cnt, strpos(seg, ${pat(k)}) AS pos FROM w$k
        |  UNION ALL
        |  SELECT substr(seg, 1, pos-1) || ${rep(k)} ||
        |         substr(seg, pos + length(${pat(k)})) AS seg, cnt,
        |         strpos(substr(seg, 1, pos-1) || ${rep(k)} ||
        |                substr(seg, pos + length(${pat(k)})), ${pat(k)}) AS pos
        |  FROM m$k WHERE pos > 0),
        |w${k + 1} AS MATERIALIZED (SELECT seg, cnt FROM m$k WHERE pos = 0)""".stripMargin)
    }
    "WITH RECURSIVE\n" + sb.toString
  }

  /** q_token_budget per-language token allowance (shared engine/oracle):
    * cuts every language of the sf fixtures (en carries ~12k tokens at
    * sf0.01), so the gate exercises a real budget boundary per group. */
  private val TbBudget: Long = 2000L

  /** Spectral gate corpus cap (shared engine/oracle): brute-force kNN is
    * O(n²) by design — the gate form; production uses LSH/IVF edges via
    * [[graft.ml.Spectral.embed2dFromEdges]]. sf0.01's full embeddings
    * table (500 rows) sits under the cap, so the correctness gate covers
    * the whole table; the cap only bounds the larger bench inputs. */
  private val SpectralCap: Long = 1000L

  /** Shared CTE suffix of the prototype-drop oracles (appended to
    * [[kmeansOracleSql]]'s unrolled iterations): exact-squared-distance
    * re-assignment against the final centroid matrix `m_KmIters` (pure
    * BIGINT arithmetic — [[graft.ml.ExactKMeans.assignByDistance]]),
    * within-cell closeness rank, per-cell counts. */
  private def protoDropCtes: String =
    s""", dx AS (
       |  SELECT qe.id, m.cell,
       |    CAST(SUM((qe.qv - m.qm) * (qe.qv - m.qm)) AS BIGINT) AS d2
       |  FROM qe JOIN m$KmIters m ON qe.dim = m.dim
       |  GROUP BY qe.id, m.cell),
       |ax AS (
       |  SELECT id, cell, d2 FROM (
       |    SELECT id, cell, d2, row_number() OVER (PARTITION BY id
       |      ORDER BY d2, cell) AS rn FROM dx) WHERE rn = 1),
       |rnk AS (
       |  SELECT id, cell, d2,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY d2, id) AS BIGINT) AS rnk
       |  FROM ax),
       |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ax GROUP BY cell)
       |""".stripMargin

  /** Full DuckDB replay of q_kmeans / q_km_graph
    * ([[graft.ml.ExactKMeans]]): every Lloyd iteration UNROLLED — score =
    * `(Σqx·qm − Σqm²/2)/1e12` exactly as [[mcEmbedSqlCtes]] (the proven
    * bit-identical form), argmax = row_number (score DESC, cell ASC) =
    * first-max, update = per-(cell, dim) `round(sum/count)` LEFT-merged
    * onto the previous matrix so empty cells carry. `finalSelect` adapts
    * the output shape: (id, cell, score) for the direct query, (row_idx,
    * value) categorical for the spec twin. */
  private def kmeansOracleSql(idExpr: String, finalSelect: String): String = {
    val init = KmInitIds.zipWithIndex
      .map { case (id, c) => s"($c, $id)" }.mkString(", ")
    val iterCtes = (1 to KmIters).map { i =>
      s"""s$i AS (
         |  SELECT qe.id, m.cell,
         |    (CAST(SUM(qe.qv * m.qm) AS DOUBLE)
         |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
         |  FROM qe JOIN m${i - 1} m ON qe.dim = m.dim
         |  GROUP BY qe.id, m.cell),
         |a$i AS (
         |  SELECT id, cell FROM (
         |    SELECT id, cell, row_number() OVER (PARTITION BY id
         |      ORDER BY score DESC, cell) AS rn FROM s$i) WHERE rn = 1),
         |c$i AS (
         |  SELECT a.cell, qe.dim,
         |    CAST(round(CAST(SUM(qe.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
         |  FROM a$i a JOIN qe ON qe.id = a.id GROUP BY a.cell, qe.dim),
         |m$i AS (
         |  SELECT m.cell, m.dim, coalesce(c.qm, m.qm) AS qm
         |  FROM m${i - 1} m LEFT JOIN c$i c
         |    ON c.cell = m.cell AND c.dim = m.dim)""".stripMargin
    }.mkString(",\n")
    val fin = KmIters + 1
    s"""WITH q AS (
       |  SELECT $idExpr AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qx
       |  FROM embeddings),
       |qd AS (SELECT id, qx, unnest(range(len(qx))) AS dim FROM q),
       |qe AS (SELECT id, dim, qx[dim + 1] AS qv FROM qd),
       |init(cell, iid) AS (VALUES $init),
       |m0 AS (
       |  SELECT init.cell, qe.dim, qe.qv AS qm
       |  FROM init JOIN qe ON qe.id = init.iid),
       |$iterCtes,
       |s$fin AS (
       |  SELECT qe.id, m.cell,
       |    (CAST(SUM(qe.qv * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM qe JOIN m$KmIters m ON qe.dim = m.dim
       |  GROUP BY qe.id, m.cell),
       |a$fin AS (
       |  SELECT id, cell, score FROM (
       |    SELECT id, cell, score, row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, cell) AS rn FROM s$fin) WHERE rn = 1)
       |$finalSelect""".stripMargin
  }

  private def spectralOracleSql: String =
    spectralOracleSql("CAST(vec_id AS BIGINT)", "id")

  /** `idExpr` selects the node-id source (vec_id for the direct query;
    * positional row_number for the spec-layer twin whose ids are row
    * indices — the umapVizOracleSql precedent); `idName` names the output
    * column to match the Spark side. */
  private def spectralOracleSql(idExpr: String, idName: String): String = {
    val it = graft.ml.Spectral.DefaultIters
    val kk = graft.ml.Spectral.DefaultK
    val modulus = 2L * graft.ml.Spectral.Quant.toLong + 1L // 2Q+1
    val q = graft.ml.Spectral.Quant.toLong
    def fold(terms: String) = s"list_reduce($terms, (a, b) -> a + b)"
    // VectorKernels.dot: left-to-right double accumulation of per-element
    // float→double products
    def dot(a: String, b: String) =
      fold(s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])")
    def seed(idExpr: String) =
      s"(CAST('0x' || substr(md5('spectral:' || CAST($idExpr AS VARCHAR)), 1, 15) AS BIGINT) % $modulus) - $q"
    def canon(v: String) =
      s"CASE WHEN list_filter($v, t -> t <> 0)[1] < 0 " +
        s"THEN list_transform($v, t -> -t) ELSE $v END"
    def spmv(x: String) =
      s"list_transform(range(n), i -> (c - degl[i+1]) * $x[i+1] + ${fold(s"list_transform(adjl[i+1], j -> $x[j+1])")})"
    s"""WITH RECURSIVE v AS (
       |  SELECT * FROM (
       |    SELECT $idExpr AS id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |    FROM embeddings) WHERE id < $SpectralCap),
       |nrm AS (SELECT id, ev, sqrt(${dot("ev", "ev")}) AS nv FROM v),
       |pr AS (
       |  SELECT qn.id AS qid, cn.id AS cid,
       |    round(CASE WHEN qn.nv * cn.nv > 0
       |      THEN ${fold("list_transform(range(len(qn.ev)), i -> qn.ev[i+1] * cn.ev[i+1])")} / (qn.nv * cn.nv)
       |      ELSE 0.0 END, 6) AS c6
       |  FROM nrm qn, nrm cn),
       |rk AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY c6 DESC, cid) AS rk
       |  FROM pr),
       |e0 AS (SELECT qid AS src, cid AS dst FROM rk
       |  WHERE rk <= ${kk + 1} AND qid <> cid),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (
       |  SELECT d.id, d.deg, row_number() OVER (ORDER BY d.id) - 1 AS p
       |  FROM (SELECT dst AS id, count(*) AS deg FROM edges GROUP BY dst) d),
       |adj AS (
       |  SELECT n1.p AS pd, list(n2.p ORDER BY n2.p) AS nbrs
       |  FROM edges e JOIN nodes n1 ON n1.id = e.dst
       |    JOIN nodes n2 ON n2.id = e.src
       |  GROUP BY n1.p),
       |consts AS (SELECT
       |  (SELECT list(deg ORDER BY p) FROM nodes) AS degl,
       |  (SELECT list(nbrs ORDER BY pd) FROM adj) AS adjl,
       |  (SELECT list(id ORDER BY p) FROM nodes) AS idl,
       |  (SELECT count(*) FROM nodes) AS n,
       |  (SELECT 2 * max(deg) FROM nodes) AS c),
       |pow AS (
       |  SELECT 0 AS k,
       |    list_transform(idl, id -> ${seed("id")}) AS x1,
       |    list_transform(idl, id -> ${seed("id + 1000000007")}) AS x2,
       |    degl, adjl, n, c
       |  FROM consts
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(y1, t -> CAST(round(CAST(t - m1 AS DOUBLE) / sqrt(CAST(den AS DOUBLE)) * 1e6) AS BIGINT)),
       |    list_transform(range(n), i -> CAST(round(CAST((y2[i+1] - m2) * 1000000 - rq * (y1[i+1] - m1) AS DOUBLE) / sqrt(CAST(szz2 AS DOUBLE)) * 1e6) AS BIGINT)),
       |    degl, adjl, n, c
       |  FROM (
       |    SELECT k, degl, adjl, n, c, y1, y2, m1, m2, den, rq,
       |      1000000000000 * (s22 - 2 * CAST(m2 AS HUGEINT) * s2 + n * CAST(m2 AS HUGEINT) * m2)
       |        - 2000000 * CAST(rq AS HUGEINT) * num
       |        + CAST(rq AS HUGEINT) * rq * den AS szz2
       |    FROM (
       |      SELECT k, degl, adjl, n, c, y1, y2, m1, m2, s2, s22, den, num,
       |        CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT) AS rq
       |      FROM (
       |        SELECT k, degl, adjl, n, c, y1, y2, m1, m2, s2, s22,
       |          s11 - 2 * CAST(m1 AS HUGEINT) * s1 + n * CAST(m1 AS HUGEINT) * m1 AS den,
       |          s12 - CAST(m1 AS HUGEINT) * s2 - CAST(m2 AS HUGEINT) * s1 + n * CAST(m1 AS HUGEINT) * m2 AS num
       |        FROM (
       |          SELECT k, degl, adjl, n, c, y1, y2, s1, s11, s2, s22, s12,
       |            CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS m1,
       |            CAST(round(CAST(s2 AS DOUBLE) / n) AS BIGINT) AS m2
       |          FROM (
       |            SELECT k, degl, adjl, n, c, y1, y2,
       |              ${fold("list_transform(y1, t -> CAST(t AS HUGEINT))")} AS s1,
       |              ${fold("list_transform(y1, t -> CAST(t AS HUGEINT) * t)")} AS s11,
       |              ${fold("list_transform(y2, t -> CAST(t AS HUGEINT))")} AS s2,
       |              ${fold("list_transform(y2, t -> CAST(t AS HUGEINT) * t)")} AS s22,
       |              ${fold("list_transform(range(len(y1)), i -> CAST(y1[i+1] AS HUGEINT) * y2[i+1])")} AS s12
       |            FROM (
       |              SELECT k, degl, adjl, n, c,
       |                ${spmv("x1")} AS y1, ${spmv("x2")} AS y2
       |              FROM pow WHERE k < $it)))))) ),
       |f AS (
       |  SELECT ${canon("x1")} AS v1f, ${canon("x2")} AS v2f
       |  FROM pow WHERE k = $it)
       |SELECT nd.id AS $idName,
       |  CAST(f.v1f[nd.p + 1] AS DOUBLE) / 1e6 AS e1,
       |  CAST(f.v2f[nd.p + 1] AS DOUBLE) / 1e6 AS e2
       |FROM nodes nd, f ORDER BY $idName""".stripMargin
  }

  /** q_umap_layout gate epochs / negative samples per node per epoch
    * (shared engine/oracle — [[graft.ml.UmapLayout]] constants govern the
    * arithmetic; these govern the gate's loop shape). */
  private val UmapGateIters: Int = 8
  private val UmapGateNegs: Int = 4

  /** Full DuckDB replay of q_umap_layout ([[graft.ml.UmapLayout]]): the
    * SAME kNN CTEs as the spectral oracle (identical graph construction),
    * then every force-layout epoch in one recursive CTE — per edge the
    * clipped Cauchy attractive term, per md5-drawn negative sample the
    * clipped repulsive term (exact int64 displacement/distance arithmetic,
    * ONE correctly-rounded divide·multiply·half-up-round per term), exact
    * integer per-node sums, and the lr-decayed capped update — bit-for-bit.
    * Constants (Quant grid, ±4-unit clip, ±1000-unit cap, ±10-unit init
    * box, ε = 1e−3) are spelled as the same literals
    * [[graft.ml.UmapLayout]] plants in its Spark expressions. */
  private def umapOracleSql: String =
    umapOracleSql("CAST(vec_id AS BIGINT)", "id")

  private def umapOracleSql(idExpr: String, idName: String): String = {
    val it = UmapGateIters
    val s = UmapGateNegs
    val kk = graft.ml.Spectral.DefaultK
    val clip = graft.ml.UmapLayout.Clip
    val cap = graft.ml.UmapLayout.CoordCap
    val boxMod = 2L * graft.ml.UmapLayout.InitBox + 1L
    val box = graft.ml.UmapLayout.InitBox
    def fold(terms: String) = s"list_reduce($terms, (a, b) -> a + b)"
    def dot(a: String, b: String) =
      fold(s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])")
    def seed(axis: String) =
      s"(CAST('0x' || substr(md5('umap:$axis:' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % $boxMod) - $box"
    def negPos(r: Int) =
      s"CAST('0x' || substr(md5('umapneg:' || k || ':$r:' || CAST(idl[i+1] AS VARCHAR)), 1, 15) AS BIGINT) % n"
    // one clipped term; `j` is a POSITION expression into the qx/qy lists
    def att(q: String, o: String) =
      s"GREATEST(-$clip, LEAST($clip, CAST(round(-(2e12 / (1e12 + ($q[i+1]-$q[j+1])*($q[i+1]-$q[j+1]) + ($o[i+1]-$o[j+1])*($o[i+1]-$o[j+1]))) * ($q[i+1]-$q[j+1])) AS BIGINT)))"
    def rep(q: String, o: String, j: String) =
      s"GREATEST(-$clip, LEAST($clip, CAST(round((2e24 / ((1e9 + ($q[i+1]-$q[$j+1])*($q[i+1]-$q[$j+1]) + ($o[i+1]-$o[$j+1])*($o[i+1]-$o[$j+1])) * (1e12 + ($q[i+1]-$q[$j+1])*($q[i+1]-$q[$j+1]) + ($o[i+1]-$o[$j+1])*($o[i+1]-$o[$j+1])))) * ($q[i+1]-$q[$j+1])) AS BIGINT)))"
    def force(q: String, o: String) = {
      val attF = fold(s"list_transform(adjl[i+1], j -> ${att(q, o)})")
      // each slot's md5 position expression is inlined wholesale (the jp
      // recomputation is deterministic; the oracle runs on ≤ SpectralCap)
      val repF = (0 until s).map(r => rep(q, o, s"(${negPos(r)})"))
        .mkString(" + ")
      s"$attF + $repF"
    }
    def step(q: String, f: String) =
      s"GREATEST(-$cap, LEAST($cap, $q[i+1] + CAST(round(CAST($f AS DOUBLE) * ($it - k) / $it) AS BIGINT)))"
    s"""WITH RECURSIVE v AS (
       |  SELECT * FROM (
       |    SELECT $idExpr AS id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |    FROM embeddings) WHERE id < $SpectralCap),
       |nrm AS (SELECT id, ev, sqrt(${dot("ev", "ev")}) AS nv FROM v),
       |pr AS (
       |  SELECT qn.id AS qid, cn.id AS cid,
       |    round(CASE WHEN qn.nv * cn.nv > 0
       |      THEN ${fold("list_transform(range(len(qn.ev)), i -> qn.ev[i+1] * cn.ev[i+1])")} / (qn.nv * cn.nv)
       |      ELSE 0.0 END, 6) AS c6
       |  FROM nrm qn, nrm cn),
       |rk AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY c6 DESC, cid) AS rk
       |  FROM pr),
       |e0 AS (SELECT qid AS src, cid AS dst FROM rk
       |  WHERE rk <= ${kk + 1} AND qid <> cid),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (
       |  SELECT d.id, row_number() OVER (ORDER BY d.id) - 1 AS p
       |  FROM (SELECT DISTINCT src AS id FROM edges) d),
       |adj AS (
       |  SELECT n1.p AS ps, list(n2.p ORDER BY n2.p) AS nbrs
       |  FROM edges e JOIN nodes n1 ON n1.id = e.src
       |    JOIN nodes n2 ON n2.id = e.dst
       |  GROUP BY n1.p),
       |consts AS (SELECT
       |  (SELECT list(nbrs ORDER BY ps) FROM adj) AS adjl,
       |  (SELECT list(id ORDER BY p) FROM nodes) AS idl,
       |  (SELECT count(*) FROM nodes) AS n),
       |pow AS (
       |  SELECT 0 AS k,
       |    list_transform(idl, id -> ${seed("x")}) AS qx,
       |    list_transform(idl, id -> ${seed("y")}) AS qy,
       |    adjl, idl, n
       |  FROM consts
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(range(n), i -> ${step("qx", s"${force("qx", "qy")}")}),
       |    list_transform(range(n), i -> ${step("qy", s"${force("qy", "qx")}")}),
       |    adjl, idl, n
       |  FROM pow WHERE k < $it),
       |f AS (SELECT qx, qy FROM pow WHERE k = $it)
       |SELECT nd.id AS $idName,
       |  CAST(f.qx[nd.p + 1] AS DOUBLE) / 1e6 AS e1,
       |  CAST(f.qy[nd.p + 1] AS DOUBLE) / 1e6 AS e2
       |FROM nodes nd, f ORDER BY $idName""".stripMargin
  }

  /** Full DuckDB replay of the q_dedup_minhash pipeline — the same
    * falsifiability standard as q_ann_ivf_pruned's IVF replay, applied to
    * the 64-perm MinHash + 16-band LSH + exact-Jaccard verify chain. All
    * mod-2⁶⁴ arithmetic (word FNV+avalanche hashes, gram folds, affine
    * permutations, band folds) runs in HUGEINT with 32-bit-split wrapping
    * multiplies; the signature min is taken over SIGNED values (the Scala
    * `v < out(p)` comparison is signed-Long); the per-permutation affine
    * coefficients come from [[graft.ext.Dedup.minhashCoefficients]] so the
    * constants can never drift from the engine. String shingles stand in
    * for the engine's hashed shingles in the Jaccard verify (equal absent
    * a 64-bit in-pair collision, ≈1e-12 — see hashedShinglesUdf's note). */
  /** BM25 oracle (q_bm25 and its spec-layer twin): same decimal literals
    * combined with the same IEEE ops as [[graft.ext.Bm25.rank]] (never
    * pre-evaluated constants), fixed term order in the score fold, ranking
    * on the quantized integer. `idSel` projects the id column (`doc_id` or
    * `doc_id AS id` for the row-index twin). */
  /** Shared CTEs of the multiclass nearest-centroid oracles over the
    * embeddings table: quantized per-(row, dim) inputs `q`, per-(class,
    * dim) centroids `m` (fit rows = `fitWhere`, e.g. "WHERE vec_id % 2 =
    * 0"), exact per-(row, class) scores `s`, ranked predictions `p` (rn=1
    * = argmax; ORDER BY score DESC, lab = the engine's first-max over the
    * sorted label array). Every score is integer arithmetic below 2⁵³
    * followed by one division — bit-identical to
    * [[graft.ml.QuantizedCentroidModel]]. */
  private def mcEmbedSqlCtes(fitWhere: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS VARCHAR) AS lab, embedding,
       |         unnest(range(len(embedding))) AS dim
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, lab, dim,
       |  CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1e6) AS BIGINT) AS qx
       |  FROM e),
       |m AS (
       |  SELECT lab, dim,
       |    CAST(round(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
       |  FROM q $fitWhere GROUP BY lab, dim),
       |s AS (
       |  SELECT q.vec_id, m.lab,
       |    (CAST(SUM(q.qx * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM q JOIN m ON q.dim = m.dim
       |  GROUP BY q.vec_id, m.lab),
       |p AS (
       |  SELECT vec_id, lab AS pred_label, score,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, lab) AS rn
       |  FROM s)""".stripMargin

  /** Shared CTEs of the TRAINED-language-ID oracles over the documents
    * table: hashed-TF features rebuilt exactly (md5 15-hex prefix = top 60
    * bits; signed bucket counts / 1024 — dyadic), then the same
    * centroid-fit/score/argmax replay as [[mcEmbedSqlCtes]]. */
  private def mcHashTfSqlCtes(fitWhere: String): String =
    s"""WITH w0 AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0) AS ws FROM documents),
       |h AS (
       |  SELECT doc_id, lang, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w0),
       |q AS (
       |  SELECT doc_id, lang, dim,
       |    CAST(round((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, v -> CASE WHEN v % 64 = dim
       |        THEN CAST(1 AS BIGINT) - ((v >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE) / CAST(1024 AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS qx
       |  FROM (SELECT doc_id, lang, hs, unnest(range(64)) AS dim FROM h)),
       |m AS (
       |  SELECT lang AS lab, dim,
       |    CAST(round(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
       |  FROM q $fitWhere GROUP BY lang, dim),
       |s AS (
       |  SELECT q.doc_id, m.lab,
       |    (CAST(SUM(q.qx * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM q JOIN m ON q.dim = m.dim
       |  GROUP BY q.doc_id, m.lab),
       |p AS (
       |  SELECT doc_id, lab AS pred_label,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lab) AS rn
       |  FROM s)""".stripMargin

  /** Shared replay of q_token_budget AND its streaming twin q_tb_stream:
    * per-language priority-DESC window cumsum, kept while ≤ the budget. */
  private lazy val tokenBudgetOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
       |FROM c WHERE cum <= $TbBudget ORDER BY doc_id""".stripMargin

  /** One per-prefix leg of the q_card_sink oracle: the statsCard CTE
    * chain (KMV + exact totals) over `documents WHERE <whereSql>`, CTE
    * names suffixed `$b`, projecting the batch id. */
  private def cardSinkLegSql(b: Int, whereSql: String): String =
    s"""h$b AS (
       |  SELECT DISTINCT lang,
       |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
       |  FROM documents WHERE $whereSql),
       |r$b AS (
       |  SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM h$b),
       |g$b AS (
       |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |  FROM r$b GROUP BY lang),
       |t$b AS (
       |  SELECT lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents WHERE $whereSql GROUP BY lang)""".stripMargin

  /** q_card_sink replay: the running card after each micro-batch equals
    * the batch card over exactly the prefix that batch saw — batch 0 =
    * the even doc_ids, batch 1 = everything. */
  private def cardSinkOracleSql: String = {
    val legs = Seq(0 -> "doc_id % 2 = 0", 1 -> "1 = 1")
    val selects = legs.map { case (b, _) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, t$b.lang, t$b.n_docs,
         |  t$b.n_tokens, t$b.n_chars,
         |  CASE WHEN g$b.cnt < $KmvK THEN g$b.cnt
         |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
         |      CAST(${Profile.HashSpace} AS HUGEINT)) // g$b.hk AS BIGINT)
         |  END AS est_distinct_texts
         |FROM t$b JOIN g$b USING (lang)""".stripMargin
    }
    s"""WITH ${legs.map { case (b, w) => cardSinkLegSql(b, w) }.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, lang""".stripMargin
  }

  /** q_tb_sink replay: batch 0 (even doc_ids) fills before batch 1 (odd),
    * so the durable ledger is ONE window cumsum keyed
    * (batch, priority DESC, id) — keep realized as a column. */
  private lazy val tbSinkOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       |    CAST(doc_id % 2 AS BIGINT) AS batch_id
       |  FROM documents),
       |c AS (
       |  SELECT batch_id, doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY batch_id, n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT batch_id, doc_id, lang, n_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens, cum <= $TbBudget AS keep
       |FROM c ORDER BY doc_id""".stripMargin

  /** Shared replay of q_stats_graph AND its streaming twin q_stats_stream:
    * the q_distinct_sketch KMV chain + exact token/char totals, keyed by
    * the lang column as `group`. */
  private lazy val statsCardOracleSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT lang,
       |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM h),
       |g AS (
       |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |  FROM r GROUP BY lang),
       |t AS (
       |  SELECT lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY lang)
       |SELECT t.lang AS "group", t.n_docs, t.n_tokens, t.n_chars,
       |  CASE WHEN g.cnt < $KmvK THEN g.cnt
       |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
       |      CAST(${Profile.HashSpace} AS HUGEINT)) // g.hk AS BIGINT)
       |  END AS est_distinct_texts
       |FROM t JOIN g USING (lang) ORDER BY "group"""".stripMargin

  /** Shared replay of q_dedup_incr AND its streaming ingest twin
    * q_incr_stream: exact all-pairs Jaccard over old ∪ batch, restricted
    * to pairs touching the batch (new ids ≥ 100000 sort above every old
    * id, so id_b ≥ 100000 ⟺ ≥ 1 new side) — the incremental path must
    * emit exactly what the batch-over-everything operator would. */
  private lazy val incrDedupOracleSql: String =
    """WITH u AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
      |    SELECT doc_id,
      |    CASE WHEN len(words) >= 3 THEN
      |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
      |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
      |    ELSE [] END AS ngrams
      |    FROM (SELECT doc_id,
      |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
      |      FROM u))),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
      |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh)))
      |    ELSE 0.0 END AS jaccard
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jaccard FROM p
      |WHERE jaccard >= 0.9 AND id_b >= 100000
      |ORDER BY id_a, id_b""".stripMargin

  /** Transitive closure of the chained unigram-Jaccard window pairs shared
    * by q_dedup_clusters / q_dedup_best: reach(id, lbl) saturates "lbl can
    * reach id" via a recursive CTE — an independent closure construction
    * from the Spark side's large-star/small-star contraction. */
  /** Chained unigram-Jaccard pairs over doc_id < 200 (the q_dedup_clusters
    * graph) as CTEs `d`/`sh`/`e`/`und` — shared by the CC closure and the
    * PageRank oracles so the pair derivation can never drift. */
  private val jaccardPairCtes: String =
    """d AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
      |    w -> length(w) > 0)) AS sh FROM d),
      |e AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b
      |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) >= 0.9),
      |und AS (SELECT id_a AS u, id_b AS v FROM e
      |        UNION ALL SELECT id_b, id_a FROM e)""".stripMargin

  private val ccClosureCtes: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM d
      |  UNION
      |  SELECT und.v, reach.lbl FROM reach JOIN und ON und.u = reach.id)""".stripMargin

  /** q_pagerank iteration count (shared engine/oracle). */
  private val PrIters: Int = 8

  /** q_hits iteration count (shared engine/oracle). */
  private val HitsIters: Int = 6

  /** Unrolled quantized-exact HITS CTEs over the DIRECTED `e(id_a,
    * id_b)` pairs ([[graft.ext.Hits.scores]]): per iteration an
    * authority sum + max-normalization, then a hub sum +
    * max-normalization — all `//` integer arithmetic, every CTE
    * MATERIALIZED (each is referenced twice: by its scalar max subquery
    * and the next step). */
  private def hitsCtes: String = {
    val iters = (1 to HitsIters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.id_b AS id, SUM(h.h_u6) AS s
         |  FROM de e JOIN hh${i - 1} h ON h.id = e.id_a GROUP BY 1),
         |aa$i AS MATERIALIZED (
         |  SELECT n.id, CAST((coalesce(r.s, 0) * 1000000)
         |    // (SELECT MAX(s) FROM ar$i) AS BIGINT) AS a_u6
         |  FROM hnodes n LEFT JOIN ar$i r USING (id)),
         |hr$i AS MATERIALIZED (
         |  SELECT e.id_a AS id, SUM(a.a_u6) AS s
         |  FROM de e JOIN aa$i a ON a.id = e.id_b GROUP BY 1),
         |hh$i AS MATERIALIZED (
         |  SELECT n.id, CAST((coalesce(r.s, 0) * 1000000)
         |    // (SELECT MAX(s) FROM hr$i) AS BIGINT) AS h_u6
         |  FROM hnodes n LEFT JOIN hr$i r USING (id))""".stripMargin
    }.mkString(",\n")
    s"""de AS (SELECT id_a, id_b FROM e),
       |hnodes AS (SELECT DISTINCT id FROM
       |  (SELECT id_a AS id FROM de UNION ALL SELECT id_b FROM de)),
       |hh0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h_u6 FROM hnodes),
       |$iters""".stripMargin
  }

  /** Unrolled quantized-exact PageRank CTEs over the `und` edges
    * ([[graft.ext.PageRank.ranks]]): `pnodes`/`pdeg`, `p0` = Quant
    * per node (the per-NODE quantum — n never appears in the update),
    * each `p{i}` one floor-division step — ending at `p$PrIters`.
    * `seedPred` (a predicate over the given node-id expression) selects
    * the PERSONALIZED form ([[graft.ext.PageRank.personalizedRanks]]):
    * init and teleport base go only to seed nodes. */
  private def pageRankCtes(seedPred: String => String = _ => "TRUE")
      : String = {
    val iters = (1 to PrIters).map { i =>
      s"""p$i AS (
         |  SELECT nn.id,
         |    CAST(CASE WHEN ${seedPred("nn.id")}
         |      THEN (15 * 1000000) // 100 ELSE 0 END AS BIGINT)
         |    + CAST((85 * coalesce(s$i.s, 0)) // 100 AS BIGINT) AS pr_u6
         |  FROM pnodes nn LEFT JOIN (
         |    SELECT e.v AS id, SUM(p.pr_u6 // d.dg) AS s
         |    FROM und e JOIN p${i - 1} p ON p.id = e.u
         |      JOIN pdeg d ON d.id = e.u
         |    GROUP BY 1) s$i ON s$i.id = nn.id)""".stripMargin
    }.mkString(",\n")
    s"""pnodes AS (SELECT DISTINCT u AS id FROM und),
       |pdeg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS dg
       |  FROM und GROUP BY 1),
       |p0 AS (SELECT id, CAST(CASE WHEN ${seedPred("id")}
       |  THEN 1000000 ELSE 0 END AS BIGINT) AS pr_u6 FROM pnodes),
       |$iters""".stripMargin
  }

  /** Full SemDeDup replay (q_dedup_semantic AND its streaming twin
    * q_sem_stream — identical verdicts over the identical planted fixture):
    * centroids = vec_id 0..7 (cell id = position), every row (originals +
    * the 50 planted copies) assigned to its max-cosine centroid (ties →
    * smaller cell), duplicates = rows with a smaller-id same-cell neighbor
    * at cosine >= 0.8. */
  /** q_curate_stream replay — the full cascade unrolled per batch:
    * quality (token count), exact-Jaccard dedup against head ∪ earlier
    * admissions ∪ smaller-id batch rows, and the per-language budget as
    * one batch-keyed window cumsum over both batches' budget-stage rows
    * (batch 0's fill precedes batch 1 by the ordering key). Batch 0's
    * ADMITTED set feeds batch 1's candidate pool — the curated-corpus
    * feedback loop, replayed acyclically. */
  private def curateStreamOracleSql: String = {
    val jac = "CASE WHEN len(list_distinct(list_concat(sx.sh, sy.sh))) > 0" +
      " THEN CAST(len(list_intersect(sx.sh, sy.sh)) AS DOUBLE)" +
      " / len(list_distinct(list_concat(sx.sh, sy.sh))) ELSE 0.0 END"
    s"""WITH headc AS (
       |  SELECT doc_id, lang, text, n_chars FROM documents WHERE doc_id < 50),
       |ba0 AS (
       |  SELECT CAST(0 AS BIGINT) batch_id, doc_id, lang, text, n_chars
       |  FROM documents WHERE doc_id >= 50 AND doc_id < 150
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT), doc_id + 100000, lang, text, n_chars
       |  FROM documents WHERE doc_id = 3 OR doc_id = 60
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT), 99999, 'en', 'too short', 9),
       |ba1 AS (
       |  SELECT CAST(1 AS BIGINT) batch_id, doc_id, lang, text, n_chars
       |  FROM documents WHERE doc_id >= 150 AND doc_id < 250
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), doc_id + 200000, lang, text, n_chars
       |  FROM documents WHERE doc_id = 3 OR doc_id = 70),
       |allr AS (SELECT * FROM ba0 UNION ALL SELECT * FROM ba1),
       |tok AS (SELECT batch_id, doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
       |      AS BIGINT) AS nt
       |  FROM allr),
       |shsrc AS (SELECT doc_id, text FROM headc
       |          UNION ALL SELECT doc_id, text FROM allr),
       |sh AS (
       |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
       |    SELECT doc_id,
       |    CASE WHEN len(words) >= 3 THEN
       |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
       |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
       |    ELSE [] END AS ngrams
       |    FROM (SELECT doc_id,
       |      list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
       |        w -> length(w) > 0) AS words
       |      FROM shsrc))),
       |q0 AS (SELECT * FROM tok WHERE batch_id = 0 AND nt >= 5),
       |cand0 AS (SELECT doc_id FROM headc UNION ALL SELECT doc_id FROM q0),
       |dup0 AS (SELECT DISTINCT x.doc_id
       |  FROM q0 x JOIN sh sx ON sx.doc_id = x.doc_id,
       |    cand0 c JOIN sh sy ON sy.doc_id = c.doc_id
       |  WHERE c.doc_id < x.doc_id AND $jac >= 0.9),
       |nd0 AS (SELECT * FROM q0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dup0)),
       |bud0 AS (SELECT doc_id,
       |    CAST(SUM(nt) OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM nd0),
       |adm0 AS (SELECT doc_id FROM bud0 WHERE cum <= $TbBudget),
       |q1 AS (SELECT * FROM tok WHERE batch_id = 1 AND nt >= 5),
       |cand1 AS (SELECT doc_id FROM headc
       |  UNION ALL SELECT doc_id FROM adm0
       |  UNION ALL SELECT doc_id FROM q1),
       |dup1 AS (SELECT DISTINCT x.doc_id
       |  FROM q1 x JOIN sh sx ON sx.doc_id = x.doc_id,
       |    cand1 c JOIN sh sy ON sy.doc_id = c.doc_id
       |  WHERE c.doc_id < x.doc_id AND $jac >= 0.9),
       |nd1 AS (SELECT * FROM q1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
       |ndall AS (SELECT * FROM nd0 UNION ALL SELECT * FROM nd1),
       |budall AS (SELECT doc_id,
       |    CAST(SUM(nt) OVER (PARTITION BY lang
       |      ORDER BY batch_id, n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM ndall),
       |dupall AS (SELECT doc_id FROM dup0 UNION ALL SELECT doc_id FROM dup1)
       |SELECT t.batch_id, t.doc_id, t.nt >= 5 AS quality_ok,
       |  (t.nt >= 5 AND d.doc_id IS NOT NULL) AS is_dup,
       |  bl.cum AS cum_tokens,
       |  COALESCE(bl.cum <= $TbBudget, false) AS admitted
       |FROM tok t
       |LEFT JOIN dupall d ON d.doc_id = t.doc_id
       |LEFT JOIN budall bl ON bl.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** q_sem_sink replay: the q_dedup_semantic dup rule over the two-batch
    * union (nondecreasing ids make stream == batch), batch_id derived
    * from the id ranges the gate streams. */
  private val semSinkOracleSql: String =
    """WITH u AS (
      |  SELECT CAST(0 AS BIGINT) AS batch_id, vec_id, embedding
      |  FROM embeddings WHERE vec_id < 30
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 60
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id + 100000, embedding
      |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 40),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT batch_id, vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT batch_id, cid, cent_id AS cell, v FROM (
      |    SELECT c.batch_id, c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.cid < b.cid
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.batch_id, a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  /** q_sem_horizon replay: the sink's BATCH-DISTANCE dedup rule made
    * explicit — a row drops iff a same-cell cosine-≥0.8 neighbor exists
    * either (a) in its OWN batch with a smaller id, or (b) in an earlier
    * batch within `horizonBatches = 1` (b.batch − 1 ≤ a.batch < b.batch)
    * — NO id condition on carried rows (the engine probes the whole
    * retained state), and batch 0's rows are invisible to batch 2. */
  private val semHorizonOracleSql: String =
    """WITH u AS (
      |  SELECT CAST(0 AS BIGINT) AS batch_id, vec_id, embedding
      |  FROM embeddings WHERE vec_id < 20
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 40
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id + 100000, embedding
      |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 40 AND vec_id < 60
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id + 200000, embedding
      |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 30
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id + 300000, embedding
      |  FROM embeddings WHERE vec_id < 10),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT batch_id, vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT batch_id, cid, cent_id AS cell, v FROM (
      |    SELECT c.batch_id, c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell
      |  WHERE ((a.batch_id = b.batch_id AND a.cid < b.cid)
      |      OR (a.batch_id < b.batch_id AND a.batch_id >= b.batch_id - 1))
      |    AND list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.batch_id, a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  private val semDedupOracleSql: String =
    """WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT cid, cent_id AS cell, v FROM (
      |    SELECT c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.cid < b.cid
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  /** One query's BM25 score fold as SQL — same decimal literals, same
    * IEEE op order as [[graft.ext.Bm25]]'s `termContribution` fold;
    * `dfIdx` maps each term to its df column index in the stats row. */
  private def bm25ContribSql(terms: Seq[String],
                             dfIdx: String => Int): String =
    terms.map { t =>
      val tf = s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE)"
      val df = s"CAST(df${dfIdx(t)} AS DOUBLE)"
      val n = "CAST(n_docs AS DOUBLE)"
      val dl = "CAST(len(ws) AS DOUBLE)"
      val avgdl = s"(CAST(total_dl AS DOUBLE) / $n)"
      val idf = s"ln((($n - $df + CAST(0.5 AS DOUBLE)) / " +
        s"($df + CAST(0.5 AS DOUBLE))) + CAST(1.0 AS DOUBLE))"
      s"(($idf * ($tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))) / " +
        s"($tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - " +
        s"CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * ($dl / $avgdl))))"
    }.reduceLeft((a, c) => s"($a + $c)")

  /** Tokenized docs `w(doc_id, ws)` (optionally filtered by `wFilter`, a
    * `WHERE …` clause over `ws` — the phrase-constrained corpus) + ONE
    * exact stats row `st` with a df column per term — shared by every
    * BM25-family oracle. */
  private def bm25StatsCtes(allTerms: Seq[String],
                            wFilter: String = "",
                            w0Body: String = bm25DocsW0): String = {
    val dfs = allTerms.indices.map(i =>
      s"CAST(sum(CASE WHEN list_contains(ws, '${allTerms(i)}') THEN 1 " +
        s"ELSE 0 END) AS BIGINT) AS df$i").mkString(",\n    ")
    s"""w0 AS ($w0Body),
       |w AS (SELECT doc_id, ws FROM w0 $wFilter),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS total_dl,
       |    $dfs
       |  FROM w)""".stripMargin
  }

  /** The default BM25 corpus: whole documents, tokenized once. */
  private val bm25DocsW0: String =
    """
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
      |    x -> length(x) > 0) AS ws FROM documents""".stripMargin

  /** The CHUNKED corpus as a BM25 `w0` body (q_chunk_bm25): the q_chunk
    * windows with composite id doc_id·10⁴ + chunk_idx — re-splitting a
    * joined window equals the slice itself (words carry no whitespace),
    * so slicing the doc's word list IS the chunk tokenization. */
  private val bm25ChunksW0: String =
    """
      |  SELECT doc_id * 10000 + i AS doc_id,
      |    l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)] AS ws
      |  FROM (SELECT doc_id, l,
      |          unnest(range(greatest((len(l) - 8 + 24 - 1) // 24, 1))) AS i
      |        FROM (SELECT doc_id,
      |                list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
      |                  x -> length(x) > 0) AS l
      |              FROM documents)
      |        WHERE len(l) > 0)""".stripMargin

  /** CTE body (w → st → sc) shared by the BM25 oracles and the RRF hybrid
    * oracle: per-doc micro-quantized scores `sc(doc_id, score_u6)`. */
  private def bm25ScCtes(terms: Seq[String],
                         wFilter: String = "",
                         w0Body: String = bm25DocsW0): String = {
    val allTerms = terms.distinct
    val posOf = allTerms.zipWithIndex.toMap
    s"""${bm25StatsCtes(allTerms, wFilter, w0Body)},
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round(${bm25ContribSql(terms, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
       |  FROM w CROSS JOIN st)""".stripMargin
  }

  /** SQL mirror of [[graft.ext.TextAnalysis.phraseCount]] over a tokenized
    * `ws` list: contiguous-window occurrence count, 0 when shorter than
    * the phrase. */
  private def phraseCountSql(phrase: Seq[String]): String = {
    val p = phrase.length
    val conj = phrase.zipWithIndex
      .map { case (t, j) => s"ws[i + ${j + 1}] = '$t'" }.mkString(" AND ")
    s"CASE WHEN len(ws) >= $p THEN CAST(len(list_filter(" +
      s"range(0, len(ws) - ${p - 1}), i -> $conj)) AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END"
  }

  /** Batch-BM25 oracle ([[graft.ext.Bm25.rankMany]]): one stats row over
    * the UNION of all query terms, one UNION ALL branch per query folding
    * ITS terms in ITS order, per-query rank + cut. */
  private def bm25MultiOracleSql(queries: Seq[(Long, Seq[String])], k: Int,
                                 idSel: String): String = {
    val allTerms = queries.flatMap(_._2).distinct
    val posOf = allTerms.zipWithIndex.toMap
    val unions = queries.map { case (qid, ts) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(round(${bm25ContribSql(ts, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
         |  FROM w CROSS JOIN st""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${bm25StatsCtes(allTerms)},
       |e AS (
       |  $unions),
       |r AS (SELECT query_id, doc_id, score_u6,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rank FROM e)
       |SELECT query_id, rank, $idSel, score_u6 FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private def bm25OracleSql(idSel: String, wFilter: String = ""): String =
    s"""WITH ${bm25ScCtes(RrfTerms, wFilter)}
       |SELECT CAST(row_number() OVER (ORDER BY score_u6 DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  $idSel, score_u6
       |FROM sc ORDER BY score_u6 DESC, doc_id LIMIT 10""".stripMargin

  /** RRF hybrid oracle (q_rrf and its spec twin): BM25 leg =
    * [[bm25ScCtes]] cut to the top-RrfPoolK; dense leg = the
    * q_hash_embed_ann hashed-TF replay scoring the QUERY TEXT's vector
    * against every document; fusion =
    * `round((1/(K+br) + 1/(K+dr))·1e12)` with an absent rank contributing
    * exactly 0 — same decimal literals, same IEEE op order (sparse term
    * first) as [[graft.ext.Retrieval.rrfFuse]]. */
  private def rrfOracleSql(idSel: String): String = {
    val dim = 64
    val qtext = RrfTerms.mkString(" ")
    val K = RrfKConst
    s"""WITH ${bm25ScCtes(RrfTerms)},
       |bt AS (
       |  SELECT doc_id, br FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM sc)
       |  WHERE br <= $RrfPoolK),
       |hv AS (
       |  SELECT doc_id, list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT doc_id, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w)),
       |qv AS (
       |  SELECT list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT list_transform(list_filter(
       |      regexp_split_to_array('$qtext', '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0), t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs)),
       |dsc AS (
       |  SELECT hv.doc_id,
       |    CASE WHEN sqrt(list_dot_product(qv.vv, qv.vv)) *
       |              sqrt(list_dot_product(hv.vv, hv.vv)) > 0
       |      THEN list_dot_product(qv.vv, hv.vv) /
       |        (sqrt(list_dot_product(qv.vv, qv.vv)) *
       |         sqrt(list_dot_product(hv.vv, hv.vv)))
       |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
       |  FROM hv CROSS JOIN qv),
       |dt AS (
       |  SELECT doc_id, dr FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
       |  WHERE dr <= $RrfPoolK),
       |f AS (
       |  SELECT coalesce(bt.doc_id, dt.doc_id) AS doc_id,
       |    bt.br AS sparse_rank, dt.dr AS dense_rank,
       |    coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(bt.br AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE))
       |    + coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS fs
       |  FROM bt FULL OUTER JOIN dt ON bt.doc_id = dt.doc_id),
       |g AS (
       |  SELECT doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
       |    sparse_rank, dense_rank FROM f)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_u12 DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  $idSel, rrf_u12, sparse_rank, dense_rank
       |FROM g ORDER BY rrf_u12 DESC, doc_id LIMIT $RrfN""".stripMargin
  }

  /** Batch-RRF oracle (q_rrf_multi): the batch-BM25 branches cut to
    * top-RrfPoolK per query, the hashed-TF dense replay against a VALUES
    * table of the query texts, per-query full-outer fusion — every window
    * PARTITIONED by query_id, mirroring
    * [[graft.ext.Retrieval.rrfFusePerQuery]]. */
  private def rrfMultiOracleSql: String =
    s"""WITH $rrfMultiCtes
       |SELECT query_id, rank, doc_id, rrf_u12, sparse_rank, dense_rank
       |FROM r2 WHERE rank <= $RrfN ORDER BY query_id, rank""".stripMargin

  /** Per-query hybrid-eval oracle (q_rrf_eval): the q_rrf_multi fusion
    * CTEs give the per-query hybrid ranking; gains replay the head-term
    * tf labels from the same tokenized `w` table; metrics mirror
    * [[graft.ext.Retrieval.rankingMetricsPerQuery]] — shared DcgWeightsU6
    * literals, per-query ideal top-10, micro-unit floor division. */
  private def rrfEvalOracleSql: String = {
    val wcases = DcgWeightsU6.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val heads = MultiQueries
      .map { case (qid, ts) => s"($qid, '${ts.head}')" }.mkString(", ")
    s"""WITH $rrfMultiCtes,
       |tk AS (SELECT query_id, doc_id, rank FROM r2 WHERE rank <= 10),
       |qh(hqid, ht) AS (VALUES $heads),
       |gq AS (SELECT CAST(q.hqid AS BIGINT) AS query_id, w.doc_id,
       |    CAST(len(list_filter(w.ws, t -> t = q.ht)) AS BIGINT) AS gain
       |  FROM w CROSS JOIN qh q),
       |sc2 AS (SELECT tk.query_id, g.gain,
       |    g.gain * (CASE tk.rank $wcases END) AS contrib_u6,
       |    CASE WHEN g.gain > 0 THEN tk.rank END AS rel_rank
       |  FROM tk JOIN gq g
       |    ON tk.query_id = g.query_id AND tk.doc_id = g.doc_id),
       |m AS (SELECT query_id,
       |    CAST(COALESCE(SUM(contrib_u6), 0) AS BIGINT) AS dcg_u6,
       |    MIN(rel_rank) AS first_rel,
       |    CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel
       |  FROM sc2 GROUP BY 1),
       |ideal AS (SELECT query_id, gain, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY gain DESC, doc_id) AS BIGINT)
       |      AS rk FROM gq),
       |idcg AS (SELECT query_id,
       |    CAST(SUM(gain * (CASE rk $wcases END)) AS BIGINT) AS idcg_u6
       |  FROM ideal WHERE rk <= 10 GROUP BY 1),
       |qs AS (SELECT DISTINCT query_id FROM tk)
       |SELECT qs.query_id, CAST(10 AS BIGINT) AS k,
       |  CAST(COALESCE(m.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(COALESCE(m.dcg_u6, 0) AS BIGINT) AS dcg_u6,
       |  CAST(COALESCE(i.idcg_u6, 0) AS BIGINT) AS idcg_u6,
       |  CAST(CASE WHEN COALESCE(i.idcg_u6, 0) > 0
       |       THEN COALESCE(m.dcg_u6, 0) * 1000000 // i.idcg_u6
       |       ELSE 0 END AS BIGINT) AS ndcg_u6,
       |  CAST(CASE WHEN m.first_rel IS NULL THEN 0
       |       ELSE 1000000 // m.first_rel END AS BIGINT) AS mrr_u6
       |FROM qs LEFT JOIN m ON qs.query_id = m.query_id
       |  LEFT JOIN idcg i ON qs.query_id = i.query_id
       |ORDER BY qs.query_id""".stripMargin
  }

  /** CTE chain shared by the batch-RRF oracles (q_rrf_multi and
    * q_rrf_eval): ends with `r2` = the per-query fused ranking. */
  private def rrfMultiCtes: String = {
    val dim = 64
    val K = RrfKConst
    val allTerms = MultiQueries.flatMap(_._2).distinct
    val posOf = allTerms.zipWithIndex.toMap
    val unions = MultiQueries.map { case (qid, ts) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(round(${bm25ContribSql(ts, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
         |  FROM w CROSS JOIN st""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val qvals = MultiQueries.map { case (qid, ts) =>
      s"($qid, '${ts.mkString(" ")}')" }.mkString(", ")
    s"""${bm25StatsCtes(allTerms)},
       |e AS (
       |  $unions),
       |bt AS (
       |  SELECT query_id, doc_id, br FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM e)
       |  WHERE br <= $RrfPoolK),
       |hv AS (
       |  SELECT doc_id, list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT doc_id, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w)),
       |qq(query_id, qt) AS (VALUES $qvals),
       |qv AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id,
       |    list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT query_id, list_transform(list_filter(
       |      regexp_split_to_array(qt, '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0), t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM qq)),
       |dsc AS (
       |  SELECT qv.query_id, hv.doc_id,
       |    CASE WHEN sqrt(list_dot_product(qv.vv, qv.vv)) *
       |              sqrt(list_dot_product(hv.vv, hv.vv)) > 0
       |      THEN list_dot_product(qv.vv, hv.vv) /
       |        (sqrt(list_dot_product(qv.vv, qv.vv)) *
       |         sqrt(list_dot_product(hv.vv, hv.vv)))
       |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
       |  FROM hv CROSS JOIN qv),
       |dt AS (
       |  SELECT query_id, doc_id, dr FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
       |  WHERE dr <= $RrfPoolK),
       |f AS (
       |  SELECT coalesce(bt.query_id, dt.query_id) AS query_id,
       |    coalesce(bt.doc_id, dt.doc_id) AS doc_id,
       |    bt.br AS sparse_rank, dt.dr AS dense_rank,
       |    coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(bt.br AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE))
       |    + coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS fs
       |  FROM bt FULL OUTER JOIN dt
       |    ON bt.query_id = dt.query_id AND bt.doc_id = dt.doc_id),
       |g AS (
       |  SELECT query_id, doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
       |    sparse_rank, dense_rank FROM f),
       |r2 AS (
       |  SELECT query_id, doc_id, rrf_u12, sparse_rank, dense_rank,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_u12 DESC, doc_id) AS BIGINT) AS rank FROM g)""".stripMargin
  }

  /** Shared CTE prefix of the LM-perplexity oracles (q_lm_perplexity and
    * its spec-layer twin q_lm_graph): bigram stupid-backoff fit on the even
    * doc_ids, per-token micro-nat quantization, ending with
    * `d` = (doc_id, n_tokens, logp_u6). Constants imported from
    * [[graft.ext.LangModel]] so they cannot drift. */
  private def lmPerplexitySqlCtes: String =
    lmPerplexitySqlCtesWith("SELECT * FROM p WHERE doc_id % 2 = 0")

  /** Same CTEs with a caller-chosen fit-row selection (must project p.*). */
  private def lmPerplexitySqlCtesWith(fitpSql: String): String = {
    val bos = LangModel.Bos
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |    x -> length(x) > 0) AS ws FROM documents),
       |p AS (
       |  SELECT doc_id, i AS pos,
       |    CASE WHEN i = 0 THEN '$bos' ELSE ws[i] END AS prev,
       |    ws[i + 1] AS cur
       |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w)),
       |fitp AS ($fitpSql),
       |uni AS (SELECT cur AS w2, count(*) AS cu FROM fitp GROUP BY 1
       |        UNION ALL
       |        SELECT '$bos', count(*) FROM fitp WHERE prev = '$bos'),
       |bi AS (SELECT prev AS v, cur AS w2, count(*) AS cb
       |       FROM fitp GROUP BY 1, 2),
       |tot AS (SELECT count(*) AS total_tokens FROM fitp),
       |sc AS (
       |  SELECT p.doc_id,
       |    CAST(round(CASE
       |      WHEN bi.cb IS NOT NULL AND uv.cu IS NOT NULL
       |        THEN ln(CAST(bi.cb AS DOUBLE) / CAST(uv.cu AS DOUBLE))
       |      ELSE ln(CAST(${LangModel.Backoff} AS DOUBLE) *
       |        (CAST(coalesce(uw.cu, 1) AS DOUBLE) /
       |         CAST(tot.total_tokens AS DOUBLE)))
       |      END * CAST(${LangModel.Quant} AS DOUBLE)) AS BIGINT) AS qlp
       |  FROM p
       |  LEFT JOIN bi ON bi.v = p.prev AND bi.w2 = p.cur
       |  LEFT JOIN uni uv ON uv.w2 = p.prev
       |  LEFT JOIN uni uw ON uw.w2 = p.cur
       |  CROSS JOIN tot),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(qlp) AS BIGINT) AS logp_u6 FROM sc GROUP BY 1)
       |""".stripMargin
  }

  /** The ppl projection shared by both LM oracles. */
  private def lmPplExprSql: String =
    s"""CASE WHEN d.n_tokens IS NOT NULL THEN
       |    round(exp(-(CAST(d.logp_u6 AS DOUBLE) /
       |        CAST(${LangModel.Quant} AS DOUBLE)) /
       |      CAST(d.n_tokens AS DOUBLE)), 6)
       |  END""".stripMargin

  /** Shared CTE prefix of the two DSIR oracles: hashed unigram+bigram
    * buckets (md5 60-bit prefix mod m — the identical primitive in both
    * engines, see [[graft.ext.Dsir.md5Bucket60]]), add-1-smoothed
    * per-bucket log-ratio table over ALL m buckets, integer micro-nat doc
    * weights. Ends with `aw` = (doc_id, n_feats, w_u6) for every doc. */
  private def dsirWeightsSqlCtes: String = {
    val m = 4096
    def bucket(e: String) =
      s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT) % $m"
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |    x -> length(x) > 0) AS ws FROM documents),
       |feat AS (
       |  SELECT doc_id, unnest(list_concat(
       |    list_transform(ws, t -> ${bucket("t")}),
       |    CASE WHEN len(ws) < 2 THEN [] ELSE
       |      list_transform(range(len(ws) - 1), i ->
       |        ${bucket("ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2]")})
       |    END)) AS f
       |  FROM w),
       |tfeat AS (SELECT feat.f FROM feat
       |          JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
       |ct AS (SELECT f, count(*) AS ct FROM tfeat GROUP BY 1),
       |cq AS (SELECT f, count(*) AS cq FROM feat GROUP BY 1),
       |tt AS (SELECT count(*) AS tt FROM tfeat),
       |tq AS (SELECT count(*) AS tq FROM feat),
       |r AS (
       |  SELECT g.f,
       |    CAST(round((
       |      ln((CAST(coalesce(ct.ct, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
       |         (CAST(tt.tt AS DOUBLE) + CAST($m.0 AS DOUBLE))) -
       |      ln((CAST(coalesce(cq.cq, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
       |         (CAST(tq.tq AS DOUBLE) + CAST($m.0 AS DOUBLE)))
       |    ) * CAST(1e6 AS DOUBLE)) AS BIGINT) AS qllr
       |  FROM range($m) g(f) LEFT JOIN ct USING (f) LEFT JOIN cq USING (f)
       |  CROSS JOIN tt CROSS JOIN tq),
       |dw AS (SELECT feat.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(sum(r.qllr) AS BIGINT) AS w_u6
       |       FROM feat JOIN r USING (f) GROUP BY 1),
       |aw AS (SELECT d.doc_id, coalesce(dw.n_feats, 0) AS n_feats,
       |         coalesce(dw.w_u6, 0) AS w_u6
       |       FROM documents d LEFT JOIN dw USING (doc_id))
       |""".stripMargin
  }

  private def minhashFullOracleSql: String = {
    val (as_, bs_) = graft.ext.Dedup.minhashCoefficients(64)
    def u(v: Long): String = java.lang.Long.toUnsignedString(v)
    def h(s: String): String = s"CAST($s AS HUGEINT)"
    val M64 = "18446744073709551616"
    val M32 = "4294967296"
    val FnvPrime = "1099511628211"
    val FnvOff = h("1469598103934665603")            // hash64 seed-0 init
    val AvaK = h("18397679294719823053")             // 0xFF51AFD7ED558CCD
    val GramInit = h("14695981039346656037")         // unsigned(-3750763034362895579)
    // (x*y) mod 2^64 via 32-bit split: every partial product < 2^97, fits HUGEINT
    def mulfull(x: String, y: String): String =
      s"((($x) % $M32) * (($y) % $M32) + (((($x) % $M32) * (($y) // $M32) + " +
        s"(($x) // $M32) * (($y) % $M32)) % $M32) * $M32) % $M64"
    // one step of the GRAM FNV chain: h -> ((h*prime) mod 2^64) xor x
    // (engine minhashSignatureUdf: `h = (h * P) ^ wh(j)`)
    def gstep(hh: String, x: String): String =
      s"xor((($hh) * $FnvPrime) % $M64, $x)"
    // one step of the BAND fold: h -> ((h xor s)*prime) mod 2^64 — the
    // engine's bandKeysUdf xors the signature slot BEFORE the multiply
    // (`h = (h ^ sig(i)) * P`), so the band-key VALUES here are the
    // engine's, bit for bit, not merely grouping-equivalent
    def bstep(hh: String, x: String): String =
      s"((xor($hh, $x)) * $FnvPrime) % $M64"
    val pa = "[" + as_.map(a => h(u(a))).mkString(",") + "]"
    val pb = "[" + bs_.map(b => h(u(b))).mkString(",") + "]"
    val bandFold = (0 until 4).map { i =>
      val prev = if (i == 0) "h0" else s"h$i"
      s"    ${bstep(prev, s"sig[CAST(b AS INT)*4+${i + 1}]")} AS h${i + 1},"
    }.mkString("\n")
    s"""WITH w0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0) AS words
       |  FROM documents),
       |wh0 AS (
       |  SELECT doc_id, i,
       |    list_reduce(
       |      list_prepend($FnvOff, ${utf16UnitsSql("w")}),
       |      (h, c) -> (xor(h, c) * $FnvPrime) % $M64) AS r0,
       |    xor(r0, r0 >> 33) AS r1,
       |    ${mulfull("r1", AvaK)} AS r2,
       |    xor(r2, r2 >> 33) AS wh
       |  FROM (SELECT doc_id, generate_subscripts(words, 1) AS i, unnest(words) AS w FROM w0)),
       |whl AS (
       |  SELECT w0.doc_id, coalesce(g.whl, []) AS whl
       |  FROM w0 LEFT JOIN (SELECT doc_id, list(wh ORDER BY i) AS whl FROM wh0 GROUP BY doc_id) g
       |  USING (doc_id)),
       |gh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(whl) >= 3 THEN
       |      list_transform(range(len(whl) - 2), g ->
       |        ${gstep(gstep(gstep(GramInit.toString, "whl[CAST(g AS INT)+1]"), "whl[CAST(g AS INT)+2]"), "whl[CAST(g AS INT)+3]")})
       |    WHEN len(whl) > 0 THEN
       |      [list_reduce(list_prepend($GramInit, whl), (h, x) -> ${gstep("h", "x")})]
       |    ELSE [] END AS ghs
       |  FROM whl),
       |sigv AS (
       |  SELECT doc_id, p,
       |    min(CAST(v - CASE WHEN v >= 9223372036854775808 THEN $M64 ELSE 0 END AS BIGINT)) AS sv
       |  FROM (
       |    SELECT doc_id, pm.p, (${mulfull("pm.a", "gr.h")} + pm.b) % $M64 AS v
       |    FROM (SELECT doc_id, unnest(ghs) AS h FROM gh WHERE len(ghs) > 0) gr,
       |         (SELECT CAST(i AS INT) AS p, ($pa)[CAST(i AS INT)+1] AS a, ($pb)[CAST(i AS INT)+1] AS b FROM range(64) t(i)) pm)
       |  GROUP BY doc_id, p),
       |sigl AS (
       |  SELECT gh.doc_id,
       |    CASE WHEN len(gh.ghs) = 0 THEN [CAST(9223372036854775807 AS HUGEINT) FOR x IN range(64)]
       |    ELSE s.sig END AS sig
       |  FROM gh LEFT JOIN (
       |    SELECT doc_id, list(CAST(sv + CASE WHEN sv < 0 THEN $M64 ELSE 0 END AS HUGEINT) ORDER BY p) AS sig
       |    FROM sigv GROUP BY doc_id) s USING (doc_id)),
       |bands AS (
       |  SELECT doc_id, b,
       |    xor($FnvOff, CAST(b AS HUGEINT)) AS h0,
       |$bandFold
       |    xor(h4, h4 >> 33) AS a1,
       |    ${mulfull("a1", AvaK)} AS a2,
       |    xor(a2, a2 >> 33) AS a3,
       |    ((a3 % 9223372036854775808) | (CAST(b AS HUGEINT) * 72057594037927936)) AS band_key
       |  FROM sigl, range(16) t(b)),
       |sz AS (SELECT band_key, count(*) AS n FROM bands GROUP BY 1),
       |cand AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y USING (band_key) JOIN sz USING (band_key)
       |  WHERE sz.n > 1 AND sz.n <= 1000 AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT rep.mn AS id_a, b.doc_id AS id_b
       |  FROM bands b
       |  JOIN (SELECT band_key, min(doc_id) AS mn FROM bands GROUP BY 1) rep
       |    USING (band_key)
       |  JOIN sz USING (band_key)
       |  WHERE sz.n > 1000 AND b.doc_id > rep.mn),
       |sh AS (
       |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
       |    SELECT doc_id,
       |    CASE WHEN len(words) >= 3 THEN
       |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
       |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
       |    ELSE [] END AS ngrams
       |    FROM w0))
       |SELECT id_a, id_b,
       |  CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0 THEN
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh)))
       |  ELSE 0.0 END AS jaccard
       |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
       |WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Full DuckDB replay of q_dedup_simhash: per-token hash64 (same word
    * hash as the minhash oracle), per-bit majority vote over the token
    * MULTISET, 64-bit sketch reassembly, pigeonhole banding (maxHamming+1
    * bit-slice bands keyed with the band id folded at bit 58), bucket
    * self-join under the maxBucket guard, and bit_count hamming verify —
    * mirroring [[graft.ext.Dedup.simhashNearDuplicates]] constant for
    * constant. hamming is cast to INTEGER to match Spark's bit_count type. */
  private def simhashFullOracleSql: String = {
    val maxH = 8; val maxBucket = 10000
    val numBands = maxH + 1
    val base = 64 / numBands; val extra = 64 % numBands
    val widths = Array.tabulate(numBands)(b => base + (if (b < extra) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val M64 = "18446744073709551616"
    val M32 = "4294967296"
    // band id << 58 folded in, same as the engine's lit(b << 58).bitwiseOR
    val bandExprs = (0 until numBands).map { b =>
      s"(CAST($b AS HUGEINT) * 288230376151711744 + ((sh >> ${starts(b)}) % ${1L << widths(b)}))"
    }.mkString(",\n    ")
    val avaK = "CAST(18397679294719823053 AS HUGEINT)"
    s"""WITH w0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0) AS words
       |  FROM documents),
       |wh0 AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(1469598103934665603 AS HUGEINT), ${utf16UnitsSql("w")}),
       |      (h, c) -> (xor(h, c) * 1099511628211) % $M64) AS r0,
       |    xor(r0, r0 >> 33) AS r1,
       |    (((r1) % $M32) * (($avaK) % $M32) + ((((r1) % $M32) * (($avaK) // $M32) + ((r1) // $M32) * (($avaK) % $M32)) % $M32) * $M32) % $M64 AS r2,
       |    xor(r2, r2 >> 33) AS wh
       |  FROM (SELECT doc_id, unnest(words) AS w FROM w0)),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN ((wh >> CAST(b AS INT)) % 2) = 1 THEN 1 ELSE -1 END) > 0
       |      THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS bit
       |  FROM wh0, range(64) t(b) GROUP BY doc_id, b),
       |shh AS (
       |  SELECT w0.doc_id, coalesce(s.sh, CAST(0 AS HUGEINT)) AS sh
       |  FROM w0 LEFT JOIN (
       |    SELECT doc_id, sum(bit * (CAST(1 AS HUGEINT) << CAST(b AS INT))) AS sh
       |    FROM bits GROUP BY doc_id) s USING (doc_id)),
       |bands AS (
       |  SELECT doc_id, sh, unnest([
       |    $bandExprs]) AS band_key
       |  FROM shh),
       |sz AS (SELECT band_key, count(*) AS n FROM bands GROUP BY 1),
       |pairs AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.sh AS sh_a, y.sh AS sh_b
       |  FROM bands x JOIN bands y USING (band_key) JOIN sz USING (band_key)
       |  WHERE sz.n > 1 AND sz.n <= $maxBucket AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT rep.mn, b.doc_id, rep.msh, b.sh
       |  FROM bands b
       |  JOIN (SELECT band_key, min(doc_id) AS mn, min_by(sh, doc_id) AS msh
       |        FROM bands GROUP BY 1) rep USING (band_key)
       |  JOIN sz USING (band_key)
       |  WHERE sz.n > $maxBucket AND b.doc_id > rep.mn)
       |SELECT DISTINCT id_a, id_b,
       |  CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sh_a, sh_b)) <= $maxH
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB-equivalent SQL per query (same column names & order-by). */
  /** Shared by q_pack_sequences and its streaming twin q_pack_stream —
    * the single-file fixture arrives as one micro-batch, so the
    * streaming layout must equal the batch layout exactly. */
  private val packSequencesOracleSql: String =
    """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ps AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 512.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 512.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 512.0) AS BIGINT)
        |       - CAST(floor(token_offset / 512.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM ps ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q_dedup_minhash" -> minhashFullOracleSql,

    "q_dedup_simhash" -> simhashFullOracleSql,

    "q_runner_slice" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_mktsegment, row_number() OVER () - 1 AS rid
        |  FROM customer),
        |masked AS (
        |  SELECT c_custkey, c_name, row_number() OVER (ORDER BY rid) - 1 AS ridx
        |  FROM base WHERE c_mktsegment = 'BUILDING'),
        |sliced AS (
        |  SELECT c_custkey, c_name, (ridx - 1) // 3 AS nidx
        |  FROM masked WHERE ridx >= 1 AND (ridx - 1) % 3 = 0)
        |SELECT c_custkey, c_name FROM sliced WHERE nidx < 100
        |ORDER BY c_custkey""".stripMargin,

    "q_subs_graph" ->
      """WITH train AS (
        |  SELECT 'train' AS phase, rid, n_tokens FROM (VALUES
        |    (0, 3), (1, 0), (2, 2)) t(rid, n_tokens)),
        |test AS (
        |  SELECT 'test' AS phase, row_number() OVER () - 1 AS rid,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents)
        |SELECT phase, CAST(rid AS BIGINT) AS rid,
        |  CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM (SELECT * FROM train UNION ALL SELECT * FROM test)
        |ORDER BY phase, rid""".stripMargin,

    "q_probe_eval" ->
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false
        |FROM embeddings""".stripMargin,

    "q_probe_rbf_eval" ->
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin,

    // the exact-SMO twin reports the same deterministic eligibility counts;
    // the solver's optimality is enforced by the query's hard KKT gates
    "q_probe_svm" ->
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin,

    // exact ν-SVM + Platt calibration: same counts; ν-property, KKT, and
    // probability-range enforcement are the query's hard gates
    "q_probe_nusvm" ->
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin,

    "q_probe_diffmeans" ->
      """WITH e AS (
        |  SELECT label <= 4 AS is_pos, embedding,
        |         unnest(range(len(embedding))) AS dim
        |  FROM embeddings),
        |q AS (
        |  SELECT is_pos, dim,
        |  CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1e6) AS BIGINT) AS qv
        |  FROM e)
        |SELECT dim,
        |  CAST(SUM(CASE WHEN is_pos THEN qv END) AS DOUBLE)
        |    / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
        |  - CAST(SUM(CASE WHEN NOT is_pos THEN qv END) AS DOUBLE)
        |    / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "q_probe_predict" ->
      """WITH e AS (
        |  SELECT label <= 4 AS is_pos, vec_id, embedding,
        |         unnest(range(len(embedding))) AS dim
        |  FROM embeddings),
        |q AS (
        |  SELECT is_pos, vec_id, dim,
        |  CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1e6) AS BIGINT) AS qx
        |  FROM e),
        |w AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
        |    - CAST(SUM(CASE WHEN NOT is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
        |  FROM q GROUP BY dim),
        |qw AS (SELECT dim, CAST(round(w * 1e9) AS BIGINT) AS qw FROM w)
        |SELECT q.vec_id, CAST(SUM(q.qx * qw.qw) AS DOUBLE) / 1e15 AS score
        |FROM q JOIN qw USING (dim)
        |GROUP BY q.vec_id ORDER BY q.vec_id""".stripMargin,

    // multiclass replay: fit on even vec_ids, score + argmax on every row
    "q_probe_multiclass" ->
      (mcEmbedSqlCtes("WHERE vec_id % 2 = 0") +
        """
          |SELECT s.vec_id, s.lab AS label, s.score, p.pred_label
          |FROM s JOIN p ON s.vec_id = p.vec_id AND p.rn = 1
          |ORDER BY s.vec_id, label""".stripMargin),

    // spec-chain replay: fit on ALL rows, confusion vs the label column,
    // every metric a single integer division quantized to micro-units
    "q_probe_mc_eval" ->
      (mcEmbedSqlCtes("") +
        """,
          |pred AS (SELECT vec_id, pred_label FROM p WHERE rn = 1),
          |gt AS (SELECT vec_id, CAST(label AS VARCHAR) AS gt FROM embeddings),
          |cellc AS (
          |  SELECT g.gt, pr.pred_label AS pl, CAST(count(*) AS BIGINT) AS n
          |  FROM gt g JOIN pred pr USING (vec_id) GROUP BY 1, 2),
          |cls AS (SELECT DISTINCT lab FROM
          |  (SELECT gt AS lab FROM cellc UNION SELECT pl FROM cellc)),
          |stats AS (
          |  SELECT c.lab AS label,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt = c.lab AND cc.pl = c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS tp,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt <> c.lab AND cc.pl = c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS fp,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt = c.lab AND cc.pl <> c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS fn
          |  FROM cls c CROSS JOIN cellc cc GROUP BY c.lab),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
          |  CAST(SUM(CASE WHEN gt = pl THEN n ELSE 0 END) AS BIGINT) AS correct
          |  FROM cellc),
          |met AS (
          |  SELECT label, tp + fn AS support, tp, fp, fn,
          |    CASE WHEN tp + fp > 0 THEN CAST(round(CAST(tp AS DOUBLE)
          |      / (tp + fp) * 1e6) AS BIGINT) END AS p_u6,
          |    CASE WHEN tp + fn > 0 THEN CAST(round(CAST(tp AS DOUBLE)
          |      / (tp + fn) * 1e6) AS BIGINT) END AS r_u6,
          |    CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(round(
          |      CAST(tp AS DOUBLE) * 2 / (2 * tp + fp + fn) * 1e6)
          |      AS BIGINT) END AS f1_u6
          |  FROM stats),
          |mac AS (SELECT CAST(round(CAST(SUM(f1_u6) AS DOUBLE) / COUNT(*))
          |  AS BIGINT) AS macro_u6 FROM met)
          |SELECT met.label, met.support, met.tp, met.fp, met.fn,
          |  met.p_u6, met.r_u6, met.f1_u6,
          |  CAST(round(CAST(tot.correct AS DOUBLE) / tot.n * 1e6) AS BIGINT)
          |    AS acc_u6,
          |  mac.macro_u6
          |FROM met CROSS JOIN tot CROSS JOIN mac
          |ORDER BY met.label""".stripMargin),

    // trained language ID replay: hashed-TF fit on even doc_ids, argmax
    "q_lang_id_trained" ->
      (mcHashTfSqlCtes("WHERE doc_id % 2 = 0") +
        """
          |SELECT doc_id, pred_label FROM p WHERE rn = 1
          |ORDER BY doc_id""".stripMargin),

    // spec twin: fit on all rows, ids = file-order row indices (== doc_id)
    "q_lang_graph" ->
      (mcHashTfSqlCtes("") +
        """
          |SELECT doc_id AS id, pred_label FROM p WHERE rn = 1
          |ORDER BY id""".stripMargin),

    "q_umap_viz" -> umapVizOracleSql,

    "q_spectral" -> spectralOracleSql,
    "q_umap_layout" -> umapOracleSql,
    "q_umap_graph" -> umapOracleSql("row_number() OVER () - 1", "row_idx"),

    "q_sp_graph" -> spectralOracleSql("row_number() OVER () - 1", "row_idx"),

    "q_kmeans" -> kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"SELECT id, CAST(cell AS INTEGER) AS cell, score FROM a${KmIters + 1} ORDER BY id"),

    "q_km_graph" -> kmeansOracleSql("row_number() OVER () - 1",
      s"SELECT id AS row_idx, CAST(cell AS VARCHAR) AS value FROM a${KmIters + 1} ORDER BY row_idx"),

    // D4 prototype-drop replay: the unrolled k-means oracle's FITTED
    // centroids, then a pure-integer exact-squared-distance assignment
    // (dx/ax — ExactKMeans.assignByDistance: argmin d2, ties → smaller
    // cell), the per-cell prototypicality rank (d2 ASC = closest first)
    // and the integer floor-division drop count — survivors only
    "q_proto_drop" -> kmeansOracleSql("CAST(vec_id AS BIGINT)",
      protoDropCtes +
      s"""SELECT r.id, CAST(r.cell AS INTEGER) AS cell, r.rnk, r.d2
         |FROM rnk r JOIN cnt c ON c.cell = r.cell
         |WHERE r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen
         |ORDER BY r.id""".stripMargin),

    // diversify → mask → class-mix: the drop replay joined back onto the
    // labels, grouped — the per-label survivor counts
    "q_d4_pipeline" -> kmeansOracleSql("row_number() OVER () - 1",
      protoDropCtes +
      s"""SELECT e.label AS label, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT label, row_number() OVER () - 1 AS rid
         |      FROM embeddings) e
         |JOIN rnk r ON r.id = e.rid
         |JOIN cnt c ON c.cell = r.cell
         |WHERE r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // spec twin: keep verdicts for EVERY row as a boolean value column
    "q_d4_graph" -> kmeansOracleSql("row_number() OVER () - 1",
      protoDropCtes +
      s"""SELECT r.id AS row_idx,
         |  (r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen) AS value
         |FROM rnk r JOIN cnt c ON c.cell = r.cell
         |ORDER BY row_idx""".stripMargin),

    // identical assignment contract through the STREAMING path
    "q_km_stream" -> kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"SELECT id, CAST(cell AS INTEGER) AS cell, score FROM a${KmIters + 1} ORDER BY id"),

    // q_km_sink: the same unrolled-Lloyd replay; batch_id = the id split
    // the gate streams (assignment is row-local, so sink rows == batch
    // operator rows under any slicing)
    "q_km_sink" -> kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"""SELECT CASE WHEN id < 30 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) END AS batch_id,
         |  id, CAST(cell AS INTEGER) AS cell, score
         |FROM a${KmIters + 1} ORDER BY id""".stripMargin),

    "q_distinct_sketch" ->
      // KMV replay: distinct 60-bit md5 prefixes per language, kth
      // smallest via row_number, HUGEINT floor division for the estimate
      s"""WITH h AS (
         |  SELECT DISTINCT lang,
         |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
         |  FROM documents),
         |r AS (
         |  SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS cnt
         |  FROM h),
         |g AS (
         |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
         |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
         |  FROM r GROUP BY lang),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
         |      FROM documents GROUP BY lang)
         |SELECT n.lang, n.n_rows,
         |  CASE WHEN g.cnt < $KmvK THEN g.cnt
         |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
         |      CAST(${Profile.HashSpace} AS HUGEINT)) // g.hk AS BIGINT)
         |  END AS est_distinct
         |FROM n JOIN g USING (lang) ORDER BY lang""".stripMargin,

    "q_corpus_stats" ->
      // planted duplicates (doc_id < 200 copied) → per-source distinct <
      // total; every source sits below k=64, so the sketch IS the exact
      // distinct-text count here (the estimator path is q_distinct_sketch)
      s"""WITH u AS (
         |  SELECT source, text FROM documents
         |  UNION ALL
         |  SELECT source, text FROM documents WHERE doc_id < 200),
         |t AS (
         |  SELECT source, text,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS tok
         |  FROM u),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS n_chars
         |  FROM t GROUP BY source),
         |c AS (
         |  SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS dct
         |  FROM u GROUP BY source)
         |SELECT agg.source, n_docs, n_tokens, n_chars,
         |  c.dct AS est_distinct_texts
         |FROM agg JOIN c USING (source) ORDER BY source""".stripMargin,

    "q_stats_graph" -> statsCardOracleSql,

    // the STREAMING data card folds per-batch monoid state (sums add,
    // sketches merge), so any slicing yields the identical card — the
    // single-file gate shares the replay verbatim; adversarial multi-batch
    // equality is pinned in StreamingSpec
    "q_stats_stream" -> statsCardOracleSql,

    "q_top_sources" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS cnt
        |  FROM documents GROUP BY lang, source),
        |r AS (
        |  SELECT lang, source, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, source) AS BIGINT) AS rank
        |  FROM c)
        |SELECT lang, source, cnt, rank FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin,

    "q_domain_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin,

    // online first-N admission: id-ranged batches + id-sorted per-batch
    // admission make the stream's admission order per source equal
    // doc_id order, so a plain window replays it
    "q_domain_cap_stream" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS n_kept
        |  FROM documents)
        |SELECT source, doc_id, n_kept FROM r WHERE n_kept <= 3
        |ORDER BY source, n_kept""".stripMargin,

    // durable-sink quota: same admission law (id-ranged batches ⇒ the
    // union is the global doc_id-order first-3 per source), plus each
    // verdict's batch is pinned by its id range
    "q_quota_sink" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS n_kept
        |  FROM documents)
        |SELECT CAST(CASE WHEN doc_id < 500 THEN 0 ELSE 1 END AS BIGINT)
        |    AS batch_id,
        |  source, doc_id, n_kept FROM r WHERE n_kept <= 3
        |ORDER BY source, n_kept""".stripMargin,

    "q_bloom" -> bloomOracleSql,

    // the streamed bitmap is the SAME bit set (OR monoid ⇒
    // slicing-invariant), so the twin shares the batch oracle verbatim
    "q_bloom_stream" -> bloomOracleSql,

    "q_cms" -> cmsOracleSql,

    // the streaming sketch is the SAME counter matrix (sum monoid ⇒
    // slicing-invariant), so the twin shares the batch oracle verbatim
    "q_cms_stream" -> cmsOracleSql,

    // the spec twin profiles the same corpus with the same sketch shape
    "q_cms_graph" -> cmsOracleSql,

    // spec twin: verdicts keyed by the runner's positional identity, the
    // reference set = the first-2000-rows slice
    "q_bloom_graph" ->
      s"""WITH d AS (SELECT text,
         |  CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
         |  FROM documents),
         |ref AS (SELECT DISTINCT text FROM d WHERE row_idx < 2000),
         |rs AS (SELECT unnest(range($BloomK)) AS i),
         |bits AS (SELECT DISTINCT
         |           CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |             AS BIGINT) % $BloomM AS bit
         |         FROM ref, rs),
         |ph AS (SELECT row_idx,
         |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |           AS BIGINT) % $BloomM AS bit
         |       FROM d, rs)
         |SELECT row_idx,
         |       COUNT(*) FILTER (WHERE bit IN (SELECT bit FROM bits))
         |         = $BloomK AS value
         |FROM ph GROUP BY row_idx ORDER BY row_idx""".stripMargin,

    // spec twin: the epoch-3 shard layout over positional row ids
    "q_shard_graph" ->
      """WITH d AS (SELECT CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
        |  FROM documents),
        |h AS (SELECT row_idx,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||3||chr(31)||
        |          CAST(row_idx AS VARCHAR)),1,15) AS BIGINT) AS eh
        |      FROM d)
        |SELECT row_idx, eh % 8 AS shard,
        |       CAST(row_number() OVER (PARTITION BY eh % 8
        |         ORDER BY eh, row_idx) AS BIGINT) - 1 AS pos
        |FROM h ORDER BY row_idx""".stripMargin,

    "q_len_quantiles" ->
      """WITH l AS (
        |  SELECT lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS len
        |  FROM documents),
        |c AS (SELECT lang, len, count(*) AS c FROM l GROUP BY lang, len),
        |cum AS (
        |  SELECT lang, len,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY len) AS cum
        |  FROM c),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM l GROUP BY lang)
        |SELECT lang, n_docs,
        |  min(CASE WHEN cum >= ceil(0.5 * n_docs) THEN len END) AS p50,
        |  min(CASE WHEN cum >= ceil(0.9 * n_docs) THEN len END) AS p90,
        |  min(CASE WHEN cum >= ceil(0.99 * n_docs) THEN len END) AS p99
        |FROM cum JOIN t USING (lang)
        |GROUP BY lang, n_docs ORDER BY lang""".stripMargin,

    // DoReMi mixture replay: per-domain integer mean-excess aggregation,
    // then every multiplicative-weights round unrolled as a HUGEINT CTE
    // (u = w·(1e6 + (η·excess)//1e6), normalize by the exact integer Σu,
    // re-add the uniform smoothing floor) — the PageRank // discipline
    "q_doremi" -> {
      val (eta, smooth, rounds) = (100000L, 100000L, 3)
      val base =
        s"""WITH ex AS (
           |  SELECT domain, n_docs, GREATEST(CAST(0 AS BIGINT),
           |      sp // n_docs - sr // n_docs) AS excess_u6
           |  FROM (SELECT lang AS domain, COUNT(*) AS n_docs,
           |    SUM(CAST(n_chars AS BIGINT) * 1000) AS sp,
           |    SUM(CAST(tok AS BIGINT) * 4000) AS sr
           |    FROM (SELECT lang, n_chars,
           |      CASE WHEN length(trim(text)) = 0 THEN 0
           |        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
           |      FROM documents) GROUP BY 1)),
           |r0 AS (SELECT domain, n_docs, excess_u6,
           |  CAST(1000000 // (SELECT COUNT(*) FROM ex) AS HUGEINT) AS w
           |  FROM ex)""".stripMargin
      val rs = (1 to rounds).map { i =>
        s"""r$i AS (SELECT domain, n_docs, excess_u6,
           |  (CAST(${1000000L - smooth} AS HUGEINT) * u) // (SELECT SUM(u)
           |    FROM (SELECT w * (1000000 + ($eta * excess_u6) // 1000000)
           |          AS u FROM r${i - 1}))
           |  + $smooth // (SELECT COUNT(*) FROM ex) AS w
           |  FROM (SELECT domain, n_docs, excess_u6,
           |    w * (1000000 + ($eta * excess_u6) // 1000000) AS u
           |    FROM r${i - 1}))""".stripMargin
      }
      (base +: rs).mkString(",\n") +
        s"""
           |SELECT domain, n_docs, CAST(excess_u6 AS BIGINT) AS excess_u6,
           |  CAST(w AS BIGINT) AS weight_u6
           |FROM r$rounds ORDER BY domain""".stripMargin
    },

    "q_token_budget" -> tokenBudgetOracleSql,

    // the STREAMING twin computes the identical kept cut (single-file
    // fixture → one micro-batch; carried-fill multi-batch equality pinned
    // in StreamingSpec), so it shares the replay verbatim
    "q_tb_stream" -> tokenBudgetOracleSql,

    // durable-sink twins: running card per batch prefix; admission ledger
    // as one (batch, priority, id)-keyed window cumsum
    "q_card_sink" -> cardSinkOracleSql,
    "q_tb_sink" -> tbSinkOracleSql,

    // sketch sinks: each batch prefix's persisted counter matrix / bitmap
    // probed against the corpus
    "q_cms_sink" -> cmsSinkOracleSql,
    "q_bloom_sink" -> bloomSinkOracleSql,

    "q_tb_graph" ->
      s"""WITH t AS (
         |  SELECT row_number() OVER () - 1 AS row_idx, lang, n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT row_idx,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, row_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT row_idx, cum <= $TbBudget AS value FROM c ORDER BY row_idx""".stripMargin,

    "q_llm_activations" ->
      s"""WITH d AS (SELECT text, row_number() OVER () - 1 AS row_idx FROM documents),
         |e AS (SELECT row_idx, text, unnest(range(8)) AS pos FROM d)
         |SELECT row_idx, pos,
         |${duckMd5Val("text || '|3|last|' || CAST(pos AS VARCHAR)")} AS val
         |FROM e ORDER BY row_idx, pos""".stripMargin,

    // full MLP forward-pass replay: hashed-TF(16) features, then each
    // layer's affine+ReLU from the SHARED integer weight formula — all
    // dyadic-exact, so val hashes bit for bit
    "q_llm_mlp" -> {
      val (l1, hd) = mlpNetSql
      s"""WITH d AS (SELECT text, row_number() OVER () - 1 AS row_idx
         |  FROM documents),
         |w AS (SELECT row_idx,
         |  list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM d),
         |e AS (SELECT row_idx, list_transform(ws, t ->
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w),
         |v AS (SELECT row_idx, list_transform(range(16), dd ->
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN h % 16 = dd
         |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
         |        ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b) AS DOUBLE)) AS vv
         |  FROM e),
         |h1 AS (SELECT row_idx,
         |    $l1
         |  FROM v),
         |hd AS (SELECT row_idx, [$hd] AS es FROM h1)
         |SELECT row_idx, CAST(p AS BIGINT) AS pos,
         |  es[CAST(p AS INT) + 1] AS val
         |FROM hd, range(4) t(p) ORDER BY row_idx, pos""".stripMargin
    },

    // in-process activations → exact probe, replayed end to end: the
    // shared net SQL feeds the q_quality_probe scoresExact replay
    "q_mlp_probe" -> {
      val (l1, hd) = mlpNetSql
      s"""WITH d AS (SELECT doc_id, lang = 'en' AS is_pos,
         |  list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |e AS (SELECT doc_id, is_pos, list_transform(ws, t ->
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM d),
         |v AS (SELECT doc_id, is_pos, list_transform(range(16), dd ->
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN h % 16 = dd
         |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
         |        ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b) AS DOUBLE)) AS vv
         |  FROM e),
         |h1 AS (SELECT doc_id, is_pos,
         |    $l1
         |  FROM v),
         |hdx AS (SELECT doc_id, is_pos, [$hd] AS es FROM h1),
         |q AS (SELECT doc_id, is_pos, CAST(dm AS BIGINT) AS dim,
         |        CAST(round(es[CAST(dm AS INT) + 1] * 1e6) AS BIGINT) AS qx
         |      FROM hdx, range(4) t(dm)),
         |w AS (SELECT dim,
         |    CAST(SUM(CASE WHEN is_pos THEN qx END) AS DOUBLE)
         |      / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
         |  - CAST(SUM(CASE WHEN NOT is_pos THEN qx END) AS DOUBLE)
         |      / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
         |  FROM q GROUP BY dim),
         |qw AS (SELECT dim, CAST(round(w * 1e9) AS BIGINT) AS qw FROM w)
         |SELECT q.doc_id AS vec_id,
         |  CAST(SUM(q.qx * qw.qw) AS DOUBLE) / 1e15 AS score
         |FROM q JOIN qw USING (dim)
         |GROUP BY q.doc_id ORDER BY vec_id""".stripMargin
    },

    // full transformer forward-pass replay: embeddings → q/k/v → causal
    // integer-softmax attention → LayerNorm → FFN → both pooled layers
    "q_tf_embed" -> tfNetSql,

    // the 2-block × 2-head stack replayed end to end — all 4 layers
    "q_tf_deep" -> tfDeepSql,
    "q_tf_preln" -> tfPrelnSql,
    "q_tf_float" -> tfFloatSql,
    "q_tf_logits" -> tfLogitsSql,
    "q_tf_bpe" -> tfBpeSql,

    // transformer activations → diff-of-means probe, replayed end to end
    "q_tf_probe" -> tfProbeOracleSql,

    // BM25 pool → transformer pair-scored rerank, both rankings replayed
    "q_tf_rerank" -> tfRerankOracleSql,

    // spec-layer twin: the layer-1 (post-attention LayerNorm) pooled
    // states over row_number-keyed docs
    "q_tf_graph" -> {
      s"""WITH ${tfCtes("(SELECT row_number() OVER () - 1 AS doc_id, lang," +
            " text FROM documents)")},
         |dims AS (SELECT CAST(unnest(range(${TfFixture.Dim})) AS BIGINT) AS dm)
         |SELECT doc_id AS row_idx, dm AS pos,
         |  ${tfPool("ln0_", "CAST(dm AS INT) + 1")} AS val
         |FROM tfy CROSS JOIN dims
         |ORDER BY row_idx, pos""".stripMargin
    },

    "q_llm_logits" ->
      s"""WITH d AS (SELECT text, row_number() OVER () - 1 AS row_idx FROM documents),
         |e AS (SELECT row_idx, text, unnest(range(3)) AS pos FROM d)
         |SELECT row_idx, pos,
         |${duckMd5Val("text || '|logit|' || (['yes','no','7'])[CAST(pos AS INT)+1]")} AS val
         |FROM e ORDER BY row_idx, pos""".stripMargin,

    "q_llm_generate" ->
      """SELECT row_number() OVER () - 1 AS row_idx,
        |'gen:' || substr(md5(text || '|100'), 1, 16) AS gen_text
        |FROM documents ORDER BY row_idx""".stripMargin,

    "q_grouped" ->
      """SELECT 'test' AS split, CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM documents
        |UNION ALL
        |SELECT 'train' AS split, COUNT(*) - CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM documents
        |ORDER BY split""".stripMargin,

    // Multimodal oracles recompute the fixture formulas from doc_id (see
    // Multimodal.imgW/imgH/imgRgb/...): the Spark side must reproduce them
    // through a REAL encode → decode codec round-trip, so any defect in the
    // imageio/WAV path breaks the hash match.
    "q_mm_decode" ->
      """SELECT doc_id,
        |16 + doc_id % 112 AS width,
        |16 + (doc_id * 7) % 112 AS height,
        |CASE WHEN doc_id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mm_resize" ->
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
        |FROM scaled ORDER BY doc_id""".stripMargin,

    "q_mm_embed" ->
      """WITH e AS (SELECT doc_id, unnest(range(4)) AS pos FROM documents)
        |SELECT doc_id, pos,
        |((doc_id + 37 * pos) % 256 + (doc_id * 3 + 59 * pos) % 256
        |  + (doc_id * 5 + 83 * pos) % 256) / 765.0 AS val
        |FROM e ORDER BY doc_id, pos""".stripMargin,

    "q_mm_audio" ->
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
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_mm_frames" ->
      """SELECT doc_id,
        |1 + doc_id % 5 AS n_frames,
        |16 + doc_id % 48 AS frame_w,
        |16 + (doc_id * 3) % 48 AS frame_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mm_corrupt" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE 16 + doc_id % 112 END AS width,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE 16 + (doc_id * 7) % 112 END AS height,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS format,
        |  doc_id % 97 <> 0 AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mm_audio_windows" ->
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
        |FROM w ORDER BY doc_id, window_idx""".stripMargin,

    "q_mm_frame_embed" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(1 + doc_id % 5)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  CAST((doc_id + 29 * frame_idx) % 256 AS DOUBLE) AS mean_r,
        |  CAST(((doc_id + 29 * frame_idx) * 3) % 256 AS DOUBLE) AS mean_g,
        |  CAST(((doc_id + 29 * frame_idx) * 5) % 256 AS DOUBLE) AS mean_b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_mm_frames_graph" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(1 + doc_id % 5)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  16 + doc_id % 48 AS width,
        |  16 + (doc_id * 3) % 48 AS height,
        |  'png' AS format
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_mm_graph" ->
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
        |FROM e ORDER BY doc_id, pos""".stripMargin,

    "q_sh_graph" ->
      """WITH s AS (SELECT unnest(range(100)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, CAST(i AS BIGINT) AS doc_id
        |FROM s ORDER BY row_idx""".stripMargin,

    "q_cos_graph" ->
      """SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS row_idx,
        |vec_id FROM embeddings ORDER BY row_idx""".stripMargin,

    // spec-layer SemDeDup replay over the q_cos_graph fixture: positional
    // row ids in vec_id order (copies sort after every original), centroids
    // = rows 0..7, max-cosine assignment (ties -> smaller cell), survivor
    // rule within cells; no cell overflows at sf0.01 so leaf = cell string
    "q_sem_graph" ->
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
        |ORDER BY row_idx""".stripMargin,

    "q_ann_graph" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the q_ann_ivfpq replay over file-order row numbers (the spec layer's
    // positional ids) instead of vec_id — same assignment, probe, code
    // argmin, and ADC arithmetic
    "q_pq_graph" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // constant-output oracle (q_lsh_skew_report precedent): the fixture is
    // engine-synthesized, so the expected survivors are stated directly —
    // the 100 originals, re-indexed contiguously in file order
    "q_dedup_graph" ->
      """WITH s AS (SELECT unnest(range(100)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, CAST(i AS BIGINT) AS doc_id
        |FROM s ORDER BY row_idx""".stripMargin,

    // keep-best inverts the survivor set: the copies (rows 100..199,
    // quality = doc_id + 1000) win every cluster
    "q_best_graph" ->
      """WITH s AS (SELECT unnest(range(200)) AS i)
        |SELECT CAST(i AS BIGINT) AS row_idx, (i >= 100) AS value
        |FROM s ORDER BY row_idx""".stripMargin,

    "q_bpe_pairs" ->
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
        |FROM pc ORDER BY cnt DESC, sym_a, sym_b LIMIT 20""".stripMargin,

    "q_unigram_train" -> ("WITH RECURSIVE " +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + s"""
      |SELECT v.piece, CAST(v.cnt AS BIGINT) AS cnt, s.s AS score_u6
      |FROM v$UniRounds v JOIN s$UniRounds s USING (piece)
      |ORDER BY piece""".stripMargin),

    "q_unigram_encode" -> ("WITH RECURSIVE " +
      unigramOracleCtes(UniRounds, UniSeedMulti, UniPieceLen) + ",\n" +
      unigramDpCtes(UniRounds + 1, UniRounds, UniPieceLen) + s"""
      |SELECT w.word, CAST(w.cnt AS BIGINT) AS cnt,
      |  CAST(COUNT(*) AS BIGINT) AS n_pieces,
      |  string_agg(p.piece, chr(31) ORDER BY p.j) AS seg
      |FROM upc${UniRounds + 1} p JOIN wl w USING (word)
      |GROUP BY w.word, w.cnt
      |ORDER BY w.word""".stripMargin),

    "q_uni_graph" -> ("WITH RECURSIVE " +
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
      |ORDER BY d.row_idx""".stripMargin),

    // both tokenizer-training loops replayed in ONE query: the BPE merge
    // chain (w0..w6) and the unigram EM chain (seed → rounds → final DP)
    "q_tok_compare" -> (bpeOracleCtes(BpeMerges) + ",\n" +
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
      |ORDER BY tokenizer""".stripMargin),

    "q_bpe_train" -> (bpeOracleCtes(BpeMerges) + "\n" +
      (0 until BpeMerges)
        .map(k => s"SELECT CAST($k AS BIGINT) AS rank, sym_a, sym_b FROM b$k")
        .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n) ORDER BY rank")),

    "q_bpe_encode" -> (bpeOracleCtes(BpeMerges) + s""",
        |tk AS (SELECT unnest(list_filter(string_split(seg, chr(31)),
        |         x -> length(x) > 0)) AS token, cnt FROM w$BpeMerges)
        |SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt FROM tk GROUP BY 1
        |ORDER BY cnt DESC, token LIMIT 30""".stripMargin),

    "q_mm_phash" ->
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin,

    "q_mm_afp" ->
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin,

    "q_mm_vfp" ->
      """SELECT doc_id AS id_a,
        |doc_id + (SELECT max(doc_id) + 1 FROM documents) AS id_b,
        |CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id < 50 ORDER BY id_a, id_b""".stripMargin,

    "q_mm_ann" ->
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
        |             event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(*) AS n_clicks
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us AND c.us < p.us + 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_events_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, value,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess,
        |    ts, event_id
        |  FROM (SELECT user_id, ts, event_id, value,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |sessions AS (
        |  SELECT user_id, value,
        |    -- BIGINT cast: DuckDB's windowed SUM yields HUGEINT, which lands
        |    -- in pandas as float64 and hash-mismatches Spark's int64
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_load_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "q_load_jsonl" ->
      "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",

    "q_load_csv" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id",

    "q_load_inline_json" ->
      """SELECT * FROM (VALUES
        |(CAST(1 AS BIGINT), 'alpha', true),
        |(CAST(2 AS BIGINT), 'beta', false),
        |(CAST(3 AS BIGINT), 'gamma', true)) AS t(id, name, flag)
        |ORDER BY id""".stripMargin,

    "q_select_text" ->
      "SELECT c_custkey, c_name AS text_val FROM customer ORDER BY c_custkey",

    "q_select_score" ->
      "SELECT o_orderkey, o_totalprice AS score_val FROM orders ORDER BY o_orderkey",

    "q_select_categorical" ->
      "SELECT o_orderkey, o_orderstatus AS category_val FROM orders ORDER BY o_orderkey",

    "q_select_vector" ->
      """SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS val
        |FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS pos
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin,

    "q_select_json" ->
      "SELECT event_id, props AS json_val FROM events ORDER BY event_id",

    "q_select_boolean" ->
      """SELECT * FROM (VALUES (1, true), (2, false), (3, true), (4, false))
        |AS t(id, flag) ORDER BY id""".stripMargin,

    "q_select_split" ->
      """SELECT c_custkey, CASE WHEN c_custkey % 4 = 0 THEN 'test' ELSE 'train' END AS split_val
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_select_conversation" ->
      """SELECT * FROM (VALUES
        |(CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'user', 'Hello'),
        |(CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'assistant', 'Hi there!'),
        |(CAST(2 AS BIGINT), CAST(0 AS BIGINT), 'user', 'How are you?'),
        |(CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'assistant', 'Great.'))
        |AS t(id, pos, role, content) ORDER BY id, pos""".stripMargin,

    "q_take_rows" ->
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) - 1 AS row_idx
        |FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity, row_idx FROM t
        |WHERE row_idx >= 10 AND (row_idx - 10) % 7 = 0
        |ORDER BY row_idx LIMIT 50""".stripMargin,

    "q_mask_rows" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_category_to_boolean" ->
      """SELECT o_orderkey, o_orderstatus IN ('F', 'O') AS is_of,
        |o_orderstatus NOT IN ('P') AS not_p
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_boolean_logic" ->
      """SELECT o_orderkey,
        |(o_orderstatus = 'O') AND (o_totalprice > 150000.0) AS and_val,
        |(o_orderstatus = 'O') OR (o_totalprice > 150000.0) AS or_val,
        |(o_orderstatus = 'O') <> (o_totalprice > 150000.0) AS xor_val,
        |NOT (o_orderstatus = 'O') AS not_val
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_pairwise_arith" ->
      """SELECT l_orderkey, l_linenumber,
        |l_quantity + l_discount AS add_val,
        |l_quantity - l_discount AS sub_val,
        |l_quantity * l_discount AS mul_val,
        |l_quantity / l_extendedprice AS div_val
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_vector_to_scalar" ->
      """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS elem0,
        |CAST(embedding[64] AS DOUBLE) AS elem63
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_parse_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q_templatize" ->
      """SELECT c_custkey,
        |'Hello ' || c_name || ', segment ' || c_mktsegment || '!' AS prompt
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_assign_rowid" ->
      """SELECT o_orderkey,
        |CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) - 1 AS row_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_train_test_split" ->
      """SELECT 'test' AS split, CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM customer
        |UNION ALL
        |SELECT 'train' AS split, COUNT(*) - CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM customer
        |ORDER BY split""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "q_dedup_drop" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_clusters" ->
      s"""$ccClosureCtes
        |SELECT id AS doc_id, MIN(lbl) AS cluster_id,
        |  (MIN(lbl) = id) AS is_representative
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // PageRank replay: same pair derivation, every floor-division
    // iteration unrolled (the ExactKMeans pattern on a graph)
    "q_pagerank" ->
      s"""WITH $jaccardPairCtes,
         |${pageRankCtes()}
         |SELECT id, pr_u6 FROM p$PrIters ORDER BY id""".stripMargin,

    // HITS over the directed pair table, every max-normalized step replayed
    "q_hits" ->
      s"""WITH $jaccardPairCtes,
         |$hitsCtes
         |SELECT h.id, h.h_u6 AS hub_u6, a.a_u6 AS auth_u6
         |FROM hh$HitsIters h JOIN aa$HitsIters a USING (id)
         |ORDER BY h.id""".stripMargin,

    // the personalized form: init and teleport base gated to the seeds
    "q_ppr" ->
      s"""WITH $jaccardPairCtes,
         |${pageRankCtes(id => s"$id % 40 = 0")}
         |SELECT id, pr_u6 FROM p$PrIters ORDER BY id""".stripMargin,

    // CC closure + PageRank + per-cluster centrality argmax
    "q_rank_best" ->
      s"""$ccClosureCtes,
         |${pageRankCtes()},
         |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
         |       FROM reach GROUP BY id),
         |rk AS (
         |  SELECT cl.doc_id, cl.cluster_id,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY coalesce(p.pr_u6, 0) DESC, cl.doc_id) AS rn
         |  FROM cl LEFT JOIN p$PrIters p ON p.id = cl.doc_id)
         |SELECT doc_id, cluster_id, (rn = 1) AS keep
         |FROM rk ORDER BY doc_id""".stripMargin,

    "q_dedup_best" ->
      // same closure; the representative is the per-cluster argmax of
      // n_chars (ties → smaller doc_id) instead of the component minimum
      s"""$ccClosureCtes,
        |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
        |       FROM reach GROUP BY id),
        |rk AS (
        |  SELECT cl.doc_id, cl.cluster_id,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY d2.n_chars DESC, cl.doc_id) AS rn
        |  FROM cl JOIN (SELECT doc_id, n_chars FROM documents
        |                WHERE doc_id < 200) d2 USING (doc_id))
        |SELECT doc_id, cluster_id, (rn = 1) AS keep
        |FROM rk ORDER BY doc_id""".stripMargin,

    "q_dedup_cosine" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                         list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c
        |  FROM u a, u b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 6) AS cosine FROM p WHERE c >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // full SemDeDup replay: centroids = vec_id 0..7 (cell id = position),
    // every row (originals + the 50 planted copies) assigned to its
    // max-cosine centroid (ties -> smaller cell), duplicates = rows with a
    // smaller-id same-cell neighbor at cosine >= 0.8
    "q_dedup_semantic" -> semDedupOracleSql,

    // the STREAMING twin computes the identical verdict set (single-file
    // fixture → one micro-batch; multi-batch == batch pinned in
    // StreamingSpec), so it shares the replay verbatim
    "q_sem_stream" -> semDedupOracleSql,
    "q_sem_sink" -> semSinkOracleSql,
    "q_sem_horizon" -> semHorizonOracleSql,

    // the full streaming curation cascade: quality → dedup-vs-curated →
    // budget, batch 0's admissions feeding batch 1's candidates
    "q_curate_stream" -> curateStreamOracleSql,

    // replay of the recursive overflow split: one centroid -> cell 0 for
    // every row; sub-centroids = the 16 smallest-id members (vec_id 0..15,
    // sub index = rank-1); reassign by max cosine (ties -> smaller sub
    // index); pair + survivor rule within each (cell, sub) leaf. One level
    // suffices at sf0.01 (max leaf 44 <= maxCell 100), which the engine's
    // depth-bounded recursion reaches and stops at, so the single-level SQL
    // replay is exact.
    "q_dedup_semantic_skew" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |corp AS (SELECT vec_id cid,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
        |subc AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sub_idx,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) sv
        |  FROM embeddings WHERE vec_id < 16),
        |assign AS (
        |  SELECT cid, sub_idx, v FROM (
        |    SELECT c.cid, s.sub_idx, c.v,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, s.sv) DESC, s.sub_idx) rn
        |    FROM corp c, subc s) WHERE rn = 1),
        |dup AS (
        |  SELECT DISTINCT b.cid AS dup_id
        |  FROM assign a JOIN assign b ON a.sub_idx = b.sub_idx AND a.cid < b.cid
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
        |SELECT a.cid AS vec_id, CAST(0 AS INT) AS cell,
        |  '0/' || a.sub_idx AS leaf, (d.dup_id IS NULL) AS keep
        |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
        |ORDER BY vec_id""".stripMargin,

    "q_ann_ivf_topk" ->
      """WITH q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings),
        |s AS (SELECT qid query_id, cid corpus_id, list_cosine_similarity(qv, cv) cosf FROM q, c),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // full IVF replay: centroids = vec_id 0..7 (cell id = vec_id), each
    // corpus vector assigned to its max-cosine centroid (ties -> smaller
    // cell), each query probes its top-2 cells, scoring restricted to
    // probed cells — the same semantics the Spark side executes over the
    // cell-partitioned store.
    "q_ann_ivf_pruned" ->
      """WITH cent AS (
        |  SELECT CAST(vec_id AS INT) cent_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |assign AS (
        |  SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |probe AS (
        |  SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |s AS (
        |  SELECT q.qid query_id, c.cid corpus_id,
        |    list_cosine_similarity(q.qv, c.v) cosf
        |  FROM q JOIN probe p ON q.qid = p.qid
        |    JOIN assign a ON a.cell = p.cell
        |    JOIN corp c ON c.cid = a.cid),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // streaming ANN ingest replay: each batch's full IVF pipeline
    // (assign, probe top-2 cells, score, top-5 cut) against exactly the
    // corpus PREFIX that batch saw (head for batch 0, head ∪ batch 0 for
    // batch 1) — compaction is pure layout, so the replay is
    // layout-independent
    // the PQ twin: per batch prefix, the full IVF-PQ replay (code argmin
    // and cell assignment shared row-local CTEs; probe/ADC per prefix)
    "q_pq_stream" -> pqStreamOracleSql,

    "q_ann_stream" -> {
      val batches = Seq(
        (0, "vec_id < 20", "vec_id >= 20 AND vec_id < 30"),
        (1, "vec_id < 30", "vec_id >= 30 AND vec_id < 40"))
      val branches = batches.map { case (b, corpusPred, queryPred) =>
        s"""corp$b AS (SELECT vec_id cid,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           |  FROM embeddings WHERE $corpusPred),
           |assign$b AS (
           |  SELECT cid, cent_id AS cell FROM (
           |    SELECT c.cid, ct.cent_id,
           |      row_number() OVER (PARTITION BY c.cid
           |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
           |          ct.cent_id) rn
           |    FROM corp$b c, cent ct) WHERE rn = 1),
           |q$b AS (SELECT vec_id qid,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
           |  FROM embeddings WHERE $queryPred),
           |probe$b AS (
           |  SELECT qid, cent_id AS cell FROM (
           |    SELECT q.qid, ct.cent_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
           |          ct.cent_id) rn
           |    FROM q$b q, cent ct) WHERE rn <= 2),
           |r$b AS (SELECT query_id, corpus_id, cosf,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
           |  FROM (
           |    SELECT q.qid query_id, c.cid corpus_id,
           |      list_cosine_similarity(q.qv, c.v) cosf
           |    FROM q$b q JOIN probe$b p ON q.qid = p.qid
           |      JOIN assign$b a ON a.cell = p.cell
           |      JOIN corp$b c ON c.cid = a.cid))""".stripMargin
      }
      val selects = batches.map { case (b, _, _) =>
        s"""SELECT CAST($b AS BIGINT) AS batch_id, query_id, corpus_id,
           |  round(cosf, 6) AS cosine, rank FROM r$b WHERE rank <= 5""".stripMargin
      }
      s"""WITH cent AS (
         |  SELECT CAST(vec_id AS INT) cent_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
         |  FROM embeddings WHERE vec_id < 8),
         |${branches.mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY batch_id, query_id, rank""".stripMargin
    },

    // recall@5 eval replay: the exact brute top-5 and the nprobe=2 pruned
    // IVF top-5 (both from their gated oracles' CTEs), left-joined per
    // (query, neighbor) — n_hits counts the overlap
    "q_ann_recall" ->
      """WITH q AS (SELECT vec_id qid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 10),
        |corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |ex AS (SELECT qid AS query_id, cid AS corpus_id FROM (
        |    SELECT q.qid, c.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) rn
        |    FROM q, corp c) WHERE rn <= 5),
        |cent AS (SELECT CAST(vec_id AS INT) cent_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |ap AS (SELECT query_id, corpus_id FROM (
        |    SELECT q.qid AS query_id, c.cid AS corpus_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) rn
        |    FROM q JOIN probe p ON q.qid = p.qid
        |      JOIN assign a ON a.cell = p.cell
        |      JOIN corp c ON c.cid = a.cid) WHERE rn <= 5),
        |hits AS (SELECT e.query_id,
        |    CAST(count(a.corpus_id) AS BIGINT) AS n_hits
        |  FROM ex e LEFT JOIN ap a
        |    ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id
        |  GROUP BY 1)
        |SELECT query_id, n_hits, n_hits * 200000 AS recall_u6
        |FROM hits ORDER BY query_id""".stripMargin,

    // full IVF-PQ replay: centroids = vec_id 0..7, codewords = sub-slices
    // of vec_id 0..15 (m=8 subspaces of 8 dims); per corpus row and
    // subspace the code is the L2-argmin codeword (direct Σ(x−y)² in dim
    // order, ties → smaller code); ADC score = Σ_s dot(q_s, word) over the
    // coded words divided by |q|·√(Σ_s |word|²) — the same arithmetic the
    // engine's LUT gather-sum kernel performs.
    "q_ann_ivfpq" ->
      """WITH corp AS (SELECT vec_id cid,
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
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // q_ann_ivfpq's replay extended by the second stage: the ADC ranking
    // cuts a top-8 pool per query, then exact cosine re-ranks the pool to
    // the final top-5 — both rankings' tie-breaks replayed
    "q_ann_ivfpq_rerank" ->
      """WITH corp AS (SELECT vec_id cid,
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
        |adc AS (SELECT sc.qid query_id, sc.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(sc.r2) > 0
        |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
        |  FROM sc JOIN q ON q.qid = sc.qid),
        |pool AS (SELECT query_id, corpus_id FROM (
        |    SELECT query_id, corpus_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY s DESC, corpus_id) rn
        |    FROM adc) WHERE rn <= 8),
        |ex AS (SELECT p.query_id, p.corpus_id,
        |    list_cosine_similarity(q.qv, c.v) cosf
        |  FROM pool p JOIN q ON q.qid = p.query_id
        |    JOIN corp c ON c.cid = p.corpus_id),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM ex)
        |SELECT query_id, corpus_id, round(cosf, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // IVFADC replay: residuals rounded to REAL mirror the engine's Float
    // subtraction bit-for-bit (a double difference of two floats is exact,
    // so CAST(diff AS REAL) IS the engine's float arithmetic); codewords
    // are member residual sub-slices, scoring adds the query⋅centroid dot
    // and normalizes by the reconstruction norm |centroid + codeword|²
    "q_ann_ivfpq_res" ->
      """WITH corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |resid AS (SELECT a.cid, a.cell,
        |    list_transform(range(1, 65),
        |      i -> CAST(CAST(c.v[i] - ct.cv[i] AS REAL) AS DOUBLE)) rv
        |  FROM assign a JOIN corp c ON c.cid = a.cid
        |    JOIN cent ct ON ct.cent_id = a.cell),
        |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
        |cw AS (SELECT s.sub, CAST(r.cid AS INT) j,
        |    r.rv[s.sub*8+1 : s.sub*8+8] wv
        |  FROM resid r, subs s WHERE r.cid < 16),
        |dist AS (SELECT r.cid, w.sub, w.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (r.rv[w.sub*8+i] - w.wv[i]) * (r.rv[w.sub*8+i] - w.wv[i]))) d
        |  FROM resid r, cw w),
        |codes AS (SELECT cid, sub, j FROM (
        |    SELECT cid, sub, j,
        |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
        |    FROM dist) WHERE rn = 1),
        |r2t AS (SELECT cd.cid,
        |    sum(list_sum(list_transform(range(1, 9),
        |      i -> (ct.cv[cd.sub*8+i] + w.wv[i]) * (ct.cv[cd.sub*8+i] + w.wv[i])))) r2
        |  FROM codes cd JOIN assign a ON a.cid = cd.cid
        |    JOIN cent ct ON ct.cent_id = a.cell
        |    JOIN cw w ON w.sub = cd.sub AND w.j = cd.j
        |  GROUP BY cd.cid),
        |q AS (SELECT cid qid, v qv,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
        |  FROM corp WHERE cid < 3),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |qc AS (SELECT q.qid, p.cell, list_dot_product(q.qv, ct.cv) qcdot
        |  FROM probe p JOIN q ON q.qid = p.qid
        |    JOIN cent ct ON ct.cent_id = p.cell),
        |elig AS (SELECT p.qid, a.cid, a.cell FROM probe p JOIN assign a USING (cell)),
        |contrib AS (SELECT e.qid, e.cid,
        |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s
        |  FROM elig e JOIN q ON q.qid = e.qid
        |    JOIN codes cd ON cd.cid = e.cid
        |    JOIN cw w ON w.sub = cd.sub AND w.j = cd.j),
        |nsum AS (SELECT qid, cid, sum(num_s) num FROM contrib GROUP BY 1, 2),
        |scored AS (SELECT n.qid query_id, n.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(r.r2) > 0
        |      THEN (k.qcdot + n.num) / (q.qn * sqrt(r.r2)) ELSE 0.0 END s
        |  FROM nsum n JOIN q ON q.qid = n.qid
        |    JOIN r2t r ON r.cid = n.cid
        |    JOIN elig e ON e.qid = n.qid AND e.cid = n.cid
        |    JOIN qc k ON k.qid = n.qid AND k.cell = e.cell),
        |r AS (SELECT query_id, corpus_id, s,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
        |  FROM scored)
        |SELECT query_id, corpus_id, round(s, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_lang_id" ->
      """WITH tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(lower(text), '[^\p{L}]+') AS toks
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von'], t))) AS c_de,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS c_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una','en','por'], t))) AS c_es,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','des','dans','pour'], t))) AS c_fr
        |  FROM tok)
        |SELECT doc_id,
        |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |       WHEN greatest(c_de,c_en,c_es,c_fr) = 0 THEN 'und'
        |       WHEN c_de = greatest(c_de,c_en,c_es,c_fr) THEN 'de'
        |       WHEN c_en = greatest(c_de,c_en,c_es,c_fr) THEN 'en'
        |       WHEN c_es = greatest(c_de,c_en,c_es,c_fr) THEN 'es'
        |       WHEN c_fr = greatest(c_de,c_en,c_es,c_fr) THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |FROM cnt ORDER BY doc_id""".stripMargin,

    "q_curate_pipeline" ->
      // each pipeline stage replayed over DuckDB's file-order row ids:
      // contamination semi-join → mask re-index → first-occurrence dedup
      // re-index → md5-ranked per-lang half sample → template concat
      """WITH base AS (
        |  SELECT doc_id, text, lang, row_number() OVER () - 1 AS rid
        |  FROM documents),
        |tw AS (SELECT rid, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |  x -> length(x) > 0) AS ws FROM base),
        |gr AS (SELECT rid, list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
        |  i -> array_to_string(ws[i:i+4], ' ')) AS gs FROM tw),
        |bg AS (SELECT DISTINCT g FROM
        |  (SELECT unnest(gs) AS g FROM gr WHERE rid % 20 = 0)),
        |cont AS (SELECT DISTINCT rid FROM
        |  (SELECT rid, unnest(gs) AS g FROM gr) t JOIN bg USING (g)),
        |clean AS (
        |  SELECT doc_id, text, lang, row_number() OVER (ORDER BY rid) - 1 AS ridx
        |  FROM base WHERE rid NOT IN (SELECT rid FROM cont)),
        |firsts AS (
        |  SELECT doc_id, text, lang, ridx,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY ridx) AS occ
        |  FROM clean),
        |dedup AS (
        |  SELECT doc_id, text, lang, row_number() OVER (ORDER BY ridx) - 1 AS didx
        |  FROM firsts WHERE occ = 1),
        |samp AS (
        |  SELECT doc_id, text, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(didx AS VARCHAR)), didx) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM dedup)
        |SELECT doc_id, '[' || lang || '] ' || text AS rendered
        |FROM samp WHERE rk <= floor(n * 0.5) ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
        |    i -> array_to_string(ws[i:i+4], ' ')) AS gs FROM w),
        |b AS (SELECT DISTINCT g FROM
        |  (SELECT unnest(gs) AS g FROM g WHERE doc_id % 20 = 0)),
        |tg AS (SELECT DISTINCT doc_id, g FROM
        |  (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 20 <> 0)),
        |ov AS (SELECT tg.doc_id, count(*) AS n FROM tg JOIN b USING (g)
        |       GROUP BY tg.doc_id)
        |SELECT w.doc_id,
        |  CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap_grams,
        |  coalesce(ov.n, 0) >= 1 AS is_contaminated
        |FROM w LEFT JOIN ov ON w.doc_id = ov.doc_id
        |WHERE w.doc_id % 20 <> 0 ORDER BY w.doc_id""".stripMargin,

    "q_dedup_segments" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(ws[i*8+1 : least((i+1)*8, len(ws))], ' ') AS seg
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        |        FROM w)),
        |k AS (SELECT doc_id, seg_idx, seg,
        |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |      FROM s),
        |r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
        |      FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(r.dedup_text, '') AS dedup_text
        |FROM w LEFT JOIN r ON w.doc_id = r.doc_id ORDER BY w.doc_id""".stripMargin,

    "q_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR)
        |          || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |          || '.7 or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9][0-9-]{6,14}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_gopher_rules" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CASE WHEN len(ws) > 0
        |    THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws)
        |    ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN len(ws) > 0
        |    THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
        |    ELSE 0.0 END AS unique_frac,
        |  list_has_any(ws, ['the','a','of','to','and']) AS ok_stopword
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, unique_frac,
        |  (n_words >= 20 AND n_words <= 60) AS ok_word_count,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 6.0) AS ok_mean_word_len,
        |  (unique_frac >= 0.3) AS ok_unique_frac,
        |  ok_stopword,
        |  (n_words >= 20 AND n_words <= 60 AND mean_word_len >= 3.0
        |   AND mean_word_len <= 6.0 AND unique_frac >= 0.3 AND ok_stopword) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rk <= floor(n * 0.3 + 1e-9) ORDER BY doc_id""".stripMargin,

    "q_mixture_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0 ELSE 0.25 END AS frac
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rk <= floor(n * frac + 1e-9) ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" -> packSequencesOracleSql,

    // spec twin: same windows, keyed by positional identity
    "q_chunk_graph" ->
      """WITH d AS (SELECT text,
        |  CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
        |  FROM documents),
        |w AS (SELECT row_idx,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM d),
        |c AS (SELECT row_idx, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT row_idx, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c)
        |SELECT row_idx, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(32, n - i*24) AS BIGINT) AS n_words
        |FROM x ORDER BY row_idx, chunk_idx""".stripMargin,

    "q_chunk" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM documents),
        |c AS (SELECT doc_id, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT doc_id, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(32, n - i*24) AS BIGINT) AS n_words
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    // tokenize → count → pack: the BPE chain's final word table gives
    // every word's learned tokenization length; per-doc sums feed the
    // pack prefix-sum replay at seqLen=256
    "q_train_export" -> (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |cnt AS (SELECT d.doc_id, SUM(k.n_tok) AS s
        |        FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |tok AS (SELECT doc_id, CAST(coalesce(c.s, 0) AS BIGINT) AS n_tokens
        |        FROM documents LEFT JOIN cnt c USING (doc_id)),
        |ps AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 256.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |       - CAST(floor(token_offset / 256.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM ps ORDER BY doc_id""".stripMargin),

    // fertility replay: the same merge chain + per-word token lengths,
    // aggregated per language against the whitespace word counts
    "q_bpe_fertility" -> (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |dt AS (SELECT d.doc_id, SUM(k.n_tok) AS t
        |       FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |wc AS (SELECT doc_id, CAST(len(list_filter(
        |         regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
        |         x -> length(x) > 0)) AS BIGINT) AS w
        |       FROM documents),
        |pl AS (SELECT lang,
        |         CAST(SUM(coalesce(dt.t, 0)) AS BIGINT) AS tokens,
        |         CAST(SUM(wc.w) AS BIGINT) AS words
        |       FROM documents dd
        |       LEFT JOIN dt ON dd.doc_id = dt.doc_id
        |       JOIN wc ON dd.doc_id = wc.doc_id
        |       GROUP BY 1)
        |SELECT lang, tokens, words,
        |  CASE WHEN words > 0 THEN tokens * 1000000 // words END
        |    AS fertility_u6
        |FROM pl ORDER BY lang""".stripMargin),

    "q_dedup_lines" ->
      """WITH d0 AS (SELECT doc_id,
        |  text || chr(10) || 'COPYRIGHT BOILERPLATE FOOTER'
        |       || chr(10) || 'unique-' || doc_id AS text
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
        |        parts[CAST(i AS INT)] AS line
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        |            FROM d0),
        |           LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) u),
        |c AS (SELECT md5(trim(line)) AS h, COUNT(*) AS n FROM l
        |      WHERE length(trim(line)) > 0 GROUP BY 1),
        |k AS (SELECT l.doc_id, l.pos, l.line,
        |        (c.h IS NOT NULL AND length(trim(l.line)) > 0) AS dropped
        |      FROM l LEFT JOIN (SELECT h FROM c WHERE n > 10) c
        |        ON md5(trim(l.line)) = c.h)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
        |    chr(10) ORDER BY pos), '') AS text_clean,
        |  CAST(coalesce(SUM(CASE WHEN dropped THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_dropped_lines
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
        |nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM old WHERE doc_id % 17 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM old WHERE doc_id < 300),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |        o.doc_id IS NOT NULL AS op, n.doc_id IS NOT NULL AS np,
        |        md5(o.text) AS od, md5(n.text) AS nd
        |      FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT op THEN 'added' WHEN NOT np THEN 'removed'
        |    WHEN od IS NOT DISTINCT FROM nd THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,

    "q_epoch_shuffle" ->
      """WITH e AS (SELECT unnest(range(1, 3)) AS epoch),
        |h AS (SELECT epoch, doc_id,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||epoch||chr(31)||
        |          CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS eh
        |      FROM documents, e),
        |s AS (SELECT epoch, doc_id, eh % 8 AS shard,
        |        CAST(row_number() OVER (PARTITION BY epoch, eh % 8
        |          ORDER BY eh, doc_id) AS BIGINT) - 1 AS pos
        |      FROM h)
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, shard, pos
        |FROM s ORDER BY epoch, shard, pos""".stripMargin,

    // sharded-export replay: BPE merges + per-word token lengths (the
    // q_train_export chain), then the epoch-1 shard hash and BOTH
    // per-shard prefix sums (row rank + token offset), seq range at 256
    "q_shard_export" -> (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |cntx AS (SELECT d.doc_id, SUM(k.n_tok) AS s
        |        FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |tokx AS (SELECT doc_id, CAST(coalesce(c.s, 0) AS BIGINT) AS n_tokens
        |        FROM documents LEFT JOIN cntx c USING (doc_id)),
        |eh AS (SELECT doc_id, n_tokens,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||'1'||chr(31)||
        |          CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS h
        |      FROM tokx),
        |sp AS (SELECT doc_id, n_tokens, h % 4 AS shard,
        |        CAST(row_number() OVER (PARTITION BY h % 4
        |          ORDER BY h, doc_id) AS BIGINT) - 1 AS pos,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 4
        |          ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS token_offset
        |      FROM eh)
        |SELECT doc_id, shard, pos, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 256.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |       - CAST(floor(token_offset / 256.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM sp ORDER BY shard, pos""".stripMargin),

    // identical layout contract through the STREAMING path
    "q_pack_stream" -> packSequencesOracleSql,

    "q_repetition" ->
      """WITH lines AS (
        |  SELECT doc_id, list_filter(
        |    list_transform(string_split(text, chr(10)), l -> trim(l)),
        |    l -> length(l) > 0) AS ls
        |  FROM documents),
        |lf AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CASE WHEN len(ls) > 0
        |    THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
        |    ELSE 0.0 END AS dup_line_frac
        |  FROM lines),
        |ws AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    w -> length(w) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i + 1])
        |      ELSE [] END AS gs
        |  FROM ws),
        |gx AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM gx GROUP BY doc_id, g),
        |gm AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_grams
        |  FROM gc GROUP BY doc_id)
        |SELECT l.doc_id, l.n_lines, l.dup_line_frac,
        |  CAST(coalesce(gm.top_cnt, 0) AS BIGINT) AS top_2gram_count,
        |  CASE WHEN coalesce(gm.n_grams, 0) > 0
        |    THEN CAST(gm.top_cnt AS DOUBLE) / gm.n_grams
        |    ELSE 0.0 END AS top_2gram_frac
        |FROM lf l LEFT JOIN gm ON l.doc_id = gm.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    "q_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings),
        |s AS (SELECT qid query_id, cid corpus_id, list_cosine_similarity(qv, cv) cosf FROM q, c),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // contrastive mining: same cosine replay, duplicates filtered out
    "q_hard_negatives" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM u),
        |s AS (SELECT qid query_id, cid corpus_id,
        |        list_cosine_similarity(qv, cv) cosf FROM q, c),
        |f AS (SELECT * FROM s WHERE cosf < 0.95 AND query_id != corpus_id),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM f)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |CASE WHEN length(trim(regexp_replace(regexp_replace(regexp_replace(text,
        |       '([a-zA-Z])([0-9])', '\1 \2', 'g'), '([0-9])([a-zA-Z])', '\1 \2', 'g'),
        |       '([a-z])([A-Z])', '\1 \2', 'g'))) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(regexp_replace(regexp_replace(regexp_replace(text,
        |       '([a-zA-Z])([0-9])', '\1 \2', 'g'), '([0-9])([a-zA-Z])', '\1 \2', 'g'),
        |       '([a-z])([A-Z])', '\1 \2', 'g')), '\s+')) END AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id,
        |length(text) AS n_chars,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS upper_ratio,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
        |round(
        |  (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 5 AND 100000
        |        THEN 1.0 ELSE 0.3 END)
        |  * (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 2.0, 1.0))
        |  * (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 4.0, 1.0)),
        |  6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // 64-bit wrapping polynomial hash replayed in SQL: HUGEINT arithmetic
    // mod 2^64, then two's-complement back to BIGINT. h*1000003 < 2^84 fits
    // HUGEINT; BMP-only data keeps JVM UTF-16 units == codepoints.
    "q_fingerprint_rolling" ->
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
        |        list_transform(range(length(norm)),
        |          i -> CAST(unicode(substr(norm, CAST(i AS INT)+1, 1)) AS HUGEINT))),
        |      (h, c) -> (h * 1000003 + c) % 18446744073709551616) AS uh
        |  FROM n)
        |SELECT doc_id,
        |  CAST(uh - CASE WHEN uh >= 9223372036854775808
        |                 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS fp_rolling
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash_planted" ->
      """SELECT i AS id_a, i + 1000 AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM range(100) t(i) ORDER BY id_a, id_b""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) >= 3)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |idf AS (SELECT term, ln((n.n + 1.0) / (COUNT(*) + 1.0)) AS idf
        |        FROM tf, n GROUP BY term, n.n),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, idf.idf,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, tf.term ASC) AS BIGINT) AS rank
        |  FROM tf JOIN idf USING (term))
        |SELECT doc_id, rank, term, tf, round(tf * idf, 6) AS tfidf
        |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // Full fit+score replay of ext.LangModel (bigram stupid backoff, fit on
    // even doc_ids). Every per-token log-prob is ONE correctly-rounded
    // division (+ one multiply on the backoff arm) then `ln`, quantized to
    // integer micro-nats BEFORE the per-doc sum — so the sum is order-free
    // integer arithmetic and the row hashes bit-for-bit. The CAST(0.4 AS
    // DOUBLE) is load-bearing (bare 0.4 is DECIMAL in DuckDB); `1e6` is
    // already DOUBLE. Constants come from LangModel so they cannot drift.
    "q_lm_perplexity" ->
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id,
           |  coalesce(d.n_tokens, 0) AS n_tokens,
           |  coalesce(d.logp_u6, 0) AS logp_u6,
           |  $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin),

    "q_group_split" ->
      """WITH g AS (SELECT DISTINCT source FROM documents),
        |h AS (SELECT source,
        |        CAST('0x' || substr(md5('gsplit' || chr(31) || '19190115'
        |          || chr(31) || source), 1, 15) AS BIGINT) AS hh
        |      FROM g),
        |r AS (SELECT source,
        |        row_number() OVER (ORDER BY hh, source) - 1 AS rk FROM h),
        |n AS (SELECT count(*) AS ng FROM g)
        |SELECT d.doc_id, d.source, (r.rk * 3 < 1 * n.ng) AS is_test
        |FROM documents d JOIN r USING (source) CROSS JOIN n
        |ORDER BY d.doc_id""".stripMargin,

    "q_len_batches" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bucket FROM w),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1 AS rk
        |      FROM b),
        |x AS (SELECT doc_id, n_tokens, bucket,
        |        rk // 8 AS batch_idx, rk % 8 AS pos_in_batch FROM r),
        |m AS (SELECT bucket, batch_idx, MAX(n_tokens) AS batch_max
        |      FROM x GROUP BY 1, 2)
        |SELECT x.doc_id, x.n_tokens, CAST(x.bucket AS BIGINT) AS bucket,
        |  CAST(x.batch_idx AS BIGINT) AS batch_idx,
        |  CAST(x.pos_in_batch AS BIGINT) AS pos_in_batch,
        |  m.batch_max, m.batch_max - x.n_tokens AS pad
        |FROM x JOIN m USING (bucket, batch_idx)
        |ORDER BY doc_id""".stripMargin,

    // durable online-LM sink: both legs fit on the EVEN docs (batch 0's
    // self-fit == the standing model batch 1 scores against), each leg
    // restricted to its batch's documents
    "q_lm_sink" -> {
      def leg(b: Int, where: String) =
        "(" + lmPerplexitySqlCtesWith("SELECT * FROM p WHERE doc_id % 2 = 0") +
          s"""SELECT CAST($b AS BIGINT) AS batch_id, docs.doc_id,
             |  coalesce(d.n_tokens, 0) AS n_tokens,
             |  coalesce(d.logp_u6, 0) AS logp_u6,
             |  $lmPplExprSql AS ppl
             |FROM (SELECT doc_id FROM documents WHERE $where) docs
             |LEFT JOIN d USING (doc_id))""".stripMargin
      s"""SELECT * FROM (
         |${leg(0, "doc_id % 2 = 0")}
         |UNION ALL
         |${leg(1, "doc_id % 2 = 1")})
         |ORDER BY batch_id, doc_id""".stripMargin
    },

    // temperature sampling: quota table in HUGEINT arithmetic (one sqrt
    // weight rounding — sqrt IS correctly rounded, so wq matches the
    // engine bit-for-bit), then the stratified md5-rank cut
    "q_temp_sample" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |  FROM c),
        |t AS (SELECT SUM(wq) AS totw, SUM(n) AS nn FROM w),
        |q AS (
        |  SELECT lang, least(n,
        |    CAST(CAST(floor(0.5 * CAST(nn AS DOUBLE) + 1e-9) AS HUGEINT)
        |      * wq // totw AS BIGINT)) AS quota
        |  FROM w CROSS JOIN t),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
        |WHERE rk <= quota ORDER BY doc_id""".stripMargin,

    // CCNet buckets: the q_lm_perplexity scoring replay + per-language
    // perplexity rank (unscoreable docs to +∞ → tail) + the exact-thirds
    // cut ⌊3r/cnt⌋
    "q_ccnet" ->
      (lmPerplexitySqlCtes +
        s""",
           |scored AS (
           |  SELECT docs.doc_id, docs.lang,
           |    coalesce(d.n_tokens, 0) AS n_tokens,
           |    coalesce(d.logp_u6, 0) AS logp_u6,
           |    $lmPplExprSql AS ppl
           |  FROM documents docs LEFT JOIN d USING (doc_id)),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |      ORDER BY coalesce(ppl, 'infinity'::DOUBLE), doc_id) - 1 AS r,
           |    count(*) OVER (PARTITION BY lang) AS cnt
           |  FROM scored)
           |SELECT doc_id, lang, n_tokens, logp_u6, ppl,
           |  (['head','middle','tail'])[CAST(floor(r * 3 / cnt) AS INT) + 1]
           |    AS bucket
           |FROM rk ORDER BY doc_id""".stripMargin),

    // spec twin: reference model fit on the ENGLISH slice (CCNet's
    // target-domain shape), ids = file-order row indices (== doc_id)
    "q_ccnet_graph" ->
      (lmPerplexitySqlCtesWith("SELECT p.* FROM p " +
        "JOIN documents dd USING (doc_id) WHERE dd.lang = 'en'") +
        s""",
           |scored AS (
           |  SELECT docs.doc_id, docs.lang,
           |    coalesce(d.n_tokens, 0) AS n_tokens,
           |    coalesce(d.logp_u6, 0) AS logp_u6,
           |    $lmPplExprSql AS ppl
           |  FROM documents docs LEFT JOIN d USING (doc_id)),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |      ORDER BY coalesce(ppl, 'infinity'::DOUBLE), doc_id) - 1 AS r,
           |    count(*) OVER (PARTITION BY lang) AS cnt
           |  FROM scored)
           |SELECT doc_id AS id, lang, n_tokens, logp_u6, ppl,
           |  (['head','middle','tail'])[CAST(floor(r * 3 / cnt) AS INT) + 1]
           |    AS bucket
           |FROM rk ORDER BY id""".stripMargin),

    // trigram replay: same quantized-arm discipline as the bigram oracle,
    // one extra context column and one extra backoff order
    "q_lm_trigram" -> {
      val bos = LangModel.Bos
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |p AS (
         |  SELECT doc_id, i AS pos,
         |    CASE WHEN i <= 1 THEN '$bos' ELSE ws[i - 1] END AS u,
         |    CASE WHEN i = 0 THEN '$bos' ELSE ws[i] END AS v,
         |    ws[i + 1] AS w2
         |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w)),
         |fitp AS (SELECT * FROM p WHERE doc_id % 2 = 0),
         |tri AS (SELECT u, v, w2, count(*) AS c3 FROM fitp GROUP BY 1, 2, 3),
         |bctx AS (SELECT u, v, count(*) AS c2c FROM fitp GROUP BY 1, 2),
         |bi AS (SELECT v, w2, count(*) AS c2 FROM fitp GROUP BY 1, 2),
         |uctx AS (SELECT v, count(*) AS c1c FROM fitp GROUP BY 1),
         |uni AS (SELECT w2, count(*) AS c1 FROM fitp GROUP BY 1),
         |tot AS (SELECT count(*) AS total_tokens FROM fitp),
         |sc AS (
         |  SELECT p.doc_id,
         |    CAST(round(CASE
         |      WHEN tri.c3 IS NOT NULL AND bctx.c2c IS NOT NULL
         |        THEN ln(CAST(tri.c3 AS DOUBLE) / CAST(bctx.c2c AS DOUBLE))
         |      WHEN bi.c2 IS NOT NULL AND uctx.c1c IS NOT NULL
         |        THEN ln(CAST(${LangModel.Backoff} AS DOUBLE) *
         |          (CAST(bi.c2 AS DOUBLE) / CAST(uctx.c1c AS DOUBLE)))
         |      ELSE ln(CAST(${LangModel.Backoff} AS DOUBLE) *
         |        CAST(${LangModel.Backoff} AS DOUBLE) *
         |        (CAST(coalesce(uni.c1, 1) AS DOUBLE) /
         |         CAST(tot.total_tokens AS DOUBLE)))
         |      END * CAST(${LangModel.Quant} AS DOUBLE)) AS BIGINT) AS qlp
         |  FROM p
         |  LEFT JOIN tri ON tri.u = p.u AND tri.v = p.v AND tri.w2 = p.w2
         |  LEFT JOIN bctx ON bctx.u = p.u AND bctx.v = p.v
         |  LEFT JOIN bi ON bi.v = p.v AND bi.w2 = p.w2
         |  LEFT JOIN uctx ON uctx.v = p.v
         |  LEFT JOIN uni ON uni.w2 = p.w2
         |  CROSS JOIN tot),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(sum(qlp) AS BIGINT) AS logp_u6 FROM sc GROUP BY 1)
         |SELECT docs.doc_id,
         |  coalesce(d.n_tokens, 0) AS n_tokens,
         |  coalesce(d.logp_u6, 0) AS logp_u6,
         |  $lmPplExprSql AS ppl
         |FROM documents docs LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // the streaming twin scores the same rows against the same even-doc_id
    // model with no cross-batch state — SAME oracle as the batch query
    "q_lm_stream" ->
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id,
           |  coalesce(d.n_tokens, 0) AS n_tokens,
           |  coalesce(d.logp_u6, 0) AS logp_u6,
           |  $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin),

    // the spec-layer twin: TakeRowsOp(skip=2) selects the even doc_ids
    // (file order == doc_id), so the fit corpus is identical; output is
    // the per-row score column (row_idx, ppl)
    "q_lm_graph" ->
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id AS row_idx, $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY row_idx""".stripMargin),

    // ExactSubstr replay: window STRINGS stand in for the engine's
    // xxhash64 of the word slice (identical decisions unless a 64-bit
    // collision, the q_dedup_segments precedent); first occurrence =
    // row_number over (doc_id, pos), coverage = any duplicate start s with
    // s <= p < s+k, reassembly whitespace-normalized
    "q_dedup_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT 200000, 'uq1 uq2 uq3 uq4 uq5 ' || text
        |    FROM documents WHERE doc_id = 0),
        |w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM corpus),
        |win AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i + 1 : i + 8], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |rn AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |st AS (SELECT doc_id, list(pos ORDER BY pos) AS ss
        |       FROM rn WHERE rn > 1 GROUP BY doc_id),
        |kept AS (
        |  SELECT w.doc_id, ws,
        |    CASE WHEN st.ss IS NULL THEN ws
        |      ELSE list_filter(ws, (t, p) -> len(list_filter(st.ss,
        |        s -> s <= p - 1 AND p - 1 < s + 8)) = 0) END AS kw
        |  FROM w LEFT JOIN st USING (doc_id))
        |SELECT doc_id,
        |  coalesce(array_to_string(kw, ' '), '') AS dedup_text,
        |  CAST(len(ws) - len(kw) AS BIGINT) AS n_dropped_tokens
        |FROM kept ORDER BY doc_id""".stripMargin,

    // hashed-TF embedding replay: the signed bucket-count vectors are
    // integer-exact, so the rebuilt DOUBLE lists equal the engine's floats
    // bit for bit; ranking replays via the same cosine + round(6) contract
    // as q_ann_brute_topk (sign bit 59 and bucket bits are disjoint)
    "q_hash_embed_ann" -> {
      val dim = 64
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |e AS (
         |  SELECT doc_id, list_transform(ws, t ->
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w),
         |v AS (
         |  SELECT doc_id, list_transform(range($dim), d ->
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN h % $dim = d
         |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
         |        ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b) AS DOUBLE)) AS vv
         |  FROM e),
         |q AS (SELECT doc_id qid, vv qv FROM v WHERE doc_id < 3),
         |s AS (
         |  SELECT qid query_id, v.doc_id corpus_id,
         |    CASE WHEN sqrt(list_dot_product(qv, qv)) *
         |              sqrt(list_dot_product(vv, vv)) > 0
         |      THEN list_dot_product(qv, vv) /
         |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv)))
         |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
         |  FROM q, v),
         |r AS (SELECT query_id, corpus_id, cosf,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank FROM s)
         |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // BM25 replay: same decimal literals combined with the same IEEE ops
    // (never pre-evaluated constants), fixed term order in the score fold,
    // ranking on the quantized integer.
    "q_bm25" -> bm25OracleSql("doc_id"),

    // MRR + nDCG@10 replay: the q_bm25 scoring CTEs give the ranking,
    // gain = tf of the head term from the same tokenized `w` table, DCG
    // weights are the SAME integer literals the Spark plan embeds
    // (DcgWeightsU6), ideal = corpus-wide top-10 gains
    "q_retrieval_eval" -> {
      val wcases = DcgWeightsU6.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
      s"""WITH ${bm25ScCtes(RrfTerms)},
         |tk AS (SELECT doc_id, rank FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rank FROM sc)
         |  WHERE rank <= 10),
         |g AS (SELECT doc_id,
         |    CAST(len(list_filter(ws, t -> t = '${RrfTerms.head}'))
         |      AS BIGINT) AS gain FROM w),
         |sc2 AS (SELECT tk.rank, g.gain,
         |    g.gain * (CASE tk.rank $wcases END) AS contrib_u6,
         |    CASE WHEN g.gain > 0 THEN tk.rank END AS rel_rank
         |  FROM tk JOIN g USING (doc_id)),
         |ideal AS (SELECT doc_id, gain, CAST(row_number() OVER (
         |    ORDER BY gain DESC, doc_id) AS BIGINT) AS rk FROM g),
         |idcg AS (SELECT CAST(SUM(gain * (CASE rk $wcases END)) AS BIGINT)
         |    AS idcg_u6 FROM ideal WHERE rk <= 10),
         |m AS (SELECT CAST(COALESCE(SUM(contrib_u6), 0) AS BIGINT) AS dcg_u6,
         |    MIN(rel_rank) AS first_rel,
         |    CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel
         |  FROM sc2)
         |SELECT CAST(10 AS BIGINT) AS k, n_rel, dcg_u6, idcg_u6,
         |  CAST(CASE WHEN idcg_u6 > 0 THEN dcg_u6 * 1000000 // idcg_u6
         |       ELSE 0 END AS BIGINT) AS ndcg_u6,
         |  CAST(CASE WHEN first_rel IS NULL THEN 0
         |       ELSE 1000000 // first_rel END AS BIGINT) AS mrr_u6
         |FROM m CROSS JOIN idcg""".stripMargin
    },

    // doc-level maxP: the passage pool's per-doc max, re-ranked — the
    // pool cut (top-200 passages, total order) replayed exactly
    "q_chunk_maxp" ->
      s"""WITH ${bm25ScCtes(RrfTerms, w0Body = bm25ChunksW0)},
         |pool AS (SELECT doc_id, score_u6,
         |           row_number() OVER (ORDER BY score_u6 DESC, doc_id) AS rn
         |         FROM sc),
         |top AS (SELECT doc_id // 10000 AS doc_id,
         |          MAX(score_u6) AS best_u6
         |        FROM pool WHERE rn <= 200 GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY best_u6 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, best_u6
         |FROM top ORDER BY best_u6 DESC, doc_id LIMIT 10""".stripMargin,

    // dense passage retrieval replay: chunk windows → hashed-TF vectors →
    // centroid assignment (first chunk of docs 0..7, cell = positional id,
    // cos = dot/sqrt(na·nb), ties → smaller cell) → top-2 probe → scoring
    // restricted to probed cells with the topK contract (rank on unrounded
    // cos, tie → smaller corpus id, output rounded) → top-40 pool →
    // per-doc max → top-5 docs. nprobe=2 < nlist=8 keeps true IVF
    // semantics in the check, exactly like q_ann_ivf_pruned.
    "q_chunk_ann" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM documents),
        |c AS (SELECT doc_id, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT doc_id, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c),
        |ch AS (SELECT doc_id * 10000 + i AS cid,
        |         l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)] AS ws
        |       FROM x),
        |e AS (SELECT cid, list_transform(ws, t ->
        |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |      FROM ch),
        |v AS (SELECT cid, list_transform(range(64), d ->
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(hs, h -> CASE WHEN h % 64 = d
        |            THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
        |            ELSE CAST(0 AS BIGINT) END)),
        |          (a, b) -> a + b) AS DOUBLE)) AS vv
        |      FROM e),
        |vn AS (SELECT cid, vv, list_dot_product(vv, vv) AS n2 FROM v),
        |cent AS (SELECT CAST(cid // 10000 AS INT) AS cent_id, vv AS cv,
        |           n2 AS cn2
        |         FROM vn WHERE cid % 10000 = 0 AND cid < 80000),
        |assign AS (SELECT cid, cell FROM (
        |    SELECT vn.cid, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY vn.cid ORDER BY
        |        CASE WHEN vn.n2 * ct.cn2 > 0
        |          THEN list_dot_product(vn.vv, ct.cv) / sqrt(vn.n2 * ct.cn2)
        |          ELSE 0.0 END DESC, ct.cent_id) AS rn
        |    FROM vn, cent ct) WHERE rn = 1),
        |q AS (SELECT cid AS qid, vv AS qv, n2 AS qn2 FROM vn
        |      WHERE cid IN (100000, 110000, 120000)),
        |probe AS (SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        CASE WHEN q.qn2 * ct.cn2 > 0
        |          THEN list_dot_product(q.qv, ct.cv) / sqrt(q.qn2 * ct.cn2)
        |          ELSE 0.0 END DESC, ct.cent_id) AS rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |s AS (SELECT q.qid AS query_id, vn.cid AS corpus_id,
        |        CASE WHEN sqrt(q.qn2) * sqrt(vn.n2) > 0
        |          THEN list_dot_product(q.qv, vn.vv)
        |               / (sqrt(q.qn2) * sqrt(vn.n2))
        |          ELSE 0.0 END AS cosf
        |      FROM q JOIN probe p ON q.qid = p.qid
        |        JOIN assign a ON a.cell = p.cell
        |        JOIN vn ON vn.cid = a.cid),
        |pool AS (SELECT query_id, corpus_id // 10000 AS doc_id,
        |           round(cosf, 6) AS cosine,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY cosf DESC, corpus_id) AS rn
        |         FROM s),
        |m AS (SELECT query_id, doc_id, max(cosine) AS best_cos
        |      FROM pool WHERE rn <= 40 GROUP BY 1, 2)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY best_cos DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, best_cos
        |FROM m QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // passage retrieval over the chunked corpus: the same BM25 replay
    // with the chunk windows as w0 and the composite id decomposed back
    "q_chunk_bm25" ->
      s"""WITH ${bm25ScCtes(RrfTerms, w0Body = bm25ChunksW0)}
         |SELECT CAST(row_number() OVER (ORDER BY score_u6 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id // 10000 AS doc_id, doc_id % 10000 AS chunk_idx,
         |  score_u6
         |FROM sc ORDER BY score_u6 DESC, doc_id // 10000, chunk_idx
         |LIMIT 10""".stripMargin,

    // phrase replay: the same contiguous-window count over the tokens
    "q_phrase" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT doc_id, n_hits FROM (
         |  SELECT doc_id, ${phraseCountSql(PhraseTerms)} AS n_hits FROM w)
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,

    // phrase-constrained BM25: stats and ranking over the filtered corpus
    "q_phrase_rank" -> bm25OracleSql("doc_id",
      s"WHERE ${phraseCountSql(PhraseTerms)} > 0"),

    // the positional-index probe must equal the scan-based phrase count
    "q_phrase_indexed" ->
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT doc_id, n_hits FROM (
         |  SELECT doc_id, ${phraseCountSql(PhraseTerms)} AS n_hits FROM w)
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin,

    // batch phrase probe: one UNION ALL branch per phrase, each replaying
    // the contiguous-window scan count — the absent-term phrase's branch
    // yields no rows by construction
    "q_phrase_multi" -> {
      val branches = MultiPhrases.map { case (pid, p) =>
        s"""SELECT CAST($pid AS BIGINT) AS phrase_id, doc_id,
           |  ${phraseCountSql(p)} AS n_hits FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT phrase_id, doc_id, n_hits FROM ($branches)
         |WHERE n_hits > 0 ORDER BY phrase_id, doc_id""".stripMargin
    },

    // the stored-index probe must equal the corpus scan bit for bit
    "q_bm25_indexed" -> bm25OracleSql("doc_id"),

    // streamed ingest == batch build == corpus scan
    "q_bm25_stream" -> bm25OracleSql("doc_id"),

    // append → append → compact == corpus scan (compaction is pure layout)
    "q_bm25_compact" -> bm25OracleSql("doc_id"),

    // batch-BM25 replay: union stats row, per-query fold branches
    "q_bm25_multi" -> bm25MultiOracleSql(MultiQueries, 10, "doc_id"),

    // spec twin: ids are file-order row indices == doc_id
    "q_multi_graph" -> bm25MultiOracleSql(MultiQueries, 10, "doc_id AS id"),

    // batch-RRF replay: per-query legs + per-query fusion windows
    "q_rrf_multi" -> rrfMultiOracleSql,

    // per-query hybrid eval replay: fused ranking CTEs from q_rrf_multi,
    // head-term tf gains, grouped MRR/nDCG@10 with the shared integer
    // DCG literals — one metrics row per eval query
    "q_rrf_eval" -> rrfEvalOracleSql,

    // RRF hybrid replay: both legs + the pico-quantized fusion
    "q_rrf" -> rrfOracleSql("doc_id"),

    // fully-served hybrid replay: bm25 top-20 (the index probe equals the
    // scan) fused with the FULL IVF replay at nprobe=2 — assignment,
    // probe pruning, scoring, per-leg cuts, then the same fusion
    "q_rrf_indexed" ->
      s"""WITH ${bm25ScCtes(RrfTerms)},
         |bt AS (
         |  SELECT doc_id, br FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM sc)
         |  WHERE br <= $RrfPoolK),
         |cent AS (
         |  SELECT CAST(vec_id AS INT) cent_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
         |  FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
         |  FROM embeddings),
         |assign AS (
         |  SELECT cid, cent_id AS cell FROM (
         |    SELECT c.cid, ct.cent_id,
         |      row_number() OVER (PARTITION BY c.cid
         |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
         |    FROM corp c, cent ct) WHERE rn = 1),
         |q AS (SELECT vec_id qid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
         |  FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT qid, cent_id AS cell FROM (
         |    SELECT q.qid, ct.cent_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
         |    FROM q, cent ct) WHERE rn <= 2),
         |dsc AS (
         |  SELECT c.cid doc_id, list_cosine_similarity(q.qv, c.v) cosf
         |  FROM q JOIN probe p ON q.qid = p.qid
         |    JOIN assign a ON a.cell = p.cell
         |    JOIN corp c ON c.cid = a.cid),
         |dt AS (
         |  SELECT doc_id, dr FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
         |  WHERE dr <= $RrfPoolK),
         |f AS (
         |  SELECT coalesce(bt.doc_id, dt.doc_id) AS doc_id,
         |    bt.br AS sparse_rank, dt.dr AS dense_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) /
         |        (CAST($RrfKConst AS DOUBLE) + CAST(bt.br AS DOUBLE)),
         |      CAST(0.0 AS DOUBLE))
         |    + coalesce(CAST(1.0 AS DOUBLE) /
         |        (CAST($RrfKConst AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
         |      CAST(0.0 AS DOUBLE)) AS fs
         |  FROM bt FULL OUTER JOIN dt ON bt.doc_id = dt.doc_id),
         |g AS (
         |  SELECT doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
         |    sparse_rank, dense_rank FROM f)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_u12 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, rrf_u12, sparse_rank, dense_rank
         |FROM g ORDER BY rrf_u12 DESC, doc_id LIMIT $RrfN""".stripMargin,

    // spec twin: ids are file-order row indices == doc_id
    "q_rrf_graph" -> rrfOracleSql("doc_id AS id"),

    // spec-layer twin: identical pipeline, ids = file-order row indices
    "q_bm25_graph" -> bm25OracleSql("doc_id AS id"),

    // quality-probe replay: hashed-TF features rebuilt exactly (signed
    // bucket counts / 1024 — dyadic), then the q_probe_predict
    // quantized-exact train→score arithmetic verbatim
    "q_quality_probe" ->
      """WITH w0 AS (
        |  SELECT doc_id, lang = 'en' AS is_pos,
        |    list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0) AS ws FROM documents),
        |h AS (
        |  SELECT doc_id, is_pos, list_transform(ws, t ->
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w0),
        |q AS (
        |  SELECT doc_id, is_pos, dim,
        |    CAST(round((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(hs, v -> CASE WHEN v % 64 = dim
        |        THEN CAST(1 AS BIGINT) - ((v >> 59) & 1) * 2
        |        ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a + b) AS DOUBLE) / CAST(1024 AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS qx
        |  FROM (SELECT doc_id, is_pos, hs, unnest(range(64)) AS dim FROM h)),
        |w AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
        |    - CAST(SUM(CASE WHEN NOT is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
        |  FROM q GROUP BY dim),
        |qw AS (SELECT dim, CAST(round(w * 1e9) AS BIGINT) AS qw FROM w)
        |SELECT q.doc_id AS vec_id,
        |  CAST(SUM(q.qx * qw.qw) AS DOUBLE) / 1e15 AS score
        |FROM q JOIN qw USING (dim)
        |GROUP BY q.doc_id ORDER BY vec_id""".stripMargin,

    // spec-layer ExactSubstr twin: the raw corpus (no plants — its own
    // planted exact-duplicate docs are the drops), ids = row indices
    "q_spans_graph" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |win AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i + 1 : i + 8], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |rn AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |st AS (SELECT doc_id, list(pos ORDER BY pos) AS ss
        |       FROM rn WHERE rn > 1 GROUP BY doc_id),
        |kept AS (
        |  SELECT w.doc_id, ws,
        |    CASE WHEN st.ss IS NULL THEN ws
        |      ELSE list_filter(ws, (t, p) -> len(list_filter(st.ss,
        |        s -> s <= p - 1 AND p - 1 < s + 8)) = 0) END AS kw
        |  FROM w LEFT JOIN st USING (doc_id))
        |SELECT doc_id AS id,
        |  coalesce(array_to_string(kw, ' '), '') AS dedup_text,
        |  CAST(len(ws) - len(kw) AS BIGINT) AS n_dropped_tokens
        |FROM kept ORDER BY id""".stripMargin,
    "q_dsir_select" ->
      (dsirWeightsSqlCtes +
        """SELECT doc_id, n_feats, w_u6 FROM aw
          |ORDER BY w_u6 DESC, doc_id LIMIT 50""".stripMargin),

    // Gumbel-top-k replay: the uniform is the EXACT 52-bit md5 prefix of
    // 'seed:id' over 2^52 (both factors exactly representable), so the
    // only cross-engine wiggle is the last ulp of ln, absorbed by the
    // micro-nat quantization.
    "q_dsir_gumbel" ->
      (dsirWeightsSqlCtes +
        s"""SELECT doc_id, n_feats, w_u6,
           |  CAST(round((CAST(w_u6 AS DOUBLE) / CAST(1e6 AS DOUBLE) /
           |      CAST(1.0 AS DOUBLE) +
           |    -ln(-ln((CAST(CAST(('0x' || substr(md5('13:' ||
           |        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE)
           |      + CAST(0.5 AS DOUBLE)) / CAST(4503599627370496 AS DOUBLE)))) *
           |    CAST(1e6 AS DOUBLE)) AS BIGINT) AS g_u6
           |FROM aw ORDER BY g_u6 DESC, doc_id LIMIT 50""".stripMargin),

    // spec-layer DSIR twin: target mask (lang == 'en') and ids both ride
    // file-order row indices, which equal doc_id on this table
    "q_dsir_graph" ->
      (dsirWeightsSqlCtes +
        """SELECT doc_id AS row_idx, n_feats, w_u6 FROM aw
          |ORDER BY w_u6 DESC, row_idx LIMIT 50""".stripMargin),

    "q_lsh_skew_report" ->
      """SELECT CAST(16 AS BIGINT) AS n_overflow_buckets,
        |CAST(3200 AS BIGINT) AS rows_in_overflow,
        |CAST(200 AS BIGINT) AS max_bucket_size""".stripMargin,

    "q_dedup_incr" -> incrDedupOracleSql,

    // recrawl delta replay: diff → delta (added + changed, +2e6 ids) →
    // exact all-pairs Jaccard restricted to pairs touching the delta
    "q_delta_pipeline" ->
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM old WHERE doc_id % 17 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM old WHERE doc_id < 300),
        |delta AS (
        |  SELECT n.doc_id + 2000000 AS doc_id, n.text
        |  FROM nw n LEFT JOIN old o USING (doc_id)
        |  WHERE o.doc_id IS NULL OR o.text IS DISTINCT FROM n.text),
        |u AS (SELECT doc_id, text FROM old
        |      UNION ALL SELECT doc_id, text FROM delta),
        |sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM u))),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh)))
        |    ELSE 0.0 END AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p
        |WHERE jaccard >= 0.9 AND id_b >= 2000000
        |ORDER BY id_a, id_b""".stripMargin,

    // the STREAMING ingest twin probes the same planted batch against a
    // fresh copy of the old-corpus index (single-file fixture → one
    // micro-batch; the probe-then-append multi-batch equality is pinned
    // in StreamingSpec), so it shares the replay verbatim
    "q_incr_stream" -> incrDedupOracleSql,

    // build → tagged append ×2 → compact == the single-shot index
    // (compaction is pure layout), so the probe shares the replay verbatim
    "q_dedup_compact" -> incrDedupOracleSql,

    "q_dedup_minhash_planted" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM u))),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh)))
        |    ELSE 0.0 END AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM documents))),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a, documents b
        |  WHERE a.doc_id < 20 AND b.doc_id < 20 AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0 THEN
        |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh)))
        |ELSE 0.0 END AS jaccard
        |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
        |JOIN sh sb ON cand.id_b = sb.doc_id
        |ORDER BY id_a, id_b""".stripMargin
  ).filter(_._2.nonEmpty)
}
