package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.Bm25
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** The engine proper, first half: spec graphs through the memoizing
  * runner — runner slices, probe training and evaluation, and the LLM
  * providers (fake, MLP and the dyadic transformer fixtures) whose forward
  * passes the oracles replay exactly. */
object ModelQueries {

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
    def path(tokenizerPath: String): String =
      fixture("tf-bpe", tokenizerPath) { tp =>
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
      }
  }

  /** Content-addressed BPE tokenizer artifact, trained once per
    * (JVM, sf dir) on the documents corpus — the stored-tokenizer input
    * the q_tf_bpe provider loads. */
  private def bpeTokenizerFor(s: SparkSession, dir: String): String =
    fixture("bpe-tokenizer", dir) { d =>
      val merges =
        graft.ext.Bpe.trainMerges(t(s, d, "documents"), "text", BpeMerges)
      graft.ext.Bpe.saveTokenizer(merges,
        java.nio.file.Files.createTempDirectory("graft-bpe-tok-").toString)
    }

  /** DuckDB rendering of FakeProvider.value: int(md5(expr)[0:8], 16) / 2^31
    * - 1, exact in double on both engines (power-of-two division). */
  private def duckMd5Val(expr: String): String =
    "(list_sum(list_transform(range(8), i -> " +
      s"(strpos('0123456789abcdef', substr(md5($expr), i+1, 1)) - 1) * pow(16, 7-i)" +
      ")) / 2147483648.0 - 1.0)"

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

  /** The two generated SQL fragments of the [[MlpFixture]] forward pass:
    * layer-1 ReLU columns `h0..h7 FROM v(vv)` and the 4 head expressions
    * over them — shared by the q_llm_mlp and q_mlp_probe oracles so the
    * replayed net can never drift from the fixture formula. */
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

  val queries: Seq[Query] = Seq(

    Query("q_runner_slice", (s, dir) => {
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
    },
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
        |ORDER BY c_custkey""".stripMargin),

    Query("q_subs_graph", (s, dir) => {
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
    },
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
        |ORDER BY phase, rid""".stripMargin),

    Query("q_probe_eval", (s, dir) => {
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
    },
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false
        |FROM embeddings""".stripMargin),

    Query("q_probe_rbf_eval", (s, dir) => {
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
    },
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin),

    Query("q_probe_svm", (s, dir) => {
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
    },
      // the exact-SMO twin reports the same deterministic eligibility counts;
      // the solver's optimality is enforced by the query's hard KKT gates
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin),

    Query("q_probe_nusvm", (s, dir) => {
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
    },
      // exact ν-SVM + Platt calibration: same counts; ν-property, KKT, and
      // probability-range enforcement are the query's hard gates
      """SELECT 'all' AS split, COUNT(*) AS cnt,
        |CAST(SUM(CASE WHEN label <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |CAST(SUM(CASE WHEN label >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
        |COUNT(*) AS n_scored
        |FROM embeddings""".stripMargin),

    Query("q_probe_predict", (s, dir) => {
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
    },
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
        |GROUP BY q.vec_id ORDER BY q.vec_id""".stripMargin),

    Query("q_probe_diffmeans", (s, dir) => {
      // the difference_of_means probe's training aggregation in exact
      // integer arithmetic (1e-6 quantized long sums): hash-oracle-able
      // where float Summarizer means are summation-order-dependent. The
      // registry's Summarizer form is asserted ≡ this (to 1e-6) in
      // ProbeSpec.
      graft.ml.DiffOfMeans.weightsExact(
          t(s, dir, "embeddings"), col("embedding"), col("label") <= 4)
        .orderBy(col("dim"))
    },
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
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin),

    Query("q_llm_activations", (s, dir) => {
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
    },
      s"""WITH d AS (SELECT text, row_number() OVER () - 1 AS row_idx FROM documents),
         |e AS (SELECT row_idx, text, unnest(range(8)) AS pos FROM d)
         |SELECT row_idx, pos,
         |${duckMd5Val("text || '|3|last|' || CAST(pos AS VARCHAR)")} AS val
         |FROM e ORDER BY row_idx, pos""".stripMargin),

    Query("q_llm_mlp", (s, dir) => {
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
    }, {
      // full MLP forward-pass replay: hashed-TF(16) features, then each
      // layer's affine+ReLU from the SHARED integer weight formula — all
      // dyadic-exact, so val hashes bit for bit
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
    }),

    Query("q_mlp_probe", (s, dir) => {
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
    }, {
      // in-process activations → exact probe, replayed end to end: the
      // shared net SQL feeds the q_quality_probe scoresExact replay
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
    }),

    Query("q_tf_embed", (s, dir) => {
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
    },
      // full transformer forward-pass replay: embeddings → q/k/v → causal
      // integer-softmax attention → LayerNorm → FFN → both pooled layers
      tfNetSql),

    Query("q_tf_probe", (s, dir) => {
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
    },
      // transformer activations → diff-of-means probe, replayed end to end
      tfProbeOracleSql),

    Query("q_tf_graph", (s, dir) => {
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
    }, {
      // spec-layer twin: the layer-1 (post-attention LayerNorm) pooled
      // states over row_number-keyed docs
      s"""WITH ${tfCtes("(SELECT row_number() OVER () - 1 AS doc_id, lang," +
            " text FROM documents)")},
         |dims AS (SELECT CAST(unnest(range(${TfFixture.Dim})) AS BIGINT) AS dm)
         |SELECT doc_id AS row_idx, dm AS pos,
         |  ${tfPool("ln0_", "CAST(dm AS INT) + 1")} AS val
         |FROM tfy CROSS JOIN dims
         |ORDER BY row_idx, pos""".stripMargin
    }),

    Query("q_tf_rerank", (s, dir) => {
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
    },
      // BM25 pool → transformer pair-scored rerank, both rankings replayed
      tfRerankOracleSql),

    Query("q_tf_deep", (s, dir) => {
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
    },
      // the 2-block × 2-head stack replayed end to end — all 4 layers
      tfDeepSql),

    Query("q_tf_preln", (s, dir) => {
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
    }, tfPrelnSql),

    Query("q_tf_float", (s, dir) => {
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
    }, tfFloatSql),

    Query("q_tf_bpe", (s, dir) => {
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
    }, tfBpeSql),

    Query("q_tf_logits", (s, dir) => {
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
    }, tfLogitsSql),

    Query("q_llm_logits", (s, dir) => {
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val logits = LLMLogitScoresOp("fake:d8",
        SelectTextColumnOp(ds, "text"), Seq("yes", "no", 7L))
      r.toFrame(logits)
        .select(col(ColumnOps.RowIdx).as("row_idx"), posexplode(col("value")))
        .select(col("row_idx"), col("pos").cast("long").as("pos"),
          col("col").as("val"))
        .orderBy(col("row_idx"), col("pos"))
    },
      s"""WITH d AS (SELECT text, row_number() OVER () - 1 AS row_idx FROM documents),
         |e AS (SELECT row_idx, text, unnest(range(3)) AS pos FROM d)
         |SELECT row_idx, pos,
         |${duckMd5Val("text || '|logit|' || (['yes','no','7'])[CAST(pos AS INT)+1]")} AS val
         |FROM e ORDER BY row_idx, pos""".stripMargin),

    Query("q_llm_generate", (s, dir) => {
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val gen = LLMGenerateTextOp("fake:d8", SelectTextColumnOp(ds, "text"),
        maxTokens = 100L)
      r.toFrame(gen)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value").as("gen_text"))
        .orderBy(col("row_idx"))
    },
      """SELECT row_number() OVER () - 1 AS row_idx,
        |'gen:' || substr(md5(text || '|100'), 1, 16) AS gen_text
        |FROM documents ORDER BY row_idx""".stripMargin),

    Query("q_grouped", (s, dir) => {
      // GroupedOp: materialize a set of ops as one unit, result = last
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val g = GroupedOp(Seq(AssignRowIDOp(ds),
        AssignTrainTestSplitOp(ds, testSize = Some(0.25))))
      r.materialize(g)
      r.toFrame(g.ops.last).groupBy(col("value").as("split"))
        .agg(count(lit(1)).as("cnt")).orderBy(col("split"))
    },
      """SELECT 'test' AS split, CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM documents
        |UNION ALL
        |SELECT 'train' AS split, COUNT(*) - CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM documents
        |ORDER BY split""".stripMargin)
  )
}
