package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.runner.{FrameResult, JsonResult, LocalSparkRunner, MatResult}
import graft.spec._

import Workload._

/** One deep curation graph over a multi-file corpus: Gopher keep and
  * exact dedup → MinHash near-dup pairs → near-dup drop → BPE train and
  * tokenize, and sequence packing of the survivors' token counts (no spec
  * op turns a BPE token array into counts, so packing reads the
  * whitespace token count). Each stage is requested on its own, in
  * pipeline order, so each stage's time is one request. */
object CurateCorpus extends RunnerWorkload {
  val name = "curate_corpus"
  val Files = 8
  /** 1,600 documents at the 20-second run length, whole files of them. */
  def docs(seconds: Int): Int = Files * math.max(20, math.round(seconds * 10.0).toInt)
  val Vocab = 30000
  val Merges = 8L
  val SeqLen = 256L

  private var ds: DatasetType = _
  private var nDocs = 0
  private var planted: Gen.Corpus = _
  private val cold = ArrayBuffer.empty[(String, Option[String])]

  private def corpusDir(ctx: Ctx): Path = ctx.work.resolve("inputs/corpus")

  /** (metric stage name, op) in the order a client asks for them. */
  private def stages(): Seq[(String, OpSpec)] = {
    val keep = GopherKeepOp(SelectTextColumnOp(ds, "text"))
    val kept = MaskRowsOp(ds, keep)
    val exact = DropExactDuplicatesOp(kept, SelectTextColumnOp(kept, "text"))
    val pairs = MinHashNearDupPairsOp(SelectTextColumnOp(exact, "text"),
      shingleN = 3L, numPerms = 64L, numBands = 16L, threshold = 0.7)
    val dedup = DropNearDuplicatesOp(exact, pairs)
    val text = SelectTextColumnOp(dedup, "text")
    val bpe = TrainBpeTokenizerOp(text, numMerges = Merges)
    Seq("quality" -> exact, "minhash" -> pairs, "dedup" -> dedup,
      "bpe_train" -> bpe, "tokenize" -> BpeTokenizeOp(bpe, text),
      "pack" -> PackSequencesOp(TokenCountOp(text), seqLen = SeqLen))
  }

  def generate(ctx: Ctx, out: Outcome): Unit = {
    nDocs = docs(ctx.seconds)
    planted = Gen.corpus(ctx.spark, ctx.seed, nDocs, Files, Vocab, corpusDir(ctx))
    val (_, bytes, _) = dirStats(corpusDir(ctx))
    out.sizes ++= Seq("docs" -> nDocs, "files" -> Files, "vocab" -> Vocab,
      "input_bytes" -> bytes, "bpe_merges" -> Merges, "seq_len" -> SeqLen,
      "exact_copy_share" -> planted.exactCopies.size.toDouble / nDocs,
      "near_copy_share" -> planted.nearCopies.size.toDouble / nDocs,
      "short_share" -> planted.short.toDouble / nDocs,
      "repetitive_share" -> planted.repetitive.toDouble / nDocs)
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val files = (0 until Files).map(i => corpusDir(ctx).resolve(f"part-$i%05d.parquet"))
    ds = open(ctx, rep, files, corpusDir(ctx))
  }

  private def read(res: MatResult): String = res match {
    case FrameResult(df) => rowHash(df)
    case JsonResult(j) => j.toString
    case other => other.toString
  }

  private def serve(ctx: Ctx, out: Outcome, r: LocalSparkRunner, stage: String,
                    op: OpSpec, id: String, rerun: Boolean): String = {
    val t = ctx.tracer
    t.span("request", "client", id) {
      reuse(ctx, out, if (rerun) "hit" else "reuse", r, op)
      val res = if (rerun) t.span("runner.read", "runner", id)(r.materialize(op))
                else t.span(s"ext.$stage", "ext", id)(r.materialize(op))
      t.span("client.read", "client", id)(read(res))
    }
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    cold.clear()
    markStore(ctx)
    val (_, wall) = seconds {
      val g = ctx.tracer.span("spec.build", "spec", "graph") {
        val g = stages(); g.foreach(_._2.uuid); g
      }
      g.foreach { case (stage, op) =>
        val (res, s) = seconds(out.request(stage)(
          serve(ctx, out, runner, stage, op, stage, rerun = false)))
        if (res.nonEmpty) out.latencies += s
        cold += stage -> res
      }
    }
    out.wallS = wall
  }

  def rerun(ctx: Ctx, out: Outcome): Unit = {
    rerunner = new LocalSparkRunner(ctx.spark, store(ctx).toString)
    val (_, s) = seconds {
      stages().zip(cold).foreach { case ((stage, op), (_, first)) =>
        val again = out.request(s"rerun-$stage")(
          serve(ctx, out, rerunner, stage, op, s"rerun-$stage", rerun = true))
        out.check(s"rerun_equals_cold[$stage]", first.nonEmpty && again == first,
          s"cold=$first rerun=$again")
      }
    }
    out.rerunS = s
  }

  def verify(ctx: Ctx, out: Outcome): Unit = {
    val st = stages().toMap
    val survivors = rerunner.toFrame(st("dedup"))
    val copies = planted.exactCopies.toSeq
    val leaked = survivors.filter(col("doc_id").isin(copies: _*)).count()
    out.check("no_exact_copy_survives", leaked == 0L,
      s"$leaked of ${copies.size} planted exact copies survived")
    val dupTexts = survivors.groupBy(col("text")).count().filter(col("count") > 1).count()
    out.check("no_duplicate_text_survives", dupTexts == 0L, s"$dupTexts texts repeat")
    val n = survivors.count()
    val kept = rerunner.toFrame(MaskRowsOp(ds, GopherKeepOp(SelectTextColumnOp(ds, "text"))))
      .count()
    val nearLeft = survivors.filter(col("doc_id").isin(planted.nearCopies.toSeq: _*)).count()
    out.sizes ++= Seq("quality_pass_share" -> kept.toDouble / nDocs,
      "survivor_share" -> n.toDouble / nDocs,
      "near_copy_survivor_share" -> nearLeft.toDouble / math.max(1, planted.nearCopies.size))
    out.layer("spec.nodes") = nodes(st.values.toSeq: _*).size.toDouble
    storeCounts(ctx, out)
  }
}
