package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.runner.LocalSparkRunner
import graft.spec._

import Workload._

/** Many small probe graphs sharing upstream nodes: activations of a
  * seeded `tf:` model at two layers feed difference-of-means train →
  * predict → evaluate graphs over boolean labels from `lang` and
  * `source`. The graphs differ only in layer and label, whose costs do not
  * depend on the data, so the request latencies have one mode and nine of
  * them give steady percentiles. (A sweep mixing model types has a mode
  * per type, and its 75th percentile jumps between them from seed to
  * seed.) The closed-form probe keeps each graph's Spark work to a few
  * small jobs, so the runner, the store and the driver dominate. */
object ProbeSweep extends RunnerWorkload {
  val name = "probe_sweep"
  val Docs = 2000
  val Dim = 16
  val MaxLen = 24
  val Layers: Seq[Long] = Seq(1L, 2L)
  val Model = "difference_of_means"

  final case class Req(layer: Long, column: String, value: String)
  final case class G(acts: OpSpec, train: TrainClassifierOp,
                     pred: ClassifierPredictOp, eval: ClassifierEvaluationOp)

  /** Requests per run: nine at the 20-second run length. Of nine, the
    * two that compute activations lie beyond the 75th percentile, which
    * falls on a request that reuses them. */
  def requestCount(seconds: Int): Int = math.max(3, math.round(seconds * 9 / 20.0).toInt)

  /** `n` distinct graphs of the 18 (2 layers × 9 labels). The seed picks the
    * labels; the layers alternate from the first request, so both
    * activation layers are computed by the first two requests whatever
    * the seed. */
  def pickRequests(seed: Long, n: Int): Seq[Req] = {
    val targets = Gen.Langs.map("lang" -> _) ++ Gen.Sources.map("source" -> _)
    require(n <= Layers.size * targets.size, s"$n requests, ${Layers.size * targets.size} graphs")
    val byLayer = Layers.map(l => new Random(seed * 31 + 5 + l).shuffle(targets).iterator)
    Seq.tabulate(n) { i =>
      val (c, v) = byLayer(i % Layers.size).next()
      Req(Layers(i % Layers.size), c, v)
    }
  }

  private var ds: DatasetType = _
  private var weights: Path = _
  private var labels: Seq[(String, String)] = Nil
  private var reqs: Seq[Req] = Nil
  private val cold = ArrayBuffer.empty[(Req, Option[(JValue, String)])]

  private def docsFile(ctx: Ctx) = ctx.work.resolve("inputs/docs/part-00000.parquet")

  def generate(ctx: Ctx, out: Outcome): Unit = {
    labels = Gen.probeDocs(ctx.spark, ctx.seed, Docs, ctx.work.resolve("inputs/docs"))
    weights = ctx.work.resolve("inputs/tf_weights.json")
    Gen.tfWeights(ctx.seed, Dim, MaxLen, weights)
    val n = requestCount(ctx.seconds)
    reqs = pickRequests(ctx.seed, n)
    out.sizes ++= Seq("docs" -> Docs, "files" -> 1, "requests" -> n,
      "tf_dim" -> Dim, "tf_max_len" -> MaxLen,
      "input_bytes" -> Files.size(docsFile(ctx)))
    out.sizes("lang_share") = Gen.Langs.map(l =>
      l -> labels.count(_._1 == l).toDouble / Docs).toMap
    out.sizes("source_share") = Gen.Sources.map(s =>
      s -> labels.count(_._2 == s).toDouble / Docs).toMap
  }

  def setup(ctx: Ctx, rep: Int): Unit =
    ds = open(ctx, rep, Seq(docsFile(ctx)), ctx.work.resolve("inputs/docs"))

  private def graph(ds: DatasetType, r: Req): G = {
    val acts = LLMLayerActivationsOp(s"tf:$weights", SelectTextColumnOp(ds, "text"),
      layerNum = r.layer, tokenMode = "mean", batchSize = 64L)
    val cat = SelectCategoricalColumnOp(ds, r.column)
    val universe = if (r.column == "lang") Gen.Langs else Gen.Sources
    val pos = CategoryToBooleanOp(cat, Some(Seq(r.value)))
    val neg = CategoryToBooleanOp(cat, Some(universe.filterNot(_ == r.value)))
    val train = TrainClassifierOp(Model, acts, pos, neg)
    val pred = ClassifierPredictOp(train, acts)
    G(acts, train, pred, ClassifierEvaluationOp(pred, pos, neg))
  }

  /** One request: the evaluation report and the scored column's hash. */
  private def serve(ctx: Ctx, out: Outcome, r: LocalSparkRunner, req: Req,
                    id: String, rerun: Boolean): (JValue, String) = {
    val t = ctx.tracer
    t.span("request", "client", id) {
      val g = t.span("spec.build", "spec", id) { val g = graph(ds, req); g.eval.uuid; g }
      reuse(ctx, out, if (rerun) "hit" else "reuse", r, g.eval, g.pred)
      if (t.on && !rerun) {
        t.span("llm.activations", "llm", id)(r.toFrame(g.acts))
        t.span("ml.train", "ml", id)(r.toModel(g.train))
        t.span("ml.predict", "ml", id)(r.toFrame(g.pred))
      }
      val report = t.span(if (rerun) "runner.read" else "ml.eval",
        if (rerun) "runner" else "ml", id)(r.toJson(g.eval))
      val hash = t.span("client.read", "client", id)(rowHash(r.toFrame(g.pred)))
      (report, hash)
    }
  }

  /** An interactive session runs graph after graph in one JVM; only its
    * first graph meets cold JIT-compiled paths. One graph against a scratch
    * store warms those paths, so the timed graphs measure the session's
    * steady state. */
  override def warmup(ctx: Ctx): Unit = {
    val scratch = new LocalSparkRunner(ctx.spark, ctx.work.resolve("warmup/store").toString)
    try {
      val docs = scratch.fromParquet(ctx.work.resolve("inputs/docs").toString)
      val g = graph(docs, Req(Layers.head, "lang", Gen.Langs.head))
      scratch.toJson(g.eval)
      rowHash(scratch.toFrame(g.pred))
    } finally scratch.close()
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    cold.clear()
    markStore(ctx)
    val (_, wall) = seconds {
      reqs.zipWithIndex.foreach { case (req, i) =>
        val (res, s) = seconds(out.request(s"probe-$i")(serve(ctx, out, runner, req,
          s"req-$i", rerun = false)))
        if (res.nonEmpty) out.latencies += s
        cold += req -> res
      }
    }
    out.wallS = wall
  }

  def rerun(ctx: Ctx, out: Outcome): Unit = {
    rerunner = new LocalSparkRunner(ctx.spark, store(ctx).toString)
    val (_, s) = seconds {
      cold.zipWithIndex.foreach { case ((req, first), i) =>
        val again = out.request(s"rerun-$i")(serve(ctx, out, rerunner, req,
          s"rerun-$i", rerun = true))
        out.check(s"rerun_equals_cold[$i]", first.nonEmpty && again == first,
          s"cold=${first.map(_._2)} rerun=${again.map(_._2)}")
      }
    }
    out.rerunS = s
  }

  def verify(ctx: Ctx, out: Outcome): Unit = {
    cold.zipWithIndex.foreach { case ((req, res), i) =>
      val idx = if (req.column == "lang") 0 else 1
      val wantTrue = labels.count(l => l.productElement(idx) == req.value).toLong
      val wantFalse = Docs - wantTrue
      val got = res.map { case (rep, _) =>
        val all = rep.asInstanceOf[JObj]("splits").asInstanceOf[JObj]("all")
          .asInstanceOf[JObj]
        (all("n_true").asInstanceOf[JLong].value, all("n_false").asInstanceOf[JLong].value)
      }
      out.check(s"label_counts[$i]", got.contains((wantTrue, wantFalse)),
        s"${req.column}=${req.value}: want ($wantTrue,$wantFalse) got $got")
    }
    out.layer("spec.nodes") = nodes(cold.map(c => graph(ds, c._1).eval).toSeq: _*).size.toDouble
    storeCounts(ctx, out)
  }
}
