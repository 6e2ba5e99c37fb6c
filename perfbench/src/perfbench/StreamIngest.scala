package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.Row

import graft.ext.Bm25
import graft.streaming.Streaming

import Workload._

/** Streaming BM25 ingest: a backlog of files, one per trigger, appended
  * to an index that starts from a built head, with auto-compaction and a
  * top-k probe in every micro-batch. A request is one micro-batch; its
  * latency is the query listener's batch duration. */
object StreamIngest extends Workload {
  val name = "stream_ingest"
  val Head = 600
  val PerFile = 40
  val Vocab = 20000
  val K = 10
  /** Postings buckets: sized to the index, which stays small here. */
  val Buckets = 8
  /** Compaction fires when more than this many deltas are live, i.e. on
    * every third batch, so compaction batches make up the upper third of
    * the latency distribution and the 75th percentile falls among them. */
  val AutoCompactAt = 2

  /** Backlog files (= batches) per run: nine at the 20-second run length,
    * a multiple of three, so a third of them compact. */
  def batches(seconds: Int): Int = 3 * math.max(1, math.round(seconds * 3 / 20.0).toInt)

  private var terms: Seq[String] = Nil
  private var allRows: Seq[Row] = Nil
  private var nFiles = 0
  private var finalProbe: Seq[Row] = Nil

  private def dir(ctx: Ctx, p: String): Path = ctx.work.resolve(p)
  def storeDirs(ctx: Ctx): Seq[Path] = Seq(dir(ctx, "index"))

  def generate(ctx: Ctx, out: Outcome): Unit = {
    nFiles = batches(ctx.seconds)
    val (head, backlog) = Gen.streamCorpus(ctx.spark, ctx.seed, Head, nFiles,
      PerFile, Vocab, dir(ctx, "inputs/head"), dir(ctx, "inputs/warmup"),
      dir(ctx, "inputs/backlog"))
    allRows = head ++ backlog
    // three mid-frequency words: present in many batches, absent from some
    terms = new Random(ctx.seed * 31 + 6).shuffle((20 until 220).map(Gen.vocab)).take(3)
    // the index head is an input: built once by the engine, untimed
    ctx.tracer.span("ext.index_build", "ext", "generate")(
      Bm25.buildIndex(ctx.spark.read.parquet(dir(ctx, "inputs/head").toString),
        "doc_id", "text", dir(ctx, "index").toString, numBuckets = Buckets))
    val (_, bytes, _) = dirStats(dir(ctx, "inputs"))
    out.sizes ++= Seq("head_docs" -> Head, "backlog_files" -> nFiles,
      "docs_per_file" -> PerFile, "vocab" -> Vocab, "k" -> K,
      "auto_compact_at" -> AutoCompactAt, "buckets" -> Buckets, "input_bytes" -> bytes,
      "terms" -> terms)
  }

  /** Opens the index head, as the ingest does before its first batch. */
  def setup(ctx: Ctx, rep: Int): Unit =
    ctx.tracer.span("ext.index_open", "ext", s"setup-$rep")(
      Bm25.openIndex(ctx.spark, dir(ctx, "index").toString))

  private def ingest(ctx: Ctx, backlog: String, index: String, run: String,
                     compactAt: Int): Unit = {
    val docs = ctx.spark.readStream.schema(Gen.DocSchema)
      .option("maxFilesPerTrigger", 1L)
      .parquet(dir(ctx, backlog).toString)
    Streaming.bm25IngestToSink(docs, dir(ctx, index).toString, "doc_id", "text",
      terms, K, dir(ctx, s"$run/sink").toString, dir(ctx, s"$run/checkpoint").toString,
      autoCompactAt = compactAt)
  }

  /** A service ingests for hours; its JIT-compiled append, compaction and
    * probe paths are warm. Three warm-up batches (the second compacts) into
    * a copy of the head warm them, so the measured batches are steady
    * state rather than the JVM's first pass. */
  override def warmup(ctx: Ctx): Unit = {
    copyTree(dir(ctx, "index"), dir(ctx, "warmup/index"))
    ingest(ctx, "inputs/warmup", "warmup/index", "warmup", compactAt = 1)
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val seen = ctx.meters.stream.all.size
    val (_, wall) = seconds(ctx.tracer.span("streaming.ingest", "streaming", "stream")(
      ingest(ctx, "inputs/backlog", "index", "stream", AutoCompactAt)))
    out.wallS = wall
    ctx.meters.drain()
    val bs = ctx.meters.stream.all.drop(seen)
    bs.foreach(b => out.latencies += b.durationS)
    out.requests += bs.size
    out.failedRequests += math.max(0, nFiles - bs.size)
    out.layer("streaming.batches") = bs.size.toDouble
    out.layer("streaming.add_batch_s") = bs.map(_.addBatchS).sum
    out.layer("streaming.trigger_overhead_s") = bs.map(b => b.triggerS - b.addBatchS).sum
  }

  private def sinkBatch(ctx: Ctx, b: Int) =
    ctx.spark.read.parquet(dir(ctx, s"stream/sink/batch_id=$b").toString)

  /** Re-reads every batch's probe result and re-probes a freshly opened
    * index. */
  def rerun(ctx: Ctx, out: Outcome): Unit = {
    val (_, s) = seconds {
      (0 until nFiles).foreach { b =>
        out.request(s"rerun-batch-$b")(ctx.tracer.span("runner.read", "ext", s"rerun-$b")(
          rowHash(sinkBatch(ctx, b))))
      }
      out.request("rerun-probe")(ctx.tracer.span("ext.probe", "ext", "rerun-probe") {
        val h = Bm25.openIndex(ctx.spark, dir(ctx, "index").toString)
        finalProbe = Bm25.topKIndexed(h, terms, K, 1.2, 0.75).collect().toSeq
      })
    }
    out.rerunS = s
  }

  def verify(ctx: Ctx, out: Outcome): Unit = {
    def rows(rs: Seq[Row]) = rs.map(r => (r.getAs[Long]("rank"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("score_u6"))).sortBy(_._1)
    val spark = ctx.spark
    val whole = spark.createDataFrame(spark.sparkContext.parallelize(allRows, ctx.cores),
      Gen.DocSchema)
    val want = rows(Bm25.rank(whole, "doc_id", "text", terms, K).collect().toSeq)
    val last = rows(sinkBatch(ctx, nFiles - 1).collect().toSeq)
    out.check("final_probe_equals_rank", last == want && want.nonEmpty,
      s"stream=$last rank=$want")
    out.check("reprobe_equals_final", rows(finalProbe) == last, s"reprobe=${rows(finalProbe)}")
    val (files, bytes, _) = dirStats(dir(ctx, "index"))
    out.layer("ext.index_files") = files.toDouble
    out.layer("ext.index_mb") = bytes / 1048576.0
  }

  def close(ctx: Ctx): Unit = ()
}
