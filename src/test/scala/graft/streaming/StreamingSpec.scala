package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.Similarity

/** Structured Streaming operators driven through MemoryStream: the same
  * transform functions are applied to a streaming and a batch frame and must
  * agree (the engine's batch/streaming parity contract).
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** What a finished test left running or pinned beyond what was there
    * when it started: active streaming queries, and persisted RDDs over
    * the `rddsBefore` count. */
  private def leftBehind(rddsBefore: Int): Seq[String] = {
    val active = spark.streams.active.map(q => s"active query ${q.id}").toSeq
    val rdds = spark.sparkContext.getPersistentRDDs.size
    active ++ (if (rdds > rddsBefore)
      Seq(s"persisted RDDs grew from $rddsBefore to $rdds") else Nil)
  }

  /** Leak check after every test: a passing test must stop every query it
    * started and release every RDD it persisted or checkpointed. */
  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    super.withFixture(test) match {
      case org.scalatest.Succeeded =>
        val leaks = leftBehind(rddsBefore)
        if (leaks.isEmpty) org.scalatest.Succeeded
        else org.scalatest.Failed(s"left behind: ${leaks.mkString("; ")}")
      case other => other
    }
  }

  /** Runs `body` and then unpersists every RDD it persisted: for tests
    * that call a batch operator directly, whose lazily checkpointed
    * result stays pinned until garbage collection. */
  private def releasing[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
  }

  /** The newest `batch_id=B` directory under `dir`: a running state or
    * card, or the last batch's verdicts. */
  private def newest(dir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch_id="))
      .maxBy(_.getName.stripPrefix("batch_id=").toLong).toString)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def ts(minutes: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusMinutes(minutes.toLong))

  test("count-or-gap sessions: custom state closes by count, gap, and timeout") {
    val input = MemoryStream[(String, Timestamp, Double)]
    val sessions = Streaming.sessionizeByCountOrGap(
      input.toDF.toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", gapMinutes = 30L, maxEvents = 2,
      watermark = "0 seconds")
    val q = sessions.writeStream.format("memory")
      .queryName("cg").outputMode("append").start()
    try {
      // u1: two events fill the count cap → closed eagerly; a third opens
      // a new session. u2: one event, then one past the gap → gap-close on
      // arrival.
      input.addData(("u1", ts(0), 1.0), ("u1", ts(5), 2.0), ("u1", ts(10), 4.0),
        ("u2", ts(0), 8.0))
      q.processAllAvailable()
      input.addData(("u2", ts(45), 16.0))
      q.processAllAvailable()
      // count- and gap-closures are emitted eagerly (subset check: the
      // advancing watermark may already have timed out u1's trailing open)
      val afterArrivals = spark.table("cg")
        .select("user_id", "n_events", "session_value", "closed_by")
        .as[(String, Long, Double, String)].collect().toSet
      assert(afterArrivals.contains(("u1", 2L, 3.0, "count")))
      assert(afterArrivals.contains(("u2", 1L, 8.0, "gap")))

      // advancing the watermark far past every open session fires the
      // event-time timeouts for the trailing opens (u1 @10, u2 @45)
      input.addData(("u3", ts(600), 0.5))
      q.processAllAvailable()
      input.addData(("u3", ts(601), 0.5)) // count-close u3 so sets compare
      q.processAllAvailable()
      val after = spark.table("cg")
        .select("user_id", "n_events", "session_value", "closed_by")
        .as[(String, Long, Double, String)].collect().toSet
      assert(after.contains(("u1", 1L, 4.0, "timeout")))
      assert(after.contains(("u2", 1L, 16.0, "timeout")))

      // batch parity: same call on a batch frame — count/gap sessions
      // identical; trailing opens are absent (no watermark in batch)
      val batch = Streaming.sessionizeByCountOrGap(
        Seq(("u1", ts(0), 1.0), ("u1", ts(5), 2.0), ("u1", ts(10), 4.0),
          ("u2", ts(0), 8.0), ("u2", ts(45), 16.0))
          .toDF("user_id", "ts", "value"),
        "user_id", "ts", "value", gapMinutes = 30L, maxEvents = 2)
        .select("user_id", "n_events", "session_value", "closed_by")
        .as[(String, Long, Double, String)].collect().toSet
      assert(batch == Set(
        ("u1", 2L, 3.0, "count"),
        ("u2", 1L, 8.0, "gap")))
    } finally q.stop()
  }

  test("count-or-gap sessions: a very late event cannot kill the query") {
    val input = MemoryStream[(String, Timestamp, Double)]
    val sessions = Streaming.sessionizeByCountOrGap(
      input.toDF.toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", gapMinutes = 30L, maxEvents = 10,
      watermark = "0 seconds")
    val q = sessions.writeStream.format("memory")
      .queryName("cglate").outputMode("append").start()
    try {
      input.addData(("u1", ts(500), 1.0)) // watermark jumps to 500min
      q.processAllAvailable()
      // an event 500min behind the watermark: the operator's late-event
      // filter drops it before the function (so no session for u2), and the
      // timeout clamp guards the dual-watermark gap where a
      // barely-not-late row could still ask for a below-watermark timeout —
      // either way the query must survive
      input.addData(("u2", ts(0), 2.0))
      q.processAllAvailable()
      input.addData(("u3", ts(900), 3.0)) // advance watermark → u1 times out
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val got = spark.table("cglate")
        .select("user_id", "closed_by")
        .as[(String, String)].collect().toSet
      assert(got.contains(("u1", "timeout")))
      assert(!got.exists(_._1 == "u2"), "dropped late event must not session")
    } finally q.stop()
  }

  test("stateless text analysis runs on a stream as-is") {
    import graft.ext.TextAnalysis
    val input = MemoryStream[(Long, String)]
    val annotated = input.toDF.toDF("doc_id", "text")
      .withColumn("n_tokens", TextAnalysis.tokenCount($"text").cast("long"))
      .withColumn("quality", TextAnalysis.qualityScore($"text"))
      .withColumn("pred_lang", TextAnalysis.langId($"text"))
    val q = annotated.writeStream.format("memory")
      .queryName("qual").outputMode("append").start()
    try {
      input.addData((1L, "The quick brown fox jumps over the lazy dog."),
        (2L, "der und die das ist nicht ein eine mit von"))
      q.processAllAvailable()
      val got = spark.table("qual")
        .select("doc_id", "n_tokens", "pred_lang")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 9L, "en"), (2L, 10L, "de")))
    } finally q.stop()
  }

  test("streaming multimodal ingest: real image decode matches batch") {
    import graft.ext.{MediaCodecs, Multimodal}
    val payloads = (0L until 8L).map(id => (id, MediaCodecs.encodeImage(
      Multimodal.imgW(id), Multimodal.imgH(id), Multimodal.imgRgb(id),
      Multimodal.imgFormat(id))))
    val input = MemoryStream[(Long, Array[Byte])]
    val decoded = Streaming.annotateImageMeta(
      input.toDF.toDF("doc_id", "img"), "doc_id", "img")
    val q = decoded.writeStream.format("memory")
      .queryName("mmstream").outputMode("append").start()
    try {
      input.addData(payloads: _*)
      q.processAllAvailable()
      val got = spark.table("mmstream")
        .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
      val batch = Streaming.annotateImageMeta(
          payloads.toDF("doc_id", "img"), "doc_id", "img")
        .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
      assert(got == batch) // batch/streaming parity
      got.foreach { case (id, w, h, f) =>
        assert(w == Multimodal.imgW(id) && h == Multimodal.imgH(id)
          && f == Multimodal.imgFormat(id))
      }
    } finally q.stop()
  }

  test("streaming packing: multi-batch layout is contiguous and equals the batch layout") {
    // two parquet files arriving as TWO micro-batches (maxFilesPerTrigger=1,
    // ids ordered across files): the streaming layout must equal the batch
    // layout of the concatenated corpus — per-batch distributed packing +
    // the carried token-total scalar is all the cross-batch state there is
    val dir = java.nio.file.Files.createTempDirectory("graft-packstream-")
    def mkDocs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong, Seq.fill(i % 7 + (if (i % 11 == 0) 0 else 1))("w").mkString(" ")))
        .toDF("doc_id", "text")
    // file names chosen so listing order = id order (file source processes
    // in modification-time order; write them in sequence)
    mkDocs(0 until 50).coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100) // distinct mtimes: deterministic batch order
    mkDocs(50 until 100).coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val tokens = size(graft.ext.Corpus.words(col("text")))
    val sink = tmp("graft-packstream-out-")
    Streaming.packSequencesToSink(stream, "doc_id", tokens, seqLen = 8L,
      sink, tmp("graft-packstream-ck-"))
    val streamed = spark.read.parquet(s"$sink/data").drop("batch_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.ext.Corpus.packSequences(
      mkDocs(0 until 100), "doc_id", tokens, seqLen = 8L)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // genuine multi-batch: second half starts at the first half's total
    val firstHalfTokens = streamed.take(50).map(_(1).asInstanceOf[Long]).sum
    assert(streamed(50)(2) == firstHalfTokens)
  }

  test("packing sink: carried token offset, exactly-once restart, state GC") {
    // three batches: each packs on top of the running total carried in
    // _state; a forced replay of the last batch must read the same
    // offset (state < B only) and rewrite identical layout and state
    val src = java.nio.file.Files.createTempDirectory("graft-packsink-src-")
    for (i <- 0 until 3) {
      (i * 10 until i * 10 + 10).map(d =>
          (d.toLong, Seq.fill(d % 5 + 1)("w").mkString(" ")))
        .toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = tmp("graft-packsink-out-")
    val ckpt = tmp("graft-packsink-ck-")
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.packSequencesToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "doc_id", size(graft.ext.Corpus.words(col("text"))), seqLen = 4L,
      sink, ckpt)
    run()
    def layout() = spark.read.parquet(s"$sink/data")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def total() = newest(s"$sink/_state").as[Long].collect().toSeq
    val before = layout()
    val tokens = (0 until 30).map(d => (d % 5 + 1).toLong)
    // contiguous across batches: each doc starts where the previous ended
    assert(before.map(_(2)) == tokens.scanLeft(0L)(_ + _).take(30))
    assert(before.map(_.last) == (0 until 30).map(_ / 10))
    assert(total() == Seq(tokens.sum))
    val stateDirs = new java.io.File(s"$sink/_state").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted
    assert(stateDirs.sameElements(Array("batch_id=1", "batch_id=2")),
      s"state history not GC'd: ${stateDirs.mkString(",")}")
    // forced replay of batch 2
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(layout() == before, "replay altered the layout")
    assert(total() == Seq(tokens.sum), "replay altered the carried total")
  }

  test("streaming semantic dedup: multi-batch equals batch, cross-batch dups drop") {
    // ids in nondecreasing batch order (the ingest contract): batch 1
    // contains EXACT COPIES of batch-0 vectors (ids 100..104 copy 0..4) —
    // they must drop against the CARRIED state, not just within-batch;
    // centroids are pinned from the full corpus (vec ids 0..3)
    val dir = java.nio.file.Files.createTempDirectory("graft-semstream-")
    val rng = new scala.util.Random(5)
    def vec(): Seq[Float] = Seq.fill(16)((rng.nextDouble() * 2 - 1).toFloat)
    val base = (0L until 60L).map(i => (i, vec()))
    val copies = (0L until 5L).map(i => (i + 100L, base(i.toInt)._2))
    val b0 = base.take(30)
    val b1 = base.drop(30) ++ copies
    b0.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100) // distinct mtimes: deterministic batch order
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/b1")
    val all = (b0 ++ b1).toDF("vec_id", "embedding")
    val cents = graft.ext.Similarity.centroidsByIds(
      all, "vec_id", "embedding", 0L to 3L)
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-semstream-out-")
    Streaming.semanticDedupToSink(stream, "vec_id", "embedding", cents,
      threshold = 0.8, sink, tmp("graft-semstream-ck-"), horizonBatches = 0)
    val streamed = spark.read.parquet(s"$sink/data").drop("batch_id")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val batch = releasing(graft.ext.Dedup.semanticDedup(
        all, "vec_id", "embedding", cents, threshold = 0.8)
      .select(col("id"), col("cell"), col("keep"))
      .orderBy("id").collect().map(_.toSeq).toSeq)
    assert(streamed == batch)
    // the planted copies really dropped, and against the carried state
    // (their originals live in the EARLIER batch)
    val verdicts = streamed.map(r => r.head.asInstanceOf[Long] ->
      r(2).asInstanceOf[Boolean]).toMap
    assert((100L until 105L).forall(id => !verdicts(id)))
    assert((0L until 30L).forall(id => verdicts(id)))
  }

  test("streaming k-means assignment: multi-batch equals batch, model pinned") {
    // fit-batch/serve-stream: the exact model is fitted ONCE on the full
    // corpus, then the stream re-scores in two micro-batches — stateless
    // scorer, so the union must equal the batch assignment bit-for-bit
    val dir = java.nio.file.Files.createTempDirectory("graft-kmstream-")
    val rng = new scala.util.Random(31)
    def vec(c: Int): Seq[Float] =
      Seq.tabulate(8)(d => ((if (d == c) 0.5 else 0.0)
        + (rng.nextDouble() - 0.5) * 0.1).toFloat)
    val base = (0L until 60L).map(i => (i, vec((i % 3).toInt)))
    val b0 = base.take(30)
    val b1 = base.drop(30)
    b0.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100) // distinct mtimes: deterministic batch order
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$dir/b1")
    val all = (b0 ++ b1).toDF("vec_id", "embedding")
    val fit = graft.ml.ExactKMeans.fit(all, "vec_id", "embedding",
      Seq(0L, 1L, 2L), iters = 3)
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-kmstream-out-")
    Streaming.kmeansAssignToSink(stream, "vec_id", "embedding", fit,
      sink, tmp("graft-kmstream-ck-"))
    val streamed = spark.read.parquet(s"$sink/data").drop("batch_id")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val batch = graft.ml.ExactKMeans.assign(all,
        col("vec_id").cast("long"), col("embedding"), fit)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the clusters are the true ones (cells seeded by ids 0/1/2 = classes)
    assert(streamed.forall(r =>
      r(1).asInstanceOf[Int] == (r.head.asInstanceOf[Long] % 3).toInt))
  }

  test("k-means sink: pinned model artifact, per-batch ledger, exactly-once restart") {
    // round 20: k-means assignment as a durable sink — the
    // centroid set lands at _model BEFORE the stream, per-batch verdicts
    // at data/batch_id=B, and a forced replay of the last batch (the
    // scorer is stateless) rewrites byte-identical verdicts.
    val dir = java.nio.file.Files.createTempDirectory("graft-kmsink-")
    val rng = new scala.util.Random(47)
    def vec(c: Int): Seq[Float] =
      Seq.tabulate(8)(d => ((if (d == c) 0.5 else 0.0)
        + (rng.nextDouble() - 0.5) * 0.1).toFloat)
    val base = (0L until 40L).map(i => (i, vec((i % 2).toInt)))
    base.take(20).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    base.drop(20).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dir/b1")
    val all = base.toDF("vec_id", "embedding")
    val fit = graft.ml.ExactKMeans.fit(all, "vec_id", "embedding",
      Seq(0L, 1L), iters = 3)
    val sink = java.nio.file.Files.createTempDirectory("graft-kms-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kms-ck-").toString
    val schema = spark.read.parquet(s"$dir/b0").schema
    def run(): Unit = Streaming.kmeansAssignToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/{b0,b1}/*.parquet"),
      "vec_id", "embedding", fit, sink, ckpt)
    run()
    // the pinned model equals the fit, and the ledger equals the batch
    // operator over the union
    val model = spark.read.parquet(s"$sink/_model")
      .select(col("cell"), col("dim"), col("qm"))
      .as[(Int, Int, Long)].collect().toSet
    assert(model == fit.qm.zipWithIndex.flatMap { case (row, cell) =>
      row.zipWithIndex.map { case (q, d) => (cell, d, q) }
    }.toSet)
    def verdicts() = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("id"), col("cell"))
      .as[(Long, Long, Int)].collect().toSet
    val before = verdicts()
    val batch = graft.ml.ExactKMeans.assign(all,
        col("vec_id").cast("long"), col("embedding"), fit)
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    assert(before.map(v => (v._2, v._3)) == batch)
    assert(before.map(_._1) == Set(0L, 1L))
    // forced replay of batch 1
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(verdicts() == before, "replay altered the ledger")
    assert(spark.read.parquet(s"$sink/_model")
      .select(col("cell"), col("dim"), col("qm"))
      .as[(Int, Int, Long)].collect().toSet == model,
      "replay altered the pinned model")
  }

  test("streaming token budget: priority-ordered batches equal batch, state carries the fill") {
    // two batches, priority-descending arrival per group (the curated-
    // backfill norm the sink's equality contract names): batch0 carries
    // each group's high-priority half, batch1 the rest — the carried fill
    // level must make batch1's verdicts match the global batch cumsum
    val dir = java.nio.file.Files.createTempDirectory("graft-tbstream-")
    val rng = new scala.util.Random(23)
    // a NULL group rides along: its carried fill must survive batches too
    val all = (0L until 80L).map { i =>
      (i, if (i % 5 == 0) None else Some(s"g${i % 3}"),
        rng.nextDouble() * 100, (rng.nextInt(40) + 1).toLong)
    }
    // per group, split at the median priority: top half first
    val byG = all.groupBy(_._2)
    val b0 = byG.values.flatMap { rs =>
      rs.sortBy(-_._3).take(rs.length / 2) }.toSeq.sortBy(_._1)
    val b0Ids = b0.map(_._1).toSet
    val b1 = all.filterNot(r => b0Ids(r._1))
    b0.toDF("id", "g", "prio", "tok").coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100) // distinct mtimes: deterministic batch order
    b1.toDF("id", "g", "prio", "tok").coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-tbstream-out-")
    Streaming.tokenBudgetToSink(stream, "g", "id", "prio", "tok",
      budget = 300L, sink, tmp("graft-tbstream-ck-"))
    val streamed = spark.read.parquet(s"$sink/data")
      .select("id", "cum_tokens", "keep")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val batch = graft.ext.Corpus.tokenBudgetKeep(
        all.toDF("id", "g", "prio", "tok"), "g", "id", "prio", "tok", 300L)
      .select("id", "cum_tokens", "keep")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the budget actually cuts: some group has both kept and dropped rows
    val kept = streamed.count(_(2) == true)
    assert(kept > 0 && kept < streamed.length)
  }

  test("streaming incremental dedup: probe-then-append equals single-shot, any slicing") {
    // old corpus indexed once; the stream delivers two batches — a copy of
    // an old doc in EACH batch, a cross-BATCH copy pair (b0 doc duplicated
    // in b1: only the append step can catch it), and fresh docs. The
    // accumulated pairs must equal the single-shot probe of b0 ∪ b1.
    val old = (0 until 30).map(i =>
      (i.toLong, (0 until 30).map(j => s"sd${i}x$j").mkString(" ")))
    val b0 = Seq((2000L, old(3)._2), // old↔new
      (2001L, "fresh batchzero doc alpha beta gamma delta epsilon zeta"))
    val b1 = Seq((3000L, old(7)._2), // old↔new in the later batch
      (3001L, b0(1)._2),             // cross-batch copy: needs the append
      (3002L, "fresh batchone doc eta theta iota kappa lambda mu"))
    val idx1 = java.nio.file.Files.createTempDirectory("graft-ingest1-").toString
    val idx2 = java.nio.file.Files.createTempDirectory("graft-ingest2-").toString
    graft.ext.Dedup.buildMinhashIndex(spark, idx1, old.toDF("doc_id", "text"),
      "text", "doc_id")
    graft.ext.Dedup.buildMinhashIndex(spark, idx2, old.toDF("doc_id", "text"),
      "text", "doc_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-src-")
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-ingest-out-")
    Streaming.minhashDedupIngestToSink(stream, idx1, "text", "doc_id",
      sink, tmp("graft-ingest-ck-"), threshold = 0.9)
    val streamed = spark.read.parquet(sink)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = releasing(graft.ext.Dedup.minhashDedupAgainstIndex(
        graft.ext.Dedup.openMinhashIndex(spark, idx2),
        (b0 ++ b1).toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(streamed == single)
    assert(streamed == Set((3L, 2000L), (7L, 3000L), (2001L, 3001L)))
    // the mutation is real: a later probe of idx1 sees the ingested docs
    val late = releasing(graft.ext.Dedup.minhashDedupAgainstIndex(
        graft.ext.Dedup.openMinhashIndex(spark, idx1),
        Seq((9000L, b1(2)._2)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(late == Set((3002L, 9000L)))
  }

  test("streaming data card: monoid state makes multi-batch exact under arbitrary slicing") {
    // batches sliced ADVERSARIALLY (groups interleaved, duplicates split
    // across batches) — sums add and sketches merge, so the card must
    // equal the batch operator bit-for-bit with no ordering assumption
    val all = (0 until 120).map { i =>
      (s"g${i % 3}", if (i % 10 == 0) "a repeated document" else s"doc $i words w$i")
    }
    val (b0, b1) = (all.zipWithIndex.filter(_._2 % 2 == 0).map(_._1),
      all.zipWithIndex.filter(_._2 % 2 == 1).map(_._1))
    val dir = java.nio.file.Files.createTempDirectory("graft-card-src-")
    b0.toDF("g", "text").coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    b1.toDF("g", "text").coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-card-out-")
    Streaming.corpusReportToSink(stream, "g", "text", k = 16, sink,
      tmp("graft-card-ck-"))
    val streamed = newest(s"$sink/card").withColumnRenamed("g", "group")
      .orderBy("group").collect().map(_.toSeq).toSeq
    val batch = graft.ext.Profile.corpusReport(all.toDF("g", "text"), "g", "text", k = 16)
      .select(col("g").as("group"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("est_distinct_texts"))
      .orderBy("group").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the sketch actually estimated: each group has 40 docs, >16 distinct
    assert(streamed.forall(r => r(1).asInstanceOf[Long] == 40L))
    // group TYPE is preserved (not stringified): an int-keyed stream
    // returns an int group column equal to the batch card's
    val intDir = java.nio.file.Files.createTempDirectory("graft-card-int-")
    (0 until 40).map(i => (i % 4, s"doc $i"))
      .toDF("g", "text").coalesce(1).write.parquet(s"$intDir/b0")
    val intStream = spark.readStream
      .schema(spark.read.parquet(s"$intDir/b0").schema)
      .parquet(intDir.toString + "/b0")
    val intSink = tmp("graft-card-int-out-")
    Streaming.corpusReportToSink(intStream, "g", "text", k = 8, intSink,
      tmp("graft-card-int-ck-"))
    val intCard = newest(s"$intSink/card")
    assert(intCard.schema("g").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(intCard.orderBy("g").collect().map(_.getInt(0)).toSeq ==
      Seq(0, 1, 2, 3))
  }

  test("bm25 ingest-to-sink: exactly-once across a forced restart replay") {
    // the PRODUCTION sink form proven end to end: three micro-batches
    // ingest into the index and write per-batch verdicts to a parquet
    // sink under a checkpoint; then the last batch's checkpoint COMMIT is
    // deleted (the standard crash-between-effect-and-commit simulation)
    // and the stream restarts — Structured Streaming replays batch 2, and
    // BOTH effects must be idempotent: the index append is skipped by its
    // tag, the sink directory is overwritten with identical rows.
    val rng = new scala.util.Random(47)
    val vocab = Seq("ara", "bele", "cedi", "dodo")
    def mk(ids: Range) = ids.map(i => (i.toLong,
      Seq.fill(3 + rng.nextInt(5))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    val head = mk(0 until 12)
    val (b0, b1, b2) = (mk(100 until 108), mk(200 until 208), mk(300 until 308))
    val idx = java.nio.file.Files.createTempDirectory("graft-sink-idx-").toString
    val idxFull = java.nio.file.Files.createTempDirectory("graft-sink-full-").toString
    graft.ext.Bm25.buildIndex(head.toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 4)
    graft.ext.Bm25.buildIndex((head ++ b0 ++ b1 ++ b2).toDF("doc_id", "text"),
      "doc_id", "text", idxFull, numBuckets = 4)
    val src = java.nio.file.Files.createTempDirectory("graft-sink-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100) // distinct mtimes: deterministic batch order
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-sink-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sink-ckpt-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1,b2}/*.parquet")
    val terms = Seq("ara", "cedi")
    Streaming.bm25IngestToSink(stream, idx, "doc_id", "text", terms,
      k = 8, sink, ckpt)
    def sinkRows() = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("rank"), col("doc_id"),
        col("score_u6"))
      .collect().map(_.toSeq).toSet
    def statsNDocs() = graft.ext.Bm25.indexStatsDf(spark, idx)
      .head.getAs[Long]("n_docs")
    val rowsBefore = sinkRows()
    assert(rowsBefore.map(_.head) == Set(0L, 1L, 2L))
    assert(statsNDocs() == (12 + 24).toLong)
    // forced replay: drop the LAST batch's commit marker — on restart the
    // engine believes batch 2 never completed and re-delivers it
    val commit2 = java.nio.file.Paths.get(ckpt, "commits", "2")
    assert(java.nio.file.Files.exists(commit2), "checkpoint layout changed")
    java.nio.file.Files.delete(commit2)
    // the local FS keeps a checksum sibling; a stale one makes the commit
    // log's atomic re-create throw FileAlreadyExists ("multiple streaming
    // queries") instead of committing the replayed batch
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    Streaming.bm25IngestToSink(stream, idx, "doc_id", "text", terms,
      k = 8, sink, ckpt)
    // exactly-once: the replay changed NOTHING — no double-counted docs
    // in the index, no duplicate or altered sink rows
    assert(statsNDocs() == (12 + 24).toLong,
      "replayed batch was double-appended to the index")
    assert(sinkRows() == rowsBefore, "replay altered the sink")
    // and the final standing query equals the batch build over everything
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(canon(graft.ext.Bm25.topKIndexed(
        graft.ext.Bm25.openIndex(spark, idx), terms, k = 12)) ==
      canon(graft.ext.Bm25.topKIndexed(graft.ext.Bm25.openIndex(spark, idxFull),
        terms, k = 12)))
  }

  test("sharded export sink: contiguous per-shard layout, exactly-once restart") {
    // three micro-batches stream through the export: per shard, pos and
    // the token stream must be CONTIGUOUS across batches (each batch
    // starts where its predecessors' persisted state left off); then the
    // last batch's checkpoint commit is deleted and the stream restarts —
    // the replayed batch must read the PRE-batch state (never its own)
    // and rewrite byte-identical files.
    val rng = new scala.util.Random(53)
    def mk(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 2 + rng.nextInt(6)).map(j => s"t${i}_$j").mkString(" ")))
    val (b0, b1, b2) = (mk(0 until 9), mk(100 until 109), mk(200 until 209))
    val src = java.nio.file.Files.createTempDirectory("graft-shex-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-shex-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shex-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1,b2}/*.parquet")
    def run(): Unit = Streaming.shardedExportToSink(stream, "doc_id",
      size(graft.ext.Corpus.words(col("text"))), epoch = 3L, numShards = 4,
      seqLen = 16L, sink, ckpt)
    run()
    def rows() = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("shard").cast("long"),
        col("doc_id"), col("pos"), col("n_tokens"), col("token_offset"),
        col("first_seq"), col("last_seq"), col("n_seqs"))
      .collect().map(_.toSeq).toSet
    val before = rows()
    assert(before.map(_.head) == Set(0L, 1L, 2L), "expected 3 batches")
    // per shard across ALL batches: pos is dense 0..n-1 and token_offset
    // is the running sum in pos order — the contiguity contract
    val byShard = before.toSeq.groupBy(_(1)).values
    for (sh <- byShard) {
      val inOrder = sh.sortBy(r => r(3).asInstanceOf[Long])
      assert(inOrder.map(_(3)) == inOrder.indices.map(_.toLong),
        s"pos not dense: ${inOrder.map(_(3))}")
      var expected = 0L
      for (r <- inOrder) {
        assert(r(5) == expected, s"token_offset gap in shard ${r(1)}: $r")
        expected += r(4).asInstanceOf[Long]
      }
    }
    // the single-shard slice equals the BATCH operator over the union in
    // arrival order: batch rows were offset by persisted state, so a
    // doc's (shard, n_tokens) agrees with the pure map-side assignment
    val allDocs = (b0 ++ b1 ++ b2).toDF("doc_id", "text")
    val batchAssign = graft.ext.Corpus.epochShards(
        allDocs, "doc_id", epoch = 3L, numShards = 4)
      .select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- before)
      assert(batchAssign(r(2).asInstanceOf[Long]) == r(1),
        s"shard assignment diverged from the batch operator: $r")
    // forced replay of batch 2
    val commit2 = java.nio.file.Paths.get(ckpt, "commits", "2")
    assert(java.nio.file.Files.exists(commit2), "checkpoint layout changed")
    java.nio.file.Files.delete(commit2)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(rows() == before, "replay altered the exported shards")
    // and the persisted cumulative state matches the data totals; the
    // history is GC'd to newest + one grace generation (batch 0's full
    // fold is gone — replay can only ever need newestStateBefore)
    val stateIds = new java.io.File(s"$sink/_state").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted
    assert(stateIds.sameElements(Array("batch_id=1", "batch_id=2")))
    val finalState = spark.read.parquet(s"$sink/_state/batch_id=2")
      .select(col("shard"), col("rows"), col("tokens")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dataTotals = before.toSeq.groupBy(_(1)).map { case (sh, rs) =>
      sh -> (rs.size.toLong, rs.map(_(4).asInstanceOf[Long]).sum) }
    for (sh <- 0L until 4L)
      assert(finalState(sh) == dataTotals.getOrElse(sh, (0L, 0L)),
        s"state drifted from data for shard $sh")
  }

  test("data-card sink: running card per batch, exactly-once restart") {
    // three micro-batches through corpusReportToSink: the card after
    // batch B must equal the BATCH corpusReport over everything ingested
    // through B (the monoid contract, now durable), including the KMV
    // dedup of a text repeated across batches; then the last checkpoint
    // commit is deleted and the stream restarts — the replayed fold reads
    // only pre-batch state and rewrites identical card + state files.
    val b0 = Seq(("en", "alpha beta"), ("en", "gamma"), ("de", "delta"))
    val b1 = Seq(("en", "alpha beta"), ("de", "epsilon zeta"), ("fr", "eta"))
    val b2 = Seq(("fr", "theta iota kappa"), ("en", "lambda"))
    val src = java.nio.file.Files.createTempDirectory("graft-card-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("lang", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-card-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-card-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.corpusReportToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "lang", "text", k = 4, sink, ckpt)
    run()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    def card(b: Int) = spark.read.parquet(s"$sink/card/batch_id=$b")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("est_distinct_texts"))
    val prefixes = Seq(b0, b0 ++ b1, b0 ++ b1 ++ b2)
    for ((prefix, b) <- prefixes.zipWithIndex)
      assert(canon(card(b)) == canon(graft.ext.Profile.corpusReport(
          prefix.toDF("lang", "text"), "lang", "text", k = 4)),
        s"running card after batch $b != batch operator over the prefix")
    val before = (0 to 2).map(b => canon(card(b)))
    // forced replay of batch 2
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert((0 to 2).map(b => canon(card(b))) == before,
      "replay altered the cards")
  }

  test("token-budget sink: carried fill across batches, exactly-once restart") {
    // three micro-batches whose priorities DESCEND across batches (the
    // curated-backfill norm): the kept cut read back from the sink must
    // equal the BATCH tokenBudgetSelect over the union, with cum_tokens
    // carried across batches per group; forced replay of the last batch
    // rewrites identical verdicts and state.
    val b0 = Seq((1L, "en", 90L, 400L), (2L, "de", 80L, 500L),
      (3L, "en", 70L, 300L))
    val b1 = Seq((4L, "en", 60L, 250L), (5L, "de", 50L, 600L))
    val b2 = Seq((6L, "en", 40L, 100L), (7L, "de", 30L, 50L),
      (8L, "fr", 20L, 999L))
    val src = java.nio.file.Files.createTempDirectory("graft-tbsink-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "lang", "prio", "n_tokens")
        .coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-tbsink-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tbsink-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.tokenBudgetToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "lang", "doc_id", "prio", "n_tokens", budget = 1000L, sink, ckpt)
    run()
    def verdicts() = spark.read.parquet(s"$sink/data")
      .select(col("doc_id"), col("lang"), col("cum_tokens"), col("keep"))
      .collect().map(_.toSeq).toSet
    val before = verdicts()
    // kept cut == the batch operator over the union (priority-respecting
    // arrival), cum_tokens carried per group across batches
    val kept = before.filter(_(3) == true).map(r => (r(0), r(2)))
    val batchOp = graft.ext.Corpus.tokenBudgetSelect(
        (b0 ++ b1 ++ b2).toDF("doc_id", "lang", "prio", "n_tokens"),
        "lang", "doc_id", "prio", "n_tokens", budget = 1000L)
      .select(col("doc_id"), col("cum_tokens").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.map(r => (r._1, r._2)) == batchOp.map(identity),
      s"sink kept cut diverged from the batch operator: $kept vs $batchOp")
    // en fill: 400+300 (b0) + 250 (b1) = 950, then 100 in b2 -> 1050 > 1000
    assert(before.contains(Seq(6L, "en", 1050L, false)),
      "carried fill must reject the over-budget b2 English doc")
    assert(before.contains(Seq(8L, "fr", 999L, true)),
      "a fresh group starts from zero fill")
    // forced replay of batch 2
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(verdicts() == before, "replay altered the admission ledger")
  }

  test("cms sink: running counters per batch, exactly-once restart") {
    // the sum monoid, durable: the persisted sketch after batch B must
    // equal the batch operator over the prefix; a forced replay of the
    // last batch folds only pre-batch state and rewrites identical rows
    val b0 = Seq("a", "b", "a")
    val b1 = Seq("b", "c")
    val b2 = Seq("a", "c", "c", "d")
    val src = java.nio.file.Files.createTempDirectory("graft-cmss-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("v").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-cmss-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cmss-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.cmsSketchToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "v", depth = 3, width = 16, sink, ckpt)
    run()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // state GC keeps newest + one grace generation, so only batches 1,2
    // survive a 3-batch run — check those against the batch operator
    val prefixes = Seq(b0, b0 ++ b1, b0 ++ b1 ++ b2)
    for ((prefix, b) <- prefixes.zipWithIndex.drop(1))
      assert(canon(spark.read.parquet(s"$sink/_state/batch_id=$b")) ==
        canon(graft.ext.Profile.cmsSketch(prefix.toDF("v"), "v", 3, 16)),
        s"running sketch after batch $b != batch operator over the prefix")
    val before = (1 to 2).map(b =>
      canon(spark.read.parquet(s"$sink/_state/batch_id=$b")))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert((1 to 2).map(b =>
      canon(spark.read.parquet(s"$sink/_state/batch_id=$b"))) == before,
      "replay altered the sketches")
  }

  test("cumulative-state GC: ≥4 batches retain ≤2 _state dirs, fold exact") {
    // the storage contract of the whole *ToSink family: each batch writes
    // the FULL fold, so after GC only the newest + one grace generation
    // may remain — storage O(2 × state size), not O(batches × state size).
    // The surviving newest state must still equal the batch operator over
    // EVERYTHING ingested (the fold chain never lost a batch).
    val batches = Seq(Seq("a", "b", "a"), Seq("b", "c"), Seq("a", "d"),
      Seq("d", "d", "e"), Seq("a"))
    val src = java.nio.file.Files.createTempDirectory("graft-gc-src-")
    for ((b, i) <- batches.zipWithIndex) {
      b.toDF("v").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-gc-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gc-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    Streaming.cmsSketchToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2,b3,b4}/*.parquet"),
      "v", depth = 3, width = 16, sink, ckpt)
    val stateDirs = new java.io.File(s"$sink/_state").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted
    assert(stateDirs.length <= 2,
      s"state history unbounded: ${stateDirs.mkString(",")}")
    assert(stateDirs.sameElements(Array("batch_id=3", "batch_id=4")),
      s"GC must keep exactly newest + grace: ${stateDirs.mkString(",")}")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(canon(spark.read.parquet(s"$sink/_state/batch_id=4")) ==
      canon(graft.ext.Profile.cmsSketch(
        batches.flatten.toDF("v"), "v", 3, 16)),
      "GC'd fold chain diverged from the batch operator over everything")
  }

  test("lm sink: prior-model scoring, state folds, exactly-once restart") {
    // three batches of docs; batch 0 scored by self-fit (== the batch
    // operator on batch 0), later batches by the STANDING prior model;
    // state after B = pair counts over the prefix; forced replay of the
    // last batch re-derives identical verdicts and state
    val b0 = Seq((0L, "the cat sat"), (1L, "the cat ran"))
    val b1 = Seq((2L, "the cat sat"), (3L, "a dog ran"))
    val b2 = Seq((4L, "the dog sat on the cat"))
    val src = java.nio.file.Files.createTempDirectory("graft-lms-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-lms-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lms-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.lmScoreToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "doc_id", "text", sink, ckpt)
    run()
    def verdicts(b: Int) = spark.read.parquet(s"$sink/data/batch_id=$b")
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // batch 0 == the batch operator's self-fit on batch 0
    val self0 = graft.ext.LangModel.score(b0.toDF("doc_id", "text"),
        "doc_id", "text",
        graft.ext.LangModel.fit(b0.toDF("doc_id", "text"), "text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(verdicts(0) == self0, "batch 0 must equal the self-fit operator")
    // batch B > 0 == the batch operator fit on the PREFIX BEFORE B
    for ((fitRows, b) <- Seq(b0, b0 ++ b1).zipWithIndex.map(t => (t._1, t._2 + 1))) {
      val scoreRows = Seq(b0, b1, b2)(b)
      val expect = graft.ext.LangModel.score(scoreRows.toDF("doc_id", "text"),
          "doc_id", "text",
          graft.ext.LangModel.fit(fitRows.toDF("doc_id", "text"), "text"))
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(verdicts(b) == expect,
        s"batch $b must be scored by the standing prior model")
    }
    // state after the last batch = pair counts over everything
    def stateSet(b: Int) = spark.read.parquet(s"$sink/_state/batch_id=$b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(stateSet(2) == graft.ext.LangModel.pairCounts(
      (b0 ++ b1 ++ b2).toDF("doc_id", "text"), "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
    // verdicts survive for every batch (data is never pruned); state only
    // for the GC-retained batches 1,2 (newest + one grace generation)
    val before = ((0 to 2).map(verdicts), (1 to 2).map(stateSet))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(((0 to 2).map(verdicts), (1 to 2).map(stateSet)) == before,
      "replay altered verdicts or state")
  }

  test("bloom sink: running bitmap per batch, exactly-once restart") {
    val b0 = Seq("alpha", "beta")
    val b1 = Seq("gamma")
    val b2 = Seq("delta", "alpha")
    val src = java.nio.file.Files.createTempDirectory("graft-bls-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("v").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-bls-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bls-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.bloomBitmapToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "v", numHashes = 3, numBits = 256, sink, ckpt)
    run()
    def bits(b: Int) = spark.read.parquet(s"$sink/_state/batch_id=$b")
      .orderBy(col("idx")).collect().map(_.getLong(1)).toSeq
    // state GC retains only batches 1,2 (newest + one grace generation)
    val prefixes = Seq(b0, b0 ++ b1, b0 ++ b1 ++ b2)
    for ((prefix, b) <- prefixes.zipWithIndex.drop(1))
      assert(bits(b) == graft.ext.Profile.bloomBitmap(
          prefix.toDF("v"), "v", 3, 256).toSeq,
        s"running bitmap after batch $b != batch build over the prefix")
    val before = (1 to 2).map(bits)
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert((1 to 2).map(bits) == before, "replay altered the bitmaps")
  }

  test("minhash ingest-to-sink: exactly-once across a forced restart replay") {
    // the dedup loop's PRODUCTION sink form: three micro-batches probe the
    // stored index and append themselves; the last batch's checkpoint
    // commit is deleted (crash-between-effect-and-commit) and the stream
    // restarts — the replayed append is skipped by its tag, the replayed
    // PROBE excludes the already-committed segment (reconstructing the
    // pre-append index, so its verdicts are identical), and the sink
    // directory overwrite changes nothing.
    def doc(id: Long, tag: String) =
      (id, (0 until 30).map(j => s"sd${tag}x$j").mkString(" "))
    val head = (0 until 12).map(i => doc(i.toLong, s"h$i"))
    val b0 = Seq(doc(100L, "h0"), doc(101L, "u101"), doc(102L, "u102"))
    val b1 = Seq(doc(200L, "h1"), doc(201L, "u101"), doc(202L, "u202"))
    val b2 = Seq(doc(300L, "h2"), doc(301L, "u301"), doc(302L, "u302"))
    val idx = java.nio.file.Files.createTempDirectory("graft-mhsink-idx-").toString
    graft.ext.Dedup.buildMinhashIndex(spark, idx,
      head.toDF("doc_id", "text"), "text", "doc_id")
    val src = java.nio.file.Files.createTempDirectory("graft-mhsink-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100) // distinct mtimes: deterministic batch order
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-mhsink-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mhsink-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1,b2}/*.parquet")
    Streaming.minhashDedupIngestToSink(stream, idx, "text", "doc_id",
      sink, ckpt, threshold = 0.9)
    def sinkPairs() = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("id_a"), col("id_b"))
      .as[(Long, Long, Long)].collect().toSet
    def shingleCount() = graft.ext.Dedup.minhashIndexShingles(
      graft.ext.Dedup.openMinhashIndex(spark, idx)).count()
    val before = sinkPairs()
    // disjoint vocabularies → exactly the planted copies, including the
    // CROSS-BATCH pair (101, 201) that only an accumulated index can see
    assert(before == Set((0L, 0L, 100L), (1L, 1L, 200L), (1L, 101L, 201L),
      (2L, 2L, 300L)))
    assert(shingleCount() == (12 + 9).toLong)
    // forced replay of batch 2
    val commit2 = java.nio.file.Paths.get(ckpt, "commits", "2")
    assert(java.nio.file.Files.exists(commit2), "checkpoint layout changed")
    java.nio.file.Files.delete(commit2)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    Streaming.minhashDedupIngestToSink(stream, idx, "text", "doc_id",
      sink, ckpt, threshold = 0.9)
    // exactly-once: no double-stored shingles (Jaccard corruption), no
    // duplicate segments, identical sink
    assert(shingleCount() == (12 + 9).toLong,
      "replayed batch was double-appended to the index")
    assert(sinkPairs() == before, "replay altered the sink")
    // a fresh probe over the final index still verifies exactly (shingle
    // store uncorrupted): a copy of head doc 3 matches only head doc 3
    val post = releasing(graft.ext.Dedup.minhashDedupAgainstIndex(
        graft.ext.Dedup.openMinhashIndex(spark, idx),
        Seq(doc(9999L, "h3")).toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(post == Set((3L, 9999L)))
  }

  test("minhash ingest sink: auto-compaction mid-stream, replay after fold") {
    // the maintenance LOOP closed: with autoCompactAt=1 every batch's
    // append is immediately folded into one sorted base, so the store
    // never fragments over an unbounded ingest — and the batch's OWN
    // segment is gone by the time a crash-replay probes. The id-based
    // exclusion must reconstruct the pre-append view from the compacted
    // layout: verdicts (including the cross-batch pair) and the shingle
    // count must come through the replay unchanged.
    def doc(id: Long, tag: String) =
      (id, (0 until 30).map(j => s"ac${tag}x$j").mkString(" "))
    val head = (0 until 12).map(i => doc(i.toLong, s"h$i"))
    val b0 = Seq(doc(100L, "h0"), doc(101L, "u101"), doc(102L, "u102"))
    val b1 = Seq(doc(200L, "h1"), doc(201L, "u101"), doc(202L, "u202"))
    val b2 = Seq(doc(300L, "h2"), doc(301L, "u301"), doc(302L, "u302"))
    val idx = java.nio.file.Files.createTempDirectory("graft-mhac-idx-").toString
    graft.ext.Dedup.buildMinhashIndex(spark, idx,
      head.toDF("doc_id", "text"), "text", "doc_id")
    val src = java.nio.file.Files.createTempDirectory("graft-mhac-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-mhac-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mhac-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1,b2}/*.parquet")
    Streaming.minhashDedupIngestToSink(stream, idx, "text", "doc_id",
      sink, ckpt, threshold = 0.9, autoCompactAt = 1)
    def segs() = graft.ext.Dedup.openMinhashIndex(spark, idx)
      .liveSegments
    def sinkPairs() = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("id_a"), col("id_b"))
      .as[(Long, Long, Long)].collect().toSet
    def shingleCount() = graft.ext.Dedup.minhashIndexShingles(
      graft.ext.Dedup.openMinhashIndex(spark, idx)).count()
    val expected = Set((0L, 0L, 100L), (1L, 1L, 200L), (1L, 101L, 201L),
      (2L, 2L, 300L))
    assert(sinkPairs() == expected,
      "auto-compaction changed the dedup ledger")
    assert(segs() == List("seg_c2"),
      s"expected one folded generation, got ${segs()}")
    assert(shingleCount() == (12 + 9).toLong)
    // forced replay of batch 2 — its segment no longer exists (folded);
    // the id-exclusion path must reproduce the original verdicts
    val commit2 = java.nio.file.Paths.get(ckpt, "commits", "2")
    assert(java.nio.file.Files.exists(commit2), "checkpoint layout changed")
    java.nio.file.Files.delete(commit2)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    Streaming.minhashDedupIngestToSink(stream, idx, "text", "doc_id",
      sink, ckpt, threshold = 0.9, autoCompactAt = 1)
    assert(shingleCount() == (12 + 9).toLong,
      "replayed batch was double-appended after compaction")
    assert(sinkPairs() == expected, "replay altered the sink")
  }

  test("minhash ingest sink: FILE-count auto-compaction policy") {
    // the many-tiny-batch regime where a segment-count policy under-fires
    // (each segment is a sliver but the per-file open cost accumulates —
    // the r17 maint-decade slope): the trigger measure here is LIVE
    // PARQUET FILES from the handle's cached per-segment listings. With
    // the threshold pinned to the head's own file count, every batch's
    // append crosses it and folds — ledger, layout, and shingle store
    // must come out exactly as the segment-count policy produces.
    def doc(id: Long, tag: String) =
      (id, (0 until 30).map(j => s"fc${tag}x$j").mkString(" "))
    val head = (0 until 12).map(i => doc(i.toLong, s"h$i"))
    val b0 = Seq(doc(100L, "h0"), doc(101L, "u101"), doc(102L, "u102"))
    val b1 = Seq(doc(200L, "h1"), doc(201L, "u101"), doc(202L, "u202"))
    val idx = java.nio.file.Files.createTempDirectory("graft-mhfc-idx-").toString
    graft.ext.Dedup.buildMinhashIndex(spark, idx,
      head.toDF("doc_id", "text"), "text", "doc_id")
    val baseFiles = graft.ext.Dedup.openMinhashIndex(spark, idx).liveFileCount
    assert(baseFiles > 0L, "the handle must see the base segment's files")
    val src = java.nio.file.Files.createTempDirectory("graft-mhfc-src-")
    for ((b, i) <- Seq(b0, b1).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-mhfc-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-mhfc-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    Streaming.minhashDedupIngestToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1}/*.parquet"),
      idx, "text", "doc_id", sink, ckpt, threshold = 0.9,
      autoCompactAt = 0, autoCompactFiles = baseFiles)
    val h = graft.ext.Dedup.openMinhashIndex(spark, idx)
    assert(h.liveSegments == List("seg_c1"),
      s"file policy never fired: ${h.liveSegments}")
    val pairs = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("id_a"), col("id_b"))
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((0L, 0L, 100L), (1L, 1L, 200L), (1L, 101L, 201L)),
      "file-count policy changed the dedup ledger")
    assert(graft.ext.Dedup.minhashIndexShingles(
      graft.ext.Dedup.openMinhashIndex(spark, idx)).count() == (12 + 6).toLong)
  }

  /** Runs the per-source quota sink over `batches` (one file-stream
    * micro-batch each, in order) and returns the kept ledger as
    * (batch_id, source, doc_id, n_kept). */
  private def quotaLedger(maxPerSource: Int,
                          batches: Seq[(String, Long)]*): Set[(Long, String, Long, Long)] = {
    val src = java.nio.file.Files.createTempDirectory("graft-quota-src-")
    for ((b, i) <- batches.zipWithIndex) {
      b.toDF("source", "doc_id").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100) // distinct mtimes: deterministic batch order
    }
    val sink = tmp("graft-quota-out-")
    Streaming.sourceQuotaToSink(
      spark.readStream.schema(spark.read.parquet(s"$src/b0").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(batches.indices.map(i => s"b$i").mkString(s"$src/{", ",", "}/*.parquet")),
      "source", "doc_id", maxPerSource, sink, tmp("graft-quota-ck-"))
    spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("source"), col("doc_id"),
        col("n_kept"))
      .as[(Long, String, Long, Long)].collect().toSet
  }

  test("source quota: first-N admission across batches, state caps every key") {
    // online per-source quota: within a batch admission is id-sorted
    // (arrival order within a batch carries no meaning); across batches
    // the carried count caps the key for the stream's whole life
    val ledger = quotaLedger(3,
      Seq(("A", 5L), ("A", 3L), ("A", 1L), ("A", 9L), ("B", 10L)),
      Seq(("A", 2L), ("A", 4L), ("B", 12L), ("B", 11L), ("C", 7L)))
    val afterB1 = ledger.filter(_._1 == 0L).map(r => (r._2, r._3, r._4))
    // A admits its 3 smallest ids of the batch; 9 is over quota
    assert(afterB1 == Set(("A", 1L, 1L), ("A", 3L, 2L), ("A", 5L, 3L),
      ("B", 10L, 1L)), s"got $afterB1")
    // A is full: nothing admitted; B admits 2 more (sorted), C opens
    val afterB2 = ledger.map(r => (r._2, r._3, r._4))
    assert(afterB2 == afterB1 ++ Set(("B", 11L, 2L), ("B", 12L, 3L),
      ("C", 7L, 1L)), s"got $afterB2")
  }

  test("source quota: hot source with per-batch size >> room stays bounded") {
    // the skew case the operator exists to police: one source floods a
    // single micro-batch with far more documents than its remaining
    // quota. Admission must keep exactly the smallest `room` ids, and a
    // second flood into the full source admits nothing.
    val rng = new scala.util.Random(7)
    val ids = rng.shuffle((1L to 5000L).toVector)
    val ledger = quotaLedger(4, ids.map(i => ("hot", i)),
      (5001L to 6000L).map(i => ("hot", i)))
    assert(ledger == Set((0L, "hot", 1L, 1L), (0L, "hot", 2L, 2L),
      (0L, "hot", 3L, 3L), (0L, "hot", 4L, 4L)), s"got $ledger")
  }

  test("source-quota sink: carried counts, exactly-once restart, state GC") {
    // the durable form of the quota: three micro-batches, at most 3 per
    // source over the stream's life; the kept ledger must follow the
    // first-N admission law (per batch, id-sorted on top of the carried
    // count, only admitted rows advance it); a forced replay
    // of the last batch rewrites identical verdicts and state, and the
    // state history is GC'd to newest + one grace generation.
    val b0 = Seq(("A", 5L), ("A", 3L), ("A", 1L), ("A", 9L), ("B", 10L))
    val b1 = Seq(("A", 2L), ("B", 12L), ("B", 11L), ("C", 7L))
    val b2 = Seq(("B", 20L), ("C", 8L), ("D", 30L))
    val src = java.nio.file.Files.createTempDirectory("graft-sqs-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("source", "doc_id").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-sqs-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqs-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.sourceQuotaToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "source", "doc_id", maxPerSource = 3, sink, ckpt)
    run()
    def verdicts() = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("source"), col("doc_id"),
        col("n_kept"))
      .as[(Long, String, Long, Long)].collect().toSet
    val before = verdicts()
    assert(before == Set(
      (0L, "A", 1L, 1L), (0L, "A", 3L, 2L), (0L, "A", 5L, 3L),
      (0L, "B", 10L, 1L),                    // batch 0: A full, 9 cut
      (1L, "B", 11L, 2L), (1L, "B", 12L, 3L),
      (1L, "C", 7L, 1L),                     // batch 1: A stays full
      (2L, "C", 8L, 2L), (2L, "D", 30L, 1L)  // batch 2: B now full
    ), s"unexpected ledger $before")
    // final counts = admitted per source, only admitted rows advanced
    val counts = spark.read.parquet(s"$sink/_state/batch_id=2")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("A" -> 3L, "B" -> 3L, "C" -> 2L, "D" -> 1L))
    // GC: newest + grace only
    val stateDirs = new java.io.File(s"$sink/_state").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted
    assert(stateDirs.sameElements(Array("batch_id=1", "batch_id=2")),
      s"state history not GC'd: ${stateDirs.mkString(",")}")
    // forced replay of batch 2
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(verdicts() == before, "replay altered the admission ledger")
    assert(spark.read.parquet(s"$sink/_state/batch_id=2")
      .as[(String, Long)].collect().toMap == counts,
      "replay altered the counts")
  }

  test("ivf ingest sink: standing ANN alerts, auto-compaction, exact replay") {
    // the THIRD stored index on the probe-then-append discipline: each
    // embedding batch retrieves its nearest neighbors from the
    // accumulated index (batch 1 must see batch 0's vectors — the
    // cross-batch alert), appends itself as a tagged segment, and the
    // store auto-folds to one generation per batch. A forced replay of
    // the last batch — whose own segment has been compacted away — must
    // reproduce the ledger bit for bit via the id-based exclusion.
    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val head = (0 until 8).map(i => (i.toLong, basis(i % 4)))
    val corpus = head.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfs-idx-").toString
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 4L),
      idx)
    val b0 = Seq((100L, basis(0)), (101L, basis(1)))
    val b1 = Seq((200L, basis(0)))
    val src = java.nio.file.Files.createTempDirectory("graft-ivfs-src-")
    for ((b, i) <- Seq(b0, b1).zipWithIndex) {
      b.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-ivfs-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfs-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1}/*.parquet")
    Streaming.ivfIngestToSink(stream, idx, "vec_id", "embedding",
      k = 3, nprobe = 1, sink, ckpt, autoCompactAt = 1)
    def ledger() = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("query_id"),
        col("corpus_id"), col("rank"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val before = ledger()
    // exact-copy vectors tie at cosine 1, broken by corpus_id asc; the
    // batch-1 query sees batch 0's vector 100 — the accumulated index
    assert(before == Set(
      (0L, 100L, 0L, 1L), (0L, 100L, 4L, 2L),
      (0L, 101L, 1L, 1L), (0L, 101L, 5L, 2L),
      (1L, 200L, 0L, 1L), (1L, 200L, 4L, 2L), (1L, 200L, 100L, 3L)),
      s"unexpected ledger $before")
    assert(Similarity.openIvfIndex(spark, idx).liveSegments == List("seg_c1"),
      "expected one folded generation after per-batch auto-compaction")
    def storeCount() = Similarity.prunedCorpusScan(
      Similarity.openIvfIndex(spark, idx), 0 until 4)
      .count()
    assert(storeCount() == 11L)
    // forced replay of batch 1 — its segment is already folded away
    val commit1 = java.nio.file.Paths.get(ckpt, "commits", "1")
    assert(java.nio.file.Files.exists(commit1), "checkpoint layout changed")
    java.nio.file.Files.delete(commit1)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    Streaming.ivfIngestToSink(stream, idx, "vec_id", "embedding",
      k = 3, nprobe = 1, sink, ckpt, autoCompactAt = 1)
    assert(ledger() == before, "replay altered the ANN alert ledger")
    assert(storeCount() == 11L, "replayed batch was double-appended")
    // the quiesce guard (SCALING.md §7, now enforced): with the commit
    // log intact, a recentring compaction guarded by this checkpoint is
    // allowed; with the newest commit removed (a started-but-uncommitted
    // batch — the crash-replay window) it must REFUSE, because a
    // replayed probe against recentred cells could emit different
    // verdicts than its first attempt. Plain compaction stays allowed
    // either way — it preserves assignments and is replay-exact.
    Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx),
      recentre = true,
      quiesceCheckpoint = Some(ckpt))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    val e = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx),
        recentre = true,
        quiesceCheckpoint = Some(ckpt))
    }
    assert(e.getMessage.contains("recentre refused"))
    // round 20: the guard is AUTOMATIC on stream-fed stores — the sink
    // recorded its checkpoint in the index meta, so recentring with NO
    // quiesceCheckpoint must refuse too (the r19 guard was opt-in and
    // the default path kept the hazard reachable)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx),
        recentre = true)
    }
    assert(e2.getMessage.contains("recentre refused"))
    Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx),
      recentre = false,
      quiesceCheckpoint = Some(ckpt)) // assignment-preserving: always ok
  }

  test("curation sink: quality -> dedup-vs-curated -> budget, exact replay") {
    // the end-to-end admission pipeline with every gate exercised:
    // a short row fails quality; an exact copy of a HEAD doc and a copy
    // of an earlier ADMITTED doc both drop as dups (the index grows by
    // admissions only); a copy of a REJECTED (over-budget) doc is NOT a
    // dup and gets its own budget verdict; the fill carries per language.
    def doc(id: Long, lang: String, nWords: Int, tag: String) =
      (id, lang, (0 until nWords).map(j => s"cu${tag}w$j").mkString(" "),
        nWords.toLong) // priority = nWords here
    val head = Seq(doc(0L, "en", 30, "h0"), doc(1L, "de", 30, "h1"))
    val idx = java.nio.file.Files.createTempDirectory("graft-cur-idx-").toString
    graft.ext.Dedup.buildMinhashIndex(spark, idx,
      head.toDF("doc_id", "lang", "text", "prio"), "text", "doc_id")
    // budget 80: b0 admits 100 (60 tokens) and 102 (20; cum 80), REJECTS
    // nothing... make 103 overflow: 60+20+30>80 -> 103 cut
    val b0 = Seq(doc(100L, "en", 60, "a"), (101L, "en", head.head._3, 5L),
      doc(102L, "en", 20, "b"), doc(103L, "en", 30, "c"),
      (104L, "en", "tiny", 1L))
    val b1 = Seq((200L, "en", b0.head._3, 9L), // copy of ADMITTED 100 -> dup
      (201L, "en", (0 until 30).map(j => s"cucw$j").mkString(" "), 8L),
      // ^ copy of REJECTED 103 -> NOT a dup (103 never entered the index)
      doc(202L, "de", 40, "d")) // fresh language, own budget
    val src = java.nio.file.Files.createTempDirectory("graft-cur-src-")
    for ((b, i) <- Seq(b0, b1).zipWithIndex) {
      b.toDF("doc_id", "lang", "text", "prio")
        .coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-cur-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cur-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.curateIngestToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1}/*.parquet"),
      "doc_id", "text", "lang", "prio", idx, threshold = 0.9,
      minTokens = 3L, budget = 80L, sink, ckpt)
    run()
    def verdicts() = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("doc_id"),
        col("quality_ok"), col("is_dup"),
        coalesce(col("cum_tokens"), lit(-1L)), col("admitted"))
      .as[(Long, Long, Boolean, Boolean, Long, Boolean)].collect().toSet
    val before = verdicts()
    assert(before == Set(
      (0L, 100L, true, false, 60L, true),  // priority 60 fills first
      (0L, 101L, true, true, -1L, false),  // copy of head doc 0
      (0L, 102L, true, false, 110L, false), // 60+30+20 — prio order: 103 first
      (0L, 103L, true, false, 90L, false), // 60+30 > 80 — cut
      (0L, 104L, false, false, -1L, false), // quality fail
      (1L, 200L, true, true, -1L, false),  // copy of ADMITTED 100
      (1L, 201L, true, false, 140L, false), // copy of REJECTED 103: no dup,
      // but en fill already 110 -> 110+30 over budget
      (1L, 202L, true, false, 40L, true)), // de budget independent
      s"unexpected verdicts $before")
    // the curated index = head + admitted only (100 and 202)
    val shingles = graft.ext.Dedup.minhashIndexShingles(
      graft.ext.Dedup.openMinhashIndex(spark, idx)).count()
    assert(shingles == 4L, s"index must hold head(2) + admitted(2), got $shingles")
    // forced replay of batch 1
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(verdicts() == before, "replay altered the curation verdicts")
    assert(graft.ext.Dedup.minhashIndexShingles(
      graft.ext.Dedup.openMinhashIndex(spark, idx)).count() == 4L,
      "replay double-appended the curated corpus")
  }

  test("semantic dedup sink: cross-batch drops from persisted state, exact replay") {
    // the 7th durable family: batch 1's copy of a batch-0 vector must
    // drop against the PERSISTED cell-assigned state (not driver memory);
    // a forced replay of the last batch joins only state dirs < its id —
    // its own partially-rewritten dir is structurally excluded — and
    // reproduces identical verdicts and state.
    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val cents = (0 until 4).map(j => (j, basis(j).toSeq)).toArray
    val b0 = Seq((0L, basis(0)), (1L, basis(1)))
    val b1 = Seq((10L, basis(0)), (11L, basis(2)))  // 10 dups 0 cross-batch
    val b2 = Seq((20L, basis(2)), (21L, basis(3)), (22L, basis(3)))
    val src = java.nio.file.Files.createTempDirectory("graft-sems-src-")
    for ((b, i) <- Seq(b0, b1, b2).zipWithIndex) {
      b.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-sems-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sems-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.semanticDedupToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1,b2}/*.parquet"),
      "vec_id", "embedding", cents, threshold = 0.95, sink, ckpt)
    run()
    def verdicts() = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("id"), col("keep"))
      .as[(Long, Long, Boolean)].collect().toSet
    val before = verdicts()
    assert(before == Set(
      (0L, 0L, true), (0L, 1L, true),
      (1L, 10L, false), // cross-batch dup of 0 — via persisted state
      (1L, 11L, true),
      (2L, 20L, false), // cross-batch dup of 11
      (2L, 21L, true), (2L, 22L, false)), // in-batch dup of 21
      s"unexpected verdicts $before")
    def stateRows() = spark.read.parquet(s"$sink/_state").count()
    assert(stateRows() == 7L, "state must hold every assigned row")
    // forced replay of batch 2
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "2"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".2.crc"))
    run()
    assert(verdicts() == before, "replay altered the verdicts")
    assert(stateRows() == 7L, "replay altered the state store")
  }

  test("semantic dedup sink: bounded horizon equals exact within-horizon, caps state, replays") {
    // round 20: horizonBatches — (a) on a corpus whose duplicate pairs
    // are all within ONE batch of each other, the horizoned run equals
    // the exact (unbounded) run verdict-for-verdict; (b) state dirs are
    // GC'd beyond the horizon (5 batches -> at most horizon+1 = 2 dirs,
    // vs 5 for exact); (c) a forced replay of the last batch reproduces
    // identical verdicts from the RETAINED window.
    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val cents = (0 until 5).map(j => (j, basis(j).toSeq)).toArray
    // duplicates only within adjacent batches: b1 dups b0, b3 dups b2;
    // b4 is fresh — nothing spans a batch gap > 1
    val batches = Seq(
      Seq((0L, basis(0)), (1L, basis(1))),
      Seq((10L, basis(1)), (11L, basis(2))), // 10 dups 1 (adjacent)
      Seq((20L, basis(3))),
      Seq((30L, basis(3)), (31L, basis(4))), // 30 dups 20 (adjacent)
      Seq((40L, basis(0))))                  // dups 0 — but 4 batches away
    def mkSrc(): String = {
      val src = java.nio.file.Files.createTempDirectory("graft-semh-src-")
      for ((b, i) <- batches.zipWithIndex) {
        b.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$src/b$i")
        Thread.sleep(1100)
      }
      src.toString
    }
    def run(src: String, sink: String, ckpt: String, horizon: Int): Unit =
      Streaming.semanticDedupToSink(
        spark.readStream.schema(spark.read.parquet(s"$src/b0").schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$src/{b0,b1,b2,b3,b4}/*.parquet"),
        "vec_id", "embedding", cents, threshold = 0.95, sink, ckpt,
        horizonBatches = horizon)
    def verdicts(sink: String) = spark.read.parquet(s"$sink/data")
      .select(col("batch_id").cast("long"), col("id"), col("keep"))
      .as[(Long, Long, Boolean)].collect().toSet
    val srcE = mkSrc()
    val sinkE = java.nio.file.Files.createTempDirectory("graft-semh-e-").toString
    run(srcE, sinkE,
      java.nio.file.Files.createTempDirectory("graft-semh-ec-").toString, 0)
    val srcH = mkSrc()
    val sinkH = java.nio.file.Files.createTempDirectory("graft-semh-h-").toString
    val ckptH = java.nio.file.Files.createTempDirectory("graft-semh-hc-").toString
    run(srcH, sinkH, ckptH, 1)
    // (a) within-horizon corpus: horizoned == exact. EXCEPT row 40 —
    // its only twin (row 0) is 4 batches back: the exact run drops it,
    // the horizoned run keeps it. Everything else identical.
    val e = verdicts(sinkE)
    val h = verdicts(sinkH)
    assert(e - ((4L, 40L, false)) == h - ((4L, 40L, true)),
      s"horizoned diverged beyond the planted far pair: exact=$e horizon=$h")
    assert(e.contains((4L, 40L, false)) && h.contains((4L, 40L, true)),
      "the far twin must drop under exact and survive under horizon=1")
    // (b) state capped: exact retains all 5 dirs, horizon=1 at most 2
    def stateDirs(sink: String): Int = {
      val d = new java.io.File(s"$sink/_state")
      if (!d.exists()) 0
      else d.listFiles().count(f => f.isDirectory &&
        f.getName.startsWith("batch_id="))
    }
    assert(stateDirs(sinkE) == 5, s"exact run: ${stateDirs(sinkE)} dirs")
    assert(stateDirs(sinkH) <= 2,
      s"horizon=1 must cap state at 2 dirs, found ${stateDirs(sinkH)}")
    // (c) forced replay of the last batch from the retained window
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckptH, "commits", "4"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckptH, "commits", ".4.crc"))
    run(srcH, sinkH, ckptH, 1)
    assert(verdicts(sinkH) == h, "replay altered the horizoned verdicts")
    assert(stateDirs(sinkH) <= 2, "replay broke the state cap")
  }

  test("pq ingest sink: codes-only alerts, auto-compaction, exact replay") {
    // the FOURTH stored index on the probe-then-append discipline: same
    // shape as the IVF sink test, but the store holds m-int codes — the
    // batch encodes against the STORED codebooks, so exact copies of
    // head vectors score ADC cosine 1.0 and the ledger is deterministic.
    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val corpus = (0 until 8).map(i => (i.toLong, basis(i % 4)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-pqs-idx-").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 4L),
      Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding", m = 4,
        0L until 8L),
      idx)
    val b0 = Seq((100L, basis(0)), (101L, basis(1)))
    val b1 = Seq((200L, basis(0)))
    val src = java.nio.file.Files.createTempDirectory("graft-pqs-src-")
    for ((b, i) <- Seq(b0, b1).zipWithIndex) {
      b.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val sink = java.nio.file.Files.createTempDirectory("graft-pqs-out-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pqs-ck-").toString
    val schema = spark.read.parquet(s"$src/b0").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/{b0,b1}/*.parquet")
    def run(): Unit = Streaming.pqIngestToSink(stream, idx, "vec_id",
      "embedding", k = 3, nprobe = 1, sink, ckpt, autoCompactAt = 1)
    run()
    def ledger() = spark.read.parquet(sink)
      .select(col("batch_id").cast("long"), col("query_id"),
        col("corpus_id"), col("rank"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val before = ledger()
    assert(before == Set(
      (0L, 100L, 0L, 1L), (0L, 100L, 4L, 2L),
      (0L, 101L, 1L, 1L), (0L, 101L, 5L, 2L),
      (1L, 200L, 0L, 1L), (1L, 200L, 4L, 2L), (1L, 200L, 100L, 3L)),
      s"unexpected PQ ledger $before")
    assert(Similarity.openIvfIndex(spark, idx).liveSegments == List("seg_c1"),
      "expected one folded generation after per-batch auto-compaction")
    def storeCount() = spark.read.parquet(s"$idx/seg_c1").count()
    assert(storeCount() == 11L)
    // forced replay of batch 1 — its segment is already folded away; the
    // id-based exclusion must reconstruct the pre-append codes view
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(ledger() == before, "replay altered the PQ alert ledger")
    assert(storeCount() == 11L, "replayed batch was double-appended")
  }

  test("bm25 ingest sink: auto-compaction mid-stream, identical probes") {
    // same policy on the BM25 store: delta history folds whenever it
    // crosses the threshold; per-batch probes score index CONTENT, so
    // the ledger equals the non-compacting run's and the store ends with
    // zero deltas instead of one per batch.
    val docs = (0 until 24).map(i =>
      (i.toLong, s"w$i alpha beta w${i % 7}"))
    val src = java.nio.file.Files.createTempDirectory("graft-bmac-src-")
    for ((b, i) <- docs.drop(8).grouped(8).zipWithIndex) {
      b.toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b$i")
      Thread.sleep(1100)
    }
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(ac: Int): (Set[(Long, Long, Long, Long)], Int) = {
      val store = java.nio.file.Files.createTempDirectory("graft-bmac-s-").toString
      graft.ext.Bm25.buildIndex(
        docs.take(8).toDF("doc_id", "text"), "doc_id", "text", store,
        numBuckets = 4)
      val sink = java.nio.file.Files.createTempDirectory("graft-bmac-o-").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-bmac-c-").toString
      Streaming.bm25IngestToSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$src/{b0,b1}/*.parquet"),
        store, "doc_id", "text", Seq("alpha", "w3"), k = 20,
        sink, ckpt, autoCompactAt = ac)
      val pairs = spark.read.parquet(sink)
        .select(col("batch_id").cast("long"), col("rank"), col("doc_id"),
          col("score_u6"))
        .as[(Long, Long, Long, Long)].collect().toSet
      (pairs, graft.ext.Bm25.openIndex(spark, store).deltaSegments)
    }
    val (base, baseDeltas) = run(ac = 0)
    val (compacted, compactedDeltas) = run(ac = 1)
    assert(baseDeltas == 2 && compactedDeltas == 0,
      s"expected 2 vs 0 live deltas, got $baseDeltas vs $compactedDeltas")
    assert(compacted == base,
      "auto-compaction changed a per-batch probe verdict")
  }

  test("streaming LM scoring: multi-batch stream equals batch, static model pinned") {
    // the continuous-ingest quality-scoring shape: a PINNED reference model
    // (fit on the first shard only) scores shards as they arrive; batch
    // boundaries must not matter because a doc scores whole within its batch
    val dir = java.nio.file.Files.createTempDirectory("graft-lmstream-")
    def mkDocs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong,
        if (i % 3 == 0) "the quick brown fox" else s"rare$i words here"))
        .toDF("doc_id", "text")
    mkDocs(0 until 40).coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    mkDocs(40 until 80).coalesce(1).write.parquet(s"$dir/b1")
    val lm = graft.ext.LangModel.fit(mkDocs(0 until 40), "text")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-lmstream-out-")
    Streaming.pinnedLmScoreToSink(stream, "doc_id", "text", lm, sink,
      tmp("graft-lmstream-ck-"))
    val streamed = spark.read.parquet(s"$sink/data").drop("batch_id")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.ext.LangModel.score(mkDocs(0 until 80),
      "doc_id", "text", lm).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.length == 80)
  }

  test("pinned-model lm sink: stateless verdicts, exactly-once restart") {
    // the pinned model scores each batch on its own: a forced replay of
    // the last batch rewrites identical verdicts into its own directory
    val src = java.nio.file.Files.createTempDirectory("graft-lmpin-src-")
    def mkDocs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong,
        if (i % 2 == 0) "the quick brown fox" else s"slow$i grey dog"))
        .toDF("doc_id", "text")
    mkDocs(0 until 20).coalesce(1).write.parquet(s"$src/b0")
    Thread.sleep(1100)
    mkDocs(20 until 40).coalesce(1).write.parquet(s"$src/b1")
    val lm = graft.ext.LangModel.fit(mkDocs(0 until 10), "text")
    val sink = tmp("graft-lmpin-out-")
    val ckpt = tmp("graft-lmpin-ck-")
    val schema = spark.read.parquet(s"$src/b0").schema
    def run(): Unit = Streaming.pinnedLmScoreToSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/{b0,b1}/*.parquet"),
      "doc_id", "text", lm, sink, ckpt)
    run()
    def verdicts() = spark.read.parquet(s"$sink/data")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val before = verdicts()
    assert(before.map(_.last) == (0 until 40).map(_ / 20))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(verdicts() == before, "replay altered the verdicts")
  }

  test("leak check: a left-behind query or persisted frame is reported") {
    // the per-test check itself: a cached frame and a running query both
    // show, and vanish once released
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val cached = Seq(1, 2, 3).toDF("x").persist()
    cached.count()
    val input = MemoryStream[Int]
    val q = input.toDF().writeStream.format("noop").start()
    try {
      val leaks = leftBehind(rdds)
      assert(leaks.exists(_.startsWith("active query")), s"got $leaks")
      assert(leaks.exists(_.startsWith("persisted RDDs grew")), s"got $leaks")
    } finally { q.stop(); cached.unpersist(blocking = true) }
    assert(leftBehind(rdds).isEmpty)
  }

  test("streaming count-min sketch: multi-batch fold equals the batch sketch") {
    // two micro-batches with OVERLAPPING value sets: the per-batch
    // counter folds must sum into exactly the whole-stream sketch
    val dir = java.nio.file.Files.createTempDirectory("graft-cmsstream-")
    def mk(ids: Range) = ids.map(i => s"v${i % 29}").toDF("v")
    mk(0 until 120).coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    mk(120 until 200).coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-cmsstream-out-")
    Streaming.cmsSketchToSink(stream, "v", 4, 32, sink,
      tmp("graft-cmsstream-ck-"))
    val streamed = newest(s"$sink/_state")
      .orderBy("row", "bucket").collect().map(_.toSeq).toSeq
    val batch = graft.ext.Profile.cmsSketch(mk(0 until 200), "v", 4, 32)
      .orderBy("row", "bucket").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // total counter mass = depth × occurrences, proof both batches landed
    assert(streamed.map(_(2).asInstanceOf[Long]).sum == 4L * 200L)
  }

  test("streaming bloom build: multi-batch OR-fold equals the batch bitmap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomstream-")
    def mk(ids: Range) = ids.map(i => s"m$i").toDF("v")
    mk(0 until 150).coalesce(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    mk(100 until 300).coalesce(1).write.parquet(s"$dir/b1") // overlap 100-149
    val schema = spark.read.parquet(s"$dir/b0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/{b0,b1}/*.parquet")
    val sink = tmp("graft-bloomstream-out-")
    Streaming.bloomBitmapToSink(stream, "v", 3, 1024, sink,
      tmp("graft-bloomstream-ck-"))
    val streamed = newest(s"$sink/_state").orderBy("idx")
      .select("word").as[Long].collect()
    val batch = graft.ext.Profile.bloomBitmap(mk(0 until 300), "v", 3, 1024)
    assert(streamed.toSeq == batch.toSeq)
    // and the streamed filter answers probes like the batch one: every
    // member hits
    val hits = mk(0 until 300).select(
        graft.ext.Profile.bloomMightContain(streamed, col("v"), 3, 1024))
      .as[Boolean].collect()
    assert(hits.forall(identity))
  }

  /** Writes `batches` as `b0, b1, …` under a fresh dir, one file each, a
    * second apart so the file source delivers them in that order. */
  private def stagedBatches(prefix: String,
                            batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    val dir = tmp(prefix)
    for ((b, i) <- batches.zipWithIndex) {
      b.coalesce(1).write.parquet(s"$dir/b$i")
      if (i < batches.length - 1) Thread.sleep(1100)
    }
    dir
  }

  /** A file stream over the staged batches `names` of `dir`, one per
    * micro-batch. */
  private def batchStream(dir: String, names: String*) =
    spark.readStream.schema(spark.read.parquet(s"$dir/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/{${names.mkString(",")}}/*.parquet")

  /** Every row under `dir` minus its `batch_id`, as a sorted multiset. */
  private def rowsWithoutBatchId(dir: String): Seq[String] =
    spark.read.parquet(dir).drop("batch_id").collect().toSeq
      .map(_.toSeq.map {
        case a: Array[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).sorted

  test("idle batch: a zero-row micro-batch writes nothing and changes no result") {
    // every sink: non-empty, zero-row, non-empty. The idle batch id gets
    // no data, state, card or ledger dir, and the outputs and state equal
    // a run that never saw the zero-row file.
    def words(tag: String) = (0 until 30).map(j => s"ib${tag}w$j").mkString(" ")
    def textRows(docs: Seq[(Long, String, String)]) = docs.map {
      case (id, tag, lang) => (id, words(tag), lang, 100L - id,
        id % 3 * 10 + 5, s"s${id % 2}", s"v${id % 3}")
    }.toDF("doc_id", "text", "lang", "prio", "n_tokens", "source", "v")
    val text0 = textRows(Seq((0L, "a", "en"), (1L, "b", "de"),
      (2L, "c", "en"), (3L, "d", "fr")))
    val text2 = textRows(Seq((10L, "a", "en"), (11L, "e", "de"),
      (12L, "f", "en"), (13L, "g", "en")))
    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val head = (0 until 8).map(i => (i.toLong, basis(i % 4)))
      .toDF("vec_id", "embedding")
    val vec0 = Seq((100L, basis(0)), (101L, basis(1))).toDF("vec_id", "embedding")
    val vec2 = Seq((200L, basis(0)), (201L, basis(2))).toDF("vec_id", "embedding")
    val textDir = stagedBatches("graft-idle-text-",
      Seq(text0, text0.limit(0), text2))
    val vecDir = stagedBatches("graft-idle-vec-", Seq(vec0, vec0.limit(0), vec2))
    val headText = Seq((1000L, words("a")), (1001L, words("h")))
      .toDF("doc_id", "text")
    def minhashIdx(): String = {
      val idx = tmp("graft-idle-mh-")
      graft.ext.Dedup.buildMinhashIndex(spark, idx, headText, "text", "doc_id")
      idx
    }
    def cents = Similarity.centroidsByIds(head, "vec_id", "embedding", 0L until 4L)
    val lm = graft.ext.LangModel.fit(text0, "text")
    val fit = graft.ml.ExactKMeans.fit(head, "vec_id", "embedding",
      Seq(0L, 1L), iters = 3)
    val tokens = size(graft.ext.Corpus.words(col("text")))
    type Run = (org.apache.spark.sql.DataFrame, String, String) => Unit
    val cases: Seq[(String, String, Run)] = Seq(
      ("pack", textDir, (s, sink, ck) => Streaming.packSequencesToSink(
        s, "doc_id", tokens, 8L, sink, ck)),
      ("pinned lm", textDir, (s, sink, ck) => Streaming.pinnedLmScoreToSink(
        s, "doc_id", "text", lm, sink, ck)),
      ("lm", textDir, (s, sink, ck) => Streaming.lmScoreToSink(
        s, "doc_id", "text", sink, ck)),
      ("semantic dedup", vecDir, (s, sink, ck) =>
        Streaming.semanticDedupToSink(s, "vec_id", "embedding",
          (0 until 4).map(j => (j, basis(j).toSeq)).toArray, 0.95, sink, ck)),
      ("minhash", textDir, (s, sink, ck) => Streaming.minhashDedupIngestToSink(
        s, minhashIdx(), "text", "doc_id", sink, ck, threshold = 0.9)),
      ("curate", textDir, (s, sink, ck) => Streaming.curateIngestToSink(
        s, "doc_id", "text", "lang", "prio", minhashIdx(), threshold = 0.9,
        minTokens = 3L, budget = 90L, sink, ck)),
      ("quota", textDir, (s, sink, ck) => Streaming.sourceQuotaToSink(
        s, "source", "doc_id", maxPerSource = 3, sink, ck)),
      ("ivf", vecDir, (s, sink, ck) => {
        val idx = tmp("graft-idle-ivf-")
        Similarity.buildIvfIndex(head, "vec_id", "embedding", cents, idx)
        Streaming.ivfIngestToSink(s, idx, "vec_id", "embedding", k = 3,
          nprobe = 1, sink, ck)
      }),
      ("pq", vecDir, (s, sink, ck) => {
        val idx = tmp("graft-idle-pq-")
        Similarity.buildIvfPqIndex(head, "vec_id", "embedding", cents,
          Similarity.pqCodebooksByIds(head, "vec_id", "embedding", m = 4,
            0L until 8L), idx)
        Streaming.pqIngestToSink(s, idx, "vec_id", "embedding", k = 3,
          nprobe = 1, sink, ck)
      }),
      ("sharded export", textDir, (s, sink, ck) =>
        Streaming.shardedExportToSink(s, "doc_id", tokens, epoch = 3L,
          numShards = 4, seqLen = 16L, sink, ck)),
      ("data card", textDir, (s, sink, ck) => Streaming.corpusReportToSink(
        s, "lang", "text", k = 4, sink, ck)),
      ("token budget", textDir, (s, sink, ck) => Streaming.tokenBudgetToSink(
        s, "lang", "doc_id", "prio", "n_tokens", budget = 30L, sink, ck)),
      ("cms", textDir, (s, sink, ck) => Streaming.cmsSketchToSink(
        s, "v", depth = 3, width = 16, sink, ck)),
      ("bloom", textDir, (s, sink, ck) => Streaming.bloomBitmapToSink(
        s, "v", numHashes = 3, numBits = 256, sink, ck)),
      ("k-means", vecDir, (s, sink, ck) => Streaming.kmeansAssignToSink(
        s, "vec_id", "embedding", fit, sink, ck)),
      ("bm25", textDir, (s, sink, ck) => {
        val idx = tmp("graft-idle-bm25-")
        graft.ext.Bm25.buildIndex(headText, "doc_id", "text", idx,
          numBuckets = 4)
        Streaming.bm25IngestToSink(s, idx, "doc_id", "text",
          Seq("ibaw1", "ibew2"), k = 5, sink, ck)
      }))
    val outDirs = Seq("data", "_state", "card", "")
    for ((name, src, run) <- cases) {
      val idle = tmp("graft-idle-out-")
      run(batchStream(src, "b0", "b1", "b2"), idle, tmp("graft-idle-ck-"))
      val plain = tmp("graft-idle-out-")
      run(batchStream(src, "b0", "b2"), plain, tmp("graft-idle-ck-"))
      def exists(path: String) = new java.io.File(path).exists()
      assert(outDirs.exists(d => exists(s"$idle/$d/batch_id=2")),
        s"$name: the zero-row file did not make a micro-batch")
      for (d <- outDirs)
        assert(!exists(s"$idle/$d/batch_id=1"),
          s"$name: the idle batch wrote $d/batch_id=1")
      for (d <- outDirs if exists(s"$plain/$d/batch_id=0"))
        assert(rowsWithoutBatchId(s"$idle/$d") ==
          rowsWithoutBatchId(s"$plain/$d"),
          s"$name: the idle batch changed $d")
    }
  }

  test("a failing sink body fails the query and releases its batch") {
    // the priority column is missing, so the body throws after the loop
    // has persisted the batch; the leak check must see nothing pinned
    val dir = stagedBatches("graft-failbody-",
      Seq(Seq((1L, "en", 5L)).toDF("doc_id", "lang", "n_tokens")))
    val rdds = spark.sparkContext.getPersistentRDDs.size
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Streaming.tokenBudgetToSink(batchStream(dir, "b0"), "lang", "doc_id",
        "no_such_priority", "n_tokens", budget = 10L,
        tmp("graft-failbody-out-"), tmp("graft-failbody-ck-")))
    assert(leftBehind(rdds).isEmpty)
  }

  test("null-valued batch: the CMS and Bloom sinks still land their state") {
    // cmsSketch and bloomBitmap drop NULL values, so an all-NULL batch
    // adds nothing, yet it is not idle: its running state must land
    val dir = stagedBatches("graft-nullv-",
      Seq(Seq("a", "b").toDF("v"), Seq[String](null, null).toDF("v")))
    for (run <- Seq[(org.apache.spark.sql.DataFrame, String, String) => Unit](
        (s, sink, ck) => Streaming.cmsSketchToSink(s, "v", 3, 16, sink, ck),
        (s, sink, ck) => Streaming.bloomBitmapToSink(s, "v", 3, 256, sink, ck))) {
      val sink = tmp("graft-nullv-out-")
      run(batchStream(dir, "b0", "b1"), sink, tmp("graft-nullv-ck-"))
      assert(rowsWithoutBatchId(s"$sink/_state/batch_id=1") ==
        rowsWithoutBatchId(s"$sink/_state/batch_id=0"))
    }
  }
}
