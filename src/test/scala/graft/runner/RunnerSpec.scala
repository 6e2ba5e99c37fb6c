package graft.runner

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.spec._
import org.apache.spark.sql.functions.col

/** Runner semantics, mirroring the shape of the reference's
  * `tests/test_local_arrow_runner.py` per-op goldens (inline data in,
  * hand-computed rows out) plus the cache/ephemeral behaviors
  * (`tests/test_ephemeral_has_result.py`).
  */
class RunnerSpec extends SparkTestBase with graft.ops.StoredSchemaPins {

  private def inline(n: Int = 10): LoadInlineJsonDatasetOp =
    LoadInlineJsonDatasetOp(Map(
      "label" -> (0 until n).map(i => if (i % 3 == 0) "spam" else "ham"),
      "score" -> (0 until n).map(i => i.toDouble),
      "text" -> (0 until n).map(i => s"doc number $i"),
      "flag" -> (0 until n).map(i => i % 2 == 0)))

  private def newRunner() = new LocalSparkRunner(spark, newStoreDir())

  // ---------------- sources ----------------

  test("inline dataset materializes with stable row idx") {
    val r = newRunner()
    val df = r.toFrame(inline(4))
    assert(df.columns.toSet == Set("label", "score", "text", "flag", "__row_idx"))
    val rows = df.orderBy("__row_idx").collect()
    assert(rows.map(_.getAs[String]("label")).toSeq ==
      Seq("spam", "ham", "ham", "spam"))
  }

  test("file loads stamp __row_idx into the store once; re-load plan is scan-only") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val dir = Files.createTempDirectory("graft-stamp-")
    import spark.implicits._
    (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(s"$dir/t")
    val op = r.fromParquet(s"$dir/t")
    val df = r.toFrame(op)
    // the stamped copy landed in the store under the load's content hash
    assert(r.isDone(op))
    assert(Files.exists(r.opDir(op).resolve("result.parquet")))
    // the served plan reads the STAMPED parquet: __row_idx is a stored
    // column, so there is no counts exchange and no broadcast offsets join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("join"))
    // index values are identical to the unstamped construction
    def byIdx(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("__row_idx").select("id").collect().map(_.getLong(0)).toSeq
    assert(byIdx(df) == byIdx(graft.ops.ColumnOps.withRowIdxByFileOrder(
      spark.read.parquet(s"$dir/t"))))
    // a fresh runner over the same store serves the stamp without rewriting
    val mtime = Files.getLastModifiedTime(r.opDir(op).resolve("done"))
    val r2 = new LocalSparkRunner(spark, store)
    assert(byIdx(r2.toFrame(op)) == byIdx(df))
    assert(Files.getLastModifiedTime(r2.opDir(op).resolve("done")) == mtime)
  }

  test("fromParquet: identity is content, not path") {
    val r = newRunner()
    val dir = Files.createTempDirectory("graft-pq-")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/t1")
    val op1 = r.fromParquet(s"$dir/t1")
    // same bytes copied elsewhere → same uuid
    val dir2 = Files.createTempDirectory("graft-pq2-")
    val copied = Paths.get(s"$dir2/t1copy")
    Files.createDirectories(copied)
    Files.list(Paths.get(s"$dir/t1")).forEach { f =>
      if (Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        Files.copy(f, copied.resolve(f.getFileName))
    }
    val op2 = r.fromParquet(copied.toString)
    assert(op1.uuid == op2.uuid)
    assert(r.toFrame(op1).count() == 2)
  }

  test("directory hash: driver and distributed agree, dataset-dir rename invariant") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-dh-")
    import spark.implicits._
    (1 to 500).toDF("n").repartition(4).write.parquet(s"$root/ds")
    val p = Paths.get(s"$root/ds")
    // driver-side digest (no SparkSession offered)
    val local = LocalSparkRunner.contentHashOf(s"$root/ds")
    // distributed per-file hashes + manifest combine must equal it exactly
    // (bypasses the memo: the Spark job is forced regardless of size)
    val files = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toList
      finally s.close()
    }
    val dist = LocalSparkRunner.combineManifest(
      LocalSparkRunner.distributedFileHashes(spark, p, files))
    assert(dist == local)
    // renaming the DATASET directory keeps every relpath → same identity
    val renamed = root.resolve("ds-moved")
    Files.move(p, renamed)
    assert(LocalSparkRunner.contentHashOf(renamed.toString) == local)
    // renaming a file INSIDE the dataset changes the manifest → new identity
    val inner = {
      val s = Files.list(renamed)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toList.minBy(_.toString)
      finally s.close()
    }
    Files.move(inner, renamed.resolve("zz-renamed.parquet"))
    assert(LocalSparkRunner.contentHashOf(renamed.toString) != local)
  }

  test("fromJsonl / fromCsv: content identity, typed round-trip, select fusion") {
    val r = newRunner()
    val dir = Files.createTempDirectory("graft-fmt-")
    // JSONL with escapes/unicode that a sloppy codec would mangle
    Files.writeString(Paths.get(s"$dir/d.jsonl"),
      """{"id":1,"txt":"line\nbreak"}
        |{"id":2,"txt":"quote\"and\ttab"}
        |{"id":3,"txt":"emoji 😀 + ümlaut"}
        |""".stripMargin)
    val jop = r.fromJsonl(s"$dir/d.jsonl")
    val jdf = r.toFrame(jop).orderBy("__row_idx")
    assert(jdf.select("txt").collect().map(_.getString(0)).toSeq ==
      Seq("line\nbreak", "quote\"and\ttab", "emoji 😀 + ümlaut"))
    // same bytes at a different path → same op uuid
    Files.copy(Paths.get(s"$dir/d.jsonl"), Paths.get(s"$dir/d2.jsonl"))
    assert(r.fromJsonl(s"$dir/d2.jsonl").uuid == jop.uuid)
    // ...and different content → different uuid
    Files.writeString(Paths.get(s"$dir/d3.jsonl"), """{"id":9,"txt":"x"}""" + "\n")
    assert(r.fromJsonl(s"$dir/d3.jsonl").uuid != jop.uuid)
    // typed select fuses over the source like any dataset
    val txt = r.toValues(SelectTextColumnOp(jop, "txt"))
    assert(txt.length == 3 && txt.head == "line\nbreak")

    // CSV: header + quoted field with comma
    Files.writeString(Paths.get(s"$dir/d.csv"),
      "id,name\n1,\"a,b\"\n2,plain\n")
    val cop = r.fromCsv(s"$dir/d.csv")
    val cdf = r.toFrame(cop).orderBy("__row_idx")
    assert(cdf.select("name").collect().map(_.getString(0)).toSeq ==
      Seq("a,b", "plain"))
    // headerless variant is a DIFFERENT op (header participates in uuid)
    assert(r.fromCsv(s"$dir/d.csv", header = false).uuid != cop.uuid)
  }

  test("custom op: registered impl + decoder give full engine citizenship") {
    RunnerSpec.ensureRegistered()
    val r = newRunner()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L)))
    val op = RunnerSpec.ScaleScoreOp(SelectScoreColumnOp(ds, "x"), 2.5)
    // materializes through the pluggable dispatch...
    assert(r.toValues(op) == Seq(2.5, 5.0, 7.5))
    // ...persists content-addressed like any built-in (non-ephemeral)
    assert(r.isDone(op))
    // ...and round-trips graph serde with a verified uuid
    val rt = Graph.deserializeString(Graph.serializeToString(op))
    assert(rt.head.uuid == op.uuid)
    assert(rt.head.asInstanceOf[RunnerSpec.ScaleScoreOp].factor == 2.5)
    // an UNREGISTERED custom op still errors clearly
    val e = intercept[UnsupportedOperationException](r.materialize(
      RunnerSpec.UnregisteredOp(ds)))
    assert(e.getMessage.contains("registerImplementation"))
  }

  test("custom op named like a built-in or registered op is rejected") {
    val e = intercept[IllegalArgumentException](
      LocalSparkRunner.registerImplementation(classOf[RunnerSpec.TakeRowsOp]) {
        (_, _) => throw new AssertionError("never runs")
      })
    assert(e.getMessage.contains("TakeRowsOp"))
    intercept[IllegalArgumentException](
      LocalSparkRunner.registerImplementation(classOf[TakeRowsOp]) {
        (_, _) => throw new AssertionError("never runs")
      })
    val take = TakeRowsOp(inline(4), numRows = Some(2L))
    assert(Graph.deserializeString(Graph.serializeToString(take)) == Seq(take))
    // two custom classes cannot share a simple name either
    RunnerSpec.ensureRegistered()
    intercept[IllegalArgumentException](
      LocalSparkRunner.registerImplementation(classOf[RunnerSpec.Clash.ScaleScoreOp]) {
        (_, _) => throw new AssertionError("never runs")
      })
  }

  test("text-signal column ops: ephemeral, fused, and composable with masks") {
    val r = newRunner()
    val many = ("word " * 60).trim + " the unique extra tokens spread here"
    val ds = LoadInlineJsonDatasetOp(Map("text" -> Seq(
      "Hello World two", many, "")))
    val text = SelectTextColumnOp(ds, "text")
    assert(r.toValues(TokenCountOp(text)) == Seq(3L, 66L, 0L))
    assert(r.toValues(LanguageIdOp(text)).length == 3)
    val fps = r.toValues(FingerprintOp(text))
    assert(fps.distinct.length == 3 && fps.forall(_.toString.length == 32))
    val qs = r.toValues(QualityScoreOp(text)).map(_.asInstanceOf[Double])
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    // gopher gate is a BooleanColumnType: it drives MaskRowsOp directly
    val keep = GopherKeepOp(text, minWords = 50L, minUniqueFrac = 0.05)
    assert(r.toValues(keep) == Seq(false, true, false))
    val kept = r.toFrame(MaskRowsOp(ds, keep))
    assert(kept.count() == 1)
    // ephemeral: nothing persisted for the signal itself
    assert(keep.isEphemeral && !r.isDone(keep))
  }

  test("writeResult injects an external result; first writer wins; no recompute") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(10L, 20L, 30L)))
    val rid = AssignRowIDOp(ds)
    // inject a (deliberately recognizable) frame computed "elsewhere"
    import spark.implicits._
    val external = Seq((0L, 10L, 0L), (1L, 20L, 1L), (2L, 30L, 2L))
      .toDF("__row_idx", "x", "row_id")
    assert(r.writeResult(rid, FrameResult(external)))
    assert(r.isDone(rid) && r.status(rid).state == "completed")
    // served from the store — including by a fresh runner — not recomputed
    val got = new LocalSparkRunner(spark, store).toFrame(rid)
      .orderBy("__row_idx").select("x").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L, 20L, 30L))
    // immutable: a second write is refused
    assert(!r.writeResult(rid, FrameResult(external)))
    // ephemeral ops are rejected
    intercept[IllegalArgumentException](
      r.writeResult(SelectScoreColumnOp(ds, "x"), FrameResult(external)))
  }

  test("graph-native near-dup chain: LSH pairs -> drop, memoized in the store") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val ds = LoadInlineJsonDatasetOp(Map("text" -> Seq(
      "the quick brown fox jumps over the lazy dog",
      "completely different text about spark engines and scala",
      "the quick brown fox jumps over the lazy dog", // exact dup of 0
      "another unrelated document mentioning databases",
      "the quick brown fox jumps over the lazy cat"))) // near-dup of 0
    val pairs = MinHashNearDupPairsOp(SelectTextColumnOp(ds, "text"),
      threshold = 0.5)
    val found = r.toFrame(pairs).select("id_a", "id_b")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(found.contains((0L, 2L)), s"exact dup pair missing from $found")
    assert(!found.exists(p => p._1 == 1L || p._2 == 1L))

    val deduped = DropNearDuplicatesOp(ds, pairs)
    val kept = r.toFrame(deduped).orderBy(col(graft.ops.ColumnOps.RowIdx))
      .select("text").collect().map(_.getString(0))
    // row 2 (exact dup) dropped; row 4 dropped iff LSH caught (0,4)
    assert(!kept.zipWithIndex.exists { case (t, i) =>
      i > 0 && kept.take(i).contains(t) }, "exact duplicates must not survive")
    assert(kept.head.contains("lazy dog") && kept.contains(
      "completely different text about spark engines and scala"))
    // positional contract: survivors re-indexed contiguously from 0
    val idx = r.toFrame(deduped).select(graft.ops.ColumnOps.RowIdx)
      .collect().map(_.getLong(0)).sorted
    assert(idx.toSeq == idx.indices.map(_.toLong))

    // the expensive LSH pass is memoized: a fresh runner on the same store
    // has the result without recompute
    val r2 = new LocalSparkRunner(spark, store)
    assert(r2.isDone(pairs) && r2.isDone(deduped))

    // SimHash and cosine pair ops run the same row-index contract
    val shPairs = r.toFrame(SimHashNearDupPairsOp(
        SelectTextColumnOp(ds, "text"), maxHamming = 8L))
      .select("id_a", "id_b").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(shPairs.contains((0L, 2L)), s"simhash missed the exact dup: $shPairs")
    val emb0 = LoadInlineJsonDatasetOp(Map(
      "v" -> Seq(Seq(1.0, 0.0, 0.0), Seq(0.999, 0.01, 0.0), Seq(0.0, 1.0, 0.0))))
    val cosPairs = r.toFrame(CosineNearDupPairsOp(
        SelectVectorColumnOp(emb0, "v"), dim = 3L, threshold = 0.99))
      .select("id_a", "id_b").collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(cosPairs == Set((0L, 1L)), s"cosine pairs: $cosPairs")

    // ANN through the spec layer: top-2 of each query row against corpus
    val emb = LoadInlineJsonDatasetOp(Map(
      "v" -> Seq(Seq(1.0, 0.0), Seq(0.9, 0.1), Seq(0.0, 1.0))))
    val vec = SelectVectorColumnOp(emb, "v")
    val topk = AnnBruteTopKOp(vec, vec, k = 2L)
    val rows = r.toFrame(topk).orderBy(col("query_id"), col("rank"))
      .select("query_id", "corpus_id", "rank")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getInt(2)))
    assert(rows.length == 6)
    assert(rows.take(2).toSeq == Seq((0L, 0L, 1), (0L, 1L, 2)))
  }

  test("graph-native semantic dedup: cells + keep verdicts, memoized") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    // rows 0/1: near-identical (cos ≈ 1); row 2: orthogonal; row 3: exact
    // copy of row 0 — centroids = rows 0 and 2, so {0,1,3} share a cell
    val emb = LoadInlineJsonDatasetOp(Map(
      "v" -> Seq(Seq(1.0, 0.0, 0.0), Seq(0.999, 0.01, 0.0),
        Seq(0.0, 1.0, 0.0), Seq(1.0, 0.0, 0.0))))
    val sem = SemanticDedupOp(SelectVectorColumnOp(emb, "v"),
      centroidIds = Seq(0L, 2L), threshold = 0.99)
    val rows = r.toFrame(sem).orderBy(col("id"))
      .select("id", "cell", "leaf", "keep")
      .collect().map(r0 => (r0.getLong(0), r0.getInt(1), r0.getString(2),
        r0.getBoolean(3)))
    assert(rows.map(_._2).toSeq == Seq(0, 0, 1, 0), s"cells: ${rows.toSeq}")
    assert(rows.map(_._4).toSeq == Seq(true, false, true, false),
      s"keep verdicts: ${rows.toSeq}") // rows 1 and 3 have smaller-id near-dups
    assert(rows.forall(t => t._3 == t._2.toString)) // no overflow → leaf = cell
    // memoized like every non-ephemeral op
    assert(new LocalSparkRunner(spark, store).isDone(sem))
  }

  // ---------------- the SURVEY §7.2.3 minimum slice ----------------

  test("minimum slice: load→select→isin→mask→take, twice, second run is a store hit") {
    val store = newStoreDir()
    val r1 = new LocalSparkRunner(spark, store)
    val ds = inline(10)
    val label = SelectCategoricalColumnOp(ds, "label")
    val keep = CategoryToBooleanOp(label, Some(Seq("spam")))
    val masked = MaskRowsOp(ds, keep)
    val take = TakeRowsOp(masked, numRows = Some(2L))
    // spam rows are idx 0,3,6,9 → first two
    val rid = AssignRowIDOp(take) // non-ephemeral → persists
    assert(r1.toValues(rid) == Seq(0L, 1L))
    val scoreOfTaken = SelectScoreColumnOp(take, "score")
    assert(r1.toValues(scoreOfTaken) == Seq(0.0, 3.0))

    // ephemeral ops left nothing in the store
    assert(!Files.exists(r1.opDir(take).resolve("done")))
    assert(!Files.exists(r1.opDir(masked).resolve("done")))
    // non-ephemeral op persisted with done marker + status + graph
    assert(r1.isDone(rid))
    val st = r1.status(rid)
    assert(st.state == OpState.Completed)
    assert(st.resultFormat.contains("parquet"))
    assert(st.graph.nonEmpty)

    // a fresh runner over the same store: cache hit — result readable even
    // after the underlying impl would have changed (we read the store, not
    // recompute). hasResult is true before any materialize call.
    val r2 = new LocalSparkRunner(spark, store)
    assert(r2.hasResult(rid))
    assert(r2.toValues(rid) == Seq(0L, 1L))
  }

  test("a fresh runner's parquet store hit runs no Spark job until its first action") {
    val store = newStoreDir()
    val rid = AssignRowIDOp(inline(10))
    new LocalSparkRunner(spark, store).materialize(rid)
    val r2 = new LocalSparkRunner(spark, store)
    val meter = graft.Meter(spark)
    val served = try {
      val before = meter.read()
      val df = r2.toFrame(rid)
      assert((meter.read() - before).jobs == 0, "the store hit ran a Spark job")
      assert(meter.ops().filter(_.uuid == rid.uuid).map(_.outcome) ==
        Seq(graft.Meter.StoreHit))
      df
    } finally spark.sparkContext.removeSparkListener(meter)
    // what plain schema inference reads from the same dir
    val inferred = spark.read.parquet(
      r2.opDir(rid).resolve("result.parquet").toString)
    assert(served.schema == inferred.schema)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("__row_idx").collect().map(_.toSeq).toSeq
    assert(rows(served) == rows(inferred))
  }

  test("a result dir whose part files lack Spark's row metadata still opens") {
    import spark.implicits._
    val store = newStoreDir()
    val op = AssignRowIDOp(inline(2))
    new LocalSparkRunner(spark, store)
      .writeFrame(op, Seq((0L, "a"), (1L, "b")).toDF("id", "name"))
    // the same rows, written by a tool that records no Spark schema
    val dir = new LocalSparkRunner(spark, store).opDir(op)
      .resolve("result.parquet")
    Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(Files.delete)
    // nor does such a tool leave the schema file this engine writes
    Files.delete(dir.resolve(graft.ops.StoredParquet.SchemaFile))
    graft.ops.StoredParquetSpec.writeForeign(spark,
      dir.resolve("part-00000-foreign.parquet"), Seq(0L -> "a", 1L -> "b"))
    assert(graft.ops.StoredParquetSpec.footerSchema(spark, dir.toString).isEmpty)
    val df = new LocalSparkRunner(spark, store).toFrame(op)
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((0L, "a"), (1L, "b")))
  }

  test("a part file truncated or deleted, or a truncated _schema.json, under done is a corrupt result naming the uuid and the dir") {
    val store = newStoreDir()
    val rid = AssignRowIDOp(inline(10))
    new LocalSparkRunner(spark, store).materialize(rid)
    val dir = new LocalSparkRunner(spark, store).opDir(rid).resolve("result.parquet")
    val part = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).head
    def corrupt(): Unit = {
      val e = intercept[IllegalStateException](
        new LocalSparkRunner(spark, store).toFrame(rid))
      assert(e.getMessage.startsWith(s"corrupt result for ${rid.uuid} at $dir"),
        e.getMessage)
    }
    def truncate(f: java.nio.file.Path): Array[Byte] = {
      val bytes = Files.readAllBytes(f)
      Files.write(f, bytes.take(bytes.length / 2))
      bytes
    }
    val schemaFile = dir.resolve(graft.ops.StoredParquet.SchemaFile)
    val recorded = truncate(schemaFile)
    corrupt()
    Files.write(schemaFile, recorded)
    truncate(part)
    corrupt()
    Files.delete(part)
    corrupt()
  }

  test("a result dir swapped for a racer's equal result mid-read is served, not reported corrupt") {
    import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
    val store = newStoreDir()
    val rid = AssignRowIDOp(inline(10))
    new LocalSparkRunner(spark, store).materialize(rid)
    val r2 = new LocalSparkRunner(spark, store)
    val dir = r2.opDir(rid).resolve("result.parquet")
    val rows = spark.read.parquet(dir.toString).orderBy("__row_idx")
      .collect().map(_.toSeq).toSeq
    // a racer's complete result of the same op: equal rows, other part names
    val racer = r2.opDir(rid).resolve("racer.parquet")
    graft.ops.StoredParquet.write(spark.read.parquet(dir.toString), racer)
    def parts(d: java.nio.file.Path): Set[String] =
      Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSet
    val racerParts = parts(racer)
    assert(racerParts.nonEmpty && (racerParts & parts(dir)).isEmpty)
    // what a reader sees in the swap window: this writer's part files
    // listed, the racer's part list opened
    val schemaFile = graft.ops.StoredParquet.SchemaFile
    Files.copy(racer.resolve(schemaFile), dir.resolve(schemaFile), REPLACE_EXISTING)
    // the swap completes while the reader retries
    val swap = new Thread(() => {
      Thread.sleep(20)
      Files.move(dir, r2.opDir(rid).resolve("aside.parquet"), ATOMIC_MOVE)
      Files.move(racer, dir, ATOMIC_MOVE)
    })
    swap.start()
    val served = try r2.toFrame(rid) finally swap.join()
    assert(served.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .toSet == racerParts)
    assert(served.orderBy("__row_idx").collect().map(_.toSeq).toSeq == rows)
  }

  test("hasResult for ephemeral ops follows dependency readiness") {
    val r = newRunner()
    val ds = inline(6)
    // loads are ephemeral (the spec/file IS the data) → always ready,
    // and so are pure-ephemeral chains over them
    assert(r.hasResult(SelectScoreColumnOp(ds, "score")))
    // ...but an ephemeral op over a NON-ephemeral dep is ready only once
    // that dep has a result (reference `local_arrow_runner.py:230-248`)
    val split = AssignTrainTestSplitOp(ds, testSize = Some(2L))
    val isTrain = CategoryToBooleanOp(split, Some(Seq("train")))
    assert(!r.hasResult(isTrain))
    r.materialize(split)
    assert(r.hasResult(isTrain))
  }

  test("uuidToOp rehydrates the full graph from the store") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val ds = inline(8)
    val split = AssignTrainTestSplitOp(ds, testSize = Some(0.25))
    r.materialize(split)
    val back = new LocalSparkRunner(spark, store).uuidToOp(split.uuid)
    assert(back == split)
    assert(back.asInstanceOf[AssignTrainTestSplitOp].dataset == ds)
  }

  test("uuidToOp on a corrupt status.json names the uuid and the file") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val rid = AssignRowIDOp(inline(3))
    r.materialize(rid)
    val status = r.opDir(rid).resolve("status.json")
    val text = Files.readString(status)
    Files.writeString(status, text.take(text.length / 2)) // truncated write
    val e = intercept[IllegalStateException](
      new LocalSparkRunner(spark, store).uuidToOp(rid.uuid))
    assert(e.getMessage.contains(rid.uuid) && e.getMessage.contains(status.toString))
  }

  test("lengthOf over a row-aligned chain starts no Spark job once the dataset is counted") {
    val r = newRunner()
    val ds = TakeRowsOp(inline(10), skip = 2L)
    assert(r.lengthOf(ds) == 5L)
    val text = SelectTextColumnOp(ds, "text")
    val chain = Seq(text, RedactPIIColumnOp(text), TokenCountOp(text),
      HashedTfEmbeddingOp(text, dim = 4L),
      JinjaTemplatizeOp("{{b}} {{a}}",
        Map("b" -> TokenCountOp(text), "a" -> SelectScoreColumnOp(ds, "score"))),
      ContaminationFlagOp(text, SelectTextColumnOp(inline(3), "text")),
      GroupedOp(Seq(text, TokenCountOp(text))))
    val meter = graft.Meter(spark)
    try {
      val before = meter.read()
      chain.foreach(op => assert(r.lengthOf(op) == 5L, op.typeName))
      assert((meter.read() - before).jobs == 0)
    } finally spark.sparkContext.removeSparkListener(meter)
    assert(r.lengthOf(JinjaTemplatizeOp("constant", Map.empty)) == 1L)
  }

  // ---------------- per-op goldens ----------------

  test("TakeRows slicing semantics table[offset::skip][:n]") {
    val r = newRunner()
    val ds = inline(10)
    def takeScores(skip: Long, offset: Long, n: Option[Long]): Seq[Any] =
      r.toValues(SelectScoreColumnOp(TakeRowsOp(ds, skip, offset, n), "score"))
    assert(takeScores(1, 0, None) == (0 until 10).map(_.toDouble))
    assert(takeScores(3, 1, None) == Seq(1.0, 4.0, 7.0))
    assert(takeScores(3, 1, Some(2)) == Seq(1.0, 4.0))
    assert(takeScores(1, 8, None) == Seq(8.0, 9.0))
    assert(takeScores(2, 0, Some(100)) == Seq(0.0, 2.0, 4.0, 6.0, 8.0))
  }

  test("mask + boolean algebra goldens") {
    val r = newRunner()
    val ds = inline(6) // labels: spam ham ham spam ham ham; flags: T F T F T F
    val isSpam = CategoryToBooleanOp(SelectCategoricalColumnOp(ds, "label"), Some(Seq("spam")))
    val flag = SelectBooleanColumnOp(ds, "flag")
    assert(r.toValues(BooleanLogicOp("and", isSpam, flag)) ==
      Seq(true, false, false, false, false, false))
    assert(r.toValues(BooleanLogicOp("or", isSpam, flag)) ==
      Seq(true, false, true, true, true, false))
    assert(r.toValues(BooleanLogicOp("xor", isSpam, flag)) ==
      Seq(false, false, true, true, true, false))
    assert(r.toValues(BooleanLogicOp("not", isSpam, isSpam)) ==
      Seq(false, true, true, false, true, true))
    // mask keeps idx 0,3 and REINDEXES
    val masked = MaskRowsOp(ds, isSpam)
    val scores = r.toFrame(SelectScoreColumnOp(masked, "score"))
      .orderBy("__row_idx").collect()
    assert(scores.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(scores.map(_.getDouble(1)).toSeq == Seq(0.0, 3.0))
  }

  test("isin validation: observed values must be within true ∪ false") {
    val r = newRunner()
    val label = SelectCategoricalColumnOp(inline(6), "label")
    // ok: {spam, ham} ⊆ {spam} ∪ {ham}
    r.toValues(CategoryToBooleanOp(label, Some(Seq("spam")), Some(Seq("ham"))))
    // bad: "ham" outside {spam} ∪ {eggs}
    val e = intercept[IllegalArgumentException](
      r.toValues(CategoryToBooleanOp(label, Some(Seq("spam")), Some(Seq("eggs")))))
    assert(e.getMessage.contains("outside"))
  }

  test("pairwise arithmetic incl. numpy division semantics") {
    val r = newRunner()
    val ds = LoadInlineJsonDatasetOp(Map(
      "a" -> Seq(1.0, -2.0, 0.0, 4.0),
      "b" -> Seq(0.0, 0.0, 0.0, 2.0)))
    val a = SelectScoreColumnOp(ds, "a"); val b = SelectScoreColumnOp(ds, "b")
    assert(r.toValues(PairwiseArithmeticOp("+", a, b)) == Seq(1.0, -2.0, 0.0, 6.0))
    assert(r.toValues(PairwiseArithmeticOp("*", a, b)) == Seq(0.0, -0.0, 0.0, 8.0))
    val div = r.toValues(PairwiseArithmeticOp("/", a, b))
    assert(div(0) == Double.PositiveInfinity)
    assert(div(1) == Double.NegativeInfinity)
    assert(div(2).asInstanceOf[Double].isNaN)
    assert(div(3) == 2.0)
  }

  test("vector ops: element select with bounds check") {
    val r = newRunner()
    val ds = LoadInlineJsonDatasetOp(Map(
      "v" -> Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))))
    val v = SelectVectorColumnOp(ds, "v")
    assert(r.toValues(VectorToScalarOp(v, 1L)) == Seq(2.0, 5.0))
    intercept[Exception](r.toValues(VectorToScalarOp(v, 7L)))
  }

  test("strict JSON parse: canonicalizes valid, errors on invalid") {
    val r = newRunner()
    val good = LoadInlineJsonDatasetOp(Map(
      "j" -> Seq("""{"b": 1, "a": [true, null]}""", """"str"""")))
    val parsed = ParseJSONColumnOp(SelectTextColumnOp(good, "j"))
    assert(r.toValues(parsed) == Seq("""{"a":[true,null],"b":1}""", "\"str\""))
    val bad = LoadInlineJsonDatasetOp(Map("j" -> Seq("{not json")))
    intercept[Exception](
      r.toValues(ParseJSONColumnOp(SelectTextColumnOp(bad, "j"))))
  }

  test("select dtype assertions and missing columns error") {
    val r = newRunner()
    val ds = inline(3)
    intercept[NoSuchElementException](
      r.toValues(SelectTextColumnOp(ds, "nope")))
    intercept[IllegalArgumentException](
      r.toValues(SelectBooleanColumnOp(ds, "score")))
    intercept[IllegalArgumentException](
      r.toValues(SelectVectorColumnOp(ds, "text")))
  }

  test("length mismatch between dataset and mask is an error") {
    val r = newRunner()
    val ds6 = inline(6); val ds4 = inline(4)
    val shortMask = CategoryToBooleanOp(
      SelectCategoricalColumnOp(ds4, "label"), Some(Seq("spam")))
    val e = intercept[IllegalArgumentException](
      r.toFrame(MaskRowsOp(ds6, shortMask)).count())
    assert(e.getMessage.contains("length mismatch"))
  }

  test("Jinja templatize with constants, max_length, and full template path") {
    val r = newRunner()
    val ds = inline(3)
    val t = JinjaTemplatizeOp(
      "{% if label == 'spam' %}SPAM{% else %}ok{% endif %}: {{text}} ({{k}})",
      Map("label" -> SelectCategoricalColumnOp(ds, "label"),
        "text" -> SelectTextColumnOp(ds, "text")),
      Map("k" -> 7L))
    assert(r.toValues(t) == Seq(
      "SPAM: doc number 0 (7)", "ok: doc number 1 (7)", "ok: doc number 2 (7)"))
    val truncated = JinjaTemplatizeOp("{{text}}",
      Map("text" -> SelectTextColumnOp(ds, "text")), Map.empty, Some(3L))
    assert(r.toValues(truncated) == Seq("doc", "doc", "doc"))
    // truncation counts code points: never splits a surrogate pair
    val emoji = LoadInlineJsonDatasetOp(Map("t" -> Seq("a😀b")))
    val cut = JinjaTemplatizeOp("{{t}}",
      Map("t" -> SelectTextColumnOp(emoji, "t")), Map.empty, Some(2L))
    assert(r.toValues(cut) == Seq("a😀"))
    // negative max_length rejected at spec build
    intercept[IllegalArgumentException](JinjaTemplatizeOp("{{t}}",
      Map("t" -> SelectTextColumnOp(emoji, "t")), Map.empty, Some(-1L)))
  }

  test("templatize: constants-only renders once; JSON context parses to structures") {
    val r = newRunner()
    // constants-only → single row (reference local_arrow_runner.py:926-928)
    val constOnly = JinjaTemplatizeOp("Static: {{msg}} - {{code}}",
      Map.empty, Map("msg" -> "Hello", "code" -> 42L))
    assert(r.toValues(constOnly) == Seq("Static: Hello - 42"))
    // JSON column context → parsed maps, attribute paths work
    val ds = LoadInlineJsonDatasetOp(Map(
      "meta" -> Seq("""{"version": "1.2", "status": "ok"}""",
        """{"version": "2.0", "status": "down"}""")))
    val tmpl = JinjaTemplatizeOp("v={{meta.version}} s={{meta.status}}",
      Map("meta" -> ParseJSONColumnOp(SelectTextColumnOp(ds, "meta"))))
    assert(r.toValues(tmpl) == Seq("v=1.2 s=ok", "v=2.0 s=down"))
    // context columns of different lengths are rejected
    val other = LoadInlineJsonDatasetOp(Map("t" -> Seq("a", "b", "c")))
    val bad = JinjaTemplatizeOp("{{x}}{{y}}", Map(
      "x" -> SelectTextColumnOp(other, "t"),
      "y" -> SelectTextColumnOp(LoadInlineJsonDatasetOp(Map("u" -> Seq("z"))), "u")))
    val e = intercept[IllegalArgumentException](r.toValues(bad))
    assert(e.getMessage.contains("same length"))
  }

  test("empty-dataset edge cases") {
    val r = newRunner()
    val empty = LoadInlineJsonDatasetOp(Map("label" -> Seq.empty[Any],
      "score" -> Seq.empty[Any]))
    assert(r.toValues(SelectCategoricalColumnOp(empty, "label")).isEmpty)
    assert(r.toValues(CategoryToBooleanOp(
      SelectCategoricalColumnOp(empty, "label"), Some(Seq("x")))).isEmpty)
    val masked = MaskRowsOp(empty, CategoryToBooleanOp(
      SelectCategoricalColumnOp(empty, "label"), Some(Seq("x"))))
    assert(r.toFrame(masked).count() == 0)
    // offset past the end of a non-empty dataset → empty
    assert(r.toValues(SelectScoreColumnOp(
      TakeRowsOp(inline(4), offset = 10L), "score")).isEmpty)
  }

  test("train/test split: exact counts, deterministic, complement inference") {
    val r = newRunner()
    val ds = inline(10)
    val s1 = AssignTrainTestSplitOp(ds, testSize = Some(0.25))
    val v1 = r.toValues(s1)
    assert(v1.count(_ == "test") == 3) // ceil(0.25*10)
    assert(v1.count(_ == "train") == 7)
    // deterministic for same seed
    assert(v1 == r.toValues(s1.subsFields("random_state" -> 19190115L)))
    // different seed → (almost surely) different membership, same counts
    val v2 = r.toValues(AssignTrainTestSplitOp(ds, Some(0.25), None, 7L))
    assert(v2.count(_ == "test") == 3)
    // absolute count flavor
    assert(r.toValues(AssignTrainTestSplitOp(ds, Some(4L)))
      .count(_ == "test") == 4)
    // train_size only → test = complement
    assert(r.toValues(AssignTrainTestSplitOp(ds, None, Some(0.7)))
      .count(_ == "test") == 3)
  }

  test("nested GroupedOp materializes recursively; group persists no result copy") {
    val r = newRunner()
    val ds = inline(4)
    val inner = GroupedOp(Seq(AssignRowIDOp(ds)))
    val outer = GroupedOp(Seq(inner, AssignTrainTestSplitOp(ds, Some(1L))))
    r.materialize(outer)
    assert(r.isDone(inner) && r.isDone(outer))
    assert(r.status(outer).state == OpState.Completed)
    // the group dir holds only status + done — no duplicated result files
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(r.opDir(outer)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(files == Set("status.json", "done"))
  }

  test("GroupedOp failure is recorded in its status") {
    val r = newRunner()
    val ds = inline(4)
    val bad = GroupedOp(Seq(AssignRowIDOp(ds),
      AssignTrainTestSplitOp(ds, Some(99L)))) // count out of range → fails
    intercept[Exception](r.materialize(bad))
    assert(r.status(bad).state == OpState.Failed)
  }

  test("GroupedOp materializes all, returns last") {
    val r = newRunner()
    val ds = inline(4)
    val rid = AssignRowIDOp(ds)
    val split = AssignTrainTestSplitOp(ds, Some(2L))
    val g = GroupedOp(Seq(rid, split))
    r.materialize(g)
    assert(r.isDone(rid) && r.isDone(split))
    assert(r.toValues(g).count(_ == "test") == 2)
  }

  test("cross-dataset positional alignment: mask one dataset with a column from another") {
    // the reference aligns purely positionally (same length ⇒ alignable,
    // `local_arrow_runner.py:818-836`); here: a mask computed from a
    // DIFFERENT dataset of equal length filters the target dataset
    val r = newRunner()
    val data = inline(6)
    val other = LoadInlineJsonDatasetOp(Map(
      "verdict" -> Seq("keep", "drop", "keep", "drop", "keep", "drop")))
    val keep = CategoryToBooleanOp(
      SelectCategoricalColumnOp(other, "verdict"), Some(Seq("keep")))
    val masked = MaskRowsOp(data, keep)
    val scores = r.toValues(SelectScoreColumnOp(masked, "score"))
    assert(scores == Seq(0.0, 2.0, 4.0)) // rows 0,2,4 of `data`
    // and boolean algebra across the two lineages
    val flag = SelectBooleanColumnOp(data, "flag") // T F T F T F
    val both = BooleanLogicOp("and", keep, flag)
    assert(r.toValues(both) == Seq(true, false, true, false, true, false))
  }

  test("isin is case-sensitive like the reference") {
    val r = newRunner()
    val label = SelectCategoricalColumnOp(inline(3), "label") // spam ham ham
    assert(r.toValues(CategoryToBooleanOp(label, Some(Seq("SPAM")))) ==
      Seq(false, false, false))
    assert(r.toValues(CategoryToBooleanOp(label, Some(Seq("spam")))) ==
      Seq(true, false, false))
  }

  test("split size validation at materialize (reference error cases)") {
    val r = newRunner()
    val ds = inline(5)
    // count out of range
    val e1 = intercept[Exception](
      r.toValues(AssignTrainTestSplitOp(ds, testSize = Some(9L))))
    assert(e1.getMessage.contains("between 0 and the dataset length"))
    val e2 = intercept[Exception](
      r.toValues(AssignTrainTestSplitOp(ds, trainSize = Some(-1L))))
    assert(e2.getMessage.contains("between 0 and the dataset length"))
    // both sizes given but don't cover the dataset
    val e3 = intercept[Exception](
      r.toValues(AssignTrainTestSplitOp(ds, testSize = Some(2L), trainSize = Some(2L))))
    assert(e3.getMessage.contains("must equal dataset size"))
    // both given and consistent → fine
    assert(r.toValues(AssignTrainTestSplitOp(ds, testSize = Some(2L),
      trainSize = Some(3L))).count(_ == "test") == 2)
  }

  test("split parameter validation error cases") {
    intercept[IllegalArgumentException](
      AssignTrainTestSplitOp(inline(4), testSize = Some(1.5)))
    intercept[IllegalArgumentException](
      AssignTrainTestSplitOp(inline(4), testSize = Some("bad")))
    intercept[IllegalArgumentException](TakeRowsOp(inline(4), skip = 0L))
    intercept[IllegalArgumentException](BooleanLogicOp("nand",
      SelectBooleanColumnOp(inline(4), "flag"),
      SelectBooleanColumnOp(inline(4), "flag")))
    intercept[IllegalArgumentException](
      CategoryToBooleanOp(SelectCategoricalColumnOp(inline(4), "label")))
  }

  test("ephemeral chains stay one fused plan (no store writes, no extra jobs)") {
    val r = newRunner()
    val ds = inline(10)
    r.materialize(ds)
    val sel = SelectScoreColumnOp(
      TakeRowsOp(MaskRowsOp(ds, SelectBooleanColumnOp(ds, "flag")),
        skip = 2L), "score")
    val df = r.toFrame(sel)
    // nothing persisted for any node of the all-ephemeral chain: the store
    // stays empty
    assert(!r.isDone(sel))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(r.opDir(sel).getParent.getParent.toString)).count() == 0)
    // and the fused plan still computes the right slice: flags keep idx
    // 0,2,4,6,8 → scores 0,2,4,6,8; skip 2 → 0,4,8
    assert(df.orderBy(col(graft.ops.ColumnOps.RowIdx)).select(col(r.ValueCol))
      .collect().map(_.getDouble(0)).toSeq == Seq(0.0, 4.0, 8.0))
  }

  test("Runner factory caches instances per configuration") {
    Runner.reset()
    val store = newStoreDir()
    val a = Runner(spark, store)
    val b = Runner(spark, store)
    assert(a eq b) // same config → same instance (shared memo)
    val c = Runner(spark, newStoreDir())
    assert(!(a eq c))
    val d = Runner(spark, store, cachePath = newStoreDir())
    assert(!(a eq d)) // a cache tier is another configuration
    assert(d.isInstanceOf[CachedSparkRunner])
    Runner.reset()
    assert(!(Runner(spark, store) eq a))
  }

  test("Runner factory defaults to the configured store URI") {
    Runner.reset()
    val store = newStoreDir()
    // the environment injection GraphConfig.load reads (as in CliSpec)
    sys.props("graft.env.GRAFT_STORE_URI") = store
    try assert(Runner(spark).storeUri == store)
    finally {
      sys.props.remove("graft.env.GRAFT_STORE_URI")
      Runner.reset()
    }
  }

  // ---------------- failed-status bookkeeping ----------------

  test("failures are recorded in status.json") {
    val r = newRunner()
    val ds = inline(3)
    val badSelect = SelectVectorColumnOp(ds, "text") // wrong dtype at materialize
    val rid = AssignRowIDOp(MaskRowsOp(ds,
      CategoryToBooleanOp(badSelect, Some(Seq("x")))))
    intercept[Exception](r.materialize(rid))
    val st = r.status(rid)
    assert(st.state == OpState.Failed)
    assert(st.error.nonEmpty)
  }

  test("materialize posts one op event per call with its outcome") {
    val meter = graft.Meter(spark)
    try {
      val store = newStoreDir()
      val r = new LocalSparkRunner(spark, store)
      val ds = AssignRowIDOp(inline(5))
      assert(!ds.isEphemeral)
      r.materialize(ds)
      r.materialize(ds)
      val mine = meter.ops().filter(_.uuid == ds.uuid)
      assert(mine.map(e => (e.opClass, e.outcome)) ==
        Seq("AssignRowIDOp" -> graft.Meter.Computed, "AssignRowIDOp" -> graft.Meter.MemoHit))
      assert(mine.head.seconds > 0 && mine(1).seconds == 0.0)

      // a store hit: a fresh runner serves a trained model from model.json
      val x = SelectVectorColumnOp(LoadInlineJsonDatasetOp(Map(
        "v" -> Seq(Seq(1.0, 0.0), Seq(0.9, 0.1), Seq(0.0, 1.0), Seq(0.1, 0.9)),
        "y" -> Seq("a", "a", "b", "b"))), "v")
      val y = SelectCategoricalColumnOp(x.dataset, "y")
      val model = TrainClassifierOp("difference_of_means", x,
        CategoryToBooleanOp(y, Some(Seq("a"))), CategoryToBooleanOp(y, Some(Seq("b"))))
      r.materialize(model)
      assert(Files.exists(r.opDir(model).resolve("model.json")))
      meter.ops()
      new LocalSparkRunner(spark, store).toModel(model)
      assert(meter.ops().filter(_.uuid == model.uuid).map(_.outcome) ==
        Seq(graft.Meter.StoreHit))

      val bad = AssignRowIDOp(MaskRowsOp(inline(3), CategoryToBooleanOp(
        SelectVectorColumnOp(inline(3), "text"), Some(Seq("x")))))
      intercept[Exception](r.materialize(bad))
      assert(meter.ops().filter(_.uuid == bad.uuid).map(_.outcome) ==
        Seq(graft.Meter.Failed))
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}

/** Custom-op fixtures for the extensibility test: a user-defined op whose
  * one registration gives it a runner implementation and graph decoding
  * (the reference's `@MyRunner.implementation` extension story), plus one
  * left unregistered to pin the error message. */
object RunnerSpec {

  final case class ScaleScoreOp(input: ScoreColumnType, factor: Double)
    extends ScoreColumnType

  final case class UnregisteredOp(dataset: DatasetType) extends DatasetType

  // each shares its simple name, and so its store directory, with an op
  // already known to the decoder
  final case class TakeRowsOp(dataset: DatasetType) extends DatasetType
  object Clash {
    final case class ScaleScoreOp(input: ScoreColumnType) extends ScoreColumnType
  }

  // object initializers run on first touch of the OBJECT, not its nested
  // classes — tests call this to force the registrations below
  def ensureRegistered(): Unit = ()

  LocalSparkRunner.registerImplementation(classOf[ScaleScoreOp]) { (r, op0) =>
    import org.apache.spark.sql.functions._
    val op = op0.asInstanceOf[ScaleScoreOp]
    val in = r.toFrame(op.input)
    FrameResult(in.select(col(graft.ops.ColumnOps.RowIdx),
      (col(r.ValueCol).cast("double") * op.factor).as(r.ValueCol)))
  }
}
