package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[StoreMeta]] — the versioned-dir + `_SUCCESS` commit for the stored
  * indexes' pointer rows: readers always see a whole committed row,
  * crashed attempts are invisible, the grace window keeps the previous
  * version, and the Bm25/Dedup integrations (empty-batch refusal,
  * monotone segment naming across compaction) hold.
  */
class StoreMetaSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def row(n: Long) = Seq(Tuple1(n)).toDF("v")

  test("write/read round-trips and versions monotonically") {
    val root = tmp("graft-storemeta-")
    StoreMeta.write(row(1L), root, "stats")
    assert(StoreMeta.currentVersion(spark, root, "stats") == 0)
    assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 1L)
    StoreMeta.write(row(2L), root, "stats")
    StoreMeta.write(row(3L), root, "stats")
    assert(StoreMeta.currentVersion(spark, root, "stats") == 2)
    assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 3L)
  }

  test("a crashed (uncommitted) attempt is invisible to readers") {
    val root = tmp("graft-storemeta-")
    StoreMeta.write(row(7L), root, "stats")
    // simulate a crash mid-write: a higher-versioned dir WITHOUT _SUCCESS
    val crashed = java.nio.file.Paths.get(root, "stats_m1")
    java.nio.file.Files.createDirectories(crashed)
    java.nio.file.Files.write(crashed.resolve("part-zzz.parquet"),
      Array[Byte](1, 2, 3))
    assert(StoreMeta.currentVersion(spark, root, "stats") == 0)
    assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 7L)
    // the next writer skips PAST the crashed number and sweeps it
    StoreMeta.write(row(8L), root, "stats")
    assert(StoreMeta.currentVersion(spark, root, "stats") == 2)
    assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 8L)
    assert(!java.nio.file.Files.exists(crashed), "crashed attempt not swept")
  }

  test("prune keeps current + previous committed version (grace window)") {
    val root = tmp("graft-storemeta-")
    (1L to 4L).foreach(n => StoreMeta.write(row(n), root, "p"))
    val dirs = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("p_m")).sorted.toSeq
    assert(dirs == Seq("p_m2", "p_m3"), s"got $dirs")
    // the previous version is still a WHOLE readable row for an in-flight
    // reader that resolved it just before the flip
    assert(spark.read.parquet(s"$root/p_m2").head.getLong(0) == 3L)
  }

  test("commit survives marksuccessfuljobs=false (explicit marker)") {
    // on object-store configs the committer writes no _SUCCESS; the
    // marker is StoreMeta's own commit point, so it must be written
    // explicitly — otherwise every version looks uncommitted, read()
    // errors, and the NEXT write sweeps the only good pointers as
    // "crashed attempts"
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val saved = conf.get(key)
    conf.setBoolean(key, false)
    try {
      val root = tmp("graft-storemeta-nosuccess-")
      StoreMeta.write(row(41L), root, "stats")
      assert(StoreMeta.currentVersion(spark, root, "stats") == 0)
      assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 41L)
      // the second write must see v0 as committed (prune keeps it)
      StoreMeta.write(row(42L), root, "stats")
      assert(StoreMeta.read(spark, root, "stats").head.getLong(0) == 42L)
      assert(spark.read.parquet(s"$root/stats_m0").head.getLong(0) == 41L)
    } finally {
      if (saved == null) conf.unset(key) else conf.set(key, saved)
    }
  }

  test("reading an uninitialized store is a loud error") {
    val root = tmp("graft-storemeta-")
    val e = intercept[IllegalArgumentException] {
      StoreMeta.read(spark, root, "stats")
    }
    assert(e.getMessage.contains("not an initialized store"))
  }

  test("opening each stored index runs one Spark job: its meta row, read with the footer's schema") {
    val meter = graft.Meter(spark)
    def jobs(f: => Unit): Long = {
      val before = meter.read(); f; (meter.read() - before).jobs
    }
    try {
      val text = docs(0 until 8, "alpha beta")
      val bm = tmp("graft-open-bm25-")
      Bm25.buildIndex(text, "doc_id", "text", bm)
      val mh = tmp("graft-open-mh-")
      Dedup.buildMinhashIndex(spark, mh, text, "text", "doc_id")
      def basis(j: Int): Array[Float] =
        Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
      val corpus = (0 until 8).map(i => (i.toLong, basis(i % 4)))
        .toDF("vec_id", "embedding")
      val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding",
        0L until 4L)
      val ivf = tmp("graft-open-ivf-")
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cents, ivf)
      val pq = tmp("graft-open-pq-")
      Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", cents,
        Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding", m = 4,
          0L until 8L), pq)
      // schema inference of the meta row ran a second job per open
      val opens = Seq(
        "bm25" -> jobs(Bm25.openIndex(spark, bm)),
        "minhash" -> jobs(Dedup.openMinhashIndex(spark, mh)),
        "ivf" -> jobs(Similarity.openIvfIndex(spark, ivf)),
        "ivf-pq" -> jobs(Similarity.openIvfIndex(spark, pq)))
      assert(opens.forall(_._2 == 1), s"jobs per open: $opens")
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  private def docs(ids: Range, text: String) =
    ids.map(i => (i.toLong, s"$text w$i common")).toDF("doc_id", "text")

  test("Bm25: empty append is a no-op; index stays readable") {
    val idx = tmp("graft-bm25-empty-")
    Bm25.buildIndex(docs(0 until 8, "alpha beta"), "doc_id", "text", idx)
    val before = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("alpha"), k = 8)
      .collect().map(_.toSeq).toSeq
    Bm25.appendToIndex(Bm25.openIndex(spark, idx),
      docs(0 until 0, ""), "doc_id", "text")
    // no junk delta segment, no df churn, identical probe output
    assert(Bm25.indexStatsDf(spark, idx).head.getAs[Long]("n_docs") == 8L)
    val after = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("alpha"), k = 8)
      .collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("Bm25: untagged segment names never recycle across compaction") {
    val idx = tmp("graft-bm25-seg-")
    Bm25.buildIndex(docs(0 until 4, "alpha"), "doc_id", "text", idx)
    Bm25.appendToIndex(Bm25.openIndex(spark, idx),
      docs(4 until 6, "beta"), "doc_id", "text")
    Bm25.appendToIndex(Bm25.openIndex(spark, idx),
      docs(6 until 8, "gamma"), "doc_id", "text")
    def segDirs() = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("seg_")).sorted.toSeq
    assert(segDirs() == Seq("seg_0", "seg_1", "seg_base"))
    Bm25.compactIndex(Bm25.openIndex(spark, idx))
    // post-compaction, the next append must NOT reuse seg_0 (the
    // retired dir survives the grace window on disk)
    Bm25.appendToIndex(Bm25.openIndex(spark, idx),
      docs(8 until 10, "delta"), "doc_id", "text")
    val st = Bm25.indexStatsDf(spark, idx).head
    assert(st.getAs[scala.collection.Seq[String]]("segments").toSeq ==
      Seq("seg_c0", "seg_2"))
    assert(st.getAs[Long]("n_docs") == 10L)
    // append == rebuild still bit-for-bit after the compact+append cycle
    val viaIndex = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("alpha", "delta"), k = 10)
      .collect().map(_.toSeq).toSeq
    val idx2 = tmp("graft-bm25-seg2-")
    Bm25.buildIndex(docs(0 until 4, "alpha")
        .union(docs(4 until 6, "beta")).union(docs(6 until 8, "gamma"))
        .union(docs(8 until 10, "delta")),
      "doc_id", "text", idx2)
    val rebuilt = Bm25.topKIndexed(Bm25.openIndex(spark, idx2),
      Seq("alpha", "delta"), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == rebuilt)
  }

  test("Dedup: untagged minhash segments never recycle across compaction") {
    val idx = tmp("graft-mh-seg-")
    val base = (0 until 6).map(i =>
      (i.toLong, s"the quick brown fox ${"x" * i} jumps over dog $i"))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(spark, idx, base, "text", "doc_id")
    def seg(n: Long) = (100 * n until 100 * n + 3).map(i =>
      (i, s"totally new content batch $n row $i unique words here"))
      .toDF("doc_id", "text")
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, idx),
      seg(1), "text", "doc_id")
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, idx),
      seg(2), "text", "doc_id")
    def segDirs() = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.startsWith("seg_")).sorted.toSeq
    assert(segDirs() == Seq("seg_0", "seg_1", "seg_base"))
    Dedup.compactMinhashIndex(Dedup.openMinhashIndex(spark, idx))
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, idx),
      seg(3), "text", "doc_id")
    // seg_2 (counter), never seg_0/seg_1 again
    assert(segDirs().contains("seg_2"))
    assert(Dedup.minhashIndexKeys(
      Dedup.openMinhashIndex(spark, idx)).select("doc_id").distinct()
      .count() == (6 + 9).toLong)
  }
}
