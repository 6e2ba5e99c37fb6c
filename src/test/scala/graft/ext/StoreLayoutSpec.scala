package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the on-disk segment layout of the three segmented stores (MinHash,
  * IVF, IVF-PQ): after every step of one fixed maintenance sequence, the
  * exact set of `seg_*` directories on disk and the committed manifest row
  * (`segments`, `last_tag`, `next_seg`). Stores written by an older build
  * must keep opening, so segment names and manifest semantics are part of
  * the format, not an implementation detail. The BM25 store is pinned the
  * same way by its whole top-level directory set and stats version.
  */
class StoreLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def segDirs(path: String): Set[String] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("seg_")).toSet

  private def manifest(path: String): (Seq[String], String, Long) = {
    val m = StoreMeta.read(spark, path, "meta").head()
    (m.getAs[scala.collection.Seq[String]]("segments").toSeq,
      m.getAs[String]("last_tag"), m.getAs[Long]("next_seg"))
  }

  /** Builds the store from `batch(0)`, opens it (`open` returns the
    * append and compact operations of ONE handle, which does every later
    * write), then runs tagged append, the same tag replayed, an idle
    * (empty) tagged batch, untagged append, compact, tagged append,
    * compact — asserting the directory set and manifest row after each
    * step. */
  private def pinLayout(name: String, path: String, batch: Int => DataFrame,
                        empty: DataFrame, build: DataFrame => Unit,
                        open: () => ((DataFrame, String) => Unit,
                                     () => Unit)): Unit = {
    def check(step: String, dirs: Set[String], segs: Seq[String],
              lastTag: String, nextSeg: Long): Unit = {
      assert(segDirs(path) == dirs, s"$name after $step: dirs")
      assert(manifest(path) == ((segs, lastTag, nextSeg)),
        s"$name after $step: manifest")
    }
    build(batch(0))
    check("build", Set("seg_base"), Seq("seg_base"), "", 0L)
    val (append, compact) = open()
    append(batch(1), "t1")
    check("tagged append", Set("seg_base", "seg_t1"),
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(batch(1), "t1")
    check("replayed tag", Set("seg_base", "seg_t1"),
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(empty, "t2")
    check("idle batch", Set("seg_base", "seg_t1"),
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(batch(2), "")
    check("untagged append", Set("seg_base", "seg_t1", "seg_1"),
      Seq("seg_base", "seg_t1", "seg_1"), "", 2L)
    compact()
    check("first compact", Set("seg_base", "seg_t1", "seg_1", "seg_c0"),
      Seq("seg_c0"), "", 2L)
    append(batch(3), "t3")
    check("append after compact",
      Set("seg_base", "seg_t1", "seg_1", "seg_c0", "seg_t3"),
      Seq("seg_c0", "seg_t3"), "t3", 3L)
    compact()
    check("second compact", Set("seg_c0", "seg_t3", "seg_c1"),
      Seq("seg_c1"), "t3", 3L)
  }

  test("segment dirs and manifest rows are pinned for MinHash, IVF and " +
    "IVF-PQ through build, append, replay, idle, compact") {
    val texts = (b: Int) => (0 until 4).map { i =>
      val id = (100 * b + i).toLong
      (id, s"batch $b row $i the quick brown fox jumps over lazy dog $id")
    }.toDF("doc_id", "text")
    val mh = tmp("graft-layout-mh-")
    pinLayout("MinHash", mh, texts, texts(0).limit(0),
      df => Dedup.buildMinhashIndex(spark, mh, df, "text", "doc_id"),
      () => {
        val h = Dedup.openMinhashIndex(spark, mh)
        ((df, tag) => Dedup.appendToMinhashIndex(h, df, "text", "doc_id",
          tag = tag), () => Dedup.compactMinhashIndex(h))
      })

    val rng = new scala.util.Random(7)
    val corpus = (0 until 160).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val vecs = (b: Int) =>
      corpus.filter(col("vec_id") >= 40L * b && col("vec_id") < 40L * (b + 1))
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding",
      0L until 4L)
    val cb = Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding",
      m = 4, 0L until 8L)

    val ivf = tmp("graft-layout-ivf-")
    pinLayout("IVF", ivf, vecs, corpus.limit(0),
      df => Similarity.buildIvfIndex(df, "vec_id", "embedding", cents, ivf),
      () => {
        val h = Similarity.openIvfIndex(spark, ivf)
        ((df, tag) => Similarity.appendToIvfIndex(h, df, "vec_id",
          "embedding", tag = tag), () => Similarity.compactIvfIndex(h))
      })

    val pq = tmp("graft-layout-pq-")
    pinLayout("IVF-PQ", pq, vecs, corpus.limit(0),
      df => Similarity.buildIvfPqIndex(df, "vec_id", "embedding", cents, cb,
        pq),
      () => {
        val h = Similarity.openIvfIndex(spark, pq)
        ((df, tag) => Similarity.appendToIvfPqIndex(h, df, "vec_id",
          "embedding", tag = tag), () => Similarity.compactIvfPqIndex(h))
      })
  }

  test("BM25 top-level dirs and stats versions are pinned through build, " +
    "append, replay, idle, compact: one delta and one stats version per " +
    "append, no df table") {
    val texts = (b: Int) => (0 until 4).map { i =>
      val id = (100 * b + i).toLong
      (id, s"batch $b row $i the quick brown fox $id")
    }.toDF("doc_id", "text")
    val path = tmp("graft-layout-bm25-")
    def check(step: String, dirs: Set[String], statsVersion: Int): Unit = {
      assert(new java.io.File(path).listFiles().map(_.getName).toSet == dirs,
        s"BM25 after $step: dirs")
      assert(StoreMeta.currentVersion(spark, path, "stats") == statsVersion,
        s"BM25 after $step: stats version")
    }
    Bm25.buildIndex(texts(0), "doc_id", "text", path, numBuckets = 4)
    check("build", Set("postings_v0", "stats_m0"), 0)
    val h = Bm25.openIndex(spark, path)
    Bm25.appendToIndex(h, texts(1), "doc_id", "text", tag = "t1")
    check("tagged append",
      Set("postings_v0", "postings_dt1", "stats_m0", "stats_m1"), 1)
    Bm25.appendToIndex(h, texts(1), "doc_id", "text", tag = "t1")
    check("replayed tag",
      Set("postings_v0", "postings_dt1", "stats_m0", "stats_m1"), 1)
    Bm25.appendToIndex(h, texts(0).limit(0), "doc_id", "text", tag = "t2")
    check("idle batch",
      Set("postings_v0", "postings_dt1", "stats_m0", "stats_m1"), 1)
    Bm25.appendToIndex(h, texts(2), "doc_id", "text")
    check("untagged append", Set("postings_v0", "postings_dt1",
      "postings_d1", "stats_m1", "stats_m2"), 2)
    Bm25.compactIndex(h)
    check("first compact", Set("postings_v0", "postings_v1", "postings_dt1",
      "postings_d1", "stats_m2", "stats_m3"), 3)
    Bm25.appendToIndex(h, texts(3), "doc_id", "text", tag = "t3")
    check("append after compact", Set("postings_v0", "postings_v1",
      "postings_dt1", "postings_d1", "postings_dt3", "stats_m3",
      "stats_m4"), 4)
    Bm25.compactIndex(h)
    check("second compact", Set("postings_v1", "postings_v2",
      "postings_dt3", "stats_m4", "stats_m5"), 5)
  }
}
