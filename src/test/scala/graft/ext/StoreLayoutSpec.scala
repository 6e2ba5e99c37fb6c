package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the on-disk segment layout of the four stored indexes (BM25,
  * MinHash, IVF, IVF-PQ): after every step of one fixed maintenance
  * sequence, the exact set of top-level directories on disk (segments,
  * the current and previous manifest versions, and each store's fixed
  * tables), the committed manifest version, and the manifest row
  * (`segments`, `last_tag`, `next_seg`). Stores written by an older build
  * must keep opening, so segment names and manifest semantics are part of
  * the format, not an implementation detail.
  */
class StoreLayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def manifest(path: String,
                       prefix: String): (Seq[String], String, Long) = {
    val m = StoreMeta.read(spark, path, prefix).head()
    (m.getAs[scala.collection.Seq[String]]("segments").toSeq,
      m.getAs[String]("last_tag"), m.getAs[Long]("next_seg"))
  }

  /** Builds the store from `batch(0)`, opens it (`open` returns the
    * append and compact operations of ONE handle, which does every later
    * write), then runs tagged append, the same tag replayed, an idle
    * (empty) tagged batch, untagged append, compact, tagged append,
    * compact — asserting the directory set, the manifest version under
    * `prefix` and the manifest row after each step. `fixed` names the
    * store's top-level dirs outside the segment protocol. */
  private def pinLayout(name: String, path: String, prefix: String,
                        fixed: Set[String], batch: Int => DataFrame,
                        empty: DataFrame, build: DataFrame => Unit,
                        open: () => ((DataFrame, String) => Unit,
                                     () => Unit)): Unit = {
    def check(step: String, segDirs: Set[String], version: Int,
              segs: Seq[String], lastTag: String, nextSeg: Long): Unit = {
      val metaDirs = Set(version - 1, version).filter(_ >= 0)
        .map(v => s"${prefix}_m$v")
      assert(new java.io.File(path).listFiles().map(_.getName).toSet ==
        segDirs ++ metaDirs ++ fixed, s"$name after $step: dirs")
      assert(StoreMeta.currentVersion(spark, path, prefix) == version,
        s"$name after $step: manifest version")
      assert(manifest(path, prefix) == ((segs, lastTag, nextSeg)),
        s"$name after $step: manifest")
    }
    build(batch(0))
    check("build", Set("seg_base"), 0, Seq("seg_base"), "", 0L)
    val (append, compact) = open()
    append(batch(1), "t1")
    check("tagged append", Set("seg_base", "seg_t1"), 1,
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(batch(1), "t1")
    check("replayed tag", Set("seg_base", "seg_t1"), 1,
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(empty, "t2")
    check("idle batch", Set("seg_base", "seg_t1"), 1,
      Seq("seg_base", "seg_t1"), "t1", 1L)
    append(batch(2), "")
    check("untagged append", Set("seg_base", "seg_t1", "seg_1"), 2,
      Seq("seg_base", "seg_t1", "seg_1"), "", 2L)
    compact()
    check("first compact", Set("seg_base", "seg_t1", "seg_1", "seg_c0"), 3,
      Seq("seg_c0"), "", 2L)
    append(batch(3), "t3")
    check("append after compact",
      Set("seg_base", "seg_t1", "seg_1", "seg_c0", "seg_t3"), 4,
      Seq("seg_c0", "seg_t3"), "t3", 3L)
    compact()
    check("second compact", Set("seg_c0", "seg_t3", "seg_c1"), 5,
      Seq("seg_c1"), "t3", 3L)
  }

  private val texts = (b: Int) => (0 until 4).map { i =>
    val id = (100 * b + i).toLong
    (id, s"batch $b row $i the quick brown fox jumps over lazy dog $id")
  }.toDF("doc_id", "text")

  test("segment dirs and manifest rows are pinned for MinHash, IVF and " +
    "IVF-PQ through build, append, replay, idle, compact") {
    val mh = tmp("graft-layout-mh-")
    pinLayout("MinHash", mh, "meta", Set.empty, texts, texts(0).limit(0),
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
    pinLayout("IVF", ivf, "meta", Set("centroids"), vecs, corpus.limit(0),
      df => Similarity.buildIvfIndex(df, "vec_id", "embedding", cents, ivf),
      () => {
        val h = Similarity.openIvfIndex(spark, ivf)
        ((df, tag) => Similarity.appendToIvfIndex(h, df, "vec_id",
          "embedding", tag = tag), () => Similarity.compactIvfIndex(h))
      })

    val pq = tmp("graft-layout-pq-")
    pinLayout("IVF-PQ", pq, "meta", Set("centroids", "codebooks"), vecs,
      corpus.limit(0),
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
    val bm = tmp("graft-layout-bm25-")
    pinLayout("BM25", bm, "stats", Set.empty, texts, texts(0).limit(0),
      df => Bm25.buildIndex(df, "doc_id", "text", bm, numBuckets = 4),
      () => {
        val h = Bm25.openIndex(spark, bm)
        ((df, tag) => Bm25.appendToIndex(h, df, "doc_id", "text", tag = tag),
          () => Bm25.compactIndex(h))
      })
  }
}
