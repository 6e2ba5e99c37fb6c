package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** BM25 ranking ([[Bm25]]): retrieval direction (term-dense docs first,
  * rare terms weighted over common ones), absent-term docs score zero, and
  * deterministic tie-breaks. */
class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  test("docs dense in the query term rank first; absent-term docs score 0") {
    val docs = Seq(
      (1L, "apple apple apple pear"),
      (2L, "apple pear plum quince"),
      (3L, "pear plum quince fig"),
      (4L, "apple apple pear plum")).toDF("doc_id", "text")
    val out = Bm25.rank(docs, "doc_id", "text", Seq("apple"), k = 4)
      .collect()
    assert(out.map(_.getLong(1)).take(3).toSeq === Seq(1L, 4L, 2L),
      "rank must follow tf under equal length")
    assert(out(3).getLong(1) === 3L && out(3).getLong(2) === 0L,
      "doc without the term scores exactly 0")
  }

  test("a rarer term outweighs a common one at equal tf") {
    // 'rare' in 1 of 10 docs, 'common' in all 10
    val docs = ((1L to 9L).map(i => (i, "common filler words here")) :+
      (10L, "common rare filler here")).toDF("doc_id", "text")
    val out = Bm25.rank(docs, "doc_id", "text", Seq("rare", "common"), k = 10)
      .collect()
    assert(out.head.getLong(1) === 10L, "the doc holding the rare term wins")
    // remaining docs tie exactly → rank resolves by doc_id ascending
    assert(out.tail.map(_.getLong(1)).toSeq === (1L to 9L).toSeq)
    assert(out.tail.map(_.getLong(2)).distinct.length === 1)
  }

  test("longer docs are penalized at equal tf (length normalization)") {
    val docs = Seq(
      (1L, "term one two"),
      (2L, "term one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val out = Bm25.rank(docs, "doc_id", "text", Seq("term"), k = 2).collect()
    assert(out.head.getLong(1) === 1L)
    assert(out.head.getLong(2) > out(1).getLong(2))
  }

  test("duplicate query terms count twice, like the per-term fold they sum") {
    // each duplicate contributes its own term in the score fold — the
    // one-pass tf must hand BOTH indices the same count
    val docs = Seq((1L, "apple pear"), (2L, "pear plum")).toDF("doc_id", "text")
    val once = Bm25.rank(docs, "doc_id", "text", Seq("apple"), k = 2).collect()
    val twice = Bm25.rank(docs, "doc_id", "text", Seq("apple", "apple"), k = 2)
      .collect()
    assert(twice.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      once.map(r => (r.getLong(1), r.getLong(2) * 2)).toSeq)
  }

  test("degenerate corpus (all documents empty) raises, never scores 0") {
    // avgdl = 0 would make dl/avgdl NaN and round(NaN·1e6)::long silently
    // 0 — the guard turns that into a hard error (ADVICE r13)
    val docs = Seq((1L, ""), (2L, "  ")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Bm25.rank(docs, "doc_id", "text", Seq("apple"), k = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("degenerate corpus")))
    // an EMPTY corpus (0 rows) yields an empty result, not an error
    val empty = docs.filter($"doc_id" < 0L)
    assert(Bm25.rank(empty, "doc_id", "text", Seq("apple"), k = 1).count() === 0L)
  }

  test("rankMany: each query's batch result equals its solo rank run") {
    val docs = Seq(
      (1L, "apple apple pear plum"),
      (2L, "apple pear plum quince"),
      (3L, "pear plum quince fig"),
      (4L, "fig quince plum apple")).toDF("doc_id", "text")
    val queries = Seq(
      0L -> Seq("apple", "pear"),
      1L -> Seq("pear", "apple"), // reversed fold order
      2L -> Seq("fig"))
    val batch = Bm25.rankMany(docs, "doc_id", "text", queries, k = 4)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1))
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      }
    queries.foreach { case (qid, ts) =>
      val solo = Bm25.rank(docs, "doc_id", "text", ts, k = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(batch(qid) === solo, s"query $qid diverged from the solo run")
    }
  }

  test("stored index probe equals the corpus scan, bit for bit") {
    val rng = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(3 + rng.nextInt(9))(vocab(rng.nextInt(vocab.length)))
        .mkString(" "))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-idx-").toString
    Bm25.buildIndex(docs, "doc_id", "text", idx, numBuckets = 8)
    val terms = Seq("alpha", "gamma", "alpha") // duplicate fold included
    // every doc draws from the vocab, so >> 10 docs match: scan == index
    val scan = Bm25.rank(docs, "doc_id", "text", terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val probe = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      terms, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probe === scan)
  }

  test("the index probe prunes to the query terms' bucket directories") {
    val docs = (1L to 40L).map(i =>
      (i, s"w${i % 7} w${i % 5} shared")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-idx2-").toString
    Bm25.buildIndex(docs, "doc_id", "text", idx, numBuckets = 16)
    val buckets = new java.io.File(s"$idx/seg_base").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(buckets > 2, s"fixture too small to show pruning ($buckets dirs)")
    val probe = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("shared"), k = 5)
    val scans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in probe plan")
    // one term → exactly one bucket directory planned
    assert(scans.map(_.selectedPartitions.partitionCount).min == 1,
      s"probe planned ${scans.map(_.selectedPartitions.partitionCount).toSeq}" +
        s" partitions over $buckets bucket dirs, want a 1")
  }

  test("an indexed term absent from the corpus scores like the scan") {
    val docs = Seq((1L, "apple pear"), (2L, "pear plum")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-idx3-").toString
    Bm25.buildIndex(docs, "doc_id", "text", idx, numBuckets = 4)
    val scan = Bm25.rank(docs, "doc_id", "text", Seq("apple", "missing"), 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val probe = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("apple", "missing"), 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // doc 2 matches no positive term in the probe (pear unqueried): the
    // scan ranks it at score 0, the index returns matched docs only
    assert(scan === Seq((1L, scan.head._2), (2L, 0L)))
    assert(probe === scan.filter(_._2 > 0L))
  }

  test("positional index answers phrase queries like the corpus scan") {
    val docs = Seq(
      (1L, "a b c a b"),   // two "a b"
      (2L, "a a a"),       // overlapping "a a"
      (3L, "b a c"),       // both terms present, never contiguous
      (4L, "x y z"),
      (5L, "c a b")        // match at the end
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-pos-").toString
    Bm25.buildIndex(docs, "doc_id", "text", idx, numBuckets = 4)
    def scan(phrase: Seq[String]) = docs
      .select(col("doc_id"),
        TextAnalysis.phraseCount(col("text"), phrase).as("n"))
      .filter(col("n") > 0L).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def probe(phrase: Seq[String]) = Bm25
      .phraseCountIndexed(Bm25.openIndex(spark, idx), phrase)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (p <- Seq(Seq("a", "b"), Seq("a", "a"), Seq("a", "b", "c"),
        Seq("a"), Seq("missing", "b")))
      assert(probe(p) === scan(p), s"phrase $p diverged from the scan")
    // doc 3 has both terms but no contiguous run: excluded by both forms
    assert(!scan(Seq("a", "b")).exists(_._1 == 3L))
  }

  test("incremental append equals a full rebuild, probe for probe") {
    val rng = new scala.util.Random(23)
    val vocab = Seq("ein", "zwei", "drei", "vier", "fuenf")
    val all = (1L to 50L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(7))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    val full = all.toDF("doc_id", "text")
    val head = all.filter(_._1 <= 20).toDF("doc_id", "text")
    val tail = all.filter(_._1 > 20).toDF("doc_id", "text")
    val idxFull = java.nio.file.Files.createTempDirectory("bm25-full-").toString
    val idxIncr = java.nio.file.Files.createTempDirectory("bm25-incr-").toString
    Bm25.buildIndex(full, "doc_id", "text", idxFull, numBuckets = 8)
    Bm25.buildIndex(head, "doc_id", "text", idxIncr, numBuckets = 8)
    // two appends: the df counts must compose, not just apply once
    Bm25.appendToIndex(Bm25.openIndex(spark, idxIncr),
      tail.filter($"doc_id" <= 35), "doc_id", "text")
    Bm25.appendToIndex(Bm25.openIndex(spark, idxIncr),
      tail.filter($"doc_id" > 35), "doc_id", "text")
    val terms = Seq("ein", "drei")
    def probe(p: String) = Bm25.topKIndexed(Bm25.openIndex(spark, p),
      terms, k = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(probe(idxIncr) === probe(idxFull))
    // …and both equal the corpus scan on the matched prefix
    val scan = Bm25.rank(full, "doc_id", "text", terms, k = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .filter(_._3 > 0L)
    assert(probe(idxFull).take(scan.length) === scan)
  }

  test("compaction shrinks postings files and changes no probe answer") {
    val rng = new scala.util.Random(31)
    val vocab = Seq("uno", "dos", "tres", "cuatro")
    val all = (1L to 48L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    val idx = java.nio.file.Files.createTempDirectory("bm25-cpt-").toString
    Bm25.buildIndex(all.filter(_._1 <= 12).toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 4)
    // many micro-appends: each leaves one more file per touched bucket
    for (lo <- Seq(13L, 22L, 31L, 40L))
      Bm25.appendToIndex(Bm25.openIndex(spark, idx),
        all.filter(t => t._1 >= lo && t._1 < lo + 9).toDF("doc_id", "text"),
        "doc_id", "text")
    def parquetFiles(dir: String): Int = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try s.iterator().asScala.count(p =>
        p.toString.contains(dir) && p.toString.endsWith(".parquet"))
      finally s.close()
    }
    def probes() = (
      Bm25.topKIndexed(Bm25.openIndex(spark, idx),
        Seq("uno", "tres"), k = 15).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      Bm25.phraseCountIndexed(Bm25.openIndex(spark, idx), Seq("dos", "dos"))
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val before = probes()
    def segDirs() = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("seg_")).toSet
    // four appends → four delta segments beside the base
    assert(segDirs() === Set("seg_base", "seg_0", "seg_1", "seg_2", "seg_3"))
    val filesBefore = parquetFiles("seg_")
    Bm25.compactIndex(Bm25.openIndex(spark, idx))
    val filesAfter = parquetFiles("seg_c0")
    assert(filesAfter < filesBefore,
      s"compaction did not shrink: $filesBefore -> $filesAfter files")
    assert(probes() === before, "compaction changed a probe answer")
    // the compaction's inputs stay on disk for one writer cycle
    assert(segDirs().contains("seg_c0") && segDirs().contains("seg_base"))
    // the folded-in segments are retired from stats; the orphan sweep of
    // the NEXT compaction removes them from disk (one writer cycle later)
    Bm25.appendToIndex(Bm25.openIndex(spark, idx), all.filter(_._1 == 1L)
      .map { case (i, t) => (i + 1000L, t) }.toDF("doc_id", "text"),
      "doc_id", "text")
    val afterAppend = probes()
    Bm25.compactIndex(Bm25.openIndex(spark, idx)) // -> seg_c1
    val remaining = segDirs().filterNot(_.startsWith("seg_c"))
    // only the segment retired by THIS compaction may linger; the base and
    // the four deltas retired by the previous one are gone (monotone
    // counter: the 5th append was seg_4 — seg_0..seg_3 are never reused)
    assert(remaining.subsetOf(Set("seg_4")),
      s"stale delta segments not swept: $remaining")
    // compacted generations prune down to current + previous
    Bm25.compactIndex(Bm25.openIndex(spark, idx)) // -> seg_c2, drops seg_c0
    val dirs2 = segDirs()
    assert(dirs2.contains("seg_c2") && dirs2.contains("seg_c1")
      && !dirs2.contains("seg_c0") && !dirs2.contains("seg_base"))
    assert(probes() === afterAppend,
      "compaction changed a probe answer after the extra append")
  }

  test("long append history collapses to one file per bucket on compaction") {
    // 20 micro-batch appends fragment the store into ≥ 20 postings files;
    // compaction must fold the WHOLE history back to ≤ numBuckets files in
    // the new version (one per non-empty bucket — the layout min/max
    // skipping needs), with every probe answer unchanged.
    val docs = (0 until 48).map(i =>
      (i.toLong, s"w$i alpha beta w${i % 7}")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-hist-").toString
    Bm25.buildIndex(docs.filter($"doc_id" < 8), "doc_id", "text", idx,
      numBuckets = 4)
    (0 until 20).foreach { i =>
      Bm25.appendToIndex(Bm25.openIndex(spark, idx),
        docs.filter($"doc_id" >= 8 + i * 2 &&
        $"doc_id" < 8 + (i + 1) * 2), "doc_id", "text", tag = s"h$i")
    }
    def files(substr: String): Long = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try s.iterator().asScala.count(p =>
        p.toString.contains(substr) && p.toString.endsWith(".parquet"))
      finally s.close()
    }
    def probe() = Bm25.topKIndexed(Bm25.openIndex(spark, idx),
      Seq("alpha", "w3"), k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(files("seg_") >= 21L,
      s"expected >= 21 fragmented files, got ${files("seg_")}")
    val before = probe()
    Bm25.compactIndex(Bm25.openIndex(spark, idx))
    // the first compaction writes generation seg_c0
    assert(files("seg_c0") <= 4L,
      s"compacted generation carries ${files("seg_c0")} files, want <= 4")
    assert(probe() === before, "compaction changed a probe answer")
  }

  test("batch phrase probe equals each phrase's own indexed count") {
    val docs = Seq(
      (1L, "a b c a b"), (2L, "a a a"), (3L, "b a c"),
      (4L, "x y z"), (5L, "c a b")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("bm25-mph-").toString
    Bm25.buildIndex(docs, "doc_id", "text", idx, numBuckets = 4)
    val phrases = Seq(0L -> Seq("a", "b"), 1L -> Seq("a", "a"),
      2L -> Seq("a", "b", "c"), 3L -> Seq("a"), 4L -> Seq("missing", "b"))
    val batch = Bm25.phraseCountManyIndexed(Bm25.openIndex(spark, idx), phrases)
      .orderBy(col("phrase_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val solo = phrases.flatMap { case (pid, p) =>
      Bm25.phraseCountIndexed(Bm25.openIndex(spark, idx),
        p).orderBy(col("doc_id"))
        .collect().map(r => (pid, r.getLong(0), r.getLong(1))).toSeq
    }
    assert(batch === solo)
    intercept[IllegalArgumentException] {
      Bm25.phraseCountManyIndexed(Bm25.openIndex(spark, idx), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Bm25.phraseCountManyIndexed(Bm25.openIndex(spark, idx),
        Seq(0L -> Seq("a"), 0L -> Seq("b")))
    }
    intercept[IllegalArgumentException] {
      Bm25.phraseCountManyIndexed(Bm25.openIndex(spark, idx),
        Seq(0L -> Seq.empty))
    }
  }

  test("rankMany validates ids, empty queries, and empty term lists") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Bm25.rankMany(docs, "doc_id", "text", Seq.empty, k = 1)
    }
    intercept[IllegalArgumentException] {
      Bm25.rankMany(docs, "doc_id", "text",
        Seq(0L -> Seq("a"), 0L -> Seq("b")), k = 1)
    }
    intercept[IllegalArgumentException] {
      Bm25.rankMany(docs, "doc_id", "text", Seq(0L -> Seq.empty), k = 1)
    }
  }

  test("Bm25IndexHandle: handle-threaded append/compact/probe equals the " +
       "path forms bit for bit") {
    // round 21: the ingest sink threads ONE handle through the per-batch
    // append/compact/probe loop (cached stats row + per-dir bucket
    // listings — the per-batch pointer re-reads removed); this pins the
    // handle path's results against a fresh handle per call on identical
    // stores, including cache currency across the handle's own mutations.
    val rng = new scala.util.Random(41)
    val vocab = Seq("alfa", "beta", "gamma", "delta")
    val all = (1L to 40L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    val head = all.filter(_._1 <= 15).toDF("doc_id", "text")
    val b0 = all.filter(t => t._1 > 15 && t._1 <= 28).toDF("doc_id", "text")
    val b1 = all.filter(_._1 > 28).toDF("doc_id", "text")
    val terms = Seq("alfa", "gamma")
    def probe(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val pIdx = java.nio.file.Files.createTempDirectory("bm25-h-p-").toString
    Bm25.buildIndex(head, "doc_id", "text", pIdx, numBuckets = 4)
    Bm25.appendToIndex(Bm25.openIndex(spark, pIdx),
      b0, "doc_id", "text", tag = "b0")
    Bm25.compactIndex(Bm25.openIndex(spark, pIdx))
    Bm25.appendToIndex(Bm25.openIndex(spark, pIdx),
      b1, "doc_id", "text", tag = "b1")
    val pGot = probe(Bm25.topKIndexed(Bm25.openIndex(spark, pIdx),
      terms, k = 10))

    val hIdx = java.nio.file.Files.createTempDirectory("bm25-h-h-").toString
    Bm25.buildIndex(head, "doc_id", "text", hIdx, numBuckets = 4)
    val h = Bm25.openIndex(spark, hIdx)
    // warm the listing cache before the mutations: the handle must keep
    // it current through its own append (stats flip) and compaction
    probe(Bm25.topKIndexed(h, terms, k = 10, k1 = 1.2, b = 0.75))
    Bm25.appendToIndex(h, b0, "doc_id", "text", tag = "b0")
    Bm25.compactIndex(h)
    Bm25.appendToIndex(h, b1, "doc_id", "text", tag = "b1")
    val hGot = probe(Bm25.topKIndexed(h, terms, k = 10, k1 = 1.2, b = 0.75))
    assert(hGot === pGot, "BM25 handle probe diverged from path form")
    // replay detection still works through the cached stats row
    Bm25.appendToIndex(h, b1, "doc_id", "text", tag = "b1")
    assert(h.deltaSegments === Bm25.openIndex(spark, hIdx).deltaSegments,
      "cached stats drifted from the committed pointer")
  }

  test("probe rows over an append history are pinned through compaction " +
       "and reopen") {
    // one history holding every df edge case the probe must count right:
    // doc 2 (pear) and doc 5 (kiwi) appended in two segments with a term
    // in both, doc 5 twice in one batch, null and empty texts, kiwi and
    // mango only in deltas, a query term absent from the index and a
    // repeated query term
    val idx = java.nio.file.Files.createTempDirectory("bm25-pin-").toString
    Bm25.buildIndex(Seq[(Long, String)](
        (1L, "apple pear plum"), (2L, "pear pear fig"), (3L, null),
        (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text", idx, numBuckets = 4)
    val h = Bm25.openIndex(spark, idx)
    Bm25.appendToIndex(h, Seq[(Long, String)](
        (5L, "apple kiwi kiwi"), (5L, "kiwi pear"), (2L, "apple apple pear"),
        (6L, null)).toDF("doc_id", "text"), "doc_id", "text", tag = "a1")
    Bm25.appendToIndex(h, Seq[(Long, String)](
        (7L, "kiwi mango apple"), (8L, ""), (5L, "mango kiwi"))
      .toDF("doc_id", "text"), "doc_id", "text")
    val queries = Seq(Seq("apple", "kiwi", "missing", "apple"),
      Seq("mango"), Seq("pear", "fig"))
    val phrases = Seq(0L -> Seq("apple", "kiwi"), 1L -> Seq("kiwi", "kiwi"),
      2L -> Seq("pear"), 3L -> Seq("missing", "pear"),
      4L -> Seq("kiwi", "mango"))
    def probes(hh: Bm25.Bm25IndexHandle) = (
      queries.map(q => Bm25.topKIndexed(hh, q, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq),
      Bm25.phraseCountManyIndexed(hh, phrases)
        .orderBy(col("phrase_id"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // rows captured from the df-table store layout; the probe must keep
    // returning exactly these, whatever the store derives df from
    val pinned = (
      Seq(
        Seq((1L, 5L, 4336883L), (2L, 7L, 2454061L), (3L, 2L, 2234260L),
          (4L, 1L, 1507304L)),
        Seq((1L, 5L, 1473441L), (2L, 7L, 1205297L)),
        Seq((1L, 2L, 3468588L), (2L, 5L, 921318L), (3L, 1L, 753652L))),
      Seq((0L, 5L, 1L), (2L, 1L, 1L), (2L, 2L, 1L), (2L, 5L, 1L),
        (4L, 7L, 1L)))
    assert(probes(h) === pinned, "append history")
    Bm25.compactIndex(h)
    assert(probes(h) === pinned, "after compaction")
    assert(probes(Bm25.openIndex(spark, idx)) === pinned, "reopened")
  }

  test("a store written with a df table and a df_dir stats column opens, " +
       "probes, appends, and loses the table on compaction") {
    val rng = new scala.util.Random(53)
    val vocab = Seq("red", "green", "blue", "cyan", "teal")
    val all = (1L to 36L).map(i =>
      (i, Seq.fill(2 + rng.nextInt(6))(vocab(rng.nextInt(vocab.length)))
        .mkString(" ")))
    def batch(lo: Long, hi: Long) =
      all.filter(t => t._1 >= lo && t._1 <= hi).toDF("doc_id", "text")
    // the older layout after one tagged append: the postings base
    // postings_v0 and delta postings_dt1, df_v0 (base counts) and df_v1
    // (current counts) partitioned like the postings, and an 8-column
    // stats row pointing at them. The postings files are the same as a
    // segment's, so the segment dirs of a fresh build are renamed.
    val old = java.nio.file.Files.createTempDirectory("bm25-old-").toString
    Bm25.buildIndex(batch(1, 12), "doc_id", "text", old, numBuckets = 4)
    Bm25.appendToIndex(Bm25.openIndex(spark, old), batch(13, 24),
      "doc_id", "text", tag = "t1")
    val st = Bm25.indexStatsDf(spark, old).head
    def rename(from: String, to: String): Unit = java.nio.file.Files.move(
      java.nio.file.Paths.get(old, from), java.nio.file.Paths.get(old, to))
    rename("seg_base", "postings_v0")
    rename("seg_t1", "postings_dt1")
    def writeDf(dirs: Seq[String], out: String): Unit =
      dirs.map(d => spark.read.parquet(s"$old/$d")).reduce(_ union _)
        .groupBy(col("term"), col("bucket")).count()
        .withColumnRenamed("count", "df")
        .repartition(4, col("bucket")).sortWithinPartitions(col("term"))
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$old/$out")
    writeDf(Seq("postings_v0"), "df_v0")
    writeDf(Seq("postings_v0", "postings_dt1"), "df_v1")
    StoreMeta.write(Seq((st.getAs[Long]("n_docs"), st.getAs[Long]("total_dl"),
        st.getAs[Int]("n_buckets"), "postings_v0", "df_v1",
        Seq("postings_dt1"), "t1", 1L))
      .toDF("n_docs", "total_dl", "n_buckets", "postings_dir", "df_dir",
        "delta_dirs", "last_tag", "next_seg"), old, "stats")
    assert(Bm25.indexStatsDf(spark, old).columns.toSeq === Seq("n_docs",
      "total_dl", "n_buckets", "postings_dir", "df_dir", "delta_dirs",
      "last_tag", "next_seg"))
    def oldDirs() = new java.io.File(old).listFiles().map(_.getName)
      .filter(n => n.startsWith("df_") || n.startsWith("postings_")).toSet
    assert(oldDirs() === Set("df_v0", "df_v1", "postings_v0", "postings_dt1"))
    val fresh = java.nio.file.Files.createTempDirectory("bm25-new-").toString
    Bm25.buildIndex(batch(1, 24), "doc_id", "text", fresh, numBuckets = 4)
    val terms = Seq("red", "teal", "red")
    val phrases = Seq(0L -> Seq("green", "blue"), 1L -> Seq("cyan"))
    def probes(p: String) = {
      val hh = Bm25.openIndex(spark, p)
      (Bm25.topKIndexed(hh, terms, k = 30).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
        Bm25.phraseCountManyIndexed(hh, phrases)
          .orderBy(col("phrase_id"), col("doc_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    }
    assert(probes(old) === probes(fresh), "old layout probes differ")
    val h = Bm25.openIndex(spark, old)
    assert(h.deltaSegments === 1)
    // the replayed tag is still detected through the older stats row
    Bm25.appendToIndex(h, batch(13, 24), "doc_id", "text", tag = "t1")
    assert(Bm25.indexStatsDf(spark, old).head.getAs[Long]("n_docs") === 24L)
    Bm25.appendToIndex(h, batch(25, 36), "doc_id", "text", tag = "t2")
    Bm25.appendToIndex(Bm25.openIndex(spark, fresh), batch(25, 36),
      "doc_id", "text", tag = "t2")
    assert(Bm25.indexStatsDf(spark, old).head.getAs[Long]("n_docs") === 36L)
    assert(probes(old) === probes(fresh), "old layout differs after append")
    Bm25.compactIndex(h)
    assert(oldDirs() === Set("postings_v0", "postings_dt1"),
      s"df tables survived compaction: ${oldDirs()}")
    assert(probes(old) === probes(fresh), "old layout differs after compact")
    // the second compaction sweeps the last older-layout names
    Bm25.compactIndex(h)
    assert(oldDirs().isEmpty, s"older-layout dirs survived: ${oldDirs()}")
    assert(probes(old) === probes(fresh),
      "old layout differs after the second compact")
  }
}
