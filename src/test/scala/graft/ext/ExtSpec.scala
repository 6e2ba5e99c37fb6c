package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-data pipeline extensions: dedup (exact/minhash/simhash/cosine),
  * similarity search (brute/IVF recall), text analysis. Planted-duplicate
  * fixtures make the LSH paths falsifiable.
  */
class ExtSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs: DataFrame = {
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different text about spark engines and scala"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (4L, "another unrelated document mentioning databases"),
      (5L, "the quick brown fox leaps over the lazy dog")) // near-dup of 0
    base.toDF("doc_id", "text")
  }

  test("exact dedup groups by content, keeps min id") {
    val groups = Dedup.exactDuplicateGroups(docs, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(groups.length == 5) // 6 docs, one exact pair
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    val deduped = Dedup.dropExactDuplicates(docs, "text", "doc_id")
    assert(deduped.count() == 5)
    assert(!deduped.filter($"doc_id" === 3L).isEmpty == false)
  }

  test("minhash near-dup finds planted near-duplicates, skips unrelated") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup always found
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 5L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("jaccardVerify computes exact jaccard on candidate pairs") {
    val cands = Seq((0L, 3L), (0L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardVerify(docs, "text", "doc_id", cands,
      shingleN = 3, threshold = 0.0)
      .orderBy("id_a", "id_b").collect()
    val j = out.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 2L)) == 0.0)
  }

  test("incremental minhash index: batch-vs-store equals batch-over-everything") {
    // disjoint-vocabulary corpus (independent band keys for distinct
    // docs) + planted copies: old corpus A, new batch B with copies of
    // A docs AND a within-B copy pair — the incremental result must be
    // exactly the pairs of minhashNearDuplicates(A ∪ B) touching B
    val a = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => s"at${i}x$j").mkString(" ")))
    val b = (0 until 10).map(i => // copies of A docs 0..9
        (1000L + i, a(i)._2)) ++
      Seq((1100L, "fresh uvw1 uvw2 uvw3 uvw4 uvw5 uvw6 uvw7 uvw8 uvw9"),
        (1101L, "fresh uvw1 uvw2 uvw3 uvw4 uvw5 uvw6 uvw7 uvw8 uvw9"))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-").toString
    Dedup.buildMinhashIndex(spark, dir, a.toDF("doc_id", "text"),
      "text", "doc_id")
    val inc = Dedup.minhashDedupAgainstIndex(Dedup.openMinhashIndex(spark, dir),
        b.toDF("doc_id", "text"), "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashNearDuplicates(
        (a ++ b).toDF("doc_id", "text"), "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 >= 1000L || p._2 >= 1000L)
    assert(inc == full)
    assert(inc.contains((0L, 1000L)) && inc.contains((1100L, 1101L)))
  }

  test("incremental minhash index: append == rebuild, probes stay comparable") {
    val a = (0 until 20).map(i =>
      (i.toLong, (0 until 30).map(j => s"ap${i}x$j").mkString(" ")))
    val b = (20 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => s"ap${i}x$j").mkString(" ")))
    val d1 = java.nio.file.Files.createTempDirectory("graft-mhidx-app-").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft-mhidx-full-").toString
    Dedup.buildMinhashIndex(spark, d1, a.toDF("doc_id", "text"), "text", "doc_id")
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, d1),
      b.toDF("doc_id", "text"), "text", "doc_id")
    Dedup.buildMinhashIndex(spark, d2, (a ++ b).toDF("doc_id", "text"),
      "text", "doc_id")
    def keySet(p: String) = Dedup.minhashIndexKeys(
      Dedup.openMinhashIndex(spark, p))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
    def shSet(p: String) = Dedup.minhashIndexShingles(
      Dedup.openMinhashIndex(spark, p))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSet
    assert(keySet(d1) == keySet(d2))
    assert(shSet(d1) == shSet(d2))
    // a probe over the appended store sees the appended docs as duplicates
    val probe = Dedup.minhashDedupAgainstIndex(
      Dedup.openMinhashIndex(spark, d1),
        Seq((5000L, b.head._2)).toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probe == Set((20L, 5000L)))
  }

  test("minhash handle: caches hold only live segments across appends and compactions") {
    def docs(from: Int, n: Int) = (from until from + n).map(i =>
      (i.toLong, (0 until 20).map(j => s"cache${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-cache-").toString
    Dedup.buildMinhashIndex(spark, dir, docs(0, 6), "text", "doc_id")
    val h = Dedup.openMinhashIndex(spark, dir)
    def touchAndCheck(): Unit = {
      Dedup.minhashDedupAgainstIndex(h, docs(0, 2), "text", "doc_id",
        threshold = 0.9).count()
      h.liveFileCount
      val live = h.liveSegments.toSet
      assert(h.keyDirs.segments.nonEmpty &&
        h.keyDirs.segments.subsetOf(live), h.keyDirs.segments)
      assert(h.segFileCounts.keySet == live, h.segFileCounts.keySet)
      assert(h.shingleDfs.keySet.forall(_.toSet.subsetOf(live)))
      assert(h.shingleDfs.size <= 1)
    }
    touchAndCheck()
    for (round <- 0 until 2) {
      for (b <- 0 until 2) {
        Dedup.appendToMinhashIndex(h, docs(100 + 10 * (2 * round + b), 3),
          "text", "doc_id")
        touchAndCheck()
      }
      Dedup.compactMinhashIndex(h)
      assert(h.liveSegments.length == 1)
      touchAndCheck()
    }
  }

  test("minhash index: tagged append is exactly-once; excludeSeg replays the pre-append probe") {
    val a = (0 until 15).map(i =>
      (i.toLong, (0 until 30).map(j => s"eo${i}x$j").mkString(" ")))
    val b = (15 until 25).map(i =>
      (i.toLong, (0 until 30).map(j => s"eo${i}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-eo-").toString
    Dedup.buildMinhashIndex(spark, dir, a.toDF("doc_id", "text"),
      "text", "doc_id")
    // batch b contains a copy of an indexed doc — its probe has a verdict
    val batch = (b :+ (7777L, a(3)._2)).toDF("doc_id", "text")
    val verdictBefore = Dedup.minhashDedupAgainstIndex(
      Dedup.openMinhashIndex(spark, dir), batch,
        "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verdictBefore.contains((3L, 7777L)))
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      batch, "text", "doc_id", tag = "b7")
    val keysAfter = Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
    val shCountAfter = Dedup.minhashIndexShingles(
      Dedup.openMinhashIndex(spark, dir)).count()
    // REPLAY: the same tag must be detected and skipped WHOLE — duplicate
    // shingle rows would corrupt exact-Jaccard verification downstream
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      batch, "text", "doc_id", tag = "b7")
    assert(Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
      == keysAfter)
    assert(Dedup.minhashIndexShingles(
      Dedup.openMinhashIndex(spark, dir)).count() == shCountAfter)
    // excludeSeg = the committed segment reconstructs the PRE-append index:
    // the replayed probe reproduces the original verdicts bit for bit
    val verdictReplay = Dedup.minhashDedupAgainstIndex(
      Dedup.openMinhashIndex(spark, dir), batch,
        "text", "doc_id", threshold = 0.9, excludeSeg = "seg_b7")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verdictReplay == verdictBefore)
    // and WITHOUT the exclusion the batch's own rows are indexed (sanity
    // that the exclusion was load-bearing, not vacuous)
    assert(keysAfter.exists(_._1 == 7777L))
    // an EMPTY batch (idle streaming micro-batch) is a no-op — no junk
    // segment, index stays fully readable
    val segsBefore = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_")).length
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      a.toDF("doc_id", "text").filter(col("doc_id") < 0), "text", "doc_id")
    assert(new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_")).length
      == segsBefore)
    assert(Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
      == keysAfter)
  }

  test("minhash index compaction: probe-identical, tag survives, orphans swept") {
    val a = (0 until 12).map(i =>
      (i.toLong, (0 until 30).map(j => s"cp${i}x$j").mkString(" ")))
    val b = (12 until 20).map(i =>
      (i.toLong, (0 until 30).map(j => s"cp${i}x$j").mkString(" ")))
    val c = (20 until 28).map(i =>
      (i.toLong, (0 until 30).map(j => s"cp${i}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-cmp-").toString
    Dedup.buildMinhashIndex(spark, dir, a.toDF("doc_id", "text"),
      "text", "doc_id")
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      b.toDF("doc_id", "text"),
      "text", "doc_id", tag = "t1")
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      c.toDF("doc_id", "text"),
      "text", "doc_id", tag = "t2")
    val keysBefore = Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
    val shBefore = Dedup.minhashIndexShingles(
      Dedup.openMinhashIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSet
    // plant crashed-append debris: an unreferenced segment dir
    val debris = java.nio.file.Paths.get(dir, "seg_zz")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.writeString(debris.resolve("junk"), "x")
    Dedup.compactMinhashIndex(Dedup.openMinhashIndex(spark, dir))
    // pure layout: the folded tables are the same row multisets
    assert(Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
      == keysBefore)
    assert(Dedup.minhashIndexShingles(Dedup.openMinhashIndex(spark, dir))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSet
      == shBefore)
    assert(!java.nio.file.Files.exists(debris), "orphan debris not swept")
    // one live segment; the pre-compaction inputs survive one grace
    // generation for in-flight readers
    def segDirs() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_"))
      .map(_.getName).toSet
    assert(segDirs().contains("seg_c0"))
    assert(segDirs().contains("seg_base"), "grace window violated")
    // the exactly-once tag survives compaction: replaying the last batch
    // is still a no-op
    Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
      c.toDF("doc_id", "text"),
      "text", "doc_id", tag = "t2")
    assert(Dedup.minhashIndexKeys(Dedup.openMinhashIndex(spark, dir))
      .select("doc_id", "band_key").as[(Long, Long)].collect().toSet
      == keysBefore)
    // a probe over the compacted index equals the rebuild-over-everything
    val full = java.nio.file.Files.createTempDirectory("graft-mhidx-cfull-").toString
    Dedup.buildMinhashIndex(spark, full, (a ++ b ++ c).toDF("doc_id", "text"),
      "text", "doc_id")
    val probeBatch = Seq((6000L, b.head._2)).toDF("doc_id", "text")
    def probe(p: String) = Dedup.minhashDedupAgainstIndex(
      Dedup.openMinhashIndex(spark, p),
        probeBatch, "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probe(dir) == probe(full) && probe(dir) == Set((12L, 6000L)))
    // a SECOND compaction sweeps the previous generation's inputs
    Dedup.compactMinhashIndex(Dedup.openMinhashIndex(spark, dir))
    assert(segDirs() == Set("seg_c0", "seg_c1"),
      s"expected the grace sweep, got ${segDirs()}")
  }

  test("minhash store: long append history collapses to bucket-count files") {
    // 20 appends → 21 live segments, each with its own keys files; the
    // compacted generation must hold ALL keys in ≤ numKeyBuckets files,
    // and a probe must answer identically before and after.
    def doc(id: Long, tag: String) =
      (id, (0 until 30).map(j => s"hx${tag}w$j").mkString(" "))
    val head = (0 until 10).map(i => doc(i.toLong, s"b$i"))
    val dir = java.nio.file.Files.createTempDirectory("mh-hist-").toString
    Dedup.buildMinhashIndex(spark, dir, head.toDF("doc_id", "text"),
      "text", "doc_id", numKeyBuckets = 8)
    (0 until 20).foreach { i =>
      Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
        Seq(doc(100L + i, s"a$i")).toDF("doc_id", "text"),
        "text", "doc_id", tag = s"h$i")
    }
    def keyFiles(substr: String): Long = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.count(p =>
        p.toString.contains(substr) && p.toString.contains("keys") &&
          p.toString.endsWith(".parquet"))
      finally s.close()
    }
    def segCount() = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("seg_"))
    assert(segCount() == 21, s"expected 21 segments, got ${segCount()}")
    assert(keyFiles("seg_") >= 21L)
    val probeBatch = Seq(doc(9999L, "a7")).toDF("doc_id", "text")
    def probe() = Dedup.minhashDedupAgainstIndex(
      Dedup.openMinhashIndex(spark, dir), probeBatch,
        "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val before = probe()
    assert(before == Set((107L, 9999L)), s"unexpected probe result $before")
    Dedup.compactMinhashIndex(Dedup.openMinhashIndex(spark, dir))
    assert(keyFiles("seg_c0") <= 8L,
      s"compacted keys carry ${keyFiles("seg_c0")} files, want <= 8")
    assert(probe() == before, "compaction changed the probe answer")
  }

  test("fragmented-store probe plan size is independent of segment count") {
    // regression guard for the round-17 plan-blowup: the verify stage
    // referenced the candidate DAG (which embeds the N-segment stored-key
    // union) ~5×, so the FINAL probe plan grew ~5 subtrees per live
    // segment and a 21-segment probe spent minutes in analysis/codegen.
    // With the candidate + shingled frames eagerly checkpointed, every
    // downstream reference is a leaf: the physical plan node count of the
    // returned frame must be the SAME for a 1-segment and a 21-segment
    // store (the per-segment work happens inside the checkpoint jobs,
    // linear in segments, off the final plan).
    def doc(id: Long, tag: String) =
      (id, (0 until 30).map(j => s"pz${tag}w$j").mkString(" "))
    def planNodes(nAppends: Int): Int = {
      val dir = java.nio.file.Files.createTempDirectory(s"mh-pl$nAppends-")
        .toString
      Dedup.buildMinhashIndex(spark, dir,
        (0 until 5).map(i => doc(i.toLong, s"b$i")).toDF("doc_id", "text"),
        "text", "doc_id", numKeyBuckets = 8)
      (0 until nAppends).foreach { i =>
        Dedup.appendToMinhashIndex(Dedup.openMinhashIndex(spark, dir),
          Seq(doc(100L + i, s"a$i")).toDF("doc_id", "text"),
          "text", "doc_id", tag = s"h$i")
      }
      val probe = Dedup.minhashDedupAgainstIndex(
        Dedup.openMinhashIndex(spark, dir),
        Seq(doc(9999L, "a0")).toDF("doc_id", "text"), "text", "doc_id",
        threshold = 0.9)
      var n = 0
      probe.queryExecution.sparkPlan.foreach(_ => n += 1)
      n
    }
    val small = planNodes(1)
    val large = planNodes(21)
    assert(large == small,
      s"probe plan grew with segment count: $small nodes at 1 segment vs " +
        s"$large at 21 — lineage truncation regressed")
  }

  test("incremental minhash probe prunes to the batch's key buckets") {
    // the stored key table is bucket-partitioned by pmod(band_key, B); a
    // small batch touches few buckets, so the probe's stored-key scan must
    // plan a strict subset of the bucket directories (honest-list 5)
    val a = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => s"pb${i}x$j").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-mhprn-").toString
    Dedup.buildMinhashIndex(spark, dir, a.toDF("doc_id", "text"),
      "text", "doc_id", numKeyBuckets = 32)
    val allBuckets = new java.io.File(s"$dir/seg_base/keys").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(allBuckets > 4, s"fixture too small ($allBuckets bucket dirs)")
    // the probe itself eagerly checkpoints its candidate stage (plan-size
    // truncation), so inspect the stored-keys frame via the shared helper
    // the probe executes — same pruning, same pushdown, lazy plan
    val probe = Dedup.probeStoredKeysFor(Dedup.openMinhashIndex(spark, dir),
      Seq((9000L, a.head._2)).toDF("doc_id", "text"), "text", "doc_id")
    val keysScans = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("keys")) => f
    }
    assert(keysScans.nonEmpty, "no stored-keys scan in the probe plan")
    // bucket pruning is PATH-level now (touched dirs selected before the
    // read): one batch doc → 16 band keys → the scan's input files must
    // live in at most 16 of the 32 bucket dirs
    val scannedBuckets = keysScans.flatMap(_.relation.location.inputFiles)
      .flatMap(_.split("/").find(_.startsWith("bucket="))).distinct
    assert(scannedBuckets.nonEmpty && scannedBuckets.length <= 16,
      s"probe scans ${scannedBuckets.length} of $allBuckets key buckets " +
        "— pruning is not happening")
    // point-lookup regime: the batch's key membership is PUSHED into the
    // scan (per-value parquet predicates over key-sorted row groups —
    // the sublinear-read mechanism), not just joined after the read
    assert(keysScans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains("In(band_key"))),
      keysScans.map(_.metadata.getOrElse("PushedFilters", "?")).mkString("; "))
  }

  test("simhash: hamming≤max candidates guaranteed by pigeonhole banding") {
    val pairs = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    // near-dups share most tokens → low hamming
    assert(pairs.contains((0L, 5L)))
  }

  test("simhash planted fixture: exactly the planted pairs, nothing else") {
    // disjoint per-doc vocabularies → distinct docs' simhashes are 64
    // independent bits; only the planted exact copies fall within hamming 8
    // (the q_dedup_simhash_planted oracle argument, checked end-to-end here)
    val base = (0 until 100).map { i =>
      (i.toLong, (0 until 30).map(j => s"tok${i}x$j").mkString(" "))
    }
    val copies = base.map { case (id, text) => (id + 1000L, text) }
    val out = Dedup.simhashNearDuplicates((base ++ copies).toDF("doc_id", "text"),
        "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == 100, s"expected exactly the planted pairs, got ${out.length}")
    assert(out.toSet == (0 until 100).map(i => (i.toLong, i + 1000L, 0)).toSet)
  }

  test("minhash banded exchange computes the signature once, reused across branches") {
    // the expensive upstream (signature UDF → band explode → band_key
    // exchange) must be computed ONCE and REUSED by both self-join sides
    // AND the overflow-representative branch — three consumers, one stage.
    // Asserted on the EXECUTED plan: AQE stage reuse (and the non-AQE
    // ReuseExchange rule) both surface as ReusedExchange nodes.
    val df = (0 until 200).map(i =>
      (i.toLong, s"doc $i common words here plus token$i extra"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "text", "doc_id")
    cands.collect()
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      "banded signature exchange must be reused:\n" + plan.take(4000))
  }

  test("overflow LSH buckets pair through the min-id representative, never drop silently") {
    // 30 identical boilerplate docs: with maxBucket=10 every one of their
    // band buckets overflows, so the old guard emitted ZERO candidates;
    // the representative branch must still pair doc 0 with every copy
    val boiler = (0 until 30).map(i => (i.toLong, "same text every time"))
    val unique = (0 until 5).map(i => (100L + i, s"doc $i alpha$i beta$i gamma$i"))
    val df = (boiler ++ unique).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "text", "doc_id", maxBucket = 10)
      .as[(Long, Long)].collect().toSet
    assert((1 until 30).forall(i => cands((0L, i.toLong))),
      s"missing representative candidates: $cands")
    assert(!cands.exists(p => p._1 >= 100L || p._2 >= 100L))
    // verified pairs survive with jaccard 1.0 — recall recovered at O(n)
    val verified = Dedup.jaccardVerify(df, "text", "doc_id",
      Dedup.minhashCandidates(df, "text", "doc_id", maxBucket = 10),
      threshold = 0.9)
    assert(verified.count() == 29)
    // hamming path: identical sketches, overflow buckets, rep pairs at 0
    val sh = Dedup.simhashNearDuplicates(df, "text", "doc_id",
        maxHamming = 3, maxBucket = 10)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert((1 until 30).forall(i => sh((0L, i.toLong, 0))),
      s"simhash representative pairs missing: $sh")
  }

  test("bucketOverflowReport quantifies what the skew cap drops") {
    val boiler = (0 until 30).map(i => (i.toLong, "same text every time"))
    val unique = (0 until 5).map(i => (100L + i, s"doc $i alpha$i beta$i gamma$i"))
    val keys = Dedup.minhashBandKeys((boiler ++ unique).toDF("doc_id", "text"),
      "text", "doc_id", numBands = 16)
    val r = Dedup.bucketOverflowReport(keys, "band_key", maxBucket = 10).head()
    assert(r.getLong(0) == 16)      // every band of the boilerplate overflows
    assert(r.getLong(1) == 16 * 30) // all its band-memberships would drop
    assert(r.getLong(2) == 30)
    // with a cap above the mega-bucket, nothing overflows
    val r2 = Dedup.bucketOverflowReport(keys, "band_key", maxBucket = 30).head()
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 0)
  }

  test("cosine LSH near-dup finds identical planted vectors") {
    val rng = new scala.util.Random(1)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
    val planted = vecs.take(5).map { case (id, v) => (id + 1000L, v) }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    val found = Dedup.cosineNearDuplicates(df, "embedding", "vec_id",
        dim = 16, nBands = 8, planesPerBand = 4, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 5).foreach { i =>
      assert(found.contains((i.toLong, i + 1000L)), s"missing planted pair $i")
    }
    // exact verify kernel agrees
    val exact = Dedup.cosineNearDuplicatesExact(df, "embedding", "vec_id", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found == exact)
  }

  test("semantic dedup drops planted copies, keeps originals, same cell") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
    val planted = vecs.take(5).map { case (id, v) => (id + 1000L, v) }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    val cents = Similarity.centroidsByIds(df, "vec_id", "embedding", 0L to 3L)
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", cents,
        threshold = 0.95)
      .select("id", "cell", "keep").as[(Long, Int, Boolean)].collect()
    assert(out.length == 65)                      // one row per input
    val byId = out.map(r => r._1 -> r).toMap
    (0 until 5).foreach { i =>
      assert(!byId(i + 1000L)._3, s"planted copy ${i + 1000} not dropped")
      assert(byId(i.toLong)._3, s"original $i (smaller id) must survive")
      // an exact copy must land in its original's cell
      assert(byId(i + 1000L)._2 == byId(i.toLong)._2)
    }
    // random 16-d pairs never reach cos 0.95: nothing else drops
    assert(out.count(!_._3) == 5)
  }

  test("semantic dedup overflow cells split recursively; identical pairs still drop") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
    val planted = vecs.take(5).map { case (id, v) => (id + 1000L, v) }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    val cents = Similarity.centroidsByIds(df, "vec_id", "embedding", 0L to 3L)
    // maxCell = 1 overflows every cell: the recursive split separates
    // distinct random vectors into singleton leaves (each member is its own
    // best sub-centroid), while an identical original+copy pair can never
    // be separated by centroid geometry — it bottoms out at maxSplitDepth
    // and the representative fallback still drops the copy. Nothing is
    // silently skipped.
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", cents,
        threshold = 0.95, maxCell = 1, splitFanout = 16, maxSplitDepth = 4)
      .select("id", "keep").as[(Long, Boolean)].collect()
    assert(out.length == 65)
    val dropped = out.filter(!_._2).map(_._1).toSet
    assert(dropped == (0 until 5).map(i => i + 1000L).toSet,
      s"expected exactly the planted copies dropped, got $dropped")
  }

  test("semantic dedup mega-cell: one centroid, split to fitted leaves, 0 overflow") {
    val rng = new scala.util.Random(5)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
    val planted = vecs.take(20).map { case (id, v) => (id + 10000L, v) }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    // a single centroid puts all 220 rows in cell 0 — the mode-collapse
    // regime where the old guard skipped dedup entirely
    val cents = Similarity.centroidsByIds(df, "vec_id", "embedding", Seq(0L))
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", cents,
      threshold = 0.95, maxCell = 50, splitFanout = 16)
    val rows = out.select("id", "cell", "leaf", "keep")
      .as[(Long, Int, String, Boolean)].collect()
    assert(rows.length == 220)
    assert(rows.forall(_._2 == 0)) // top-level cell unchanged by the split
    val dropped = rows.filter(!_._4).map(_._1).toSet
    assert(dropped == (0 until 20).map(i => i + 10000L).toSet,
      s"expected exactly the planted copies dropped, got $dropped")
    // every copy pairs inside its original's leaf
    val leafById = rows.map(r => r._1 -> r._3).toMap
    (0 until 20).foreach(i => assert(leafById(i.toLong) == leafById(i + 10000L)))
    // the split terminated: no leaf above maxCell → 0 sacrificed rows
    val rep = Dedup.bucketOverflowReport(out, "leaf", maxBucket = 50).head()
    assert(rep.getLong(0) == 0 && rep.getLong(1) == 0,
      s"overflow after split: ${rep.getLong(0)} leaves / ${rep.getLong(1)} rows")
  }

  test("semantic dedup with KMeans-fitted centroids: near-dup recall on clustered data") {
    // quality gate for the production (kmeansCentroids) path: tight
    // clusters + noise, planted near-copies (small jitter, cos ≈ 0.999);
    // fitted centroids must co-assign original and copy often enough that
    // dedup recall holds — the explicit-member-centroid oracle path proves
    // correctness, this proves the fitted path is fit for purpose
    val rng = new scala.util.Random(13)
    def around(center: Float) =
      Array.fill(8)(center + rng.nextFloat() * 0.1f).toSeq
    val base = ((0 until 120).map(i => (i.toLong, around(1.0f))) ++
      (120 until 240).map(i => (i.toLong, around(-1.0f))) ++
      (240 until 300).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1).toSeq)))
    val planted = base.take(20).map { case (id, v) =>
      (id + 10000L, v.map(x => x + (rng.nextFloat() - 0.5f) * 0.002f))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, "embedding", nlist = 6)
    // threshold sits between distinct cluster members (cos ≈ 0.999 — kept)
    // and the planted jittered copies (cos ≈ 0.9999998 — dropped)
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", cents,
        threshold = 0.99999)
      .select("id", "keep").as[(Long, Boolean)].collect()
    val dropped = out.filter(!_._2).map(_._1).toSet
    val recall = (0 until 20).count(i => dropped(i + 10000L)) / 20.0
    assert(recall >= 0.9, s"fitted-centroid semantic dedup recall = $recall")
  }

  test("IVF recall@k ≥ 0.9 vs in-engine brute force (nprobe < nlist)") {
    val rng = new scala.util.Random(7)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    val ivf = topk(Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, nlist = 8, nprobe = 6))
    val recalls = brute.map { case (q, expected) =>
      ivf.getOrElse(q, Set.empty).intersect(expected).size.toDouble / expected.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 = $mean")
  }

  test("IVF with KMeans-fitted centroids sustains recall under skew") {
    // two tight clusters + noise: hash-picked centroids can land lopsided;
    // fitted centroids follow the distribution
    val rng = new scala.util.Random(11)
    def around(center: Float) =
      Array.fill(8)(center + rng.nextFloat() * 0.1f).toSeq
    val corpus = ((0 until 120).map(i => (i.toLong, around(1.0f))) ++
      (120 until 240).map(i => (i.toLong, around(-1.0f))) ++
      (240 until 300).map(i => (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1).toSeq)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id".isin(0L, 130L, 250L))
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    val ivf = topk(Similarity.ivfTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, nlist = 6, nprobe = 3, kmeansIters = 5))
    val recalls = brute.map { case (q, expected) =>
      ivf.getOrElse(q, Set.empty).intersect(expected).size.toDouble / expected.size
    }
    assert(recalls.sum / recalls.size >= 0.9,
      s"kmeans-IVF mean recall = ${recalls.sum / recalls.size}")
  }

  test("IVF recentre-on-compact recovers recall under distribution drift") {
    // the streaming-ingest failure mode the refit exists for: build-time
    // centroids fitted on clusters along axes e0/e1, then the ingest
    // DRIFTS to new clusters along e2/e3 — near-orthogonal to every
    // stored centroid, so stale assignment scatters each new cluster
    // across cells by noise and a fixed-nprobe probe misses most true
    // neighbors. Plain compaction preserves the stale cells (the
    // control); recentre-compaction refits k-means on the live corpus
    // and co-locates each cluster again.
    val rng = new scala.util.Random(17)
    def around(axis: Int) = {
      val v = Array.fill(8)(rng.nextFloat() * 0.08f)
      v(axis) = 1.0f + rng.nextFloat() * 0.05f
      v.toSeq
    }
    val head = ((0 until 40).map(i => (i.toLong, around(0))) ++
      (40 until 80).map(i => (i.toLong, around(1))))
      .toDF("vec_id", "embedding")
    val drift = ((100 until 140).map(i => (i.toLong, around(2))) ++
      (140 until 180).map(i => (i.toLong, around(3))))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivf-drift-").toString
    Similarity.buildIvfIndex(head, "vec_id", "embedding",
      Similarity.kmeansCentroids(head, "embedding", nlist = 4), idx)
    Similarity.appendToIvfIndex(Similarity.openIvfIndex(spark, idx),
      drift, "vec_id", "embedding")
    val queries = drift.filter($"vec_id".isin(100L, 120L, 141L, 160L))
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.bruteForceTopK(head.unionByName(drift),
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    def recall(): Double = {
      val got = topk(Similarity.ivfTopKIndexed(
        Similarity.openIvfIndex(spark, idx), queries,
        "vec_id", "embedding", k = 10, nprobe = 1))
      val rs = brute.map { case (q, exp) =>
        got.getOrElse(q, Set.empty).intersect(exp).size.toDouble / exp.size }
      rs.sum / rs.size
    }
    // stale-centroid control: plain compaction keeps build-time cells
    Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx))
    val stale = recall()
    // the refit: same live content, centroids follow the drifted corpus
    Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, idx),
      recentre = true)
    val refit = recall()
    assert(refit > stale,
      s"recentring must beat stale centroids: $refit vs $stale")
    assert(refit >= 0.9, s"post-refit recall@10 = $refit")
    assert(stale <= 0.7,
      s"control lost its teeth — drift no longer hurts stale cells ($stale)")
    // the refit store stays a faithful row multiset: exhaustive probing
    // over the recentred cells equals brute force on (query, neighbor)
    val exhaustive = topk(Similarity.ivfTopKIndexed(
      Similarity.openIvfIndex(spark, idx), queries,
      "vec_id", "embedding", k = 10, nprobe = 4))
    assert(exhaustive == brute, "exhaustive probe diverged post-recentre")
    // and the append path keeps working against the RECENTRED table via
    // the manifest's cent_dir pointer
    val more = Seq((200L, around(2))).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(Similarity.openIvfIndex(spark, idx),
      more, "vec_id", "embedding")
    val got = topk(Similarity.ivfTopKIndexed(
      Similarity.openIvfIndex(spark, idx),
      more, "vec_id", "embedding", k = 1, nprobe = 1))
    assert(got(200L) == Set(200L), "fresh append not retrievable post-refit")
  }

  test("IVF with exhaustive probing equals brute force exactly") {
    val rng = new scala.util.Random(9)
    val corpus = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat()).toSeq)).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3)
    val b = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5).orderBy("query_id", "rank").collect()
    val i = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, nlist = 4, nprobe = 4)
      .orderBy("query_id", "rank").collect()
    assert(b.map(_.toSeq).toSeq == i.map(_.toSeq).toSeq)
  }

  test("stored-bucketed IVF prunes unprobed cell partitions at the scan") {
    val rng = new scala.util.Random(13)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivf-idx-").toString
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 8L)
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cents, idx)

    // the store really is laid out one directory per cell (base segment)
    val cellDirs = new java.io.File(s"$idx/seg_base").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length == 8, s"expected 8 cell dirs, got ${cellDirs.toSeq}")

    // probing 2 of 8 cells selects exactly those 2 cell DIRECTORIES at
    // path construction (round-17 layout: explicit multi-path scan)
    val nprobe = 2
    val queries = corpus.filter($"vec_id" === 42L)
    val pruned = Similarity.prunedCorpusScan(
      Similarity.openIvfIndex(spark, idx), Seq(3, 5))
    val scans = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in pruned plan")
    def scannedCells(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.flatMap(_.relation.location.inputFiles)
        .flatMap(_.split("/").find(_.startsWith("cell="))).distinct.sorted
    assert(scannedCells(pruned) == Seq("cell=3", "cell=5"),
      s"scan reads ${scannedCells(pruned)}, want exactly cells 3 and 5")
    // …and its files are strictly fewer than the full index's
    val prunedFiles = scans.flatMap(_.relation.location.inputFiles).length
    val allFiles = Similarity.prunedCorpusScan(
      Similarity.openIvfIndex(spark, idx), 0 until 8)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.flatMap(_.relation.location.inputFiles).length
    assert(prunedFiles < allFiles)

    // end-to-end: indexed probe ≡ a driver-side replay of the same IVF
    // semantics (assign to max-cosine centroid, probe top-nprobe cells,
    // brute-force within probed cells) over the collected fixture
    val viaIndex = Similarity.ivfTopKIndexed(
      Similarity.openIvfIndex(spark, idx), queries,
        "vec_id", "embedding", k = 5, nprobe = nprobe)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank")))
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toSeq)
      .toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      if (na > 0 && nb > 0) dp / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val cellById = vecs.view.mapValues(v =>
      cents.maxBy { case (cid, cv) => (cos(v, cv), -cid) }._1).toMap
    val qv = vecs(42L)
    val probed = cents.map { case (cid, cv) => (cid, cos(qv, cv)) }
      .sortBy { case (cid, c) => (-c, cid) }.take(nprobe).map(_._1).toSet
    val expect = vecs.toSeq
      .filter { case (id, _) => probed.contains(cellById(id)) }
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
      .zipWithIndex
      .map { case ((id, c), i) =>
        // Spark round() is HALF_UP, not rint's HALF_EVEN
        (42L, id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          (i + 1).toLong) }
    assert(viaIndex.toSeq == expect,
      s"indexed probe ${viaIndex.toSeq} != replay $expect")
  }

  test("PQ encode: codebook members code to themselves, exact ADC cosine 1") {
    val rng = new scala.util.Random(17)
    val corpus = (0 until 100).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding",
      m = 4, 0L until 8L)
    assert(cb.ksub == 8 && cb.dsub == 4)
    val members = corpus.filter($"vec_id" < 8).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    // member j's sub-slices are at L2 distance 0 from codeword j in every
    // subspace — the argmin must pick j itself (ties cannot beat dist 0
    // except an identical codeword, impossible for random data)
    (0L until 8L).foreach { j =>
      assert(cb.encode(members(j)).toSeq == Seq.fill(4)(j.toInt),
        s"member $j does not encode to itself")
    }
    // and the ADC cosine of a member against its own code is exactly 1:
    // lut gather-sum = Σ_s dot(v_s, v_s) = |v|², r2 = |v|², so
    // num / (|v|·√r2) = 1 bit-for-bit
    val out = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      corpus.filter($"vec_id" === 3L), "vec_id", "embedding", k = 1,
      Similarity.centroidsByIds(corpus, "vec_id", "embedding", Seq(0L)),
      cb, nprobe = 1).collect()
    assert(out.length == 1 && out.head.getAs[Long]("corpus_id") == 3L &&
      out.head.getAs[Double]("score") == 1.0, s"got ${out.toSeq}")
  }

  test("IVF-PQ with kmeans codebooks + exact rerank: recall@10 ≥ 0.9") {
    // the production configuration: fitted per-subspace codebooks, ADC
    // candidate generation, exact re-scoring of the top-`rerank` pool —
    // quality gate mirroring the plain-IVF recall tests above
    val rng = new scala.util.Random(23)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    val cents = Similarity.kmeansCentroids(corpus, "embedding", nlist = 8)
    val cb = Similarity.pqCodebooksKmeans(corpus, "embedding", m = 4, ksub = 16)
    val pq = topk(Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, cents, cb,
      nprobe = 6, rerank = 50))
    val recalls = brute.map { case (q, expected) =>
      pq.getOrElse(q, Set.empty).intersect(expected).size.toDouble / expected.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"IVF-PQ rerank mean recall@10 = $mean")
  }

  test("IVF index append: incremental rows probe identically to a full build") {
    // the 100 TB maintenance path: a daily ingest appends into the cell
    // directories instead of rebuilding; probes over (build half + append
    // half) must equal probes over a one-shot full build — same centroids,
    // same assignment, same scoring
    val rng = new scala.util.Random(41)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val first = corpus.filter($"vec_id" < 120)
    val rest = corpus.filter($"vec_id" >= 120)
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 8L)
    val queries = corpus.filter($"vec_id" === 42L)

    val incIdx = java.nio.file.Files.createTempDirectory("ivf-inc-").toString
    Similarity.buildIvfIndex(first, "vec_id", "embedding", cents, incIdx)
    Similarity.appendToIvfIndex(Similarity.openIvfIndex(spark, incIdx),
      rest, "vec_id", "embedding")
    val fullIdx = java.nio.file.Files.createTempDirectory("ivf-full-").toString
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cents, fullIdx)
    def probe(p: String) = Similarity.ivfTopKIndexed(
      Similarity.openIvfIndex(spark, p), queries,
      "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(probe(incIdx) == probe(fullIdx))

    // same for the codes-only PQ store: appended rows encode against the
    // STORED codebooks, so codes stay comparable across generations
    val cb = Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding",
      m = 4, 0L until 8L)
    val incPq = java.nio.file.Files.createTempDirectory("ivfpq-inc-").toString
    Similarity.buildIvfPqIndex(first, "vec_id", "embedding", cents, cb, incPq)
    Similarity.appendToIvfPqIndex(Similarity.openIvfIndex(spark, incPq),
      rest, "vec_id", "embedding")
    val fullPq = java.nio.file.Files.createTempDirectory("ivfpq-full-").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", cents, cb, fullPq)
    def probePq(p: String) = Similarity.ivfPqTopKIndexed(
      Similarity.openIvfIndex(spark, p), queries,
      "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(probePq(incPq) == probePq(fullPq))
    // round 18 — the PQ store joined the segment+manifest discipline: a
    // tagged append replayed with the same tag is skipped whole, and
    // compaction folds the history probe-identically
    val extra = corpus.filter($"vec_id" >= 190)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    Similarity.appendToIvfPqIndex(Similarity.openIvfIndex(spark, incPq),
      extra, "vec_id", "embedding",
      tag = "t1")
    val afterTag = probePq(incPq)
    Similarity.appendToIvfPqIndex(Similarity.openIvfIndex(spark, incPq),
      extra, "vec_id", "embedding",
      tag = "t1") // replay: must be a no-op
    assert(probePq(incPq) == afterTag, "replayed tagged append double-stored")
    Similarity.compactIvfPqIndex(Similarity.openIvfIndex(spark, incPq))
    assert(probePq(incPq) == afterTag, "PQ compaction changed probe results")
    val segs = new java.io.File(incPq).listFiles()
      .map(_.getName).filter(_.startsWith("seg_")).toSeq
    assert(segs.count(_.startsWith("seg_c")) == 1,
      s"expected one folded generation, got $segs")
  }

  test("residual IVF-PQ (IVFADC): beats raw-vector codes on clustered data") {
    // tight clusters: residuals concentrate near 0, so the same codebook
    // budget quantizes them with far less error than the raw vectors —
    // the reason IVFADC encodes residuals. Compare pure-ADC (no rerank)
    // rankings against exact brute force under an identical budget.
    val rng = new scala.util.Random(31)
    def around(center: Float) =
      Array.fill(16)(center + rng.nextFloat() * 0.3f).toSeq
    val corpus = ((0 until 100).map(i => (i.toLong, around(1.0f))) ++
      (100 until 200).map(i => (i.toLong, around(-1.0f))) ++
      (200 until 300).map(i => (i.toLong, around(0.0f))))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id".isin(0L, 110L, 220L))
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def meanRecall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val rs = want.map { case (q, e) =>
        got.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size }
      rs.sum / rs.size
    }
    val brute = topk(Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10))
    val cents = Similarity.kmeansCentroids(corpus, "embedding", nlist = 6)
    // identical budget (m=8, ksub=16), nprobe = nlist isolates code error
    val plainCb = Similarity.pqCodebooksKmeans(corpus, "embedding", m = 8, ksub = 16)
    val plain = meanRecall(topk(Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, cents, plainCb, nprobe = 6)), brute)
    val residuals = Similarity.pqResiduals(corpus, "vec_id", "embedding", cents)
    val resCb = Similarity.pqCodebooksKmeans(residuals, "__v", m = 8, ksub = 16)
    val res = meanRecall(topk(Similarity.ivfPqResidualTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10, cents, resCb, nprobe = 6)), brute)
    // ranking the top-10 among ~100 near-identical cluster members (all
    // cosines ≈ 0.99) is the hardest regime for pure ADC — the claims that
    // matter are the residual MARGIN over raw-vector codes (measured 0.70
    // vs 0.53) and that the standard exact rerank restores full recall
    assert(res >= plain + 0.1,
      s"residual codes recall $res not better than raw-vector $plain")
    val reranked = meanRecall(topk(Similarity.ivfPqResidualTopK(
      corpus, "vec_id", "embedding", queries, "vec_id", "embedding",
      k = 10, cents, resCb, nprobe = 6, rerank = 30)), brute)
    assert(reranked >= 0.9, s"residual+rerank recall@10 = $reranked")
  }

  test("residual IVF-PQ: exactly-representable rows score their exact cosine") {
    // codebooks drawn from explicit member residuals: a member row's
    // reconstruction is centroid + its own residual = the row itself, so
    // its ADC score against any query equals the exact cosine (up to
    // summation-order float noise, orders of magnitude under the 6-dp
    // rounding)
    val rng = new scala.util.Random(37)
    val corpus = (0 until 120).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" === 7L)
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 4L)
    val residuals = Similarity.pqResiduals(corpus, "vec_id", "embedding", cents)
    val resCb = Similarity.pqCodebooksByIds(residuals, "id", "__v", m = 4, 0L until 8L)
    val got = Similarity.ivfPqResidualTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 120, cents, resCb, nprobe = 4)
      .select("corpus_id", "score").as[(Long, Double)].collect().toMap
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 120)
      .select("corpus_id", "cosine").as[(Long, Double)].collect().toMap
    // members 0..7 are exactly representable (their own residual is
    // codeword j of every subspace)
    (0L until 8L).foreach { id =>
      assert(math.abs(got(id) - exact(id)) <= 1e-6,
        s"member $id: ADC ${got(id)} vs exact ${exact(id)}")
    }
  }

  test("stored IVF-PQ index: codes-only pruned scan matches in-memory ADC") {
    val rng = new scala.util.Random(29)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("ivfpq-idx-").toString
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 8L)
    val cb = Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding",
      m = 4, 0L until 16L)
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", cents, cb, idx)

    // the stored rows carry codes + r2 only — vectors never hit the index
    // (round-18 layout: segment dir + manifest, cell duplicated as cell_d)
    val stored = spark.read.parquet(s"$idx/seg_base")
    assert(stored.columns.sorted.toSeq ==
      Seq("cell", "cell_d", "codes", "corpus_id", "r2"),
      s"index schema ${stored.columns.toSeq}")

    val queries = corpus.filter($"vec_id" === 42L)
    val viaIndex = Similarity.ivfPqTopKIndexed(
      Similarity.openIvfIndex(spark, idx), queries,
      "vec_id", "embedding", k = 5, nprobe = 2)
    // cell pruning: the probe's explicit multi-path scan reads only the
    // probed cell DIRECTORIES (2 of 8)
    val scannedCells = viaIndex.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.flatMap(_.relation.location.inputFiles)
      .flatMap(_.split("/").find(_.startsWith("cell="))).distinct
    assert(scannedCells.length == 2,
      s"scan reads cells $scannedCells, want exactly the 2 probed")
    // end-to-end parity with the in-memory IVF-PQ path (same centroids,
    // same codebooks → identical codes, LUTs, scores, ranks)
    val inMem = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, cents, cb, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(viaIndex.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq == inMem)
  }

  test("token counts / quality features / fingerprints") {
    val d = Seq((0L, "Hello World2 FooBar"), (1L, "   "), (2L, "a b c"))
      .toDF("doc_id", "text")
    val out = d.select($"doc_id",
      TextAnalysis.tokenCount($"text").as("nt"),
      TextAnalysis.subwordCount($"text").as("ns"),
      TextAnalysis.fingerprintMd5($"text").as("fp"))
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("nt") == 3)
    assert(out(0).getAs[Int]("ns") == 5) // Hello | World | 2 | Foo | Bar
    assert(out(1).getAs[Int]("nt") == 0)
    assert(out(2).getAs[Int]("nt") == 3)
    // fingerprint is whitespace/case-normalized
    val fp1 = Seq((0L, "A  B")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprintMd5($"text")).head.getString(0)
    val fp2 = Seq((0L, "a b ")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprintMd5($"text")).head.getString(0)
    assert(fp1 == fp2)
    // rolling hash deterministic + normalization-stable
    assert(TextAnalysis.rollingHash("A  B") == TextAnalysis.rollingHash("a b "))
    assert(TextAnalysis.rollingHash("x") != TextAnalysis.rollingHash("y"))
  }

  test("tfidf top terms: rare terms outrank ubiquitous ones, integer rank order") {
    val docs = Seq(
      (1L, "apple apple apple banana common common"),
      (2L, "banana cherry common common"),
      (3L, "common words only here common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // doc 1 by tf: apple 3, common 2, banana 1 → top-2 = apple, common
    assert(out.take(2).toSeq == Seq((1L, 1L, "apple", 3L), (1L, 2L, "common", 2L)))
    // doc 2 by tf: common 2, then banana/cherry tie → alphabetical
    assert(out.slice(2, 4).toSeq == Seq((2L, 1L, "common", 2L), (2L, 2L, "banana", 1L)))
    // 'common' is in every doc → idf = ln(4/4) = 0 → tfidf 0
    val tfidfByTerm = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 5)
      .collect().map(r => (r.getString(2), r.getDouble(4))).toMap
    assert(tfidfByTerm("common") == 0.0)
    assert(tfidfByTerm("cherry") > 0.0)
  }

  test("language id picks dominant stopword language, CJK → zh") {
    val d = Seq(
      (0L, "the cat and the dog in a house"),
      (1L, "der Hund und die Katze ist nicht hier"),
      (2L, "le chat et le chien est dans la maison"),
      (3L, "el perro y el gato es un animal"),
      (4L, "zzz qqq xxx"),
      (5L, "你好世界")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.langId($"text").as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("en", "de", "fr", "es", "und", "zh"))
  }

  test("quality score penalizes digit/punct-heavy docs") {
    val d = Seq(
      (0L, "a clean readable document with several plain words here"),
      (1L, "1234 5678 90123 45678 9012 3456"),
      (2L, "!!! ??? ;;; ,,, ... !!!")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
      .orderBy("doc_id").collect().map(_.getDouble(1))
    assert(out(0) > out(1))
    assert(out(0) > out(2))
  }

  test("word hash iterates UTF-16 units — oracle surrogate-expansion formula pinned") {
    // the DuckDB oracles see CODE POINTS (unicode(substr(...))) and expand
    // cp >= 0x10000 into surrogate pairs (DedupQueries.utf16UnitsSql); this
    // pins that expansion + FNV fold + avalanche against the engine's
    // hash64 (which iterates s.charAt — UTF-16 units natively), on BMP AND
    // astral input
    def sqlSemantics(w: String): Long = {
      val units = w.codePoints().toArray.flatMap { cp =>
        if (cp < 0x10000) Seq(cp.toLong)
        else Seq(0xD800L + (cp - 0x10000) / 1024L, 0xDC00L + (cp - 0x10000) % 1024L)
      }
      var h = 1469598103934665603L
      units.foreach(c => h = (h ^ c) * 1099511628211L)
      h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
      h
    }
    for (w <- Seq("hello", "ümlaut", "emoji😀mid", "𝕊𝕡", "🀄"))
      assert(sqlSemantics(w) == Dedup.hash64(0, w), s"mismatch on '$w'")
  }

  test("dense passage retrieval: chunk → hash-embed → stored IVF → doc maxP") {
    // 12 docs of disjoint vocabulary; doc 7 carries a VERBATIM copy of doc
    // 2's opening 32-word window, chunk-aligned (24 filler words + the
    // window → its chunk 1 = exactly that window under size=32/stride=24).
    // Querying with doc 2's first chunk, doc-level maxP must surface BOTH
    // doc 2 (the query's own doc) and doc 7 (the plagiarising doc) at
    // cosine 1, in doc-id order — the attribution the chunk key exists for.
    def filler(d: Int, n: Int) = (0 until n).map(i => s"w${d}_$i").mkString(" ")
    val core = (0 until 40).map(i => s"core_$i").mkString(" ")
    val docsN = (0 until 12).map { d =>
      val text =
        if (d == 2) core
        else if (d == 7)
          filler(7, 24) + " " + core.split(" ").take(32).mkString(" ")
        else filler(d, 40)
      (d.toLong, text)
    }.toDF("doc_id", "text")
    val emb = Corpus.chunkWords(docsN, "doc_id", "text", size = 32, overlap = 8)
      .select(($"doc_id" * 10000L + $"chunk_idx").as("chunk_id"),
        TextAnalysis.hashedTfEmbedding($"chunk_text", 64).as("emb"))
    val idx = java.nio.file.Files.createTempDirectory("chunk-ivf-").toString
    Similarity.buildIvfIndex(emb, "chunk_id", "emb",
      Similarity.centroidsByIds(emb, "chunk_id", "emb",
        (0L until 8L).map(_ * 10000L)), idx)
    val hits = Similarity.ivfTopKIndexed(Similarity.openIvfIndex(spark, idx),
      emb.filter($"chunk_id" === 20000L), "chunk_id", "emb",
      k = 10, nprobe = 2)
    val byDoc = hits.select(expr("corpus_id div 10000").as("doc_id"),
        $"cosine")
      .groupBy("doc_id").agg(max($"cosine").as("best"))
      .orderBy(desc("best"), $"doc_id").collect()
    assert(byDoc(0).getLong(0) == 2L && byDoc(0).getDouble(1) == 1.0)
    assert(byDoc(1).getLong(0) == 7L && byDoc(1).getDouble(1) == 1.0,
      s"verbatim-window doc not surfaced: ${byDoc.toSeq}")
    assert(byDoc.drop(2).forall(_.getDouble(1) < 1.0))
  }

  test("phraseCount: contiguous matches, overlaps, boundaries, null text") {
    val df = Seq(
      (1L, "a b c a b"),        // two disjoint "a b"
      (2L, "a a a"),            // overlapping "a a" counts twice
      (3L, "a"),                // shorter than the phrase
      (4L, "b a"),              // reversed order is no match
      (5L, null.asInstanceOf[String]),
      (6L, "x a b")             // match at the very end
    ).toDF("id", "text")
    def counts(phrase: Seq[String]): Map[Long, Long] =
      df.select(col("id"), TextAnalysis.phraseCount(col("text"), phrase)
        .as("c")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(Seq("a", "b")) ===
      Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L, 6L -> 1L))
    assert(counts(Seq("a", "a")) === Map(1L -> 0L, 2L -> 2L, 3L -> 0L,
      4L -> 0L, 5L -> 0L, 6L -> 0L))
    assert(counts(Seq("a", "b", "c")) === Map(1L -> 1L, 2L -> 0L, 3L -> 0L,
      4L -> 0L, 5L -> 0L, 6L -> 0L))
    assert(counts(Seq("a")) === Map(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 1L, 5L -> 0L, 6L -> 1L))
  }

  test("IvfIndexHandle: handle-threaded append/compact/probe equals the " +
       "path forms bit for bit (IVF and IVF-PQ)") {
    // round 21: the streaming sinks thread ONE handle through the
    // probe/append/compact loop (cached manifest + centroids + codebooks
    // + segment listings — driver round-trips removed); this pins the
    // handle path's RESULTS against a fresh handle per call on identical
    // stores, including cache currency across the handle's own mutations
    // (append flips the manifest, compact retires segments).
    val rng = new scala.util.Random(23)
    def vec() = Array.fill(8)(rng.nextFloat()).toSeq
    val corpus = (0 until 60).map(i => (i.toLong, vec()))
    val head = corpus.take(20).toDF("vec_id", "embedding")
    val b0 = corpus.slice(20, 40).toDF("vec_id", "embedding")
    val b1 = corpus.slice(40, 60).toDF("vec_id", "embedding")
    val queries = head.filter($"vec_id" < 4)
    def run(df: DataFrame) = df.orderBy("query_id", "rank").collect().toSeq

    // IVF: handle-per-call store (control) vs handle-threaded store
    val cents = Similarity.kmeansCentroids(head, "embedding", nlist = 4)
    val pIdx = java.nio.file.Files.createTempDirectory("ivf-h-p-").toString
    Similarity.buildIvfIndex(head, "vec_id", "embedding", cents, pIdx)
    Similarity.appendToIvfIndex(Similarity.openIvfIndex(spark, pIdx),
      b0, "vec_id", "embedding", "b0")
    Similarity.compactIvfIndex(Similarity.openIvfIndex(spark, pIdx))
    Similarity.appendToIvfIndex(Similarity.openIvfIndex(spark, pIdx),
      b1, "vec_id", "embedding", "b1")
    val pGot = run(Similarity.ivfTopKIndexed(
      Similarity.openIvfIndex(spark, pIdx), queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val hIdx = java.nio.file.Files.createTempDirectory("ivf-h-h-").toString
    Similarity.buildIvfIndex(head, "vec_id", "embedding", cents, hIdx)
    val h = Similarity.openIvfIndex(spark, hIdx)
    // probe BEFORE the mutations too, so the listing cache is warm and
    // must be invalidated correctly by the handle's own append/compact
    run(Similarity.ivfTopKIndexed(h, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, excludeIds = None))
    Similarity.appendToIvfIndex(h, b0, "vec_id", "embedding", "b0")
    Similarity.compactIvfIndex(h)
    Similarity.appendToIvfIndex(h, b1, "vec_id", "embedding", "b1")
    val hGot = run(Similarity.ivfTopKIndexed(h, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, excludeIds = None))
    assert(hGot === pGot, "IVF handle probe diverged from path form")
    // replay detection still works through the cached manifest
    Similarity.appendToIvfIndex(h, b1, "vec_id", "embedding", "b1")
    assert(h.liveSegments === Similarity.openIvfIndex(spark, hIdx).liveSegments,
      "cached manifest drifted from the committed one")

    // IVF-PQ: same discipline over the codes store
    val cb = Similarity.pqCodebooksByIds(head, "vec_id", "embedding",
      m = 4, 0L until 8L)
    val pPq = java.nio.file.Files.createTempDirectory("pq-h-p-").toString
    Similarity.buildIvfPqIndex(head, "vec_id", "embedding", cents, cb, pPq)
    Similarity.appendToIvfPqIndex(Similarity.openIvfIndex(spark, pPq),
      b0, "vec_id", "embedding", "b0")
    Similarity.compactIvfPqIndex(Similarity.openIvfIndex(spark, pPq))
    Similarity.appendToIvfPqIndex(Similarity.openIvfIndex(spark, pPq),
      b1, "vec_id", "embedding", "b1")
    val pPqGot = run(Similarity.ivfPqTopKIndexed(
      Similarity.openIvfIndex(spark, pPq), queries,
      "vec_id", "embedding", k = 5, nprobe = 2))
    val hPq = java.nio.file.Files.createTempDirectory("pq-h-h-").toString
    Similarity.buildIvfPqIndex(head, "vec_id", "embedding", cents, cb, hPq)
    val h2 = Similarity.openIvfIndex(spark, hPq)
    run(Similarity.ivfPqTopKIndexed(h2, queries, "vec_id", "embedding",
      k = 5, nprobe = 2, excludeIds = None))
    Similarity.appendToIvfPqIndex(h2, b0, "vec_id", "embedding", "b0")
    Similarity.compactIvfPqIndex(h2)
    Similarity.appendToIvfPqIndex(h2, b1, "vec_id", "embedding", "b1")
    val hPqGot = run(Similarity.ivfPqTopKIndexed(h2, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, excludeIds = None))
    assert(hPqGot === pPqGot, "IVF-PQ handle probe diverged from path form")
  }
}
