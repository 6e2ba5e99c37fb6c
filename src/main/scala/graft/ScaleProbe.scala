package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scale probe, evidence for SCALING.md claims.
  *
  * `runMain graft.ScaleProbe [sfDir]` — replicates the sf dir's inputs to
  * ~10× volumes and runs the scale-sensitive operators.
  *
  * `runMain graft.ScaleProbe [sfDir] sweep` — 1×/10×/100× sweep of the two
  * heaviest families (minhash LSH chain, connected components), measuring
  * wall time, total SHUFFLE WRITE BYTES (SparkListener stage metrics), and
  * post-GC driver heap — the linearity/flatness evidence the SCALING.md
  * table cites. */
object ScaleProbe {

  /** Sum of shuffle-write bytes across completed stages since the last
    * [[reset]]. Listener events are async: [[read]] sleeps briefly to let
    * the bus drain (dev probe; coarse is fine). */
  private final class ShuffleMeter(spark: SparkSession) {
    private val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    def reset(): Unit = { Thread.sleep(1500); bytes.set(0) }
    def read(): Long = { Thread.sleep(1500); bytes.get() }
  }

  /** Whole-JVM used heap after a settle. In local mode driver AND
    * executors share this JVM, so the reading bounds driver retention
    * from above: the driver-flatness claim is that this does NOT grow
    * with the data factor once per-job scratch is collected. Three GC
    * passes with sleeps let ContextCleaner/finalizer queues drain —
    * a single gc() right after a 100x job reads multi-GB of
    * not-yet-collected task scratch, not retained state. */
  private def driverHeapMb(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  private def sweep(spark: SparkSession, dir: String,
                    filters: Seq[String]): Unit = {
    val meter = new ShuffleMeter(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def measure(what: String, detail: String)(f: => Long): Unit = {
      // optional name filters (substring match) re-run a subset of rows
      // without paying for the whole sweep
      if (filters.nonEmpty && !filters.exists(what.contains)) return
      meter.reset()
      val t0 = System.nanoTime()
      val out = f
      val secs = (System.nanoTime() - t0) / 1e9
      val mb = meter.read() / 1e6
      println(f"[sweep] $what: $detail out=$out wall=$secs%.1f s " +
        f"shuffleWrite=$mb%.1f MB driverHeap=${driverHeapMb()} MB")
    }
    // the factor decades pay a replica MATERIALIZATION before any measure
    // runs — skip the whole loop when the filter set only names the
    // maintenance family (which is factor-independent)
    val factorLoopNeeded =
      filters.isEmpty || !filters.forall(_.contains("maint"))
    for (factor <- Seq(1, 10, 100) if factorLoopNeeded) {
      // every replica's WORDS are salted with the replica id: replicas keep
      // the same token/gram structure (comparable work per doc) but share
      // no shingles, so the near-dup pair count scales LINEARLY like a real
      // growing corpus would — unsalted replicas are all mutual exact dups
      // and the pair count (and the verify join) grows with factor².
      // Replicas are MATERIALIZED to parquet before the measured run: the
      // probe then measures the chain over a plain file scan (the real
      // input shape) rather than a factor-wide union plan whose per-replica
      // codegen/plan caches would pollute the heap reading.
      val rep = java.nio.file.Files.createTempDirectory(s"graft-sweep-$factor-")
      (0 until factor).map(i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "([\\p{L}\\p{N}]+)", "$1x" + i).as("text")))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(rep.toString)
      val d = spark.read.parquet(rep.toString)
      measure(s"minhash chain ${factor}x", s"docs=${5000 * factor}(sf0.1)") {
        graft.ext.Dedup.minhashNearDuplicates(
          d, "text", "doc_id", shingleN = 3, threshold = 0.5).count()
      }
      // ExactSubstr spans: replicas share no windows (salted words), so
      // drops = the sf corpus's own exact-dup docs × factor — linear
      // ground truth; stride-1 windows make the explode ≈ token count
      measure(s"span dedup ${factor}x", s"docs=${5000 * factor} k=8") {
        graft.ext.Corpus.dedupSpans(d, "text", "doc_id", 8)
          .agg(coalesce(sum(col("n_dropped_tokens")), lit(0L)))
          .collect()(0).getLong(0)
      }
      // LM perplexity: word-salted replicas have disjoint vocabularies, so
      // the vocab/bigram count tables grow ~linearly with the decade — a
      // CONSERVATIVE bound (real web vocab grows sublinearly); the claim
      // is shuffle linearity (counts + token-stream joins), heap flatness
      measure(s"lm perplexity ${factor}x", s"docs=${5000 * factor}") {
        graft.ext.LangModel.perplexity(d, "doc_id", "text")
          .filter(col("ppl").isNotNull).count()
      }
      // DSIR: the operating regime is a FIXED target (replica 0) against a
      // growing raw corpus; the ratio table stays m rows at every decade,
      // so the only corpus-proportional flows are the map-side feature
      // stream and the per-doc integer sums
      measure(s"dsir weights ${factor}x",
        s"docs=${5000 * factor} m=4096 target=base") {
        val target = d.filter(col("doc_id") < 1000000L)
        val ratios = graft.ext.Dsir.fitLogRatios(spark, target, d,
          "text", 4096)
        val w = graft.ext.Dsir.importanceWeights(d, "doc_id", "text",
          ratios, 4096)
        w.agg(coalesce(sum(col("w_u6")), lit(0L))).collect()(0).getLong(0)
      }
      // BM25: a FIXED literal query against the growing corpus (the
      // retrieval operating regime) — corpus stats collapse to one
      // broadcast row, per-doc tf is map-side over the word arrays,
      // selection is TakeOrdered k: the only corpus-proportional flow is
      // the scan itself. The terms carry replica 0's word salt, so exactly
      // one replica matches at every decade — match count stays constant
      // while N grows, like any fixed query over a growing corpus
      measure(s"bm25 ${factor}x", s"docs=${5000 * factor} k=10") {
        graft.ext.Bm25.rank(d, "doc_id", "text",
            Seq("sparkx0", "mergex0", "windowx0"), k = 10)
          .agg(coalesce(sum(col("score_u6")), lit(0L)))
          .collect()(0).getLong(0)
      }
      // group-aware split: the round-21 two-phase rank over the DISTINCT
      // group universe (the pre-r21 form was an unpartitioned row_number
      // window — a single-executor sort of every crawl host). The claim
      // is per-partition flatness: wall grows ~linearly with the group
      // count, shuffle carries only (group, hash) rows, and no stage is a
      // one-partition sort. One row per group suffices (the rank runs
      // over DISTINCT groups).
      measure(s"group split rank ${factor}x", s"groups=${50000 * factor}") {
        val g = spark.range(50000L * factor)
          .select(concat(lit("host-"), col("id")).as("grp"))
        graft.ext.Corpus.groupAwareSplit(g, "grp", 1L, 10L)
          .filter(col("is_test")).count()
      }
      // batch BM25: 8 term-list queries in ONE corpus pass — the claim is
      // that the batch costs ~one rank run, not 8 (union stats row, one
      // tf pass, per-query WindowGroupLimit cutting to k rows per query
      // per partition before the shuffle)
      measure(s"bm25 batch ${factor}x", s"docs=${5000 * factor} q=8 k=10") {
        val qs = (0L until 8L).map(q =>
          q -> Seq(s"sparkx$q", s"mergex$q", s"windowx$q"))
        graft.ext.Bm25.rankMany(d, "doc_id", "text", qs, k = 10)
          .agg(coalesce(sum(col("score_u6")), lit(0L)))
          .collect()(0).getLong(0)
      }
      // inverted-index serving: build once (the linear token-stream
      // shuffle), then a FIXED query probes ONLY its terms' bucket
      // directories with term-sorted row groups — probe wall and shuffle
      // should stay near-FLAT across decades while the scan-based bm25
      // row above grows with the corpus
      locally {
        val bidx = java.nio.file.Files.createTempDirectory(s"graft-bm25idx-$factor-")
        measure(s"bm25 index build ${factor}x", s"docs=${5000 * factor}") {
          graft.ext.Bm25.buildIndex(d, "doc_id", "text", bidx.toString)
          graft.ext.Bm25.indexStatsDf(spark, bidx.toString).count()
        }
        measure(s"bm25 index probe ${factor}x", s"terms=3 k=10") {
          graft.ext.Bm25.topKIndexed(spark, bidx.toString,
              Seq("sparkx0", "mergex0", "windowx0"), k = 10)
            .agg(coalesce(sum(col("score_u6")), lit(0L)))
            .collect()(0).getLong(0)
        }
        val st = java.nio.file.Files.walk(bidx)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator.asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } finally st.close()
      }
      // RRF hybrid: a FIXED query against the growing corpus — the BM25
      // leg and the hashed-TF cosine leg are each one map-side pass +
      // TakeOrdered-20, the fusion joins two 20-row lists; the only
      // corpus-proportional flows are the two scans (replica 0's salt
      // keeps the sparse match set constant across decades, like bm25)
      measure(s"rrf hybrid ${factor}x", s"docs=${5000 * factor} poolK=20") {
        val sparse = graft.ext.Bm25.rank(d, "doc_id", "text",
          Seq("sparkx0", "mergex0", "windowx0"), k = 20)
        val hemb = d.select(col("doc_id"),
          graft.ext.TextAnalysis.hashedTfEmbedding(col("text"), 64)
            .as("emb"))
        val qdf = spark.range(1).select(col("id").as("qid"),
          graft.ext.TextAnalysis.hashedTfEmbedding(
            lit("sparkx0 mergex0 windowx0"), 64).as("emb"))
        val dense = graft.ext.Similarity.bruteForceTopK(hemb, "doc_id",
          "emb", qdf, "qid", "emb", k = 20)
        graft.ext.Retrieval.rrfFuse(
          sparse.select(col("doc_id"), col("rank")),
          dense.select(col("corpus_id").as("doc_id"), col("rank")),
          "doc_id", 60, 10).count()
      }
      // trigram LM: the five count tables grow ~linearly under word
      // salting (disjoint replica vocabularies — the conservative bound;
      // real web vocab grows sublinearly), the token stream joins against
      // them through the same broadcast→sort-merge regime switch the
      // bigram row documents
      measure(s"lm trigram ${factor}x", s"docs=${5000 * factor}") {
        val lm3 = graft.ext.LangModel.fit3(d, "text")
        graft.ext.LangModel.score3(d, "doc_id", "text", lm3)
          .filter(col("ppl").isNotNull).count()
      }
      // CCNet buckets: the LM fit/score shape plus the GLOBAL two-phase
      // perplexity rank (checkpointed scored frame — the rank's bounds
      // sample, rank shuffle, and bucket join all read blocks, not the
      // scoring joins) and a #langs-row broadcast
      measure(s"ccnet buckets ${factor}x", s"docs=${5000 * factor} langs=5") {
        val lm = graft.ext.LangModel.fit(d, "text")
        graft.ext.LangModel.ccnetBuckets(
            d.withColumn("lang", (col("doc_id") % 5).cast("string")),
            "doc_id", "text", "lang", lm)
          .filter(col("bucket") === "head").count()
      }
      // temperature sampling: one stratum-count aggregate (metadata
      // collect), quotas as a map literal, and the mega-stratum two-phase
      // rank (subBuckets=8 — the production path when one lang dominates)
      measure(s"temperature sample ${factor}x",
        s"docs=${5000 * factor} alpha=0.5 subBuckets=8") {
        graft.ext.Corpus.temperatureSample(
            d.withColumn("lang", (col("doc_id") % 5).cast("string")),
            "lang", "doc_id", alpha = 0.5, frac = 0.5, subBuckets = 8)
          .count()
      }
      // hashed-TF quality probe: one UDF pass builds the features, the
      // exact diff-of-means fit is ONE (dim-bounded) aggregation, scoring
      // is map-only over plan literals — no corpus-proportional shuffle at
      // any decade (the fastText-shape classifier's 100 TB claim)
      measure(s"quality probe ${factor}x", s"docs=${5000 * factor} dim=64") {
        val emb = d.select(col("doc_id"),
          transform(graft.ext.TextAnalysis.hashedTfEmbedding(col("text"), 64),
            x => x / 1024.0).as("emb"))
        graft.ml.DiffOfMeans.scoresExact(emb, col("doc_id"), col("emb"),
            col("doc_id") % 2 === 0)
          .agg(count(lit(1))).collect()(0).getLong(0)
      }
      // incremental dedup: a FIXED 500-doc batch probes an index that
      // grows with the decade — the claim is that probe cost tracks the
      // batch + the NARROW stored key/shingle scans (16 longs + grams per
      // doc, no corpus rehash), so the 100× step should cost far under
      // 100× the 1× probe. Build cost is the one-time price and is
      // measured separately.
      // the whole block is skipped when no filter matches any of its
      // measures: the append PREP between the measures runs against the
      // index the first measure builds, so a filter set that excludes
      // "mh index build" would otherwise read a never-built store
      if (filters.isEmpty || Seq("mh index build", "mh index probe",
          "mh probe 17-segment", "mh compact", "mh probe compacted")
          .exists(n => filters.exists(n.contains))) locally {
        val idx = java.nio.file.Files.createTempDirectory(s"graft-mhidx-$factor-")
        measure(s"mh index build ${factor}x", s"docs=${5000 * factor}") {
          graft.ext.Dedup.buildMinhashIndex(spark, idx.toString, d,
            "text", "doc_id")
          graft.ext.Dedup.minhashIndexKeys(spark, idx.toString).count()
        }
        val batch = d.filter(col("doc_id") < 500)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("text"))
        measure(s"mh index probe ${factor}x",
          s"batch=500 vs idx=${5000 * factor}") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, idx.toString,
            batch, "text", "doc_id", threshold = 0.9).count()
        }
        // segment accumulation: 16 micro-batch appends (the streaming
        // ingest shape), then the SAME probe — the per-segment scan
        // fan-out compaction exists to undo — then compact and re-probe
        (0 until 16).foreach { i =>
          graft.ext.Dedup.appendToMinhashIndex(spark, idx.toString,
            d.filter(col("doc_id") >= i * 100 && col("doc_id") < (i + 1) * 100)
              .select((col("doc_id") + 90000000L).as("doc_id"), col("text")),
            "text", "doc_id", tag = s"sw$i")
        }
        measure(s"mh probe 17-segment ${factor}x",
          s"batch=500 vs idx=${5000 * factor}+1600 in 17 segs") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, idx.toString,
            batch, "text", "doc_id", threshold = 0.9).count()
        }
        measure(s"mh compact ${factor}x", "17 segments -> 1") {
          graft.ext.Dedup.compactMinhashIndex(spark, idx.toString)
          graft.ext.Dedup.minhashIndexKeys(spark, idx.toString).count()
        }
        measure(s"mh probe compacted ${factor}x",
          s"batch=500 vs idx=${5000 * factor}+1600 compacted") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, idx.toString,
            batch, "text", "doc_id", threshold = 0.9).count()
        }
        val st = java.nio.file.Files.walk(idx)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator.asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } finally st.close()
      }
      // token budget: the budget per language is FIXED while the corpus
      // grows, so the kept set saturates at ~budget tokens per lang at
      // every decade — work scales with the scan, output stays bounded.
      // subBuckets=8 exercises the mega-group two-phase cumsum (the
      // production path when one language dominates a crawl)
      measure(s"token budget ${factor}x",
        s"docs=${5000 * factor} budget=50k subBuckets=8") {
        graft.ext.Corpus.tokenBudgetKeep(
            d.withColumn("lang", (col("doc_id") % 5).cast("string"))
              .withColumn("__pr", length(col("text")).cast("double"))
              .withColumn("__tok",
                graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")),
            "lang", "doc_id", "__pr", "__tok", budget = 50000L,
            subBuckets = 8)
          .filter(col("keep")).count()
      }
      // KMV data card: distinct texts grow linearly (salted replicas) but
      // the sketch is k-bounded — per-group shuffle bytes must stay FLAT
      // across decades (the claim that separates it from a distinct count)
      measure(s"kmv report ${factor}x", s"docs=${5000 * factor} k=1024") {
        graft.ext.Profile.corpusReport(
            d.withColumn("src", (col("doc_id") % 20).cast("string")),
            "src", "text", k = 1024)
          .agg(sum(col("est_distinct_texts"))).collect()(0).getLong(0)
      }
      // Count-Min sketch: word occurrences grow linearly (salted replicas
      // also widen the vocabulary linearly — the worst case), but the
      // counter matrix is depth×width — shuffle bytes must stay FLAT
      // across decades, the same bounded-aggregate claim as KMV
      measure(s"cms sketch ${factor}x",
        s"docs=${5000 * factor} depth=4 width=4096") {
        val occ = d.select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
        graft.ext.Profile.cmsSketch(occ, "word", 4, 4096)
          .agg(sum(col("cnt"))).collect()(0).getLong(0)
      }
      // line dedup: a boilerplate footer planted on every doc (drops at
      // every decade) — digest counts are the only corpus-sized agg, the
      // verdict join carries (id, pos, digest); wall linear, heap flat
      measure(s"line dedup ${factor}x", s"docs=${5000 * factor}") {
        val d0 = d.select(col("doc_id"),
          concat_ws("\n", col("text"), lit("FOOTER BOILERPLATE LINE"),
            concat(lit("u-"), col("doc_id"))).as("text"))
        graft.ext.Corpus.dropDuplicatedLines(d0, "doc_id", "text", 10L)
          .agg(sum(col("n_dropped_lines"))).collect()(0).getLong(0)
      }
      // Bloom: build is one distinct over ≤ m bit positions (bounded
      // shuffle); the probe is map-only against the bitmap literal —
      // probe shuffle must be ZERO at every decade, wall linear in the
      // scanned corpus only
      locally {
        var bm: Array[Long] = null
        measure(s"bloom build ${factor}x",
          s"refs=${5000 * factor} k=3 m=262144") {
          bm = graft.ext.Profile.bloomBitmap(d, "text", 3, 262144)
          bm.map(java.lang.Long.bitCount).sum.toLong
        }
        measure(s"bloom probe ${factor}x", s"docs=${5000 * factor}") {
          d.select(graft.ext.Profile.bloomMightContain(
              bm, col("text"), 3, 262144).as("hit"))
            .filter(col("hit")).count()
        }
      }
      // epoch shuffle: shard assignment is map-only; the per-shard rank
      // windows shuffle each row once on the shard key — shuffle linear
      // in the corpus, no global sort at any decade; shards scale with
      // the data so per-shard sort stays bounded
      measure(s"epoch shards ${factor}x",
        s"docs=${5000 * factor} shards=${32 * factor}") {
        graft.ext.Corpus.epochShards(d.select(col("doc_id")), "doc_id",
            epoch = 1L, numShards = 32 * factor)
          .agg(max(col("pos"))).collect()(0).getLong(0)
      }
      // BPE training: round 0 collapses the corpus to the unique-word
      // table in ONE shuffle; every merge round then runs over that
      // table only (vocab grows linearly here by salting — conservative;
      // real web vocab is sublinear), so per-round cost tracks the vocab,
      // not the corpus
      measure(s"bpe train ${factor}x",
        s"docs=${5000 * factor} merges=4") {
        val (merges, words) = graft.ext.Bpe.train(d, "text", numMerges = 4)
        val n = words.count(); words.unpersist(false); n + merges.length
      }
      // pre-LN transformer forward (round 20): inference is ONE map-side
      // UDF pass — wall linear in docs, shuffle ~ZERO at every decade
      // (the action is a 1-row count); depth/heads/hid multiply per-row
      // CPU only, never the plan shape
      measure(s"tf preln forward ${factor}x",
        s"docs=${5000 * factor} L=2 H=2 hid=12") {
        val (prov, _) = graft.llm.ModelRegistry
          .get(s"tf:${catalog.ModelQueries.TfFixture3.path}")
        val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
        val f = udf((t: String) => tf.pooled(t, 4, "mean")(0))
        d.select(f(col("text")).as("v")).filter(!isnan(col("v"))).count()
      }
      // stored-tokenizer forward (round 20): the operating regime is a
      // FIXED tokenizer artifact (trained once, content-addressed)
      // against the growing corpus — tokenize cost is row-local
      // O(word len × merges applied), independent of corpus factor
      measure(s"tf bpe forward ${factor}x",
        s"docs=${5000 * factor} merges=6 fixed-tokenizer") {
        val merges = graft.ext.Bpe.trainMerges(docs, "text", numMerges = 6)
        val tokPath = graft.ext.Bpe.saveTokenizer(merges,
          java.nio.file.Files.createTempDirectory("graft-swp-tok-").toString)
        val (prov, _) = graft.llm.ModelRegistry
          .get(s"tf:${catalog.ModelQueries.TfFixtureBpe.path(tokPath)}")
        val tf = prov.asInstanceOf[graft.llm.TransformerProvider]
        val f = udf((t: String) => tf.pooled(t, 2, "mean")(0))
        d.select(f(col("text")).as("v")).filter(!isnan(col("v"))).count()
      }
      locally { // dev-probe cleanup of the replica dir
        val s = java.nio.file.Files.walk(rep)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList.sortBy(_.toString).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally s.close()
      }
    }
    for (factor <- Seq(1, 10, 100)) {
      // 100-node chains: edge count scales linearly, diameter stays 100, so
      // the large-star/small-star rounds are constant across factors
      val n = 50000L * factor
      val edges = spark.range(n).select(col("id").as("src"),
          (col("id") + 1L).as("dst"))
        .filter(col("src") % 100 =!= 99)
      measure(s"connected components ${factor}x", s"edges=${n - n / 100}") {
        graft.ext.ConnectedComponents.labels(edges, "src", "dst").count()
      }
      // keep-best over the same chains: the argmax adds one narrow
      // (id, priority) projection + cluster-keyed aggregate on the
      // DUPLICATED side and a broadcast fold-back — the full-width rows
      // still move exactly once; md5-derived priorities make the winner
      // content-determined (kept count = #clusters + 0 singletons = n/100)
      measure(s"keep best ${factor}x", s"nodes=$n clusters=${n / 100}") {
        val docs = spark.range(n).select(col("id"),
          graft.ext.Dsir.md5Bucket60(concat(lit("kb:"),
            col("id").cast("string"))).cast("double").as("q"))
        graft.ext.Dedup.keepBestPerCluster(docs, "id", "q",
            edges.select(col("src").as("id_a"), col("dst").as("id_b")))
          .filter(col("keep")).count()
      }
      // PageRank: the iterated-SpMV family — per step ONE edge⋈rank join
      // (both sides pre-keyed on the node id) + one sum agg, eager
      // localCheckpoint pinning lineage at O(1). Ring + skip chords keep
      // every node at outdeg 2 across factors, so the claim measured here
      // is pure linearity: edges ×10 → per-iteration shuffle ×10, wall
      // ~×10 at fixed iters, driver heap flat (ranks never collect).
      // HITS: same ring+chord graphs as pagerank below; per iteration two
      // edge⋈score joins + two sums + two 1-row maxes — shuffle should
      // track edges×iters linearly like pagerank, with the max broadcasts
      // costing one row each
      measure(s"hits ${factor}x", s"nodes=$n edges=${2 * n} iters=5") {
        val edges = spark.range(n).select(col("id").as("src"),
            ((col("id") + 1L) % n).as("dst"))
          .union(spark.range(n).select(col("id").as("src"),
            ((col("id") + 7L) % n).as("dst")))
        graft.ext.Hits.scores(edges, "src", "dst", iters = 5)
          .agg(sum(col("auth_u6"))).collect()(0).getLong(0)
      }
      // snapshot diff: one digest-keyed full-outer join — shuffle carries
      // (id, 16-byte md5) rows, linear; the delta fractions are planted
      // so the classification counts are exact ground truth
      measure(s"snapshot diff ${factor}x", s"rows=$n") {
        val old = spark.range(n).select(col("id"),
          concat(lit("doc"), col("id")).as("text"))
        val nw = old.filter(col("id") % 10 =!= 0)
          .select(col("id"),
            when(col("id") % 10 === 1, concat(col("text"), lit("!")))
              .otherwise(col("text")).as("text"))
          .union(spark.range(n, n + n / 10).select(col("id"),
            concat(lit("doc"), col("id")).as("text")))
        graft.ext.Corpus.snapshotDiff(old, nw, "id", "text")
          .filter(col("status") =!= "unchanged").count()
      }
      measure(s"pagerank ${factor}x", s"nodes=$n edges=${2 * n} iters=5") {
        val pr = spark.range(n).select(col("id").as("src"),
            pmod(col("id") + 1L, lit(n)).as("dst"))
          .union(spark.range(n).select(col("id").as("src"),
            pmod(col("id") + 7L, lit(n)).as("dst")))
        graft.ext.PageRank.ranks(pr, "src", "dst", iters = 5)
          .agg(sum(col("pr_u6"))).head.getLong(0)
      }
    }

    // ---- embedding families: semantic dedup + stored-IVF probe ----
    // Replica salting for EMBEDDINGS: flip each coordinate's sign by a
    // per-replica hash pattern. A fixed sign flip is an isometry of cosine
    // (s_k² = 1), so intra-replica geometry — cell structure, planted-copy
    // cosines — is EXACTLY preserved, while inter-replica cosines of the
    // same base vector become a random ± sum well under any dedup
    // threshold: replicas share no near-dups, so planted-drop counts and
    // pair work scale LINEARLY like a genuinely growing corpus (unsalted
    // replicas are all mutual exact dups — factor² pairs).
    val baseEmb = spark.read.parquet(s"$dir/embeddings.parquet")
    val saltSign = udf { (v: scala.collection.Seq[Float], rep: Int) =>
      v.zipWithIndex.map { case (x, k) =>
        if ((graft.ext.Dedup.hash64(rep + 1, k.toString) & 1L) == 0L) x else -x
      }.toArray
    }
    // skip the whole embedding sweep (replication + centroid/codebook
    // prep runs outside the measures) when no filter matches its rows
    val embeddingRows = Seq("semantic dedup", "ivf index", "ivf pruned",
      "ivf-pq", "exact kmeans", "prototype drop", "d4 pruned",
      "spectral iterate", "umap iterate")
    for (factor <- Seq(1, 10, 100)
         if filters.isEmpty
           || embeddingRows.exists(n => filters.exists(n.contains))) {
      val rep = java.nio.file.Files.createTempDirectory(s"graft-esweep-$factor-")
      (0 until factor).map { i =>
        val r = baseEmb.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          saltSign(col("embedding"), lit(i)).as("embedding"))
        // 50 planted exact copies per replica (larger ids → they drop):
        // linear ground truth for the dedup output across decades
        r.union(r.filter(col("vec_id") % 10000000L < 50)
          .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")))
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(rep.toString)
      val emb = spark.read.parquet(rep.toString)
      val rows = emb.count()
      // nlist grows with the corpus (the SemDeDup/IVF operating regime:
      // cells stay ~constant-sized, pair work stays linear, pair-stage
      // parallelism grows with the data)
      val nlist = 16 * factor
      val cents = graft.ext.Similarity.pickCentroids(emb, "vec_id", "embedding", nlist)
      measure(s"semantic dedup ${factor}x", s"rows=$rows nlist=$nlist") {
        graft.ext.Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
          threshold = 0.8).filter(!col("keep")).count()
      }
      val idx = java.nio.file.Files.createTempDirectory(s"graft-ivfswp-$factor-")
      measure(s"ivf index build ${factor}x", s"rows=$rows nlist=$nlist") {
        graft.ext.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
          cents, idx.toString)
        nlist.toLong
      }
      // the flatness claim: with cells ~constant-sized, a probe touches
      // nprobe cells' DIRECTORIES regardless of corpus factor — wall and
      // shuffle for the probe should NOT grow with the decade
      val queries = baseEmb.filter(col("vec_id") < 10)
      measure(s"ivf pruned probe ${factor}x", s"nprobe=4/$nlist") {
        graft.ext.Similarity.ivfTopKIndexed(spark, idx.toString,
          queries, "vec_id", "embedding", k = 10, nprobe = 4).count()
      }
      // IVF-PQ: same cells, corpus stored as m-int codes (m=8 over 64-d →
      // ~32× smaller scan payload than raw vectors); probe scans codes from
      // nprobe directories and scores by ADC lookup — both build and probe
      // should track the plain-IVF decades with a smaller shuffle
      val cb = graft.ext.Similarity.pqCodebooksByIds(
        emb, "vec_id", "embedding", m = 8, 0L until 16L)
      val idxPq = java.nio.file.Files.createTempDirectory(s"graft-pqswp-$factor-")
      measure(s"ivf-pq index build ${factor}x", s"rows=$rows nlist=$nlist m=8") {
        graft.ext.Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
          cents, cb, idxPq.toString)
        nlist.toLong
      }
      measure(s"ivf-pq pruned probe ${factor}x", s"nprobe=4/$nlist") {
        graft.ext.Similarity.ivfPqTopKIndexed(spark, idxPq.toString,
          queries, "vec_id", "embedding", k = 10, nprobe = 4).count()
      }
      // exact k-means: iters+1 one-pass scans; per-pass shuffle carries
      // only (cell, dim) integer partials — metadata at any decade — and
      // driver state is the k×dim matrix. Assignment is map-only over
      // plan literals (no join): the flat-shuffle claim of the family
      measure(s"exact kmeans ${factor}x", s"rows=$rows k=16 iters=3") {
        val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
          0L until 16L, iters = 3)
        graft.ml.ExactKMeans.assign(emb,
          col("vec_id"), col("embedding"), fit).count()
      }
      // D4 prototype drop: one map-only exact-d2 assignment pass, ONE
      // shuffle by cell shared by the rank and count windows. With nlist
      // growing like the corpus, cells stay ~constant-sized (window
      // parallelism grows with the data); the shuffle carries narrow
      // (id, cell, d2) rows — linear — and the dropped count tracks
      // Σ floor(cell/4) ≈ rows/4 at every decade (exact ground truth)
      measure(s"prototype drop ${factor}x", s"rows=$rows k=$nlist drop=1/4") {
        val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
          0L until nlist.toLong, iters = 0)
        graft.ext.Diversify.prototypeKeepFlags(emb, "vec_id", "embedding",
          fit, 1L, 4L).filter(!col("kept")).count()
      }
      // D4 at LARGE k (k = 10⁴ ≥ PrunedAssignMinK → the triangle-
      // inequality pruned assignment; the dense form at this k is ~10⁴
      // plan literals per row, past codegen limits): rows are synthetic
      // so k centroids exist at every factor; work/row is O(√k·dim) and
      // the claim is the same linear decade as the dense-path D4 row
      measure(s"d4 pruned assign ${factor}x",
        s"rows=${20000 * factor} k=10000 dim=16") {
        val vecUdf = udf { id: Long =>
          Array.tabulate(16)(d =>
            (graft.ext.Dedup.hash64(d, s"d4k:$id") % 1000000L) / 1000000.0)
        }
        val synth = spark.range(20000L * factor)
          .select(col("id"), vecUdf(col("id")).as("vec"))
          .localCheckpoint(true)
        val fit = graft.ml.ExactKMeans.Fit(
          synth.filter(col("id") < 10000L).orderBy(col("id"))
            .collect().map(_.getSeq[Double](1)
              .map(x => math.round(x * 1e6)).toArray),
          maxAbsInput = 1.0)
        graft.ext.Diversify.prototypeKeepFlags(synth, "id", "vec",
          fit, 1L, 4L).filter(!col("kept")).count()
      }
      // spectral JOINT iteration over INJECTED edges (ring graph, degree
      // 8 — the LSH/IVF candidate shape; kNN construction is measured by
      // the ANN family above): per step ONE edge join + ONE moments
      // aggregate; edge rows scale linearly, state is (id, 2 longs), and
      // the driver sees five BigInt scalars per step
      measure(s"spectral iterate ${factor}x", s"nodes=$rows ringDeg=8 iters=12") {
        val offs = Seq(-4L, -3L, -2L, -1L, 1L, 2L, 3L, 4L)
        val ring = offs.map(o => spark.range(rows).select(
            col("id").as("src"), ((col("id") + o + rows) % rows).as("dst")))
          .reduce(_ union _)
        graft.ml.Spectral.embed2dFromEdges(ring,
          spark.range(rows).toDF("id"), iters = 12,
          localSolveMaxNodes = 0L).count() // decades probe the DISTRIBUTED path
      }
      // UMAP force epochs over the SAME injected ring (round 18): per
      // epoch one edges⋈state join (n·8 rows), one generated-negatives
      // join (n·4 rows), one update map — linearity in nodes is the
      // claim; kNN construction is the ANN family's row, init=random
      // keeps the row independent of the spectral row above
      measure(s"umap iterate ${factor}x",
        s"nodes=$rows ringDeg=8 iters=8 negs=4") {
        val offs = Seq(-4L, -3L, -2L, -1L, 1L, 2L, 3L, 4L)
        val ring = offs.map(o => spark.range(rows).select(
            col("id").as("src"), ((col("id") + o + rows) % rows).as("dst")))
          .reduce(_ union _)
        graft.ml.UmapLayout.embedFromEdges(ring,
          spark.range(rows).toDF("id"), iters = 8, negatives = 4,
          init = "random", localSolveMaxNodes = 0L).count()
      }
      Seq(rep, idx, idxPq).foreach { p =>
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList.sortBy(_.toString).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } finally s.close()
      }
    }

    // ---- maintenance decades (round 17): the APPEND+COMPACT cycle ----
    // Two claims the probe rows above don't cover:
    //  (a) compaction prices by LIVE POSTINGS, not append count — three
    //      histories with IDENTICAL live content (500-doc head + 500
    //      appended docs) but 4 / 20 / 100 micro-batch appends must
    //      compact in ~the same wall;
    //  (b) the post-compaction probe is flat regardless of how fragmented
    //      the history was (the pre-compaction probe is the one that pays
    //      per-segment costs).
    // Plus a live-size decade at FIXED append count (10): compaction wall
    // must track live postings ~linearly.
    def parquetCount(p: java.nio.file.Path, substr: String): Long = {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(f =>
          f.toString.contains(substr) && f.toString.endsWith(".parquet"))
      } finally s.close()
      }
    def rmTree(p: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s.close()
    }
    val maintNames = Seq("bm25 maint", "mh maint", "ivf maint", "pqmaint")
    if (filters.isEmpty || maintNames.exists(n => filters.exists(n.contains))) {
      for ((nAppends, batchRows) <- Seq((4, 125), (20, 25), (100, 5))) {
        val lbl = s"a$nAppends"
        // BM25: head index of docs 0..499, then the append history
        val bi = java.nio.file.Files.createTempDirectory(s"graft-maint-bm-$lbl-")
        graft.ext.Bm25.buildIndex(docs.filter(col("doc_id") < 500),
          "doc_id", "text", bi.toString)
        measure(s"bm25 maint append $lbl",
            s"appends=$nAppends rows=$batchRows live=1000") {
          (0 until nAppends).foreach { i =>
            graft.ext.Bm25.appendToIndex(
              docs.filter(col("doc_id") >= i * batchRows &&
                  col("doc_id") < (i + 1) * batchRows)
                .select((col("doc_id") + 70000000L).as("doc_id"), col("text")),
              "doc_id", "text", bi.toString, tag = s"m$i")
          }
          parquetCount(bi, "postings_")
        }
        measure(s"bm25 maint probe-pre $lbl", s"segments=$nAppends+base") {
          graft.ext.Bm25.topKIndexed(spark, bi.toString,
            Seq("spark", "merge", "window"), k = 10).count()
        }
        measure(s"bm25 maint compact $lbl",
            s"live=1000 docs, history=$nAppends appends") {
          graft.ext.Bm25.compactIndex(spark, bi.toString)
          parquetCount(bi, "postings_v")
        }
        measure(s"bm25 maint probe-post $lbl", "1 segment") {
          graft.ext.Bm25.topKIndexed(spark, bi.toString,
            Seq("spark", "merge", "window"), k = 10).count()
        }
        rmTree(bi)
        // MinHash store: same history shapes
        val mi = java.nio.file.Files.createTempDirectory(s"graft-maint-mh-$lbl-")
        graft.ext.Dedup.buildMinhashIndex(spark, mi.toString,
          docs.filter(col("doc_id") < 500), "text", "doc_id")
        val probeBatch = docs.filter(col("doc_id") < 500)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("text"))
        measure(s"mh maint append $lbl",
            s"appends=$nAppends rows=$batchRows live=1000") {
          (0 until nAppends).foreach { i =>
            graft.ext.Dedup.appendToMinhashIndex(spark, mi.toString,
              docs.filter(col("doc_id") >= i * batchRows &&
                  col("doc_id") < (i + 1) * batchRows)
                .select((col("doc_id") + 70000000L).as("doc_id"), col("text")),
              "text", "doc_id", tag = s"m$i")
          }
          parquetCount(mi, "keys")
        }
        measure(s"mh maint probe-pre $lbl", s"segments=$nAppends+base") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, mi.toString,
            probeBatch, "text", "doc_id", threshold = 0.9).count()
        }
        measure(s"mh maint compact $lbl",
            s"live=1000 docs, history=$nAppends appends") {
          graft.ext.Dedup.compactMinhashIndex(spark, mi.toString)
          parquetCount(mi, "keys")
        }
        measure(s"mh maint probe-post $lbl", "1 segment") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, mi.toString,
            probeBatch, "text", "doc_id", threshold = 0.9).count()
        }
        rmTree(mi)
      }
      // FILE-COUNT auto-compaction policy (round 18): the unpoliced
      // 100-append history's probe-pre slope is FILE-count-driven (~4.6k
      // tiny files — the r17 maint decades measured 14.4 s), and a
      // segment-count policy under-fires when every segment is a sliver.
      // Same 100 tiny appends, policy = compact when live parquet files
      // exceed 2× the base segment's count: the probe under the policy
      // must stay within ~2× of the fully-compacted probe.
      locally {
        val mi = java.nio.file.Files.createTempDirectory("graft-maint-mhpol-")
        graft.ext.Dedup.buildMinhashIndex(spark, mi.toString,
          docs.filter(col("doc_id") < 500), "text", "doc_id")
        val h = graft.ext.Dedup.openMinhashIndex(spark, mi.toString)
        val cap = h.liveFileCount * 2
        val probeBatch = docs.filter(col("doc_id") < 500)
          .select((col("doc_id") + 50000000L).as("doc_id"), col("text"))
        measure("mh maint policy append a100",
            s"rows=5 autoCompactFiles=$cap (out = compactions fired)") {
          var fired = 0L
          (0 until 100).foreach { i =>
            graft.ext.Dedup.appendToMinhashIndex(h,
              docs.filter(col("doc_id") >= i * 5 && col("doc_id") < (i + 1) * 5)
                .select((col("doc_id") + 70000000L).as("doc_id"), col("text")),
              "text", "doc_id", tag = s"m$i")
            if (h.liveFileCount > cap) {
              graft.ext.Dedup.compactMinhashIndex(h)
              fired += 1
            }
          }
          fired
        }
        measure("mh maint probe policy a100",
            s"history=100 tiny appends, liveFiles bounded by $cap+batch") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, mi.toString,
            probeBatch, "text", "doc_id", threshold = 0.9).count()
        }
        measure("mh maint compact policy a100", "fold the policied store") {
          graft.ext.Dedup.compactMinhashIndex(spark, mi.toString)
          parquetCount(mi, "keys")
        }
        measure("mh maint probe-post policy a100", "1 segment") {
          graft.ext.Dedup.minhashDedupAgainstIndex(spark, mi.toString,
            probeBatch, "text", "doc_id", threshold = 0.9).count()
        }
        rmTree(mi)
      }
      // live-size decade at FIXED 10 appends: 500 vs 5000 live docs
      for (live <- Seq(500, 5000)) {
        val half = live / 2
        val bi = java.nio.file.Files.createTempDirectory(s"graft-maint-lv-$live-")
        graft.ext.Bm25.buildIndex(docs.filter(col("doc_id") < half),
          "doc_id", "text", bi.toString)
        (0 until 10).foreach { i =>
          graft.ext.Bm25.appendToIndex(
            docs.filter(col("doc_id") >= i * (half / 10) &&
                col("doc_id") < (i + 1) * (half / 10))
              .select((col("doc_id") + 70000000L).as("doc_id"), col("text")),
            "doc_id", "text", bi.toString, tag = s"l$i")
        }
        measure(s"bm25 maint compact live=$live", "history=10 appends") {
          graft.ext.Bm25.compactIndex(spark, bi.toString)
          parquetCount(bi, "postings_v")
        }
        rmTree(bi)
      }
      // IVF store: the same append/probe/compact history shapes over the
      // round-17 segmented layout (synthetic 16-dim vectors, 8 cells)
      val emb = spark.range(0, 2000).select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(lit(0), lit(15)),
          d => (org.apache.spark.sql.functions
            .pmod(col("vec_id") * 31 + d * 7, lit(97)) / 97.0).cast("float"))
          .as("embedding"))
        .localCheckpoint(true)
      for ((nAppends, batchRows) <- Seq((4, 125), (20, 25), (100, 5))) {
        val lbl = s"a$nAppends"
        val vi = java.nio.file.Files.createTempDirectory(s"graft-maint-iv-$lbl-")
        val head = emb.filter(col("vec_id") < 500)
        graft.ext.Similarity.buildIvfIndex(head, "vec_id", "embedding",
          graft.ext.Similarity.centroidsByIds(head, "vec_id", "embedding",
            0L until 8L),
          vi.toString)
        val probeBatch = emb.filter(col("vec_id") < 10)
        measure(s"ivf maint append $lbl",
            s"appends=$nAppends rows=$batchRows live=1000") {
          (0 until nAppends).foreach { i =>
            graft.ext.Similarity.appendToIvfIndex(spark, vi.toString,
              emb.filter(col("vec_id") >= 500 + i * batchRows &&
                  col("vec_id") < 500 + (i + 1) * batchRows),
              "vec_id", "embedding", tag = s"m$i")
          }
          parquetCount(vi, "cell=")
        }
        measure(s"ivf maint probe-pre $lbl", s"segments=$nAppends+base") {
          graft.ext.Similarity.ivfTopKIndexed(spark, vi.toString,
            probeBatch, "vec_id", "embedding", k = 10, nprobe = 2).count()
        }
        measure(s"ivf maint compact $lbl",
            s"live=1000 vecs, history=$nAppends appends") {
          graft.ext.Similarity.compactIvfIndex(spark, vi.toString)
          parquetCount(vi, "cell=")
        }
        measure(s"ivf maint probe-post $lbl", "1 segment") {
          graft.ext.Similarity.ivfTopKIndexed(spark, vi.toString,
            probeBatch, "vec_id", "embedding", k = 10, nprobe = 2).count()
        }
        rmTree(vi)
        // PQ store, same histories (round 18 — the fourth segmented
        // store): codes-only appends encode against the stored codebooks,
        // probes are ADC over explicitly selected cell dirs
        val pi = java.nio.file.Files.createTempDirectory(s"graft-maint-pq-$lbl-")
        graft.ext.Similarity.buildIvfPqIndex(head, "vec_id", "embedding",
          graft.ext.Similarity.centroidsByIds(head, "vec_id", "embedding",
            0L until 8L),
          graft.ext.Similarity.pqCodebooksByIds(head, "vec_id", "embedding",
            m = 8, 0L until 16L),
          pi.toString)
        measure(s"pqmaint append $lbl",
            s"appends=$nAppends rows=$batchRows live=1000") {
          (0 until nAppends).foreach { i =>
            graft.ext.Similarity.appendToIvfPqIndex(spark, pi.toString,
              emb.filter(col("vec_id") >= 500 + i * batchRows &&
                  col("vec_id") < 500 + (i + 1) * batchRows),
              "vec_id", "embedding", tag = s"m$i")
          }
          parquetCount(pi, "cell=")
        }
        measure(s"pqmaint probe-pre $lbl", s"segments=$nAppends+base") {
          graft.ext.Similarity.ivfPqTopKIndexed(spark, pi.toString,
            probeBatch, "vec_id", "embedding", k = 10, nprobe = 2).count()
        }
        measure(s"pqmaint compact $lbl",
            s"live=1000 vecs, history=$nAppends appends") {
          graft.ext.Similarity.compactIvfPqIndex(spark, pi.toString)
          parquetCount(pi, "cell=")
        }
        measure(s"pqmaint probe-post $lbl", "1 segment") {
          graft.ext.Similarity.ivfPqTopKIndexed(spark, pi.toString,
            probeBatch, "vec_id", "embedding", k = 10, nprobe = 2).count()
        }
        rmTree(pi)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $what: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    val dir = args.headOption.filterNot(_ == "sweep")
      .getOrElse("/root/testdata/sf0.1")
    if (args.contains("sweep")) {
      sweep(spark, dir, args.toSeq.filterNot(a => a == "sweep" || a == dir))
      spark.stop(); return
    }
    // 6M-row two-phase row index + slice
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val li10 = (0 until 10).map(i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L)))
      .reduce(_ union _)
    time("row-idx + slice over 6M rows") {
      val idx = graft.ops.ColumnOps.withRowIdxByKey(li10, col("l_orderkey"), col("l_linenumber"))
      println("  kept=" + graft.ops.ColumnOps.takeRows(idx, skip = 1000, offset = 7).count())
    }
    // 50k-doc minhash LSH + verify
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val docs10 = (0 until 10).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    time("minhash near-dup over 50k docs") {
      println("  pairs=" + graft.ext.Dedup.minhashNearDuplicates(
        docs10, "text", "doc_id", shingleN = 3, threshold = 0.5).count())
    }
    time("simhash near-dup over 50k docs") {
      println("  pairs=" + graft.ext.Dedup.simhashNearDuplicates(
        docs10, "text", "doc_id", maxHamming = 8).count())
    }
    // 50k-vector cosine LSH
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb10 = (0 until 10).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ union _)
    time("cosine LSH over 50k vectors") {
      println("  pairs=" + graft.ext.Dedup.cosineNearDuplicates(
        emb10.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
        dim = 64, threshold = 0.8).count())
    }
    // ~1M-event temporal joins (10x replicated events, shifted user ids so
    // key cardinality scales with volume — bucket population stays flat)
    // same dual-shape (nanos-as-long vs TIMESTAMP_NTZ) dispatch as the
    // queries — a raw cast('long') on an NTZ-shaped file silently yields
    // epoch seconds and skews every probe timestamp
    val ev = SparkEntry.normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
    val ev10 = (0 until 10).map(i =>
      ev.withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ union _)
    time("as-of join over ~1M events") {
      val clicks = ev10.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev10.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      println("  rows=" + graft.ext.Joins.asofJoin(clicks, purchases,
        Seq("user_id"), "ts", "ts", Seq("purchase_id")).count())
    }
    time("range join over ~1M events") {
      val clicks = ev10.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
      val purchases = ev10.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 3600000000L).as("end_us"))
      println("  pairs=" + graft.ext.Joins.rangeJoinBinned(clicks, "click_us",
        purchases, "start_us", "end_us", Seq("user_id"), 3600000000L).count())
    }
    // 320k-vector single-pass probe training aggregation
    time("difference-of-means weights over 320k vectors") {
      println("  dims=" + graft.ml.DiffOfMeans.weightsExact(
        emb10, col("embedding"), col("label") <= 4).count())
    }
    // 50k real codec round trips: encode + decode + resize + embed, all
    // narrow — scaling is pure CPU spread (the fixture id shuffle is 8-byte
    // longs), evidence for the multimodal rows of SCALING.md
    val ids10 = (0 until 10).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id")))
      .reduce(_ union _)
    time("image decode+resize+embed over 50k real payloads") {
      val imgs = graft.ext.Multimodal.synthImages(ids10, "doc_id", pngOnly = true)
      println("  rows=" + graft.ext.Multimodal.withResizedImage(
        imgs, "doc_id", "img", maxSide = 64).count())
    }
    time("WAV parse over 50k real payloads") {
      println("  rows=" + graft.ext.Multimodal.withAudioMeta(
        graft.ext.Multimodal.synthWavs(ids10, "doc_id"), "doc_id", "audio").count())
    }
    spark.stop()
  }
}
