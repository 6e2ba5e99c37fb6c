package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps

/** BM25 ranked retrieval over a text column (Robertson & Zaragoza 2009;
  * the idf form is Lucene's `ln(1 + (N - df + .5)/(df + .5))`, always
  * non-negative). The text-side complement of the embedding ANN family:
  * "find the documents most relevant to these terms" without a vector
  * model. Beyond the reference's surface.
  *
  * == Determinism ==
  * Corpus statistics (N, total length, per-term document frequencies) are
  * exact integers; each document's score is a FIXED-ORDER left fold over
  * the query terms of single-expression double arithmetic, quantized to
  * integer micro-units for ranking — so ordering and output are
  * bit-replayable (constants are mirrored as the same decimal literals and
  * combined with the same IEEE ops in the oracle, never pre-evaluated).
  *
  * == 100 TB design ==
  * One aggregation pass produces a SINGLE stats row (broadcast cross join);
  * scoring is map-side over each document's word array — all per-term tfs
  * come from ONE hash-lookup pass over the words (a primitive UDF; the
  * expression form `size(filter(ws, _ === t))` per term was
  * O(words × terms) per document), no explode, no per-term shuffle;
  * selection is a TakeOrdered. Nothing shuffles but the stats row and the
  * top-k. A degenerate corpus (every document empty → avgdl undefined)
  * raises instead of silently scoring everything 0 through a NaN.
  */
object Bm25 {

  /** Micro-unit quantum for score ranking. */
  val Quant: Double = 1e6

  /** One term's BM25 contribution — the SINGLE definition of the score
    * arithmetic, shared by the scan pass ([[rank]], [[rankMany]]) and
    * [[topKIndexed]] so the IEEE op order (and therefore the SQL replay)
    * can never drift between them. */
  private def termContribution(tf0: Column, df0: Column, n: Column,
                               dl: Column, avgdl: Column,
                               k1: Double, b: Double): Column = {
    val tf = tf0.cast("double")
    val df = df0.cast("double")
    val idf = log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    idf * (tf * (lit(k1) + lit(1.0))) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (dl / avgdl)))
  }

  /** The scan scoring pass behind [[rank]] and [[rankMany]]: `docs`'
    * `idCol` beside one micro-unit-quantized score column per term list,
    * in `termLists` order. One aggregation yields a single stats row over
    * the union of the terms (broadcast cross join); one hash-lookup UDF
    * pass over each document's words yields every term's tf. */
  private def scoredDocs(docs: DataFrame, idCol: String, textCol: String,
                         termLists: Seq[Seq[String]], caller: String,
                         k1: Double, b: Double): (DataFrame, Seq[Column]) = {
    val allTerms: Seq[String] = termLists.flatten.distinct
    val withWs = docs.select(col(idCol),
      Corpus.words(col(textCol)).as("__ws"))
    val ws = col("__ws")
    val stats = withWs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(ws).cast("long")).as("total_dl") +:
        allTerms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(ws, t), 1L).otherwise(0L)).as(s"df$i")
        }: _*)
    val n = col("n_docs").cast("double")
    val dl = size(ws).cast("double")
    // loud failure on the degenerate corpus: with every document empty
    // (total_dl = 0) dl/avgdl is 0/0 → NaN, and round(NaN·1e6)::long is 0 —
    // every score would silently collapse to 0. (A 0-row corpus never
    // reaches this branch: the cross join is empty.)
    val avgdl = col("total_dl").cast("double") /
      when(col("total_dl") > 0L, n).otherwise(raise_error(concat(
        lit(s"Bm25.$caller: degenerate corpus (all documents empty; n_docs="),
        col("n_docs"), lit(")"))))
    // one pass over the words, one hash lookup each: tfs for ALL terms at
    // once (a term repeated in a list reads the same count). Null word
    // array (null text) stays null, propagating exactly like
    // size(filter(null, …)).
    val posOf: Map[String, Int] = allTerms.zipWithIndex.toMap
    val nTerms = allTerms.length
    val tfUdf = udf { ws0: scala.collection.Seq[String] =>
      if (ws0 == null) null
      else {
        val c = new Array[Long](nTerms)
        ws0.foreach(w => posOf.get(w).foreach(c(_) += 1L))
        c
      }
    }
    // named column, not an inline expression: each term's contribution
    // reads the same array, and a per-reference inline would re-run the
    // UDF once per term per row (CollapseProject keeps the projection
    // boundary for repeated non-cheap expressions)
    val scored = withWs.crossJoin(broadcast(stats))
      .withColumn("__tf", tfUdf(ws))
    val scores = termLists.map { ts =>
      val score = ts.map { t =>
        val i = posOf(t)
        termContribution(element_at(col("__tf"), i + 1), col(s"df$i"),
          n, dl, avgdl, k1, b)
      }.reduceLeft(_ + _)
      round(score * Quant).cast("long")
    }
    (scored, scores)
  }

  /** Top-`k` documents for `terms`: (rank, id, score_u6) with `score_u6`
    * the micro-unit-quantized BM25 score and rank 1-based over
    * (score_u6 desc, id asc). */
  def rank(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val (scored, Seq(score)) =
      scoredDocs(docs, idCol, textCol, Seq(terms), "rank", k1, b)
    val top = scored
      .select(col(idCol), score.as("score_u6"))
      .orderBy(col("score_u6").desc, col(idCol))
      .limit(k)
    top.select(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_u6").desc, col(idCol)))
        .cast("long").as("rank"),
      col(idCol), col("score_u6"))
  }

  /** BATCH retrieval: top-`k` per query for a bounded set of term-list
    * queries — `(query_id, rank, <idCol>, score_u6)`. The production
    * serving shape (contamination probes, eval-suite retrieval, dedup
    * lookups run as a batch), priced as ONE corpus pass instead of
    * |queries| separate [[rank]] jobs.
    *
    * == 100 TB design ==
    * The stats row covers the UNION of all query terms (still one
    * aggregation, one broadcast row); one hash-lookup UDF pass yields
    * every query's tfs; per-query scores explode to NARROW
    * `(query_id, id, score_u6)` rows and the per-query top-k is the
    * two-phase `WindowGroupLimit` cut — each partition forwards at most k
    * rows per query into the shuffle, so the exchange carries
    * ≤ |queries|·k·partitions rows regardless of corpus size. Queries are
    * plan literals like [[rank]]'s term list: the batch must be
    * driver-bounded.
    *
    * Determinism matches [[rank]] term for term: the same scoring pass,
    * [[termContribution]] folded in each query's own term order,
    * micro-quantized, ties by id ASC. */
  def rankMany(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "queries must be non-empty")
    require(queries.map(_._1).distinct.length == queries.length,
      s"duplicate query ids: ${queries.map(_._1)}")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"query $qid has no terms") }
    require(k >= 1, s"k must be >= 1, got $k")
    val (scored, scores) =
      scoredDocs(docs, idCol, textCol, queries.map(_._2), "rankMany", k1, b)
    val perQuery = queries.zip(scores).map { case ((qid, _), score) =>
      struct(lit(qid).cast("long").as("query_id"), score.as("score_u6"))
    }
    val exploded = scored
      .select(col(idCol), explode(array(perQuery: _*)).as("__q"))
      .select(col("__q.query_id").as("query_id"), col(idCol),
        col("__q.score_u6").as("score_u6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_u6").desc, col(idCol))
    exploded.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score_u6"))
  }

  /** Term-bucket count of the stored index and the seed of its bucket
    * hash — recorded in the stats row so a probe can never disagree with
    * the layout it reads. */
  private val BucketSeed: Int = 0xB25

  private def bucketOf(term: String, numBuckets: Int): Int =
    math.floorMod(graft.ext.Dedup.hash64(BucketSeed, term).toInt, numBuckets)

  /** [[bucketOf]] as a column function: the `bucket=N` dir a term's
    * postings are written to, and how a read restores the column. */
  private def bucketCol(term: Column, numBuckets: Int): Column =
    udf((t: String) => bucketOf(t, numBuckets)).apply(term)

  /** Build a stored INVERTED INDEX at `path` — the BM25 serving shape:
    * once the corpus is indexed, a query reads only its own terms'
    * posting lists instead of scanning 100 TB of text per query (the
    * text-retrieval analog of [[Similarity.buildIvfIndex]]'s
    * cell-partitioned store).
    *
    * Layout (the [[StoreMeta]] segment protocol the MinHash, IVF and
    * IVF-PQ stores share — the stats row is the pointer):
    *  - `seg_<name>/bucket=N/` — rows `(term, doc_id, tf, dl, pos)`, one per
    *    (document, distinct term), partitioned by `bucket =
    *    hash(term) % numBuckets` with one cell-keyed shuffle before the
    *    write (one file per bucket, not tasks×buckets). The build writes
    *    `seg_base`, each append one more segment, and [[compactIndex]]
    *    folds the live segments into a fresh `seg_c<gen>`.
    *  - `stats_mK/` — ONE row `(n_docs, total_dl, n_buckets, segments,
    *    last_tag, next_seg)`, always written LAST and committed via
    *    [[StoreMeta]]'s versioned-dir + `_SUCCESS` discipline: a probe
    *    resolves the live segments through the stats row it read, so a
    *    segment append or a compaction is an atomic pointer flip — no
    *    probe can ever see a missing or partial table, and a crash
    *    mid-flip leaves the previous pointer whole.
    *
    * There is no document-frequency table: a term's df is the number of
    * its live postings rows (one per (document, term)), which the probe
    * counts from the rows it reads anyway (Lucene likewise sums per-segment
    * docFreq at query time). A store written before BM25 joined the
    * segment protocol (its stats row names a postings base and delta
    * dirs, and it may still carry df tables) keeps opening: those dirs
    * are its live segments, and its first two [[compactIndex]] calls
    * sweep the old names.
    *
    * Ids must be unique across the store and every later batch (the
    * ingest norm — ids assigned on arrival): a repeated id is scored as
    * two documents.
    *
    * Build cost: one token-stream shuffle (the `(doc, term)` tf
    * aggregation), linear, paid once per corpus. A probe prunes to the
    * query terms' bucket DIRECTORIES at the source and pushes the term
    * equality into the parquet scan. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val withWs = tokenized(docs, idCol, textCol)
    writePostings(postingsOf(withWs, numBuckets), numBuckets,
      s"$path/seg_base")
    val (n, dl) = counts(withWs)
    writeStats(docs.sparkSession, path,
      IndexStats(n, dl, numBuckets, StoreMeta.Segments.Base))
  }

  /** Resolved index metadata: the additive counts, the bucket count, and
    * the segment manifest ([[StoreMeta.Segments]]). */
  private[ext] final case class IndexStats(nDocs: Long, totalDl: Long,
                                           nBuckets: Int,
                                           segs: StoreMeta.Segments)

  /** The committed stats pointer row as a DataFrame — the public probe
    * for tests/tools (`n_docs`, `total_dl`, `n_buckets`, the manifest). */
  def indexStatsDf(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    StoreMeta.read(spark, path, "stats")

  private def readStats(spark: org.apache.spark.sql.SparkSession,
                        path: String): IndexStats = {
    val st = indexStatsDf(spark, path).head
    val segs =
      if (st.schema.fieldNames.contains("segments")) StoreMeta.Segments.of(st)
      // the older layout: the postings base and delta dirs are the live
      // segments (see buildIndex)
      else StoreMeta.Segments(st.getAs[String]("postings_dir") ::
        st.getAs[scala.collection.Seq[String]]("delta_dirs").toList,
        st.getAs[String]("last_tag"), st.getAs[Long]("next_seg"))
    IndexStats(st.getAs[Long]("n_docs"), st.getAs[Long]("total_dl"),
      st.getAs[Int]("n_buckets"), segs)
  }

  /** Driver-side HANDLE over a [[buildIndex]] store for repeated
    * probe/append/compact cycles — the streaming-ingest shape (round 21;
    * the [[graft.ext.Dedup.MinhashIndexHandle]] / `Similarity.IvfIndexHandle`
    * discipline applied to the text index): re-reading the stats pointer
    * row (a versioned-dir listing plus a 1-task Spark job) and re-listing
    * every segment's buckets on EVERY micro-batch is pure driver fixed
    * overhead that sets the per-batch latency floor. Caches (a) the stats
    * row, kept current in memory as this handle's own appends/compactions
    * commit, and (b) each segment's bucket listing
    * ([[StoreMeta.PartitionDirs]]).
    *
    * Single writer; all mutations of this store must go through the SAME
    * handle — after an out-of-band write, call [[Bm25IndexHandle.refresh]].
    * Driver-only object, never ships to executors. Every operation on the
    * store past its build takes this handle. */
  final class Bm25IndexHandle private[ext] (
      private[ext] val spark: org.apache.spark.sql.SparkSession,
      val path: String) {
    private[ext] var stats: IndexStats = readStats(spark, path)
    private[ext] val bucketDirs =
      new StoreMeta.PartitionDirs(spark, path, "", "bucket")
    /** Live segments past the base (what an auto-compaction policy
      * thresholds on). */
    def deltaSegments: Int = stats.segs.live.length - 1
    /** Commit `st` as the store's stats row and keep it as this handle's
      * stats; the listings of segments it retires are dropped. */
    private[ext] def commit(st: IndexStats): Unit = {
      writeStats(spark, path, st)
      bucketDirs.retain(st.segs.live)
      stats = st
    }
    /** Re-read the stats pointer and drop cached listings — required only
      * after a DIFFERENT writer mutated the store. */
    def refresh(): Unit = {
      stats = readStats(spark, path); bucketDirs.clear()
    }
  }

  /** Open a [[Bm25IndexHandle]] over an existing [[buildIndex]] store. */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): Bm25IndexHandle =
    new Bm25IndexHandle(spark, path)

  // versioned-dir + _SUCCESS commit via StoreMeta: the pointer row is the
  // store's commit point and must never be transiently missing (a plain
  // overwrite deletes-then-writes) or half-written after a crash
  private def writeStats(spark: org.apache.spark.sql.SparkSession,
                         path: String, st: IndexStats): Unit = {
    import spark.implicits._
    StoreMeta.write(
      Seq((st.nDocs, st.totalDl, st.nBuckets, st.segs.live, st.segs.lastTag,
          st.segs.nextSeg))
        .toDF("n_docs", "total_dl", "n_buckets", "segments", "last_tag",
          "next_seg"),
      path, "stats")
  }

  // explicit segment schema: an EMPTY batch's partitionBy write leaves a
  // _SUCCESS-only directory behind, and schema INFERENCE on it throws —
  // appendToIndex now refuses to commit such a segment, but a reader must
  // not depend on every historic segment being non-empty either (the
  // appendToMinhashIndex discipline, ADVICE r16 high)
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType)),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  // the schema of the postings FILES themselves: partitionBy("bucket")
  // strips the bucket column from the data files, so the direct
  // bucket-dir reads below see only these five columns
  private val postingsFileSchema = org.apache.spark.sql.types.StructType(
    postingsSchema.filterNot(_.name == "bucket"))

  /** The index's postings as ONE DataFrame: every live segment in a
    * single MULTI-PATH scan — one listing and one FileSourceScan for the
    * whole history, instead of an N-way union whose per-segment fixed
    * cost (listing + scan planning) made long-history probes and
    * compactions linear in append count. Bucket pruning happens at PATH
    * construction (`buckets` — the probe knows its terms' buckets
    * driver-side, [[StoreMeta.PartitionDirs]]). Spark cannot do this
    * itself: sibling roots each holding bucket= layers trip its
    * conflicting-directory-structures check, so the bucket column is
    * recomputed from the term (bit-identical — that is how it was
    * derived at write time). `pred` carries the row-level predicates
    * (term isin → parquet min/max skipping over term-sorted row groups). */
  private def readPostings(h: Bm25IndexHandle, pred: Column,
                           buckets: Option[Seq[Int]]): DataFrame = {
    val spark = h.spark
    val paths = h.bucketDirs.paths(h.stats.segs.live, buckets)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        postingsSchema)
    else
      spark.read.schema(postingsFileSchema).parquet(paths: _*)
        .filter(pred)
        .withColumn("bucket", bucketCol(col("term"), h.stats.nBuckets))
  }

  /** `(doc_id, __ws)`: each document's id and word array. */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      Corpus.words(col(textCol)).as("__ws"))

  /** The additive stats of a [[tokenized]] batch: (documents, words). */
  private def counts(withWs: DataFrame): (Long, Long) = {
    val r = withWs.agg(count(lit(1)),
      coalesce(sum(size(col("__ws")).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Postings rows `(term, doc_id, tf, dl, pos, bucket)` for a tokenized
    * corpus — `pos` the sorted 0-based token positions of the term in the
    * document (the POSITIONAL payload that makes the index answer phrase
    * queries without a corpus scan; Lucene stores the same). */
  private def postingsOf(withWs: DataFrame, numBuckets: Int): DataFrame =
    withWs
      .select(col("doc_id"), size(col("__ws")).cast("long").as("dl"),
        posexplode(col("__ws")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        sort_array(collect_list(col("pos"))).as("pos"))
      .withColumn("bucket", bucketCol(col("term"), numBuckets))

  /** Write postings rows as one segment at `dir`. sortWithinPartitions
    * (term): a bucket directory holds 1/numBuckets of ALL postings, which
    * grows with the corpus — term-sorted row groups give the probe's
    * pushed term-equality parquet min/max skipping, so the probe reads
    * ~the matched postings, not the whole bucket. The pinned partition
    * count keeps AQE from coalescing a small write to one task that pays
    * every bucket's parquet-writer init serially. */
  private def writePostings(postings: DataFrame, numBuckets: Int,
                            dir: String): Unit =
    postings.repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(dir)

  /** Append new documents to a [[buildIndex]] store — the 100 TB
    * maintenance story (the text analog of
    * [[Similarity.appendToIvfIndex]]): a daily crawl lands as a NEW
    * bucket-partitioned SEGMENT (the LSM / Lucene-segment shape — the
    * live postings are never touched) and the stats pointer row is
    * rewritten LAST. Work and files are BATCH-bounded: nothing is
    * rewritten per vocabulary term, because the probe counts df from the
    * live postings (see [[buildIndex]]). The flip is therefore the batch's
    * ATOMIC commit: a probe racing an append sees either the whole old
    * index or the whole new one — never a partial table, never appended
    * postings scored against stale counts. Append == full rebuild is
    * test-asserted bit-for-bit; [[compactIndex]] folds accumulated
    * segments back into one. Ids must be unique across the store and
    * every later batch, as in [[buildIndex]].
    *
    * EXACTLY-ONCE ingest: pass a non-empty `tag` (e.g. the micro-batch
    * id). A re-delivered batch (`tag == last_tag`: a streaming restart
    * replaying an uncommitted micro-batch whose effects DID land) and an
    * idle (empty) batch are skipped whole; a crashed attempt leaves an
    * unreferenced segment that the retry overwrites (the segment
    * protocol, [[StoreMeta.appendSegment]]). Single writer; appends and
    * compactions must not overlap each other. The handle's cached stats
    * row replaces the per-batch pointer re-read (see
    * [[Bm25IndexHandle]]). */
  def appendToIndex(h: Bm25IndexHandle, docs: DataFrame, idCol: String,
                    textCol: String, tag: String = ""): Unit = {
    val st = h.stats
    // PERSISTED tokenized projection (round 22): the postings leg and the
    // additive-stats leg below both read it — unpersisted, each re-scanned
    // the source and re-tokenized the batch. The segment protocol's
    // empty-guard probes THIS frame (1:1 rows with `docs`, so the guard is
    // exact), caching what it computes instead of paying a separate
    // raw-source take(1).
    val withWs = tokenized(docs, idCol, textCol).persist()
    try {
      // the segment write and the additive stats aggregate are INDEPENDENT
      // jobs before the pointer flip — run them as concurrent Spark jobs so
      // the per-batch append wall is max(...), not their sum (the
      // writeMinhashRows treatment; both settle before the atomic commit).
      // The postings feed the segment write only, so they are not persisted.
      StoreMeta.appendSegment(h.path, st.segs, tag, withWs) { segDir =>
        val Seq(_, (n: Long, dl: Long)) = ColumnOps.concurrently[Any](
          () => writePostings(postingsOf(withWs, st.nBuckets), st.nBuckets,
            segDir),
          () => counts(withWs))
        (n, dl)
      }.foreach { case (segs, (n, dl)) =>
        h.commit(IndexStats(st.nDocs + n, st.totalDl + dl, st.nBuckets, segs))
      }
    } finally withWs.unpersist()
  }

  /** Compact a [[buildIndex]] store: fold the live segments into ONE
    * fresh bucket-partitioned, term-sorted `seg_c<gen>` — after thousands
    * of micro-batch appends the probe would otherwise touch one small
    * file (and row group) per batch and its term min/max skipping
    * degrades toward footer-reading every segment. The stats flip (same
    * counts, one live segment) is the atomic cutover; probes racing it
    * read either layout, both complete. Segment dirs the stats row does
    * not list — crashed-append leftovers and the previous compaction's
    * inputs, all ≥ one writer cycle old — are swept first
    * ([[StoreMeta.compactionSegment]]), together with an older layout's
    * df tables and no-longer-live postings dirs. Cost: one
    * bucket-keyed shuffle of the postings, no corpus access. */
  def compactIndex(h: Bm25IndexHandle): Unit = {
    val st = h.stats
    val live = st.segs.live.toSet
    val (newSeg, _) = StoreMeta.compactionSegment(h.spark, h.path, st.segs,
      alsoSweep = n => n.startsWith("df_v") ||
        (n.startsWith("postings_") && !live.contains(n)))
    writePostings(readPostings(h, lit(true), buckets = None), st.nBuckets,
      s"${h.path}/$newSeg")
    h.commit(st.copy(segs = st.segs.copy(live = List(newSeg))))
  }

  /** Exact PHRASE occurrence counts against a [[buildIndex]] store —
    * `(doc_id, n_hits)` for every document containing the contiguous word
    * sequence, identical to filtering
    * [[TextAnalysis.phraseCount]]` > 0` over the corpus (the scan form),
    * which is how the gate oracles it.
    *
    * == 100 TB design ==
    * Reads ONLY the phrase's distinct terms' bucket directories (pruned,
    * term-pushed — the same scan shape as [[topKIndexed]]); each
    * document's per-term POSITION lists meet in one doc-keyed
    * aggregation, and an occurrence is a first-term position `p` with
    * term `j` present at `p + j` — set-membership over tf-sized arrays,
    * no corpus scan, no token re-tokenization. */
  def phraseCountIndexed(h: Bm25IndexHandle,
                         phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    phraseCountManyIndexed(h, Seq(0L -> phrase))
      .select(col("doc_id"), col("n_hits"))
  }

  /** BATCH phrase counts against a [[buildIndex]] store —
    * `(phrase_id, doc_id, n_hits)` for every (phrase, document) pair with
    * ≥ 1 exact contiguous occurrence; each phrase's rows are identical to
    * its own [[phraseCountIndexed]] (which is how the gate oracles it).
    * The contamination-probe serving shape: real decontamination runs
    * check THOUSANDS of benchmark phrases, priced here as ONE read of the
    * union of the phrases' buckets instead of |phrases| separate jobs —
    * the [[rankMany]] batching shape applied to positions.
    *
    * == 100 TB design ==
    * Reads only the distinct terms' bucket directories once (pruned +
    * term-pushed scan); ONE doc-keyed aggregation assembles every term's
    * position list per doc (each per-term max touches ≤ 1 posting row);
    * each phrase's occurrence count is then a row-local array expression,
    * exploded to narrow `(phrase_id, doc_id, n_hits)` rows. Phrases are
    * plan literals — the batch must be driver-bounded (like [[rankMany]]'s
    * queries). */
  def phraseCountManyIndexed(h: Bm25IndexHandle,
                             phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    require(phrases.map(_._1).distinct.length == phrases.length,
      s"duplicate phrase ids: ${phrases.map(_._1)}")
    phrases.foreach { case (pid, ts) =>
      require(ts.nonEmpty, s"phrase $pid is empty") }
    val distinctTerms = phrases.flatMap(_._2).distinct
    val qBuckets = distinctTerms.map(bucketOf(_, h.stats.nBuckets)).distinct
    val post = readPostings(h, col("term").isin(distinctTerms: _*),
      Some(qBuckets))
    def posCol(t: String): String = s"__p${distinctTerms.indexOf(t)}"
    // each per-term max touches at most one (doc, term) posting row
    val perTerm = distinctTerms.map(t =>
      max(when(col("term") === t, col("pos"))).as(posCol(t)))
    val g = post.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
    val perPhrase = phrases.map { case (pid, phrase) =>
      val present = phrase.distinct.map(t => col(posCol(t)).isNotNull)
        .reduceLeft(_ && _)
      val cnt =
        if (phrase.length == 1) size(col(posCol(phrase.head))).cast("long")
        else size(filter(col(posCol(phrase.head)), p =>
          phrase.zipWithIndex.tail.map { case (t, j) =>
            array_contains(col(posCol(t)), p + j)
          }.reduceLeft(_ && _))).cast("long")
      struct(lit(pid).cast("long").as("phrase_id"),
        when(present, cnt).otherwise(lit(0L)).as("n_hits"))
    }
    g.select(col("doc_id"), explode(array(perPhrase: _*)).as("__ph"))
      .select(col("__ph.phrase_id").as("phrase_id"), col("doc_id"),
        col("__ph.n_hits").as("n_hits"))
      .filter(col("n_hits") > 0L)
  }

  /** Top-`k` for `terms` against a [[buildIndex]] store — identical
    * scores, ranks, and output shape to [[rank]] for every document that
    * matches at least one term (an unmatched document scores exactly 0 in
    * [[rank]] and has no posting here; with k under the match count the
    * two are bit-identical, which is how the gate oracles this).
    *
    * == 100 TB design ==
    * Reads ONLY the query terms' bucket directories (source-level
    * partition pruning) with the term equality pushed into the scan: probe
    * cost tracks the matched postings, NOT the corpus — the per-query
    * corpus scan [[rank]] pays is gone. The per-term contribution columns
    * aggregate in a fixed fold order (each per-term sum touches at most
    * one posting row per document), so the IEEE arithmetic replays
    * [[rank]] term for term. Document frequencies come from the same
    * pruned rows: one map-only term count over them, merged driver-side
    * (≤ |distinct terms| entries per task), so no store-wide df table is
    * read or kept. The handle's cached stats row and per-segment bucket
    * listings are reused across calls (see [[Bm25IndexHandle]]). */
  def topKIndexed(h: Bm25IndexHandle, terms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    val st = h.stats
    val nDocs = st.nDocs
    val totalDl = st.totalDl
    require(totalDl > 0L,
      s"Bm25.topKIndexed: degenerate index (all documents empty; " +
        s"n_docs=$nDocs)")
    val distinctTerms = terms.distinct
    val qBuckets = distinctTerms.map(bucketOf(_, st.nBuckets)).distinct
    val post = readPostings(h, col("term").isin(distinctTerms: _*),
      Some(qBuckets))
    // df(t) = live postings rows of t: one per (document, term) in every
    // segment, exactly what build and append used to count into a table.
    // Counted in ONE map-only job: each task tallies its rows per query
    // term and the driver merges ≤ |distinct terms| entries per task (a
    // grouped count would add a shuffle stage, i.e. a second job)
    val dfMap: Map[String, Long] = post.select(col("term")).rdd
      .mapPartitions { rows =>
        val c = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach(r => c.updateWith(r.getString(0))(n =>
          Some(n.getOrElse(0L) + 1L)))
        c.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    val n = lit(nDocs.toDouble)
    val avgdl = lit(totalDl.toDouble) / n // same IEEE division as rank's
    val dl = col("dl").cast("double")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t,
        termContribution(col("tf"), lit(dfMap.getOrElse(t, 0L)).cast("long"),
          n, dl, avgdl, k1, b))).as(s"__c$i")
    }
    // coalesce-to-0.0 equals rank's tf=0 contribution exactly (the fold
    // adds +0.0 either way), keeping the term-order IEEE fold identical
    val score = terms.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val top = post.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        round(score * Quant).cast("long").as("score_u6"))
      .orderBy(col("score_u6").desc, col("doc_id"))
      .limit(k)
    top.select(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_u6").desc, col("doc_id")))
        .cast("long").as("rank"),
      col("doc_id"), col("score_u6"))
  }
}
