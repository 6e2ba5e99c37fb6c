package graft.ext

import graft.ops.StoredParquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast nested-loop of the
  * (small) query set against the corpus, per-row dot products with
  * `zip_with`/`aggregate` (codegen'd higher-order functions, no UDF in the
  * hot path), then a per-query top-k window.
  *
  * Scale path: IVF — corpus pre-partitioned into nlist cells by nearest
  * centroid; a query probes only nprobe cells, so the scan is
  * (nprobe/nlist) of the data and the cell assignment is a broadcast join
  * against the tiny centroid table. At 100 TB the corpus is additionally
  * *stored* partitioned by cell id ([[buildIvfIndex]]), so a probe prunes
  * unprobed cells at the SOURCE ([[ivfTopKIndexed]]) — directories never
  * listed, files never opened.
  */
object Similarity {

  /** dot(a,b) with doubles, sequential over elements — deterministic.
    * Backed by the native codegen'd [[VectorKernels.dot]] (a primitive loop
    * in the whole-stage-codegen body); the earlier
    * `aggregate(zip_with(...))` higher-order form evaluated boxed lambdas
    * per element. For non-null, equal-length inputs — every embedding
    * column in this engine, asserted at select — results are bit-equal;
    * for degenerate inputs the contracts DIFFER: the kernel skips null
    * elements and stops at the shorter length where the HOF form returned
    * null (see [[VectorKernels]] scaladoc).
    */
  def dot(a: Column, b: Column): Column = VectorKernels.dot(a, b)

  def norm(a: Column): Column = sqrt(VectorKernels.dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors. `queries` must be small (it is broadcast).
    * Norms are computed ONCE per side before the cross join (at 100 TB the
    * corpus-side norm would be a stored column), so each pair costs one
    * fused zip_with+aggregate dot product — not the 3 norm recomputations
    * of the naive form. Output: (query_id, corpus_id, cosine, rank).
    */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn")))
    val c = corpus.select(col(corpusId).as("corpus_id"),
      col(corpusVec).as("__cv"), norm(col(corpusVec)).as("__cn"))
    val scored = c.crossJoin(q)
      .withColumn("cosine", when(col("__qn") * col("__cn") > 0,
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
        .otherwise(lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** HARD-NEGATIVE mining for contrastive training (DPR/Contriever-style
    * pairs): per query, the top-k corpus vectors by cosine among those
    * BELOW `dupThreshold` — the query itself and its near-duplicates
    * (cosine ≥ the threshold) are excluded, so negatives are hard but
    * never false (a duplicate labeled "negative" poisons the loss).
    * Same plan shape as [[bruteForceTopK]] (broadcast queries, per-query
    * window); at corpus scale the candidate generation swaps to the IVF
    * probe and this becomes its post-filter — semantics unchanged. */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    k: Int, dupThreshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dupThreshold > 0.0 && dupThreshold <= 1.0,
      s"dupThreshold must be in (0, 1], got $dupThreshold")
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn")))
    val c = corpus.select(col(corpusId).as("corpus_id"),
      col(corpusVec).as("__cv"), norm(col(corpusVec)).as("__cn"))
    val scored = c.crossJoin(q)
      .withColumn("cosine", when(col("__qn") * col("__cn") > 0,
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
        .otherwise(lit(0.0)))
      .filter(col("cosine") < dupThreshold &&
        col("query_id") =!= col("corpus_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Deterministic centroid selection for IVF without iterative k-means:
    * pick nlist corpus vectors by hash of id (stable "k-means||-lite" —
    * random projection seeds). Good enough for uniform data; skewed
    * embedding distributions should use [[kmeansCentroids]].
    */
  def pickCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int): Array[(Int, Seq[Float])] = {
    val picked = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy("h").limit(nlist)
      .collect()
    picked.zipWithIndex.map { case (r, i) => (i, r.getAs[scala.collection.Seq[Float]]("v").toSeq) }
  }

  /** KMeans-fitted centroids (distributed Spark ML Lloyd iterations) — the
    * production IVF path: balanced cells follow the actual embedding
    * distribution, so nprobe recall holds under skew. The centroid table is
    * always tiny (nlist rows) regardless of corpus size.
    */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
                      maxIter: Int = 5, seed: Long = 42L): Array[(Int, Seq[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nlist).setMaxIter(maxIter).setSeed(seed)
      .fit(feats)
    model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat).toSeq)
    }
  }

  /** Deterministic centroids taken from EXPLICIT corpus member ids (cell id
    * = position in `ids`). Unlike [[pickCentroids]]' hash draw, this choice
    * is replayable by any engine that can read the corpus — it is what lets
    * an external oracle reproduce the full IVF result bit-for-bit.
    */
  def centroidsByIds(corpus: DataFrame, idCol: String, vecCol: String,
                     ids: Seq[Long]): Array[(Int, Seq[Float])] = {
    val byId = corpus
      .filter(col(idCol).cast("long").isin(ids.map(Long.box): _*))
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("v").toSeq)
      .toMap
    ids.zipWithIndex.map { case (id, i) =>
      (i, byId.getOrElse(id,
        throw new NoSuchElementException(s"centroid id $id not in corpus")))
    }.toArray
  }

  /** Centroid table unpacked for the hot assignment loop: ids, primitive
    * vectors, and the squared norms PRECOMPUTED ONCE (the naive per-row
    * form re-accumulated every centroid's norm for every row — at
    * rows × nlist that dominates assignment). All hoists are bit-exact:
    * each sum runs over the same elements in the same order as before,
    * only earlier and once. */
  private final class CentArrays(cents: Array[(Int, Seq[Float])])
      extends Serializable {
    val ids: Array[Int] = cents.map(_._1)
    val vecs: Array[Array[Float]] = cents.map(_._2.toArray)
    /** cell id → position in `vecs` (ids are positional 0..n-1 for every
      * centroid constructor in this object, but don't rely on it). */
    lazy val indexOfId: Map[Int, Int] = ids.zipWithIndex.toMap
    def vecOfId(cell: Int): Array[Float] = vecs(indexOfId(cell))
    val norms2: Array[Double] = vecs.map { cv =>
      var nb = 0.0; var i = 0
      while (i < cv.length) { nb += cv(i).toDouble * cv(i); i += 1 }
      nb
    }

    /** cos(v, centroid j) with the per-row squared norm `na` hoisted. */
    def cos(va: Array[Float], na: Double, j: Int): Double = {
      val cv = vecs(j)
      var dp = 0.0; var i = 0
      while (i < va.length) { dp += va(i).toDouble * cv(i); i += 1 }
      if (na > 0 && norms2(j) > 0) dp / math.sqrt(na * norms2(j)) else 0.0
    }

    def norm2(v: scala.collection.Seq[Float]): Double = {
      var na = 0.0; var i = 0
      while (i < v.length) { na += v(i).toDouble * v(i); i += 1 }
      na
    }

    /** Nearest-centroid cell id, first-max-wins (ties → smaller index —
      * identical tie-break to the original tuple iteration). */
    def bestCell(v: scala.collection.Seq[Float]): Int = {
      val va = v.toArray
      val na = norm2(va)
      var best = 0; var bestD = Double.MinValue
      var j = 0
      while (j < vecs.length) {
        val c = cos(va, na, j)
        if (c > bestD) { bestD = c; best = ids(j) }
        j += 1
      }
      best
    }

    def probe(v: scala.collection.Seq[Float], nprobe: Int): Seq[Int] = {
      val va = v.toArray
      val na = norm2(va)
      ids.indices.map(j => (ids(j), cos(va, na, j)))
        .sortBy(-_._2).take(nprobe).map(_._1)
    }
  }



  /** (id, vector, cell) for every corpus row — nearest-centroid assignment
    * against a broadcast centroid table (first-max-wins, ties → smaller
    * cell id). The shared front half of IVF search and semantic dedup:
    * the centroid table is nlist rows regardless of corpus size, so the
    * assignment is a map-only pass — no shuffle.
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[(Int, Seq[Float])]): DataFrame = {
    // broadcast the UNPACKED table (primitive vectors + precomputed norms):
    // the per-row loop is rows × nlist dot products and must not re-box or
    // re-accumulate centroid norms per row
    val bc = corpus.sparkSession.sparkContext.broadcast(new CentArrays(centroids))
    val assignUdf = udf { v: scala.collection.Seq[Float] => bc.value.bestCell(v) }
    corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("cell", assignUdf(col("__v")))
  }

  /** IVF top-k: assign corpus rows to nearest centroid (broadcast centroid
    * table), probe the nprobe nearest cells per query.
    */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val cents =
      if (kmeansIters > 0) kmeansCentroids(corpus, corpusVec, nlist, kmeansIters)
      else pickCentroids(corpus, corpusId, corpusVec, nlist)
    val bc = spark.sparkContext.broadcast(new CentArrays(cents))
    val probeUdf = udf { v: scala.collection.Seq[Float] =>
      bc.value.probe(v, nprobe)
    }

    val c = assignCells(corpus, corpusId, corpusVec, cents)
      .select(col("id").as("corpus_id"), col("__v").as("__cv"),
        norm(col("__v")).as("__cn"), col("cell"))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn"))
      .withColumn("cell", explode(probeUdf(col("__qv")))))
    topK(c.join(q, Seq("cell")), k)
  }

  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs
      .withColumn("cosine", when(col("__qn") * col("__cn") > 0,
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
        .otherwise(lit(0.0)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  // ---------------- stored-bucketed IVF (the 100 TB refinement) ----------------

  /** Build an ON-DISK IVF index: the corpus is written as parquet
    * PARTITIONED BY cell id under a SEGMENT directory —
    * `<path>/seg_base/cell=N/…` — with the vector norm precomputed as a
    * stored column, and the centroid table stored alongside at
    * `<path>/centroids`. A probe then reads only its probed cells'
    * DIRECTORIES within the live segments, so scan IO is
    * (|probed cells| / nlist) of the corpus instead of a full pass —
    * the difference between touching 100 TB and touching 12 TB per query
    * batch. Storage is one extra corpus copy; cells are hash-balanced for
    * [[pickCentroids]]/[[centroidsByIds]] draws and distribution-balanced
    * for [[kmeansCentroids]].
    *
    * Round 17: the store adopted the segment+manifest discipline of the
    * BM25 and MinHash stores — appends land as immutable tagged segments
    * committed by an atomic [[StoreMeta]] manifest flip (EXACTLY-ONCE
    * under streaming replay), [[compactIvfIndex]] folds the history back
    * to one generation, and probes read only manifest-listed segments, so
    * a crash mid-append is invisible. The cell id rides INSIDE the data
    * files too (`cell_d` — partitionBy strips the partition column), so
    * the multi-segment probe can read explicitly selected cell dirs as
    * one unpartitioned multi-path scan (Spark rejects sibling partitioned
    * roots; path-level selection is strictly stronger anyway). */
  def buildIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                    centroids: Array[(Int, Seq[Float])], path: String): Unit = {
    val spark = corpus.sparkSession
    writeIvfSegment(corpus, corpusId, corpusVec,
      new CentArrays(centroids), s"$path/seg_base")
    writeCentroids(spark, s"$path/centroids", centroids)
    // the manifest commits LAST: a reader never sees a store without its
    // centroid table
    writeIvfMeta(spark, path, IvfMeta(StoreMeta.Segments.Base))
  }

  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             centroids: Array[(Int, Seq[Float])]): Unit = {
    import spark.implicits._
    centroids.toSeq.map { case (cid, v) => (cid, v) }
      .toDF("cent_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  // one IVF segment: cell-partitioned corpus rows under `segDir` (see
  // buildIvfIndex)
  private def writeIvfSegment(rows: DataFrame, corpusId: String,
                              corpusVec: String, cents: CentArrays,
                              segDir: String): Unit = {
    val bc = rows.sparkSession.sparkContext.broadcast(cents)
    val assignUdf = udf { v: scala.collection.Seq[Float] => bc.value.bestCell(v) }
    writeCells(
      rows.select(col(corpusId).as("corpus_id"), col(corpusVec).as("vec"))
        .withColumn("vnorm", norm(col("vec")))
        .withColumn("cell", assignUdf(col("vec"))),
      segDir)
  }

  /** Write `rows` (with a `cell` column) as one cell-partitioned segment
    * under `segDir`, the cell id duplicated as the data column `cell_d`
    * (partitionBy strips the partition column, and the multi-segment
    * probe reads explicitly selected cell dirs as one unpartitioned
    * multi-path scan — see [[storedCells]]). */
  private def writeCells(rows: DataFrame, segDir: String): Unit =
    rows.withColumn("cell_d", col("cell"))
      // co-locate each cell before the partitioned write: without this,
      // partitionBy emits (writing tasks × cells) files — at nlist in the
      // tens of thousands that is millions of KB-sized parquet files, a
      // listing/open cost that defeats the pruning the index exists for.
      // One cell-keyed shuffle at build time buys ~one file per cell.
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(segDir)

  /** The segment manifest plus the current centroid dir and the
    * streaming-ingest checkpoint (see [[recordIvfIngestCheckpoint]]). */
  private[ext] final case class IvfMeta(segs: StoreMeta.Segments,
                                   centDir: String = "centroids",
                                   ingestCkpt: String = "")

  private def readIvfMeta(spark: org.apache.spark.sql.SparkSession,
                          path: String): IvfMeta = {
    val m = StoreMeta.read(spark, path, "meta").head()
    IvfMeta(StoreMeta.Segments.of(m),
      // pre-recentre stores have no cent_dir column — their centroid
      // table lives at the build-time default
      if (m.schema.fieldNames.contains("cent_dir"))
        m.getAs[String]("cent_dir")
      else "centroids",
      // round 20: stream-fed stores record their ingest checkpoint so a
      // recentring compaction enforces the quiesce guard AUTOMATICALLY
      if (m.schema.fieldNames.contains("ingest_ckpt"))
        m.getAs[String]("ingest_ckpt")
      else "")
  }

  private def writeIvfMeta(spark: org.apache.spark.sql.SparkSession,
                           path: String, m: IvfMeta): Unit = {
    import spark.implicits._
    StoreMeta.write(
      Seq((m.segs.live, m.segs.lastTag, m.segs.nextSeg, m.centDir,
          m.ingestCkpt))
        .toDF("segments", "last_tag", "next_seg", "cent_dir", "ingest_ckpt"),
      path, "meta")
  }

  /** Driver-side HANDLE over a stored IVF / IVF-PQ index for repeated
    * probe/append/compact cycles — the streaming-ingest shape: the
    * [[graft.ext.Dedup.MinhashIndexHandle]] discipline (round 16: manifest
    * re-reads cost `q_incr_stream` +54%) applied to the ANN stores, round
    * 21. Without it every probe/append/compact call re-reads the manifest
    * row (a listing + a 1-task Spark job), re-collects the centroid table
    * (and the PQ codebooks), and re-lists every segment's cell
    * directories — per-MICRO-BATCH fixed overhead that bounds streaming
    * ingest latency at any scale (guide §5: the driver should do almost
    * no data work; these are pure driver round-trips). Caches:
    *
    *  (a) the manifest row, kept current in memory as this handle's own
    *      appends/compactions commit — no read-back of state this writer
    *      just wrote;
    *  (b) centroid arrays per centroid DIR — dirs are immutable
    *      (recentring writes a fresh `centroids_g<gen>` and flips the
    *      pointer, so a new dir is a new cache key);
    *  (c) the PQ codebooks — immutable for the store's whole life;
    *  (d) each segment's `cell=N` directory listing
    *      ([[StoreMeta.PartitionDirs]]) — segments are immutable once
    *      committed; retired segments are dropped when this handle's own
    *      compaction retires them.
    *
    * Single writer (the store's standing contract); all mutations of this
    * store must go through the SAME handle — after an out-of-band write,
    * call [[refresh]]. Driver-only object, never ships to executors.
    * Every operation on the store past its build takes this handle. */
  final class IvfIndexHandle private[ext] (
      private[ext] val spark: org.apache.spark.sql.SparkSession,
      val path: String) {
    private[ext] var meta: IvfMeta = readIvfMeta(spark, path)
    private val centCache =
      scala.collection.mutable.HashMap.empty[String, Array[(Int, Seq[Float])]]
    private var cbCache: Option[PqCodebooks] = None
    private[ext] val cellDirs =
      new StoreMeta.PartitionDirs(spark, path, "", "cell")
    /** The manifest's live segment list (probe view; an auto-compaction
      * policy thresholds on its length). */
    def liveSegments: List[String] = meta.segs.live
    private[ext] def centroids(dir: String): Array[(Int, Seq[Float])] =
      centCache.getOrElseUpdate(dir, readCentroids(spark, path, dir))
    private[ext] def codebooks: PqCodebooks = cbCache.getOrElse {
      val cb = readCodebooks(spark, path); cbCache = Some(cb); cb
    }
    /** Commit `m` as the store's meta row and keep it as this handle's
      * manifest; the listings of segments it retires are dropped. */
    private[ext] def commit(m: IvfMeta): Unit = {
      writeIvfMeta(spark, path, m)
      cellDirs.retain(m.segs.live)
      meta = m
    }
    /** Re-read the manifest and drop every cache — required only after a
      * DIFFERENT writer mutated the store. */
    def refresh(): Unit = {
      meta = readIvfMeta(spark, path)
      centCache.clear(); cbCache = None; cellDirs.clear()
    }
  }

  /** Open a [[IvfIndexHandle]] over an existing IVF / IVF-PQ store. */
  def openIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): IvfIndexHandle =
    new IvfIndexHandle(spark, path)

  /** Record the streaming-ingest checkpoint on a stored IVF index — the
    * ingest sink calls this before its query starts, so
    * [[compactIvfIndex]]`(recentre = true)` can enforce the quiesce
    * guard WITHOUT the caller remembering to pass `quiesceCheckpoint`
    * (ADVICE r19: the opt-in guard left the crash-replay hazard
    * reachable by default on stream-fed stores). */
  def recordIvfIngestCheckpoint(h: IvfIndexHandle,
                                checkpoint: String): Unit =
    if (h.meta.ingestCkpt != checkpoint)
      h.commit(h.meta.copy(ingestCkpt = checkpoint))

  /** Append new corpus rows to an existing [[buildIvfIndex]] store: rows
    * assign against the STORED centroid table (cell structure unchanged)
    * and land as an immutable SEGMENT committed by the atomic manifest
    * flip — a crash mid-write leaves an unreferenced directory, never a
    * half-visible append. A non-empty `tag` makes the append EXACTLY-ONCE
    * (a replay whose tag equals the manifest's `last_tag` is skipped
    * whole — the streaming micro-batch contract shared with
    * [[graft.ext.Bm25.appendToIndex]] / the MinHash store; see
    * [[StoreMeta.appendSegment]]). The 100 TB
    * maintenance story: a daily ingest appends its fraction of the corpus
    * in one cell-keyed shuffle — the index is never rebuilt until
    * centroid drift warrants it (probe recall under drift is measurable:
    * run the recall gate against a brute-force sample). The handle's
    * cached manifest and centroid arrays replace per-batch re-reads. */
  def appendToIvfIndex(h: IvfIndexHandle, newRows: DataFrame,
                       corpusId: String, corpusVec: String,
                       tag: String = ""): Unit = {
    val m = h.meta
    StoreMeta.appendSegment(h.path, m.segs, tag, newRows) { segDir =>
      writeIvfSegment(newRows, corpusId, corpusVec,
        new CentArrays(h.centroids(m.centDir)), segDir)
    }.foreach { case (segs, _) => h.commit(m.copy(segs = segs)) }
  }

  /** COMPACT a segmented IVF store back to one generation: every live
    * segment's rows fold into one cell-partitioned table under a fresh
    * `seg_c<gen>` dir committed by the manifest flip (content-preserving —
    * the corpus is a row multiset). Retired dirs are swept on the NEXT
    * compaction (one-generation grace window for in-flight readers), the
    * [[graft.ext.Dedup.compactMinhashIndex]] discipline
    * ([[StoreMeta.compactionSegment]]).
    *
    * Optional RECENTRING: when `recentre` is
    * true, compaction refits the centroid table on the LIVE corpus
    * (seeded distributed k-means, [[kmeansCentroids]]) and reassigns
    * every row to the refit cells while it rewrites them — closing the
    * drift loop of a streaming-ingest index whose build-time centroids go
    * stale as the embedding distribution moves (recall at fixed nprobe
    * decays invisibly; the ExtSpec drift test measures the recovery).
    * The refit is nearly free: compaction already shuffles every live
    * row, and the k-means passes read the same scan.
    *
    * Commit discipline: the refit centroid table lands in a fresh
    * `centroids_g<gen>` dir and the manifest's `cent_dir` pointer flips
    * ATOMICALLY with the segment list (probes read centroids via the
    * manifest, so an in-flight reader sees old centroids + old segments
    * or new + new, never a mix); stale centroid dirs are swept on the
    * NEXT compaction — the same one-generation grace window as segments.
    *
    * Streaming caveat: recentring REASSIGNS rows, so a fixed-nprobe
    * probe's results (correctly) change — quiesce a streaming ingest
    * (checkpoint committed) before recentring, or a crash-replay probe
    * could see different cells than its first attempt. The ingest sinks'
    * own `autoCompactAt` stays on plain compaction, which preserves
    * assignments and is replay-exact. Round 19 makes the quiesce
    * ENFORCEABLE: pass the ingest sink's `quiesceCheckpoint` and a
    * recentring compaction REFUSES to run while the checkpoint's commit
    * log trails its offsets log (a started-but-uncommitted batch —
    * exactly the crash-replay window the caveat describes). */
  def compactIvfIndex(h: IvfIndexHandle, recentre: Boolean = false,
                      recentreIters: Int = 5,
                      recentreSeed: Long = 42L,
                      quiesceCheckpoint: Option[String] = None): Unit = {
    val spark = h.spark
    val path = h.path
    val m = h.meta
    // round 20: the guard is AUTOMATIC for stream-fed stores — the
    // ingest sink records its checkpoint in the meta, so recentring
    // enforces the quiesce even when the caller passes nothing
    val guardCkpt =
      quiesceCheckpoint.orElse(Some(m.ingestCkpt).filter(_.nonEmpty))
    if (recentre) guardCkpt.foreach { ckpt =>
      val started = newestCheckpointBatch(spark, s"$ckpt/offsets")
      val committed = newestCheckpointBatch(spark, s"$ckpt/commits")
      require(started.isEmpty || started == committed,
        s"recentre refused: checkpoint $ckpt shows batch " +
          s"${started.get} started but not committed — a crash-replay " +
          "probe against recentred cells could emit different verdicts " +
          "than its first attempt. Let the ingest quiesce (commit log " +
          "catch up) and retry.")
    }
    // stale centroid dirs share the segments' grace window
    val (newSeg, gen) = StoreMeta.compactionSegment(spark, path, m.segs,
      alsoSweep = n => n.startsWith("centroids_g") && n != m.centDir)
    val segs = m.segs.copy(live = List(newSeg))
    val liveRows = storedCells(h, None, "corpus_id", "vec", "vnorm")
    if (recentre) {
      val nlist = h.centroids(m.centDir).length
      val cents = kmeansCentroids(liveRows.select(col("vec")), "vec",
        nlist, recentreIters, recentreSeed)
      val centDir = s"centroids_g$gen"
      writeCentroids(spark, s"$path/$centDir", cents)
      writeIvfSegment(liveRows.select(col("corpus_id"), col("vec")),
        "corpus_id", "vec", new CentArrays(cents), s"$path/$newSeg")
      h.commit(m.copy(segs = segs, centDir = centDir))
    } else {
      writeCells(liveRows, s"$path/$newSeg")
      h.commit(m.copy(segs = segs))
    }
  }

  /** Newest batch id recorded in a Structured Streaming checkpoint log
    * dir (`<ckpt>/offsets` or `<ckpt>/commits`): entries are files named
    * by batch id. Hadoop-FS-listed (the checkpoint may live on HDFS/S3
    * beside the sink); a missing dir is an idle/never-started stream. */
  private def newestCheckpointBatch(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty)
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted.lastOption
  }

  /** The live rows `(cell, cols…)` across the manifest's segments of an
    * IVF or IVF-PQ store, optionally restricted to `cells` — ONE
    * unpartitioned multi-path scan over explicitly selected `cell=N`
    * directories (unmatched dirs are never listed; the cell id is read
    * from the in-file `cell_d` copy). Each committed segment's cell
    * listing comes from the handle's cache (segments are immutable — one
    * listing per segment life instead of one per probe). */
  private def storedCells(h: IvfIndexHandle, cells: Option[Seq[Int]],
                          cols: String*): DataFrame = {
    val segs = h.liveSegments
    val paths = h.cellDirs.paths(segs, cells)
    if (paths.isEmpty)
      // rare (a probe whose cells match nothing stored): an all-false
      // filter over the first segment keeps the schema without reading rows
      StoredParquet.read(h.spark, s"${h.path}/${segs.head}").filter(lit(false))
        .select(("cell" +: cols).map(col): _*)
    else
      StoredParquet.read(h.spark, paths: _*)
        .select(col("cell_d").as("cell") +: cols.map(col): _*)
  }

  // one IVF-PQ segment: codes-only cell-partitioned rows (the
  // writeIvfSegment treatment, see writeCells)
  private def writePqSegment(rows: DataFrame, corpusId: String,
                             corpusVec: String, cents: CentArrays,
                             cb: PqCodebooks, segDir: String): Unit = {
    val bcCents = rows.sparkSession.sparkContext.broadcast(cents)
    val assignUdf = udf { v: scala.collection.Seq[Float] =>
      bcCents.value.bestCell(v) }
    writeCells(
      pqEncode(rows, corpusId, corpusVec, cb)
        .withColumn("cell", assignUdf(col("__v")))
        .select(col("id").as("corpus_id"), col("codes"),
          col("__r2").as("r2"), col("cell")),
      segDir)
  }

  /** Append new corpus rows to an existing [[buildIvfPqIndex]] store:
    * assignment against the stored centroids, PQ encoding against the
    * stored codebooks — codes stay comparable with every existing row, so
    * probes over the merged store need no special casing. Round 18: the
    * PQ store joined the segment+manifest discipline of the other three
    * stored indexes — the batch lands as an immutable SEGMENT committed
    * by the atomic [[StoreMeta]] flip (a crash mid-write leaves an
    * unreferenced dir, never a half-visible append), and a non-empty
    * `tag` makes the append EXACTLY-ONCE under streaming replay. */
  def appendToIvfPqIndex(h: IvfIndexHandle, newRows: DataFrame,
                         corpusId: String, corpusVec: String,
                         tag: String = ""): Unit = {
    val m = h.meta
    StoreMeta.appendSegment(h.path, m.segs, tag, newRows) { segDir =>
      writePqSegment(newRows, corpusId, corpusVec,
        new CentArrays(h.centroids(m.centDir)), h.codebooks, segDir)
    }.foreach { case (segs, _) => h.commit(m.copy(segs = segs)) }
  }

  /** COMPACT a segmented [[buildIvfPqIndex]] store back to one
    * generation — the [[compactIvfIndex]] discipline on the codes rows
    * (content-preserving; codes never re-derived, so compaction cannot
    * drift the quantization). Orphans swept with the one-generation
    * grace window. */
  def compactIvfPqIndex(h: IvfIndexHandle): Unit = {
    val m = h.meta
    val (newSeg, _) = StoreMeta.compactionSegment(h.spark, h.path, m.segs)
    writeCells(storedCells(h, None, "corpus_id", "codes", "r2"),
      s"${h.path}/$newSeg")
    h.commit(m.copy(segs = m.segs.copy(live = List(newSeg))))
  }

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            dir: String = "centroids")
      : Array[(Int, Seq[Float])] =
    StoredParquet.read(spark, s"$path/$dir")
      .collect()
      .map(r => (r.getAs[Int]("cent_id"),
        r.getAs[scala.collection.Seq[Float]]("centroid").toSeq))
      .sortBy(_._1)

  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
                            path: String): PqCodebooks = {
    val cwRows = StoredParquet.read(spark, s"$path/codebooks")
      .collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[scala.collection.Seq[Float]]("word").toArray))
    val m = cwRows.map(_._1).max + 1
    val words = Array.tabulate(m) { s =>
      cwRows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    new PqCodebooks(m, words(0)(0).length, words)
  }

  /** Probe a [[buildIvfIndex]] index with partition pruning: the union of
    * the queries' probed cells becomes a LITERAL `cell IN (…)` predicate,
    * which Catalyst resolves against the `cell=N` directory layout at plan
    * time — unprobed cells are never listed, opened, or read. `queries`
    * must be small (its probe set is collected on the driver and the query
    * side of the join is broadcast — same contract as [[bruteForceTopK]]).
    * The handle's cached manifest, centroid arrays, and per-segment cell
    * listings are reused across calls (see [[IvfIndexHandle]]).
    *
    * ID-BASED exclusion: stored rows whose `corpus_id` is in `excludeIds`
    * (one id column, batch-bounded, broadcast anti-join) are dropped
    * before scoring — the replay reconstruction a streaming ingest's
    * probe needs (a replayed batch whose append already committed must
    * not retrieve ITSELF; store ids are unique, so excluding the batch's
    * ids restores the pre-append view from any segment layout). Vacuous
    * on a first delivery.
    */
  def ivfTopKIndexed(h: IvfIndexHandle,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int, nprobe: Int,
                     excludeIds: Option[DataFrame] = None): DataFrame = {
    val spark = h.spark
    val cents = h.centroids(h.meta.centDir)
    val bc = spark.sparkContext.broadcast(new CentArrays(cents))
    val probeUdf = udf { v: scala.collection.Seq[Float] =>
      bc.value.probe(v, nprobe)
    }
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn"))
      .withColumn("cell", explode(probeUdf(col("__qv"))))
    // driver-side: the probed-cell union must be a literal for source-level
    // pruning; bounded by nlist (tiny) regardless of query count
    val cells = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val c = excludingIds(prunedCorpusScan(h, cells.toSeq), excludeIds)
    topK(c.join(broadcast(q), Seq("cell")), k)
  }

  /** The pruned corpus scan of [[ivfTopKIndexed]], exposed so callers (and
    * tests) can inspect the plan: the probed cells select whole `cell=N`
    * directories at PATH construction across every live segment, so
    * unmatched cells are never listed, opened, or read. */
  def prunedCorpusScan(h: IvfIndexHandle, cells: Seq[Int]): DataFrame =
    storedCells(h, Some(cells), "corpus_id", "vec", "vnorm")
      .select(col("cell"), col("corpus_id"), col("vec").as("__cv"),
        col("vnorm").as("__cn"))

  /** Stored rows minus those whose `corpus_id` is in `excludeIds`' one
    * column. BOTH sides are normalized to long (the stored-index family's
    * id contract, same as minhashDedupAgainstIndex's excludeDocs): a
    * caller whose id column is typed differently from the build-time
    * corpus id (int vs long) must not silently exclude nothing — that
    * would break replay reconstruction in the streaming ingest. */
  private def excludingIds(c0: DataFrame,
                           excludeIds: Option[DataFrame]): DataFrame =
    excludeIds.map { d =>
      val ex = broadcast(
        d.select(col(d.columns.head).cast("long").as("__exid")).distinct())
      c0.join(ex, c0("corpus_id").cast("long") === ex("__exid"), "left_anti")
    }.getOrElse(c0)

  // ---------------- product quantization (IVF-PQ) ----------------

  /** Product-quantization codebooks: the d-dim space split into `m`
    * subspaces of `dsub` dims; `words(s)(j)` is codeword `j` of subspace
    * `s`. PQ is the billion-scale half of the ANN story IVF alone doesn't
    * cover: IVF prunes WHICH rows a probe scans, PQ shrinks WHAT each
    * scanned row costs — an m-byte code (plus one precomputed norm) instead
    * of the 4·d-byte vector, a 4·d/m ≈ 32× payload cut at d=64, m=8 —
    * and turns per-candidate scoring into O(m) table lookups (asymmetric
    * distance computation, Jégou et al., TPAMI 2011).
    *
    * Per-codeword squared norms are hoisted once ([[norms2]]): ADC cosine
    * denominators read them instead of re-accumulating, the same treatment
    * as [[CentArrays]].
    */
  final class PqCodebooks(val m: Int, val dsub: Int,
                          val words: Array[Array[Array[Float]]])
      extends Serializable {
    require(m > 0 && dsub > 0 && words.length == m &&
      words.forall(ws => ws.nonEmpty && ws.forall(_.length == dsub)),
      s"malformed codebooks: need m=$m non-empty subspaces of width $dsub")
    val ksub: Int = words(0).length
    require(words.forall(_.length == ksub),
      "all subspaces must have the same codeword count")

    /** |codeword|² per (subspace, code) — reconstructed-vector norm² of a
      * code vector is the sum of its per-subspace entries. */
    val norms2: Array[Array[Double]] = words.map(_.map { w =>
      var n = 0.0; var i = 0
      while (i < w.length) { n += w(i).toDouble * w(i); i += 1 }
      n
    })

    /** PQ code of `v`: per subspace the L2-nearest codeword, by DIRECT
      * Σ(x−y)² in dimension order (not the expanded −2·dot form — the
      * direct sum is what an external oracle replays term-for-term), ties →
      * smaller code index. */
    def encode(v: scala.collection.Seq[Float]): Array[Int] = {
      val va = v.toArray
      require(va.length == m * dsub,
        s"vector dim ${va.length} != m*dsub = ${m * dsub}")
      val out = new Array[Int](m)
      var s = 0
      while (s < m) {
        val base = s * dsub
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < ksub) {
          val w = words(s)(j)
          var d = 0.0; var i = 0
          while (i < dsub) {
            val diff = va(base + i).toDouble - w(i)
            d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        out(s) = best; s += 1
      }
      out
    }

    /** Reconstructed norm² of a code vector (Σ_s |words(s)(code_s)|²) —
      * query-independent, so [[pqEncode]] stores it as a column and ADC
      * scoring never touches the codebooks on the corpus side. */
    def recNorm2(codes: Array[Int]): Double = {
      var r = 0.0; var s = 0
      while (s < m) { r += norms2(s)(codes(s)); s += 1 }
      r
    }

    /** ADC lookup table of query `q`, flattened: lut(s·ksub + j) =
      * dot(q_s, words(s)(j)) — m·ksub dot products paid ONCE per query,
      * after which every candidate costs m lookups
      * ([[VectorKernels.adcGatherSum]]). */
    def lut(qv: scala.collection.Seq[Float]): Array[Double] = {
      val qa = qv.toArray
      require(qa.length == m * dsub,
        s"query dim ${qa.length} != m*dsub = ${m * dsub}")
      val out = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        val base = s * dsub
        var j = 0
        while (j < ksub) {
          val w = words(s)(j)
          var dp = 0.0; var i = 0
          while (i < dsub) { dp += qa(base + i).toDouble * w(i); i += 1 }
          out(s * ksub + j) = dp
          j += 1
        }
        s += 1
      }
      out
    }
  }

  /** Codebooks from EXPLICIT corpus member ids: codeword `j` of every
    * subspace is the sub-slice of `ids(j)`'s vector. Like
    * [[centroidsByIds]], this trades codebook quality for external
    * replayability — the oracle path; production uses
    * [[pqCodebooksKmeans]]. */
  def pqCodebooksByIds(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, ids: Seq[Long]): PqCodebooks = {
    val members = centroidsByIds(corpus, idCol, vecCol, ids)
    val d = members.head._2.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val words = Array.tabulate(m) { s =>
      members.map(_._2.slice(s * dsub, (s + 1) * dsub).toArray)
    }
    new PqCodebooks(m, dsub, words)
  }

  /** Per-subspace KMeans codebooks (distributed Spark ML Lloyd iterations,
    * one fit per subspace over the sliced sub-vectors) — the production
    * path, mirroring [[kmeansCentroids]]: codewords follow the actual
    * embedding distribution, so quantization error (and ADC ranking error)
    * stays low under skew. `m` fits over nRows × dsub inputs; the codebook
    * is m·ksub·dsub floats — always driver-tiny. */
  def pqCodebooksKmeans(corpus: DataFrame, vecCol: String, m: Int,
                        ksub: Int, maxIter: Int = 5,
                        seed: Long = 42L): PqCodebooks = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val d = corpus.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val words = Array.tabulate(m) { s =>
      val feats = corpus.select(array_to_vector(
        slice(col(vecCol), s * dsub + 1, dsub).cast("array<double>"))
        .as("features"))
      new KMeans().setK(ksub).setMaxIter(maxIter).setSeed(seed + s)
        .fit(feats).clusterCenters
        .map(_.toArray.map(_.toFloat))
    }
    new PqCodebooks(m, dsub, words)
  }

  /** (id, __v, codes, __r2) for every corpus row: the m-int PQ code plus
    * the precomputed reconstructed norm². Broadcast codebooks, map-only —
    * the PQ twin of [[assignCells]]. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               cb: PqCodebooks): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(cb)
    val enc = udf { v: scala.collection.Seq[Float] => bc.value.encode(v) }
    val r2 = udf { codes: scala.collection.Seq[Int] =>
      bc.value.recNorm2(codes.toArray) }
    corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("codes", enc(col("__v")))
      .withColumn("__r2", r2(col("codes")))
  }

  /** (id, __v = residual, cell) for every corpus row: `v − centroid(cell)`
    * after nearest-centroid assignment. The IVFADC preprocessing step
    * (Jégou et al.): residuals concentrate near 0 once cells are tight, so
    * the same codebook budget quantizes them with far less error than raw
    * vectors — fit [[pqCodebooksKmeans]] (or draw [[pqCodebooksByIds]])
    * on THIS frame for the residual path. Subtraction is per-dimension in
    * index order — externally replayable. */
  def pqResiduals(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[(Int, Seq[Float])]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(new CentArrays(centroids))
    val resUdf = udf { v: scala.collection.Seq[Float] =>
      val cell = bc.value.bestCell(v)
      val cv = bc.value.vecOfId(cell)
      val out = new Array[Float](v.length)
      var i = 0
      while (i < out.length) { out(i) = v(i) - cv(i); i += 1 }
      (cell, out)
    }
    corpus.select(col(idCol).as("id"), col(vecCol).as("__fv"))
      .withColumn("__rc", resUdf(col("__fv")))
      .select(col("id"), col("__rc._2").as("__v"), col("__rc._1").as("cell"))
  }

  /** Residual-encoded IVF-PQ top-k (IVFADC proper): corpus rows carry
    * codes of `v − centroid(cell)` under `cb` (fit on [[pqResiduals]]
    * output); a candidate's reconstruction is `centroid + decode(codes)`,
    * so ADC cosine = `(dot(q, centroid) + Σ_s lut[s·ksub+code_s]) /
    * (|q| · √|centroid + decode(codes)|²)` — the per-(query, probed-cell)
    * centroid dot is nprobe extra dots per query, the per-candidate cost
    * stays O(m) lookups, and the reconstructed norm² is precomputed at
    * encode. Same contract as [[ivfPqTopK]]; on clustered corpora the
    * residual codes rank markedly closer to exact cosine (test-gated in
    * ExtSpec). */
  def ivfPqResidualTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                        queries: DataFrame, queryId: String, queryVec: String,
                        k: Int, centroids: Array[(Int, Seq[Float])],
                        cb: PqCodebooks, nprobe: Int,
                        rerank: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val bcCents = spark.sparkContext.broadcast(new CentArrays(centroids))
    val bcCb = spark.sparkContext.broadcast(cb)
    val probeUdf = udf { v: scala.collection.Seq[Float] =>
      bcCents.value.probe(v, nprobe) }
    val lutUdf = udf { v: scala.collection.Seq[Float] => bcCb.value.lut(v) }
    // full-vector query ⋅ centroid, per probed cell (nprobe per query)
    val qcUdf = udf { (v: scala.collection.Seq[Float], cell: Int) =>
      val cv = bcCents.value.vecOfId(cell)
      var dp = 0.0; var i = 0
      while (i < cv.length) { dp += v(i).toDouble * cv(i); i += 1 }
      dp
    }
    // encode residual, precompute |centroid + decode(codes)|² in dim order
    val encUdf = udf { (res: scala.collection.Seq[Float], cell: Int) =>
      val codes = bcCb.value.encode(res)
      val cv = bcCents.value.vecOfId(cell)
      var r2 = 0.0; var s = 0
      while (s < bcCb.value.m) {
        val w = bcCb.value.words(s)(codes(s))
        var i = 0
        while (i < w.length) {
          val x = cv(s * bcCb.value.dsub + i).toDouble + w(i)
          r2 += x * x; i += 1
        }
        s += 1
      }
      (codes, r2)
    }
    val c = pqResiduals(corpus, corpusId, corpusVec, centroids)
      .withColumn("__cr", encUdf(col("__v"), col("cell")))
      // codes-only candidate stream; rerank vectors join the survivors
      // inside pqRank, never the candidate join
      .select(col("id").as("corpus_id"), col("cell"),
        col("__cr._1").as("codes"), col("__cr._2").as("__r2"))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn"))
      .withColumn("__lut", lutUdf(col("__qv")))
      .withColumn("cell", explode(probeUdf(col("__qv"))))
      .withColumn("__qc", qcUdf(col("__qv"), col("cell"))))
    val den = col("__qn") * sqrt(col("__r2"))
    val scored = c.join(q, Seq("cell"))
      .withColumn("__adc",
        when(den > 0,
          (col("__qc") +
            VectorKernels.adcGatherSum(col("__lut"), col("codes"), cb.ksub)) / den)
          .otherwise(lit(0.0)))
    pqRank(scored, k, rerank, Some(
      corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("__cv"))))
  }

  /** IVF-PQ top-k: IVF cell pruning (queries probe `nprobe` cells) with
    * PQ-compressed candidate scoring — approximate cosine
    * `Σ_s lut[s·ksub+code_s] / (|q| · √(Σ_s |word|²))` via the codegen'd
    * gather-sum kernel, so a candidate costs O(m) lookups and the join
    * carries codes, never corpus vectors. `rerank > 0` adds the standard
    * two-stage refinement: the top `rerank` ADC candidates per query are
    * re-scored with exact cosine against the full vectors (one join back by
    * id) and the final top-k ranked exactly — at 100 TB the exact pass
    * touches `rerank · nq` rows instead of the corpus.
    *
    * Output: (query_id, corpus_id, score, rank); `score` is the ADC
    * approximation when `rerank == 0`, exact cosine otherwise.
    */
  def ivfPqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                queries: DataFrame, queryId: String, queryVec: String,
                k: Int, centroids: Array[(Int, Seq[Float])],
                cb: PqCodebooks, nprobe: Int, rerank: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val bcCents = spark.sparkContext.broadcast(new CentArrays(centroids))
    val bcCb = spark.sparkContext.broadcast(cb)
    val assignUdf = udf { v: scala.collection.Seq[Float] =>
      bcCents.value.bestCell(v) }
    val probeUdf = udf { v: scala.collection.Seq[Float] =>
      bcCents.value.probe(v, nprobe) }
    val lutUdf = udf { v: scala.collection.Seq[Float] => bcCb.value.lut(v) }

    val c = pqEncode(corpus, corpusId, corpusVec, cb)
      .withColumn("cell", assignUdf(col("__v")))
      // the candidate join carries (id, codes, r2, cell) ONLY — with
      // rerank the vectors join the top-rerank SURVIVORS afterwards
      .drop("__v")
      .withColumnRenamed("id", "corpus_id")
    val q = broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn"))
      .withColumn("__lut", lutUdf(col("__qv")))
      .withColumn("cell", explode(probeUdf(col("__qv")))))
    val den = col("__qn") * sqrt(col("__r2"))
    val scored = c.join(q, Seq("cell"))
      .withColumn("__adc",
        when(den > 0,
          VectorKernels.adcGatherSum(col("__lut"), col("codes"), cb.ksub) / den)
          .otherwise(lit(0.0)))
    pqRank(scored, k, rerank, Some(
      corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("__cv"))))
  }

  /** Shared ranking tail of the IVF-PQ family: top-k by ADC score, or —
    * with `rerank > 0` — exact-cosine re-scoring of the top-`rerank` ADC
    * pool per query. `scored` carries (query_id, corpus_id, __adc, __qn,
    * __qv); `vectors` maps corpus_id → __cv and is joined onto the
    * rerank·nq SURVIVORS only, never the candidate stream — at 100 TB the
    * exact pass touches rerank·nq vector rows while candidates stay
    * m-int codes. One copy of the tie-break / rounding / zero-denominator
    * conventions for all three entry points. */
  private def pqRank(scored: DataFrame, k: Int, rerank: Int,
                     vectors: Option[DataFrame]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col("corpus_id").asc)
    if (rerank <= 0) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("corpus_id"),
          round(col("__adc"), 6).as("score"), col("rank"))
    } else {
      require(rerank >= k, s"rerank=$rerank must be >= k=$k")
      val cand = scored.withColumn("__arank", row_number().over(w))
        .filter(col("__arank") <= rerank)
        .join(vectors.getOrElse(throw new IllegalArgumentException(
          "rerank needs the corpus vectors")), Seq("corpus_id"))
      val exact = cand.withColumn("__cos",
        when(col("__qn") * norm(col("__cv")) > 0,
          dot(col("__qv"), col("__cv")) / (col("__qn") * norm(col("__cv"))))
          .otherwise(lit(0.0)))
      val we = Window.partitionBy(col("query_id"))
        .orderBy(col("__cos").desc, col("corpus_id").asc)
      exact.withColumn("rank", row_number().over(we))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("corpus_id"),
          round(col("__cos"), 6).as("score"), col("rank"))
    }
  }

  /** Build an ON-DISK IVF-PQ index: codes-only corpus rows written
    * partitioned by cell (`<path>/corpus/cell=N/…` with columns
    * (corpus_id, codes, r2) — m ints + a double per row, NO vectors),
    * centroids at `<path>/centroids`, codebooks flattened to
    * (sub, code, word) rows at `<path>/codebooks`. Combines both 100 TB
    * levers: a probe (a) prunes unprobed cell DIRECTORIES at the source
    * and (b) scans m-int codes instead of d-float vectors in the cells it
    * does touch. */
  def buildIvfPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
                      centroids: Array[(Int, Seq[Float])], cb: PqCodebooks,
                      path: String): Unit = {
    val spark = corpus.sparkSession
    writePqSegment(corpus, corpusId, corpusVec, new CentArrays(centroids),
      cb, s"$path/seg_base")
    writeCentroids(spark, s"$path/centroids", centroids)
    import spark.implicits._
    (for (s <- 0 until cb.m; j <- 0 until cb.ksub)
      yield (s, j, cb.words(s)(j).toSeq))
      .toDF("sub", "code", "word")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    // the manifest commits LAST — same build discipline as buildIvfIndex
    writeIvfMeta(spark, path, IvfMeta(StoreMeta.Segments.Base))
  }

  /** Probe a [[buildIvfPqIndex]] index: partition-pruned codes-only scan +
    * ADC scoring. Same driver-side literal-cell contract, handle caches
    * (plus the codebooks) and ID-BASED `excludeIds` replay exclusion as
    * [[ivfTopKIndexed]]; the scan reads (corpus_id, codes, r2) from the
    * probed `cell=N` directories only. */
  def ivfPqTopKIndexed(h: IvfIndexHandle,
                       queries: DataFrame, queryId: String, queryVec: String,
                       k: Int, nprobe: Int,
                       excludeIds: Option[DataFrame] = None): DataFrame = {
    val spark = h.spark
    val m = h.meta
    val cents = h.centroids(m.centDir)
    val cb = h.codebooks
    val bcCents = spark.sparkContext.broadcast(new CentArrays(cents))
    val bcCb = spark.sparkContext.broadcast(cb)
    val probeUdf = udf { v: scala.collection.Seq[Float] =>
      bcCents.value.probe(v, nprobe) }
    val lutUdf = udf { v: scala.collection.Seq[Float] => bcCb.value.lut(v) }
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn"))
      .withColumn("__lut", lutUdf(col("__qv")))
      .withColumn("cell", explode(probeUdf(col("__qv"))))
    val cells = q.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val c = excludingIds(
      storedCells(h, Some(cells.toSeq), "corpus_id", "codes", "r2"),
      excludeIds)
    val den = col("__qn") * sqrt(col("r2"))
    val scored = c.join(broadcast(q.drop("__qv")), Seq("cell"))
      .withColumn("__adc",
        when(den > 0,
          VectorKernels.adcGatherSum(col("__lut"), col("codes"), cb.ksub) / den)
          .otherwise(lit(0.0)))
    pqRank(scored, k, rerank = 0, vectors = None)
  }
}
