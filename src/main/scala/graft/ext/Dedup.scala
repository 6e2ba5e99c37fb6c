package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps

/** Deduplication operators for training-data pipelines, designed
  * shuffle-minimal for 100 TB:
  *
  *  - exact: one hash-aggregate over a 16-byte digest (not the full text) —
  *    the shuffle moves digests + ids, not documents.
  *  - MinHash+LSH: signatures are computed *row-locally* (no explode-join of
  *    shingles across the cluster); only the (band, bucket) keys shuffle —
  *    64 longs per doc regardless of document size.
  *  - SimHash: row-local 64-bit sketch; near-dup = small hamming distance
  *    within LSH buckets of bit-blocks.
  *  - n-gram Jaccard: exact verification restricted to LSH candidate pairs
  *    (never all-pairs).
  */
object Dedup {

  /** Ceiling on the probe-key literals [[minhashDedupAgainstIndex]] will
    * push into the stored-key parquet scan (16 keys/doc → a ≤ 16-doc
    * micro-batch, the trickle-ingest shape). Beyond it the probe falls
    * back to the broadcast semi-join; results are identical either way.
    * Bounded at 256 because parquet-mr's pushed In is a RECURSIVE
    * or(or(...)) tree — thousands of literals overflow the evaluator's
    * stack (observed at ~8k), and Spark's own default threshold (10)
    * exists for that reason. */
  val MaxPushedProbeKeys: Int = 256

  // ---------- exact ----------

  /** Exact dedup: keep the minimum-id row per distinct normalized text.
    * GroupBy on md5 digest: map-side partial agg + one shuffle of
    * (digest, id) pairs.
    */
  def exactDuplicateGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated dataset itself: the min-id representative per text,
    * `df`'s columns in their order. A left-semi join on the
    * [[exactDuplicateGroups]] keep ids: the dedup decision shuffles
    * digests and ids, never documents. `idCol` must be unique and non-null. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(exactDuplicateGroups(df, textCol, idCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  // ---------- shingling ----------

  /** The dedup tokenizer: lower-cased letter/digit runs, empties dropped —
    * the one word split every shingle, signature and sketch here reads. */
  private def wordsOf(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), w => length(w) > 0)

  /** Word n-gram shingles as a deduped array — pure built-ins, row-local:
    * split → slide via sequence+transform → distinct.
    */
  def wordShingles(text: Column, n: Int): Column = {
    // let-bind the split through Corpus.bindArray: a lambda body inlines
    // outer EXPRESSIONS, so referencing the split directly would re-tokenize
    // the document once per shingle position (O(words²) per doc)
    array_distinct(Corpus.bindArray(wordsOf(text)) { words =>
      val count = size(words)
      when(count >= n,
        transform(sequence(lit(0), count - n),
          i => concat_ws(" ", slice(words, i + 1, lit(n)))))
        .otherwise(when(count > 0, array(concat_ws(" ", words))).otherwise(array()))
    })
  }

  // ---------- MinHash ----------

  private[graft] def hash64(seed: Int, s: String): Long = {
    // xxhash-free deterministic 64-bit mix (avalanche over FNV), pure JVM —
    // stable across Spark versions, row-local.
    var h = 1469598103934665603L ^ (seed * 0x9E3779B97F4A7C15L)
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 1099511628211L; i += 1 }
    h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
    h
  }

  /** MinHash signature (numPerms longs) straight from the WORD array —
    * row-local Scala UDF. No shingle strings are ever built: each word is
    * hashed to 64 bits once, an n-gram shingle hash is an order-sensitive
    * mix of n consecutive word hashes, and the numPerms "permutations" are
    * affine maps `a_p*h + b_p` (odd multipliers ⇒ bijections mod 2^64).
    * Shingle de-duplication is skipped on purpose: the min over a multiset
    * equals the min over its set. This removes the dominant cost of the
    * earlier form (building + hashing O(total chars) shingle strings per
    * doc, ~4.7 s for 5k docs at sf0.1 → string-free integer mixing).
    */
  /** The deterministic per-permutation affine coefficients of
    * [[minhashSignatureUdf]], exposed so the DuckDB oracle can replay the
    * exact signature arithmetic with the same constants (embedded as
    * HUGEINT literals in the generated SQL). */
  def minhashCoefficients(numPerms: Int): (Array[Long], Array[Long]) =
    (Array.tabulate(numPerms)(p => hash64(p, "minhash-a") | 1L),
     Array.tabulate(numPerms)(p => hash64(p, "minhash-b")))

  def minhashSignatureUdf(numPerms: Int, shingleN: Int) = {
    // deterministic per-permutation affine coefficients (odd a)
    val (as, bs) = minhashCoefficients(numPerms)
    udf { words: scala.collection.Seq[String] =>
      val out = Array.fill(numPerms)(Long.MaxValue)
      if (words != null && words.nonEmpty) {
        val wh = new Array[Long](words.length)
        var i = 0
        while (i < wh.length) { wh(i) = hash64(0, words(i)); i += 1 }
        val nGrams = wh.length - shingleN + 1
        def emit(h0: Long): Unit = {
          var p = 0
          while (p < numPerms) {
            val v = as(p) * h0 + bs(p)
            if (v < out(p)) out(p) = v
            p += 1
          }
        }
        if (nGrams <= 0) {
          // short doc: one shingle of all words (mirrors wordShingles)
          var h = -3750763034362895579L
          var j = 0
          while (j < wh.length) { h = (h * 1099511628211L) ^ wh(j); j += 1 }
          emit(h)
        } else {
          var g = 0
          while (g < nGrams) {
            var h = -3750763034362895579L
            var j = g
            while (j < g + shingleN) { h = (h * 1099511628211L) ^ wh(j); j += 1 }
            emit(h)
            g += 1
          }
        }
      }
      out
    }
  }

  /** LSH band keys: signature → numBands hashes of rowsPerBand-slices.
    * Docs sharing any band key are candidate near-duplicates.
    */
  def bandKeysUdf(numBands: Int, rowsPerBand: Int) = udf { sig: scala.collection.Seq[Long] =>
    Array.tabulate(numBands) { b =>
      var h = 1469598103934665603L ^ b
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, sig.length)
      while (i < end) { h = (h ^ sig(i)) * 1099511628211L; i += 1 }
      h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33)
      (h & 0x7FFFFFFFFFFFFFFFL) | (b.toLong << 56) // band id folded in
    }
  }

  /** Candidate near-duplicate pairs via MinHash LSH.
    * Pipeline: row-local (shingles → signature → band keys) → explode band
    * keys (numBands rows/doc of fixed width) → self-join within buckets →
    * distinct pairs. The only shuffle is on the band-key groupBy; skewed
    * mega-buckets (boilerplate docs) above `maxBucket` demote to min-id
    * REPRESENTATIVE pairing instead of the all-pairs join — linear cost,
    * nothing silently dropped (see [[bucketSelfJoinPairs]]); the residual
    * non-representative pairs are measurable via
    * [[bucketOverflowReport]].
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, numPerms: Int = 64,
                        numBands: Int = 16, maxBucket: Int = 1000): DataFrame =
    bucketSelfJoinPairs(
      minhashBandKeys(df, textCol, idCol, shingleN, numPerms, numBands),
      "band_key", maxBucket)

  /** (doc_id, band_key) rows — the frame the candidate self-join buckets
    * on, exposed for skew diagnostics ([[bucketOverflowReport]]). */
  def minhashBandKeys(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, numPerms: Int = 64,
                      numBands: Int = 16): DataFrame = {
    val rowsPerBand = numPerms / numBands
    df.select(
        col(idCol).as("doc_id"),
        minhashSignatureUdf(numPerms, shingleN)(wordsOf(col(textCol)))
          .as("sig"))
      .withColumn("band_key", explode(bandKeysUdf(numBands, rowsPerBand)(col("sig"))))
      .select(col("doc_id"), col("band_key"))
  }

  /** What the `maxBucket` skew cap DEMOTES to representative-only pairing
    * for a given banded-keys frame — the deterministic recall trade-off
    * surfaced as a measurable report instead of silent semantics. One
    * aggregation over (key) counts: (n_overflow_buckets, rows_in_overflow,
    * max_bucket_size). Run it on [[minhashBandKeys]] (or any (id, key)
    * frame) before picking `maxBucket` for a new corpus;
    * rows_in_overflow / total rows is the fraction of band-memberships that
    * fall back from all-pairs to min-id-representative pairing
    * ([[bucketSelfJoinPairs]]). Keyed by `leaf` over [[semanticDedup]]
    * output, 0 overflow certifies the recursive split left no degenerate
    * leaves.
    */
  def bucketOverflowReport(keyed: DataFrame, key: String,
                           maxBucket: Int): DataFrame =
    keyed.groupBy(col(key)).agg(count(lit(1)).as("__bn"))
      .agg(
        sum(when(col("__bn") > maxBucket, 1L).otherwise(0L)).as("n_overflow_buckets"),
        coalesce(sum(when(col("__bn") > maxBucket, col("__bn"))), lit(0L))
          .as("rows_in_overflow"),
        max(col("__bn")).as("max_bucket_size"))

  /** Candidate pairs via a *streamed* self-join within buckets — the
    * scale-correct shape. A collect_list + in-row pair expansion (the round-1
    * form) materializes O(bucket²) structs inside ONE row, which stalls a
    * single task and thrashes GC exactly when a bucket is big; a self-join
    * on the bucket key shuffles each side once and streams the pair
    * expansion through the join operator (AQE skew-split applies).
    *
    * Buckets larger than `maxBucket` are boilerplate-driven skew. They no
    * longer drop silently: each overflow bucket contributes REPRESENTATIVE
    * candidate pairs — its min-id member against every other member,
    * O(bucket) pairs instead of O(bucket²). Mega-buckets are near-identical
    * boilerplate almost by construction (that is what collides 1000+ docs
    * into one LSH bucket), so pairing through the representative recovers
    * the bulk of the lost candidates at linear cost; candidates are always
    * verified downstream (Jaccard / cosine / hamming), so the extra pairs
    * can only improve recall, never precision.
    */
  private def bucketSelfJoinPairs(keyed: DataFrame, key: String,
                                  maxBucket: Int): DataFrame = {
    val counted = bucketAnnotate(keyed, key)
    val pruned = counted
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .drop("__bn", "__rep")
    val allPairs = pruned.select(col(key), col("doc_id").as("id_a"))
      .join(pruned.select(col(key), col("doc_id").as("id_b")), key)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val repPairs = counted.filter(col("__bn") > maxBucket)
      .filter(col("doc_id") > col("__rep"))
      .select(col("__rep").as("id_a"), col("doc_id").as("id_b"))
    allPairs.union(repPairs).distinct()
  }

  /** Skew annotation as *window aggregates partitioned by the bucket key*:
    * one bucket-key shuffle annotates each row with its bucket size and the
    * bucket's min doc_id (parallel — partitioned, never global). Crucially
    * this keeps the two sides of the downstream self-join byte-identical
    * plans, so Spark's ReusedExchange computes the (expensive) upstream
    * signature UDF once, not once per side — the groupBy-join form of this
    * guard broke that reuse; the overflow branch reuses the same exchange.
    */
  private def bucketAnnotate(keyed: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // UNORDERED window: count + min need no per-bucket sort (an orderBy
    // here would sort exactly the mega-buckets the guard exists for)
    val w = Window.partitionBy(col(key))
    keyed
      .withColumn("__bn", count(lit(1)).over(w))
      .withColumn("__rep", min(col("doc_id")).over(w))
  }

  /** Distinct hashed n-gram shingles as a long array — row-local UDF using
    * the SAME word-hash + FNV-chain mix as `minhashSignatureUdf`, so no
    * shingle strings are ever materialized (the string form re-concatenates
    * O(total chars) per doc; hashing mixes n longs per gram). Jaccard over
    * hashed shingles equals Jaccard over string shingles absent a 64-bit
    * collision inside one doc pair (probability ≈ k²/2⁶⁴ for k grams —
    * ~1e-12 at 10⁴ grams/doc, negligible next to the oracle's own float
    * rounding).
    */
  def hashedShinglesUdf(shingleN: Int) = udf { words: scala.collection.Seq[String] =>
    if (words == null || words.isEmpty) Array.empty[Long]
    else {
      val wh = new Array[Long](words.length)
      var i = 0
      while (i < wh.length) { wh(i) = hash64(0, words(i)); i += 1 }
      val nGrams = wh.length - shingleN + 1
      val out =
        if (nGrams <= 0) {
          var h = -3750763034362895579L
          var j = 0
          while (j < wh.length) { h = (h * 1099511628211L) ^ wh(j); j += 1 }
          Array(h)
        } else {
          val a = new Array[Long](nGrams)
          var g = 0
          while (g < nGrams) {
            var h = -3750763034362895579L
            var j = g
            while (j < g + shingleN) { h = (h * 1099511628211L) ^ wh(j); j += 1 }
            a(g) = h
            g += 1
          }
          a
        }
      out.distinct
    }
  }

  /** Exact n-gram Jaccard for candidate pairs: join shingle sets back and
    * compute |∩|/|∪| with built-ins. `candidates` has (id_a, id_b).
    * The shingle side is semi-join-pruned to ids appearing in the candidate
    * set before shingling, so the (expensive) shingling runs only on
    * documents that can matter — at 100 TB the candidate id set is tiny
    * relative to the corpus and broadcasts. Shingles are hashed longs (see
    * `hashedShinglesUdf`), so the pair join carries and intersects fixed-
    * width integers, not text.
    */
  def jaccardVerify(df: DataFrame, textCol: String, idCol: String,
                    candidates: DataFrame, shingleN: Int = 3,
                    threshold: Double = 0.8): DataFrame = {
    val candIds = candidates.select(col("id_a").as("jid"))
      .union(candidates.select(col("id_b").as("jid"))).distinct()
    val sh = df.join(broadcast(candIds), col(idCol) === col("jid"), "left_semi")
      .select(col(idCol).as("jid"),
        hashedShinglesUdf(shingleN)(wordsOf(col(textCol))).as("sh"))
    verifyShingledPairs(sh, candidates, threshold)
  }

  /** Exact-Jaccard verification over a PRE-SHINGLED `(jid, sh)` frame —
    * the tail [[jaccardVerify]] and the stored-index path share. */
  private def verifyShingledPairs(sh: DataFrame, candidates: DataFrame,
                                  threshold: Double): DataFrame =
    candidates
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", when(col("uni") > 0,
        col("inter").cast("double") / col("uni")).otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Full MinHash near-dup pipeline: candidates → exact-Jaccard verify. */
  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            shingleN: Int = 3, numPerms: Int = 64,
                            numBands: Int = 16, threshold: Double = 0.8): DataFrame =
    jaccardVerify(df, textCol, idCol,
      minhashCandidates(df, textCol, idCol, shingleN, numPerms, numBands),
      shingleN, threshold)

  // ---------- incremental MinHash index ----------

  /** Build a STORED MinHash index at `path` — the "dedup each new crawl
    * against the accumulated corpus without recomputing the corpus"
    * workflow (the [[graft.ext.Similarity.buildIvfIndex]] treatment applied
    * to text dedup). Layout:
    *
    *  - `path/meta_mK` ([[StoreMeta]]-committed) — one row (shingle_n,
    *    num_perms, num_bands, …,
    *    segments, last_tag): queries and appends read parameters from the
    *    store, so a probe can never silently hash with different
    *    constants than the index; `segments` is the MANIFEST — the list
    *    of committed segment dirs, flipped atomically on every append.
    *  - `path/&lt;seg&gt;/keys` — (doc_id, band_key): the banded LSH keys, 16
    *    longs per doc; the only thing a probe joins at candidate time.
    *  - `path/&lt;seg&gt;/shingles` — (jid, sh): each doc's distinct hashed
    *    shingles, 8 bytes/gram — what exact-Jaccard verification of an
    *    old↔new candidate needs without re-reading old TEXT. The verify
    *    scan is candidate-semi-joined and columnar; storing it is the
    *    price of keeping verification exact, and it is still ≈ an order
    *    smaller than the documents.
    *
    * Ids must be globally unique across the index and every future batch
    * (the ingest norm — ids assigned on arrival). */
  def buildMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, numPerms: Int = 64,
                        numBands: Int = 16, numKeyBuckets: Int = 64): Unit = {
    require(numKeyBuckets >= 1,
      s"numKeyBuckets must be >= 1, got $numKeyBuckets")
    writeMinhashRows(df, textCol, idCol, shingleN, numPerms, numBands,
      numKeyBuckets, s"$path/seg_base")
    writeMinhashMeta(spark, path, MinhashMeta(shingleN, numPerms, numBands,
      numKeyBuckets, StoreMeta.Segments.Base))
  }

  /** Append a new batch to an existing [[buildMinhashIndex]] store as a
    * SEGMENT committed by the meta manifest flip (the
    * [[graft.ext.Bm25.appendToIndex]] LSM discipline): keys and shingles
    * hash with the STORED parameters so appended rows stay comparable
    * with every existing row (append == rebuild is test-asserted), the
    * segment lands whole under a fresh directory, and the meta row —
    * written LAST — is the batch's atomic commit: a probe racing an
    * append sees the whole old index or the whole new one. With a
    * non-empty `tag` the append is EXACTLY-ONCE: a replayed batch whose
    * effects landed (streaming restart) is detected by `tag == last_tag`
    * and skipped whole; a crashed attempt's segment dir is invisible
    * (unreferenced) and the retry overwrites it (the segment protocol,
    * [[StoreMeta.appendSegment]]). Duplicate segment rows
    * would CORRUPT exact-Jaccard verification (shingle multisets joined
    * twice), which is why ingest idempotence is structural here, not
    * best-effort. Single writer. Typically called after
    * [[minhashDedupAgainstIndex]] has emitted the batch's verdicts. The
    * handle's in-memory manifest is then the post-commit state, so the
    * next probe through the same handle pays zero meta jobs. */
  def appendToMinhashIndex(h: MinhashIndexHandle, newDocs: DataFrame,
                           textCol: String, idCol: String,
                           tag: String = ""): Unit = {
    val m = h.meta
    StoreMeta.appendSegment(h.path, m.segs, tag, newDocs) { segDir =>
      writeMinhashRows(newDocs, textCol, idCol, m.shingleN, m.numPerms,
        m.numBands, m.numKeyBuckets, segDir)
    }.foreach { case (segs, _) => h.commit(m.copy(segs = segs)) }
  }

  /** COMPACT a segmented [[buildMinhashIndex]] store back to one segment —
    * the maintenance path after long-running ingest (thousands of
    * micro-batch segments each a sliver of the key space): every
    * committed segment's keys fold into one bucket-partitioned,
    * band_key-sorted table (restoring one-file-per-bucket min/max
    * skipping) and the shingles into one table, under a FRESH segment dir
    * committed by the manifest flip. Probe-identical by construction —
    * both tables are plain row multisets and the fold is a union
    * (test-pinned). `last_tag` survives compaction, so a replayed tagged
    * append is still detected afterward. Unreferenced segment dirs
    * (crashed-append debris, and prior compactions' inputs left for
    * in-flight readers) are swept at the START of the next compaction —
    * the [[graft.ext.Bm25.compactIndex]] grace-window discipline. Single
    * writer; quiesce streaming ingest around it (a probe holding the old
    * manifest keeps reading the old segments, which survive until the
    * NEXT compaction's sweep). */
  def compactMinhashIndex(h: MinhashIndexHandle): Unit = {
    val path = h.path
    val m = h.meta
    val (newSeg, _) = StoreMeta.compactionSegment(h.spark, path, m.segs)
    // independent folds into the same uncommitted dir — concurrent jobs
    // (the writeMinhashRows treatment): compaction wall is
    // max(keys, shingles), not their sum
    ColumnOps.concurrently(
      () => minhashIndexKeys(h)
        .repartition(m.numKeyBuckets, col("bucket"))
        .sortWithinPartitions(col("band_key"), col("doc_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/$newSeg/keys"),
      () => minhashIndexShingles(h)
        .write.mode("overwrite").parquet(s"$path/$newSeg/shingles"))
    // last_tag and the segment counter survive compaction
    h.commit(m.copy(segs = m.segs.copy(live = List(newSeg))))
  }

  /** The store's hashing parameters and its segment manifest. */
  private[ext] final case class MinhashMeta(shingleN: Int, numPerms: Int,
                                       numBands: Int, numKeyBuckets: Int,
                                       segs: StoreMeta.Segments)

  private def readMinhashMeta(spark: org.apache.spark.sql.SparkSession,
                              path: String): MinhashMeta = {
    val m = StoreMeta.read(spark, path, "meta").head()
    MinhashMeta(m.getAs[Int]("shingle_n"), m.getAs[Int]("num_perms"),
      m.getAs[Int]("num_bands"), m.getAs[Int]("num_key_buckets"),
      StoreMeta.Segments.of(m))
  }

  /** Driver-side HANDLE over a [[buildMinhashIndex]] store for repeated
    * probe/append cycles — the streaming-ingest shape, where re-reading
    * the manifest row and re-listing every segment directory on EVERY
    * micro-batch is pure fixed overhead (it cost `q_incr_stream` +54% in
    * r16). The handle caches (a) the manifest row, kept current in
    * memory as the handle's own appends/compactions commit — no
    * read-back of state this writer just wrote — and (b) each segment's
    * key/shingle DataFrames: segments are IMMUTABLE once committed, so a
    * cached scan (and its file listing) stays valid for the segment's
    * whole life; retired segments simply stop being referenced.
    *
    * Single writer (the store's standing contract), and all mutations of
    * this store must go through the SAME handle; after an out-of-band
    * write, call [[MinhashIndexHandle.refresh]]. Driver-only object —
    * never ships to executors. */
  final class MinhashIndexHandle private[ext] (
      private[ext] val spark: org.apache.spark.sql.SparkSession,
      val path: String) {
    private[ext] var meta: MinhashMeta = readMinhashMeta(spark, path)
    // keyed by a live-segment list, which every commit replaces
    private[ext] val shingleDfs =
      scala.collection.mutable.HashMap.empty[Seq[String], DataFrame]
    /** The manifest's live segment list — what probes read and an
      * auto-compaction policy thresholds on. */
    def liveSegments: List[String] = meta.segs.live
    /** Commit `m` as the store's meta row and keep it as this handle's
      * manifest; the caches of segments it retires are dropped. */
    private[ext] def commit(m: MinhashMeta): Unit = {
      writeMinhashMeta(spark, path, m)
      keyDirs.retain(m.segs.live)
      liveSegments.diff(m.segs.live).foreach(segFileCounts.remove)
      shingleDfs.clear()
      meta = m
    }
    /** Re-read the manifest and drop cached segment scans — required only
      * after a DIFFERENT writer mutated the store. */
    def refresh(): Unit = {
      meta = readMinhashMeta(spark, path)
      keyDirs.clear(); segFileCounts.clear(); shingleDfs.clear()
    }
    // cached per-segment parquet FILE counts (same immutability argument
    // as the bucket listings): what a file-count auto-compaction policy
    // thresholds on. Segment counts drive probe cost more faithfully
    // than segment COUNT — 100 one-row appends are 100 segments but
    // ~hundreds of tiny files, and per-file open cost is what makes the
    // pre-compaction probe slope (the r17 maint decades measured it).
    private[ext] val segFileCounts =
      scala.collection.mutable.HashMap.empty[String, Long]
    private[ext] def filesOf(seg: String): Long =
      segFileCounts.getOrElseUpdate(seg, {
        val p = new org.apache.hadoop.fs.Path(s"$path/$seg")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) 0L
        else {
          val it = fs.listFiles(p, true)
          var n = 0L
          while (it.hasNext) {
            if (it.next().getPath.getName.endsWith(".parquet")) n += 1L
          }
          n
        }
      })
    /** Live parquet data files across the manifest's segments — each
      * segment listed ONCE per handle life (immutable once committed),
      * so an ingest loop pays one tiny-dir listing per append, not a
      * store re-walk per batch. */
    def liveFileCount: Long = liveSegments.map(filesOf).sum
    // cached per-segment bucket-directory listings: the bucket-pruned
    // multi-path reads below select directories from it instead of
    // re-listing the store per probe
    private[ext] val keyDirs =
      new StoreMeta.PartitionDirs(spark, path, "/keys", "bucket")
    // ALL live segments' keys as ONE multi-path FileSourceScan — one
    // listing, files read in parallel — instead of an N-way union of
    // per-segment scans, whose per-segment fixed cost (listing + scan
    // planning) made 100-segment probes and compactions linear in APPEND
    // COUNT, not live bytes. Bucket pruning happens at PATH-construction
    // time (the touched bucket set is known driver-side), which is
    // strictly stronger than partition pruning: unmatched directories are
    // never even listed. The bucket column is recomputed from band_key
    // (bit-identical: it was derived as pmod(band_key, B) at write time).
    private[ext] def prunedKeys(segs: Seq[String],
                                buckets: Option[Seq[Int]]): DataFrame = {
      val paths = keyDirs.paths(segs, buckets)
      if (paths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          minhashKeysSchema)
      else
        spark.read.schema(minhashKeysFileSchema).parquet(paths: _*)
          .withColumn("bucket",
            keyBucket(col("band_key"), meta.numKeyBuckets))
    }
    private[ext] def shinglesOfAll(segs: Seq[String]): DataFrame =
      // shingle files sit directly under each seg root (no partition
      // layers), so the plain multi-path read is legal
      shingleDfs.getOrElseUpdate(segs,
        spark.read.schema(minhashShinglesSchema)
          .parquet(segs.map(s => s"$path/$s/shingles"): _*))
  }

  /** Open a handle on an existing [[buildMinhashIndex]] store. */
  def openMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): MinhashIndexHandle =
    new MinhashIndexHandle(spark, path)

  // versioned-dir + _SUCCESS commit via StoreMeta: the manifest row is
  // the store's commit point — a plain overwrite deletes it before
  // rewriting, so a racing probe could see a MISSING manifest and a crash
  // mid-write would orphan every committed segment (ADVICE r16 medium)
  private def writeMinhashMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String, m: MinhashMeta): Unit = {
    import spark.implicits._
    StoreMeta.write(
      Seq((m.shingleN, m.numPerms, m.numBands, m.numKeyBuckets, m.segs.live,
          m.segs.lastTag, m.segs.nextSeg))
        .toDF("shingle_n", "num_perms", "num_bands", "num_key_buckets",
          "segments", "last_tag", "next_seg"),
      path, "meta")
  }

  // explicit segment schemas: an EMPTY append's partitionBy write leaves
  // only _SUCCESS behind, and schema inference on that directory throws —
  // an empty micro-batch must not make the whole index unreadable
  private val minhashKeysSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band_key",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))
  // the schema of the key FILES themselves: partitionBy("bucket") strips
  // the bucket column from the data files, so a direct bucket-dir read
  // (the pruned multi-path scan) sees only these two columns
  private val minhashKeysFileSchema = org.apache.spark.sql.types.StructType(
    minhashKeysSchema.filterNot(_.name == "bucket"))
  private val minhashShinglesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("jid",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  /** The index's stored band keys as ONE DataFrame
    * `(doc_id, band_key, bucket)` — every committed segment, `pred`
    * applied per segment scan so bucket partition pruning and key
    * pushdown happen at each source. `excludeSeg` drops one segment from
    * the view — the restart-replay mechanism: a probe that excludes its
    * OWN batch's already-committed segment sees exactly the pre-append
    * index and reproduces the original verdicts bit for bit. */
  def minhashIndexKeys(h: MinhashIndexHandle, pred: Column = lit(true),
                       excludeSeg: String = ""): DataFrame =
    segmentKeys(h, pred, excludeSeg, buckets = None)

  // the handle reads the (tiny) meta parquet ONCE and caches each
  // segment's bucket listing for the segment's immutable life — three
  // separate meta jobs plus a re-listing of every segment per probe is
  // measurable overhead in the micro-batch streaming regime. `buckets`
  // prunes whole bucket DIRECTORIES at path construction (see
  // [[MinhashIndexHandle.prunedKeys]]).
  private def segmentKeys(h: MinhashIndexHandle, pred: Column,
                          excludeSeg: String,
                          buckets: Option[Seq[Int]]): DataFrame = {
    val segs = h.liveSegments.filterNot(_ == excludeSeg)
    require(segs.nonEmpty,
      s"minhashIndexKeys: no segments at ${h.path} (excluding '$excludeSeg')")
    h.prunedKeys(segs, buckets).filter(pred)
      .select(col("doc_id"), col("band_key"), col("bucket"))
  }

  /** The index's stored shingle sets `(jid, sh)` across all committed
    * segments (minus `excludeSeg` — see [[minhashIndexKeys]]). */
  def minhashIndexShingles(h: MinhashIndexHandle,
                           excludeSeg: String = ""): DataFrame = {
    val segs = h.liveSegments.filterNot(_ == excludeSeg)
    require(segs.nonEmpty,
      s"minhashIndexShingles: no segments at ${h.path} " +
        s"(excluding '$excludeSeg')")
    h.shinglesOfAll(segs).select(col("jid"), col("sh"))
  }

  /** Directory bucket of a band key — `pmod(band_key, B)`: band keys are
    * already uniform 64-bit hashes, so the modulus is a uniform shard. */
  private def keyBucket(bandKey: Column, numKeyBuckets: Int): Column =
    pmod(bandKey, lit(numKeyBuckets.toLong)).cast("int")

  private def writeMinhashRows(df: DataFrame, textCol: String, idCol: String,
                               shingleN: Int, numPerms: Int, numBands: Int,
                               numKeyBuckets: Int, segDir: String): Unit = {
    // one SEGMENT = this batch's shingles + keys under an unreferenced
    // directory (overwrite semantics — a crashed attempt's debris is
    // simply rewritten); it becomes visible only when the caller commits
    // the manifest, so probes can never see half a batch.
    // the two tables are independent writes into the SAME uncommitted
    // segment dir — run them as CONCURRENT Spark jobs (scheduler threads):
    // each is small in the micro-batch regime, so the wall cost of the
    // append is max(shingles, keys) instead of their sum. Both settle
    // before the caller's manifest flip.
    ColumnOps.concurrently(
      // jid-SORTED within each file: the probe's point-lookup regime
      // pushes the candidate-id set into this scan as an isin predicate,
      // and the sort gives those lookups parquet min/max row-group
      // skipping (the same treatment the keys table gets on band_key)
      () => df.select(col(idCol).cast("long").as("jid"),
          hashedShinglesUdf(shingleN)(wordsOf(col(textCol))).as("sh"))
        .sortWithinPartitions(col("jid"))
        .write.mode("overwrite").parquet(s"$segDir/shingles"),
      // keys land bucket-partitioned (`bucket = pmod(band_key, B)`
      // directory partitions) and band_key-SORTED within each file: a
      // probe prunes to the batch's touched bucket directories at the
      // source, so its read tracks the matched shards — not the whole key
      // table — and the sorted row groups give the pushed key-membership
      // predicates min/max skipping. The same treatment as
      // [[graft.ext.Bm25.buildIndex]]. PINNED partition count:
      // repartition(col) alone lets AQE coalesce a small batch to ONE
      // task, which then pays every bucket directory's parquet-writer
      // init serially (~1.4 s per micro-batch at gate scale); pinning
      // numKeyBuckets partitions writes the buckets in parallel and still
      // lands exactly one file per bucket dir
      () => minhashBandKeys(df, textCol, idCol, shingleN, numPerms, numBands)
        .withColumn("bucket", keyBucket(col("band_key"), numKeyBuckets))
        .repartition(numKeyBuckets, col("bucket"))
        .sortWithinPartitions(col("band_key"), col("doc_id"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$segDir/keys"))
  }

  /** Near-duplicate pairs of a NEW batch against a [[buildMinhashIndex]]
    * store AND within itself — the incremental form of
    * [[minhashNearDuplicates]]: the old corpus contributes its stored band
    * keys (never rehashed, never rescanned beyond the candidate joins).
    * Output `(id_a, id_b, jaccard)` with `id_a < id_b`, exactly the pairs
    * of the batch-over-everything operator that involve ≥ 1 new doc
    * (absent LSH candidate misses — the planted gate makes that exact).
    *
    * Skew: old↔new candidates go through the same `maxBucket` demotion as
    * the self-join — an overflow OLD bucket (boilerplate the index has
    * seen thousands of times) contributes its min-id representative
    * against the batch instead of |bucket|×|batch-bucket| pairs; the
    * within-batch side is [[bucketSelfJoinPairs]] unchanged. Only buckets
    * TOUCHED by the batch's keys are ever counted or joined.
    *
    * ID-BASED exclusion: rows whose stored `doc_id` is in `excludeDocs`
    * (one id column, batch-bounded, broadcast) are dropped from the
    * stored-keys AND stored-shingles views before any candidate or
    * bucket-count math. This reconstructs the pre-append index for a
    * restart replay WITHOUT depending on the batch's segment still
    * existing — unlike `excludeSeg`, it stays exact after a compaction
    * has folded the segment away (store ids are unique, so excluding the
    * batch's ids removes exactly its own appended copies; on first
    * delivery nothing matches and the exclusion is vacuous). The handle's
    * cached manifest and segment scans are reused across micro-batches
    * (see [[MinhashIndexHandle]]). */
  def minhashDedupAgainstIndex(h: MinhashIndexHandle, newDocs: DataFrame,
                               textCol: String, idCol: String,
                               threshold: Double = 0.8,
                               maxBucket: Int = 1000,
                               excludeSeg: String = "",
                               excludeDocs: Option[DataFrame] = None)
      : DataFrame =
    probeIndex(h, newDocs, textCol, idCol, threshold, maxBucket, excludeSeg,
      excludeDocs)._1

  /** The pruned stored-keys frame a probe plans for `newKeys`, plus the
    * collected probe keys (empty sentinel array semantics: length >
    * [[MaxPushedProbeKeys]] means the batch regime). Split out of
    * [[minhashDedupAgainstIndex]] so the plan-inspection test can assert
    * the bucket pruning + pushed isin on the EXACT frame the probe
    * executes (the probe eagerly checkpoints downstream, so the final
    * plan no longer exposes this scan). */
  private def probeStoredKeys(h: MinhashIndexHandle, newKeys: DataFrame,
                              excludeSeg: String): (DataFrame, Array[Long]) = {
    val nkb = h.meta.numKeyBuckets
    // ONE job for BOTH regimes (the previous shape paid a SECOND
    // distinct+collect for the touched buckets whenever the batch
    // overflowed the point-lookup limit — a whole job barrier of the
    // per-micro-batch floor in the streaming regime): per touched BUCKET,
    // the exact distinct-key count plus the ≤cap smallest keys. Driver
    // traffic is bounded by buckets × cap regardless of batch size; the
    // executor-side set buffers are distributed by bucket (the same
    // order as the distinct shuffle itself). When the total distinct
    // count fits the point-lookup cap, every bucket's sliced set is
    // complete, so the pushed `isin` key list is exact.
    val cap = MaxPushedProbeKeys + 1
    val perBucket = newKeys
      .select(col("band_key"), keyBucket(col("band_key"), nkb).as("b"))
      .distinct()
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"),
        slice(sort_array(collect_set(col("band_key"))), 1, cap).as("ks"))
      .collect()
    val touchedBuckets: Seq[Int] = perBucket.map(_.getInt(0)).toSeq
    val nDistinct = perBucket.map(_.getLong(1)).sum
    val probeKeys: Array[Long] =
      if (nDistinct <= MaxPushedProbeKeys)
        perBucket.flatMap(_.getAs[scala.collection.Seq[Long]]("ks"))
      else new Array[Long](MaxPushedProbeKeys + 1) // over-limit sentinel
    // bucket pruning rides the `buckets` path selection (directories the
    // scan never lists); the key-membership isin is the only row predicate
    val srcPred =
      if (probeKeys.length <= MaxPushedProbeKeys)
        col("band_key").isin(probeKeys.sorted: _*)
      else lit(true)
    val storedKeys =
      segmentKeys(h, srcPred, excludeSeg, Some(touchedBuckets))
        .select(col("doc_id"), col("band_key"))
    (storedKeys, probeKeys)
  }

  /** Test hook: the stored-keys frame [[minhashDedupAgainstIndex]] would
    * plan for this batch — same code path (shared helper), exposed lazily
    * so its plan can be inspected. */
  private[ext] def probeStoredKeysFor(h: MinhashIndexHandle,
                                      newDocs: DataFrame, textCol: String,
                                      idCol: String): DataFrame = {
    val m = h.meta
    probeStoredKeys(h,
      minhashBandKeys(newDocs, textCol, idCol, m.shingleN, m.numPerms,
        m.numBands),
      excludeSeg = "")._1
  }

  /** [[minhashDedupAgainstIndex]] returning, next to the pairs, the
    * probe's lazily `localCheckpoint`ed intermediates (band keys,
    * candidate pairs, candidate shingles). Their blocks stay pinned until
    * the frames are garbage collected; a caller that owns the probe's
    * lifetime (a streaming sink's micro-batch) releases them as soon as
    * the pairs are consumed. */
  private[graft] def probeIndex(h: MinhashIndexHandle, newDocs: DataFrame,
                                textCol: String, idCol: String,
                                threshold: Double, maxBucket: Int,
                                excludeSeg: String,
                                excludeDocs: Option[DataFrame]):
      (DataFrame, Seq[DataFrame]) = {
    val spark = h.spark
    val m = h.meta
    val (sn, np, nb, nkb) =
      (m.shingleN, m.numPerms, m.numBands, m.numKeyBuckets)
    val newKeys = minhashBandKeys(newDocs, textCol, idCol, sn, np, nb)
      // reused by three joins below; LAZY (round 22) — the probeStoredKeys
      // collect a few lines down is its first action and materializes it
      // into the cache, so a dedicated checkpoint job bought nothing
      .localCheckpoint(false)
    // SOURCE-LEVEL pruning first: every stored segment's key table is
    // bucket-partitioned by pmod(band_key, B), so the batch's touched
    // bucket set (≤ B ints, collected driver-side — bounded by the
    // layout, not the data) prunes whole directories out of EACH
    // segment's scan; the probe's stored-key read tracks the matched
    // shards instead of the full table.
    // POINT-LOOKUP regime: when the batch's distinct band keys fit the
    // driver trivially (≤ MaxPushedProbeKeys — the streaming micro-batch
    // shape), the key-membership test goes INTO the parquet scans as an
    // isin predicate over the band_key-SORTED row groups: with the
    // engine's `spark.sql.parquet.pushdown.inFilterThreshold` raised
    // (GraftSession.tune), parquet min/max skips every row group holding
    // none of the probed keys, so stored-key scan bytes track the BATCH,
    // not the index (sublinear — the honest-list-5 close). Larger batches
    // fall back to the broadcast semi-join over the pruned buckets
    // (linear in the matched shards, still never a full-table shuffle).
    //
    // ONE collect serves both pruning levels: the distinct (band_key,
    // bucket) pairs give the probe keys AND the touched buckets in a
    // single job (two separate collects were a measurable per-micro-batch
    // tax in the streaming regime); only an over-limit batch pays a
    // second, bucket-only pass.
    val (storedKeys0, probeKeys) = probeStoredKeys(h, newKeys, excludeSeg)
    // id-based exclusion (replay reconstruction, see the overload doc):
    // applied BEFORE bucket annotation so demotion counts equal the
    // pre-append index exactly; the excluded-id side is batch-bounded and
    // broadcast — vacuous (and near-free) on a first delivery
    val exIds = excludeDocs.map(d => broadcast(
      d.select(col(d.columns.head).cast("long").as("__exid")).distinct()))
    def dropExcluded(df: DataFrame, idc: String): DataFrame =
      exIds.map(e => df.join(e, df(idc) === e("__exid"), "left_anti"))
        .getOrElse(df)
    val storedKeys = dropExcluded(storedKeys0, "doc_id")
    val touched =
      if (probeKeys.length <= MaxPushedProbeKeys) storedKeys
      else storedKeys.join(broadcast(newKeys.select(col("band_key")).distinct()),
        Seq("band_key"), "left_semi")
    // the SAME maxBucket demotion the self-join uses — shared annotation,
    // not a parallel re-implementation
    val annotated = bucketAnnotate(touched, "band_key")
    val oldSide = annotated.filter(col("__bn") <= maxBucket)
      .select(col("band_key"), col("doc_id").as("__old"))
      .union(annotated.filter(col("__bn") > maxBucket)
        .select(col("band_key"), col("__rep").as("__old")).distinct())
    // micro-batch (point-lookup) regime: the new side is driver-bounded
    // tiny, so BROADCAST it into the old⋈new join — the stored side flows
    // map-side with no exchange or sort, cutting AQE stage-jobs out of
    // the per-batch floor (the streaming regime is latency-, not
    // bandwidth-, bound). Large batches keep the shuffle join.
    val pointLookup = probeKeys.length <= MaxPushedProbeKeys
    val newSide = newKeys.select(col("band_key"), col("doc_id").as("__new"))
    val oldNew = oldSide
      .join(if (pointLookup) broadcast(newSide) else newSide,
        Seq("band_key"))
      .filter(col("__old") =!= col("__new"))
      .select(least(col("__old"), col("__new")).as("id_a"),
        greatest(col("__old"), col("__new")).as("id_b"))
    // TRUNCATE the candidate set's lineage (eager localCheckpoint): the
    // plan downstream references `cands` FIVE times (twice building
    // candIds, once in the verify pair join, and candIds itself rides
    // inside `sh`, which the verify joins twice) — with the stored-keys
    // N-segment union embedded in `cands`, plan size grew ~5× per live
    // segment and a 21-segment probe spent minutes in analysis/codegen,
    // not I/O (measured 220 s vs 2.3 s post-compaction before this fix).
    // After the checkpoint every reference is a leaf; candidate pairs are
    // bounded (demoted buckets), so the materialization is small.
    // LAZY since round 22: the candIds collect below (point-lookup) or
    // the caller's first action materializes it — the checkpoint still
    // truncates the plan either way (the leaf is the same), the eager
    // form just paid a separate materialization job per probe
    val cands0 = oldNew
      .union(bucketSelfJoinPairs(newKeys, "band_key", maxBucket))
      .distinct()
      .localCheckpoint(false)
    val cands = if (pointLookup) broadcast(cands0) else cands0
    val candIds = cands0.select(col("id_a").as("jid"))
      .union(cands0.select(col("id_b").as("jid"))).distinct()
    // point-lookup regime: the candidate id set is driver-tiny (it came
    // off a checkpointed frame bounded by the batch's demoted buckets) —
    // push it INTO the per-segment shingle scans as an isin predicate so
    // stored-shingle read bytes track the CANDIDATES via row-group
    // min/max skipping, mirroring the band-key pushdown above. Larger
    // candidate sets keep the broadcast semi-join.
    val candIdRows =
      if (pointLookup)
        candIds.limit(MaxPushedProbeKeys + 1).collect().map(_.getLong(0))
      else Array.empty[Long]
    val newShingled = newDocs
      .select(col(idCol).cast("long").as("jid"),
        hashedShinglesUdf(sn)(wordsOf(col(textCol))).as("sh"))
    val storedShingles =
      dropExcluded(minhashIndexShingles(h, excludeSeg), "jid")
    val sh0 =
      if (pointLookup && candIdRows.length <= MaxPushedProbeKeys) {
        val p = col("jid").isin(candIdRows.sorted: _*)
        newShingled.filter(p)
          .union(storedShingles.filter(p))
      } else {
        newShingled
          .union(storedShingles)
          .join(broadcast(candIds), Seq("jid"), "left_semi")
      }
    // same truncation for the shingled side — verify joins it twice, and
    // it embeds the N-segment shingle union; lazy like cands0 (the
    // caller's action computes it once, block-locked, into the cache)
    val sh = sh0.localCheckpoint(false)
    (verifyShingledPairs(sh, cands, threshold), Seq(newKeys, cands0, sh))
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash from the token multiset — row-local UDF (single pass
    * over tokens, no shuffle).
    */
  val simhashUdf = udf { tokens: scala.collection.Seq[String] =>
    val acc = new Array[Int](64)
    if (tokens != null) for (t <- tokens) {
      val h = hash64(0, t)
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhash(text: Column): Column =
    simhashUdf(wordsOf(text))

  /** SimHash near-dup candidates. Band count is DERIVED from `maxHamming`
    * by pigeonhole: with `maxHamming + 1` bands, any pair within hamming
    * distance `maxHamming` must agree exactly on at least one band — so
    * candidate recall is guaranteed (the round-1 fixed-4-band scheme
    * silently missed pairs for maxHamming > 3). Trade-off made explicit:
    * more bands ⇒ narrower bands ⇒ fewer distinct buckets per band ⇒ bigger
    * buckets; the `maxBucket` cap (sorted, deterministic) bounds the
    * in-bucket pair expansion against boilerplate-driven skew at corpus
    * scale, and the verify step keeps results exact (within the capped
    * candidate set).
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
                            maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    hammingNearDuplicatesBySketch(
      df.select(col(idCol), simhash(col(textCol)).as("__sk64")),
      "__sk64", idCol, maxHamming, maxBucket)

  /** Near-duplicate pairs for ANY 64-bit sketch column under a hamming
    * bound — the banding core of [[simhashNearDuplicates]], reusable for
    * other hamming-space sketches (perceptual image hashes, audio
    * fingerprints). Pigeonhole banding: `maxHamming+1` bands guarantee any
    * pair within the bound collides in at least one band. */
  def hammingNearDuplicatesBySketch(df: DataFrame, sketchCol: String,
                                    idCol: String, maxHamming: Int,
                                    maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming $maxHamming out of range")
    val numBands = maxHamming + 1
    val base = 64 / numBands
    val extra = 64 % numBands // first `extra` bands get one extra bit
    val widths = Array.tabulate(numBands)(b => base + (if (b < extra) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val s = df.select(col(idCol).as("doc_id"), col(sketchCol).cast("long").as("sh"))
    val bandCols = (0 until numBands).map { b =>
      val start = starts(b)
      val width = widths(b)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      // fold the band number into the key so one long column keys the join
      lit(b.toLong << 58).bitwiseOR(
        shiftright(col("sh"), start).bitwiseAND(mask))
    }
    val banded = s.withColumn("band_key", explode(array(bandCols: _*)))
      .select(col("doc_id"), col("sh"), col("band_key"))
    // streamed self-join within buckets (see bucketSelfJoinPairs scaladoc);
    // sh rides along on both sides so hamming filters inside the join
    import org.apache.spark.sql.expressions.Window
    // unordered window (see bucketAnnotate); the representative's sketch
    // rides along as min(struct(doc_id, sh)) — struct ordering leads on
    // doc_id, and a doc appears at most once per bucket (band id folded
    // into the key), so this IS the min-id member and its sketch
    val w = Window.partitionBy(col("band_key"))
    val counted = banded
      .withColumn("__bn", count(lit(1)).over(w))
      .withColumn("__repmin", min(struct(col("doc_id"), col("sh"))).over(w))
      .withColumn("__rep", col("__repmin").getField("doc_id"))
      .withColumn("__repsh", col("__repmin").getField("sh"))
      .drop("__repmin")
    val pruned = counted
      .filter(col("__bn") > 1 && col("__bn") <= maxBucket)
      .drop("__bn", "__rep", "__repsh")
    val allPairs = pruned
      .select(col("band_key"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(pruned.select(col("band_key"), col("doc_id").as("id_b"), col("sh").as("sh_b")),
        "band_key")
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    // overflow buckets: representative pairs against the min-id member (see
    // bucketSelfJoinPairs) — hamming-filtered here because this op has no
    // downstream verify step
    val repPairs = counted.filter(col("__bn") > maxBucket)
      .filter(col("doc_id") > col("__rep"))
      .withColumn("hamming", bit_count(col("sh").bitwiseXOR(col("__repsh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("__rep").as("id_a"), col("doc_id").as("id_b"), col("hamming"))
    allPairs.union(repPairs).distinct()
  }

  // ---------- embedding cosine near-dup ----------

  /** Embedding-cosine near-duplicates via random-hyperplane LSH.
    *
    * Round-1 flaws fixed here: (a) the plane matrix is precomputed ONCE on
    * the driver and captured in the UDF closure (shipped with the task,
    * `nBands*planesPerBand*dim` doubles — not rehashed per row×plane×dim);
    * (b) a single exact-match sketch has collision probability
    * (1-θ/π)^nPlanes — only ~16% recall at cos 0.8 even with just 8 planes
    * in one band — so we use an OR-construction: `nBands` independent bands of
    * `planesPerBand` planes, candidate iff ANY band matches exactly, then
    * exact cosine verify inside buckets. Default 8 bands × 8 planes:
    * recall 1-(1-p^8)^8 ≈ 0.75 at cos 0.8 and ≈ 0.99 at cos 0.95 (p=1-θ/π);
    * identical vectors always collide. The 8-bit bands keep ≥256 buckets
    * per band so bucket population stays sub-linear in corpus size — raise
    * `nBands` (more bands of the same width) to push recall at a given
    * threshold, not band width down. Norms are precomputed once per side.
    *
    * Like the minhash/simhash paths, the candidate self-join is guarded by
    * `maxBucket`: a degenerate sketch bucket (mass-duplicated vectors, or
    * all-zero vectors — every dot ≤ 0 vector lands in sketch 0 per band)
    * would otherwise make the join and the pair `distinct()` quadratic in
    * bucket size. Overflow buckets contribute min-id representative pairs
    * (O(bucket), exact-cosine-verified downstream) instead of dropping —
    * see [[bucketSelfJoinPairs]]; members also still pair through their
    * other bands.
    */
  def cosineNearDuplicates(df: DataFrame, vecCol: String, idCol: String,
                           dim: Int, nBands: Int = 8, planesPerBand: Int = 8,
                           threshold: Double = 0.95,
                           maxBucket: Int = 10000): DataFrame = {
    val nPlanes = nBands * planesPerBand
    // deterministic pseudo-random unit-free plane matrix, computed once
    val planes: Array[Array[Double]] = Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i => hash64(p, i.toString).toDouble / Long.MaxValue }
    }
    val bandSketches = udf { v: scala.collection.Seq[Float] =>
      Array.tabulate(nBands) { b =>
        var out = 0L
        var j = 0
        while (j < planesPerBand) {
          val plane = planes(b * planesPerBand + j)
          var dot = 0.0
          var i = 0
          val n = math.min(v.length, plane.length)
          while (i < n) { dot += v(i) * plane(i); i += 1 }
          if (dot > 0) out |= (1L << j)
          j += 1
        }
        (b.toLong << 56) | out
      }
    }
    // candidate ids first: the band join + distinct shuffles only (sk, id)
    // longs — never the vectors (the round-3 form carried both full vectors
    // through an 8-way-amplified join and a distinct over vector columns)
    val sk = df.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
      .withColumn("sk", explode(bandSketches(col("v"))))
      .select(col("doc_id"), col("sk"))
    val cands = bucketSelfJoinPairs(sk, "sk", maxBucket)
    // verify: join each side's vector+norm back once
    val side = df.select(col(idCol).as("jid"), col(vecCol).as("jv"))
      .withColumn("jn", Similarity.norm(col("jv")))
    cands
      .join(side.select(col("jid").as("id_a"), col("jv").as("v_a"), col("jn").as("n_a")), "id_a")
      .join(side.select(col("jid").as("id_b"), col("jv").as("v_b"), col("jn").as("n_b")), "id_b")
      .withColumn("cos", when(col("n_a") * col("n_b") > 0,
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
        .otherwise(lit(0.0)))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Exact all-pairs embedding-cosine near-duplicates — the oracle-checkable
    * building block (and the in-bucket verify kernel of the LSH path).
    * All-pairs is O(n²): only for bounded inputs / within-bucket use.
    */
  def cosineNearDuplicatesExact(df: DataFrame, vecCol: String, idCol: String,
                                threshold: Double): DataFrame = {
    val s = df.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = s.select(col("doc_id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = s.select(col("doc_id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", when(col("n_a") * col("n_b") > 0,
        Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
        .otherwise(lit(0.0)))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  // ---------- semantic (embedding-cluster) dedup ----------

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every embedding to its nearest centroid
    * ([[Similarity.assignCells]] — broadcast centroid table, map-only),
    * then inside each cell mark every row that has a SMALLER-id neighbor
    * at cosine >= `threshold` as a semantic duplicate. Output one row per
    * input: (id, cell, leaf, keep) — `keep = false` is the drop set,
    * `cell` the top-level centroid assignment, `leaf` the final pairing
    * group after overflow splitting (equal to `cell` when no split ran).
    *
    * Scale shape: the only data shuffle keys on the cell id; the
    * within-cell self-join streams the pair expansion through the join
    * operator (AQE skew-split applies) instead of materializing O(cell²)
    * structs in one row.
    *
    * Overflow cells are RECURSIVELY SPLIT, not skipped: a cell larger than
    * `maxCell` (a mode-collapsed embedding region — precisely where
    * SemDeDup's duplicates concentrate) is re-partitioned by nearest
    * SUB-centroid, the `splitFanout` smallest-id members of the cell, and
    * the split recurses until every leaf fits. Sub-centroid assignment
    * preserves near-dup recall where an id/hash split would not: vectors at
    * cosine ~1 have ~equal cosines to every sub-centroid and therefore land
    * in the same leaf (exact copies always do — identical cosines, same
    * first-max tie-break). A leaf still over `maxCell` after
    * `maxSplitDepth` levels (all members near-identical — centroid geometry
    * cannot separate them, and should not) falls back to the REPRESENTATIVE
    * rule: every member is compared against the leaf's min-id member only —
    * O(leaf) pairs instead of O(leaf²), which drops the near-identical mass
    * while never stalling a task. Net: no input region silently skips
    * dedup; [[bucketOverflowReport]] over the output keyed by `leaf`
    * reports 0 overflow whenever the recursion terminated (the degenerate
    * fallback leaves are the only rows it can flag).
    *
    * Driver-side state is bounded by metadata, not data: per level the
    * collect is (#overflow cells × `splitFanout`) sub-centroid vectors —
    * the same scale class as the centroid table itself (a corpus where MOST
    * cells overflow needs a bigger nlist/maxCell, which the overflow report
    * measures). Pair-stage parallelism is bounded by the number of distinct
    * leaves, so size the centroid table well above the executor count (the
    * regime the SemDeDup paper runs: tens of thousands of clusters) —
    * [[Similarity.kmeansCentroids]] fits any nlist distributed. With
    * [[Similarity.centroidsByIds]] centroids the whole pipeline —
    * assignment, splitting, pairing, survivor rule — is replayable by an
    * external SQL engine (the split is deterministic: smallest-id members,
    * first-max cosine, ties to the smaller sub-index).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Int, Seq[Float])], threshold: Double,
                    maxCell: Int = 10000, splitFanout: Int = 16,
                    maxSplitDepth: Int = 6): DataFrame = {
    val spark = emb.sparkSession
    import org.apache.spark.sql.expressions.Window
    val assigned = Similarity.assignCells(emb, idCol, vecCol, centroids)
      .withColumn("__leaf", col("cell").cast("string"))

    // ---- recursive overflow split (driver loop, depth-bounded) ----
    // the assignment (O(rows × nlist) UDF) is scanned by the overflow
    // count, the sub-centroid pick, each split level, and ~5 pairing-stage
    // plans — persist it once up front (MEMORY_AND_DISK: spills rather
    // than OOMs) instead of recomputing per scan. Split levels roll the
    // cache forward, unpersisting the parent level; the FINAL frame stays
    // cached because the returned (lazy) result reads it — in the runner
    // path it is materialized immediately and the entry is evictable LRU.
    var frame = assigned
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var persistedPrev: Option[DataFrame] = Some(frame)
    var depth = 0
    var anyOverflow = true
    while (anyOverflow && depth < maxSplitDepth) {
      val overflowLeaves = frame.groupBy("__leaf")
        .agg(count(lit(1)).as("__cn"))
        .filter(col("__cn") > maxCell)
        .select("__leaf").collect().map(_.getString(0))
      if (overflowLeaves.isEmpty) anyOverflow = false
      else {
        import spark.implicits._
        val overflowDf = overflowLeaves.toSeq.toDF("__leaf")
        // sub-centroids: the splitFanout smallest-id members per overflow
        // leaf — deterministic and replayable; bounded collect (see scaladoc)
        val w = Window.partitionBy(col("__leaf")).orderBy(col("id"))
        // sub-centroid vectors unpacked to primitive arrays with squared
        // norms precomputed once (same bit-exact hoisting as
        // Similarity.CentArrays: every accumulator keeps its operand order)
        val subs: Map[String, Array[(Array[Float], Double)]] =
          frame.join(broadcast(overflowDf), "__leaf")
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= splitFanout)
            .select(col("__leaf"), col("__rn"), col("__v"))
            .collect()
            .groupBy(_.getString(0))
            .map { case (leaf, rows) =>
              leaf -> rows.sortBy(_.getInt(1)).map { r =>
                val cv = r.getAs[scala.collection.Seq[Float]]("__v").toArray
                var nb = 0.0; var i = 0
                while (i < cv.length) { nb += cv(i).toDouble * cv(i); i += 1 }
                (cv, nb)
              }
            }
        val bcSubs = spark.sparkContext.broadcast(subs)
        val extendLeaf = udf { (leaf: String, v: scala.collection.Seq[Float]) =>
          bcSubs.value.get(leaf) match {
            case Some(cents) =>
              val va = v.toArray
              var na = 0.0
              var k = 0
              while (k < va.length) { na += va(k).toDouble * va(k); k += 1 }
              var best = 0
              var bestD = Double.MinValue
              var i = 0
              while (i < cents.length) {
                val (cv, nb) = cents(i)
                var dp = 0.0; var j = 0
                while (j < va.length) { dp += va(j).toDouble * cv(j); j += 1 }
                val c = if (na > 0 && nb > 0) dp / math.sqrt(na * nb) else 0.0
                if (c > bestD) { bestD = c; best = i }
                i += 1
              }
              leaf + "/" + best
            case None => leaf
          }
        }
        val next = frame.withColumn("__leaf", extendLeaf(col("__leaf"), col("__v")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent level's cache
        // executor copies of this level's sub-centroid table are no longer
        // needed once the level is cached (re-broadcast lazily if the
        // lineage ever recomputes)
        bcSubs.unpersist(false)
        persistedPrev.foreach(_.unpersist())
        persistedPrev = Some(next)
        frame = next
        depth += 1
      }
    }

    // ---- pairing: all-pairs inside fitted leaves, representative rule
    //      inside degenerate (still-overflow) leaves ----
    val leafCounts = frame.groupBy("__leaf").agg(count(lit(1)).as("__cn"))
    val withCn = frame.join(broadcast(leafCounts), "__leaf")
    val fitted = withCn.filter(col("__cn") <= maxCell)
    val degen = withCn.filter(col("__cn") > maxCell)

    val a = fitted.select(col("__leaf"), col("id").as("id_a"), col("__v").as("__va"))
    val b = fitted.select(col("__leaf"), col("id").as("id_b"), col("__v").as("__vb"))
    val pairDropped = a.join(b, Seq("__leaf"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as("__dup_id"))

    val degenReps = degen.groupBy("__leaf").agg(min(col("id")).as("__rep_id"))
    val repVecs = degen.join(broadcast(degenReps), Seq("__leaf"))
      .filter(col("id") === col("__rep_id"))
      .select(col("__leaf"), col("__rep_id"), col("__v").as("__repv"))
    val repDropped = degen.join(broadcast(repVecs), Seq("__leaf"))
      .filter(col("id") > col("__rep_id"))
      .filter(Similarity.cosine(col("__v"), col("__repv")) >= threshold)
      .select(col("id").as("__dup_id"))

    val dropped = pairDropped.union(repDropped).distinct()
    val result = frame.join(dropped, col("id") === col("__dup_id"), "left_outer")
      .select(col("id"), col("cell"), col("__leaf").as("leaf"),
        col("__dup_id").isNull.as("keep"))
    // the result plan reads `frame` ~6 times (leaf counts, both pair
    // sides, representative paths, final join) — evaluate it ONCE against
    // the cached frame and truncate lineage (eager localCheckpoint, the
    // ConnectedComponents pattern), then RELEASE the cache: the earlier
    // form left the final split level persisted for the application
    // lifetime, one leaked corpus-sized cache entry per invocation.
    // Checkpoint blocks hold only (id, cell, leaf, keep) — no vectors —
    // and are auto-cleaned when the returned frame is unreferenced.
    val out = result.localCheckpoint(true)
    persistedPrev.foreach(_.unpersist(false))
    out
  }

  // ---------- pairs → clusters (the dedup DECISION step) ----------

  /** Near-duplicate CLUSTERS from candidate pairs: the transitive closure of
    * any pair source above (minhash/simhash/cosine/jaccard), labeled by
    * [[ConnectedComponents.labels]]. Every row of `df` gets a `cluster_id`
    * (the minimum member id — rows with no near-dup keep their own id) and
    * `is_representative` = "this is the one copy a dedup keeps".
    *
    * Keeping min-id as the representative makes the choice deterministic
    * and join-free: a cluster's representative IS its label.
    *
    * `pairs` needs columns `id_a`, `id_b`; extra columns (jaccard, cosine,
    * hamming) are ignored. The labels side is the number of DUPLICATED
    * documents only — usually a small fraction of the corpus — so the
    * closing join stays cheap at 100 TB while `df` itself never reshuffles
    * more than once.
    */
  def duplicateClusters(df: DataFrame, idCol: String,
                        pairs: DataFrame): DataFrame = {
    val labels = ConnectedComponents.labels(pairs, "id_a", "id_b")
    df.join(labels.withColumnRenamed("id", "__cc_id"),
        col(idCol) === col("__cc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_representative", col("cluster_id") === col(idCol))
      .drop("__cc_id")
  }

  /** Drop near-duplicates: keep exactly one representative per cluster of
    * `pairs` (the min-id member), all non-duplicated rows untouched. */
  def dropNearDuplicates(df: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame =
    duplicateClusters(df, idCol, pairs)
      .filter(col("is_representative"))
      .drop("cluster_id", "is_representative")

  /** Quality-aware representative selection: keep the HIGHEST-`priorityCol`
    * member of each duplicate cluster (ties → smaller id; null priorities
    * lose to any scored member, ties among nulls → smaller id) — real
    * curation keeps the best version of a duplicated page (longest, highest
    * quality score, most recent crawl), not the accidental min-id one that
    * [[dropNearDuplicates]] picks. Emits every input row plus `cluster_id`
    * and a `keep` verdict — filter or mask downstream.
    *
    * Scale shape: the cluster labels cover DUPLICATED docs only (a small
    * fraction of the corpus), so the argmax runs entirely on the small
    * side — a narrow (id, priority) projection joins the labels, one
    * cluster-keyed `max_by` aggregate picks the winner, and the winner is
    * folded BACK onto the labels (small ⋈ small). The full-width corpus
    * rows then move exactly once, in the same id-keyed join
    * [[duplicateClusters]] already pays; there is no corpus-wide shuffle
    * on `cluster_id`.
    */
  def keepBestPerCluster(df: DataFrame, idCol: String, priorityCol: String,
                         pairs: DataFrame): DataFrame = {
    val labels = ConnectedComponents.labels(pairs, "id_a", "id_b")
      .select(col("id").as("__kb_id"), col("cluster_id"))
    // argmax over the duplicated subset only: (priority, -id) struct order
    // makes max_by deterministic under priority ties
    val best = df
      .select(col(idCol).cast("long").as("__kb_id"),
        coalesce(col(priorityCol).cast("double"),
          lit(Double.NegativeInfinity)).as("__kb_p"))
      .join(labels, "__kb_id")
      .groupBy(col("cluster_id"))
      .agg(max_by(col("__kb_id"),
        struct(col("__kb_p"), (-col("__kb_id")).as("__kb_n"))).as("__kb_best"))
    val labelsBest = labels.join(best, "cluster_id") // small ⋈ small
    df.join(labelsBest, col(idCol) === col("__kb_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("keep",
        col("__kb_id").isNull || col(idCol) === col("__kb_best"))
      .drop("__kb_id", "__kb_best")
  }
}
