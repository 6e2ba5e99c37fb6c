package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.ops.ColumnOps.{concurrently, releaseCheckpoints}
import graft.ops.StoredParquet

/** Structured Streaming forms of the engine's continuous-ingest operators.
  *
  * The reference is batch-only (SURVEY §2.9 — no streaming surface), so
  * nothing here shadows a reference op; these exist because a 100 TB
  * training-data pipeline ingests continuously, and the Spark-first way to
  * express that is `readStream` → the SAME column expressions the batch
  * operators use → `writeStream` with watermarked state. Every transform
  * below is a plain DataFrame function: callers pass a streaming frame and
  * get a streaming frame (the functions also work verbatim on batch frames,
  * which is how the tests assert batch parity).
  *
  * Scale notes (1000-executor framing):
  *  - State stores shard by the grouping key, so per-user session state
  *    partitions horizontally; the watermark bounds state size — without
  *    it state grows forever.
  *
  * Operators that carry state across micro-batches or write a result are
  * `*ToSink` functions, one implementation each: every batch's output lands
  * in `sink/.../batch_id=B` and nothing is collected to the driver. Cross-
  * batch state lives either in `sink/_state/batch_id=B` (folded from the
  * newest committed state before B, so a replay is exact) or in a stored
  * index that tags its appends. All of them run on
  * [[Streaming.runMicroBatches]].
  */
/** One event entering [[Streaming.sessionizeByCountOrGap]]. */
final case class CountGapEvent(key: String, ts: java.sql.Timestamp, value: Double)

/** Open-session state: O(1) per key regardless of session length. */
final case class CountGapState(startMs: Long, lastMs: Long, n: Long, sum: Double)

/** A closed session; `closed_by` ∈ count | gap | timeout. */
final case class CountGapSession(user_id: String,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    n_events: Long, session_value: Double, closed_by: String)

object Streaming {

  /** Sessions closed by `maxEvents` OR a time gap — the custom-state escape
    * hatch `session_window` cannot express (count-based closing resets
    * per-session state). `flatMapGroupsWithState` with event-time timeout:
    *
    *  - state = one open session per key (start, last ts, n, sum) —
    *    O(1) per key, sharded by the group key like any state store;
    *  - a session closes EAGERLY when its count fills or the next event
    *    arrives beyond the gap (emitted in the same micro-batch);
    *  - the trailing open session closes via the event-time TIMEOUT when
    *    the watermark passes `last + gap` — state cannot leak.
    *
    * The same call works on a batch frame (Spark invokes the function once
    * per key with all events): count- and gap-closed sessions agree with
    * streaming; only trailing open sessions differ (batch has no watermark
    * to close them), which is the batch/stream parity contract tested in
    * StreamingSpec. `session_end` is the LAST EVENT's time (actual span),
    * not `last + gap` as `session_window` reports.
    */
  def sessionizeByCountOrGap(events: DataFrame, userCol: String, tsCol: String,
                             valueCol: String, gapMinutes: Long = 30L,
                             maxEvents: Int = 100,
                             watermark: String = "1 hour"): Dataset[CountGapSession] = {
    require(maxEvents >= 1, s"maxEvents must be >= 1, got $maxEvents")
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val typed = events
      .select(col(userCol).cast("string").as("key"),
        col(tsCol).cast("timestamp").as("ts"),
        col(valueCol).cast("double").as("value"))
      .withWatermark("ts", watermark)
      .as[CountGapEvent]
    def close(key: String, s: CountGapState, how: String): CountGapSession =
      CountGapSession(key, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.lastMs), s.n, s.sum, how)
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[CountGapState, CountGapSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[CountGapEvent],
         state: GroupState[CountGapState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(key, s, "timeout"))
          } else {
            // per-key arrival order within a micro-batch is not guaranteed
            val sorted = batch.toArray.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ListBuffer.empty[CountGapSession]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur.foreach { s =>
                if (t - s.lastMs > gapMs) { closed += close(key, s, "gap"); cur = None }
              }
              val grown = cur match {
                case Some(s) => CountGapState(s.startMs, t, s.n + 1, s.sum + e.value)
                case None => CountGapState(t, t, 1L, e.value)
              }
              if (grown.n >= maxEvents) { closed += close(key, grown, "count"); cur = None }
              else cur = Some(grown)
            }
            cur match {
              case Some(s) =>
                state.update(s)
                // flatMapGroupsWithState HANDS late rows to the function
                // rather than dropping them; a session built from an event
                // older than watermark+gap would ask for a timeout in the
                // past, which GroupStateImpl rejects (query-killing
                // IllegalArgumentException). Clamp to just past the
                // watermark: the stale open session then closes at the next
                // watermark advance.
                // batch invocations have no watermark: getCurrentWatermarkMs
                // throws there (timeouts never fire in batch anyway)
                val wm = scala.util.Try(state.getCurrentWatermarkMs())
                  .getOrElse(Long.MinValue)
                state.setTimeoutTimestamp(math.max(s.lastMs + gapMs, wm + 1))
              case None => if (state.exists) state.remove()
            }
            closed.iterator
          }
      }
  }

  /** Streaming multimodal ingest: REAL image decode on a stream of binary
    * payloads. The batch form rides `RDD.mapPartitions` (unsupported on
    * streaming frames); the typed `Dataset.mapPartitions` below is the
    * streaming-legal formulation of the same narrow per-partition kernel —
    * stateless, no watermark, no shuffle, so a decode-at-ingest stage drops
    * into any continuous pipeline. The kernel ([[graft.ext.MediaCodecs]])
    * is shared with the batch/spec-layer ops, keeping parity by
    * construction.
    */
  def annotateImageMeta(docs: DataFrame, idCol: String,
                        binCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (w, h, f) = graft.ext.MediaCodecs.decodeImageMeta(bytes)
        (id, w, h, f)
      })
      .toDF(idCol, "width", "height", "format")
  }

  /** Streaming form of [[graft.ext.Corpus.packSequences]]: the incremental
    * concat-and-chunk layout of an arriving corpus, as an exactly-once
    * sink. Within each micro-batch the batch engine's distributed two-phase
    * packing runs unchanged (per-bucket prefix sums plus broadcast bucket
    * offsets, id order within the batch). Across batches the only coupling
    * is the running corpus token total, applied as the next batch's
    * `baseOffset`. So every document's `[token_offset,
    * token_offset + n_tokens)` interval is contiguous in arrival order, and
    * for ids ordered across batches the layout equals the batch operator's.
    *
    * Per micro-batch B: the layout lands at `sink/data/batch_id=B`, and the
    * running total after B (one row, `tokens`) at `sink/_state/batch_id=B`.
    * B reads its offset from the newest committed state before B
    * ([[SinkState.prior]]) and both writes overwrite B's own
    * directories, so a replayed batch rewrites identical files (the
    * [[shardedExportToSink]] discipline). */
  def packSequencesToSink(docs: DataFrame, idCol: String, tokens: Column,
                          seqLen: Long,
                          sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val base = state.prior(bid).fold(0L)(_.head().getLong(0))
      val data = s"$sink/data/batch_id=$bid"
      // the range-bucket bound as a driver value: the in-plan bound is
      // recomputed over the cached batch for each of its three references
      // (two shuffle jobs and two broadcast jobs per batch more)
      val upper = batch.agg(max(col(idCol)).cast("double")).head()
      graft.ext.Corpus.packSequences(batch, idCol, tokens, seqLen,
          graft.ops.ColumnOps.rangeBucket(batch, col(idCol),
            if (upper.isNullAt(0)) 0.0 else upper.getDouble(0) + 1.0),
          baseOffset = base)
        .write.mode("overwrite").parquet(data)
      // the total AFTER this batch, summed from the just-written layout
      // so the state is exactly what a reader of the data sees
      state.commit(bid, StoredParquet.read(spark, data)
        .agg((lit(base) + coalesce(sum(col("n_tokens")), lit(0L)))
          .as("tokens"))
        .coalesce(1))
    }
  }

  /** Streaming form of [[graft.ext.LangModel.score]] against a PINNED
    * model: documents arrive as a stream, the fitted count model is static
    * (fit once; in production, content-addressed in the runner store). Each
    * micro-batch runs the batch scorer (stream-static equi-joins against the
    * count tables plus a batch-local groupBy) and writes the verdicts to
    * `sink/data/batch_id=B`. A document is always scored whole inside its
    * own batch (the file source never splits a row), so no state crosses
    * batches: the union of the per-batch verdicts equals the batch scorer's
    * output on the same rows wherever the batch boundaries fall. Exactly
    * once by the per-directory overwrite alone (the [[kmeansAssignToSink]]
    * discipline). [[lmScoreToSink]] is the online form, whose model grows
    * with the stream. */
  def pinnedLmScoreToSink(docs: DataFrame, idCol: String, textCol: String,
                          lm: graft.ext.LangModel.BigramLm,
                          sink: String, checkpoint: String): Unit =
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      graft.ext.LangModel.score(batch, idCol, textCol, lm)
        .write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid")
    }

  /** The ONLINE perplexity filter as a durable exactly-once sink (the
    * model grows with the stream; [[pinnedLmScoreToSink]] scores against a
    * fixed one). Per micro-batch B:
    *
    *  1. score B's documents against the model accumulated over all PRIOR
    *     batches — the true online-curation semantics (incoming docs are
    *     judged by the standing corpus model, never by themselves); the
    *     FIRST batch bootstraps by self-fit (the batch operator's
    *     semantics), deterministically;
    *  2. write the verdicts (id, n_tokens, logp_u6, ppl) to
    *     `sink/data/batch_id=B`;
    *  3. fold B's bigram pair counts (the model's sufficient statistic —
    *     a plain sum monoid, [[graft.ext.LangModel.pairCounts]]) into
    *     `sink/_state/batch_id=B`.
    *
    * EXACTLY-ONCE: the replay of a batch reads only state < B
    * ([[SinkState.prior]]) and overwrites its own two directories, so a
    * crash between steps re-derives bit-identical verdicts and state —
    * the same discipline as every `*ToSink` (forced-restart-tested in
    * StreamingSpec). State size is the model's vocabulary² upper bound in
    * theory, observed-bigram count in practice — the same table the batch
    * fit builds, shuffled once per batch. */
  def lmScoreToSink(docs: DataFrame, idCol: String, textCol: String,
                    sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      // lazy: whichever concurrent leg touches it first computes and
      // caches it (block-level locking makes the race safe)
      val bp = graft.ext.LangModel.pairCounts(batch, textCol)
        .localCheckpoint(false)
      val prior = state.prior(bid)
      // bootstrap: the batch operator's self-fit
      val scored = graft.ext.LangModel.score(batch, idCol, textCol,
        graft.ext.LangModel.fromPairCounts(prior.getOrElse(bp)))
      // the verdict write and the state fold are INDEPENDENT jobs (both
      // read only the batch and PRIOR state) and individually idempotent
      // per-dir overwrites; the batch wall is max(score, fold). The
      // verdict table is batch-sized and keeps its natural partitioning;
      // nothing reads file layout, the oracle reads content.
      try concurrently(
        () => scored.write.mode("overwrite")
          .parquet(s"$sink/data/batch_id=$bid"),
        // UNLIKE the sketch sinks (whose state is KBs by construction),
        // the pair-count table is vocabulary-sized: it keeps the fold's
        // natural partitioning rather than funneling through one writer.
        // Replay only requires the state's CONTENT to be deterministic
        // (it is, an exact count table); nothing reads file layout.
        () => state.commit(bid, prior.fold(bp)(_.unionByName(bp)
          .groupBy(col("v"), col("w"))
          .agg(sum(col("cnt")).as("cnt")))))
      finally releaseCheckpoints(Seq(bp))
    }
  }

  /** Streaming form of [[graft.ext.Dedup.semanticDedup]]: SemDeDup against
    * PINNED centroids (fit once on a reference corpus; in production,
    * content-addressed in the runner store like the stored-IVF index) as a
    * DURABLE, exactly-once sink. Per batch: nearest-centroid assignment
    * (map-only against the centroid literals), then a row is dropped when
    * it has a neighbor at cosine ≥ `threshold` either among SMALLER-id rows
    * of the same cell in its own batch, or among ALL earlier batches' rows
    * of the same cell (dropped or not: SemDeDup compares against every
    * smaller-id row, so a kept-only seen-set would resurrect chains
    * a→b→c where cos(a,c) < threshold). Output one row per input:
    * `(id, cell, keep)`. No overflow splitting: cells are pinned (split
    * decisions are corpus-global); route mode-collapsed corpora through
    * the batch operator.
    *
    * Per micro-batch: verdicts land at `sink/data/batch_id=B`, and the
    * batch's CELL-ASSIGNED rows at
    * `sink/_state/batch_id=B/cell=N/…` — the state is APPEND-SHAPED (each
    * batch persists only its own rows, the segmented-store discipline),
    * so durable state costs one batch-sized write per batch, never a
    * corpus rewrite. The probe unions the PRIOR batches' state restricted
    * to the batch's touched cell DIRECTORIES (explicit multi-path
    * selection — untouched cells are never listed or read), which keeps
    * the cross-batch join pruned the same way the batch operator's cell
    * shuffle is.
    *
    * Replay safety is structural: batch B joins only state dirs with
    * id < B — its own (possibly partially re-written) dir is excluded by
    * construction, and both writes are per-dir overwrites, so a
    * crash-and-replay reproduces byte-identical verdicts. Ordering
    * contract: equals the batch operator bit for bit when arrival
    * respects nondecreasing ids (the ingest norm: ids assigned on
    * arrival; pinned in StreamingSpec); arbitrary arrival degrades to
    * arrival-order-first-wins, the natural streaming dedup semantics.
    *
    * `horizonBatches` (round 20) BOUNDS the carried corpus: batch B probes
    * only the last `horizonBatches` batches' state and state older than
    * B − horizon is GC'd after each batch (best-effort deletes; replay
    * of B probes [B − horizon, B), all retained). Semantics: a row is
    * deduped against its own batch and the previous `horizonBatches`
    * batches only — EQUAL to the exact run whenever every duplicate
    * pair is within-horizon (the ingest norm for time-localized
    * near-dups: crawl recrawls, wire-story bursts), and an explicit,
    * gated approximation otherwise (`q_sem_horizon` pins a beyond-
    * horizon twin surviving). 0 = exact/unbounded (every prior batch).
    * Durable state: horizon × batch size, flat in stream length. */
  def semanticDedupToSink(docs: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[(Int, Seq[Float])],
                          threshold: Double,
                          sink: String, checkpoint: String,
                          horizonBatches: Int = 0): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val assigned = graft.ext.Similarity
        .assignCells(batch, idCol, vecCol, centroids)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the batch's touched cells select the prior state dirs to read
        val touched = assigned.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSet
        val b = assigned.select(col("cell"), col("id").as("id_b"),
          col("__v").as("__vb"))
        val inBatch = assigned
          .select(col("cell"), col("id").as("id_a"), col("__v").as("__va"))
          .join(b, Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .filter(graft.ext.Similarity.cosine(col("__va"), col("__vb"))
            >= threshold)
          .select(col("id_b").as("__dup"))
        // prior rows: every committed state dir BEFORE this batch (bounded
        // horizon: only the last `horizonBatches` of them; 0 = exact/
        // unbounded), restricted to the batch's touched cells at path
        // construction
        val hconf = spark.sparkContext.hadoopConfiguration
        val statePaths = for {
          id <- state.ids
          if id < bid && (horizonBatches <= 0 || id >= bid - horizonBatches)
          p = new org.apache.hadoop.fs.Path(state.dir(id))
          st <- p.getFileSystem(hconf).listStatus(p).toSeq
          n = st.getPath.getName
          if n.startsWith("cell=") &&
            touched.contains(n.substring("cell=".length).toInt)
        } yield st.getPath.toString
        val dropped = (if (statePaths.isEmpty) inBatch
          else inBatch.union(
            StoredParquet.read(spark, statePaths: _*)
              .select(col("cell_d").as("cell"), col("__v").as("__va"))
              .join(b, Seq("cell"))
              .filter(graft.ext.Similarity.cosine(col("__va"), col("__vb"))
                >= threshold)
              .select(col("id_b").as("__dup")))).distinct()
        assigned
          .join(dropped, col("id") === col("__dup"), "left_outer")
          .select(col("id"), col("cell"), col("__dup").isNull.as("keep"))
          .write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid")
        assigned
          .select(col("id"), col("__v"), col("cell"),
            col("cell").as("cell_d"))
          .repartition(col("cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(state.dir(bid))
      } finally assigned.unpersist()
      // horizon GC: state older than the probe window of EVERY future
      // batch — and of a crash-replay of THIS batch (which probes
      // [bid - horizon, bid)) — is dead. Caps durable state at
      // horizon × batch size instead of the whole corpus.
      if (horizonBatches > 0)
        state.drop(state.ids.filter(_ < bid - horizonBatches))
    }
  }

  /** Streaming form of [[graft.ext.Dedup.minhashDedupAgainstIndex]], the
    * continuous-ingest dedup loop: each micro-batch PROBES the stored
    * MinHash index (near-dup pairs against everything indexed so far plus
    * itself), then APPENDS its own keys and shingles so later batches dedup
    * against it. Near-dup pairs are symmetric and every pair's earlier side
    * is indexed by the time its later side arrives, so the accumulated pair
    * set equals the single-shot `minhashDedupAgainstIndex(all batches)`
    * however arrival slices the stream (pinned in StreamingSpec). The one
    * exception is bucket-cap demotion: an overflow bucket's representative
    * set can differ by slicing, so route mode-collapsed corpora through the
    * batch operator. MUTATES the index at `path`; that is the point.
    *
    * Per-batch verdicts go to a durable SINK, EXACTLY-ONCE across restarts
    * (the [[bm25IngestToSink]] discipline applied to the dedup loop).
    * Per micro-batch: (1) the batch PROBES the index with its own doc ids
    * EXCLUDED from the view: vacuous on the first delivery, and on a
    * restart replay whose append already committed it reconstructs the
    * exact pre-append index from any segment layout, so the replayed probe
    * reproduces the original verdicts bit for bit; (2) the pairs land at
    * `sink/batch_id=N` with per-directory overwrite (a replay overwrites
    * identical rows, never duplicates); (3) the batch APPENDS as a
    * segment committed by the manifest flip, tagged `b&lt;id&gt;` — a replayed
    * append is detected by the tag and skipped whole, so shingle rows
    * can never be double-stored (which would corrupt exact-Jaccard
    * verification for every later batch). The sink reads back as
    * (batch_id, id_a, id_b, jaccard) — the duplicate ledger of a growing
    * corpus. Pass the same `checkpoint` across restarts; single writer. */
  def minhashDedupIngestToSink(docs: DataFrame, path: String,
                               textCol: String, idCol: String,
                               sink: String, checkpoint: String,
                               threshold: Double = 0.8,
                               maxBucket: Int = 1000,
                               autoCompactAt: Int = 0,
                               autoCompactFiles: Long = 0L): Unit = {
    val spark = docs.sparkSession
    // ONE handle for the whole run: the manifest row is read once and
    // kept current in memory as this loop's own appends commit, and each
    // immutable segment's scan (file listing included) is cached for the
    // run, so per-batch store overhead tracks the BATCH, not the
    // accumulated segment count. A restart builds a fresh handle whose
    // manifest read restores replay detection.
    val idx = graft.ext.Dedup.openMinhashIndex(spark, path)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      // ID-BASED replay exclusion (round 17): a replayed probe must see
      // the pre-append index. Excluding the batch's own segment works
      // only while that segment still EXISTS — auto-compaction can fold
      // it away between the append and the checkpoint commit. Excluding
      // the batch's doc IDS reconstructs the same view from any segment
      // layout (store ids are unique; vacuous on first delivery).
      val (pairs, probeCheckpoints) = graft.ext.Dedup.probeIndex(
        idx, batch, textCol, idCol, threshold, maxBucket,
        excludeSeg = "", excludeDocs = Some(batch.select(idCol)))
      try pairs.write.mode("overwrite").parquet(s"$sink/batch_id=$bid")
      finally releaseCheckpoints(probeCheckpoints)
      graft.ext.Dedup.appendToMinhashIndex(idx, batch, textCol, idCol,
        tag = s"b$bid")
      // AUTO-COMPACTION policy: fold the accumulated micro-batch
      // segments back to one sorted base whenever the live count
      // crosses the threshold — bounds per-probe fragment costs over an
      // unbounded ingest without a separate maintenance job. Runs AFTER
      // the batch's own effects; content-preserving and committed by
      // the atomic manifest flip, so a crash at any point leaves a
      // readable store and the replay path above stays exact.
      // Two trigger measures: live SEGMENTS (per-segment fixed costs)
      // and live FILES (per-file open cost — the measure that actually
      // drives the pre-compaction probe slope; a many-tiny-batch ingest
      // under-fires a segment-count policy because each segment is a
      // sliver, ADVICE r17). Segment counts come from the in-memory
      // manifest; file counts from one cached tiny-dir listing per
      // append.
      if ((autoCompactAt > 0 && idx.liveSegments.length > autoCompactAt)
          || (autoCompactFiles > 0L && idx.liveFileCount > autoCompactFiles))
        graft.ext.Dedup.compactMinhashIndex(idx)
    }
  }

  /** END-TO-END STREAMING CURATION — the whole admission pipeline a
    * training corpus runs at ingest, as ONE exactly-once sink. Per
    * micro-batch, three gates in sequence:
    *
    *  1. QUALITY: token count ≥ `minTokens` (stateless, map-side).
    *  2. NEAR-DUP vs the CURATED corpus: the quality survivors probe the
    *     stored MinHash index (batch-internal smaller-id pairs included);
    *     a row is a dup when it is the LARGER side of any verified pair —
    *     keep-first semantics against everything already admitted.
    *  3. PER-LANGUAGE TOKEN BUDGET: survivors cumsum in (priority DESC,
    *     id) order on top of the language's carried fill; admitted while
    *     cumulative ≤ `budget` (every budget-stage row counts toward the
    *     fill, kept or not — the [[tokenBudgetToSink]] contract).
    *
    * ADMITTED rows — and only they — append to the MinHash index as the
    * batch's tagged segment: the index IS the curated corpus, so later
    * batches dedup against exactly what was admitted. Verdicts for EVERY
    * input row land at `sink/data/batch_id=B`
    * (`doc_id, quality_ok, is_dup, cum_tokens, admitted` — cum_tokens
    * NULL for rows cut before the budget stage); the per-language fill at
    * `sink/_state/batch_id=B`.
    *
    * Exactly-once across restarts, compositionally: the probe excludes
    * the batch's own IDS (replay reconstruction from any layout), the
    * fill fold reads only state < B, the append is tag-skipped, and both
    * sink writes are per-dir overwrites — a crash anywhere replays to
    * byte-identical verdicts, state, and index. */
  def curateIngestToSink(docs: DataFrame, idCol: String, textCol: String,
                         langCol: String, priorityCol: String,
                         indexPath: String, threshold: Double,
                         minTokens: Long, budget: Long,
                         sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val idx = graft.ext.Dedup.openMinhashIndex(spark, indexPath)
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val withQ = batch
        .withColumn("__nt",
          graft.ext.TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .withColumn("quality_ok", col("__nt") >= minTokens)
      val qual = withQ.filter(col("quality_ok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pinned LAZILY (round 22; was eager): the dup set feeds two of
      // the three concurrent effect legs below — the checkpoint makes
      // every leg read one materialization instead of re-probing the
      // index. Lazy is safe AND still probe-before-append: bud.count()
      // below materializes bud, whose broadcast join over notDup
      // collects dupIds first — i.e. the probe still executes strictly
      // BEFORE any leg (in particular before the append's manifest
      // flip), just without a dedicated materialization job.
      val (pairs, probeCheckpoints) = graft.ext.Dedup.probeIndex(idx, qual,
        textCol, idCol, threshold, maxBucket = 1000, excludeSeg = "",
        excludeDocs = Some(qual.select(idCol)))
      val dupIds = pairs
        .select(col("id_b").cast("long").as("__dup")).distinct()
        .localCheckpoint(false)
      val notDup = qual.join(broadcast(dupIds),
        qual(idCol).cast("long") === col("__dup"), "left_anti")
      val off = state.prior(bid).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("__tb_g", "__tb_off")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(langCol))
        .orderBy(col(priorityCol).desc, col(idCol))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val bud = notDup
        .withColumn("__inc", sum(col("__nt")).over(w))
        .join(broadcast(off),
          col(langCol).cast("string") <=> col("__tb_g"), "left")
        .withColumn("cum_tokens",
          (col("__inc") + coalesce(col("__tb_off"), lit(0L))).cast("long"))
        .withColumn("admitted", col("cum_tokens") <= budget)
        .select(col(idCol).cast("long").as("__bid"), col("cum_tokens"),
          col("admitted"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        bud.count() // materialize once, before the concurrent legs
        // the three per-batch effects — verdict write, state fold,
        // index append — are INDEPENDENT and individually idempotent
        // (per-dir overwrites; tag-skipped append), so their relative
        // order carries no replay semantics: a crash leaves any subset
        // committed and the replay re-derives the rest bit-identically.
        concurrently(
          () => withQ
            .select(col(idCol).cast("long").as("doc_id"), col("quality_ok"))
            .join(broadcast(dupIds), col("doc_id") === col("__dup"), "left")
            .join(broadcast(bud), col("doc_id") === col("__bid"), "left")
            .select(col("doc_id"), col("quality_ok"),
              (col("quality_ok") && col("__dup").isNotNull).as("is_dup"),
              col("cum_tokens"),
              coalesce(col("admitted"), lit(false)).as("admitted"))
            .write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid"),
          // fill AFTER this batch: carried + ALL budget-stage rows' tokens
          // (per-LANGUAGE fill — an ISO-bounded universe, so the one-file
          // coalesce is metadata work, unlike the caller-shaped quota/
          // token-budget sinks)
          () => state.commit(bid, off.unionByName(
              notDup.groupBy(col(langCol).cast("string").as("__tb_g"))
                .agg(sum(col("__nt")).as("__tb_off")))
            .groupBy(col("__tb_g"))
            .agg(sum(col("__tb_off")).as("__tb_off"))
            .coalesce(1)),
          // the curated corpus grows by exactly the admitted rows
          () => graft.ext.Dedup.appendToMinhashIndex(idx,
            batch.join(broadcast(bud.filter(col("admitted"))),
              batch(idCol).cast("long") === col("__bid"), "left_semi"),
            textCol, idCol, tag = s"b$bid"))
      } finally {
        bud.unpersist(); qual.unpersist()
        releaseCheckpoints(dupIds +: probeCheckpoints)
      }
    }
  }

  /** Streaming per-source document QUOTA, the continuous-ingest form of
    * `q_domain_cap`'s CommonCrawl-style per-host cap: admit at most
    * `maxPerSource` documents per source over the WHOLE stream. The batch
    * form keeps the top-N by quality because it sees the whole corpus; a
    * stream cannot, so it admits the FIRST N in arrival order, the online
    * quota any crawler frontier enforces. Both are gated, each against its
    * own oracle.
    *
    * A DURABLE exactly-once sink on the
    * state-fold discipline (no state store: the carried per-source
    * admitted count is ordinary parquet — inspectable, replayable, and
    * shared with any other consumer of the admission ledger). Per
    * micro-batch B: each source's rows admit in `idCol` order on top of
    * the CARRIED admitted count, at most `maxPerSource` over the
    * stream's life; the kept ledger `(sourceCol, idCol, n_kept)` lands
    * at `sink/data/batch_id=B`, the per-source counts after B at
    * `sink/_state/batch_id=B`.
    *
    * Admission equals the stream-order quota exactly (each batch's group
    * admits id-sorted on top of the carried count), and only ADMITTED rows
    * advance the count. Replay of B folds only state < B
    * ([[SinkState.prior]]) and overwrites its own two dirs —
    * byte-identical, forced-restart-tested; state GC keeps newest + one
    * grace generation ([[SinkState.commit]]). Null-safe on the source
    * key (the tokenBudget discipline). Scale shape: one shuffle on the
    * source key for the per-batch rank (a skewed mega-source pays only
    * its own partition), and the state stays one long per distinct
    * source ever seen — domain-universe metadata, broadcast to the
    * admission join. */
  def sourceQuotaToSink(docs: DataFrame, sourceCol: String, idCol: String,
                        maxPerSource: Int,
                        sink: String, checkpoint: String): Unit = {
    require(maxPerSource >= 1, s"maxPerSource must be >= 1, got $maxPerSource")
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val off = state.prior(bid).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("__sq_key", "__sq_adm")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(sourceCol)).orderBy(col(idCol))
      val kept = batch.select(col(sourceCol), col(idCol))
        .withColumn("__sq_rk", row_number().over(w).cast("long"))
        // NO forced broadcast: the per-source state is domain-universe-
        // sized — metadata for most deployments, but a web-scale source
        // set can reach GBs; the parquet-backed state has accurate size
        // stats, so Catalyst/AQE broadcasts while small and shuffles
        // when it isn't, instead of a forced hint OOMing the driver
        .join(off,
          col(sourceCol).cast("string") <=> col("__sq_key"), "left")
        .withColumn("n_kept",
          col("__sq_rk") + coalesce(col("__sq_adm"), lit(0L)))
        .filter(col("n_kept") <= maxPerSource)
        .select(col(sourceCol), col(idCol), col("n_kept"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        kept.write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid")
        // counts AFTER this batch: carried + the batch's ADMITTED rows,
        // in natural partitioning, like the join above argues: the source
        // universe is caller-shaped and can reach GBs at web scale — a
        // coalesce(1) here would fold that table through ONE task every
        // batch (the lmScoreToSink precedent: replay needs only content
        // determinism, nothing reads file layout)
        state.commit(bid, off.unionByName(
            kept.groupBy(col(sourceCol).cast("string").as("__sq_key"))
              .agg(count(lit(1)).as("__sq_adm")))
          .groupBy(col("__sq_key"))
          .agg(sum(col("__sq_adm")).as("__sq_adm")))
      } finally kept.unpersist()
    }
  }

  /** Streaming INGEST of a stored IVF ANN index — the third stored index
    * adopting the probe-then-append micro-batch discipline (BM25,
    * MinHash, now vectors): each batch's embeddings retrieve their top-k
    * nearest neighbors from the ACCUMULATED index (the standing
    * similarity alert: "what already in the corpus does this new data
    * look like" — streaming near-dup candidates, hard-negative streams,
    * dedup-before-add), land the verdicts at `sink/batch_id=N`, then
    * append themselves as a tagged segment.
    *
    * EXACTLY-ONCE across restarts, the full discipline:
    *  - the probe excludes the batch's own ids
    *    ([[graft.ext.Similarity.ivfTopKIndexed]] `excludeIds`) — exact
    *    from ANY segment layout, so replays stay correct even after
    *    auto-compaction folded the batch's segment;
    *  - the append is tag-skipped on replay (atomic manifest flip);
    *  - the sink write per-directory-overwrites identical rows.
    * `autoCompactAt` bounds fragmentation exactly like the other two
    * sinks. Single writer; pass the same `checkpoint` across restarts. */
  def ivfIngestToSink(vecs: DataFrame, path: String, idCol: String,
                      vecCol: String, k: Int, nprobe: Int,
                      sink: String, checkpoint: String,
                      autoCompactAt: Int = 0): Unit = {
    val spark = vecs.sparkSession
    // ONE handle per run (round 21, the minhashDedupIngestToSink
    // discipline): the per-batch probe/append/compact trio otherwise
    // re-reads the manifest row and the centroid table and re-lists every
    // segment's cell dirs on EVERY micro-batch — pure driver round-trips
    // that set the per-batch latency floor. A restart builds a fresh
    // handle whose manifest read restores replay detection.
    val idx = graft.ext.Similarity.openIvfIndex(spark, path)
    // record the checkpoint in the index meta BEFORE the stream starts:
    // a later recentring compaction enforces the quiesce guard against
    // THIS checkpoint automatically (no opt-in parameter to forget)
    graft.ext.Similarity.recordIvfIngestCheckpoint(idx, checkpoint)
    runMicroBatches(vecs, checkpoint) { (batch, bid) =>
      graft.ext.Similarity.ivfTopKIndexed(idx, batch, idCol, vecCol,
          k, nprobe, excludeIds = Some(batch.select(idCol)))
        .write.mode("overwrite").parquet(s"$sink/batch_id=$bid")
      graft.ext.Similarity.appendToIvfIndex(idx, batch, idCol, vecCol,
        tag = s"b$bid")
      if (autoCompactAt > 0 && idx.liveSegments.length > autoCompactAt)
        graft.ext.Similarity.compactIvfIndex(idx)
    }
  }

  /** Streaming INGEST of a stored IVF-PQ ANN index — the FOURTH stored
    * index on the probe-then-append discipline (round 18, enabled by the
    * PQ store's segment+manifest port): each embedding micro-batch
    * retrieves its codes-only ADC top-k from the ACCUMULATED store, then
    * appends itself as a tagged segment (assignment against the stored
    * centroids, encoding against the stored codebooks — codes stay
    * comparable forever). Exactly-once mechanics are the
    * [[ivfIngestToSink]] trio verbatim: id-based probe exclusion
    * (layout-independent replay reconstruction), tag-skipped appends,
    * per-batch-dir sink overwrite; `autoCompactAt` bounds fragmentation
    * with the assignment-preserving fold. */
  def pqIngestToSink(vecs: DataFrame, path: String, idCol: String,
                     vecCol: String, k: Int, nprobe: Int,
                     sink: String, checkpoint: String,
                     autoCompactAt: Int = 0): Unit = {
    val spark = vecs.sparkSession
    // one handle per run — cached manifest/centroids/codebooks/segment
    // listings across micro-batches (see [[ivfIngestToSink]])
    val idx = graft.ext.Similarity.openIvfIndex(spark, path)
    runMicroBatches(vecs, checkpoint) { (batch, bid) =>
      graft.ext.Similarity.ivfPqTopKIndexed(idx, batch, idCol, vecCol,
          k, nprobe, excludeIds = Some(batch.select(idCol)))
        .write.mode("overwrite").parquet(s"$sink/batch_id=$bid")
      graft.ext.Similarity.appendToIvfPqIndex(idx, batch, idCol,
        vecCol, tag = s"b$bid")
      if (autoCompactAt > 0 && idx.liveSegments.length > autoCompactAt)
        graft.ext.Similarity.compactIvfPqIndex(idx)
    }
  }

  /** Streaming INGEST of the inverted BM25 index
    * ([[graft.ext.Bm25.buildIndex]]) with a standing top-k query. Postings
    * and stats (and the df counts the probe derives from the postings) are
    * order-independent sums over the row multiset, so the accumulated
    * index equals `buildIndex(all batches)` EXACTLY regardless of arrival
    * slicing, and the last batch's top-k is the batch query's. MUTATES the
    * index at `path`; that is the point.
    *
    * Per-batch results go to a durable SINK, EXACTLY-ONCE end to
    * end across restarts. Per micro-batch: (1) the batch appends to the
    * index as a delta segment committed by the atomic stats flip, with
    * the micro-batch id as the idempotence tag — a restart that replays an
    * uncommitted-but-applied batch is detected and skipped
    * ([[graft.ext.Bm25.appendToIndex]]); (2) the standing top-k against
    * the as-of-now index lands at `sink/batch_id=N` with per-directory
    * overwrite — a replayed batch overwrites its own directory with the
    * identical verdicts (the index state it probes is identical, because
    * the replayed append was skipped), never duplicating rows. The sink
    * is a plain partitioned parquet table: `spark.read.parquet(sink)`
    * yields (batch_id, rank, doc_id, score_u6) — the per-batch alerting
    * ledger of a growing corpus. An empty micro-batch (an idle trigger)
    * appends nothing and writes no `batch_id=N` dir, like every other
    * sink. Checkpointed: pass the same `checkpoint` across restarts;
    * committed batches are never re-read. Single writer, like every index
    * mutation. */
  def bm25IngestToSink(docs: DataFrame, path: String, idCol: String,
                       textCol: String, terms: Seq[String], k: Int,
                       sink: String, checkpoint: String,
                       autoCompactAt: Int = 0): Unit = {
    val spark = docs.sparkSession
    // one handle per run (round 21, the minhashDedupIngestToSink
    // discipline applied to the text index): the per-batch append/
    // compact/probe trio otherwise re-reads the stats pointer and
    // re-lists every segment's buckets on EVERY micro-batch — pure
    // driver round-trips in the per-batch latency floor. A restart
    // builds a fresh handle whose stats read restores replay detection.
    val idx = graft.ext.Bm25.openIndex(spark, path)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      graft.ext.Bm25.appendToIndex(idx, batch, idCol, textCol,
        tag = s"b$bid")
      // AUTO-COMPACTION before the probe: fold the segment history to one
      // bucket-sorted segment when its deltas cross the threshold. Replay-safe
      // without any exclusion machinery — compaction is
      // content-preserving and the BM25 probe scores the index's
      // CONTENT (a replayed batch's append is tag-skipped, so the
      // replayed probe sees identical postings whatever the layout and
      // overwrites its sink directory with identical rows).
      if (autoCompactAt > 0 && idx.deltaSegments > autoCompactAt)
        graft.ext.Bm25.compactIndex(idx)
      graft.ext.Bm25.topKIndexed(idx, terms, k, k1 = 1.2, b = 0.75)
        .write.mode("overwrite").parquet(s"$sink/batch_id=$bid")
    }
  }

  /** End-to-end SHARDED TRAINING EXPORT, exactly-once across restarts:
    * each micro-batch is tokenized, epoch-shard-assigned, and packed where
    * its predecessors left off ([[graft.ext.Corpus.epochShardPack]] with
    * carried per-shard row/token bases), then written as actual per-shard
    * parquet files under `sink/data/batch_id=B/shard=S/` — the layout a
    * trainer's data loader streams shard by shard.
    *
    * Exactly-once mechanics (the bm25IngestToSink discipline, applied to
    * BOTH effects):
    *  - the data write targets the batch's OWN directory with
    *    mode=overwrite, so a replayed batch rewrites identical files;
    *  - the per-shard CUMULATIVE (rows, tokens) state after batch B is
    *    persisted to `sink/_state/batch_id=B` (numShards tiny rows, also
    *    overwrite-idempotent), and batch B reads its bases from the
    *    LARGEST persisted batch id < B — so a crash-and-replay of B sees
    *    exactly the bases the first attempt saw, never its own partial
    *    effects, and produces byte-identical output.
    *
    * Multi-batch contract: within a shard, `pos` and the token stream are
    * contiguous across batches in arrival order (each batch internally in
    * its deterministic (hash, id) order); for a single-batch source the
    * layout equals the batch operator exactly — both pinned in
    * StreamingSpec, including a forced-restart replay. Pass the same
    * `checkpoint` across restarts; single writer. */
  def shardedExportToSink(docs: DataFrame, idCol: String, tokens: Column,
                          epoch: Long, numShards: Int, seqLen: Long,
                          sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      // bases = cumulative state of the newest COMMITTED batch before
      // this one (replay-safe: batch B never reads its own state row)
      val st = state.prior(bid).fold(Array.empty[Row])(
        _.select(col("shard"), col("rows"), col("tokens")).collect())
      val baseRows = st.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val baseTokens = st.map(r => r.getLong(0) -> r.getLong(2)).toMap
      val out = graft.ext.Corpus.epochShardPack(batch, idCol,
        tokens, epoch, numShards, seqLen, baseRows, baseTokens)
      out.write.mode("overwrite").partitionBy("shard")
        .parquet(s"$sink/data/batch_id=$bid")
      // cumulative per-shard state AFTER this batch: base + this batch's
      // contribution (read back from the just-written files so the state
      // reflects exactly what a reader will see)
      val contrib = StoredParquet.read(spark, s"$sink/data/batch_id=$bid")
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("r"), sum(col("n_tokens")).as("t"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val allShards = (0L until numShards.toLong).map { sh =>
        val (br, bt) = (baseRows.getOrElse(sh, 0L), baseTokens.getOrElse(sh, 0L))
        val (cr, ct) = contrib.getOrElse(sh, (0L, 0L))
        (sh, br + cr, bt + ct)
      }
      import spark.implicits._
      state.commit(bid, allShards.toDF("shard", "rows", "tokens").coalesce(1))
    }
  }

  /** The one driver loop every `*ToSink` runs on, and the only place the
    * trigger and checkpoint policy are set: `body(batch, B)` runs per
    * micro-batch under `Trigger.AvailableNow` with `checkpoint` as the
    * checkpoint location, and the call returns once the input available at
    * start is drained. The checkpoint is what the sinks' exactly-once
    * contract rests on: committed batches are never re-delivered, and the
    * one uncommitted batch a restart can replay keeps its batch id. Pass
    * the same `checkpoint` across restarts; one writer per sink.
    *
    * The loop also owns the batch: it is persisted, so its emptiness test
    * caches what it computes and the body never rescans the source; an
    * empty batch (an idle trigger) skips the body and writes nothing; and
    * the batch is released even when the body throws. A body therefore
    * gets a persisted, non-empty batch and must not test or release it. */
  private def runMicroBatches(input: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit =
    input.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], bid: Long) =>
        val b = batch.toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try if (!b.isEmpty) body(b, bid)
        finally b.unpersist()
      }
      .start()
      .awaitTermination()

  /** The state a `*ToSink` carries across micro-batches: one directory per
    * batch under `sink/_state/batch_id=N`, listed through the Hadoop
    * FileSystem API (`java.io.File` only works on the local filesystem; on
    * the HDFS/S3 sinks these exports target it returns null and every
    * batch would silently fold from empty state).
    *
    * A CUMULATIVE sink writes the full fold after each batch: it reads
    * [[prior]] and writes with [[commit]]. The replay of batch B reads
    * exactly the state its first attempt saw, never its own partial
    * effects. The append-shaped SemDeDup state, where every batch dir
    * stays live, uses [[ids]] and [[dir]] only and must never commit. */
  private final class SinkState(spark: org.apache.spark.sql.SparkSession,
                                sink: String) {
    private val root = new org.apache.hadoop.fs.Path(s"$sink/_state")
    private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def dir(bid: Long): String = s"$sink/_state/batch_id=$bid"

    /** The batch ids that have a state dir. */
    def ids: Seq[Long] = {
      val f = fs
      (if (f.exists(root)) f.listStatus(root).toSeq else Seq.empty)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
        .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    }

    /** The newest committed state strictly before batch `bid`. */
    def prior(bid: Long): Option[DataFrame] =
      ids.filter(_ < bid).maxOption.map(p => StoredParquet.read(spark, dir(p)))

    /** Overwrites batch `bid`'s state with `state`, then deletes every
      * older state dir except the newest one (one grace generation, the
      * segment stores' retention). Replay-safe: only the last uncommitted
      * batch can replay, and its fold reads exactly that grace dir. Each
      * retained dir is the full fold, so storage stays O(2 × state size). */
    def commit(bid: Long, state: DataFrame): Unit = {
      state.write.mode("overwrite").parquet(dir(bid))
      drop(ids.filter(_ < bid).sorted.dropRight(1))
    }

    /** Deletes the state dirs of `old` batch ids. Best-effort, like the
      * segment stores' sweep: a transient FS failure must not fail the
      * batch, and the dir is listed and swept again by the next batch. */
    def drop(old: Seq[Long]): Unit = old.foreach { i =>
      try fs.delete(new org.apache.hadoop.fs.Path(dir(i)), true)
      catch { case _: Exception => () }
    }
  }

  /** Streaming form of [[graft.ext.Profile.corpusReport]]: the data card
    * of a continuously-growing corpus as a DURABLE sink, exactly-once
    * across restarts. Every piece of state is a commutative monoid over
    * the row multiset (sums add, the KMV sketch merges as a bounded set
    * union), so the running card equals the batch operator EXACTLY under
    * ANY arrival slicing. State: #groups × (3 longs + k longs). After
    * every micro-batch the RUNNING card of everything ingested so far is
    * written to `sink/card/batch_id=B` (the card is valid after every
    * batch — monitoring reads the newest one), and the raw mergeable
    * per-group state (sums + the KMV sketch array) to
    * `sink/_state/batch_id=B`.
    *
    * Exactly-once mechanics (the shardedExportToSink discipline): both
    * writes are overwrite-idempotent into the batch's OWN directory, and
    * batch B folds ONLY the newest persisted state with id < B
    * ([[SinkState.prior]]) — so a crash-and-replay of B sees exactly
    * what its first attempt saw and rewrites identical files.
    *
    * The fold itself is a #groups-row DataFrame aggregation, never a
    * driver collect: sums add, and the KMV merge is
    * `slice(array_sort(array_distinct(flatten(...))), 1, k)` — the same
    * ≤-k-smallest-distinct-hashes set semantics as
    * [[graft.ext.Profile.mergeKmv]], so the running card equals the batch
    * operator over everything ingested, under ANY arrival slicing. */
  def corpusReportToSink(docs: DataFrame, groupCol: String, textCol: String,
                         k: Int, sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val agg = graft.ext.Profile.corpusAggregates(batch, groupCol, textCol, k)
      state.commit(bid, state.prior(bid).fold(agg)(_.unionByName(agg)
        .groupBy(col(groupCol))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          slice(array_sort(array_distinct(flatten(
            collect_list(col("__kmv"))))), 1, k).as("__kmv")))
        .coalesce(1))
      // the card derives from the READ-BACK state, so it reflects
      // exactly what the next batch will fold on
      StoredParquet.read(spark, state.dir(bid))
        .withColumn("est_distinct_texts",
          graft.ext.Profile.kmvEstimate(col("__kmv"), k))
        .drop("__kmv")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$sink/card/batch_id=$bid")
    }
  }

  /** Streaming form of [[graft.ext.Corpus.tokenBudgetKeep]]: a LIVE
    * per-group token-budget counter (the "stop ingesting a language once
    * its allowance is full" shape), as a DURABLE admission-ledger sink,
    * exactly-once across restarts: each micro-batch's verdict rows
    * (cum_tokens, keep) land in `sink/data/batch_id=B`, and the per-group
    * fill level AFTER the batch in `sink/_state/batch_id=B` (one long per
    * group — metadata at any scale).
    *
    * Semantics: rows are cumsummed in the
    * batch-local (priority DESC, id) order on top of the group's CARRIED
    * fill (every row counts toward the fill, kept or not), which equals
    * the batch operator bit for bit whenever arrival respects the
    * per-group priority order (each batch's rows rank below everything
    * the group already ingested: the curated-backfill norm, pinned in
    * StreamingSpec) and degrades to arrival-order-first-fill otherwise,
    * the natural semantics of a live budget counter. Replay of
    * batch B folds only state < B ([[SinkState.prior]]) and overwrites
    * its own directories — byte-identical output, forced-restart-tested.
    * Null-group safety: the state stores the group's STRING image and the
    * join is null-safe (`<=>`), so a null group keeps its fill. */
  def tokenBudgetToSink(docs: DataFrame, groupCol: String, idCol: String,
                        priorityCol: String, tokensCol: String, budget: Long,
                        sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      val off = state.prior(bid).getOrElse {
        import spark.implicits._
        Seq.empty[(String, Long)].toDF("__tb_g", "__tb_off")
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol))
        .orderBy(col(priorityCol).desc, col(idCol))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      batch.withColumn("__tb_inc", sum(col(tokensCol).cast("long")).over(w))
        // no forced broadcast — the group universe is caller-chosen and
        // can be domain-sized; parquet-backed state has accurate stats,
        // so the optimizer picks broadcast vs shuffle (see the quota
        // sink's identical argument)
        .join(off,
          col(groupCol).cast("string") <=> col("__tb_g"), "left")
        .withColumn("cum_tokens",
          col("__tb_inc") + coalesce(col("__tb_off"), lit(0L)))
        .withColumn("keep", col("cum_tokens") <= budget)
        .drop("__tb_g", "__tb_inc", "__tb_off")
        .write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid")
      // fill AFTER this batch: carried + the batch's per-group totals,
      // in natural partitioning (the quota sink's argument, verbatim):
      // the group universe is domain-sized — no single-task funnel
      state.commit(bid, off.unionByName(
          batch.groupBy(col(groupCol).cast("string").as("__tb_g"))
            .agg(sum(col(tokensCol).cast("long")).as("__tb_off")))
        .groupBy(col("__tb_g"))
        .agg(sum(col("__tb_off")).as("__tb_off")))
    }
  }

  /** Streaming Count-Min sketch ([[graft.ext.Profile.cmsSketch]]): the
    * counter matrix's sum monoid makes the running sketch EXACT under any
    * micro-batch slicing. The counter matrix is a DURABLE streaming
    * artifact, exactly-once across restarts: after every micro-batch the
    * RUNNING sketch (≤ depth×width
    * `(row, bucket, cnt)` rows — the state IS the queryable artifact)
    * lands at `sink/_state/batch_id=B`. The fold is the sketch's sum
    * monoid as a DataFrame aggregation; replay of batch B folds only the
    * newest state < B ([[SinkState.prior]]) and overwrites its own
    * directory — byte-identical, forced-restart-tested. A monitoring
    * probe reads the newest batch dir at any time and sees the exact
    * sketch of everything ingested so far. */
  def cmsSketchToSink(values: DataFrame, valueCol: String,
                      depth: Int, width: Int,
                      sink: String, checkpoint: String): Unit = {
    val spark = values.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(values, checkpoint) { (batch, bid) =>
      // an all-NULL batch has an empty sketch (cmsSketch drops nulls) but
      // is not idle: it still lands its unchanged running state
      val bs = graft.ext.Profile.cmsSketch(batch, valueCol, depth, width)
      state.commit(bid, state.prior(bid).fold(bs)(_.unionByName(bs)
        .groupBy(col("row"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt")))
        .coalesce(1))
    }
  }

  /** Streaming Bloom-filter build ([[graft.ext.Profile.bloomBitmap]]):
    * bit-set union is an OR monoid, so the running bitmap over any
    * micro-batch slicing equals the batch build exactly. The bitmap is a
    * DURABLE streaming artifact, exactly-once across restarts: after every
    * micro-batch the RUNNING bitmap (numBits/64
    * `(idx, word)` rows) lands at `sink/_state/batch_id=B`; the fold is
    * the OR monoid over the carried words (bitmap-sized — KBs — so the
    * driver-side OR is metadata work). Same replay discipline as every
    * `*ToSink`: fold only state < B, overwrite own dir. */
  def bloomBitmapToSink(values: DataFrame, valueCol: String,
                        numHashes: Int, numBits: Int,
                        sink: String, checkpoint: String): Unit = {
    val spark = values.sparkSession
    val state = new SinkState(spark, sink)
    runMicroBatches(values, checkpoint) { (batch, bid) =>
      // an all-NULL batch sets no bit but is not idle: it still lands its
      // unchanged running bitmap
      val bw = graft.ext.Profile.bloomBitmap(batch, valueCol,
        numHashes, numBits)
      val prev = state.prior(bid).fold(new Array[Long](numBits / 64))(
        _.select(col("idx"), col("word")).orderBy(col("idx"))
          .collect().map(_.getLong(1)))
      import spark.implicits._
      state.commit(bid, prev.zip(bw).map { case (a, b) => a | b }
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toSeq
        .toDF("idx", "word").coalesce(1))
    }
  }

  /** Streaming k-means assignment against a PINNED fitted model
    * ([[graft.ml.ExactKMeans]]): the fit-batch/serve-stream shape —
    * cluster a 100 TB backlog once, then classify the continuous ingest
    * into the same cells forever. The scorer is a STATELESS map over plan
    * literals (no join, no state store), so any micro-batching yields the
    * batch assignment exactly (StreamingSpec pins multi-batch == batch).
    * A DURABLE, exactly-once sink: the
    * exact model IS the pinned artifact — the quantized centroid rows
    * `(cell, dim, qm)` plus `max_abs_input` land at `sink/_model`
    * BEFORE the stream starts (k × dim rows, model metadata; the write
    * is idempotent because the content is a pure function of `fit`),
    * so any consumer — a dashboard, a restarted serving job, an audit —
    * reads exactly the model the verdicts were scored with. Per
    * micro-batch the stateless map-only assignment `(id, cell, score)`
    * lands at `sink/data/batch_id=B`.
    *
    * Exactly-once is the per-dir-overwrite discipline alone: assignment
    * carries NO cross-batch state, so a crash-and-replay of any batch
    * rewrites byte-identical files (forced-restart-tested). Scale
    * shape: the model rides the closure (KBs), scoring is map-side,
    * throughput tracks partitions — no shuffle anywhere. */
  def kmeansAssignToSink(docs: DataFrame, idCol: String, vecCol: String,
                         fit: graft.ml.ExactKMeans.Fit,
                         sink: String, checkpoint: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    fit.qm.zipWithIndex.flatMap { case (row, cell) =>
      row.zipWithIndex.map { case (q, d) => (cell, d, q) }
    }.toSeq.toDF("cell", "dim", "qm")
      .withColumn("max_abs_input", lit(fit.maxAbsInput))
      .coalesce(1) // k x dim rows — model metadata by construction
      .write.mode("overwrite").parquet(s"$sink/_model")
    runMicroBatches(docs, checkpoint) { (batch, bid) =>
      graft.ml.ExactKMeans
        .assign(batch, col(idCol), col(vecCol), fit)
        .write.mode("overwrite").parquet(s"$sink/data/batch_id=$bid")
    }
  }
}
