package graft.runner

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spec._
import graft.ops.{ColumnOps, StoredParquet, Template}

/** Result of materializing one op. */
sealed trait MatResult
final case class FrameResult(df: DataFrame) extends MatResult
final case class JsonResult(json: JValue) extends MatResult
final case class ModelResult(model: org.apache.spark.ml.Transformer) extends MatResult

/** The pull-based, memoizing, content-addressed executor — layer (c) of the
  * engine (reference `runners/local_runner/local_arrow_runner.py:307-497`,
  * `base_runner.py:159-258`), re-designed Spark-first:
  *
  *   - Every implementation returns a **lazy** DataFrame. Ephemeral ops are
  *     never persisted (reference `op_spec.py:385-402`): a chain of
  *     ephemeral ops composes into ONE Catalyst plan, so predicate pushdown
  *     / column pruning / whole-stage codegen apply across op boundaries —
  *     strictly better than the reference, which recomputes ephemerals on
  *     every pull.
  *   - Non-ephemeral results persist to a content-addressed store
  *     `store/<ClassName>/<hash>/` as `result.parquet` (zstd) / `result.json`
  *     / `model.json` or `model/` ([[graft.ml.ModelCodec]]), plus a `done`
  *     marker and a `status.json` that embeds the op's full serialized graph
  *     (the rehydration + cross-machine sharing medium, reference
  *     `local_arrow_runner.py:250-269`). The second
  *     materialize of any op — in this process or another — is an
  *     O(metadata) store read, no recompute.
  *   - Positional identity: every dataset carries a deterministic
  *     `__row_idx` stamped at load; column results are `(__row_idx, value)`
  *     frames; multi-input ops are equi-joins on `__row_idx` (SURVEY §7.4.1).
  *
  * Store layout is engine-agnostic local-FS here; at cluster scale the same
  * layout goes through the Hadoop FS API (s3a://, gs://) — only `fsPath`
  * changes.
  */
class LocalSparkRunner(val spark: SparkSession, val storeUri: String) {

  import LocalSparkRunner._

  val ValueCol = ColumnOps.ValueCol
  private val RowIdx = ColumnOps.RowIdx

  // future-based memo: the map entry is claimed BEFORE computing (so a
  // concurrent materialize of the same op waits on the first attempt's
  // future instead of recomputing), and computation happens OUTSIDE any
  // map lock (computeIfAbsent would deadlock on the recursive dependency
  // materializations). Failures are evicted — a retry recomputes, matching
  // the old exception-propagating getOrElseUpdate semantics.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[MatResult]]
  private val lengthMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  // frames this runner persist()'d into the block cache — released by close()
  private val cachedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Release this runner's block-cache entries and memo. A runner is cheap
    * to construct, but its persisted column frames are not: without an
    * unpersist path, per-runner cache entries accumulate in the shared
    * Spark block cache for the life of the session (observed as repeated
    * `CacheManager: Asked to cache already cached data` warnings and
    * steadily rising storage-memory pressure across a multi-query run).
    * Call when the runner's results are no longer needed; the
    * content-addressed store is untouched, so re-materialization after
    * close() is an O(metadata) store read. */
  def close(): Unit = synchronized {
    cachedFrames.foreach(_.unpersist(false))
    cachedFrames.clear()
    memo.clear()
    lengthMemo.clear()
  }

  /** Row count of an op's result, structurally: a [[RowAligned]] op keeps
    * one row per row of its first dataset or column dependency, so its
    * length IS that input's length — resolved by recursion down to the
    * owning dataset with NO Spark job; only genuinely length-defining ops
    * (loads, TakeRows, MaskRows, ...) ever count, once, memoized.
    * Collapses the reference's per-op length validations
    * (`local_arrow_runner.py:818-836`) from one full lineage scan per check
    * to at most one count per distinct dataset — and same-dataset checks
    * (the common case) become free structural equalities.
    */
  def lengthOf(op: OpSpec): Long = op match {
    case g: GroupedOp => lengthOf(g.ops.last)
    case t: JinjaTemplatizeOp if t.context.isEmpty => 1L
    case r: RowAligned => lengthOf(r.rowSource)
    case _ =>
      // get-then-putIfAbsent (NOT computeIfAbsent: the count materializes
      // dependencies, which may re-enter this memo on other keys); a racing
      // duplicate count is benign — both arrive at the same value
      val cached = lengthMemo.get(op.uuid)
      if (cached != null) cached.longValue()
      else {
        val n = toFrame(op).count()
        lengthMemo.putIfAbsent(op.uuid, n)
        n
      }
  }

  // ---------------- store layout ----------------

  protected def split(uuid: String): (String, String) = {
    val i = uuid.indexOf('_')
    (uuid.substring(0, i), uuid.substring(i + 1))
  }
  def opDir(op: OpSpec): Path = {
    val (cls, hash) = split(op.uuid)
    Paths.get(storeUri, cls, hash)
  }
  private def donePath(op: OpSpec): Path = opDir(op).resolve("done")
  private def statusPath(op: OpSpec): Path = opDir(op).resolve("status.json")
  private def resultParquet(op: OpSpec): Path = opDir(op).resolve("result.parquet")
  private def resultJson(op: OpSpec): Path = opDir(op).resolve("result.json")
  private def modelJson(op: OpSpec): Path = opDir(op).resolve("model.json")
  private def modelDir(op: OpSpec): Path = opDir(op).resolve("model")

  /** `done`-marker protocol (reference `local_arrow_runner.py:146-152`). */
  def isDone(op: OpSpec): Boolean = Files.exists(donePath(op))

  /** Hook fired after an op's result + `done` marker land in the store
    * (write-through point for tiered runners; no-op here). */
  protected def onResultPersisted(op: OpSpec): Unit = ()

  /** The last steps of every completion, after the result landed: the
    * `completed` status, then the `done` marker, then the write-through
    * hook (a reader that sees `done` finds the status; the hook copies
    * both up). */
  private def markCompleted(op: OpSpec, started: String, fmt: String): Unit = {
    writeStatus(OpStatus(op.uuid, OpState.Completed,
      startedAt = Some(started),
      completedAt = Some(Instant.now.toString),
      resultFormat = Some(fmt),
      graph = Some(Graph.serialize(op))))
    markDone(op)
  }

  private def markDone(op: OpSpec): Unit = {
    Files.writeString(donePath(op), "")
    onResultPersisted(op)
  }

  private def markFailed(op: OpSpec, started: String, e: Throwable): Unit =
    writeStatus(OpStatus(op.uuid, OpState.Failed,
      startedAt = Some(started),
      completedAt = Some(Instant.now.toString),
      error = Some(String.valueOf(e.getMessage)),
      graph = Some(Graph.serialize(op))))

  /** Reference `has_result`: ephemeral ops are "ready" iff all their deps
    * are ready (`local_arrow_runner.py:230-248`). */
  def hasResult(op: OpSpec): Boolean = op match {
    case LoadLocalParquetDatasetOp(_, path) => Files.exists(Paths.get(path))
    case LoadLocalJsonlDatasetOp(_, path) => Files.exists(Paths.get(path))
    case LoadLocalCsvDatasetOp(_, path, _) => Files.exists(Paths.get(path))
    case _ if {
      val f = memo.get(op.uuid)
      f != null && f.isDone && !f.isCompletedExceptionally
    } => true
    case _ if op.isEphemeral => op.children.forall(hasResult)
    case _ => isDone(op)
  }

  def status(op: OpSpec): OpStatus = {
    val p = statusPath(op)
    if (Files.exists(p)) OpStatus.read(op.uuid, p)
    else OpStatus(op.uuid,
      if (op.isEphemeral) OpState.Ephemeral else OpState.New)
  }

  protected def writeStatus(st: OpStatus): Unit = {
    Files.createDirectories(Paths.get(storeUri, split(st.uuid)._1, split(st.uuid)._2))
    val p = Paths.get(storeUri, split(st.uuid)._1, split(st.uuid)._2, "status.json")
    // write-to-sibling + atomic rename: a concurrent reader (another
    // process sharing the store) never observes a truncated status file
    val tmp = p.getParent.resolve(
      "." + p.getFileName + ".w" + ProcessHandle.current().pid() +
        "t" + Thread.currentThread().getId)
    Files.writeString(tmp, Json.renderPretty(st.toJson))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Register an op in the store WITHOUT materializing it: writes a `new`
    * status embedding the full graph so the op is rehydratable by UUID
    * (reference `runner.prepare`, used by `make_group` — `cli.py:533`).
    * Never clobbers an existing status (a completed op stays completed). */
  def prepare(op: OpSpec): Unit =
    if (!Files.exists(statusPath(op)))
      writeStatus(OpStatus(op.uuid, OpState.New, graph = Some(Graph.serialize(op))))

  /** Inject an EXTERNALLY-computed result for `op` (reference
    * `base_runner.write_numpy/write_arrow/write_json/write_sklearn_estimator`,
    * `base_runner.py:363-410`): the op is persisted and marked completed,
    * so every downstream consumer — this process or any machine sharing
    * the store — serves it without recompute. Returns false (no write)
    * when a result already exists: content-addressed results are
    * immutable, first writer wins. Ephemeral ops have no stored result by
    * contract and are rejected. */
  def writeResult(op: OpSpec, result: MatResult): Boolean = {
    if (op.isEphemeral) throw new IllegalArgumentException(
      s"${op.typeName} is ephemeral: ephemeral results are never persisted")
    if (isDone(op)) false
    else {
      val started = Instant.now.toString
      markCompleted(op, started, persist(op, result))
      memo.remove(op.uuid) // injected result wins over any lazy plan
      true
    }
  }

  def writeFrame(op: OpSpec, df: DataFrame): Boolean =
    writeResult(op, FrameResult(df))
  def writeJson(op: OpSpec, json: JValue): Boolean =
    writeResult(op, JsonResult(json))
  def writeModel(op: OpSpec, model: org.apache.spark.ml.Transformer): Boolean =
    writeResult(op, ModelResult(model))

  /** Rehydrate an op from the store by UUID: the status file embeds the full
    * graph (reference `local_arrow_runner.py:250-269`). */
  def uuidToOp(uuid: String): OpSpec = {
    val (cls, hash) = split(uuid)
    val p = Paths.get(storeUri, cls, hash, "status.json")
    if (!Files.exists(p))
      throw new NoSuchElementException(s"no status for $uuid in store $storeUri")
    OpStatus.read(uuid, p).op(uuid)
  }

  /** All op UUIDs present in the store (for CLI status/summary). */
  def listStore(): Seq[String] =
    LocalSparkRunner.storeEntries(Paths.get(storeUri)).map(_._1).sorted

  // ---------------- entry points ----------------

  /** Build a LoadLocalParquetDatasetOp whose identity is the streamed sha256
    * of the file bytes — NOT the path (reference `dataset_ops.py:61-72`,
    * `local_arrow_runner.py:154-198`). */
  def fromParquet(path: String): LoadLocalParquetDatasetOp =
    LoadLocalParquetDatasetOp(contentHash = contentHashOf(path, Some(spark)),
      filePath = path)

  /** JSONL / CSV analogues of [[fromParquet]]: identity = streamed sha256
    * of the file bytes, never the path. */
  def fromJsonl(path: String): LoadLocalJsonlDatasetOp =
    LoadLocalJsonlDatasetOp(contentHash = contentHashOf(path, Some(spark)),
      filePath = path)

  def fromCsv(path: String, header: Boolean = true): LoadLocalCsvDatasetOp =
    LoadLocalCsvDatasetOp(contentHash = contentHashOf(path, Some(spark)),
      filePath = path, header = header)

  /** Materialize as a DataFrame (datasets and column ops). */
  def toFrame(op: OpSpec): DataFrame = materialize(op) match {
    case FrameResult(df) => df
    case other => throw new IllegalArgumentException(
      s"${op.typeName} result is not a frame: $other")
  }

  /** Materialize a column op and return just its values (ordered). */
  def toValues(op: OpSpec): Seq[Any] =
    toFrame(op).orderBy(col(RowIdx)).select(col(ValueCol))
      .collect().toSeq.map(_.get(0))

  def toJson(op: OpSpec): JValue = materialize(op) match {
    case JsonResult(j) => j
    case other => throw new IllegalArgumentException(
      s"${op.typeName} result is not json: $other")
  }

  def toModel(op: OpSpec): org.apache.spark.ml.Transformer = materialize(op) match {
    case ModelResult(m) => m
    case other => throw new IllegalArgumentException(
      s"${op.typeName} result is not a model: $other")
  }

  // ---------------- materialization core ----------------

  /** Single memoization gate. Safe to call from MULTIPLE THREADS: ops are
    * deduped on their uuid (a concurrent second caller blocks on the first
    * attempt's future), computation runs outside any lock, and Spark itself
    * schedules jobs from concurrent threads fine — so a multi-threaded
    * driver (a server handling several users, or [[materializeAll]]) can
    * overlap independent subgraphs on one cluster. */
  def materialize(op: OpSpec): MatResult = {
    val existing = memo.get(op.uuid)
    if (existing != null) return awaitMemo(op, existing)
    val fresh = new java.util.concurrent.CompletableFuture[MatResult]()
    val prior = memo.putIfAbsent(op.uuid, fresh)
    if (prior != null) return awaitMemo(op, prior)
    val t0 = System.nanoTime()
    def seconds = (System.nanoTime() - t0) / 1e9
    try {
      val (r, outcome) = materializeAny(op)
      postOpEvent(op, seconds, outcome)
      fresh.complete(r)
      r
    } catch {
      case e: Throwable =>
        postOpEvent(op, seconds, graft.Meter.Failed)
        fresh.completeExceptionally(e)
        memo.remove(op.uuid, fresh) // failures are not cached; retry recomputes
        throw e
    }
  }

  /** A call that found the uuid in the memo: a memo hit, or a failure when
    * the attempt it waited on failed. */
  private def awaitMemo(op: OpSpec,
      f: java.util.concurrent.CompletableFuture[MatResult]): MatResult = {
    val r = try awaitResult(f) catch {
      case e: Throwable => postOpEvent(op, 0.0, graft.Meter.Failed); throw e
    }
    postOpEvent(op, 0.0, graft.Meter.MemoHit)
    r
  }

  /** One [[graft.Meter.OpEvent]] per call on the session's listener bus
    * (asynchronous; read by the measuring programs' [[graft.Meter]]). */
  private def postOpEvent(op: OpSpec, seconds: Double,
      outcome: graft.Meter.Outcome): Unit =
    org.apache.spark.GraftBus.post(spark.sparkContext, graft.Meter.OpEvent(
      op.getClass.getSimpleName, op.uuid, seconds, outcome))

  private def awaitResult(
      f: java.util.concurrent.CompletableFuture[MatResult]): MatResult =
    try f.join()
    catch {
      case e: java.util.concurrent.CompletionException =>
        throw Option(e.getCause).getOrElse(e)
    }

  /** Materialize INDEPENDENT ops concurrently on a bounded pool — overlaps
    * the scheduling gaps of sequential op-at-a-time driving (the reference
    * is strictly 1-thread op-at-a-time, `base_runner.py:159-258`; this is
    * the beyond-reference throughput path for sibling subgraphs). Results
    * are in input order, and failures propagate in INPUT order as the
    * caller reaches them — not fail-fast: already-submitted ops run to
    * completion (their content-addressed results stay valid in the store,
    * so nothing is wasted), and a later op's failure surfaces only after
    * earlier ops are awaited. */
  def materializeAll(ops: Seq[OpSpec], parallelism: Int = 4): Seq[MatResult] = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val futs = ops.map(op => pool.submit(
        new java.util.concurrent.Callable[MatResult] {
          override def call(): MatResult = materialize(op)
        }))
      futs.map(f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        })
    } finally pool.shutdown()
  }

  private def materializeAny(op: OpSpec): (MatResult, graft.Meter.Outcome) = op match {
    case g: GroupedOp => (materializeGroup(g), graft.Meter.Computed)
    case _ =>
      // readResult = None means a concurrent gc collected the completed
      // entry between the isDone probe and the read: fall through and
      // recompute (the entry was legitimately unkept; correctness is
      // content-addressed, not location-addressed)
      (if (!op.isEphemeral && isDone(op)) readResult(op, StoredParquet.read(spark, _))
       else None) match {
        case Some(r) => (r, graft.Meter.StoreHit)
        case None => (materialize0(op), graft.Meter.Computed)
      }
  }

  /** GroupedOp is a materialization UNIT, not a copy: members persist under
    * their own uuids (nested groups recurse); the group itself records only
    * status + done — persisting the last member's result AGAIN under the
    * group's hash would double the store I/O for already content-addressed
    * data. Full status lifecycle (running → completed/failed) is kept so
    * CLI status/summary stay truthful. */
  private def materializeGroup(g: GroupedOp): MatResult = {
      // memoization happens in materialize() — this body runs once per uuid
      val started = Instant.now.toString
      if (!isDone(g))
        writeStatus(OpStatus(g.uuid, OpState.Running,
          startedAt = Some(started), graph = Some(Graph.serialize(g))))
      try {
        val results = g.ops.map(materialize)
        if (!isDone(g)) markCompleted(g, started, "grouped")
        results.lastOption.getOrElse(
          throw new IllegalArgumentException("GroupedOp with no ops"))
      } catch {
        case e: Throwable => markFailed(g, started, e); throw e
      }
    }

  private def materialize0(op: OpSpec): MatResult = {
    // memoization happens in materialize() — this body runs once per uuid
    if (op.isEphemeral) {
      // stays lazy; nothing persisted (ephemeral fusion). Select frames —
      // narrow (idx, value) projections pulled by many consumers (train
      // AND predict AND eval all pull x) — additionally go to the Spark
      // block cache, the distributed analog of the reference's in-process
      // `_materialization_cache` (`local_arrow_runner.py:309-324`): lazy
      // until first action, spills to disk, column pruning already
      // happened at the select so the cached width is minimal.
      compute(op) match {
        case FrameResult(df) if op.isInstanceOf[SelectColumnOp] =>
          val persisted = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          synchronized { cachedFrames += persisted }
          FrameResult(persisted)
        case other => other
      }
    } else {
      // captured once so completed/failed statuses report the true
      // duration (re-stamping at completion showed ~0 every time)
      val started = Instant.now.toString
      writeStatus(OpStatus(op.uuid, OpState.Running,
        startedAt = Some(started),
        graph = Some(Graph.serialize(op))))
      try {
        val result = compute(op)
        val fmt = persist(op, result)
        markCompleted(op, started, fmt)
        // re-read data results from the store so downstream consumers scan
        // the compact persisted parquet, not the original lineage; if a
        // concurrent gc swept our freshly-completed entry already, the
        // in-hand computed result is the semantically-identical fallback
        if (fmt == "parquet") readResult(op, StoredParquet.read(spark, _)).getOrElse(result)
        else result
      } catch {
        case e: Throwable => markFailed(op, started, e); throw e
      }
    }
  }

  private def persist(op: OpSpec, result: MatResult): String = result match {
    case FrameResult(df) =>
      persistStaged(op, resultParquet(op))(StoredParquet.write(df, _))
      "parquet"
    case JsonResult(j) =>
      persistStaged(op, resultJson(op))(tmp =>
        Files.writeString(tmp, Json.renderPretty(j)))
      "json"
    case ModelResult(m) =>
      graft.ml.ModelCodec.encode(m, spark) match {
        case Some(json) =>
          persistStaged(op, modelJson(op))(tmp => Files.writeString(tmp, json))
        case None =>
          persistStaged(op, modelDir(op))(tmp => graft.ml.ModelCodec.saveDir(m, tmp))
      }
      "model"
  }

  private val persistNonce = new java.util.concurrent.atomic.AtomicLong(0)

  /** Stage-and-rename persist: `write` produces the COMPLETE result in a
    * (pid, thread, nonce)-unique temp sibling, which is atomically renamed
    * onto `target`. Concurrent writers of the same content-addressed result
    * — other threads (the memo normally prevents this) and other PROCESSES
    * sharing the store (the CLI's multi-process `run` path) — each stage
    * privately; the first rename wins, losers discard. The target therefore
    * only ever holds a COMPLETE result, so a reader that saw the `done`
    * marker can never observe a half-written directory. (The direct
    * `mode("overwrite")` write this replaces let two JVMs interleave part
    * files and `_temporary` state in one directory.) A pre-existing target
    * without `done` is crash debris or a racer that hasn't won yet: it is
    * REPLACED, never merged — parquet part names differ per writer, and a
    * per-file merge would duplicate every row. */
  private def persistStaged(op: OpSpec, target: Path)(write: Path => Unit): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(
      "." + target.getFileName + ".stage" + ProcessHandle.current().pid() +
        "t" + Thread.currentThread().getId + "n" + persistNonce.incrementAndGet())
    try {
      write(tmp)
      // NOTE rename onto a non-empty directory surfaces as ENOTEMPTY, which
      // the JDK maps to a GENERIC FileSystemException (DirectoryNotEmpty-
      // Exception is only thrown by delete paths) — so the race catches
      // below must be that broad, with "did the target actually land"
      // distinguishing a lost race from a genuine IO failure.
      //
      // A pre-existing done-less target (crash debris, or a racer between
      // its rename and its done write) is claimed by ATOMIC RENAME-ASIDE,
      // never by slow recursive delete: if the racer's done marker lands
      // while we hold its result aside, we restore it atomically — so the
      // done-but-no-result window is two renames wide, not a whole
      // parquet-directory delete wide, and [[readResult]]'s bounded re-check
      // absorbs it.
      var attempts = 0
      var placed = false
      var lastErr: Option[java.nio.file.FileSystemException] = None
      // A claimed-aside racer result is held UNTIL this writer's own
      // placement succeeds: the racer doesn't know its result was taken and
      // will still publish its done marker, so discarding the aside before
      // we have placed OUR result can strand the store in a permanent
      // done-without-result state if our rename then fails for real. On
      // final failure the held aside (a COMPLETE, content-addressed-
      // interchangeable result) is restored onto the target instead.
      var heldAside: Option[Path] = None
      def dropAside(): Unit = { heldAside.foreach(deleteRecursively); heldAside = None }
      try {
        while (!placed && attempts < 5) {
          attempts += 1
          if (Files.exists(target)) {
            if (Files.exists(donePath(op))) placed = true // completed winner stands
            else {
              val aside = target.getParent.resolve(
                "." + target.getFileName + ".aside" + ProcessHandle.current().pid() +
                  "t" + Thread.currentThread().getId + "n" + persistNonce.incrementAndGet())
              try {
                Files.move(target, aside, StandardCopyOption.ATOMIC_MOVE)
                dropAside() // superseded by this fresher claim
                heldAside = Some(aside)
                if (Files.exists(donePath(op))) {
                  // the racer committed between our check and the move-aside:
                  // its result is the published one — put it straight back
                  try {
                    Files.move(aside, target, StandardCopyOption.ATOMIC_MOVE)
                    heldAside = None; placed = true
                  } catch { case _: java.nio.file.FileSystemException =>
                    () } // yet another racer re-filled target; loop re-checks
                }
              } catch { // move-aside lost to a concurrent claim; loop re-checks
                case e: java.nio.file.FileSystemException => lastErr = Some(e)
              }
            }
          }
          if (!placed && !Files.exists(target)) {
            try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); placed = true }
            catch { // racer renamed in between our check and move; loop re-checks
              case e: java.nio.file.FileSystemException => lastErr = Some(e)
            }
          }
        }
        if (!placed) {
          // a surviving target is only trustworthy with its done marker (a
          // racer's committed result, content-addressed-interchangeable with
          // ours). Failing that, restore a held aside — the racer whose
          // result we took may still publish done, and the restore makes
          // that marker truthful again. Only when neither holds may this
          // writer FAIL (and it must, rather than let the caller publish a
          // done marker over state this writer never verified).
          if (!(Files.exists(target) && Files.exists(donePath(op)))) {
            heldAside match {
              case Some(aside) if !Files.exists(target) =>
                try {
                  Files.move(aside, target, StandardCopyOption.ATOMIC_MOVE)
                  heldAside = None; placed = true
                } catch { case _: java.nio.file.FileSystemException => () }
              case _ => ()
            }
            if (!placed)
              throw lastErr.getOrElse(new IllegalStateException(
                s"persist of ${op.uuid} could not claim $target"))
          }
        }
      } finally dropAside()
    } finally deleteRecursively(tmp)
  }

  /** Best-effort recursive delete: a concurrent writer renaming INTO the
    * tree mid-delete (shared-store race) makes strict deletion throw; every
    * caller re-examines or re-verifies the directory afterwards, so partial
    * progress is fine. Shared with the cached tier and the CLI `gc`
    * command (one protocol, one implementation — the static form lives on
    * the companion). */
  protected def deleteRecursively(p: Path): Unit =
    LocalSparkRunner.deleteTreeTolerant(p)

  /** Read a completed entry's result. None = the entry was COLLECTED out
    * from under us (done marker gone too — a concurrent gc legitimately
    * swept a completed, unkept entry; deleteTreeTolerant removes the
    * marker first, so the collected state is unambiguous): the caller
    * recomputes. A STANDING done with persistently absent results, or
    * with part files that disagree with the result's
    * [[StoredParquet.SchemaFile]] on every attempt, remains a hard error —
    * that is real store corruption. A parquet result opens with
    * `openParquet` (its dir). */
  private def readResult(op: OpSpec,
                         openParquet: String => DataFrame): Option[MatResult] = {
    // bounded re-check: a cross-process replace claim ([[persistStaged]])
    // has a two-rename-wide window where done exists but the result is
    // mid-swap; one short retry absorbs it
    var attempt = 0
    while (attempt < 3) {
      // the READ itself is inside the retry, not just the exists() probe: a
      // cross-process aside/restore swap between exists() and the parquet
      // listing (or the JSON/model load) surfaces as AnalysisException /
      // FileNotFoundException / NoSuchFileException and must be absorbed by
      // the same bounded re-check, not escape as a materialize failure
      try {
        if (Files.exists(resultParquet(op)))
          return Some(FrameResult(openParquet(resultParquet(op).toString)))
        else if (Files.exists(resultJson(op)))
          return Some(JsonResult(Json.parse(Files.readString(resultJson(op)))))
        else if (Files.exists(modelJson(op)))
          return Some(ModelResult(
            graft.ml.ModelCodec.decode(Files.readString(modelJson(op)))))
        else if (Files.exists(modelDir(op)))
          return Some(ModelResult(graft.ml.ModelCodec.loadDir(modelDir(op))))
      } catch {
        // a mid-swap listing can pair one writer's part files with the
        // other's part list: as transient as the exceptions below
        case _: StoredParquet.CorruptDir
           | _: org.apache.spark.sql.AnalysisException
           | _: java.io.FileNotFoundException
           | _: java.nio.file.NoSuchFileException if attempt < 2 => ()
        case e: StoredParquet.CorruptDir if isDone(op) =>
          throw new IllegalStateException(
            s"corrupt result for ${op.uuid} at ${e.dir}: ${e.detail}", e)
        // a gc sweeping the entry mid-listing removed `done` first
        case _: StoredParquet.CorruptDir => ()
      }
      attempt += 1
      if (attempt < 3) Thread.sleep(50L * attempt)
    }
    if (isDone(op)) throw new IllegalStateException(
      s"done marker present but no result for ${op.uuid}")
    None
  }

  // ---------------- per-op implementations ----------------

  private def frame(op: OpSpec): DataFrame = toFrame(op)

  /** Ingest stamping (SCALING.md honest-list item 1): the FIRST
    * materialization of a file-backed load writes the dataset with its
    * `__row_idx` column into the content-addressed store (keyed by content
    * hash, so path aliases share one copy); every later plan — this runner,
    * this process, or any process/machine sharing the store — scans the
    * stamped parquet and gets positional identity as a plain pruned column
    * read. Removes the per-downstream-materialization index recomputation
    * (an extra pass over the raw files + the counts exchange/broadcast join
    * of [[ColumnOps.withRowIdxByFileOrder]]) — at 100 TB that pass, repeated
    * per materialized op, dwarfs the one-time stamped write, and the write
    * itself is the cached-runner model the store already embodies. The load
    * op STAYS ephemeral at the spec level (readiness = the file exists,
    * reference `local_arrow_runner.py:230-248`); the stamped copy is a
    * runner-level cache written via the same crash/race-hardened
    * staged-rename protocol as any result. */
  private def stampedLoad(op: OpSpec, raw: => DataFrame): DataFrame = {
    if (!(isDone(op) && Files.exists(resultParquet(op)))) {
      persistStaged(op, resultParquet(op))(
        StoredParquet.write(ColumnOps.withRowIdxByFileOrder(raw), _))
      markDone(op)
    }
    // a source dataset: every op of the graph computes above its scan, so
    // it keeps its exchanges (StoredParquet.readSource)
    readResult(op, StoredParquet.readSource(spark, _)) match {
      case Some(FrameResult(df)) => df
      // stamp collected mid-read by a concurrent gc: serve the unstamped
      // computation (same rows, same index) — a later load re-stamps
      case None => ColumnOps.withRowIdxByFileOrder(raw)
      case Some(other) => throw new IllegalStateException(
        s"stamped load of ${op.uuid} is not a frame: $other")
    }
  }

  private def compute(op: OpSpec): MatResult = op match {

    case load @ LoadLocalParquetDatasetOp(_, path) =>
      FrameResult(stampedLoad(load, spark.read.parquet(path)))

    case load @ LoadLocalJsonlDatasetOp(_, path) =>
      FrameResult(stampedLoad(load, spark.read.json(path)))

    case load @ LoadLocalCsvDatasetOp(_, path, header) =>
      FrameResult(stampedLoad(load,
        spark.read.option("header", header.toString)
          .option("inferSchema", "true").csv(path)))

    case LoadInlineJsonDatasetOp(data) =>
      FrameResult(inlineToFrame(data))

    case sel: SelectColumnOp =>
      FrameResult(selectColumn(sel))

    case TakeRowsOp(dataset, skip, offset, numRows) =>
      FrameResult(ColumnOps.takeRows(frame(dataset), skip, offset, numRows))

    case MaskRowsOp(dataset, mask) =>
      val df = frame(dataset)
      val m = frame(mask)
      checkSameLength(dataset, mask, "mask")
      val kept = df.join(
          m.select(col(RowIdx), col(ValueCol).as("__mask")), RowIdx)
        .filter(col("__mask")).drop("__mask")
      FrameResult(reindex(kept, lengthOf(dataset)))

    case CategoryToBooleanOp(input, trueValues, falseValues) =>
      val in = frame(input)
      if (trueValues.nonEmpty && falseValues.nonEmpty) {
        val universe = trueValues.get ++ falseValues.get
        ColumnOps.validateCategoryUniverse(in, col(ValueCol), universe.toSet)
      }
      FrameResult(in.select(col(RowIdx), ColumnOps.categoryToBoolean(
        col(ValueCol), trueValues, falseValues).as(ValueCol)))

    case BooleanLogicOp(operation, left, right) =>
      val l = frame(left)
      if (operation == "not") {
        FrameResult(l.select(col(RowIdx), (!col(ValueCol)).as(ValueCol)))
      } else {
        val r = frame(right)
        checkSameLength(left, right, "boolean operand")
        val joined = l.select(col(RowIdx), col(ValueCol).as("__l"))
          .join(r.select(col(RowIdx), col(ValueCol).as("__r")), RowIdx)
        FrameResult(joined.select(col(RowIdx),
          ColumnOps.booleanLogic(operation, col("__l"), col("__r")).as(ValueCol)))
      }

    case ParseJSONColumnOp(text) =>
      // strict parse: invalid JSON is a hard error (reference
      // `local_arrow_runner.py:515-535`), unlike Spark's null-on-error
      // from_json. Valid rows pass through canonicalized.
      FrameResult(frame(text).select(col(RowIdx),
        strictJsonUdf(col(ValueCol)).as(ValueCol)))

    case VectorToScalarOp(input, colIndex) =>
      val in = frame(input)
      ColumnOps.validateVectorIndex(in, col(ValueCol), colIndex.toInt)
      FrameResult(in.select(col(RowIdx),
        ColumnOps.vectorToScalar(col(ValueCol), colIndex.toInt).as(ValueCol)))

    case PairwiseArithmeticOp(operation, left, right) =>
      val l = frame(left); val r = frame(right)
      checkSameLength(left, right, "arithmetic operand")
      val joined = l.select(col(RowIdx), col(ValueCol).as("__l"))
        .join(r.select(col(RowIdx), col(ValueCol).as("__r")), RowIdx)
      val opName = operation match {
        case "+" => "add"; case "-" => "subtract"
        case "*" => "multiply"; case "/" => "divide"
      }
      FrameResult(joined.select(col(RowIdx),
        ColumnOps.pairwiseArithmetic(opName, col("__l"), col("__r")).as(ValueCol)))

    case t @ JinjaTemplatizeOp(template, context, constants, maxLength) =>
      val names = context.keys.toSeq.sorted
      // JSON-typed context columns enter the template as parsed structures
      // (maps/lists), so paths like {{meta.version}} work — reference
      // renders parsed JSON values (`local_arrow_runner.py:915-925`)
      val jsonNames = names.filter(n => context(n).isInstanceOf[JSONColumnType]).toSet
      val consts = constants
      if (names.isEmpty) {
        // constants-only template: one row (reference
        // `local_arrow_runner.py:926-928`) — rendered through the SAME
        // expression semantics as the column path (no drift)
        import spark.implicits._
        val rendered = graft.ops.JinjaRenderExpression(
          template, Seq.empty, Set.empty, consts, maxLength, Seq.empty)
          .renderRow(Array.empty).toString
        FrameResult(Seq((0L, rendered)).toDF(RowIdx, ValueCol))
      } else {
        val frames = names.zipWithIndex.map { case (name, i) =>
          frame(context(name)).select(col(RowIdx), col(ValueCol).as(s"__v$i"))
        }
        if (names.length > 1) {
          val counts = names.map(n => lengthOf(context(n)))
          if (counts.distinct.length > 1) throw new IllegalArgumentException(
            s"All context columns must have the same length, got ${names.zip(counts).toMap}")
        }
        val joined = frames.reduceLeft(_.join(_, RowIdx))
        // native codegen'd expression — no per-row argument conversion via
        // ScalaUDF converters; see JinjaRenderExpression
        import org.apache.spark.sql.GraftColumnBridge
        val childExprs = names.indices.map(i =>
          GraftColumnBridge.expression(col(s"__v$i").cast("string")))
        val render = GraftColumnBridge.column(graft.ops.JinjaRenderExpression(
          template, names, jsonNames, consts, maxLength, childExprs))
        FrameResult(joined.select(col(RowIdx), render.as(ValueCol)))
      }

    case AssignTrainTestSplitOp(dataset, testSize, trainSize, seed) =>
      FrameResult(ColumnOps.assignTrainTestSplit(
        frame(dataset), testSize, trainSize, seed))

    case AssignRowIDOp(dataset) =>
      FrameResult(frame(dataset).select(col(RowIdx), col(RowIdx).as(ValueCol)))

    case train: TrainClassifierOp =>
      ModelResult(graft.ml.Probes.train(this, train))

    case pred: ClassifierPredictOp =>
      FrameResult(graft.ml.Probes.predict(this, pred))

    case ev: ClassifierEvaluationOp =>
      JsonResult(graft.ml.Probes.evaluate(this, ev))

    case train: TrainMulticlassClassifierOp =>
      ModelResult(graft.ml.Multiclass.train(this, train))

    case pred: MulticlassPredictOp =>
      FrameResult(graft.ml.Multiclass.predict(this, pred))

    case ev: MulticlassEvaluationOp =>
      JsonResult(graft.ml.Multiclass.evaluate(this, ev))

    case HashedTfEmbeddingOp(text, dim, scaleBits) =>
      // signed bucket counts, scaled by the dyadic 2^-scaleBits (exact in
      // float — keeps downstream quantized-exact probes inside 2^53)
      val scale = (1L << scaleBits).toFloat
      val emb = graft.ext.TextAnalysis.hashedTfEmbedding(col(ValueCol), dim.toInt)
      val scaled = if (scaleBits == 0L) emb else transform(emb, x => x / scale)
      FrameResult(frame(text).select(col(RowIdx), scaled.as(ValueCol)))

    case acts: LLMLayerActivationsOp =>
      FrameResult(graft.llm.LLMOps.layerActivations(this, acts))

    case logits: LLMLogitScoresOp =>
      FrameResult(graft.llm.LLMOps.logitScores(this, logits))

    case gen: LLMGenerateTextOp =>
      FrameResult(graft.llm.LLMOps.generateText(this, gen))

    case viz: UMAPVizOp =>
      FrameResult(graft.ml.Viz.embed2d(this, viz))

    case sv: SpectralVizOp =>
      FrameResult(graft.ml.Spectral
        .embed2d(frame(sv.inputEmbedding), RowIdx, ValueCol,
          sv.k.toInt, sv.iters.toInt)
        .select(col("id").as(RowIdx),
          array(col("e1"), col("e2")).as(ValueCol)))

    case ul: UmapLayoutOp =>
      FrameResult(graft.ml.UmapLayout
        .embed(frame(ul.inputEmbedding), RowIdx, ValueCol,
          ul.k.toInt, ul.iters.toInt, ul.negatives.toInt, ul.init)
        .select(col("id").as(RowIdx),
          array(col("e1"), col("e2")).as(ValueCol)))

    case km: KMeansClusterOp =>
      val x = frame(km.vectors)
      val fit = graft.ml.ExactKMeans.fit(x, RowIdx, ValueCol,
        km.centroidIds, km.iters.toInt)
      FrameResult(graft.ml.ExactKMeans
        .assign(x, col(RowIdx), col(ValueCol), fit)
        .select(col("id").as(RowIdx), col("cell").cast("string").as(ValueCol)))

    case pd: PrototypeDropOp =>
      val x = frame(pd.vectors)
      val fit = graft.ml.ExactKMeans.fit(x, RowIdx, ValueCol,
        pd.centroidIds, pd.iters.toInt)
      FrameResult(graft.ext.Diversify
        .prototypeKeepFlags(x, RowIdx, ValueCol, fit, pd.dropNum, pd.dropDen)
        .select(col("id").as(RowIdx), col("kept").as(ValueCol)))

    case cs: CorpusStatsOp =>
      val g = frame(cs.group).select(col(RowIdx), col(ValueCol).as("group"))
      val t = frame(cs.text).select(col(RowIdx),
        col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Profile
        .corpusReport(g.join(t, RowIdx), "group", "__txt", cs.k.toInt)
        .orderBy(col("group")))

    case cw: CmsWordCountsOp =>
      val occ = frame(cw.text).select(explode(filter(
          org.apache.spark.sql.functions.split(
            trim(col(ValueCol).cast("string")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sk = graft.ext.Profile.cmsSketch(occ, "word",
        cw.depth.toInt, cw.width.toInt)
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(cw.topN.toInt)
      FrameResult(graft.ext.Profile
        .cmsEstimate(sk, top, "word", cw.depth.toInt, cw.width.toInt)
        .join(top, "word")
        .select(col("word"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")))

    case bmo: BloomMembershipOp =>
      val ref = frame(bmo.reference)
        .select(col(ValueCol).cast("string").as("__v"))
      val words = graft.ext.Profile.bloomBitmap(ref, "__v",
        bmo.numHashes.toInt, bmo.numBits.toInt)
      // a null value is not a member of anything: coalesce the null
      // verdict (the md5 of a null is null) to false
      FrameResult(frame(bmo.value).select(col(RowIdx),
        coalesce(graft.ext.Profile.bloomMightContain(words,
            col(ValueCol).cast("string"),
            bmo.numHashes.toInt, bmo.numBits.toInt),
          lit(false)).as(ValueCol)))

    case es: EpochShardOp =>
      FrameResult(graft.ext.Corpus
        .epochShards(frame(es.dataset).select(col(RowIdx)), RowIdx,
          es.epoch, es.numShards.toInt)
        .select(col(RowIdx), col("shard"), col("pos")))

    case ct: ChunkTextOp =>
      FrameResult(graft.ext.Corpus
        .chunkWords(frame(ct.text)
            .select(col(RowIdx), col(ValueCol).cast("string").as("__t")),
          RowIdx, "__t", ct.size.toInt, ct.overlap.toInt)
        .select(col(RowIdx), col("chunk_idx"), col("chunk_text"),
          col("n_words")))

    case kb: KeepBestPerClusterOp =>
      val pr = frame(kb.priority).select(col(RowIdx), col(ValueCol))
      val p = frame(kb.pairs)
      require(p.columns.contains("id_a") && p.columns.contains("id_b"),
        s"pairs dataset must have id_a/id_b columns, got ${p.columns.mkString(",")}")
      FrameResult(graft.ext.Dedup
        .keepBestPerCluster(pr, RowIdx, ValueCol, p.select("id_a", "id_b"))
        .select(col(RowIdx), col("keep").as(ValueCol)))

    case tb: TokenBudgetKeepOp =>
      val g = frame(tb.group).select(col(RowIdx), col(ValueCol).as("__g"))
      val p = frame(tb.priority).select(col(RowIdx), col(ValueCol).as("__p"))
      val tk = frame(tb.tokens).select(col(RowIdx), col(ValueCol).as("__t"))
      val joined = g.join(p, RowIdx).join(tk, RowIdx)
      FrameResult(graft.ext.Corpus
        .tokenBudgetKeep(joined, "__g", RowIdx, "__p", "__t", tb.budget)
        .select(col(RowIdx), col("keep").as(ValueCol)))

    case RedactPIIColumnOp(text) =>
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.Corpus.redactPII(col(ValueCol)).as(ValueCol)))

    case TokenCountOp(text) =>
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.TextAnalysis.tokenCount(col(ValueCol))
          .cast("long").as(ValueCol)))

    case QualityScoreOp(text) =>
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.TextAnalysis.qualityScore(col(ValueCol)).as(ValueCol)))

    case LanguageIdOp(text) =>
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.TextAnalysis.langId(col(ValueCol)).as(ValueCol)))

    case FingerprintOp(text) =>
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.TextAnalysis.fingerprintMd5(col(ValueCol)).as(ValueCol)))

    case GopherKeepOp(text, minW, maxW, minML, maxML, minUF) =>
      val keep = graft.ext.Corpus.gopherRules(col(ValueCol),
        minW.toInt, maxW.toInt, minML, maxML, minUF)
        .toMap.apply("keep")
      FrameResult(frame(text).select(col(RowIdx), keep.as(ValueCol)))

    case DropExactDuplicatesOp(dataset, text) =>
      val df = frame(dataset)
      checkSameLength(dataset, text, "text")
      // first occurrence per content digest = min row idx — and that min
      // IS the survivor set; the dedup decision shuffles 16-byte digests +
      // longs, never documents
      val keepIdx = graft.ext.Dedup.exactDuplicateGroups(
          frame(text), ValueCol, RowIdx)
        .select(col("keep_id").as(RowIdx))
      FrameResult(reindex(df.join(keepIdx, RowIdx), lengthOf(dataset)))

    case ContaminationFlagOp(text, benchmark, n, minOverlap) =>
      FrameResult(graft.ext.Corpus.contamination(frame(text), frame(benchmark),
          ValueCol, RowIdx, n.toInt, minOverlap)
        .select(col(RowIdx), col("is_contaminated").as(ValueCol)))

    case StratifiedSampleOp(dataset, stratum, frac, salt) =>
      FrameResult(stratumSampled(dataset, stratum)(
        graft.ext.Corpus.stratifiedSample(_, "__st", RowIdx, frac, salt)))

    case TemperatureSampleOp(dataset, stratum, alpha, frac, salt) =>
      FrameResult(stratumSampled(dataset, stratum)(
        graft.ext.Corpus.temperatureSample(_, "__st", RowIdx, alpha, frac, salt)))

    case MixtureSampleOp(dataset, stratum, fracs, defaultFrac, salt) =>
      FrameResult(stratumSampled(dataset, stratum)(
        graft.ext.Corpus.mixtureSample(_, "__st", RowIdx, fracs, defaultFrac, salt)))

    case PackSequencesOp(tokens, seqLen) =>
      val tf = frame(tokens)
        .select(col(RowIdx), col(ValueCol).cast("long").as("n_tokens"))
      // monotone range bucket over the row index — the structural length
      // gives the upper bound with no extra job
      val n = lengthOf(tokens)
      val ps = ColumnOps.withPrefixSum(tf, "token_offset", col("n_tokens"),
        ColumnOps.rangeBucket(tf, col(RowIdx), math.max(1L, n).toDouble),
        col(RowIdx))
      FrameResult(ps
        .withColumn("first_seq",
          when(col("n_tokens") > 0, floor(col("token_offset") / seqLen)))
        .withColumn("last_seq",
          when(col("n_tokens") > 0,
            floor((col("token_offset") + col("n_tokens") - 1) / seqLen)))
        .withColumn("n_seqs",
          coalesce(col("last_seq") - col("first_seq") + 1, lit(0L))))

    case MinHashNearDupPairsOp(text, shingleN, numPerms, numBands, threshold) =>
      val t = frame(text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Dedup.minhashNearDuplicates(t, "__txt", "__id",
        shingleN.toInt, numPerms.toInt, numBands.toInt, threshold))

    case SimHashNearDupPairsOp(text, maxHamming, maxBucket) =>
      val t = frame(text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Dedup.simhashNearDuplicates(t, "__txt", "__id",
        maxHamming.toInt, maxBucket.toInt))

    case CosineNearDupPairsOp(vectors, dim, nBands, planesPerBand, threshold, maxBucket) =>
      val v = frame(vectors)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("array<float>").as("__v"))
      FrameResult(graft.ext.Dedup.cosineNearDuplicates(v, "__v", "__id",
        dim.toInt, nBands.toInt, planesPerBand.toInt, threshold, maxBucket.toInt))

    case DedupSpansOp(text, k) =>
      val t = frame(text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Corpus.dedupSpans(t, "__txt", "__id", k.toInt)
        .select(col("__id").as("id"), col("dedup_text"),
          col("n_dropped_tokens")))

    case Bm25RankOp(text, terms, k, k1, b) =>
      val t = frame(text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Bm25.rank(t, "__id", "__txt", terms, k.toInt,
        k1, b).withColumnRenamed("__id", "id"))

    case bm: Bm25RankManyOp =>
      val t = frame(bm.text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      FrameResult(graft.ext.Bm25.rankMany(t, "__id", "__txt",
          bm.queries.zipWithIndex.map { case (ts, i) => (i.toLong, ts) },
          bm.k.toInt, bm.k1, bm.b)
        .withColumnRenamed("__id", "id"))

    case rf: RrfFuseOp =>
      val sp = frame(rf.sparse)
      val dn = frame(rf.dense)
      require(sp.columns.contains(rf.sparseId) && sp.columns.contains("rank"),
        s"sparse dataset must have ${rf.sparseId}/rank columns, " +
          s"got ${sp.columns.mkString(",")}")
      require(dn.columns.contains(rf.denseId) && dn.columns.contains("rank"),
        s"dense dataset must have ${rf.denseId}/rank columns, " +
          s"got ${dn.columns.mkString(",")}")
      FrameResult(graft.ext.Retrieval.rrfFuse(
        sp.select(col(rf.sparseId).as("id"), col("rank")),
        dn.select(col(rf.denseId).as("id"), col("rank")),
        "id", rf.rrfK.toInt, rf.n.toInt))

    case LmPerplexityOp(text, fitText) =>
      val t = frame(text)
        .select(col(RowIdx), col(ValueCol).cast("string").as("__txt"))
      val f = frame(fitText)
        .select(col(ValueCol).cast("string").as("__txt"))
      val lm = graft.ext.LangModel.fit(f, "__txt")
      FrameResult(graft.ext.LangModel.score(t, RowIdx, "__txt", lm)
        .select(col(RowIdx), col("ppl").as(ValueCol)))

    case CcnetBucketsOp(text, lang, fitText) =>
      val t = frame(text)
        .select(col(RowIdx), col(ValueCol).cast("string").as("__txt"))
      val l = frame(lang)
        .select(col(RowIdx), col(ValueCol).cast("string").as("__lang"))
      val f = frame(fitText)
        .select(col(ValueCol).cast("string").as("__txt"))
      val lm = graft.ext.LangModel.fit(f, "__txt")
      FrameResult(graft.ext.LangModel.ccnetBuckets(
          t.join(l, RowIdx), RowIdx, "__txt", "__lang", lm)
        .select(col(RowIdx).as("id"), col("lang"), col("n_tokens"),
          col("logp_u6"), col("ppl"), col("bucket")))

    case DsirSelectOp(text, targetText, m, k, alpha) =>
      val t = frame(text)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("string").as("__txt"))
      val tgt = frame(targetText)
        .select(col(ValueCol).cast("string").as("__txt"))
      val ratios = graft.ext.Dsir.fitLogRatios(spark, tgt, t, "__txt",
        m.toInt, alpha)
      val w = graft.ext.Dsir.importanceWeights(t, "__id", "__txt", ratios,
        m.toInt)
      FrameResult(graft.ext.Dsir.selectTopK(w, "__id", k.toInt)
        .select(col("__id").as("id"), col("n_feats"), col("w_u6")))

    case SemanticDedupOp(vectors, centroidIds, threshold, maxCell,
                         splitFanout, maxSplitDepth) =>
      val v = frame(vectors)
        .select(col(RowIdx).as("__id"), col(ValueCol).cast("array<float>").as("__v"))
      val cents = graft.ext.Similarity.centroidsByIds(v, "__id", "__v", centroidIds)
      FrameResult(graft.ext.Dedup.semanticDedup(v, "__id", "__v", cents,
        threshold, maxCell.toInt, splitFanout.toInt, maxSplitDepth.toInt))

    case DropNearDuplicatesOp(dataset, pairs) =>
      val df = frame(dataset)
      val p = frame(pairs)
      require(p.columns.contains("id_a") && p.columns.contains("id_b"),
        s"pairs dataset must have id_a/id_b columns, got ${p.columns.mkString(",")}")
      FrameResult(reindex(
        graft.ext.Dedup.dropNearDuplicates(df, RowIdx, p.select("id_a", "id_b")),
        lengthOf(dataset)))

    case AnnBruteTopKOp(corpus, queries, k) =>
      val c = frame(corpus).select(col(RowIdx).as("__cid"), col(ValueCol).as("__cv"))
      val q = frame(queries).select(col(RowIdx).as("__qid"), col(ValueCol).as("__qv"))
      FrameResult(graft.ext.Similarity.bruteForceTopK(
        c, "__cid", "__cv", q, "__qid", "__qv", k.toInt))

    case IvfPqTopKOp(corpus, queries, centroidIds, codebookIds, k, m, nprobe, rerank) =>
      val c = frame(corpus)
        .select(col(RowIdx).as("__cid"), col(ValueCol).cast("array<float>").as("__cv"))
      val q = frame(queries)
        .select(col(RowIdx).as("__qid"), col(ValueCol).cast("array<float>").as("__qv"))
      val cents = graft.ext.Similarity.centroidsByIds(c, "__cid", "__cv", centroidIds)
      val cb = graft.ext.Similarity.pqCodebooksByIds(c, "__cid", "__cv",
        m.toInt, codebookIds)
      FrameResult(graft.ext.Similarity.ivfPqTopK(c, "__cid", "__cv",
        q, "__qid", "__qv", k.toInt, cents, cb, nprobe.toInt, rerank.toInt))

    // multimodal: the REAL codec kernels (ext.MediaCodecs) over (idx, bytes)
    // column frames — narrow batched mapPartitions, positional ids preserved
    case ImageMetaOp(image) =>
      FrameResult(graft.ext.Multimodal.withImageMeta(frame(image), RowIdx, ValueCol))

    case ImageResizeOp(image, maxSide) =>
      FrameResult(graft.ext.Multimodal.withResizedPayload(
        frame(image), RowIdx, ValueCol, maxSide.toInt))

    case ImageEmbedOp(image, grid) =>
      FrameResult(graft.ext.Multimodal.withImageEmbedding(
          frame(image), RowIdx, ValueCol, grid.toInt)
        .withColumnRenamed("embedding", ValueCol))

    case AudioMetaOp(audio) =>
      FrameResult(graft.ext.Multimodal.withAudioMeta(frame(audio), RowIdx, ValueCol))

    case TrainBpeTokenizerOp(text, numMerges) =>
      // the tokenizer ARTIFACT is the result: a content-addressed merge
      // list, trained once per (corpus hash, numMerges) and shared like
      // any other store entry
      val merges = graft.ext.Bpe.trainMerges(frame(text), ValueCol, numMerges.toInt)
      JsonResult(JObj(scala.collection.immutable.ListMap(
        "merges" -> JArr(merges.map { case (a, b) =>
          JArr(Vector(JString(a), JString(b)))
        }.toVector))))

    case BpeTokenizeOp(tokenizer, text) =>
      val merges = (materialize(tokenizer) match {
        case JsonResult(j) => j
        case other => throw new IllegalStateException(
          s"tokenizer result is not json: $other")
      }).asInstanceOf[JObj]("merges").asInstanceOf[JArr].items.map {
        case JArr(Vector(JString(a), JString(b))) => (a, b)
        case v => throw new IllegalStateException(s"bad merge entry $v")
      }
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.Bpe.tokenizeColumn(col(ValueCol), merges.toSeq).as(ValueCol)))

    case TrainUnigramTokenizerOp(text, seedMulti, rounds, pieceLen) =>
      // the artifact is the (piece, count) vocabulary — counts, not
      // scores, persist (scores re-derive exactly via the shared
      // micro-nat formula), so the stored JSON is integer-only
      val fit = graft.ext.Unigram.train(frame(text), ValueCol,
        seedMulti.toInt, rounds.toInt, pieceLen.toInt)
      JsonResult(JObj(scala.collection.immutable.ListMap(
        "piece_len" -> JLong(pieceLen),
        "vocab" -> JArr(fit.vocab.map { case (p, c) =>
          JArr(Vector(JString(p), JLong(c)))
        }.toVector))))

    case UnigramTokenizeOp(tokenizer, text) =>
      val j = (materialize(tokenizer) match {
        case JsonResult(x) => x
        case other => throw new IllegalStateException(
          s"tokenizer result is not json: $other")
      }).asInstanceOf[JObj]
      val pieceLen = j("piece_len").asInstanceOf[JLong].value.toInt
      val vocab = j("vocab").asInstanceOf[JArr].items.map {
        case JArr(Vector(JString(p), JLong(c))) => (p, c)
        case v => throw new IllegalStateException(s"bad vocab entry $v")
      }
      val fit = graft.ext.Unigram.Fit(vocab.toSeq)
      FrameResult(frame(text).select(col(RowIdx),
        graft.ext.Unigram.tokenizeColumn(col(ValueCol), fit, pieceLen)
          .as(ValueCol)))

    case ExplodeFramesOp(video) =>
      // row-multiplying: fresh positional identity in (parent, frame)
      // order; parent indices are distinct longs in [0, parentLen), so the
      // range bucket is a pure plan expression (no sampling jobs)
      val f = frame(video).withColumnRenamed(RowIdx, "__parent_idx")
      val exploded = graft.ext.Multimodal.explodeFrames(f, "__parent_idx", ValueCol)
      val indexed = ColumnOps.withRowIdxByKnownRange(exploded,
        ColumnOps.rangeBucket(exploded, col("__parent_idx"),
          lengthOf(video).toDouble),
        col("__parent_idx"), col("frame_idx"))
      FrameResult(indexed.select(col(RowIdx),
        col("__parent_idx").as("parent_idx"),
        col("frame_idx").cast("long").as("frame_idx"), col("frame")))

    case other =>
      // pluggable fallback (reference `@BaseRunner.implementation`,
      // `base_runner.py:261-300`): custom op types registered at runtime
      LocalSparkRunner.implementationFor(other.getClass) match {
        case Some(impl) => impl(this, other)
        case None => throw new UnsupportedOperationException(
          s"no implementation for ${other.typeName}; register one via " +
            "LocalSparkRunner.registerImplementation")
      }
  }

  // ---------------- helpers ----------------

  private def selectColumn(sel: SelectColumnOp): DataFrame = {
    val df = frame(sel.dataset)
    val name = sel.columnName
    if (!df.columns.contains(name))
      throw new NoSuchElementException(
        s"column '$name' not found in dataset (have: ${df.columns.filterNot(_ == RowIdx).mkString(", ")})")
    val dt = df.schema(name).dataType
    def fail(want: String): Nothing = throw new IllegalArgumentException(
      s"column '$name' has dtype $dt, expected $want (${sel.typeName})")
    sel match {
      case _: SelectTextColumnOp | _: SelectTrainTestSplitColumnOp =>
        if (dt != StringType) fail("string")
      case _: SelectCategoricalColumnOp => dt match {
        // integer-coded categories are common (e.g. class labels); they
        // select as their string rendering, matching the reference's
        // duck-typed column lookup (`local_arrow_runner.py:507-512`)
        case StringType | ByteType | ShortType | IntegerType | LongType =>
        case _ => fail("string or integer")
      }
      case _: SelectBooleanColumnOp => if (dt != BooleanType) fail("boolean")
      case _: SelectScoreColumnOp =>
        if (!dt.isInstanceOf[NumericType]) fail("numeric")
      case _: SelectVectorColumnOp => dt match {
        case ArrayType(_: NumericType, _) =>
        case _ => fail("array<numeric>")
      }
      case _: SelectConversationColumnOp => dt match {
        case ArrayType(_: StructType, _) =>
        case _ => fail("array<struct>")
      }
      case _: SelectJSONColumnOp => dt match {
        case StringType | _: StructType | _: ArrayType | _: MapType =>
        case _ => fail("string/struct/array/map")
      }
      case _: SelectBinaryColumnOp => if (dt != BinaryType) fail("binary")
    }
    val value = sel match {
      case _: SelectCategoricalColumnOp if Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(dt) =>
        col(name).cast("string")
      case _ => col(name)
    }
    df.select(col(RowIdx), value.as(ValueCol))
  }

  /** Re-index after a row-dropping op: the surviving `__old_idx` values are
    * distinct longs in [0, parentLen), so the range bucket is a pure plan
    * expression — no sampling pass, no eager count (parentLen comes from the
    * structural `lengthOf` memo). */
  private def reindex(df: DataFrame, parentLen: Long): DataFrame = {
    val renamed = df.withColumnRenamed(RowIdx, "__old_idx")
    ColumnOps.withRowIdxByKnownRange(renamed,
        ColumnOps.rangeBucket(renamed, col("__old_idx"), parentLen.toDouble),
        col("__old_idx"))
      .drop("__old_idx")
  }

  /** The Stratified/Temperature/MixtureSampleOp frame: `sample` (a
    * `Corpus` sampler) gets the `(__row_idx, __st)` frame and ranks on the
    * ROW INDEX, so selection depends only on positional identity + salt,
    * not on how the stratum column was computed; the kept rows are joined
    * back and re-indexed. */
  private def stratumSampled(dataset: DatasetType, stratum: OpSpec)(
      sample: DataFrame => DataFrame): DataFrame = {
    val df = frame(dataset)
    checkSameLength(dataset, stratum, "stratum")
    val keepIdx = sample(frame(stratum)
      .select(col(RowIdx), col(ValueCol).as("__st"))).select(col(RowIdx))
    reindex(df.join(keepIdx, RowIdx), lengthOf(dataset))
  }

  private def checkSameLength(a: OpSpec, b: OpSpec, what: String): Unit = {
    val na = lengthOf(a); val nb = lengthOf(b)
    if (na != nb) throw new IllegalArgumentException(
      s"$what length mismatch: dataset has $na rows, $what has $nb")
  }

  private val strictJsonUdf = udf { s: String =>
    if (s == null) throw new IllegalArgumentException("null is not valid JSON")
    Json.render(Json.parse(s)) // throws on invalid
  }

  private def inlineToFrame(data: Map[String, Seq[Any]]): DataFrame = {
    val names = data.keys.toSeq.sorted
    val n = data.headOption.map(_._2.length).getOrElse(0)
    def sparkType(values: Seq[Any]): DataType =
      values.collectFirst {
        case _: Long | _: Int => LongType
        case _: Double | _: Float => DoubleType
        case _: Boolean => BooleanType
        case _: String => StringType
        case _: Seq[_] => ArrayType(DoubleType)
      }.getOrElse(StringType)
    val types = names.map(c => sparkType(data(c)))
    def conv(v: Any, dt: DataType): Any = (v, dt) match {
      case (null, _) => null
      case (x: Int, LongType) => x.toLong
      case (x: Long, LongType) => x
      case (x: Float, DoubleType) => x.toDouble
      case (x: Int, DoubleType) => x.toDouble
      case (x: Long, DoubleType) => x.toDouble
      case (x: Double, DoubleType) => x
      case (x: Seq[_], ArrayType(DoubleType, _)) => x.map {
        case d: Double => d; case l: Long => l.toDouble
        case i: Int => i.toDouble; case f: Float => f.toDouble
        case o => throw new IllegalArgumentException(s"bad vector element $o")
      }
      case (x, _) => x
    }
    val rows = (0 until n).map { i =>
      Row.fromSeq(names.zip(types).map { case (c, t) => conv(data(c)(i), t) } :+ i.toLong)
    }
    val schema = StructType(
      names.zip(types).map { case (c, t) => StructField(c, t) } :+
        StructField(RowIdx, LongType, nullable = false))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

object LocalSparkRunner {

  /** Implementation function for a custom op: (runner, op) → result. */
  type OpImpl = (LocalSparkRunner, OpSpec) => MatResult

  /** See [[LocalSparkRunner.deleteRecursively]] — tolerant of concurrent
    * writers renaming into the tree mid-delete. */
  private[graft] def deleteTreeTolerant(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val paths = {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toList
        } finally s.close()
      }
      // the store's completion marker is written LAST ([[persistStaged]]
      // callers), so it must be deleted FIRST: a collection that removed
      // result files before `done` would present done-without-result to
      // every concurrent reader — the exact corruption readResult treats
      // as fatal. Caught live by MultiProcessStoreSpec's hostile-gc test
      // under load (round 18); the stable second sort keys the top-level
      // marker ahead of the deepest-first remainder.
      val marker = p.resolve("done")
      paths.sortBy(_.toString).reverse
        .sortBy(f => if (f == marker) 0 else 1)
        .foreach { f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: java.nio.file.FileSystemException => () }
        }
    }

  // dispatch by exact op class, checked before erroring — the Scala
  // rendering of the reference's annotation-dispatched `@implementation`
  // decorator (`base_runner.py:261-300`)
  private val customImpls =
    scala.collection.concurrent.TrieMap.empty[Class[_], OpImpl]

  /** Register a CUSTOM op class: its implementation here and its class with
    * the graph decoder, so graphs containing the op also deserialize. A
    * class named like a built-in op is rejected (the store keys results by
    * simple class name). */
  def registerImplementation(cls: Class[_ <: OpSpec])(f: OpImpl): Unit = {
    OpRegistry.register(cls)
    customImpls(cls) = f
  }

  private[runner] def implementationFor(cls: Class[_]): Option[OpImpl] =
    customImpls.get(cls)

  // (path, total size, max mtime) → digest: repeated fromParquet on an
  // unchanged file skips the re-read (every runner-backed query starts by
  // hashing its source; the bytes only need hashing once per change)
  private val hashMemo =
    scala.collection.mutable.HashMap.empty[(String, Long, Long), String]

  // a directory dataset bigger than either bound hashes its files in a
  // Spark job instead of serially on the driver — at 100 TB the per-file
  // sha256 work is hours of driver time, but embarrassingly parallel
  private val DistributeHashMinFiles = 64
  private val DistributeHashMinBytes = 256L << 20

  /** Dataset-identity digest, scheme `graft-dirhash-v2`:
    *  - regular file → streamed sha256 of its bytes;
    *  - directory → sha256 over the scheme tag + the per-file manifest
    *    lines `<relpath>\n<sha256(bytes)>\n` sorted by relpath (dotfiles
    *    excluded). Per-file hashes make the digest order-independent in
    *    COMPUTATION (only the combine is ordered), so the driver computes
    *    small datasets locally and hands large ones to a Spark job — both
    *    produce the same digest, and uuids never depend on which path ran.
    *    The driver only ever holds (relpath, hex) pairs — bounded by file
    *    count, not data size.
    *
    * SCHEME HISTORY: v2 (round 11) replaced the v1 byte-stream directory
    * digest (concatenated file bytes in listing order). The bump changes
    * every directory-dataset uuid, so a store populated under v1 keys those
    * results to uuids nothing will ever ask for again — they are orphans to
    * garbage-collect, not corruption (content-addressed dirs are immutable
    * and self-contained). v2 also makes renaming a file INSIDE a dataset an
    * identity change (the relpath is part of the manifest), where v1 kept
    * it stable — intended: the reference's dataset identity is the file
    * set, not the byte stream. Single-FILE datasets hash bytes only and
    * kept their v1 identity.
    *
    * Memoized per (path, size, mtime) snapshot; the digest itself is
    * computed OUTSIDE the memo lock — a multi-minute distributed hash of
    * one dataset must not serialize unrelated concurrent loads (racing
    * duplicates of the same digest are benign and rare). */
  def contentHashOf(path: String, spark: Option[SparkSession] = None): String = {
    val p0 = Paths.get(path)
    val (size, mtime) = {
      if (Files.isDirectory(p0)) {
        // mtime over files AND directories: a rename inside the dataset
        // changes no file mtime but does touch its parent directory, and
        // under the manifest scheme it changes the identity
        import scala.jdk.CollectionConverters._
        val s = Files.walk(p0)
        val all = try s.iterator().asScala.toList finally s.close()
        (all.filter(Files.isRegularFile(_)).map(Files.size).sum,
          all.map(Files.getLastModifiedTime(_).toMillis).maxOption.getOrElse(0L))
      } else (Files.size(p0), Files.getLastModifiedTime(p0).toMillis)
    }
    val key = (path, size, mtime)
    val cached = hashMemo.synchronized(hashMemo.get(key))
    cached.getOrElse {
      val h = contentHashOf0(path, spark, size) // outside the lock (see above)
      hashMemo.synchronized(hashMemo.getOrElseUpdate(key, h))
    }
  }

  private def contentHashOf0(path: String, spark: Option[SparkSession],
                             totalBytes: Long): String = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) return FileHasher.sha256(path)
    val files = regularFiles(p)
      .filterNot(_.getFileName.toString.startsWith("."))
    val pairs = spark match {
      case Some(s) if files.length > DistributeHashMinFiles ||
                      totalBytes > DistributeHashMinBytes =>
        distributedFileHashes(s, p, files)
      case _ =>
        files.map(f => p.relativize(f).toString -> FileHasher.sha256(f.toString))
    }
    combineManifest(pairs)
  }

  /** Per-file sha256 via a Spark job — one task per file (tiny payloads:
    * only (relpath, hex) strings cross the wire; collect is bounded by
    * file count). Exposed for the equality spec. */
  private[graft] def distributedFileHashes(spark: SparkSession, root: Path,
                                           files: Seq[Path]): Seq[(String, String)] = {
    val paths = files.map(f => (root.relativize(f).toString, f.toString))
    val slices = math.max(1, math.min(paths.length,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(paths, slices)
      .map { case (rel, abs) => (rel, FileHasher.sha256(abs)) }
      .collect().toSeq
  }

  /** Combine per-file hashes into the dataset digest (order-canonical). */
  private[graft] def combineManifest(pairs: Seq[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update("graft-dirhash-v2\n".getBytes("UTF-8"))
    pairs.sortBy(_._1).foreach { case (rel, h) =>
      md.update(rel.getBytes("UTF-8")); md.update('\n'.toByte)
      md.update(h.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Streamed sha256 of one file — a Serializable holder so the
    * distributed-hash closure ships no outer state. */
  private[graft] object FileHasher extends Serializable {
    def sha256(path: String): String = {
      val md = MessageDigest.getInstance("SHA-256")
      val in = Files.newInputStream(Paths.get(path))
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** Every regular file under `root`, recursively. */
  private[runner] def regularFiles(root: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(root) // stream holds directory handles: must close
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** `(uuid, dir)` of every entry `<root>/<Cls>/<hash>` of a store laid
    * out like [[LocalSparkRunner.opDir]], in path order; none when
    * `root` does not exist. Stray regular files at either level are not
    * entries. */
  private[runner] def storeEntries(root: Path): Seq[(String, Path)] = {
    def dirs(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val s = Files.list(dir) // DirectoryStream-backed: must be closed
        try s.iterator().asScala.filter(Files.isDirectory(_)).toList
          .sortBy(_.toString)
        finally s.close()
      }
    for (clsDir <- dirs(root); entry <- dirs(clsDir))
      yield (s"${clsDir.getFileName}_${entry.getFileName}", entry)
  }
}
