package graft.runner

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.spec._

/** A [[LocalSparkRunner]] whose store is a LOCAL CACHE in front of a SHARED
  * store — the engine's cross-machine sharing medium (reference
  * `runners/cached_runner.py:52-164`, `LocalCachedRunner`):
  *
  *   - **read-through**: a result materialized by any other machine (or
  *     process) against the same shared store is pulled into the cache on
  *     first touch and served locally from then on — the second machine
  *     never recomputes.
  *   - **write-through**: results computed here land in the cache first
  *     (Spark writes them there directly), then are copied up to the shared
  *     store, `done` marker LAST — a concurrent reader of the shared store
  *     either sees a complete result or none (the reference's
  *     atomic-write-then-copy discipline, `cached_runner.py:28-50`).
  *   - **status discipline**: transient statuses (running/failed) are
  *     written through to the shared store so remote `status`/`summary`
  *     CLIs see live state, but only `completed` statuses are CACHED on
  *     read (`cached_runner.py:59-64`) — a cached "running" would go stale.
  *
  * Scale note: "shared store" here is a second local directory; on a real
  * cluster it is an object-store prefix reached through the Hadoop FS API
  * (s3a://, gs://) — the pull/push below become `FileSystem.copyToLocal` /
  * `copyFromLocal` with identical structure. The content-addressed layout
  * makes the sync conflict-free: an op dir is immutable once `done`.
  */
class CachedSparkRunner(
    spark: SparkSession,
    val sharedUri: String,
    cachePath: String)
  extends LocalSparkRunner(spark, cachePath) {

  private def sharedDir(op: OpSpec): Path = {
    val (cls, hash) = split(op.uuid)
    Paths.get(sharedUri, cls, hash)
  }
  private def cacheDir(op: OpSpec): Path = opDir(op)

  /** Done iff done locally, or done in the shared store — in which case the
    * whole (immutable) op dir is pulled into the cache first, so every
    * subsequent read is local. */
  override def isDone(op: OpSpec): Boolean =
    super.isDone(op) || {
      val remoteDone = sharedDir(op).resolve("done")
      Files.exists(remoteDone) && { pull(op); true }
    }

  /** Write-through: after the result + `done` land in the cache, copy the op
    * dir up, `done` last. */
  override protected def onResultPersisted(op: OpSpec): Unit = push(op)

  /** Transient statuses go through to the shared store too (live remote
    * visibility); reads prefer a COMPLETED local snapshot, fall back to
    * shared, and cache only completed snapshots. */
  override protected def writeStatus(st: OpStatus): Unit = {
    super.writeStatus(st)
    val (cls, hash) = split(st.uuid)
    val from = Paths.get(storeUri, cls, hash, "status.json")
    val to = Paths.get(sharedUri, cls, hash, "status.json")
    Files.createDirectories(to.getParent)
    replaceAtomic(from, to)
  }

  override def status(op: OpSpec): OpStatus = {
    val localPath = cacheDir(op).resolve("status.json")
    val local = if (Files.exists(localPath)) Some(super.status(op)) else None
    // A completed local snapshot is immutable truth; anything else (own
    // live `running`, a stale `failed`) must not shadow a remote completion.
    if (local.exists(_.state == OpState.Completed)) return local.get
    val remote = sharedDir(op).resolve("status.json")
    if (Files.exists(remote)) {
      val st = OpStatus.read(op.uuid, remote)
      if (st.state == OpState.Completed) {
        Files.createDirectories(localPath.getParent)
        replaceAtomic(remote, localPath)
        st
      } else local.getOrElse(st) // own live state beats remote transients
    } else local.getOrElse(super.status(op))
  }

  override def uuidToOp(uuid: String): OpSpec = {
    val (cls, hash) = split(uuid)
    val local = Paths.get(storeUri, cls, hash, "status.json")
    val remote = Paths.get(sharedUri, cls, hash, "status.json")
    if (!Files.exists(local) && Files.exists(remote)) {
      val st = OpStatus.read(uuid, remote)
      if (st.state == OpState.Completed) {
        Files.createDirectories(local.getParent)
        replaceAtomic(remote, local)
      } else {
        // Rehydrate from the remote snapshot WITHOUT caching it: a cached
        // `running`/`failed` would shadow the remote's later completion
        // (status() prefers local only once it's completed, but uuidToOp
        // must not plant transient local state either).
        return st.op(uuid)
      }
    }
    super.uuidToOp(uuid)
  }

  /** Cache + shared uuids (CLI status/summary see remote results too). */
  override def listStore(): Seq[String] =
    (super.listStore() ++
      LocalSparkRunner.storeEntries(Paths.get(sharedUri)).map(_._1))
      .distinct.sorted

  // ---------------- dir sync ----------------

  // staging names carry (pid, thread, attempt#): pid alone collides when
  // two THREADS of one JVM stage toward the same destination (same hazard
  // the pull path fixed — a shared tmp file can be half-replaced by the
  // loser while the winner renames it)
  private val stageAttempts = new java.util.concurrent.atomic.AtomicLong(0)
  private def stagingName(dest: Path, kind: String): Path =
    dest.getParent.resolve(
      "." + dest.getFileName + "." + kind + ProcessHandle.current().pid() +
        "t" + Thread.currentThread().getId + "n" + stageAttempts.incrementAndGet())

  private def copyAtomic(f: Path, dest: Path): Unit =
    if (!Files.exists(dest)) {
      Files.createDirectories(dest.getParent)
      // copy to a dot-temp then move: readers of the destination never
      // observe a partially-written file (atomic within one FS)
      val tmp = stagingName(dest, "tmp")
      Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
      try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      catch { // another writer won the race; their copy is equally valid.
        // EEXIST maps to FileAlreadyExistsException but other race errnos
        // surface as the GENERIC FileSystemException — only rethrow when
        // the destination did not actually land (a real IO failure)
        case e: java.nio.file.FileSystemException =>
          Files.deleteIfExists(tmp)
          if (!Files.exists(dest)) throw e
      }
    }

  /** Like [[copyAtomic]] but REPLACING any existing destination — status
    * files are mutable, unlike results, so skip-if-exists would pin the
    * first snapshot forever. POSIX rename replaces atomically. */
  private def replaceAtomic(f: Path, dest: Path): Unit = {
    val tmp = stagingName(dest, "tmp")
    Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
  }

  // (recursive delete shared from LocalSparkRunner.deleteRecursively —
  // one best-effort protocol for both tiers)

  // Pull concurrency discipline: pulls of the SAME op are serialized
  // within the JVM (per-uuid lock), and each attempt stages into a tmp dir
  // unique to (pid, thread, attempt#) — a pid-only tmp path let two threads
  // of one JVM share a staging dir, where each thread's cleanup could wipe
  // the other's in-progress copy and the rename winner could publish a
  // partially-populated dir whose `done` marker was already present.
  private val pullLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private val pullAttempts = new java.util.concurrent.atomic.AtomicLong(0)

  /** Pull mirrors push's staging discipline: the remote op dir is copied
    * into a temp sibling, then atomically renamed into the cache. Any
    * dirty local dir — a crash after the result job committed its part
    * files but before the `done` marker — is DELETED first, not merged
    * into: remote part files carry different writer-generated names, so a
    * per-file skip-if-exists merge would leave both sets side by side and
    * `spark.read.parquet` would return duplicated rows. A lost rename race
    * (cross-process puller) is convergent: the loop re-verifies the cache
    * dir actually carries `done` before returning, re-pulling otherwise. */
  private def pull(op: OpSpec): Unit = {
    val lock = pullLocks.computeIfAbsent(op.uuid, _ => new Object)
    lock.synchronized {
      val to = cacheDir(op)
      var attempts = 0
      while (!Files.exists(to.resolve("done")) && attempts < 3) {
        attempts += 1
        pullOnce(op)
      }
      if (!Files.exists(to.resolve("done")))
        throw new IllegalStateException(
          s"pull for ${op.uuid} did not converge after $attempts attempts")
    }
  }

  private def pullOnce(op: OpSpec): Unit = {
    val from = sharedDir(op); val to = cacheDir(op)
    Files.createDirectories(to.getParent)
    val tmp = to.getParent.resolve(
      "." + to.getFileName + ".pull" + ProcessHandle.current().pid() +
        "t" + Thread.currentThread().getId + "n" + pullAttempts.incrementAndGet())
    try {
      LocalSparkRunner.regularFiles(from).foreach { f =>
        val d = tmp.resolve(from.relativize(f))
        Files.createDirectories(d.getParent)
        Files.copy(f, d, StandardCopyOption.REPLACE_EXISTING)
      }
      deleteRecursively(to) // discard the dirty (done-less) partial state
      try Files.move(tmp, to, StandardCopyOption.ATOMIC_MOVE)
      catch { // a cross-process puller won the rename; the caller's loop
              // re-verifies `done` in `to` rather than trusting the winner.
              // ENOTEMPTY surfaces as the GENERIC FileSystemException, so
              // the catch must be that broad; a real IO failure leaves `to`
              // done-less and the convergence loop throws
        case _: java.nio.file.FileSystemException => ()
      }
    } finally deleteRecursively(tmp)
  }

  /** Push is NOT a per-file merge: two machines computing the same op
    * concurrently each produce complete-but-differently-named parquet part
    * files, and unioning them would duplicate every row. Instead each
    * multi-file RESULT DIRECTORY (result.parquet/, model/) is staged as a
    * temp sibling and atomically renamed into place — first complete writer
    * wins, the loser discards its staging; single files (result.json,
    * model.json, status.json) go through `copyAtomic` with the same
    * first-writer-wins rule; `done` strictly last. If the shared op dir is already done, the push is a no-op
    * (content-addressed results are interchangeable). */
  private def push(op: OpSpec): Unit = {
    val from = cacheDir(op); val to = sharedDir(op)
    if (Files.exists(to.resolve("done"))) return
    Files.createDirectories(to)
    import scala.jdk.CollectionConverters._
    val entries = {
      val s = Files.list(from)
      try s.iterator().asScala.toList finally s.close()
    }
    entries.filterNot(_.getFileName.toString == "done").foreach { e =>
      val dest = to.resolve(e.getFileName.toString)
      if (!Files.exists(dest)) {
        if (Files.isDirectory(e)) {
          val tmp = stagingName(dest, "tmp")
          LocalSparkRunner.regularFiles(e).foreach { f =>
            val d = tmp.resolve(e.relativize(f))
            Files.createDirectories(d.getParent)
            Files.copy(f, d, StandardCopyOption.REPLACE_EXISTING)
          }
          try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
          catch { // lost push race (EEXIST/ENOTEMPTY — the latter is a
                  // GENERIC FileSystemException): winner's dir is complete
            case e: java.nio.file.FileSystemException =>
              deleteRecursively(tmp)
              if (!Files.exists(dest)) throw e
          }
        } else copyAtomic(e, dest)
      }
    }
    copyAtomic(from.resolve("done"), to.resolve("done"))
  }
}
