package graft.runner

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Garbage collection over the content-addressed store layout
  * `root/<Cls>/<hash>/` — the SAME layout at every tier: a
  * [[LocalSparkRunner]]'s private store, a [[CachedSparkRunner]]'s local
  * cache, and the shared store behind it (an object-store prefix in
  * production), so one collector serves them all. The CLI `gc` command and
  * the cached tier both route here.
  *
  * Retention model (union):
  *   - uuids in `keep` (graph-reachability roots + transitive deps);
  *   - entries younger than `olderThanDays`;
  *   - done-less entries younger than ONE DAY, unconditionally: a missing
  *     `done` marker is either an in-flight writer mid
  *     [[LocalSparkRunner]] staged-rename — whose entry dir (holding its
  *     private `.stage…` sibling) must never be collected under it — or
  *     crash debris, which only the age distinguishes. The cross-process
  *     race test in MultiProcessStoreSpec pins the live-writer half.
  *
  * Ages come from the `done` marker's mtime (completion time) for finished
  * entries, the directory's otherwise.
  */
object StoreGc {

  final case class Summary(kept: Int, collected: Int, bytes: Long) {
    def +(o: Summary): Summary =
      Summary(kept + o.kept, collected + o.collected, bytes + o.bytes)
  }

  private def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList.sortBy(_.toString)
      finally s.close()
    }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => try Files.size(f) catch { case _: Exception => 0L }).sum
    finally s.close()
  }

  /** Collect (or, with `delete=false`, report) the store at `root`.
    * `log` receives one line per affected entry. */
  def gc(root: Path, keep: Set[String], olderThanDays: Option[Int],
         delete: Boolean, log: String => Unit = _ => ()): Summary = {
    val now = System.currentTimeMillis()
    def ageDays(p: Path): Double =
      (now - Files.getLastModifiedTime(p).toMillis) / 86400000.0
    var kept = 0; var gone = 0; var freed = 0L
    for ((uuid, entry) <- LocalSparkRunner.storeEntries(root)) {
      val doneFile = entry.resolve("done")
      val complete = Files.exists(doneFile)
      val age = ageDays(if (complete) doneFile else entry)
      val minAge = math.max(olderThanDays.getOrElse(0).toDouble,
        if (complete) 0.0 else 1.0)
      if (!keep.contains(uuid) && age >= minAge) {
        gone += 1; freed += treeBytes(entry)
        if (delete) LocalSparkRunner.deleteTreeTolerant(entry)
        log(s"$uuid: ${if (delete) "deleted" else "deletable"}" +
          (if (complete) "" else " (incomplete)"))
      } else kept += 1
    }
    // prune emptied class dirs — directories ONLY (a store root may hold
    // stray regular files, e.g. user-dropped graph JSONs; never touch them)
    if (delete) children(root).foreach { clsDir =>
      if (Files.isDirectory(clsDir) && children(clsDir).isEmpty) {
        try Files.deleteIfExists(clsDir) catch { case _: Exception => () }
      }
    }
    Summary(kept, gone, freed)
  }
}
