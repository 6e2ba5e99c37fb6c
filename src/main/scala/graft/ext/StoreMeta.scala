package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Atomic single-row metadata commits for the stored-index family
  * ([[Bm25]] stats, [[Dedup]] MinHash meta, [[Similarity]] IVF / IVF-PQ
  * meta), and the segment protocol the MinHash, IVF and IVF-PQ stores
  * share ([[Segments]], [[appendSegment]], [[compactionSegment]]).
  *
  * The one-row pointer table IS each store's commit point, so it must
  * never be half-written or transiently missing. A plain
  * `mode("overwrite")` parquet write is neither: Spark deletes the whole
  * directory before writing, so a probe racing the flip can observe a
  * MISSING pointer, and a crash between the delete and the commit
  * destroys the only copy (this was ADVICE r16's medium finding).
  *
  * The discipline here is versioned-directory + commit-marker, the same
  * one Spark's own FileOutputCommitter gives every job for free:
  *
  *  - a writer never touches an existing version: it writes the new row
  *    to a FRESH `&lt;prefix&gt;_m&lt;K+1&gt;` directory; the `_SUCCESS`
  *    marker (written by the committer AFTER every data file is in place)
  *    is the version's atomic commit;
  *  - a reader lists the versions and reads the HIGHEST COMMITTED one —
  *    a crashed attempt has no `_SUCCESS` and is invisible; the previous
  *    version is still whole until the next writer prunes it;
  *  - pruning keeps the current AND previous committed versions (the
  *    one-writer-cycle grace window the data-table flips already use, see
  *    [[Bm25]] `pruneVersions`), so an in-flight reader that resolved the
  *    old pointer just before a flip can finish its read.
  *
  * Single writer per store (the family's standing contract); readers are
  * unlimited and never blocked.
  */
object StoreMeta {

  private val Marker = "_SUCCESS"

  private def fsOf(spark: SparkSession, root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** (version, committed?) of every `prefix_mK` dir under `root`. */
  private def versions(spark: SparkSession, root: String,
                       prefix: String): Seq[(Int, Boolean)] = {
    val (fs, p) = fsOf(spark, root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith(s"${prefix}_m"))
        scala.util.Try(n.stripPrefix(s"${prefix}_m").toInt).toOption
          .map(v => (v, fs.exists(
            new org.apache.hadoop.fs.Path(s.getPath, Marker))))
      else None
    }
  }

  /** Highest COMMITTED version, or -1 if none exists. */
  def currentVersion(spark: SparkSession, root: String,
                     prefix: String): Int =
    versions(spark, root, prefix).collect { case (v, true) => v }
      .foldLeft(-1)(math.max)

  /** The current committed metadata row(s) as a DataFrame. Loud error if
    * the store has no committed version (never initialized, or a foreign
    * directory). */
  def read(spark: SparkSession, root: String, prefix: String): DataFrame = {
    val v = currentVersion(spark, root, prefix)
    require(v >= 0,
      s"StoreMeta.read: no committed ${prefix}_m<K> under $root — " +
        "not an initialized store")
    graft.ops.StoredParquet.read(spark, s"$root/${prefix}_m$v")
  }

  /** Commit `df` as the next version and prune everything older than the
    * previous committed version (plus crashed-attempt debris). The commit
    * point is the new directory's `_SUCCESS`; nothing existing is
    * modified before it lands. */
  def write(df: DataFrame, root: String, prefix: String): Unit = {
    val spark = df.sparkSession
    val vs = versions(spark, root, prefix)
    val newV = vs.map(_._1).foldLeft(-1)(math.max) + 1
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"$root/${prefix}_m$newV")
    // The marker is the commit point, so it must not depend on committer
    // configuration: with mapreduce.fileoutputcommitter.marksuccessfuljobs
    // =false (a common object-store setting) the committer writes no
    // _SUCCESS, every version would look uncommitted, read() would error,
    // and the prune below would delete the only good pointers as
    // "crashed attempts". Write it explicitly AFTER the data files land —
    // idempotent when the committer already created it.
    val (fsW, _) = fsOf(spark, root)
    fsW.create(new org.apache.hadoop.fs.Path(
      s"$root/${prefix}_m$newV/$Marker"), true).close()
    // prune: keep newV and the previous committed version; delete older
    // committed versions and any uncommitted (crashed) attempt dirs
    val (fs, _) = fsOf(spark, root)
    val prevCommitted = vs.collect { case (v, true) => v }
      .foldLeft(-1)(math.max)
    vs.foreach { case (v, committed) =>
      if ((committed && v < prevCommitted) || (!committed && v < newV)) {
        try fs.delete(
          new org.apache.hadoop.fs.Path(s"$root/${prefix}_m$v"), true)
        catch { case _: Exception => () }
      }
    }
  }

  /** Best-effort removal of every directory entry directly under `root`
    * whose name satisfies `orphan` — the stores' orphan sweeps. */
  private[ext] def sweep(spark: SparkSession, root: String,
                         orphan: String => Boolean): Unit = {
    val (fs, p) = fsOf(spark, root)
    if (fs.exists(p)) fs.listStatus(p).foreach { s =>
      if (orphan(s.getPath.getName)) {
        try fs.delete(s.getPath, true) catch { case _: Exception => () }
      }
    }
  }

  // ---------------- segment protocol ----------------

  /** The segment manifest of a MinHash, IVF or IVF-PQ store, stored in its
    * `meta` row as `segments`, `last_tag`, `next_seg`: the live segment
    * dirs in append order, the most recent append's idempotence tag, and
    * the monotone counter that names untagged segments. The counter is
    * never recycled, even after a compaction resets the list: a
    * list-position name would reuse `seg_0` and overwrite a retired dir a
    * grace-window reader still holds. */
  private[ext] final case class Segments(live: List[String],
                                         lastTag: String, nextSeg: Long)

  private[ext] object Segments {
    /** The freshly built store: one `seg_base` segment. */
    val Base: Segments = Segments(List("seg_base"), "", 0L)

    def of(meta: Row): Segments =
      Segments(meta.getAs[scala.collection.Seq[String]]("segments").toList,
        meta.getAs[String]("last_tag"), meta.getAs[Long]("next_seg"))
  }

  /** Append `batch` as one immutable segment: `write` receives the
    * segment's directory under `root` and must write the whole batch
    * there; the caller commits the returned manifest with its meta row
    * (the commit point — until then the segment is an unreferenced dir
    * that a retry overwrites). A tagged append lands in `seg_<tag>`, an
    * untagged one in `seg_<nextSeg>`. Returns None, writing nothing, for
    * a replay (`tag` equals the manifest's last tag: its effects already
    * landed — EXACTLY-ONCE under streaming replay) and for an idle
    * (empty) batch, which would otherwise commit a junk segment. */
  private[ext] def appendSegment(root: String, m: Segments, tag: String,
                                 batch: DataFrame)(write: String => Unit)
      : Option[Segments] =
    if (tag.nonEmpty && m.lastTag == tag) None
    else if (batch.isEmpty) None
    else {
      val seg = if (tag.nonEmpty) s"seg_$tag" else s"seg_${m.nextSeg}"
      write(s"$root/$seg")
      Some(Segments(m.live :+ seg, tag, m.nextSeg + 1L))
    }

  /** Start a compaction of the store at `root`: sweep the orphans — every
    * `seg_*` dir the manifest `m` does not list (crashed-append debris and
    * the previous compaction's inputs, kept one generation for in-flight
    * readers), plus any name `alsoSweep` picks — and name the fresh
    * generation `seg_c<gen>`, `gen` one past the newest live generation.
    * Returns the segment name and `gen`. The caller writes the folded rows
    * there and commits `m.copy(live = List(name))`: `last_tag` and the
    * counter survive compaction. */
  private[ext] def compactionSegment(spark: SparkSession, root: String,
                                     m: Segments,
                                     alsoSweep: String => Boolean = _ => false)
      : (String, Int) = {
    val live = m.live.toSet
    sweep(spark, root,
      n => (n.startsWith("seg_") && !live.contains(n)) || alsoSweep(n))
    val gen = m.live.collect {
      case s if s.startsWith("seg_c") =>
        scala.util.Try(s.drop(5).toInt).getOrElse(-1)
    } match { case Nil => 0; case gs => gs.max + 1 }
    (s"seg_c$gen", gen)
  }
}
