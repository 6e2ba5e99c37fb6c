package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.runner.LocalSparkRunner

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the scale extensions), each with a DuckDB oracle in
  * `oracleSql`. Both maps derive from [[graft.catalog.Catalog]], where each
  * query's builder sits next to its oracle in a per-family file.
  *
  * Float discipline for oracle parity: aggregations of doubles are performed
  * over DECIMAL casts (exact, order-independent) and cast back to DOUBLE at
  * the end; per-row double arithmetic is IEEE-deterministic and identical in
  * both engines. Every query has an explicit ORDER BY in both forms.
  */
object SparkEntry {

  /** events.ts arrives in whatever shape the driver's generator last wrote:
    * TIMESTAMP(NANOS) parquet reads as Long (`spark.sql.legacy.parquet
    * .nanosAsLong`, set in Verify/Bench), TIMESTAMP(MICROS) without the
    * UTC-adjusted flag reads as TIMESTAMP_NTZ (which `unix_micros` rejects).
    * Normalize both to microsecond TimestampType under the UTC session tz —
    * the same instants DuckDB sees on read, invariant to the writer.
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ→timestamp cast reinterprets wall-clock fields in the
        // SESSION zone; only under UTC does that yield the same instants
        // DuckDB reads. Fail loudly instead of hash-mismatching later.
        require(df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
          "events TIMESTAMP_NTZ normalization requires " +
            "spark.sql.session.timeZone=UTC (got '" +
            df.sparkSession.conf.get("spark.sql.session.timeZone") + "')")
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** One content-addressed store per JVM for the runner-backed queries —
    * results are keyed by dataset content hash, so sf dirs don't collide.
    * `resetRunnerKeepLoads` clears results between Bench's steady passes
    * (queries re-EXECUTE rather than serving `done`-marker cache hits)
    * while the stamped ingest copies persist. */
  @volatile private var queryStore: String =
    java.nio.file.Files.createTempDirectory("graft-query-store-").toString

  /** One runner per session, not per query invocation: each runner persists
    * its SelectColumnOp frames into the session-shared block cache, so
    * per-query runners leak cache entries (and spam `already cached`
    * warnings) across a multi-query run. */
  private val runnerCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, LocalSparkRunner]

  private[graft] def runnerFor(s: SparkSession): LocalSparkRunner =
    runnerCache.computeIfAbsent(s, s2 => new LocalSparkRunner(s2, queryStore))

  /** Release the session's runner and its block-cache entries (call before
    * `spark.stop()`); the content-addressed store itself survives. */
  def closeRunner(s: SparkSession): Unit = {
    val r = runnerCache.remove(s)
    if (r != null) r.close()
  }

  /** Reset for a steady-state bench pass: drop every memoized RESULT so
    * runner-backed queries re-execute, but KEEP the stamped ingest copies
    * (`Load*DatasetOp` store entries). Ingest stamping is a once-per-dataset
    * cost by design — the stamped copy is shared by every later plan,
    * process, and machine — so a steady pass should measure the post-ingest
    * regime; a fresh-store reset (round 12) re-paid the stamping write
    * inside every timed pass, drifting the whole headline upward without
    * any plan change. */
  def resetRunnerKeepLoads(s: SparkSession): Unit = {
    closeRunner(s)
    val root = java.nio.file.Paths.get(queryStore)
    if (java.nio.file.Files.isDirectory(root)) {
      val keep = Set("LoadLocalParquetDatasetOp", "LoadLocalJsonlDatasetOp",
        "LoadLocalCsvDatasetOp")
      val children = java.nio.file.Files.list(root)
      try children.forEach { p =>
        if (!keep(p.getFileName.toString))
          graft.runner.LocalSparkRunner.deleteTreeTolerant(p)
      } finally children.close()
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query (same column names & order-by). */
  lazy val oracleSql: Map[String, String] =
    Catalog.all.map(q => q.name -> q.oracleSql).toMap
}
