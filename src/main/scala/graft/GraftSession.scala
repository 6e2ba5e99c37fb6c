package graft

import org.apache.spark.sql.SparkSession

/** Engine-recommended session tuning, applied by every session the engine
  * itself builds (Bench/Verify/Prof/CLI/tests). These are PERFORMANCE
  * knobs only — every operator is correct under Spark defaults — kept in
  * one place so a knob is never half-applied across entry points.
  */
object GraftSession {

  /** Runtime SQL confs (settable post-creation too). */
  val tuning: Map[String, String] = Map(
    // the index point-lookup story (Bm25.topKIndexed term lists,
    // Dedup.minhashDedupAgainstIndex probe keys): key-membership isin
    // predicates push into parquet as per-value OR clauses up to this
    // many literals — against the engine's key-sorted row groups that is
    // row-group min/max skipping, i.e. probe reads that track the probe,
    // not the table. Spark's default (10) silently degrades bigger sets
    // to a [min,max] range push, which is vacuous for uniform hash keys.
    "spark.sql.parquet.pushdown.inFilterThreshold" ->
      graft.ext.Dedup.MaxPushedProbeKeys.toString
  )

  /** STATIC confs — only applicable at session build; `conf.set` on a
    * live session throws CANNOT_MODIFY_STATIC_CONFIG for these. */
  val staticTuning: Map[String, String] = Map(
    // many-query serving: the generated-class cache defaults to 100
    // entries, and a workload cycling through hundreds of distinct plans
    // (the 170-query bench; any long-lived multi-tenant driver) evicts
    // and RE-COMPILES every stage on every revisit — Janino pays
    // 100-300 ms per stage. Sized for thousands of distinct codegen
    // stages; the cache holds class references, not data. Read once at
    // the JVM's first codegen, so it must be set at session build.
    "spark.sql.codegen.cache.maxEntries" -> "5000"
  )

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The builder every engine program and test session starts from:
    * [[cpus]] shuffle partitions (whatever the master), UTC session time,
    * TIMESTAMP(NANOS) parquet read as longs (`events.ts`, see
    * [[SparkEntry.normalizeEventsTs]]), no UI, plus [[tune]]. */
  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    tune(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Apply the tuning to a builder (the normal path). */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    (tuning ++ staticTuning).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v)
    }
}
