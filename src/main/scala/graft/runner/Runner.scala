package graft.runner

import org.apache.spark.sql.SparkSession

/** Runner factory with per-process caching keyed by (session, store,
  * cache tier) — the reference's `Runner()` singleton pattern
  * (`runners/__init__.py:55-106`, `config.py:18-71`): repeated `Runner()`
  * calls with the same configuration return the same instance (sharing its
  * in-process memo), and configuration defaults come from the environment.
  *
  * Config resolution order (mirroring the reference's
  * env-then-default settings): explicit argument → `GRAFT_STORE` /
  * `GRAFT_CACHE` env vars → `./graft-store` with no cache tier. Setting a
  * cache path (argument or env) selects the tiered [[CachedSparkRunner]] —
  * the reference's `runner_type=LocalCachedRunner` switch.
  */
object Runner {

  private val cache =
    scala.collection.mutable.HashMap.empty[
      (SparkSession, String, Option[String]), LocalSparkRunner]

  def defaultStoreUri: String =
    sys.env.getOrElse("GRAFT_STORE", "graft-store")

  def defaultCachePath: Option[String] = sys.env.get("GRAFT_CACHE")

  def apply(spark: SparkSession,
            storeUri: String = null,
            cachePath: String = null): LocalSparkRunner = synchronized {
    val store = Option(storeUri).getOrElse(defaultStoreUri)
    val tier = Option(cachePath).orElse(defaultCachePath)
    cache.getOrElseUpdate((spark, store, tier), tier match {
      case Some(c) => new CachedSparkRunner(spark, store, c)
      case None => new LocalSparkRunner(spark, store)
    })
  }

  /** Drop cached runners (tests / reconfiguration). */
  def reset(): Unit = synchronized { cache.clear() }
}
