package graft.runner

import graft.GraphConfig
import org.apache.spark.sql.SparkSession

/** Runner factory with per-process caching keyed by (session, store,
  * cache tier) — the reference's `Runner()` singleton pattern
  * (`runners/__init__.py:55-106`, `config.py:18-71`): repeated `Runner()`
  * calls with the same configuration return the same instance (sharing its
  * in-process memo).
  *
  * Config resolution: an explicit argument wins; otherwise the value comes
  * from [[GraphConfig.load]] (env → config file → defaults, the source
  * the CLI reads too): its store URI, and its cache path only when the
  * configured runner type is the tiered one. A cache path selects the
  * tiered [[CachedSparkRunner]] — the reference's
  * `runner_type=LocalCachedRunner` switch.
  */
object Runner {

  private val cache =
    scala.collection.mutable.HashMap.empty[
      (SparkSession, String, Option[String]), LocalSparkRunner]

  def apply(spark: SparkSession,
            storeUri: String = null,
            cachePath: String = null): LocalSparkRunner = synchronized {
    lazy val conf = GraphConfig.load()
    val store = Option(storeUri).getOrElse(conf.storeUri)
    val tier = Option(cachePath)
      .orElse(Option.when(conf.wantsCache)(conf.cachePath))
    cache.getOrElseUpdate((spark, store, tier), tier match {
      case Some(c) => new CachedSparkRunner(spark, store, c)
      case None => new LocalSparkRunner(spark, store)
    })
  }

  /** Drop cached runners (tests / reconfiguration). */
  def reset(): Unit = synchronized { cache.clear() }
}
