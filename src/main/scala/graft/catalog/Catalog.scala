package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the Spark builder over an sf dir, and the
  * DuckDB SQL over the same parquet tables that must return the same rows
  * (same column names, same ORDER BY). */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** Every driver query, family by family. Each family file keeps a query's
  * builder next to its oracle, with the helpers and constants only that
  * family uses; helpers several families share live in [[Shared]]. */
object Catalog {

  val all: Seq[Query] = distinctNames(
    RelationalQueries.queries ++ ModelQueries.queries ++
      CorpusGraphQueries.queries ++ MultimodalQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      RetrievalQueries.queries ++ TextQueries.queries ++
      MulticlassQueries.queries)

  /** `qs` itself, or an error naming every query name that occurs twice. */
  private[graft] def distinctNames(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
}
