package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from the domain modules under `graft.queries`.
  */
object SparkEntry {

  /** All driver-checkable queries. */
  def registry: Seq[QueryDef] =
    queries_registry

  private lazy val queries_registry: Seq[QueryDef] = {
    import graft.queries._
    Seq(RagQueries.all, VectorQueries.all, AnnQueries.all, DedupQueries.all, NearDupQueries.all,
      DecontamQueries.all, TextStatsQueries.all, TokenizerQueries.all, QualityQueries.all,
      MixingQueries.all, LinkageQueries.all, RelationalQueries.all, EventQueries.all,
      MultimodalQueries.all).flatten
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_topk_cosine")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
