package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle run by
  * the driver on the same parquet tables. Column names MUST match between
  * the two — the driver sorts columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
