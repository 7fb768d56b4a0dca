package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for package-private Column↔Expression conversion in Spark 4's
  * classic API (`org.apache.spark.sql.classic.ExpressionUtils`). Lives in
  * the spark.sql package purely for access; the standard pattern for
  * Catalyst extensions built outside the Spark tree.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's logical plan to another session (sharing the
    * same SparkContext). Safe for leaf plans (checkpointed LogicalRDD,
    * LogicalRelation); used to run iterative loops in an isolated
    * `newSession()` whose conf (e.g. shuffle partitions) is sized to the
    * loop's data without mutating the caller's session.
    */
  def rebind(session: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.logical)

  /** The executed plan's InternalRow RDD — the zero-copy alternative to
    * `df.rdd` for per-partition imperative passes (no Row encode/decode
    * per row). CAUTION: operators reuse row buffers; callers must copy
    * any value (UTF8String, struct) they retain across `next()`.
    */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Drop the blocks behind a `localCheckpoint()`ed DataFrame. Its
    * plan is a LogicalRDD over the persisted RDD, which `unpersist` on
    * the DataFrame does not reach (that only uncaches `cache()`d plans).
    * A no-op for any other plan.
    */
  def releaseCheckpoint(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Wrap an InternalRow RDD back into a DataFrame (the package-private
    * `internalCreateDataFrame`). Rows must match `schema` exactly.
    */
  def ofInternal(session: SparkSession,
                 rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
