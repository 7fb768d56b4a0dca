package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table access. All queries take an sf directory and read the
  * driver's parquet tables from it (TESTDATA.md). Embeddings are stored as
  * `array<float>`; the engine works in `array<double>` to match the
  * reference's `DOUBLE_VECTOR` semantics (`vector-db.h:1`).
  */
object Tables {

  /** Inferred schemas by table path, modification time and the session's
    * parquet settings. Inferring a parquet schema reads a footer in a
    * Spark job, so without this every read of an unchanged table, in
    * every warm pass, would run one job more.
    */
  private val schemas = new ConcurrentHashMap[(String, Long, Seq[(String, String)]), StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val parquetConf = spark.conf.getAll.filter(_._1.contains(".parquet.")).toSeq.sorted
    val key = (path, new java.io.File(path).lastModified(), parquetConf)
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  /** embeddings with the vector cast to array<double>. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"), col("label"))

  /** events, with `ts` normalized to TimestampType regardless of how the
    * driver encoded the parquet column — the fixture has drifted across
    * rounds (TIMESTAMP(NANOS) → `timestamp[us]` no-tz, which Spark 4 reads
    * as TIMESTAMP_NTZ), and every downstream consumer (`unix_micros`,
    * `withWatermark`) requires TIMESTAMP. The NTZ→TIMESTAMP cast is
    * value-preserving under the UTC session the harness sets, matching
    * what DuckDB sees on the same file.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long source
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a (µs) TIMESTAMP, e.g. re-encoded replicas
    }
  }
}
