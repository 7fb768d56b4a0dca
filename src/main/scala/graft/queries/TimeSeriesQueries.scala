package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Time-series shaping beyond plain tumbling windows: zero-filled
  * gap-fill against a generated spine, and a value-based (RANGE) trailing
  * interval window. Both are everyday ops in metrics/training-data
  * pipelines that plain `groupBy(window(...))` does not cover.
  */
object TimeSeriesQueries {

  /** Zero-filled hourly series per event type. The spine
    * (`sequence(lo, hi, 1 hour)` × distinct types) is generated, not
    * scanned, so the only full-data operation is the one aggregation
    * shuffle; the spine↔agg join runs entirely on post-aggregate (small)
    * frames and AQE broadcasts it. Missing (hour, type) cells surface as
    * explicit zero rows — the shape chart/model consumers need.
    */
  val gapFill: QueryDef = QueryDef.sql(
    "q_gapfill",
    """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                  date_trunc('hour', max(ts)) AS hi FROM events),
      |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
      |types AS (SELECT DISTINCT event_type FROM events),
      |agg AS (SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
      |               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |        FROM events GROUP BY 1, 2)
      |SELECT CAST(epoch(hours.h) AS BIGINT) AS hour_ts, types.event_type,
      |       coalesce(agg.n, 0) AS n,
      |       coalesce(agg.sum_value, 0.0) AS sum_value
      |FROM hours CROSS JOIN types
      |LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = types.event_type""".stripMargin) {
    (spark, dir) =>
    val e = Tables.events(spark, dir)
    val bounds = e.agg(date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val types = e.select("event_type").distinct()
    val agg = e
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // exact decimal internally, DOUBLE in the output schema
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    hours.crossJoin(types)
      .join(agg, Seq("h", "event_type"), "left")
      .select(unix_timestamp(col("h")).as("hour_ts"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** Trailing-1-hour count/sum per user at every event — a value-based
    * RANGE frame over epoch microseconds (`unix_micros` ≡ DuckDB
    * `epoch_us`, both exactly the ns→µs truncation of the source). RANGE
    * frames are peer-inclusive in both engines, so equal-timestamp rows
    * agree by definition; no tie-break is needed for determinism.
    */
  val rollingHour: QueryDef = QueryDef.sql(
    "q_rolling_time",
    """SELECT event_id, user_id,
      |       count(*) OVER w AS n_1h,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) {
    (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("sum_1h"))
  }

  /** Range (interval-containment) join, executed the scale-safe way:
    * each interval explodes to the hour buckets it overlaps, events
    * equi-join on their hour bucket (the tiny exploded interval table
    * broadcasts), and the true `lo ≤ ts < hi` predicate runs as a
    * residual filter. A naive non-equi join would plan as a
    * nested-loop over every (event, interval) pair; bucketing makes the
    * candidate set |events| × overlap(≤3) instead. All boundary
    * arithmetic is epoch-µs BIGINT, so no interval-type semantics enter
    * the comparison. The oracle states the same join as the plain range
    * predicate. Intervals (93 min every 48 h, offset 17 min from the
    * first hour) deliberately straddle bucket boundaries.
    */
  val rangeJoin: QueryDef = QueryDef.sql(
    "q_range_join",
    """WITH b AS (SELECT epoch_us(date_trunc('hour', min(ts))) AS t0 FROM events),
      |iv AS (SELECT k, t0 + (17 + k*2880) * CAST(60000000 AS BIGINT) AS lo,
      |              t0 + (110 + k*2880) * CAST(60000000 AS BIGINT) AS hi
      |       FROM b, (SELECT unnest(range(0, 15)) AS k))
      |SELECT CAST(iv.k AS BIGINT) AS interval_id,
      |       count(e.event_id) AS n,
      |       CAST(coalesce(sum(CAST(e.value AS DECIMAL(18,6))), 0) AS DOUBLE) AS sum_value
      |FROM iv LEFT JOIN events e
      |  ON epoch_us(e.ts) >= iv.lo AND epoch_us(e.ts) < iv.hi
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("value"), unix_micros(col("ts")).as("us"))
    val iv = e.sparkSession.range(0, 15).toDF("k")
      .crossJoin(Tables.events(spark, dir)
        .agg(unix_micros(date_trunc("hour", min(col("ts")))).as("t0")))
      .select(col("k"),
        (col("t0") + (lit(17L) + col("k") * 2880L) * 60000000L).as("lo"),
        (col("t0") + (lit(110L) + col("k") * 2880L) * 60000000L).as("hi"))
    // bucketize: each interval → the hour buckets it overlaps (integer
    // `div`, not double division — exact at any epoch)
    val ivb = iv.select(col("k"), col("lo"), col("hi"),
      explode(sequence(expr("lo div 3600000000"),
        expr("(hi - 1) div 3600000000"))).as("hb"))
    val matched = e.withColumn("hb", expr("us div 3600000000"))
      .join(broadcast(ivb), "hb")
      .filter(col("us") >= col("lo") && col("us") < col("hi"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    // matched is post-aggregate (≤ |intervals| rows) — broadcast it so
    // the spine join never sorts/shuffles
    iv.select("k").join(broadcast(matched), Seq("k"), "left")
      .select(col("k").cast("long").as("interval_id"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  val all: Seq[QueryDef] = Seq(gapFill, rollingHour, rangeJoin)
}
