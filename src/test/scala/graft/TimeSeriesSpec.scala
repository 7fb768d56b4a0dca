package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Edge behavior of the spine-generating time-series queries: on an
  * EMPTY events table the bounds frame is a single all-NULL row, the
  * generated spine must collapse to zero rows (not explode on a NULL
  * sequence), and the range-join must keep its 15 interval rows with
  * zero counts — the same outcomes the DuckDB formulations produce.
  */
class TimeSeriesSpec extends SparkSpec {

  private lazy val emptyEventsDir: String = {
    val dir = Files.createTempDirectory("events-empty").toString
    // schema-preserving empty copy, at the fixture layout Tables expects
    Tables.events(spark, sf0001).filter(lit(false))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_gapfill on an empty events table is empty, not a NULL-spine error") {
    val out = graft.queries.EventQueries.gapFill.fn(spark, emptyEventsDir)
    assert(out.count() == 0)
  }

  test("q_range_join on an empty events table keeps all intervals at zero") {
    val out = graft.queries.EventQueries.rangeJoin.fn(spark, emptyEventsDir)
      .orderBy("interval_id").collect()
    assert(out.length == 15)
    assert(out.forall(r => r.getLong(1) == 0L && r.getDouble(2) == 0.0))
  }

  test("q_rolling_time window matches a per-user brute-force recount") {
    val e = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect()
    val byUser = e.groupBy(_.getLong(1))
    val out = graft.queries.EventQueries.rollingHour.fn(spark, sf0001)
      .select("event_id", "user_id", "n_1h").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // brute-force: count events of the same user within [us-1h, us]
    for (r <- e.take(200)) {
      val us = r.getLong(2)
      val want = byUser(r.getLong(1)).count(o =>
        o.getLong(2) >= us - 3600000000L && o.getLong(2) <= us)
      assert(out(r.getLong(0)) == want, s"event ${r.getLong(0)}")
    }
  }
}
