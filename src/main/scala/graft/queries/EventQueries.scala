package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{AsOfJoin, Dedup}
import graft.functions.TextFunctions.{polyHash, polyHashSql, shinglesSql, tokens}
import org.apache.spark.sql.expressions.Window

/** Event and time-series analytics over `events`: tumbling windows,
  * JSON and map functions, sessions, funnels, retention, stickiness,
  * outliers, autocorrelation, change points, PSI, itemsets, bursts,
  * transitions, interval and as-of joins, gap-fill, range windows,
  * EWMA and Holt smoothing.
  *
  * Timestamps are emitted as epoch seconds (BIGINT), so parquet
  * timestamp encodings never enter the hash compare. The as-of join's
  * oracle is DuckDB's native ASOF LEFT JOIN; the engine composes the same
  * semantics from a union and one window pass.
  */
object EventQueries {

  /** Tumbling 1-hour window aggregation. */
  val hourly: QueryDef = QueryDef.sql(
    "q_events_hourly",
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // exact decimal sum internally; DOUBLE in the output schema (the
        // driver's hash is representation-sensitive to DECIMAL)
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("hour_ts"), col("event_type"), col("n"), col("sum_value"))
  }

  /** JSON extraction (J1/J3 semantics, `get_json_object`) + aggregation. */
  val jsonExtract: QueryDef = QueryDef.sql(
    "q_events_json",
    """SELECT event_type,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |       count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin) { (spark, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(sum(k).as("sum_k"), min(k).as("min_k"), max(k).as("max_k"), count(lit(1)).as("n"))
  }

  /** Sessionization with a 30-minute gap, using Spark's native
    * `session_window` (the same operator Structured Streaming uses for
    * session state); the oracle expresses identical semantics via
    * lag+gap-count. A new session starts when the gap is >= 30 min.
    */
  val sessionize: QueryDef = QueryDef.sql(
    "q_sessionize",
    """WITH e AS (
      |  SELECT user_id, epoch(ts) AS sec,
      |         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sec - prev >= 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
      |FROM e GROUP BY user_id""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_in_session"))
      .groupBy("user_id")
      .agg(sum(col("n_in_session")).as("n_events"), count(lit(1)).as("n_sessions"))
      .select("user_id", "n_events", "n_sessions")
  }

  /** Map-function surface (the one §2.2 category with no fixture-backed
    * query until now): per-user event-type counts built into a MAP
    * (`map_from_entries(collect_list(struct))`), thresholded with
    * `map_filter`, sized with `map_keys`, then exploded back to rows —
    * so the output stays hash-comparable (MAP output encodings are not
    * cross-engine stable, the same representation rule as DECIMAL).
    */
  val mapFuncs: QueryDef = QueryDef.sql(
    "q_map_funcs",
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |f AS (SELECT * FROM c WHERE n >= 20)
      |SELECT user_id,
      |       CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_types,
      |       event_type, n
      |FROM f""".stripMargin) { (spark, dir) =>
    val counts = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    counts
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("n")))).as("m"))
      .select(col("user_id"), map_filter(col("m"), (_, v) => v >= 20).as("mf"))
      .filter(size(map_keys(col("mf"))) > 0)
      .select(col("user_id"), size(map_keys(col("mf"))).cast("long").as("n_types"),
        explode(col("mf")).as(Seq("event_type", "n")))
  }

  /** Heavy hitters — the third tolerance-gated sketch beside
    * `q_approx_distinct` and `q_approx_quantile`: single-pass
    * `freqItems` (stream-summary) with support 0.10 must contain every
    * type whose EXACT share exceeds 0.15 — that containment is the
    * algorithm's guarantee, order-independent even though the sketch
    * itself is order-sensitive, so `in_approx` is deterministically
    * TRUE and the oracle asserts the literal. Exact twin: the counts
    * themselves, integer-checked in the same row.
    */
  val heavyHitters: QueryDef = QueryDef.sql(
    "q_heavy_hitters",
    """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM events)
      |SELECT event_type, n, TRUE AS in_approx
      |FROM c, t WHERE n > tot * CAST(0.15 AS DOUBLE)""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val approx = ev.stat.freqItems(Array("event_type"), 0.10)
      .head().getSeq[String](0)
    val tot = ev.agg(count(lit(1)).as("tot"))
    ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .filter(col("n") > col("tot") * lit(0.15))
      .select(col("event_type"), col("n"),
        col("event_type").isin(approx: _*).as("in_approx"))
  }

  /** First-touch funnel: users who viewed, then clicked at/after their
    * first view, then purchased at/after that click — sequence
    * analytics via first-occurrence timestamps (one groupBy, no array
    * assembly, no per-user state). NULL-comparison semantics are
    * identical in both engines: a missing stage makes the predicate
    * NULL and the conditional count skips it. Epoch-µs comparisons are
    * exact after the shared ns→µs truncation.
    */
  val funnel: QueryDef = QueryDef.sql(
    "q_funnel",
    """WITH u AS (SELECT user_id,
      |                  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
      |                  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
      |                  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
      |           FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |       CAST(sum(CASE WHEN tc >= tv THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
      |       CAST(sum(CASE WHEN tc >= tv AND tp >= tc THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
      |FROM u""".stripMargin) { (spark, dir) =>
    val us = unix_micros(col("ts"))
    val u = Tables.events(spark, dir).groupBy("user_id").agg(
      min(when(col("event_type") === "view", us)).as("tv"),
      min(when(col("event_type") === "click", us)).as("tc"),
      min(when(col("event_type") === "purchase", us)).as("tp"))
    u.agg(count(lit(1)).as("n_users"),
      sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("tc") >= col("tv"), 1L).otherwise(0L)).as("n_view_click"),
      sum(when(col("tc") >= col("tv") && col("tp") >= col("tc"), 1L).otherwise(0L)).as("n_funnel"))
  }

  /** One-pass data profiling: per-column null and distinct counts,
    * computed in a SINGLE aggregation over the scan (the multi-
    * countDistinct expands map-side, not into N passes) and melted to
    * one row per column from the 1-row aggregate — profiling a 100 TB
    * table costs one read, not one per column.
    */
  val nullAudit: QueryDef = QueryDef.sql(
    "q_null_audit",
    """WITH a AS (SELECT
      |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_type,
      |  count(DISTINCT event_type) AS nd_type,
      |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_user,
      |  count(DISTINCT user_id) AS nd_user,
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_value,
      |  count(DISTINCT value) AS nd_value,
      |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_props,
      |  count(DISTINCT props) AS nd_props
      |  FROM events)
      |SELECT 'event_type' AS col, nn_type AS n_null, nd_type AS n_distinct FROM a
      |UNION ALL SELECT 'user_id', nn_user, nd_user FROM a
      |UNION ALL SELECT 'value', nn_value, nd_value FROM a
      |UNION ALL SELECT 'props', nn_props, nd_props FROM a""".stripMargin) { (spark, dir) =>
    def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")
    def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
    val cols = Seq("event_type", "user_id", "value", "props")
    val a = Tables.events(spark, dir)
      .agg(nn(cols.head), (cols.tail.flatMap(c => Seq(nn(c), nd(c))) :+ nd(cols.head)): _*)
    // melt via ONE explode over the single aggregate row — a union of
    // per-column selects would recompute the whole aggregation pass
    // once per column
    a.select(explode(array(cols.map(c => struct(
        lit(c).as("col"), col(s"nn_$c").as("n_null"),
        col(s"nd_$c").as("n_distinct"))): _*)).as("r"))
      .select(col("r.col").as("col"), col("r.n_null").as("n_null"),
        col("r.n_distinct").as("n_distinct"))
  }

  /** 3σ outlier counts per event type — the statistical filter step of
    * value-curation. Moments come from EXACT decimal sums (value is a
    * clean 2-decimal column, so v and v² are exact in DECIMAL(18,2)/
    * (37,4) and the UNSCALED sums stay far below 2^53, where the
    * decimal→double cast is identical in both engines); mean/std/the
    * comparison are then deterministic double arithmetic on identical
    * inputs. Two passes over events (moments, then compare) — the
    * standard shape; a single-pass approximation would trade the exact
    * gate away.
    */
  val outliers: QueryDef = QueryDef.sql(
    "q_outliers",
    """WITH s AS (SELECT event_type, count(*) AS n,
      |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |                  CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |           FROM events GROUP BY 1)
      |SELECT e.event_type, s.n,
      |       CAST(sum(CASE WHEN abs(e.value - s.s1 / s.n) >
      |                          3 * sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN s ON s.event_type = e.event_type
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val d = col("value").cast("decimal(18,2)")
    val stats = Tables.events(spark, dir).groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(d).cast("double").as("s1"),
      sum(d * d).cast("double").as("s2"))
    val mean = col("s1") / col("n")
    val std = sqrt(col("s2") / col("n") - mean * mean)
    Tables.events(spark, dir).join(broadcast(stats), "event_type")
      .groupBy("event_type", "n")
      .agg(sum(when(abs(col("value") - mean) > lit(3) * std, 1L).otherwise(0L))
        .as("n_outliers"))
  }

  /** DAU / trailing-7-day WAU / stickiness per observed day — the
    * engagement dashboard triple. The trailing window is NOT a sliding
    * distinct (quadratic state): each (user, active-day) row expands
    * map-side to the ≤7 window days it contributes to, then one keyed
    * aggregation counts distinct users per target day — corpus-linear
    * with a ×7 expansion, the same generated-spine idiom as
    * `q_range_join`. Days outside the observed set are dropped by a
    * broadcast semi-join against the (time-bounded, tiny) day spine.
    */
  val dauStickiness: QueryDef = QueryDef.sql(
    "q_dau_stickiness",
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS ad, user_id FROM events),
      |days AS (SELECT DISTINCT ad AS d FROM ud),
      |w AS (SELECT ud.ad + CAST(o AS INTEGER) AS td, ud.user_id, ud.ad
      |      FROM ud, unnest(range(0, 7)) t(o)),
      |wk AS (SELECT w.td, w.user_id, w.ad FROM w JOIN days ON days.d = w.td)
      |SELECT td AS d,
      |       CAST(count(DISTINCT CASE WHEN ad = td THEN user_id END) AS BIGINT) AS dau,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
      |       CAST(floor(count(DISTINCT CASE WHEN ad = td THEN user_id END) * 10000.0
      |                  / count(DISTINCT user_id)) AS BIGINT) AS stickiness_bp
      |FROM wk GROUP BY td""".stripMargin) { (spark, dir) =>
    val ud = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("ad"), col("user_id")).distinct()
    val days = ud.select(col("ad").as("d")).distinct()
    val w = ud.select(col("ad"), col("user_id"),
      explode(sequence(lit(0), lit(6))).as("o"))
      .select(date_add(col("ad"), col("o")).as("td"), col("user_id"), col("ad"))
    w.join(broadcast(days), col("d") === col("td"))
      .groupBy(col("td").as("d"))
      .agg(countDistinct(when(col("ad") === col("td"), col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .select(col("d"), col("dau"), col("wau"),
        floor(col("dau") * 10000.0 / col("wau")).cast("long").as("stickiness_bp"))
  }

  /** MAD-based robust outliers — the median-of-absolute-deviations twin
    * of `q_outliers`' 3σ rule (a single wild value drags a mean/stddev
    * fence; it cannot move a median fence). Both medians are exact
    * nearest-rank order statistics over deterministic orders (the
    * `q_median` discipline: value then id — cross-engine exact where
    * interpolated quantiles are not), deviations are exact double
    * subtractions, and the 3·1.4826·MAD fence is the same
    * identically-ordered double expression in both engines. Two window
    * passes partitioned by event_type plus two broadcast joins of the
    * type-sized median tables.
    */
  val madOutliers: QueryDef = QueryDef.sql(
    "q_mad_outliers",
    """WITH r AS (SELECT event_type, event_id, value,
      |                  row_number() OVER (PARTITION BY event_type
      |                                     ORDER BY value NULLS LAST, event_id) AS rn,
      |                  count(*) OVER (PARTITION BY event_type) AS n
      |           FROM events),
      |med AS (SELECT event_type, max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med,
      |               CAST(max(n) AS BIGINT) AS n
      |        FROM r GROUP BY event_type),
      |d AS (SELECT e.event_type, e.event_id, abs(e.value - med.med) AS dev, med.med, med.n
      |      FROM events e JOIN med USING (event_type)),
      |d2 AS (SELECT event_type, event_id, dev, med, n,
      |              row_number() OVER (PARTITION BY event_type
      |                                 ORDER BY dev NULLS LAST, event_id) AS drn
      |       FROM d),
      |mad AS (SELECT event_type, max(CASE WHEN drn = (n + 1) // 2 THEN dev END) AS mad
      |        FROM d2 GROUP BY event_type)
      |SELECT d.event_type, max(d.n) AS n, max(d.med) AS med, max(mad.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_outliers
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type""".stripMargin) { (spark, dir) =>
    val events = Tables.events(spark, dir)
    // NULLS LAST in both engines: Spark ASC defaults nulls FIRST, DuckDB
    // LAST — a null value would otherwise shift which row each engine
    // picks as the nearest-rank median. Rank arithmetic is integral DIV,
    // never a truncated double quotient. Both rank passes ride
    // PrefixSum.rowNumber: a row_number window partitioned
    // by the handful of event types is the packer-postmortem
    // parallelism ceiling; the segmented scan keeps the identical
    // NULLS-LAST total order at full parallelism.
    val ev = events.select(col("event_type"), col("event_id"), col("value"))
    val cnt = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val med = graft.operators.PrefixSum.rowNumber(ev, "event_type",
        Seq(col("value").asc_nulls_last, col("event_id").asc), "rn")
      .join(cnt, "event_type")
      .groupBy("event_type")
      .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col("value"))).as("med"),
        max(col("n")).as("n"))
    val d = events.join(broadcast(med), "event_type")
      .select(col("event_type"), col("event_id"),
        abs(col("value") - col("med")).as("dev"), col("med"), col("n"))
    val mad = graft.operators.PrefixSum.rowNumber(
        d.select(col("event_type"), col("event_id"), col("dev"), col("n")),
        "event_type",
        Seq(col("dev").asc_nulls_last, col("event_id").asc), "drn")
      .groupBy(col("event_type").as("mtype"))
      .agg(max(when(col("drn") === expr("(n + 1) DIV 2"), col("dev"))).as("mad"))
    d.join(broadcast(mad), col("mtype") === col("event_type"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Lag-1 autocorrelation of the daily event volume — the seasonality /
    * trend-stability number a forecasting or anomaly pipeline checks
    * before trusting day-over-day baselines (r ~ 1: stable daily level;
    * r ~ 0: volume is noise; negative: alternating load). Counts are
    * exact integers, so all five moment sums over the (day, day+1)
    * pairs are exact BIGINTs; the one Pearson division runs in doubles
    * in a fixed op order and floors onto the 2^20 grid (the `q_dim_corr`
    * formula on the time axis). SCALE: one day-keyed count (map-side
    * partial) reduces the corpus; everything after runs on the
    * days-sized table (self-join on day+1 is a tiny shuffle-free
    * broadcast at any horizon).
    */
  val autocorr: QueryDef = QueryDef.sql(
    "q_autocorr",
    """WITH d AS (SELECT CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day,
      |                 CAST(count(*) AS BIGINT) AS n
      |          FROM events GROUP BY 1),
      |p AS (SELECT a.n AS x, b.n AS y FROM d a JOIN d b ON b.day = a.day + 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * y) AS BIGINT) AS sxy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx,
      |             CAST(sum(y * y) AS BIGINT) AS syy
      |      FROM p),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d)
      |SELECT t.n_days, s.m AS n_pairs,
      |       CAST(floor((CAST(s.m AS DOUBLE) * CAST(s.sxy AS DOUBLE)
      |                   - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
      |                  / sqrt((CAST(s.m AS DOUBLE) * CAST(s.sxx AS DOUBLE)
      |                          - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
      |                         * (CAST(s.m AS DOUBLE) * CAST(s.syy AS DOUBLE)
      |                            - CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE)))
      |                  * 1048576.0) AS BIGINT) AS autocorr_q
      |FROM t, s""".stripMargin) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(expr("unix_timestamp(date_trunc('day', ts)) DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val p = d.select(col("day"), col("n").as("x"))
      .join(d.select((col("day") - 1).as("day"), col("n").as("y")), "day")
    val s = p.agg(count(lit(1)).as("m"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val t = d.agg(count(lit(1)).as("n_days"))
    t.crossJoin(broadcast(s))
      .select(col("n_days"), col("m").as("n_pairs"),
        floor((col("m").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("m").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("m").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double")))
          * lit(1048576.0)).cast("long").as("autocorr_q"))
  }

  /** Single change-point detection on the daily event volume — the
    * binary-segmentation first split an anomaly/drift monitor takes
    * before trusting a "stable level" assumption. The split day
    * maximizes |n·S_k − k·S_n| (the scaled CUSUM deviation: cumulative
    * count S_k vs the even-rate line), a pure-BIGINT objective — no
    * division, no doubles, so the argmax is exact and the cross-engine
    * tie-break (earlier day wins) is total. Means of the two segments
    * are reported via integral DIV. The deviation products stay below
    * 2^63 up to ~10^12 events × 10^4 days — comfortably past 100 TB.
    * SCALE: one day-keyed map-side count reduces the corpus; the
    * cumulative window and the argmax run on the days-sized table
    * (horizon-bounded, like `q_autocorr` — the one unpartitioned
    * window sees ~365 rows/year, never the corpus).
    */
  val changepoint: QueryDef = QueryDef.sql(
    "q_changepoint",
    """WITH d AS (SELECT CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day,
      |                 CAST(count(*) AS BIGINT) AS n
      |          FROM events GROUP BY 1),
      |c AS (SELECT day, n,
      |             CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
      |             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
      |      FROM d),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS tot FROM d),
      |dev AS (SELECT c.day, c.k, c.s, abs(t.nd * c.s - c.k * t.tot) AS dev, t.nd, t.tot
      |        FROM c, t WHERE c.k < t.nd),
      |best AS (SELECT *, row_number() OVER (ORDER BY dev DESC, day) AS rn FROM dev)
      |SELECT day AS split_day, nd AS n_days, CAST(dev AS BIGINT) AS dev,
      |       CAST(s // k AS BIGINT) AS pre_mean,
      |       CAST((tot - s) // (nd - k) AS BIGINT) AS post_mean
      |FROM best WHERE rn = 1""".stripMargin) { (spark, dir) =>
    val d = Tables.events(spark, dir)
      .groupBy(expr("unix_timestamp(date_trunc('day', ts)) DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    // days-sized input: the unpartitioned windows below see one row per
    // day of horizon, never the corpus (same argument as q_autocorr)
    val w = Window.orderBy(col("day"))
    val c = d.select(col("day"), col("n"),
      sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"),
      row_number().over(w).cast("long").as("k"))
    val t = d.agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"))
    val dev = c.crossJoin(broadcast(t))
      .filter(col("k") < col("nd"))
      .withColumn("dev", abs(col("nd") * col("s") - col("k") * col("tot")))
    dev.withColumn("rn", row_number().over(Window.orderBy(col("dev").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("day").as("split_day"), col("nd").as("n_days"), col("dev"),
        expr("s DIV k").as("pre_mean"),
        expr("(tot - s) DIV (nd - k)").as("post_mean"))
  }

  /** Per-user inter-arrival gap histogram — the burstiness / bot-cadence
    * profile an event-stream curation pass checks before trusting
    * user-level counts (a scraper fires every few seconds forever; a
    * human's gaps spread over minutes-to-days). Consecutive same-user
    * gaps in epoch seconds (total order: ts, then event_id for
    * same-second ties), bucketed to whole minutes capped at one day —
    * a ≤1441-row histogram with exact integer edges (no log buckets:
    * Spark's log2 is ln-ratio and not bit-exact at power-of-two
    * boundaries). SCALE: the lag window is partitioned by user_id —
    * one co-partitioned shuffle of (user, ts) pairs, per-partition
    * state is one previous row; the histogram aggregate is bounded by
    * the bucket range, not the corpus.
    */
  val interarrival: QueryDef = QueryDef.sql(
    "q_interarrival",
    """WITH e AS (SELECT user_id, event_id,
      |                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t FROM events),
      |g AS (SELECT user_id,
      |             t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
      |      FROM e),
      |b AS (SELECT least(gap // 60, 1440) AS bucket_min, user_id
      |      FROM g WHERE gap IS NOT NULL)
      |SELECT CAST(bucket_min AS BIGINT) AS bucket_min,
      |       CAST(count(*) AS BIGINT) AS n_gaps,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM b GROUP BY 1""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("t"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .filter(col("gap").isNotNull)
      .select(least(expr("gap DIV 60"), lit(1440L)).as("bucket_min"), col("user_id"))
      .groupBy("bucket_min")
      .agg(count(lit(1)).as("n_gaps"), countDistinct(col("user_id")).as("n_users"))
  }

  /** Population Stability Index of the event value distribution between
    * the first and second half of the day horizon — THE production
    * feature-drift gate (credit-risk lineage; PSI < 0.1 stable, > 0.25
    * act). Fixed-width value buckets (width 25, capped [0,19] — fixed
    * edges, not data-derived quantiles, so the bucketing is reproducible
    * across snapshots), add-one smoothing so empty buckets are defined,
    * and the 20 per-bucket terms (p_a − p_b)·ln(p_a/p_b) — each ≥ 0 —
    * floor-quantized to the 2^40 grid BEFORE summing (20 doubles summed
    * in engine order would not be bit-stable; 20 BIGINTs are). One ln
    * per bucket, immediately quantized — the `q_cooccur_pmi` budget.
    * SCALE: one map-side (period, bucket) count reduces the corpus; the
    * PSI algebra runs on the fixed 2x20 grid.
    */
  val psi: QueryDef = QueryDef.sql(
    "q_psi",
    """WITH d AS (SELECT CAST(epoch(date_trunc('day', ts)) // 86400 AS BIGINT) AS day, value
      |          FROM events WHERE value IS NOT NULL),
      |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM d),
      |b AS (SELECT CASE WHEN day < mid THEN 0 ELSE 1 END AS period,
      |             least(greatest(CAST(floor(value / 25) AS BIGINT), 0), 19) AS bucket
      |      FROM d, sp),
      |c AS (SELECT period, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      |g AS (SELECT p.period, k.bucket
      |      FROM (SELECT unnest([0, 1]) AS period) p,
      |           (SELECT unnest(range(0, 20)) AS bucket) k),
      |cc AS (SELECT g.period, g.bucket, coalesce(c.c, 0) AS c
      |       FROM g LEFT JOIN c ON c.period = g.period AND c.bucket = g.bucket),
      |n AS (SELECT period, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY 1),
      |t AS (SELECT CAST(floor((CAST(a.c + 1 AS DOUBLE) / CAST(na.n + 20 AS DOUBLE)
      |                         - CAST(b.c + 1 AS DOUBLE) / CAST(nb.n + 20 AS DOUBLE))
      |                        * ln((CAST(a.c + 1 AS DOUBLE) / CAST(na.n + 20 AS DOUBLE))
      |                             / (CAST(b.c + 1 AS DOUBLE) / CAST(nb.n + 20 AS DOUBLE)))
      |                        * 1099511627776.0) AS BIGINT) AS tq
      |      FROM cc a JOIN cc b ON a.bucket = b.bucket AND a.period = 0 AND b.period = 1,
      |           (SELECT n FROM n WHERE period = 0) na(n),
      |           (SELECT n FROM n WHERE period = 1) nb(n))
      |SELECT (SELECT n FROM n WHERE period = 0) AS n_a,
      |       (SELECT n FROM n WHERE period = 1) AS n_b,
      |       CAST(sum(tq) AS BIGINT) AS psi_q40
      |FROM t""".stripMargin) { (spark, dir) =>
    val d = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(expr("unix_timestamp(date_trunc('day', ts)) DIV 86400").as("day"), col("value"))
    val sp = d.agg(expr("(min(day) + max(day) + 1) DIV 2").as("mid"))
    val b = d.crossJoin(broadcast(sp))
      .select(when(col("day") < col("mid"), 0L).otherwise(1L).as("period"),
        least(greatest(floor(col("value") / 25).cast("long"), lit(0L)), lit(19L)).as("bucket"))
    val c = b.groupBy("period", "bucket").agg(count(lit(1)).as("c"))
    val g = spark.range(2).select(col("id").as("period"))
      .crossJoin(spark.range(20).select(col("id").as("bucket")))
    // the 2x20 completed grid is consumed SIX times downstream (both
    // sides of the bucket join, both period totals, and the final
    // projection's totals again) — without materialization each
    // consumer replays the corpus scan + aggregate (measured: 24 scans
    // / 80 exchanges in the physical plan for a 1-row PSI). One
    // localCheckpoint of the 40-row grid cuts that to the two
    // irreducible corpus passes (min/max split point, bucket counts);
    // guide §2.4 / §5 (single-JVM durability note as per q_ivf_kmeans).
    val cc = g.join(c, Seq("period", "bucket"), "left")
      .select(col("period"), col("bucket"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint()
    // keyless (structurally 1-row) aggregates: the broadcast-boundedness
    // gate proves global aggregates bounded by shape; the former
    // groupBy(period)+filter form is semantically <=1 row but sits on a
    // checkpoint leaf the prover cannot see through
    val na = cc.filter(col("period") === 0).agg(sum(col("c")).as("na"))
    val nb = cc.filter(col("period") === 1).agg(sum(col("c")).as("nb"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 20).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + 20).cast("double")
    val t = cc.filter(col("period") === 0).select(col("bucket"), col("c").as("ca"))
      .join(cc.filter(col("period") === 1).select(col("bucket").as("bbucket"), col("c").as("cb")),
        col("bbucket") === col("bucket"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(floor((pa - pb) * log(pa / pb) * lit(1099511627776.0)).cast("long").as("tq"))
    t.agg(sum(col("tq")).cast("long").as("psi_q40"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("psi_q40"))
  }

  /** Frequent event-type PAIRS within 30-minute sessions — basket-style
    * pattern mining on the session axis (which behaviors co-occur in one
    * sitting), the association signal a funnel designer or bot classifier
    * starts from. Sessions reuse `q_sessionize`'s 30-minute gap rule
    * (Spark: native `session_window`; oracle: the lag + cumulative-sum
    * replay — same boundary semantics, proven by that query's gate).
    * Support = sessions containing BOTH types; lift = support·N/(s1·s2)
    * on the 2^20 grid. The pair space is bounded by the event-type
    * vocabulary (C(|types|,2)), NOT the corpus. SCALE: one session
    * aggregate (state = the distinct-type set, vocabulary-bounded) and
    * map-side pair emission from each session's ≤|types| set — the
    * cooccur-pmi shape on the session axis; no corpus self-join.
    */
  val eventItemsets: QueryDef = QueryDef.sql(
    "q_event_itemsets",
    """WITH e AS (SELECT user_id, event_id, event_type, ts, epoch(ts) AS sec,
      |                 lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |          FROM events),
      |s AS (SELECT user_id, event_type,
      |             sum(CASE WHEN prev IS NOT NULL AND sec - prev < 1800 THEN 0 ELSE 1 END)
      |               OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM e),
      |st AS (SELECT DISTINCT user_id, sid, event_type FROM s),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n
      |       FROM (SELECT DISTINCT user_id, sid FROM st)),
      |tf AS (SELECT event_type, CAST(count(*) AS BIGINT) AS s1 FROM st GROUP BY 1),
      |p AS (SELECT a.event_type AS t1, b.event_type AS t2, CAST(count(*) AS BIGINT) AS support
      |      FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
      |       AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT p.t1, p.t2, p.support, ns.n AS n_sessions,
      |       CAST(floor(CAST(p.support AS DOUBLE) * ns.n / (fa.s1 * fb.s1)
      |                  * 1048576.0) AS BIGINT) AS lift_q20
      |FROM p JOIN tf fa ON fa.event_type = p.t1
      |       JOIN tf fb ON fb.event_type = p.t2, ns""".stripMargin) { (spark, dir) =>
    val sess = Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(collect_set(col("event_type")).as("types"))
      .select(array_sort(col("types")).as("types"))
    val st = sess.select(explode(col("types")).as("event_type"))
    val ns = sess.agg(count(lit(1)).as("n"))
    val tf = st.groupBy("event_type").agg(count(lit(1)).as("s1"))
    // map-side pair emission from each session's sorted type set
    val ts2 = col("types")
    val p = sess.select(explode(flatten(transform(sequence(lit(1), size(ts2)), i =>
        transform(slice(ts2, i + 1, size(ts2)),
          y => struct(element_at(ts2, i).as("t1"), y.as("t2")))))).as("pr"))
      .select(col("pr.t1").as("t1"), col("pr.t2").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("support"))
    p.join(broadcast(tf.select(col("event_type").as("t1"), col("s1").as("sa"))), "t1")
      .join(broadcast(tf.select(col("event_type").as("t2"), col("s1").as("sb"))), "t2")
      .crossJoin(broadcast(ns))
      .select(col("t1"), col("t2"), col("support"), col("n").as("n_sessions"),
        floor(col("support").cast("double") * col("n") / (col("sa") * col("sb"))
          * lit(1048576.0)).cast("long").as("lift_q20"))
  }

  /** Top-5 burstiest hours vs their trailing-24-hour average — the
    * spike report a rate-limiter or incident monitor starts from
    * (`q_changepoint` finds the one level shift; this ranks transient
    * spikes). Burst ratio n·24/S₂₄ ships on the 2^20 grid via INTEGRAL
    * arithmetic — (n·24·2^20) DIV S₂₄ — so ranking and output are
    * integer-exact; hours with incomplete 24-hour history are skipped
    * (no partial-window false alarms), ties break on the earlier hour.
    * Top-k rather than a fixed alarm threshold: the report is
    * non-vacuous on any corpus and the threshold becomes the reader's
    * choice. SCALE: one hour-keyed map-side count reduces the corpus;
    * the trailing window runs on the hour table (RANGE over an integer
    * hour index — horizon-bounded like `q_autocorr`'s day table, 8760
    * rows/year, never corpus-sized).
    */
  val burstHours: QueryDef = QueryDef.sql(
    "q_burst_hours",
    """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
      |                 CAST(count(*) AS BIGINT) AS n
      |          FROM events GROUP BY 1),
      |w AS (SELECT hr, n,
      |             CAST(sum(n) OVER tw AS BIGINT) AS s24,
      |             CAST(count(*) OVER tw AS BIGINT) AS k24
      |      FROM h WINDOW tw AS (ORDER BY hr RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |f AS (SELECT hr, n, s24, (n * 24 * 1048576) // s24 AS ratio_q20
      |      FROM w WHERE k24 = 24 AND s24 > 0),
      |r AS (SELECT *, row_number() OVER (ORDER BY ratio_q20 DESC, hr) AS rank FROM f)
      |SELECT CAST(rank AS BIGINT) AS rank, hr * 3600 AS hour_ts, n, s24,
      |       CAST(ratio_q20 AS BIGINT) AS ratio_q20
      |FROM r WHERE rank <= 5""".stripMargin) { (spark, dir) =>
    val h = Tables.events(spark, dir)
      .groupBy(expr("unix_timestamp(date_trunc('hour', ts)) DIV 3600").as("hr"))
      .agg(count(lit(1)).as("n"))
    // hour-table window: RANGE over the integer hour index so GAPS in
    // the horizon count as zero hours (a ROWS frame would silently
    // stretch the "24 hours" across missing hours)
    val tw = Window.orderBy(col("hr")).rangeBetween(-24, -1)
    val f = h.select(col("hr"), col("n"),
        sum(col("n")).over(tw).as("s24"), count(lit(1)).over(tw).as("k24"))
      .filter(col("k24") === 24 && col("s24") > 0)
      .withColumn("ratio_q20", expr("(n * 24 * 1048576) DIV s24"))
    f.withColumn("rank", row_number().over(Window.orderBy(col("ratio_q20").desc, col("hr"))))
      .filter(col("rank") <= 5)
      .select(col("rank").cast("long").as("rank"), (col("hr") * 3600).as("hour_ts"),
        col("n"), col("s24"), col("ratio_q20"))
  }

  /** EVENT TRANSITIONS — the first-order Markov matrix of user
    * behavior: per (event_type -> next event_type within the same
    * user's timeline), transition count and row-normalized probability
    * in bp. `q_event_itemsets` counts UNORDERED co-occurrence within a
    * session; this is the ORDERED complement (what follows what), the
    * input to next-event prediction and to funnel-shape sanity checks
    * (a purchase->view edge heavier than view->purchase flags timeline
    * corruption). Ordering is (ts, event_id) so ties are deterministic
    * on both engines. SCALE: one user-keyed lag window (co-partitioned
    * with the user shuffle) into a (types x types)-bounded aggregate;
    * probabilities come from a broadcast-sized row-total join.
    */
  val eventTransitions: QueryDef = QueryDef.sql(
    "q_event_transitions",
    """WITH s AS (SELECT user_id, event_type,
      |                 lead(event_type) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS next_type
      |           FROM events),
      |t AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT from_type, sum(n) AS tot FROM t GROUP BY 1)
      |SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
      |       CAST(t.n * 10000 // r.tot AS BIGINT) AS p_bp
      |FROM t JOIN r ON r.from_type = t.from_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val r = t.groupBy("from_type").agg(sum("n").as("tot"))
    t.join(broadcast(r), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 10000 DIV tot").as("p_bp"))
  }

  /** AUDIENCE OVERLAP — per event-type pair: shared distinct users,
    * each side's audience size, and audience Jaccard in bp. The
    * corpus-level complement of `q_event_itemsets` (which counts
    * within-session baskets): this answers "do the people who do X
    * also do Y at all", the segmentation number behind cross-feature
    * funnels. SCALE: one distinct (user, type) shuffle; the pair join
    * fans out <= C(|types|, 2) rows per user; everything after is a
    * types^2-bounded aggregate.
    */
  val audienceOverlap: QueryDef = QueryDef.sql(
    "q_audience_overlap",
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |ts AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS i
      |      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, CAST(p.i AS BIGINT) AS n_shared,
      |       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
      |       CAST(p.i * 10000 // (ta.n + tb.n - p.i) AS BIGINT) AS jaccard_bp
      |FROM p JOIN ts ta ON ta.event_type = p.type_a
      |       JOIN ts tb ON tb.event_type = p.type_b""".stripMargin) { (spark, dir) =>
    val ut = Tables.events(spark, dir)
      .select("user_id", "event_type").distinct()
    val ts = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    val p = a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("i"))
    p.join(broadcast(ts.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n", "n_a")), "type_a")
      .join(broadcast(ts.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n", "n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("i").as("n_shared"),
        col("n_a"), col("n_b"),
        expr("i * 10000 DIV (n_a + n_b - i)").as("jaccard_bp"))
  }

  /** EVENT INTERVAL JOIN — click→purchase pairs for the same user
    * within ±1 hour: the attribution primitive every event pipeline
    * ships.
    *
    * SCALE: NOT a per-user non-equi join (per-user candidate mass is
    * clicks×purchases — a hot user goes quadratic, and the range
    * predicate alone plans a nested loop). Instead the `q_snm_blocking`
    * band shape: purchases key by their hour bucket, clicks explode to
    * the ≤3 buckets their ±1 h window can touch, the join is a pure
    * (user, hour-bucket) EQUI-join — hash-partitioned, AQE-splittable —
    * and the true |pts−cts| ≤ 1 h predicate runs as a residual filter.
    * Each true pair matches in EXACTLY one bucket (the purchase's), so
    * no dedup pass is needed. Gap is emitted in raw µs (no integer
    * division — Spark DIV truncates toward zero while DuckDB floors,
    * which diverges on negative gaps). The oracle states the same join
    * as the plain range predicate.
    */
  val intervalJoin: QueryDef = QueryDef.sql(
    "q_interval_join",
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, p.purchase_id,
      |       CAST(p.pus - c.cus AS BIGINT) AS gap_us
      |FROM c JOIN p ON p.user_id = c.user_id
      |  AND p.pus BETWEEN c.cus - 3600000000 AND c.cus + 3600000000""".stripMargin) {
    (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
      .withColumn("hb", explode(sequence(
        expr("cus div 3600000000 - 1"), expr("cus div 3600000000 + 1"))))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        unix_micros(col("ts")).as("pus"))
      .withColumn("hb", expr("pus div 3600000000"))
    c.join(p, c("user_id") === p("p_user") && c("hb") === p("hb"))
      .filter(col("pus") >= col("cus") - 3600000000L &&
        col("pus") <= col("cus") + 3600000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("pus") - col("cus")).as("gap_us"))
  }

  /** INTERVAL ANTI-JOIN — clicks with NO purchase from the same user
    * within ±1 hour: the attribution-gap report (what share of ad
    * clicks never converted inside the window).
    *
    * SCALE: the same (user, hour-bucket) EQUI-join blocking as
    * `q_interval_join` — never a nested-loop range anti-join. A click
    * is unmatched iff NONE of its ≤3 buckets matched, so the anti side
    * is a distinct matched-click set (bare BIGINT ids across the
    * shuffle) followed by a left_anti equi-join — both
    * hash-partitioned, both AQE-splittable. The oracle states the
    * same thing as a plain NOT EXISTS range predicate.
    */
  val intervalUnmatched: QueryDef = QueryDef.sql(
    "q_interval_unmatched",
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, epoch_us(ts) AS pus
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, CAST(c.cus AS BIGINT) AS cus
      |FROM c WHERE NOT EXISTS (
      |  SELECT 1 FROM p WHERE p.user_id = c.user_id
      |    AND p.pus BETWEEN c.cus - 3600000000 AND c.cus + 3600000000)""".stripMargin) {
    (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
    val cb = c.withColumn("hb", explode(sequence(
      expr("cus div 3600000000 - 1"), expr("cus div 3600000000 + 1"))))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("pus"))
      .withColumn("hb", expr("pus div 3600000000"))
    val matched = cb.join(p, cb("user_id") === p("p_user") && cb("hb") === p("hb"))
      .filter(col("pus") >= col("cus") - 3600000000L &&
        col("pus") <= col("cus") + 3600000000L)
      .select("click_id").distinct()
    c.join(matched, Seq("click_id"), "left_anti")
      .select(col("user_id"), col("click_id"), col("cus"))
  }

  val clickLastPurchase: QueryDef = QueryDef.sql(
    "q_asof_join",
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
      |SELECT c.event_id AS click_id,
      |       p.event_id AS purchase_id,
      |       p.value AS purchase_value
      |FROM c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    AsOfJoin.leftAsOf(clicks, purchases, "user_id", "ts", "ts",
        rightTieCols = Seq("event_id"))
      .select(col("event_id").as("click_id"),
        col("asof_event_id").as("purchase_id"),
        col("asof_value").as("purchase_value"))
  }

  /** Integer EWMA over per-type hourly event counts — the recursive
    * smoother an alerting baseline runs (α = 1/8, the classic
    * power-of-two choice): s₀ = c₀·2^20, sₜ = (7·sₜ₋₁ + cₜ·2^20) DIV 8.
    * Integer floor division makes every step exact in both engines —
    * recursion order is pinned by sorting hours, and the fold is a
    * strict sequential `aggregate` HOF / `list_reduce` (the
    * q_bpe_learn parity pattern for inherently-sequential state).
    * SCALE: one hour-keyed count (map-side combine), then the fold
    * runs per type over a HORIZON-bounded array (hours, not events) —
    * the recursion never touches corpus-sized data.
    */
  val ewma: QueryDef = QueryDef.sql(
    "q_ewma",
    """WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |           FROM events GROUP BY 1, 2),
      |arr AS (SELECT event_type, list(c ORDER BY h) AS cs, count(*) AS nh
      |        FROM hc GROUP BY 1)
      |SELECT event_type, CAST(nh AS BIGINT) AS n_hours,
      |       CAST(cs[len(cs)] AS BIGINT) AS last_cnt,
      |       CAST(list_reduce(list_prepend(CAST(cs[1] * 1048576 AS BIGINT), cs[2:]),
      |                        (acc, c) -> (acc * 7 + c * 1048576) // 8) AS BIGINT)
      |         AS ewma_q20
      |FROM arr""".stripMargin) { (spark, dir) =>
    val hc = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    hc.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("h"), col("c")))).as("hs"))
      .select(col("event_type"), expr("transform(hs, x -> x.c)").as("cs"))
      .select(col("event_type"),
        size(col("cs")).cast("long").as("n_hours"),
        expr("cs[size(cs) - 1]").as("last_cnt"),
        expr("aggregate(slice(cs, 2, size(cs) - 1), cs[0] * CAST(1048576 AS BIGINT)," +
          " (acc, c) -> (acc * 7 + c * 1048576) DIV 8)").as("ewma_q20"))
  }

  /** HOLT LINEAR SMOOTHING — per event_type over the hourly count
    * series: level + trend double smoothing (alpha=0.3, beta=0.1) in
    * Q20 fixed point, with a 3-hour-ahead forecast l + 3b. The same
    * sequential-fold contract as `q_ewma`: the recursion runs over an
    * array bounded by the TIME HORIZON, not the corpus, so scale only
    * re-prices the hour-keyed count aggregate beneath it; the fold is
    * integer arithmetic (DIV truncates toward zero on both engines,
    * including for negative trends) so the oracle replays level and
    * trend bit-for-bit. ORACLE NOTE: the natural `list_reduce` with a
    * STRUCT accumulator is NONDETERMINISTICALLY WRONG in DuckDB on
    * ~680-element lists (verified: same literal list, different folds
    * across connections; scalar accumulators like q_ewma's are fine),
    * so the oracle runs the coupled fold as a RECURSIVE CTE instead —
    * one row per (event_type, step), plain column arithmetic, no
    * lambda machinery.
    */
  val holt: QueryDef = QueryDef.sql(
    "q_holt",
    """WITH RECURSIVE hc AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      |           FROM events GROUP BY 1, 2),
      |arr AS (SELECT event_type, list(c ORDER BY h) AS cs, count(*) AS nh
      |        FROM hc GROUP BY 1),
      |fold AS (
      |  SELECT event_type, cs, nh, 1 AS i, cs[1] * 1048576 AS l, CAST(0 AS BIGINT) AS b
      |  FROM arr
      |  UNION ALL
      |  SELECT event_type, cs, nh, i + 1,
      |         (3 * cs[i + 1] * 1048576 + 7 * (l + b)) // 10,
      |         ((3 * cs[i + 1] * 1048576 + 7 * (l + b)) // 10 - l + 9 * b) // 10
      |  FROM fold WHERE i < nh)
      |SELECT event_type, CAST(nh AS BIGINT) AS n_hours,
      |       CAST(cs[nh] AS BIGINT) AS last_cnt,
      |       CAST(l AS BIGINT) AS level_q20,
      |       CAST(b AS BIGINT) AS trend_q20,
      |       CAST(l + 3 * b AS BIGINT) AS forecast3_q20
      |FROM fold WHERE i = nh""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("h"), col("c")))).as("hs"))
      .select(col("event_type"), expr("transform(hs, x -> x.c)").as("cs"))
      .select(col("event_type"),
        size(col("cs")).cast("long").as("n_hours"),
        expr("cs[size(cs) - 1]").as("last_cnt"),
        expr("""aggregate(slice(cs, 2, size(cs) - 1),
                named_struct('l', cs[0] * CAST(1048576 AS BIGINT), 'b', CAST(0 AS BIGINT)),
                (acc, c) -> named_struct(
                  'l', (3 * c * 1048576 + 7 * (acc.l + acc.b)) DIV 10,
                  'b', ((3 * c * 1048576 + 7 * (acc.l + acc.b)) DIV 10 - acc.l + 9 * acc.b) DIV 10))
             """).as("hb"))
      .select(col("event_type"), col("n_hours"), col("last_cnt"),
        col("hb.l").as("level_q20"), col("hb.b").as("trend_q20"),
        (col("hb.l") + col("hb.b") * 3).as("forecast3_q20"))
  }

  /** Latest-version record dedup — keep each user's newest event (CDC
    * compaction / "latest wins" upsert semantics, the keyed-dedup shape
    * every incremental corpus ingest runs). One window per key with the
    * (ts, event_id) total order; at scale this is a single shuffle on
    * user_id with a per-partition top-1 heap (WindowGroupLimit caps
    * state at one row per key). Timestamps exported as epoch-µs BIGINT
    * (the ledger's cross-engine timestamp convention).
    */
  val latestEvent: QueryDef = QueryDef.sql(
    "q_latest_event",
    """SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |       event_type, value
      |FROM (SELECT user_id, event_id, ts, event_type, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) WHERE rn = 1""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
  }

  /** D1/D7 cohort retention over `events`: users grouped by first-seen
    * day, retained = any activity exactly 1 / 7 days later. Two keyed
    * aggregations on user_id (co-partitioned: the distinct-day table and
    * the cohort table shuffle on the same key) and a date-sized final
    * rollup. At 100 TB of events the per-user state is the distinct
    * active-day set, which the first aggregation reduces map-side.
    */
  val retention: QueryDef = QueryDef.sql(
    "q_retention",
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS d0 FROM ud GROUP BY user_id),
      |r AS (SELECT c.user_id, c.d0,
      |             max(CASE WHEN ud.d = c.d0 + 1 THEN 1 ELSE 0 END) AS r1,
      |             max(CASE WHEN ud.d = c.d0 + 7 THEN 1 ELSE 0 END) AS r7
      |      FROM c JOIN ud ON ud.user_id = c.user_id
      |      GROUP BY 1, 2)
      |SELECT d0 AS cohort_day, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(r1) AS BIGINT) AS d1_retained,
      |       CAST(sum(r7) AS BIGINT) AS d7_retained,
      |       CAST(floor(sum(r1) * 10000.0 / count(*)) AS BIGINT) AS d1_bp,
      |       CAST(floor(sum(r7) * 10000.0 / count(*)) AS BIGINT) AS d7_bp
      |FROM r GROUP BY d0""".stripMargin) { (spark, dir) =>
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    // SHAPE (guide §2.4): ONE per-user aggregate carries the
    // cohort day and the active-day set (horizon-bounded, the
    // HourRollup class — it grows with wall-clock days, not bytes), so
    // the cohort-join replay of the distinct pass disappears.
    val r = ud.groupBy("user_id")
      .agg(min(col("d")).as("d0"), collect_set(col("d")).as("ds"))
      .select(col("user_id"), col("d0"),
        array_contains(col("ds"), date_add(col("d0"), 1)).cast("int").as("r1"),
        array_contains(col("ds"), date_add(col("d0"), 7)).cast("int").as("r7"))
    r.groupBy(col("d0").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("r1")).cast("long").as("d1_retained"),
        sum(col("r7")).cast("long").as("d7_retained"),
        floor(sum(col("r1")) * 10000.0 / count(lit(1))).cast("long").as("d1_bp"),
        floor(sum(col("r7")) * 10000.0 / count(lit(1))).cast("long").as("d7_bp"))
  }

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

  val all: Seq[QueryDef] = Seq(
    hourly, jsonExtract, sessionize, mapFuncs, heavyHitters, funnel, nullAudit, outliers,
    dauStickiness, madOutliers, autocorr, changepoint, interarrival, psi, eventItemsets,
    burstHours, eventTransitions, audienceOverlap, intervalJoin, intervalUnmatched,
    clickLastPurchase, ewma, holt, latestEvent, retention, gapFill, rollingHour, rangeJoin)
}
