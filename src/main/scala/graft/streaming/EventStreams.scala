package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream. The reference
  * has no data streams (SURVEY §2.2: its only "stream" is HTTP chunk
  * transport, `curl_helpers.c:28-67`), so this is pure north-star
  * surface: the same tumbling/session windows as the batch queries, plus
  * custom keyed state via mapGroupsWithState — the scalable analog of the
  * reference's driver-side conversation accumulator (`multirag.c:155-162`).
  *
  * All transforms are source-agnostic: pass any streaming (or batch)
  * DataFrame with (ts timestamp, user_id long, event_type string,
  * value double).
  */
object EventStreams {

  /** Tumbling 1-hour counts with a 2-hour watermark for late data. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))

  /** 30-minute-gap session aggregation (same operator family the batch
    * q_sessionize uses).
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))

  /** Streaming dedup: drop repeated event_ids within the watermark —
    * the streaming face of the batch dedup suite (state is bounded by
    * the watermark horizon, the scale requirement for infinite streams).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState.
    * Demonstrates the engine's arbitrary-stateful surface; state is a
    * simple running aggregate with processing-time timeout.
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val events = batch.toSeq
          val next = UserRunning(uid, prev.n_events + events.size,
            prev.total_value + events.map(_.value).sum)
          state.update(next)
          next
      }
  }

  /** Stream-static enrichment — the canonical dimension-join shape: the
    * static side is broadcast into every micro-batch (re-resolved per
    * batch, so dim updates between batches are picked up), and the
    * stream side keeps NO state — unlike a stream-stream join there is
    * no watermark or buffer, which is why this is the preferred form
    * whenever the dimension fits in memory. PRECONDITION (broadcast
    * ledger, PLANS.md): the hint is forced because AQE does
    * not replan micro-batches — so the caller's dim must be bounded
    * (type/source enums, vocab, k-row artifacts), never a fact-scaled
    * frame. A corpus-sized dimension belongs in a batch join or a
    * pre-bucketed store, not a per-batch broadcast.
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(
      graft.GraftLimits.requireBoundedDim(dim, "EventStreams.enriched")), "event_type")

  /** Stream-stream INTERVAL join — the one Structured Streaming shape
    * with DUAL watermark state: click→purchase attribution per user
    * within ±1 hour (the streaming twin of the batch `q_interval_join`).
    * Both inputs carry their own watermark AND the join condition
    * bounds both event times against each other, which is exactly what
    * lets the engine evict state on BOTH sides: a buffered click drops
    * once the purchase watermark passes cts + 1 h (no purchase that
    * could still match it can arrive), and symmetrically for buffered
    * purchases — so per-side state is (watermark delay + join range) of
    * events, never the stream's history. Without the two-sided range
    * condition Spark would buffer one side forever; with it this is
    * append-mode safe at any stream length. Inputs:
    * clicks(user_id, click_id, cts), purchases(user_id, purchase_id,
    * pts).
    */
  def intervalJoins(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("cts", "2 hours")
      .join(
        purchases.withColumnRenamed("user_id", "p_user")
          .withWatermark("pts", "2 hours"),
        expr("user_id = p_user AND " +
          "pts BETWEEN cts - INTERVAL 1 HOUR AND cts + INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("cts"))).as("gap_us"))

  /** Stream-stream LEFT OUTER interval join — the same dual-watermark
    * attribution as [[intervalJoins]] plus the unmatched clicks: a
    * click with no purchase within ±1 h emits ONCE, null-padded, when
    * the watermark passes the point where a match has become
    * impossible (its buffered state evicts). The outer rows are
    * delayed BY CONSTRUCTION to state-eviction time — the engine can
    * only know "no purchase will ever match" once the purchase
    * watermark clears cts + 1 h — which is why outer results trail the
    * inner stream by watermark delay + join range, and why clicks
    * still inside that horizon at shutdown never emit a null row
    * (asserted against the batch twin in the spec). State bounds are
    * identical to the inner form; matched rows are identical to the
    * inner form row-for-row.
    */
  def intervalJoinsLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("cts", "2 hours")
      .join(
        purchases.withColumnRenamed("user_id", "p_user")
          .withWatermark("pts", "2 hours"),
        expr("user_id = p_user AND " +
          "pts BETWEEN cts - INTERVAL 1 HOUR AND cts + INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("cts"))).as("gap_us"))

  case class DriftScore(hour_ts: Long, n_events: Long, psi_q40: Long)

  /** Streaming distribution-drift monitor — the streaming face of the
    * batch `q_psi`: per event-hour, accumulate the fixed 20-bucket
    * value histogram (width 25, capped — the q_psi grid) in keyed
    * state, and emit ONE final add-one-smoothed PSI against a static
    * baseline histogram when the watermark passes the hour's end
    * (EVENT-TIME timeout — the finalize-on-watermark pattern, unlike
    * [[runningTotals]]'s ever-updating NoTimeout state). Late events
    * within the 2-hour watermark still land in their hour; after the
    * timeout the key is removed, so state is bounded by the lateness
    * horizon × 20 longs — never the stream length. The PSI fold runs
    * in fixed bucket order with the same 2^40 floor-quantized terms as
    * the batch query, so a drifted hour scores identically here and
    * in the offline audit.
    */
  def driftScores(events: DataFrame, baseline: Seq[Long]): Dataset[DriftScore] = {
    val ss = events.sparkSession
    import ss.implicits._
    val bTot = baseline.sum
    val bSm = baseline.map(c => (c + 1).toDouble / (bTot + 20)).toArray
    events
      .withWatermark("ts", "2 hours")
      // the watermarked ts column must flow INTO the stateful operator
      // (event-time timeout is rejected if the projection drops it)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
        least(greatest(floor(col("value") / 25).cast("int"), lit(0)), lit(19)).as("bucket"),
        col("ts"))
      .as[(Long, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], DriftScore](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hourTs: Long, rows: Iterator[(Long, Int, java.sql.Timestamp)],
         state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            val n = counts.sum
            val psi = (0 until 20).foldLeft(0L) { (acc, b) =>
              val pw = (counts(b) + 1).toDouble / (n + 20)
              acc + math.floor((pw - bSm(b)) * math.log(pw / bSm(b))
                * 1099511627776.0).toLong
            }
            Iterator.single(DriftScore(hourTs, n, psi))
          } else {
            val counts = state.getOption.getOrElse(Array.fill(20)(0L))
            rows.foreach(r => counts(r._2) += 1)
            state.update(counts)
            // finalize once the watermark passes this hour's end
            state.setTimeoutTimestamp((hourTs + 3600) * 1000)
            Iterator.empty
          }
      }
  }

  case class HeavyHitter(shard: Int, user_id: Long, cnt_lb: Long)

  /** Streaming MISRA-GRIES heavy hitters — the bounded-state frequent-
    * items summary (the deterministic counterpart of count-min): each of
    * 32 hash shards keeps at most k counters; an unseen item either
    * claims a free counter or decrements all k (the MG step). State is
    * 32×k longs FOREVER — never stream-length — and each shard's
    * summary carries the classic guarantee: any item with true shard
    * frequency > n_shard/(k+1) is present, with count estimate low by
    * at most n_shard/(k+1). Summaries are emitted every micro-batch
    * (Update mode) and are MERGEABLE downstream (sum matching counters,
    * then MG-compress) — the property that makes the sketch fleet-
    * scalable: 1000 executors each summarize their shards, a final
    * reduce merges 32 tiny maps.
    */
  def heavyHitters(events: DataFrame, k: Int): Dataset[HeavyHitter] = {
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(pmod(col("user_id"), lit(32)).cast("int").as("shard"), col("user_id"))
      .as[(Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], HeavyHitter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Int, Long)], state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          for ((_, uid) <- rows) {
            if (m.contains(uid)) m = m.updated(uid, m(uid) + 1)
            else if (m.size < k) m = m.updated(uid, 1L)
            else m = m.view.mapValues(_ - 1).filter(_._2 > 0).toMap
          }
          state.update(m)
          m.iterator.map { case (u, c) => HeavyHitter(shard, u, c) }
      }
  }

  /** Streaming REFERENTIAL-INTEGRITY monitor — the `q_fk_audit` orphan
    * check as a continuous gate: events whose key is absent from the
    * (broadcast) dimension, counted per tumbling hour. A stream-static
    * LEFT ANTI join is stateless — the dimension re-resolves per
    * micro-batch, so a late dimension load shows up as an orphan SPIKE
    * that then self-heals, which is exactly the operational signature
    * worth alerting on. State: only the windowed count's watermark
    * horizon. Same boundedness precondition as `enriched`: the dim is
    * force-broadcast per micro-batch (AQE does not replan streams), so
    * it must stay artifact-sized; a billion-row user dim needs a
    * batch-side reconciliation job instead.
    */
  def orphanMonitor(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(graft.GraftLimits.requireBoundedDim(
        dim, "EventStreams.orphanMonitor")), Seq("user_id"), "left_anti")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_orphans"))
      .select(col("w.start").as("hour_start"), col("n_orphans"))

  case class HoltState(open: Map[Long, Long], initialized: Boolean,
                       l: Long, b: Long, lastClosed: Long)
  case class HoltPoint(event_type: String, hour_ts: Long, n: Long,
                       level_q20: Long, trend_q20: Long)

  /** Streaming HOLT level+trend per event_type — the incremental face
    * of the batch `q_holt` fold (alpha=0.3, beta=0.1, Q20 fixed point).
    * A sequential fold only commutes with streaming if hours are folded
    * in EVENT-TIME order, so the state buffers per-hour counts and
    * folds an hour into (level, trend) only when the watermark passes
    * its end (event-time timeout, the `driftScores` finalize pattern).
    * Watermark monotonicity guarantees hours close in nondecreasing
    * order across triggers; within one trigger they are folded sorted —
    * so the emitted (level, trend) after each closed hour is BIT-EQUAL
    * to the batch fold over the same closed prefix (StreamingSpec pins
    * it). State per key: the open hours inside the lateness horizon
    * plus two longs — never the stream length. Integer DIV truncates
    * toward zero in Java, Spark and DuckDB alike, which is what lets
    * one fold definition serve batch, stream and oracle.
    */
  def holtLevels(events: DataFrame): Dataset[HoltPoint] = {
    val ss = events.sparkSession
    import ss.implicits._
    val Q20 = 1048576L
    events
      .withWatermark("ts", "2 hours")
      .select(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"), col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[HoltState]) =>
          val st = state.getOption.getOrElse(
            HoltState(Map.empty, false, 0L, 0L, Long.MinValue))
          var open = st.open
          // an hour that already folded is CLOSED: rows arriving for it
          // violated the lateness horizon and are dropped — the same
          // semantics a watermarked window aggregate applies, and the
          // guard that keeps the fold exactly-once under any arrival
          rows.foreach { r =>
            if (r._2 > st.lastClosed)
              open = open.updated(r._2, open.getOrElse(r._2, 0L) + 1L)
          }
          var l = st.l; var b = st.b; var init = st.initialized
          val wm = state.getCurrentWatermarkMs() / 1000
          val (closed, stillOpen) = open.partition { case (h, _) => h + 3600 <= wm }
          val out = closed.toSeq.sortBy(_._1).map { case (h, c) =>
            if (!init) { l = c * Q20; b = 0L; init = true }
            else {
              val lnew = (3 * c * Q20 + 7 * (l + b)) / 10
              b = (lnew - l + 9 * b) / 10
              l = lnew
            }
            HoltPoint(etype, h, c, l, b)
          }
          val lastClosed =
            if (closed.nonEmpty) closed.keys.max else st.lastClosed
          state.update(HoltState(stillOpen, init, l, b, lastClosed))
          // arm the next finalize; min open end is > wm (else it closed)
          if (stillOpen.nonEmpty)
            state.setTimeoutTimestamp((stillOpen.keys.min + 3600) * 1000)
          out.iterator
      }
  }

  case class Scd2Event(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class Scd2Closed(user_id: Long, event_type: String,
                        valid_from_us: Long, valid_to_us: Long)
  case class Scd2Open(event_type: String, valid_from_us: Long)

  /** Streaming SCD2 — the incremental face of `q_scd2_history`: per
    * user, consecutive-duplicate collapse on `event_type` into validity
    * intervals, emitting each interval the moment a state CHANGE closes
    * it; the open (current) interval lives in keyed state, so the
    * stream's closed-interval set is exactly the batch twin's
    * `is_current = 0` rows once the same events have flowed
    * (StreamingSpec pins it, across a mid-stream restart — only a
    * recovered state store can close an interval whose open end
    * predates the restart).
    *
    * SCALE: state is Θ(1) per user (one open interval — two fields),
    * key-partitioned by the state store; nothing buffers the stream.
    * Arrival contract (the pipeline's id-ordered rule, same as the
    * packer and the exact-dedup keeper): batches arrive in
    * (ts, event_id) order ACROSS triggers; within a trigger the group
    * iterator is unordered and is sorted here.
    */
  def scd2Intervals(events: Dataset[Scd2Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Scd2Event], state: GroupState[Scd2Open]) =>
          val sorted = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          var open = state.getOption.orNull
          sorted.foreach { e =>
            if (open == null) open = Scd2Open(e.event_type, e.ts_us)
            else if (e.event_type != open.event_type) {
              out += Scd2Closed(uid, open.event_type, open.valid_from_us, e.ts_us)
              open = Scd2Open(e.event_type, e.ts_us)
            }
          }
          if (open != null) state.update(open)
          out.iterator
      }
  }
}
