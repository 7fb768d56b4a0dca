package graft.operators

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed SEGMENTED PREFIX SUM — per-shard running totals in a
  * deterministic total order, without a one-task-per-shard window.
  *
  * `sum(v) OVER (PARTITION BY shard ORDER BY o ROWS UNBOUNDED PRECEDING)`
  * funnels each shard through ONE window task: fine when shards are
  * plentiful, a parallelism ceiling of #shards when they are few — the
  * sequence packers shard by LANGUAGE, so at corpus scale one task
  * sorts and scans an entire language (billions of rows for a dominant
  * language) while the other 999 executors idle. The slope gates never
  * see it: the cost is linear, only the PARALLELISM is capped.
  *
  * This is the classic two-pass scan algorithm (Blelloch): range-sort
  * on (shard, order) — distributed, ties split across partitions —
  * then (1) one pass computing per-(partition, shard) subtotals,
  * Θ(#partitions) rows collected; the driver chains them into each
  * partition's per-shard START offset; (2) one narrow pass adding the
  * local running sum to the offset. Values are identical to the window
  * form because (shard, order...) is sorted globally and the fold is
  * the same left-to-right sum; the order columns must make the sort a
  * TOTAL order for the output to be deterministic (callers pass a
  * unique key, e.g. doc_id). Both passes run over the executed plan's
  * InternalRow RDD (`GraftShim.internalRdd` — no per-row Row
  * encode/decode; a first cut on `df.rdd` measured 5.19 s vs the
  * window's 3.18 s at the 5M-doc replica from exactly that overhead)
  * and share one RDD lineage, so the range shuffle is written once and
  * re-read (RDD shuffle reuse), not run twice. Per-partition
  * imperative folds are the documented `mapPartitions` carve-out.
  */
object PrefixSum {

  /** Catalyst size ESTIMATE at or below which the prefix sum stays a
    * plain lazy shard window — the pre-round-13 plan, zero overhead —
    * instead of the two-pass scan. The scan pays an eager
    * materialization, a sampling job, a subtotal collect, and a second
    * pass: +0.3-1.1 s PER RANK PASS at sf0.1 (PLANS.md round 13), pure
    * scheduler latency that is also pure waste when a hot shard fits
    * one task trivially. Dispatch reads `optimizedPlan.stats
    * .sizeInBytes` — plan-time, NO job (the GraftLimits stream-static
    * precedent); a first cut that localCheckpointed + counted the input
    * to decide recovered nothing (the materialization WAS the tax —
    * bench receipts in PLANS.md). 256 MB through one window task is
    * well inside any executor; misestimation is a performance wobble,
    * never wrongness (both paths produce identical values), and errs
    * toward the scan at scale: a corpus-sized frame estimates in
    * GB-TB, and an unknown-stats leaf estimates Long.MaxValue. Tests
    * and plan gates force the scan shape with [[ThresholdConf]] = -1
    * (or the parameter) so the at-scale path stays pinned at sandbox
    * SFs.
    */
  val SmallInputBytes = 1L << 28

  /** Spark-conf override for [[SmallInputBytes]] — lets plan gates and
    * probes force one path (`-1` = always scan) through call sites that
    * use the default, without touching query code. `spark.`-prefixed so
    * `-Dspark.graft...=-1` reaches a fresh session through SparkConf's
    * system-property pickup (SQLConf merges SparkConf entries). The
    * conf is consulted ONLY when the caller left `smallInputBytes` at
    * the default — an explicit parameter is the caller's decision
    * (e.g. [[runningTotal]]'s scale branch passes -1 because it has
    * already dispatched) and must not be silently overridden.
    */
  val ThresholdConf = "spark.graft.prefixSum.smallInputBytes"

  /** Ceiling on pass-1 driver state: one subtotal entry per DISTINCT
    * shard value per partition, so the collect is Θ(#partitions ×
    * #shards-touched-per-partition) — a few thousand entries for the
    * few-valued (lang/enum) keys this operator exists for. A
    * high-cardinality shard key (doc-keyed) would ship corpus-scale
    * state through the driver — the exact single-point class the
    * BroadcastAudit gates reject elsewhere — so the collect fails
    * fast past this cap instead of silently growing (the
    * AggAllowed-adjudication discipline, enforced at runtime).
    */
  val MaxDriverSubtotals: Long = 1L << 20

  private def resolvedThreshold(spark: org.apache.spark.sql.SparkSession,
                                smallInputBytes: Long): Long =
    if (smallInputBytes != SmallInputBytes) smallInputBytes
    else spark.conf.get(ThresholdConf, SmallInputBytes.toString).toLong

  /** Copy a shard key out of a (possibly buffer-reused) InternalRow so
    * it can be retained as a map key across `next()` calls.
    */
  private def copyKey(k: Any): Any = k match {
    case s: UTF8String => s.copy()
    case x => x // primitives box immutably
  }

  /** Atomic-only column contract shared by the scan paths: arrays /
    * maps / structs would alias the reused InternalRow buffer, and
    * BinaryType (`Array[Byte]`) both aliases AND hashes by reference
    * as a map key (every row its own shard — silently wrong
    * subtotals); CalendarInterval is mutable for the same reason.
    */
  private def requireAtomic(schema: StructType, what: String): Unit =
    require(!schema.fields.map(_.dataType).exists(t =>
        t.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        t.isInstanceOf[org.apache.spark.sql.types.MapType] ||
        t.isInstanceOf[org.apache.spark.sql.types.StructType] ||
        t == org.apache.spark.sql.types.BinaryType ||
        t == org.apache.spark.sql.types.CalendarIntervalType),
      s"$what supports atomic column types only (no array/map/struct/binary/interval); " +
        s"got ${schema.simpleString}")

  /** Fail loudly on a NULL shard key (documented non-null contract):
    * every count/rank join-back call site would otherwise DROP a
    * null-keyed row silently where the window form it replaced kept a
    * NULL partition — this wraps the shard column so a nullable key
    * regresses as an error, not as row loss. Codegen-friendly: one
    * null check per row.
    */
  private def guardedShard(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.when(c.isNull,
      org.apache.spark.sql.functions.raise_error(org.apache.spark.sql.functions.lit(
        "PrefixSum: NULL shard key — shardCol is contractually non-null " +
          "(a null key would silently drop rows at join-back call sites)")))
      .otherwise(c)

  /** `df` + `outCol` = INCLUSIVE per-`shardCol` running sum of
    * `valueCol` (LongType) ordered by `orderCols` within the shard.
    * (`shardCol`, `orderCols`) must be a unique key of `df`; `valueCol`
    * and `shardCol` must be non-null.
    */
  def byShard(df: DataFrame, shardCol: String, orderCols: Seq[String],
              valueCol: String, outCol: String,
              smallInputBytes: Long = SmallInputBytes): DataFrame =
    byShardOrdered(df, shardCol, orderCols.map(col), valueCol, outCol, smallInputBytes)

  /** Per-shard ROW NUMBER in (`orderCols`) order — a prefix sum of
    * ones: the distributed replacement for
    * `row_number() OVER (PARTITION BY shard ORDER BY ...)` when the
    * shard key has few values (enum/lang) and a window would put each
    * whole shard through one task. `orderCols` may carry explicit
    * direction and null ordering (`asc_nulls_last`) and must make
    * (shard, order) a unique total order.
    */
  def rowNumber(df: DataFrame, shardCol: String,
                orderCols: Seq[org.apache.spark.sql.Column],
                outCol: String,
                smallInputBytes: Long = SmallInputBytes): DataFrame =
    byShardOrdered(df.withColumn("__graft_one", org.apache.spark.sql.functions.lit(1L)),
      shardCol, orderCols, "__graft_one", outCol, smallInputBytes).drop("__graft_one")

  /** [[byShard]] for a frame that CARRIES WIDE COLUMNS (token arrays)
    * the scan cannot fold over (atomic-types-only contract): on the
    * small-input path the running sum windows IN PLACE — the wide
    * columns ride the one shard exchange and the caller's upstream
    * (e.g. the BPE encode fold) runs ONCE, the exact pre-round-13
    * plan; at scale the scan runs over the narrow
    * (shard, order, value) projection and re-joins on `orderCols`
    * (which must be a unique key). The join-back recomputes the
    * caller's upstream for the wide side — at corpus scale that is
    * CPU traded for not materializing the wide frame, the documented
    * packer rule; at sandbox scale it was measured as the one
    * structural drift of the round (q_seq_pack_bpe +0.7 s in every
    * same-session run while its window A/B arm priced ~r12) and is
    * exactly what this entry point removes.
    */
  def runningTotal(df: DataFrame, shardCol: String, orderCols: Seq[String],
                   valueCol: String, outCol: String,
                   smallInputBytes: Long = SmallInputBytes): DataFrame = {
    val spark = df.sparkSession
    val threshold = resolvedThreshold(spark, smallInputBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(guardedShard(col(shardCol)))
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      df.withColumn(outCol, org.apache.spark.sql.functions.sum(col(valueCol)).over(w))
    } else {
      val narrow = df.select((shardCol +: orderCols :+ valueCol).map(col): _*)
      val cum = byShardOrdered(narrow, shardCol, orderCols.map(col), valueCol, outCol, -1L)
        .select((orderCols :+ outCol).map(col): _*)
      // join keys are the unique-key order columns — non-null by the
      // total-order contract; a null shard already failed in the scan
      df.join(cum, orderCols)
    }
  }

  /** [[byShard]] with explicit ordering columns (direction + null
    * ordering honored by both the range partitioner and the
    * within-partition sort).
    */
  def byShardOrdered(df: DataFrame, shardCol: String,
                     orderCols: Seq[org.apache.spark.sql.Column],
                     valueCol: String, outCol: String,
                     smallInputBytes: Long = SmallInputBytes): DataFrame = {
    val spark = df.sparkSession
    val threshold = resolvedThreshold(spark, smallInputBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)) {
      // small-input fast path (see SmallInputBytes): the plain LAZY
      // shard window — identical values (same shard groups, same total
      // order, same left-to-right fold), zero extra jobs, the exact
      // pre-round-13 plan
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(guardedShard(col(shardCol)))
        .orderBy(orderCols: _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      return df.withColumn(outCol,
        org.apache.spark.sql.functions.sum(col(valueCol)).over(w))
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    val sortCols = col(shardCol) +: orderCols
    // materialize the narrow input ONCE: repartitionByRange runs a
    // sampling job over its child, which would re-run the caller's
    // upstream (for q_seq_pack_bpe that is the whole BPE encode fold)
    // a second time. DURABILITY: lineage-severed, non-replicated — the
    // same ledger class as the weighted-rep cluster frames (PLANS.md
    // round-12 ledger); a preemptible cluster swaps in a reliable
    // checkpoint via the same one-line rule.
    val cp = df.localCheckpoint(true)
    val sorted = cp.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema
    val shardIdx = schema.fieldIndex(shardCol)
    val shardType = schema(shardIdx).dataType
    val valIdx = schema.fieldIndex(valueCol)
    val nFields = schema.length
    val types = schema.fields.map(_.dataType)
    // buffer-reuse safety: only atomic fields (copyKey covers strings;
    // numerics are value types) — pass a narrow projection, not arrays
    requireAtomic(schema, "PrefixSum.byShard")
    val rdd = GraftShim.internalRdd(sorted) // shared lineage: one range shuffle

    // pass 1: per-(partition, shard) subtotals, in shard order within
    // each partition — Θ(#partitions + #shard-boundary-crossings) rows
    val subtotals: Array[(Int, Array[(Any, Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        it.foreach { r =>
          val k = r.get(shardIdx, shardType)
          if (k == null) throw new IllegalStateException(
            "PrefixSum: NULL shard key — shardCol is contractually non-null " +
              "(a null key would silently drop rows at join-back call sites)")
          acc.get(k) match {
            case Some(v) => acc.update(k, v + r.getLong(valIdx))
            case None => acc.put(copyKey(k), r.getLong(valIdx))
          }
        }
        Iterator.single((pid, acc.toArray))
      }.collect()
    // driver-state bound: Θ(#partitions × #shards-per-partition) —
    // corpus-keyed misuse fails here instead of growing silently
    val nSub = subtotals.iterator.map(_._2.length.toLong).sum
    require(nSub <= MaxDriverSubtotals,
      s"PrefixSum: pass-1 collected $nSub per-(partition, shard) subtotals " +
        s"(cap $MaxDriverSubtotals). The shard key must be few-valued (lang/enum); " +
        "a row-identity shard key ships corpus-scale state through the driver — " +
        "use globalRowNumber (no shard) or a keyed aggregation instead.")

    // driver: chain subtotals in partition order into per-partition
    // START offsets for exactly the shards that partition touches
    val running = scala.collection.mutable.HashMap.empty[Any, Long]
    val offsets = new Array[Map[Any, Long]](parts)
    subtotals.sortBy(_._1).foreach { case (pid, subs) =>
      offsets(pid) = subs.map { case (k, _) => k -> running.getOrElse(k, 0L) }.toMap
      subs.foreach { case (k, s) => running.update(k, running.getOrElse(k, 0L) + s) }
    }
    for (pid <- 0 until parts) if (offsets(pid) == null) offsets(pid) = Map.empty

    // pass 2: narrow — local running sum + the partition's start offset.
    // Emitted rows copy retained values (UTF8String) out of the reused
    // input buffer; numerics are value types.
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val cur = scala.collection.mutable.HashMap.empty[Any, Long]
      offsets(pid).foreach { case (k, v) => cur.update(k, v) }
      it.map { r =>
        val k = r.get(shardIdx, shardType)
        val c = cur.getOrElse(k, 0L) + r.getLong(valIdx)
        cur.get(k) match {
          case Some(_) => cur.update(k, c)
          case None => cur.put(copyKey(k), c)
        }
        val vals = new Array[Any](nFields + 1)
        var i = 0
        while (i < nFields) {
          vals(i) = copyKey(r.get(i, types(i)))
          i += 1
        }
        vals(nFields) = c
        new GenericInternalRow(vals): InternalRow
      }
    }
    // nullable = true so both dispatch paths emit the SAME schema: the
    // window form's sum() is nullable, and a query's declared schema
    // must not flip with the plan-time size estimate
    GraftShim.ofInternal(spark, out,
      StructType(schema.fields :+ StructField(outCol, LongType, nullable = true)))
  }

  /** GLOBAL 1-based row number over the unique total order `orderCols`
    * — the distributed replacement for (a) an UNPARTITIONED
    * `row_number()` window (serial corpus-scale sort through one task)
    * and (b) the hand-rolled `df.rdd.zipWithIndex()` idiom, which pays
    * a per-row Row encode/decode the PackProbe of commit aafd41a measured at
    * ~1.6× (5.19 vs 3.18 s at the 5M-doc replica — the exact overhead
    * [[byShardOrdered]] avoids via `GraftShim.internalRdd`).
    *
    * Shape: range-sort on `orderCols` (distributed; ties split across
    * partitions, so `orderCols` must be a unique total order for the
    * output to be deterministic), then per-partition row counts —
    * Θ(#partitions) driver state, NO corpus-scale anything — chained
    * into start offsets, and one narrow pass emitting the offset +
    * local position. Both passes share one RDD lineage, so the range
    * shuffle is written once and re-read. Output = `df`'s columns plus
    * `outCol` (LongType). Same atomic-column contract as [[byShard]]:
    * pass a narrow projection.
    *
    * Same size-estimate dispatch as [[byShardOrdered]]: at or below
    * [[SmallInputBytes]] (or the [[ThresholdConf]] override) the rank
    * stays a plain LAZY unpartitioned `row_number` window — identical
    * values, zero extra jobs. The value identity between the two paths
    * REQUIRES `orderCols` to be a unique total order (the same
    * precondition the scan path states above): on ties the window path
    * ranks in encounter order while the scan path ranks in range-split
    * order, so a non-total order would let the plan-time size estimate
    * flip per-row ranks. Every registry call site passes a key-complete
    * order. The scan path's
    * localCheckpoint + sampling + counts collect is a fixed ~0.3-0.4 s
    * scheduler tax PER CALL that the round-14 close bench caught on all
    * five registry call sites (q_seq_pack_bpe 1.13 -> 1.48 s,
    * q_snm_blocking 0.75 -> 1.06 s, ... — consistent across both close
    * runs on a box reading 8% FASTER overall); a sub-256MB frame
    * through one window task is exactly the case the byShard dispatch
    * already carved out. Gates and probes pin the at-scale shape with
    * `-1`, as they do for [[byShardOrdered]].
    */
  def globalRowNumber(df: DataFrame, orderCols: Seq[org.apache.spark.sql.Column],
                      outCol: String,
                      smallInputBytes: Long = SmallInputBytes): DataFrame = {
    val spark = df.sparkSession
    val threshold = resolvedThreshold(spark, smallInputBytes)
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(orderCols: _*)
      // nullif(·, -1) never fires (ranks are ≥ 1) — it only makes the
      // declared schema nullable, matching the scan path's output so a
      // query's schema cannot flip with the plan-time size estimate
      return df.withColumn(outCol,
        org.apache.spark.sql.functions.nullif(
          org.apache.spark.sql.functions.row_number().over(w).cast(LongType),
          org.apache.spark.sql.functions.lit(-1L)))
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    // materialize once: repartitionByRange's sampling job would re-run
    // the caller's upstream a second time (the byShardOrdered rule;
    // same durability ledger class — lineage-severed, non-replicated)
    val cp = df.localCheckpoint(true)
    val sorted = cp.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = sorted.schema
    val nFields = schema.length
    val types = schema.fields.map(_.dataType)
    requireAtomic(schema, "PrefixSum.globalRowNumber")
    val rdd = GraftShim.internalRdd(sorted) // shared lineage: one range shuffle
    // pass 1: per-partition row counts — Θ(#partitions) driver state
    val counts: Array[(Int, Long)] = rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single((pid, n))
    }.collect()
    val offsets = new Array[Long](parts)
    var acc = 0L
    counts.sortBy(_._1).foreach { case (pid, n) => offsets(pid) = acc; acc += n }
    // pass 2: narrow — start offset + local position; retained values
    // (UTF8String) copy out of the reused input buffer
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = offsets(pid)
      it.map { r =>
        i += 1
        val vals = new Array[Any](nFields + 1)
        var j = 0
        while (j < nFields) {
          vals(j) = copyKey(r.get(j, types(j)))
          j += 1
        }
        vals(nFields) = i
        new GenericInternalRow(vals): InternalRow
      }
    }
    GraftShim.ofInternal(spark, out,
      StructType(schema.fields :+ StructField(outCol, LongType, nullable = true)))
  }
}
