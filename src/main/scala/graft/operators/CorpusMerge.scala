package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WRITE-SIDE MERGE/UPSERT for a parquet corpus — the write shape the
  * read-side queries lack: `q_latest_event` compacts CDC on
  * the READ side and SCD2 reconstructs history, but a real
  * training-data pipeline refreshes its corpus IN PLACE from a delta
  * (new documents, re-crawled revisions, takedown tombstones). The
  * engine's other write shapes are full overwrite
  * (`sources/Vdb.scala`, `IvfIndex.publishVersion`); this adds
  * copy-on-write upsert at FILE-BUCKET granularity.
  *
  * LAYOUT CONTRACT: the base corpus is parquet `PARTITIONED BY
  * (bucket)` where `bucket = pmod(xxhash64(key), nBuckets)` —
  * [[writeBase]] establishes it. The partition column makes the merge
  * partition-PRUNED on both ends: only buckets the delta actually
  * touches are read (a literal `IN` partition filter, zero bytes from
  * the rest of the corpus) and only those buckets are rewritten
  * (dynamic partition overwrite). Cost is Θ(delta + touched-bucket
  * data), never Θ(base): a 1% delta against a 100-TB corpus reads and
  * rewrites ~1% of files (plus the delta's own shuffle), and untouched
  * files are not merely equal — they are the SAME files, never opened
  * (CorpusMergeSpec pins byte-identity). `nBuckets` tunes the
  * write-amplification granularity: larger → smaller rewrite quanta,
  * more files; at 100 TB you size it so a bucket is a few GB (the
  * same arithmetic as shuffle-partition sizing). A production lakehouse
  * reaches for a table format (Delta/Iceberg) whose manifests track
  * files individually; this operator is the same copy-on-write
  * contract expressed in plain partitioned parquet — no extra runtime.
  *
  * MERGE SEMANTICS (per key, the standard MERGE matrix):
  *   - key only in delta, not a tombstone        → INSERT
  *   - key in both, `delta.version >= base.version`, not a tombstone
  *                                               → REPLACE (upsert)
  *   - key in both, `delta.version < base.version` → base row retained
  *     (stale delta — replay/out-of-order protection)
  *   - tombstone (`deleted = true`) with winning version → DELETE;
  *     a stale tombstone is ignored like any stale delta
  *
  * CONCURRENCY: single merge owner per corpus root (the ingest
  * owner); readers are unlimited
  * — a concurrent reader sees whole files only (task-commit renames),
  * though a scan spanning the swap can mix old and new buckets; a
  * reader needing a consistent snapshot reads a versioned root (the
  * `IvfIndex` MANIFEST pattern composes: publish the merged corpus as
  * a new version and swap).
  */
object CorpusMerge {

  /** The bucket a key routes to — the one hash both [[writeBase]] and
    * [[merge]] must agree on (xxhash64, the engine-wide content-key
    * hash; non-negative via pmod).
    */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong))

  /** Partition-PRUNED read of the touched buckets: the literal `IN` on
    * the partition column prunes at planning time (`PartitionFilters`
    * in the scan — CorpusMergeSpec pins the plan shape), so only the
    * touched buckets' files are ever opened. The read schema pins
    * `bucket` to LONG: directory-name inference would type it INT, and
    * the implicit cast a long-literal `isin` then needs can defeat
    * partition pruning — the exact failure the plan test guards.
    */
  private[graft] def prunedBase(spark: SparkSession, dir: String,
                                touched: Seq[Long]): DataFrame = {
    val inferred = spark.read.parquet(dir).schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map(f =>
      if (f.name == "bucket") f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    spark.read.schema(pinned).parquet(dir)
      .filter(col("bucket").isin(touched: _*))
  }

  /** Establish the bucketed-corpus layout: one `bucket=` partition
    * directory per occupied hash bucket. One shuffle-free pass over
    * the input (the bucket column is a map-side projection; the
    * partitioned sink splits files per bucket within each task).
    */
  def writeBase(df: DataFrame, keyCol: String, dir: String, nBuckets: Int): Unit =
    df.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** MERGE `delta` into the bucketed corpus at `dir`. `delta` carries
    * the base's columns plus `versionCol` (monotone per key) and
    * `deletedCol` (tombstone flag). Returns the rewritten bucket ids —
    * the merge's own receipt that it touched Θ(delta) buckets, which
    * CorpusMergeSpec checks against the byte-identity of the rest.
    */
  def merge(spark: SparkSession, dir: String, delta: DataFrame, keyCol: String,
            versionCol: String = "version", deletedCol: String = "deleted",
            nBuckets: Int = 64): Seq[Long] = {
    // materialize the delta ONCE: three jobs consume it (precondition
    // scan, merged write, surviving-bucket set) and the caller's delta
    // plan can be arbitrarily expensive (q_corpus_merge derives it from
    // a multi-branch scan) — Θ(delta) bytes by the operator's own
    // contract, so the checkpoint is small by construction.
    // DURABILITY CONTRACT: localCheckpoint blocks are executor-local and
    // unreplicated, so an executor loss MID-MERGE fails the merge job;
    // the merge is atomic at bucket granularity (dynamic overwrite
    // commits whole buckets) and idempotent per delta, so the documented
    // recovery is RE-RUN THE MERGE — the retry-from-scratch class of the
    // PLANS.md ledger. A deployment that cannot re-run (preemptible
    // fleet, non-replayable delta) should stage the delta to a reliable
    // store first and pass that frame in.
    val d = delta.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
      .localCheckpoint()
    // ONE Θ(delta) partial-agg pass yields BOTH preconditions: the
    // touched-bucket set (≤ nBuckets values to the driver — the
    // probe-set class of collect, never row-scaled) and the standard
    // MERGE uniqueness check (ANSI MERGE errors on multiple matches
    // too): two delta rows for one key would make the survivor
    // join-order-dependent. (Formerly two separate jobs.)
    val pre = d.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), first(col("bucket")).as("bucket"))
      .agg(max(col("n")).as("max_n"), collect_set(col("bucket")).as("buckets"))
      .head()
    if (pre.isNullAt(0)) return Seq.empty // empty delta
    if (pre.getLong(0) > 1L) {
      // failure path only: name one offending key for the error
      val dup = d.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge delta has multiple rows for key ${dup.headOption.map(_.get(0))} — " +
          "collapse the delta to one winning row per key first (e.g. max-version)")
    }
    val touched = pre.getSeq[Long](1).sorted
    val base = prunedBase(spark, dir, touched)
    val outCols = base.columns.filterNot(_ == "bucket")
    val deltaWins = col(s"d.$keyCol").isNotNull &&
      (col(s"b.$keyCol").isNull || col(s"d.$versionCol") >= col(s"b.$versionCol"))
    def mergeJoin(b: DataFrame, dd: DataFrame) = b.alias("b")
      .join(dd.alias("d"), col(s"b.$keyCol") === col(s"d.$keyCol"), "full_outer")
      // a winning tombstone deletes; a stale one is ignored below like
      // any stale delta (deltaWins is false -> the base row survives)
      .filter(!(deltaWins && col(s"d.$deletedCol")))
    val merged = mergeJoin(base, d)
      .select(outCols.map(c =>
        when(deltaWins, col(s"d.$c")).otherwise(col(s"b.$c")).as(c)) :+
        coalesce(col("d.bucket"), col("b.bucket")).as("bucket"): _*)
    // a bucket whose every key was tombstoned vanishes from `merged`,
    // and dynamic overwrite would silently leave its stale files in
    // place — the surviving-bucket set RIDES THE WRITE as an observe()
    // metric (guide §1.5/§2.4): the write emits exactly the
    // surviving rows, so collect_set(bucket) over the written stream IS
    // the survivor set — ≤ nBuckets values, driver-bounded, with no
    // extra join job re-reading the pruned base per merge.
    val obs = new org.apache.spark.sql.Observation()
    merged.observe(obs, collect_set(col("bucket")).as("buckets"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(dir)
    val remaining = survivingBuckets(obs.get)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    touched.filterNot(remaining).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/bucket=$b"), true)
    }
    touched
  }

  /** The surviving-bucket set from the write's observed metrics. Fails
    * closed: without the observation every touched bucket would look
    * fully tombstoned and be deleted, so a missing one is an error.
    */
  private[graft] def survivingBuckets(observed: Map[String, Any]): Set[Long] =
    observed.get("buckets") match {
      case Some(bs: scala.collection.Seq[_]) => bs.map(_.asInstanceOf[Long]).toSet
      case other => throw new IllegalStateException(
        s"merge wrote its buckets but observed no surviving-bucket set ($other); " +
          "no stale bucket was deleted, re-run the merge")
    }
}
