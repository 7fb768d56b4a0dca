package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.QuantizedL2Expr

/** IVF index as PHYSICAL LAYOUT: the vector table is written to parquet
  * `PARTITIONED BY (cluster)` — the nearest-centroid assignment — so an
  * IVF probe prunes at the FILE level (`PartitionFilters` in the scan,
  * zero bytes read outside the probed cluster). This is the engine's
  * headroom claim over the reference, which scans the whole table for
  * every query (`vector-db.c:165-168`): at 100 TB a probe touches
  * 1/nlist of the files, and nprobe>1 just widens the `IN` filter.
  *
  * Assignment math is the integer-quantized L2 of
  * [[graft.functions.QuantizedL2Expr]] (exact cross-engine, argmin ties
  * to the lower cluster id) — the same discipline that makes `q_kmeans`
  * hash-green. Assignment is a broadcast of the k×dim seed matrix
  * against the scan (the data side never shuffles); the write's only
  * movement is the partitioned sink.
  */
object IvfIndex {

  /** Two-level nearest-seed assignment — the scale path when k grows
    * with the corpus (SemDeDup's constant-cluster-size contract): route
    * each vector to its nearest COARSE seed (the first `k1` of `seeds`),
    * then take the argmin only over the fine seeds whose own nearest
    * coarse seed is that cell. O(N·(k1 + k/k1)) quantized-L2 evaluations
    * instead of the flat argmin's O(N·k) — with k1 ≈ ⌈√k⌉ and k ∝ N the
    * assignment drops from quadratic to ~N^1.25 (and on a cluster both
    * passes are broadcast joins against the scan; the vector table still
    * never shuffles to be assigned). In-cell nearest replaces global
    * nearest — the IVF nprobe=1 semantic; callers mirror the exact same
    * rule in their oracles, so this is a definition, not an
    * approximation. Every argmin orders (d2, id) — deterministic.
    */
  def twoLevelAssign(emb: DataFrame, seeds: DataFrame, k1: Long): DataFrame = {
    // Every argmin below is a groupBy + min(struct(d2, cell)) — struct
    // ordering IS (d2 asc, cell asc), the repo's tie rule — NOT a
    // row_number window: after the broadcast join fans each vector out
    // to its candidate seeds, a window would SHUFFLE all N·candidates
    // rows (the 1000x decade probe measured this as the dominant term),
    // while hash-aggregate partial ARGMIN collapses them to one row per
    // vector map-side, before the exchange. Only N collapsed rows ever
    // cross the wire — the broadcast-assign contract the Scaladoc
    // promises. (The N·(k1 + k/k1) quantized-L2 evaluations themselves
    // are inherent to two-level routing and stay map-side.)
    val coarse = seeds.filter(col("cluster") < k1)
      .select(col("cluster").as("ccell"), col("cv").as("gv"))
    val parent = seeds.crossJoin(broadcast(coarse))
      .select(col("cluster"), col("cv"),
        struct(QuantizedL2Expr.column(col("cv"), col("gv"), 45).as("d2"),
          col("ccell").as("cell")).as("dc"))
      .groupBy("cluster").agg(min("dc").as("m"), first("cv").as("cv"))
      .select(col("cluster"), col("cv"), col("m.cell").as("parent"))
    val vc = emb.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"),
        struct(QuantizedL2Expr.column(col("embedding"), col("gv"), 45).as("d2"),
          col("ccell").as("cell")).as("dc"))
      .groupBy("vec_id").agg(min("dc").as("m"), first("embedding").as("embedding"))
      .select(col("vec_id"), col("embedding"), col("m.cell").as("ccell"))
    vc.join(broadcast(parent), col("parent") === col("ccell"))
      .select(col("vec_id"),
        struct(QuantizedL2Expr.column(col("embedding"), col("cv"), 45).as("d2"),
          col("cluster").as("cell")).as("dc"))
      .groupBy("vec_id").agg(min("dc").as("m"))
      .select(col("vec_id"), col("m.cell").as("cluster"))
  }

  /** Nearest-seed assignment for every vector: (vec_id, cluster).
    * Same partial-aggregated argmin as [[twoLevelAssign]] — the
    * N·k fan-out collapses map-side; no window shuffle. `by` names seed
    * columns that tag several codebooks in one seed table: the argmin
    * then runs per (vec_id, tag) and the tags ride along in the output,
    * so one corpus pass assigns against every codebook.
    */
  def assign(emb: DataFrame, seeds: DataFrame, by: Seq[String] = Nil): DataFrame = {
    val keys = col("vec_id") +: by.map(col)
    emb.crossJoin(broadcast(seeds))
      .select(keys :+ struct(QuantizedL2Expr.column(col("embedding"), col("cv"), 45).as("d2"),
        col("cluster").as("cell")).as("dc"): _*)
      .groupBy(keys: _*).agg(min("dc").as("m"))
      .select(keys :+ col("m.cell").as("cluster"): _*)
  }

  /** Build the physical index: vectors + assignment, partitioned by
    * cluster. One broadcast assignment + one partitioned write.
    */
  def build(emb: DataFrame, seeds: DataFrame, indexDir: String): Unit =
    emb.join(assign(emb, seeds), "vec_id")
      .write.mode("overwrite").partitionBy("cluster").parquet(indexDir)

  /** The `nprobe` clusters a query vector probes: ascending quantized-L2
    * over the (tiny, broadcast-sized) seed table, ties to the lower id.
    */
  def nearestClusters(seeds: DataFrame, qvec: Seq[Double], nprobe: Int): Seq[Long] = {
    val qlit = array(qvec.map(lit): _*)
    seeds.select(col("cluster"),
        QuantizedL2Expr.column(col("cv"), qlit, 45).as("d2"))
      .orderBy(col("d2").asc, col("cluster").asc)
      .limit(nprobe).collect().map(_.getLong(0)).toSeq
  }

  /** Probe scan: ONLY the probed clusters' files are read — the literal
    * `IN` on the partition column prunes at planning time
    * (`PartitionFilters` in the scan node, see PLANS.md).
    */
  def probe(spark: SparkSession, indexDir: String, clusters: Seq[Long]): DataFrame =
    spark.read.parquet(indexDir)
      .filter(col("cluster").isin(clusters: _*))

  // ---- versioned-manifest serving layout (index rotation) ----
  //
  //   <root>/<version>/index/      cluster-partitioned vector files
  //   <root>/<version>/centroids/  the k-row codebook that built them
  //   <root>/MANIFEST              one line: the current version name
  //
  // A rebuild/compaction writes its version directory COMPLETELY, then
  // swaps the pointer atomically — so a concurrent reader either sees
  // the old version (still intact on disk) or the new one, never a
  // half-written index. A reader that resolves the pointer per query
  // ([[currentVersion]]; `q_ann_rotate` serves through it after each of
  // two publishes) picks up a retrain WITHOUT a restart; the
  // reference's only analog is restart-to-reload (`multirag.c:359`).

  /** Build index + codebook under `root/version/` and atomically point
    * `root/MANIFEST` at it. Also freezes the version's BUILD-TIME
    * cluster histogram (`build_hist`): the reference distribution the
    * drift-based compaction trigger ([[driftStat]] / [[needsCompaction]])
    * compares append batches against. ONE argmin feeds both consumers —
    * the partitioned index write and the histogram: the assignment is
    * checkpointed once (Θ(N) narrow (id, cluster) rows) and aggregated
    * from there, the same never-recompute-the-argmin shape
    * [[appendVectors]] uses. (The first cut re-read the just-written
    * index as a second job — a listing + footer pass over every part
    * file per publish that the rotation query paid twice.)
    *
    * DURABILITY CONTRACT: the assignment checkpoint
    * is executor-local and unreplicated, so an executor loss
    * mid-publish fails the publish job. That is safe BY CONSTRUCTION:
    * the manifest pointer swaps only after every write lands, so a
    * failed publish leaves the previous version serving intact and the
    * documented recovery is re-run the publish (retry-from-scratch,
    * the PLANS.md ledger class — same contract in [[appendVectors]]
    * and `CorpusMerge.merge`). On a preemptible fleet, stage the
    * assignment reliably and pass it via `precomputedAssign`.
    */
  def publishVersion(emb: DataFrame, seeds: DataFrame, root: String,
                     version: String,
                     precomputedAssign: Option[DataFrame] = None): Unit = {
    val spark = emb.sparkSession
    // `precomputedAssign`: a caller that publishes SEVERAL versions over
    // the same corpus (index rotation) can compute all versions'
    // argmins in ONE fan-out pass and hand each publish its (vec_id,
    // cluster) slice — the assignment must equal assign(emb, seeds)
    // (same quantized-L2 argmin, ties to the lower cluster id) and be
    // already materialized (this function consumes it twice)
    val asg = precomputedAssign.getOrElse(assign(emb, seeds).localCheckpoint())
    // an assignment that misses a vector (a supplied one can) would
    // publish a short version: the coverage check rides the index write
    // as an observe() metric (no extra job, as in `CorpusMerge.merge`),
    // and a failed check stops before the manifest swap; a re-run
    // overwrites the partial version directory
    val obs = new org.apache.spark.sql.Observation()
    emb.join(asg, Seq("vec_id"), "left")
      .observe(obs, count_if(col("cluster").isNull).as("unassigned"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$root/$version/index")
    val missing = obs.get("unassigned").asInstanceOf[Long]
    require(missing == 0,
      s"the assignment has no cluster for $missing vec_id(s) of emb; version not published")
    seeds.write.mode("overwrite").parquet(s"$root/$version/centroids")
    // cast: seeds built from ids are long already, but the histogram
    // schema is PINNED to long regardless of the caller's cluster type
    asg.groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$root/$version/build_hist")
    publishManifest(spark, root, version)
  }

  /** Atomic pointer swap: write `MANIFEST.tmp`, rename with OVERWRITE
    * (atomic on HDFS and on a local fs — both readers and writers go
    * through the Hadoop FileContext API, never half-written content).
    * The OUTGOING pointer value (when one exists) is preserved to
    * `root/MANIFEST.prev` BEFORE the swap: pointer HISTORY, not
    * directory mtime, is what the in-flight-reader retention guarantee
    * of [[pruneVersions]] is stated over — mtime tracks creation order,
    * which diverges from serving order the moment a pointer rolls back.
    */
  def publishManifest(spark: SparkSession, root: String, version: String): Unit = {
    require(version.nonEmpty && !version.contains("/"),
      s"version must be a single path segment, got '$version'")
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    fs.mkdirs(rootPath)
    def atomicWrite(name: String, value: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(rootPath, s"$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(rootPath.toUri, conf)
      fc.rename(tmp, new org.apache.hadoop.fs.Path(rootPath, name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(rootPath, "MANIFEST")))
      atomicWrite("MANIFEST.prev", currentVersion(spark, root))
    atomicWrite("MANIFEST", version)
  }

  /** Hot-add vectors to the CURRENT version without a retrain or a
    * pointer swap: each new vector is assigned with that version's OWN
    * codebook (so routing stays consistent — a query probing cluster c
    * finds every vector whose nearest seed is c, old or new) and
    * appended as new cluster-partitioned part files into the version's
    * index directory. Readers list files per scan — a probe picks
    * appends up on its next run; a reader mid-append sees whole files only (task
    * commit renames them in atomically). Retrain/compaction still goes
    * through [[publishVersion]] + swap; append covers the ingest-time
    * trickle between rebuilds — the reference's only analog is a full
    * rebuild + restart (`vector-db.c:42-79`, `multirag.c:359`).
    * `emb`'s columns must match the version's index schema (vec_id,
    * embedding, ...). SCALE: one broadcast-codebook argmin + one
    * append write — Θ(new rows), regardless of index size.
    *
    * WHEN TO COMPACT (measured by the HotAddProbe of commit 91adee5,
    * PLANS.md): the trigger is DRIFT, not append fraction.
    * I.i.d. appends are recall-neutral at any measured fraction (stale
    * vs fresh codebook within ±5 recall points at 10/50/100% appends), but
    * DRIFTED appends cost 25–55 recall@10 points on drift-region
    * queries already at 10% — the stale codebook has no cells where
    * the new mode lives. The trigger is ENFORCED here, not just
    * documented: each append persists its batch's cluster
    * histogram — a free byproduct of this function's own argmin,
    * Θ(nlist) rows — beside the index (`append_hist`); [[driftStat]]
    * compares the cumulative append distribution to the version's
    * build-time `build_hist` and [[needsCompaction]] says when to
    * retrain via [[publishVersion]]. A fraction-based "compact at X%"
    * rule is NOT supported by the numbers — it fires needlessly on
    * i.i.d. ingest and far too late under drift.
    *
    * CONCURRENCY: append assumes a SINGLE INGEST OWNER — the process
    * that appends is the process that retrains (the usual index-ingest
    * topology; readers are unlimited). The race it closes defensively:
    * an append that starts before a retrain's pointer swap but lands
    * after it would write into the OLD version and silently vanish
    * from serving. The pointer is re-checked AFTER the write; if it
    * moved mid-append the call throws so the caller re-appends into
    * the new version (the files written into the old version are
    * harmless — that version is no longer served, and pruning removes
    * it). NOTE the check-after-write shape NARROWS the window, it does
    * not close it: a swap landing between the re-check and the return
    * still strands the rows silently — only the single-ingest-owner
    * assumption (appender == retrainer, so the two never race) actually
    * guarantees no loss; with multiple uncoordinated writers this guard
    * is a tripwire, not a lock. Returns the version appended to.
    */
  def appendVectors(emb: DataFrame, root: String): String = {
    val spark = emb.sparkSession
    val v = currentVersion(spark, root)
    val seeds = spark.read.parquet(s"$root/$v/centroids")
    // materialize the assignment once (Θ(new rows) of (id, cluster)
    // pairs) so the index write and the histogram receipt see the SAME
    // argmin — never recompute an assignment you already paid for
    val asg = assign(emb, seeds).localCheckpoint()
    emb.join(asg, "vec_id")
      .write.mode("append").partitionBy("cluster").parquet(s"$root/$v/index")
    asg.groupBy("cluster").agg(count(lit(1)).as("n"))
      .write.mode("append").parquet(s"$root/$v/append_hist")
    val after = currentVersion(spark, root)
    if (after != v)
      throw new IllegalStateException(
        s"appendVectors lost-update: MANIFEST moved '$v' -> '$after' during the " +
          "append; the rows landed in a no-longer-served version — re-append " +
          "against the new current version")
    v
  }

  /** ASSIGNMENT-HISTOGRAM DRIFT of the current version's hot-added
    * vectors: total-variation distance, in [0,1], between the version's
    * build-time cluster distribution (`build_hist`, frozen by
    * [[publishVersion]]) and the cumulative distribution of everything
    * [[appendVectors]] routed since (`append_hist`). 0.0 when nothing
    * was appended. I.i.d. appends route like the corpus routed at build
    * time (TV ≈ sampling noise); a drifted ingest mode crowds into the
    * few cells nearest the new mode and TV rises immediately — the
    * regime where the HotAddProbe of commit 91adee5 measured 25–55
    * recall@10 points lost already at 10% appended fraction. Both
    * histograms are Θ(nlist) rows (codebook-sized at any corpus size), so the compare
    * is a driver-side fold over two artifact reads — no job touches the
    * index data.
    */
  def driftStat(spark: SparkSession, root: String): Double = {
    val v = currentVersion(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$v/append_hist")))
      return 0.0
    def hist(path: String): Map[Long, Long] =
      spark.read.parquet(path)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(sum("n").cast("long").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val built = hist(s"$root/$v/build_hist")
    val added = hist(s"$root/$v/append_hist")
    val (nb, na) = (built.values.sum.toDouble, added.values.sum.toDouble)
    if (na == 0.0) return 0.0
    (built.keySet ++ added.keySet).toSeq.map { c =>
      math.abs(built.getOrElse(c, 0L) / nb - added.getOrElse(c, 0L) / na)
    }.sum / 2.0
  }

  /** The enforced compaction rule the hot-add measurement derived:
    * retrain (rebuild + [[publishVersion]] swap) when the appended
    * vectors' cluster distribution has drifted from the build-time
    * distribution by more than `threshold` total variation. The 0.25
    * default separates the probe's two measured regimes with margin:
    * i.i.d. appends reproduce the build distribution (TV ≈ sampling
    * noise, well under 0.1 at any real batch size), while the drifted
    * regime concentrates the new mode into a handful of stale cells
    * (TV ≥ ~0.5). Fires only on drift — exactly when recall is
    * actually at risk — never on fraction.
    */
  def needsCompaction(spark: SparkSession, root: String,
                      threshold: Double = 0.25): Boolean =
    driftStat(spark, root) > threshold

  /** Retention for rotated versions: delete every version directory
    * EXCEPT the `keep` most recently MODIFIED ones — and never, at any
    * age, the MANIFEST target or the PREVIOUSLY-SERVED version
    * (`MANIFEST.prev`, recorded by every pointer swap). Without this a
    * serving root that retrains daily leaks its full index size per
    * day. The in-flight-reader guarantee is stated over POINTER
    * HISTORY, not mtime: a reader whose plan was bound to the pre-swap
    * pointer keeps reading intact files through a prune because that
    * version IS `MANIFEST.prev` — this holds through rollbacks too,
    * where creation order and serving order diverge and an mtime-only
    * rule would delete the version adjacent to the rollback target
    * (IvfIndexSpec pins both orders). Single pruner assumed — the
    * retrain owner, same as [[appendVectors]]'s single ingest owner.
    * Returns the version names deleted.
    */
  def pruneVersions(spark: SparkSession, root: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val protectedVs = Set(currentVersion(spark, root)) ++ prevVersion(spark, root)
    val versions = fs.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .sortBy(-_.getModificationTime)
      .map(_.getPath.getName)
    val doomed = versions.drop(keep).filterNot(protectedVs)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, v), true)
    }
    doomed
  }

  /** The version `root/MANIFEST` currently points at. */
  def currentVersion(spark: SparkSession, root: String): String =
    readPointer(spark, s"$root/MANIFEST").getOrElse(
      throw new java.io.FileNotFoundException(s"$root/MANIFEST"))

  /** The version served before the last pointer swap (`MANIFEST.prev`),
    * if any swap has happened — the version an in-flight reader may
    * still be bound to, which [[pruneVersions]] therefore protects.
    */
  def prevVersion(spark: SparkSession, root: String): Option[String] =
    readPointer(spark, s"$root/MANIFEST.prev")

  private def readPointer(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }
}
