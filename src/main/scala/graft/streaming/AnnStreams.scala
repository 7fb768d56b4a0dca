package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.QuantizedL2Expr
import graft.functions.VectorFunctions.cosineDistance

/** Streaming ANN serving — the reference's interactive query loop
  * (REPL reads a query, scans the whole index per query:
  * `multirag.c:359`, `vector-db.c:165-168`) re-expressed as a stream
  * of query vectors served from the ARTIFACT-BACKED, partition-pruned
  * IVF index. Each micro-batch:
  *
  *   1. routes every query to its `nprobe` nearest clusters map-side
  *      (fan-out against the k-row broadcast centroid table, the
  *      [[graft.operators.IvfIndex.assign]] discipline; the per-query
  *      top-nprobe is a window over k rows per query);
  *   2. collects the batch's probed-cluster set to the driver — a
  *      trigger-bounded set (≤ |batch|·nprobe cluster ids, and ≤ nlist
  *      absolutely), the ledger's probe-set class — and probes the
  *      index through a LITERAL `IN` partition filter, so only the
  *      probed clusters' files are read (`PartitionFilters`, exactly
  *      the batch `q_ivf_nprobe` plan; the reference reads everything
  *      for every query);
  *   3. scores candidates with the codegen cosine kernel against each
  *      query's own vector (queries broadcast — trigger-bounded) and
  *      keeps top-k per query via rank-over-(dist, nid), which Spark
  *      executes as WindowGroupLimit (per-partition top-k pushdown,
  *      no full sort). Self-matches (nid == qid) are excluded, the
  *      serving-time generalization of the batch twin's `vec_id <> 0`.
  *
  * [[servedTopK]] is the pure per-batch function — StreamingSpec pins
  * it against a per-query driver replay of the batch nprobe probe —
  * and [[serve]] wires it into `foreachBatch` (the standard Structured
  * Streaming serving recipe: per-trigger batch semantics, exactly-once
  * into a file sink via the checkpoint's commit log).
  */
object AnnStreams {

  /** Serve one batch of queries `(qid, qv)` from the index at
    * `indexDir` with codebook `centroids` (cluster, cv): per-query
    * top-`k` neighbors `(qid, rank, nid, dist)`.
    */
  def servedTopK(queries: DataFrame, centroids: DataFrame, indexDir: String,
                 k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    // 1. per-query nprobe routing: fan out to k centroids, keep the
    //    nprobe nearest (window over k rows per query — trigger-bounded)
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("cluster"),
        QuantizedL2Expr.column(col("qv"), col("cv"), 45).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("cluster"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cluster"))
    // 2. trigger-bounded driver collect of the probed-cluster set →
    //    literal IN partition filter (planning-time file pruning, the
    //    q_ivf_pruned/q_ivf_nprobe plan shape)
    val clusters = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    val idx = graft.operators.IvfIndex.probe(spark, indexDir, clusters)
    // 3. candidates = probed members × the queries probing their
    //    cluster (queries broadcast — trigger-bounded); cosine + top-k
    idx.join(broadcast(probes), "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineDistance(col("embedding"), col("qv")).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), col("dist"))
  }

  /** Wire [[servedTopK]] into a stream: results append to `outDir` as
    * parquet, exactly-once through `ckptDir`'s commit log.
    */
  def serve(queries: DataFrame, centroids: DataFrame, indexDir: String,
            k: Int, nprobe: Int, outDir: String, ckptDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        servedTopK(batch, centroids, indexDir, k, nprobe)
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** [[serve]] with INDEX ROTATION: instead of a fixed
    * `indexDir`, each micro-batch re-reads the versioned-manifest
    * pointer at `root/MANIFEST` ([[graft.operators.IvfIndex
    * .currentVersion]] — one tiny driver-side read per trigger) and
    * probes that version's index with that version's own codebook. A
    * rebuild/compaction publishes a complete new version directory and
    * atomically swaps the pointer ([[graft.operators.IvfIndex
    * .publishVersion]]), so a retrain takes effect at the next trigger
    * WITHOUT restarting the stream — the reference's only analog is
    * restart-to-reload (`multirag.c:359`). Old versions stay intact on
    * disk, so a batch planned against the previous pointer finishes
    * against a consistent index. Output rows carry `index_version`, so
    * every result is attributable to the index that produced it.
    */
  def serveRotating(queries: DataFrame, root: String, k: Int, nprobe: Int,
                    outDir: String, ckptDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val ver = graft.operators.IvfIndex.currentVersion(spark, root)
        val centroids = spark.read.parquet(s"$root/$ver/centroids")
        servedTopK(batch, centroids, s"$root/$ver/index", k, nprobe)
          .withColumn("index_version", lit(ver))
          .write.mode("append").parquet(outDir)
      }
      .start()
}
