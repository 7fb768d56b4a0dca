package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.QuantizedL2Expr
import graft.operators.{IvfIndex, TopK}
import graft.functions.VectorFunctions._

/** Approximate nearest-neighbour search and clustering over the
  * `embeddings` fixture: batched exact top-k, centroids, IVF (in-session,
  * physically partitioned, loaded from artifacts, batched serving and
  * version rotation), k-means, filtered search, and the cluster and
  * recall evals (silhouette, separation, drift, outliers, nDCG, LID).
  *
  * Order independence across engines: each float-origin value is scaled
  * by a power of two (exact) and floored to BIGINT before any sum, so
  * aggregates are exact integer arithmetic (DECIMAL casts of
  * full-precision doubles are not cross-engine safe: DuckDB's cast
  * rounds through a double multiplication). Cluster assignment is the
  * quantized-L2 argmin of [[graft.operators.IvfIndex]], ties to the
  * lower id. At scale the vector table is bucketed by cluster, a probe
  * reads only its cells' files, and the centroid table is broadcast.
  */
object AnnQueries {

  /** The seed codebook every IVF query builds from: vectors 0..7 as
    * clusters 0..7. */
  private def seedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))

  /** The 5 rows nearest to `q` by cosine distance, vector 0 (the query
    * itself) excluded, ties to the lower vec_id; none without `q`. */
  private def nearest5(rows: DataFrame, q: Option[Seq[Double]]): DataFrame =
    nearestTo(rows.filter(col("vec_id") =!= 0), "embedding", "vec_id", q, 5)

  /** Serve vector 0 from the IVF index at `indexDir`: only the files of
    * the `nprobe` cells whose `centroids` are nearest to it are scanned
    * (the literal `IN` on the partition column prunes at planning).
    * Without vector 0 no cell is probed and the index is not read (an
    * index of no vectors has no file to read a schema from): `emb`
    * stands in for it, and the answer has no rows. */
  private def probeTop5(spark: SparkSession, emb: DataFrame, centroids: DataFrame,
      indexDir: String, nprobe: Int): DataFrame = {
    val q = queryVector(emb)
    val probed = q.fold(emb.withColumn("cluster", lit(0L)))(v =>
      IvfIndex.probe(spark, indexDir, IvfIndex.nearestClusters(centroids, v, nprobe)))
    nearest5(probed, q)
      .select(col("cluster").cast("long").as("probe_cluster"),
        col("vec_id").as("nid"), col("dist"))
  }

  val annTopk: QueryDef = QueryDef.sql(
    "q_ann_topk",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |d AS (SELECT qid, vec_id AS nid, ${cosDistSql("v", "qv")} AS dist
       |      FROM e, q WHERE vec_id <> qid),
       |r AS (SELECT qid, nid, dist,
       |             row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       |      FROM d)
       |SELECT qid, rank, nid, dist FROM r WHERE rank <= 3""".stripMargin) { (spark, dir) =>
    // rank emitted as BIGINT like DuckDB's row_number (Spark's is INT)
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vec_id").asc)
    emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist", cosineDistance(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("vec_id").as("nid"), col("dist"))
  }

  /** (label, dim 1-based, centroid) — exact decimal mean per dimension. */
  val centroids: QueryDef = QueryDef.sql(
    "q_centroids",
    s"""WITH ed AS (SELECT label, vec_id, i,
       |                   CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |            FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i))
       |SELECT label, i,
       |       CAST(sum(ix) AS DOUBLE) / $S52 / count(*) AS centroid
       |FROM ed GROUP BY label, i""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("label"), (col("i0") + 1).cast("long").as("i"),
        floor(col("x") * S52d).cast("long").as("ix"))
      .groupBy("label", "i")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("centroid"))
  }

  private val CentCte =
    s"""ed AS (SELECT label, vec_id, i, embedding[i] AS x,
       |              CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |cent AS (SELECT label, i,
       |                CAST(sum(ix) AS DOUBLE) / $S52 / count(*) AS c
       |         FROM ed GROUP BY label, i)""".stripMargin

  /** Mean squared L2 distance of each label's members to their centroid. */
  val centroidSpread: QueryDef = QueryDef.sql(
    "q_centroid_spread",
    s"""WITH $CentCte,
       |terms AS (SELECT ed.label, ed.vec_id,
       |                 CAST(floor((ed.x - cent.c) * (ed.x - cent.c) * $S45) AS BIGINT) AS t
       |          FROM ed JOIN cent ON cent.label = ed.label AND cent.i = ed.i)
       |SELECT label,
       |       count(DISTINCT vec_id) AS n_vecs,
       |       CAST(sum(t) AS DOUBLE) / $S45 / count(DISTINCT vec_id) AS avg_dist2
       |FROM terms GROUP BY label""".stripMargin) { (spark, dir) =>
    val ed = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("label"), col("vec_id"), (col("i0") + 1).cast("long").as("i"), col("x"),
        floor(col("x") * S52d).cast("long").as("ix"))
    // centroid side renames BOTH key columns: the join below then needs no
    // dataset-id disambiguation (cent derives from ed, so `cent("i") ===
    // ed("i")` is one refactor away from a trivially-true predicate)
    val cent = ed.groupBy("label", "i")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
      .withColumnRenamed("label", "clabel")
      .withColumnRenamed("i", "ci")
    ed.join(cent, col("clabel") === col("label") && col("ci") === col("i"))
      .select(col("label"), col("vec_id"),
        floor((col("x") - col("c")) * (col("x") - col("c")) * S45d).cast("long").as("t"))
      .groupBy("label")
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        (sum(col("t")).cast("double") / S45d / countDistinct(col("vec_id"))).as("avg_dist2"))
  }

  /** IVF probe: nearest centroid to the query vector, exact top-5 within
    * that one partition.
    */
  val ivfTopk: QueryDef = QueryDef.sql(
    "q_ivf_topk",
    s"""WITH $CentCte,
       |qd AS (SELECT i, embedding[i] AS qx
       |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i) WHERE vec_id = 0),
       |cdist AS (SELECT cent.label,
       |                 sum(CAST(floor((qd.qx - cent.c) * (qd.qx - cent.c) * $S45) AS BIGINT)) AS d2
       |          FROM cent JOIN qd ON qd.i = cent.i GROUP BY cent.label),
       |best AS (SELECT label FROM cdist ORDER BY d2, label LIMIT 1),
       |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.label AS probe_label, e.vec_id AS nid,
       |       ${cosDistSql("e.v", "q.qv")} AS dist
       |FROM e JOIN best ON e.label = best.label, q
       |WHERE e.vec_id <> 0
       |ORDER BY dist, e.vec_id
       |LIMIT 5""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val q = queryVector(emb)
    val qlit = TopK.vecLit(q.getOrElse(Nil))
    val ed = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("label"), (col("i0") + 1).cast("long").as("i"),
        floor(col("x") * S52d).cast("long").as("ix"))
    val cent = ed.groupBy("label", "i")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
    // query dims as a literal-joined frame: reuse the collected vector
    val qd = cent.select(col("label"), col("i"), col("c"),
      element_at(qlit, col("i").cast("int")).as("qx"))
    val best = qd
      .select(col("label"), floor((col("qx") - col("c")) * (col("qx") - col("c")) * S45d).cast("long").as("t"))
      .groupBy("label").agg(sum(col("t")).as("d2"))
      .orderBy(col("d2").asc, col("label").asc).limit(1)
      .select(col("label").as("probe_label"))
    nearest5(emb.join(broadcast(best), emb("label") === col("probe_label")), q)
      .select(col("probe_label"), col("vec_id").as("nid"), col("dist"))
  }

  /** IVF with PHYSICAL partition pruning ([[graft.operators.IvfIndex]]):
    * build = assign every vector to its nearest seed centroid (vec_id
    * 0..7, broadcast k×dim, exact quantized-L2 argmin) and write the
    * table `PARTITIONED BY (cluster)`; probe = nearest cluster to the
    * query vector, then top-5 cosine over ONLY that cluster's files —
    * `PartitionFilters` in the scan, not a post-scan filter (PLANS.md
    * carries the plan). The reference scans the entire table per query
    * (`vector-db.c:165-168`); this is the claimed headroom, now
    * demonstrated end-to-end and oracle-checked.
    */
  val ivfPruned: QueryDef = QueryDef.sql(
    "q_ivf_pruned",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1),
       |qd AS (SELECT i, embedding[i] AS qx
       |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i) WHERE vec_id = 0),
       |cd AS (SELECT c0.cluster,
       |              CAST(sum(CAST(floor((qd.qx - c0.c) * (qd.qx - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM c0 JOIN qd ON qd.i = c0.i GROUP BY 1),
       |best AS (SELECT cluster FROM cd ORDER BY d2, cluster LIMIT 1),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT CAST(s1.cluster AS BIGINT) AS probe_cluster, e.vec_id AS nid,
       |       ${cosDistSql("e.v", "q.qv")} AS dist
       |FROM e JOIN s1 ON s1.vec_id = e.vec_id
       |       JOIN best ON s1.cluster = best.cluster, q
       |WHERE e.vec_id <> 0
       |ORDER BY dist, e.vec_id
       |LIMIT 5""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds = seedCentroids(emb)
    // physical index: one assignment pass + partitioned write; the dir is
    // keyed by applicationId + sf dir so concurrent harness processes
    // never race on the same build/overwrite
    val indexDir = s"/tmp/graft_ivf/${spark.sparkContext.applicationId}/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    IvfIndex.build(emb, seeds, indexDir)
    probeTop5(spark, emb, seeds, indexDir, 1)
  }

  /** nprobe=2 variant of [[ivfPruned]]: the probe widens to the two
    * nearest clusters and the partition filter becomes a literal `IN` —
    * still file-pruned (recall/latency knob with the same plan shape).
    */
  val ivfNprobe: QueryDef = QueryDef.sql(
    "q_ivf_nprobe",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1),
       |qd AS (SELECT i, embedding[i] AS qx
       |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i) WHERE vec_id = 0),
       |cd AS (SELECT c0.cluster,
       |              CAST(sum(CAST(floor((qd.qx - c0.c) * (qd.qx - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM c0 JOIN qd ON qd.i = c0.i GROUP BY 1),
       |best AS (SELECT cluster FROM cd ORDER BY d2, cluster LIMIT 2),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT CAST(s1.cluster AS BIGINT) AS probe_cluster, e.vec_id AS nid,
       |       ${cosDistSql("e.v", "q.qv")} AS dist
       |FROM e JOIN s1 ON s1.vec_id = e.vec_id
       |       JOIN best ON s1.cluster = best.cluster, q
       |WHERE e.vec_id <> 0
       |ORDER BY dist, e.vec_id
       |LIMIT 5""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds = seedCentroids(emb)
    // own index dir: gate queries run concurrently, never share a sink
    val indexDir = s"/tmp/graft_ivf_np/${spark.sparkContext.applicationId}/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    IvfIndex.build(emb, seeds, indexDir)
    probeTop5(spark, emb, seeds, indexDir, 2)
  }

  /** One Lloyd centroid UPDATE: exact per-dim means of each cluster's
    * members (2^52 quantization), re-assembled into dim-ordered centroid
    * arrays `(cluster, cv)`. Shared by [[kmeans]] and [[ivfKmeans]].
    */
  private[graft] def lloydUpdate(emb: org.apache.spark.sql.DataFrame,
                                 asg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    asg.join(emb, "vec_id")
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("cluster"), col("i0"), floor(col("x") * S52d).cast("long").as("ix"))
      .groupBy("cluster", "i0")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("i0"), col("c")))),
        e => e.getField("c")).as("cv"))

  /** k-means (Lloyd), 2 iterations, k=8, deterministic seeds (vec_id
    * 0..7) — the clustering step of corpus curation (topic balancing,
    * IVF codebook training). Exact cross-engine by construction:
    * distances are Σ floor((x−c)²·2^45) BIGINTs ([[graft.functions.QuantizedL2Expr]],
    * order-independent integer sums), centroid means use the 2^52
    * quantization of [[centroids]], and argmin ties break on cluster id.
    *
    * Scale shape: assignment is a BROADCAST of the k×dim centroid matrix
    * against the vector table (no explode of the data side, distance in
    * one codegen loop per row×cluster); only the centroid UPDATE explodes
    * to (cluster, dim) — the same shuffle as [[centroids]]. Clusters that
    * lose all members drop out (standard Lloyd; deterministic here).
    */
  val kmeans: QueryDef = QueryDef.sql(
    "q_kmeans",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x,
       |                  CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1),
       |c1 AS (SELECT s1.cluster, ed.i, CAST(sum(ed.ix) AS DOUBLE) / $S52 / count(*) AS c
       |       FROM ed JOIN s1 ON s1.vec_id = ed.vec_id GROUP BY 1, 2),
       |a2 AS (SELECT ed.vec_id, c1.cluster,
       |              CAST(sum(CAST(floor((ed.x - c1.c) * (ed.x - c1.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c1 ON c1.i = ed.i GROUP BY 1, 2)
       |SELECT vec_id, cluster, d2 FROM (
       |  SELECT vec_id, cluster, d2,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |  FROM a2) WHERE rn = 1""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    def assign(cents: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cluster").asc)
      emb.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cluster"),
          QuantizedL2Expr.column(col("embedding"), col("cv"), 45).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cluster"), col("d2"))
    }
    val cent0 = seedCentroids(emb)
    val asg1 = assign(cent0).drop("d2")
    assign(lloydUpdate(emb, asg1))
  }

  /** The `q_ivf_kmeans` trained codebook as a standalone frame — the
    * artifact a training session hands to [[graft.pipelines.ModelArtifacts
    * .saveCentroids]] so probe sessions never re-run the Lloyd chain
    * (ModelArtifactsSpec pins save → load → probe bit-for-bit against
    * the in-session path).
    */
  private[graft] def ivfCodebook(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds0 = seedCentroids(emb)
    lloydUpdate(emb, IvfIndex.assign(emb, seeds0))
  }

  /** The full production ANN path in one query: TRAIN a codebook (one
    * Lloyd update from the seeds — the `q_kmeans` math), BUILD the
    * physical index partitioned by the trained assignment, PROBE the
    * query's nearest trained centroid with file-level pruning, re-rank
    * by exact cosine. `q_kmeans`, `q_ivf_pruned` and this query chain
    * the same verified pieces; here they compose end-to-end, the way a
    * real corpus index is actually operated (train → layout → serve).
    */
  val ivfKmeans: QueryDef = QueryDef.sql(
    "q_ivf_kmeans",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x,
       |                  CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1),
       |c1 AS (SELECT s1.cluster, ed.i, CAST(sum(ed.ix) AS DOUBLE) / $S52 / count(*) AS c
       |       FROM ed JOIN s1 ON s1.vec_id = ed.vec_id GROUP BY 1, 2),
       |a2 AS (SELECT ed.vec_id, c1.cluster,
       |              CAST(sum(CAST(floor((ed.x - c1.c) * (ed.x - c1.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c1 ON c1.i = ed.i GROUP BY 1, 2),
       |s2 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a2) WHERE rn = 1),
       |qd AS (SELECT i, embedding[i] AS qx
       |       FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i) WHERE vec_id = 0),
       |cd AS (SELECT c1.cluster,
       |              CAST(sum(CAST(floor((qd.qx - c1.c) * (qd.qx - c1.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM c1 JOIN qd ON qd.i = c1.i GROUP BY 1),
       |best AS (SELECT cluster FROM cd ORDER BY d2, cluster LIMIT 1),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT CAST(s2.cluster AS BIGINT) AS probe_cluster, e.vec_id AS nid,
       |       ${cosDistSql("e.v", "q.qv")} AS dist
       |FROM e JOIN s2 ON s2.vec_id = e.vec_id
       |       JOIN best ON s2.cluster = best.cluster, q
       |WHERE e.vec_id <> 0
       |ORDER BY dist, e.vec_id
       |LIMIT 5""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds0 = seedCentroids(emb)
    // the trained codebook is k×dim (KB-sized at any corpus size) but its
    // LINEAGE is the whole Lloyd chain; localCheckpoint materializes the
    // training once so the index build and the probe-side collect don't
    // each re-run it (was ~2 extra train executions per query).
    // Trade-off: localCheckpoint stores to executor-local blocks — lost
    // executors mean a failed query, not a recompute. Right for a
    // single-JVM bench; a 1000-executor deployment would swap this one
    // call for a reliable checkpoint (or cache + count) and keep the
    // same plan shape.
    val cent1 = lloydUpdate(emb, IvfIndex.assign(emb, seeds0)).localCheckpoint()
    val indexDir = s"/tmp/graft_ivf_km/${spark.sparkContext.applicationId}/${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    IvfIndex.build(emb, cent1, indexDir)
    probeTop5(spark, emb, cent1, indexDir, 1)
  }

  /** Nearest-centroid classifier eval over the fixture's `label`
    * column: per-label centroids (exact 2^52 means — the
    * [[lloydUpdate]] math, seeded by the TRUE labels), every vector
    * assigned to its nearest centroid by exact integer-quantized L2,
    * output = the confusion matrix. This is the embedding-space
    * cluster-quality measurement a curation run uses to decide whether
    * labels (domains, topics, sources) are separable before stratifying
    * on them — and, like every eval here, it is oracle-checked rather
    * than asserted. Assignment = broadcast k×dim against the scan; the
    * data side never shuffles to be classified.
    */
  val centroidClassify: QueryDef = QueryDef.sql(
    "q_centroid_classify",
    s"""WITH ed AS (SELECT label, vec_id, i, embedding[i] AS x,
       |                  CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |cent AS (SELECT label AS clabel, i, CAST(sum(ix) AS DOUBLE) / $S52 / count(*) AS c
       |         FROM ed GROUP BY 1, 2),
       |a AS (SELECT ed.vec_id, ed.label, cent.clabel,
       |             CAST(sum(CAST(floor((ed.x - cent.c) * (ed.x - cent.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |      FROM ed JOIN cent ON cent.i = ed.i GROUP BY 1, 2, 3),
       |pred AS (SELECT vec_id, label, clabel AS pred FROM (
       |           SELECT vec_id, label, clabel,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
       |           FROM a) WHERE rn = 1)
       |SELECT CAST(label AS BIGINT) AS label, CAST(pred AS BIGINT) AS pred, count(*) AS n
       |FROM pred GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    // label centroids = one Lloyd update seeded by the true labels
    val cents = lloydUpdate(emb.select(col("vec_id"), col("embedding")),
      emb.select(col("vec_id"), col("label").as("cluster")))
      .select(col("cluster").as("clabel"), col("cv"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("clabel").asc)
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        QuantizedL2Expr.column(col("embedding"), col("cv"), 45).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label").cast("long").as("label"),
        col("clabel").cast("long").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Embedding-space outlier detection — the OOD gate a curation run
    * applies before trusting embeddings downstream: assign every vector
    * to its nearest seed centroid (quantized-L2 argmin, d2 KEPT), fence
    * each cluster at its exact nearest-rank p95 distance (the
    * `q_median` order-statistic discipline — integer d2, ties to lower
    * vec_id), and count members beyond the fence. Everything is
    * integer-exact: no variance, no sqrt, no tolerance. Assignment is
    * the broadcast k×dim pattern; the fence is one window per cluster
    * over (d2, vec_id).
    */
  val embedOutliers: QueryDef = QueryDef.sql(
    "q_embed_outliers",
    s"""WITH ed AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
       |            FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster, d2 FROM (
       |         SELECT vec_id, cluster, d2,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1),
       |r AS (SELECT cluster, vec_id, d2,
       |             row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS rn,
       |             count(*) OVER (PARTITION BY cluster) AS n
       |      FROM s1),
       |f AS (SELECT cluster, CAST(max(n) AS BIGINT) AS n_vecs,
       |             max(CASE WHEN rn = (n * 95 + 99) // 100 THEN d2 END) AS fence_d2
       |      FROM r GROUP BY cluster)
       |SELECT f.cluster, f.n_vecs, f.fence_d2,
       |       CAST(sum(CASE WHEN s1.d2 > f.fence_d2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM s1 JOIN f ON f.cluster = s1.cluster
       |GROUP BY f.cluster, f.n_vecs, f.fence_d2""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds = seedCentroids(emb)
    val wv = Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cluster").asc)
    val s1 = emb.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("cluster"),
        QuantizedL2Expr.column(col("embedding"), col("cv"), 45).as("d2"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("d2"))
    val wc = Window.partitionBy(col("cluster")).orderBy(col("d2").asc, col("vec_id").asc)
    val wn = Window.partitionBy(col("cluster"))
    val f = s1
      .withColumn("crn", row_number().over(wc))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("cluster").as("fcluster"))
      .agg(max(col("n")).as("n_vecs"),
        // integral DIV, not a truncated double quotient: exact at any
        // per-group cardinality (double loses the low bits past ~2^46)
        max(when(col("crn") === expr("(n * 95 + 99) DIV 100"), col("d2")))
          .as("fence_d2"))
    s1.join(broadcast(f), col("fcluster") === col("cluster"))
      .groupBy(col("cluster"), col("n_vecs"), col("fence_d2"))
      .agg(sum(when(col("d2") > col("fence_d2"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Cluster SEPARATION, the complement of [[centroidSpread]]'s
    * cohesion: for every label cluster, the squared L2 distance to its
    * nearest OTHER centroid and the Davies-Bouldin-style ratio
    * (spread_i + spread_j) / d(i,j) — the number that says whether two
    * clusters have collapsed into each other (ratio high) or are
    * genuinely distinct (low). The partition/shuffle shape: one
    * per-dim centroid aggregate over the corpus (same as
    * [[centroids]]), then everything downstream — the k x k centroid
    * pair distances, the nearest-other argmin, the ratio — runs on
    * k x Dim rows, broadcast-sized at ANY corpus scale. Determinism:
    * spreads and pair distances accumulate on the 2^45 integer grid
    * (exact, order-independent); the single ratio division happens
    * once, in the same op order in both engines, then floors onto a
    * 2^20 grid.
    */
  val clusterSeparation: QueryDef = QueryDef.sql(
    "q_cluster_separation",
    s"""WITH $CentCte,
       |sp AS (SELECT ed.label, count(DISTINCT ed.vec_id) AS n_vecs,
       |              CAST(sum(CAST(floor((ed.x - cent.c) * (ed.x - cent.c) * $S45) AS BIGINT)) AS BIGINT) AS sumt
       |       FROM ed JOIN cent ON cent.label = ed.label AND cent.i = ed.i
       |       GROUP BY ed.label),
       |cd AS (SELECT c1.label AS label, c2.label AS olabel,
       |              CAST(sum(CAST(floor((c1.c - c2.c) * (c1.c - c2.c) * $S45) AS BIGINT)) AS BIGINT) AS d2q
       |       FROM cent c1 JOIN cent c2 ON c2.i = c1.i AND c2.label <> c1.label
       |       GROUP BY 1, 2),
       |nr AS (SELECT label, olabel, d2q FROM (
       |         SELECT label, olabel, d2q,
       |                row_number() OVER (PARTITION BY label ORDER BY d2q, olabel) AS rn
       |         FROM cd) WHERE rn = 1)
       |SELECT nr.label, CAST(s1.n_vecs AS BIGINT) AS n_vecs,
       |       nr.olabel AS nearest_label, nr.d2q AS d2q,
       |       CAST(floor((CAST(s1.sumt AS DOUBLE) / $S45 / s1.n_vecs
       |                   + CAST(s2.sumt AS DOUBLE) / $S45 / s2.n_vecs)
       |                  / (CAST(nr.d2q AS DOUBLE) / $S45) * 1048576.0) AS BIGINT) AS db_q
       |FROM nr
       |JOIN sp s1 ON s1.label = nr.label
       |JOIN sp s2 ON s2.label = nr.olabel""".stripMargin) { (spark, dir) =>
    val ed = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("label"), col("vec_id"), (col("i0") + 1).as("i"), col("x"),
        floor(col("x") * S52d).cast("long").as("ix"))
    val cent = ed.groupBy("label", "i")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
    val centC = cent.withColumnRenamed("label", "clabel").withColumnRenamed("i", "ci")
    val sp = ed.join(centC, col("clabel") === col("label") && col("ci") === col("i"))
      .select(col("label"), col("vec_id"),
        floor((col("x") - col("c")) * (col("x") - col("c")) * S45d).cast("long").as("t"))
      .groupBy("label")
      .agg(countDistinct(col("vec_id")).as("n_vecs"), sum(col("t")).as("sumt"))
    val c2 = cent.select(col("label").as("olabel"), col("i").as("oi"), col("c").as("oc"))
    val cd = cent.join(broadcast(c2), col("oi") === col("i") && col("olabel") =!= col("label"))
      .select(col("label"), col("olabel"),
        floor((col("c") - col("oc")) * (col("c") - col("oc")) * S45d).cast("long").as("t"))
      .groupBy("label", "olabel")
      .agg(sum(col("t")).as("d2q"))
    val nr = cd
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("d2q").asc, col("olabel").asc)))
      .filter(col("rn") === 1)
      .select(col("label"), col("olabel"), col("d2q"))
    val s1 = sp.select(col("label").as("l1"), col("n_vecs"), col("sumt").as("sum1"))
    val s2 = sp.select(col("label").as("l2"), col("n_vecs").as("n2"), col("sumt").as("sum2"))
    nr.join(broadcast(s1), col("l1") === col("label"))
      .join(broadcast(s2), col("l2") === col("olabel"))
      .select(col("label"), col("n_vecs"),
        col("olabel").as("nearest_label"), col("d2q"),
        floor((col("sum1").cast("double") / S45d / col("n_vecs")
          + col("sum2").cast("double") / S45d / col("n2"))
          / (col("d2q").cast("double") / S45d) * 1048576.0).cast("long").as("db_q"))
  }

  /** Per-label centroid DRIFT between two deterministic corpus halves
    * (vec_id parity = "snapshot A" vs "snapshot B") — the
    * embedding-space drift monitor a re-embedding or model-update
    * pipeline checks before mixing vectors from two encoder runs: a
    * large squared centroid shift for a label means the two halves do
    * NOT come from the same distribution and ANN indexes / SemDeDup
    * thresholds tuned on A are stale for B. Same exactness recipe as
    * `q_centroid_spread`: per-dim sums on the 2^52 integer grid, the
    * one double division per (label, dim, half) in fixed op order,
    * squared diffs floor-quantized to 2^45 then summed as BIGINTs.
    * SCALE: one corpus reduce to labels x dims x 2 rows; all the diff
    * algebra runs on that broadcast-sized table.
    */
  val embedDrift: QueryDef = QueryDef.sql(
    "q_embed_drift",
    s"""WITH ed AS (SELECT vec_id % 2 AS half, label, i,
       |                   CAST(floor(embedding[i] * $S52) AS BIGINT) AS ix
       |            FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c AS (SELECT label, i, half, CAST(sum(ix) AS DOUBLE) / $S52 / count(*) AS c
       |      FROM ed GROUP BY label, i, half),
       |cnt AS (SELECT label, vec_id % 2 AS half, CAST(count(*) AS BIGINT) AS n
       |        FROM embeddings GROUP BY 1, 2),
       |t AS (SELECT a.label,
       |             CAST(floor((a.c - b.c) * (a.c - b.c) * $S45) AS BIGINT) AS tq
       |      FROM c a JOIN c b ON a.label = b.label AND a.i = b.i
       |       AND a.half = 0 AND b.half = 1)
       |SELECT t.label, na.n AS n_a, nb.n AS n_b,
       |       CAST(sum(t.tq) AS DOUBLE) / $S45 AS drift2
       |FROM t JOIN cnt na ON na.label = t.label AND na.half = 0
       |       JOIN cnt nb ON nb.label = t.label AND nb.half = 1
       |GROUP BY t.label, na.n, nb.n""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val ed = emb
      .select((col("vec_id") % 2).as("half"), col("label"),
        posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("half"), col("label"), (col("i0") + 1).cast("long").as("i"),
        floor(col("x") * S52d).cast("long").as("ix"))
    val c = ed.groupBy("label", "i", "half")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
    val cnt = emb.groupBy(col("label"), (col("vec_id") % 2).as("half"))
      .agg(count(lit(1)).as("n"))
    val a = c.filter(col("half") === 0)
      .select(col("label").as("alabel"), col("i").as("ai"), col("c").as("ca"))
    val b = c.filter(col("half") === 1)
      .select(col("label").as("blabel"), col("i").as("bi"), col("c").as("cb"))
    val t = a.join(b, col("alabel") === col("blabel") && col("ai") === col("bi"))
      .select(col("alabel").as("label"),
        floor((col("ca") - col("cb")) * (col("ca") - col("cb")) * S45d)
          .cast("long").as("tq"))
    val na = cnt.filter(col("half") === 0).select(col("label").as("nalabel"), col("n").as("n_a"))
    val nb = cnt.filter(col("half") === 1).select(col("label").as("nblabel"), col("n").as("n_b"))
    t.join(broadcast(na), col("nalabel") === col("label"))
      .join(broadcast(nb), col("nblabel") === col("label"))
      .groupBy(col("label"), col("n_a"), col("n_b"))
      .agg((sum(col("tq")).cast("double") / S45d).as("drift2"))
  }

  /** Quantized 1/log2(r+1) DCG weights for ranks 1..10 (×2^40) and
    * their sum (the ideal DCG for 10 binary-relevant results). FIXED
    * literals — no runtime libm call, so both engines share them by
    * construction.
    */
  private val DcgW = Seq(1099511627776L, 693714600361L, 549755813888L,
    473533883412L, 425349159792L, 391653944122L, 366503875925L,
    346857300180L, 330985980541L, 317830137717L)

  private val Idcg = DcgW.sum // 4995696323714

  /** RANKING-QUALITY eval of the 1-probe IVF search: nDCG@10 and MRR
    * against the exact brute-force top-10 per query — the standard
    * retrieval metrics next to the recall evals (`q_knn_recall`,
    * `q_pq_recall` measure set overlap; nDCG/MRR grade the ORDER the
    * approximate index returns). Relevance is binary (∈ exact top-10);
    * DCG terms use a fixed 2^40-quantized 1/log2(r+1) weight table, so
    * the whole metric is integer arithmetic — ndcg_bp = dcg·10⁴ DIV
    * ideal-DCG, rr_q20 = 2^20 DIV first-relevant-rank.
    *
    * SCALE: truth is the `q_ann_topk` brute-force shape (tiny query
    * batch broadcast, rank-limit pushed via WindowGroupLimit); the
    * approximate side touches only the probed label partition through
    * an equi-join. The metric join runs on ≤ 10×10 result rows.
    */
  val annNdcg: QueryDef = QueryDef.sql(
    "q_ann_ndcg",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 10),
       |tr AS (SELECT qid, vec_id AS nid,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY ${cosDistSql("v", "qv")}, vec_id) AS rank
       |       FROM e, q WHERE vec_id <> qid),
       |t AS (SELECT qid, nid FROM tr WHERE rank <= 10),
       |ar AS (SELECT q.qid, e.vec_id AS nid,
       |              row_number() OVER (PARTITION BY q.qid
       |                                 ORDER BY ${cosDistSql("e.v", "q.qv")}, e.vec_id) AS rank
       |       FROM e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.qid),
       |a10 AS (SELECT * FROM ar WHERE rank <= 10),
       |rel AS (SELECT a.qid, a.rank,
       |               CASE WHEN t.nid IS NULL THEN 0 ELSE 1 END AS rel
       |        FROM a10 a LEFT JOIN t ON t.qid = a.qid AND t.nid = a.nid),
       |m AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
       |             CAST(sum(rel * ([${DcgW.mkString(", ")}])[rank]) AS BIGINT) AS dcg,
       |             CAST(coalesce(min(CASE WHEN rel = 1 THEN rank END), 0) AS BIGINT) AS fr
       |      FROM rel GROUP BY qid)
       |SELECT qid, n_rel,
       |       CAST((dcg * 10000) // $Idcg AS BIGINT) AS ndcg_bp,
       |       CAST(CASE WHEN fr = 0 THEN 0 ELSE 1048576 // fr END AS BIGINT) AS rr_q20
       |FROM m""".stripMargin) { (spark, dir) =>
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("nid").asc)
    val t = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineDistance(col("embedding"), col("qv")).as("dist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select(col("qid").as("tqid"), col("nid").as("tnid"))
    val a10 = e.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineDistance(col("embedding"), col("qv")).as("dist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
    val wlit = array(DcgW.map(lit): _*)
    val rel = a10.join(t, col("tqid") === col("qid") && col("tnid") === col("nid"), "left")
      .select(col("qid"), col("rank"),
        when(col("tnid").isNull, 0L).otherwise(1L).as("rel"))
    rel.groupBy("qid").agg(
        sum("rel").cast("long").as("n_rel"),
        sum(col("rel") * element_at(wlit, col("rank"))).cast("long").as("dcg"),
        coalesce(min(when(col("rel") === 1, col("rank"))), lit(0)).cast("long").as("fr"))
      .select(col("qid"), col("n_rel"),
        expr(s"CAST((dcg * 10000) DIV $Idcg AS BIGINT)").as("ndcg_bp"),
        expr("CAST(CASE WHEN fr = 0 THEN 0 ELSE 1048576 DIV fr END AS BIGINT)").as("rr_q20"))
  }

  /** SIMPLIFIED SILHOUETTE per label cluster — the third member of the
    * cluster-quality triad ([[centroidSpread]] = cohesion,
    * [[clusterSeparation]] = Davies-Bouldin separation, this =
    * per-POINT assignment quality): for every vector, a = squared L2 to
    * its OWN centroid, b = min squared L2 to any OTHER centroid,
    * s = (b−a)/max(a,b) ∈ [−1,1] (negative ⇒ the point sits closer to a
    * foreign centroid — a mis-clustered point the other two metrics
    * average away). Reported per label: n, mean, min, max of s in Q20.
    * Determinism: per-dim squared terms floor onto the 2^45 grid and
    * sum as exact integers; the one division per point happens on those
    * exact integers in the same op order in both engines.
    *
    * SCALE: the point×centroid distance table is N·k rows AFTER partial
    * aggregation (the N·Dim·k join input combines map-side; centroids
    * are k·Dim, broadcast); everything past it is a per-point reduce
    * then a k-row aggregate. This is the brute-force silhouette shape —
    * linear in N with a k·Dim constant, the honest cost of the metric.
    */
  val silhouette: QueryDef = QueryDef.sql(
    "q_silhouette",
    s"""WITH $CentCte,
       |d AS (SELECT ed.vec_id, ed.label, cent.label AS olabel,
       |             CAST(sum(CAST(floor((ed.x - cent.c) * (ed.x - cent.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |      FROM ed JOIN cent ON cent.i = ed.i
       |      GROUP BY 1, 2, 3),
       |ab AS (SELECT vec_id, label,
       |              max(CASE WHEN olabel = label THEN d2 END) AS a,
       |              min(CASE WHEN olabel <> label THEN d2 END) AS b
       |       FROM d GROUP BY 1, 2),
       |s AS (SELECT vec_id, label,
       |             CAST(floor(CAST(b - a AS DOUBLE) / greatest(a, b, CAST(1 AS BIGINT))
       |                        * 1048576) AS BIGINT) AS s_q20
       |      FROM ab)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(floor(CAST(sum(s_q20) AS DOUBLE) / count(*)) AS BIGINT) AS mean_s_q20,
       |       CAST(min(s_q20) AS BIGINT) AS min_s_q20,
       |       CAST(max(s_q20) AS BIGINT) AS max_s_q20
       |FROM s GROUP BY 1""".stripMargin) { (spark, dir) =>
    // ed feeds the centroid build AND the distance join — one explode
    // pass (durability: lineage-severed, non-replicated)
    val ed = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select(col("label"), col("vec_id"), (col("i0") + 1).as("i"), col("x"))
      .localCheckpoint()
    val cent = ed
      .select(col("label"), col("i"), floor(col("x") * S52d).cast("long").as("ix"))
      .groupBy("label", "i")
      .agg((sum(col("ix").cast("decimal(38,0)")).cast("double") / S52d / count(lit(1))).as("c"))
      .select(col("label").as("olabel"), col("i"), col("c"))
    val d = ed.join(broadcast(cent), "i")
      .select(col("vec_id"), col("label"), col("olabel"),
        floor((col("x") - col("c")) * (col("x") - col("c")) * S45d).cast("long").as("t"))
      .groupBy("vec_id", "label", "olabel").agg(sum("t").as("d2"))
    val ab = d.groupBy("vec_id", "label")
      .agg(max(when(col("olabel") === col("label"), col("d2"))).as("a"),
        min(when(col("olabel") =!= col("label"), col("d2"))).as("b"))
    ab.select(col("label"),
        floor((col("b") - col("a")).cast("double")
          / greatest(col("a"), col("b"), lit(1L)) * 1048576).cast("long").as("s_q20"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        // floor of a double quotient, NOT integer DIV: s_q20 sums can be
        // negative, where Spark's DIV truncates toward zero but DuckDB's
        // // floors — the one engine-semantics divergence in this family
        expr("CAST(floor(CAST(sum(s_q20) AS DOUBLE) / count(*)) AS BIGINT)").as("mean_s_q20"),
        min("s_q20").as("min_s_q20"), max("s_q20").as("max_s_q20"))
  }

  /** LOCAL INTRINSIC DIMENSIONALITY (MLE of Levina & Bickel / the LID
    * of Houle et al.) per query point from its exact k-NN distance
    * profile: LID = −k / Σᵢ ln(dᵢ/dₖ). Low LID ⇒ the neighborhood lies
    * near a low-dimensional manifold and ANN indexes will do well; high
    * LID ⇒ distances concentrate and pruning stops working — the
    * complement of `q_knn_hubness` (which diagnoses the GRAPH, this
    * diagnoses the GEOMETRY). Determinism: each ln ratio floors onto
    * the 2^40 grid before the per-query integer sum; the final
    * −k·2^40/Σ division runs once on exact integers, then floors to
    * Q20. SCALE: the brute-force distance table is the `q_ann_topk`
    * shape (tiny broadcast query side × partitioned vectors,
    * per-query window top-k), then k-bounded per-query math.
    */
  val annLid: QueryDef = QueryDef.sql(
    "q_ann_lid",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |d AS (SELECT qid, vec_id AS nid, ${cosDistSql("v", "qv")} AS dist
       |      FROM e, q WHERE vec_id <> qid),
       |r AS (SELECT qid, nid, dist,
       |             row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       |      FROM d WHERE dist > 0),
       |topk AS (SELECT qid, dist, rank FROM r WHERE rank <= 16),
       |dk AS (SELECT qid, max(dist) AS dk FROM topk GROUP BY 1),
       |terms AS (SELECT t.qid,
       |                 CAST(floor(ln(t.dist / dk.dk) * 1099511627776) AS BIGINT) AS t_q40
       |          FROM topk t JOIN dk USING (qid)),
       |agg AS (SELECT qid, CAST(sum(t_q40) AS BIGINT) AS s_q40, count(*) AS k
       |        FROM terms GROUP BY 1)
       |SELECT a.qid, CAST(a.k AS BIGINT) AS k, dk.dk,
       |       CAST(floor((CAST(-a.k AS DOUBLE) * 1099511627776 / a.s_q40) * 1048576)
       |            AS BIGINT) AS lid_q20
       |FROM agg a JOIN dk USING (qid) WHERE a.s_q40 < 0""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("vec_id").asc)
    val topk = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist", cosineDistance(col("embedding"), col("qv")))
      .filter(col("dist") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 16)
      .select(col("qid"), col("dist"))
    val dk = topk.groupBy("qid").agg(max("dist").as("dk"))
    val agg = topk.join(broadcast(dk), "qid")
      .select(col("qid"),
        floor(log(col("dist") / col("dk")) * lit(1099511627776.0)).cast("long").as("t_q40"))
      .groupBy("qid")
      .agg(sum("t_q40").cast("long").as("s_q40"), count(lit(1)).as("k"))
    agg.join(broadcast(dk), "qid").filter(col("s_q40") < 0)
      .select(col("qid"), col("k").cast("long").as("k"), col("dk"),
        floor((-col("k")).cast("double") * lit(1099511627776.0) / col("s_q40")
          * lit(1048576.0)).cast("long").as("lid_q20"))
  }

  /** FILTERED ANN — label-constrained top-5 for 10 queries, two ways:
    * PRE-FILTER (restrict to the label, then rank — the correct
    * answer, and at scale the reason metadata must live in the index
    * as a partition/bucket key) vs POST-FILTER (take the global
    * top-20, then keep the label — the cheap pattern that silently
    * loses recall when the constraint is selective). Reported per
    * query: candidate pool size, post-filter hits against the
    * pre-filter truth, and recall in bp. The recall loss GROWS as the
    * label's share of the corpus shrinks — and the fixture DEMONSTRATES
    * the cliff: with ~10 labels (each ~10% of the corpus) the global
    * top-20 holds few same-label vectors, and measured post-filter
    * recall averages ~40% with one query at 0% — the number that
    * forbids post-filtering for selective constraints. SCALE: one
    * broadcast-queries cosine pass (the `q_ann_topk` shape) feeding
    * three qid-keyed windows — no second scan for the second
    * strategy.
    */
  val filteredAnn: QueryDef = QueryDef.sql(
    "q_filtered_ann",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, label AS tgt, v AS qv FROM e WHERE vec_id < 10),
       |d AS (SELECT qid, tgt, e.vec_id AS nid, e.label AS lbl,
       |             ${cosDistSql("e.v", "q.qv")} AS dist
       |      FROM e, q WHERE e.vec_id <> q.qid),
       |r AS (SELECT qid, tgt, nid, lbl, dist,
       |             row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rg,
       |             row_number() OVER (PARTITION BY qid, lbl ORDER BY dist, nid) AS rl
       |      FROM d),
       |truth AS (SELECT qid, nid FROM r WHERE lbl = tgt AND rl <= 5),
       |post AS (SELECT qid, nid FROM (
       |           SELECT qid, nid,
       |                  row_number() OVER (PARTITION BY qid ORDER BY rg) AS rp
       |           FROM r WHERE rg <= 20 AND lbl = tgt) p WHERE rp <= 5),
       |pool AS (SELECT qid, count(*) AS n_label FROM r WHERE lbl = tgt GROUP BY qid),
       |hits AS (SELECT t.qid, count(p.nid) AS hits, count(*) AS n_truth
       |         FROM truth t LEFT JOIN post p ON p.qid = t.qid AND p.nid = t.nid
       |         GROUP BY t.qid)
       |SELECT q.qid, q.tgt AS target_label,
       |       CAST(pool.n_label AS BIGINT) AS n_label,
       |       CAST(hits.n_truth AS BIGINT) AS n_truth,
       |       CAST(hits.hits AS BIGINT) AS hits,
       |       CAST(hits.hits * 10000 // hits.n_truth AS BIGINT) AS recall_bp
       |FROM q JOIN pool ON pool.qid = q.qid JOIN hits ON hits.qid = q.qid""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("tgt"), col("embedding").as("qv"))
    val d = emb.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("tgt"), col("vec_id").as("nid"), col("label").as("lbl"),
        cosineDistance(col("embedding"), col("qv")).as("dist"))
    val wg = Window.partitionBy("qid").orderBy(col("dist"), col("nid"))
    val wl = Window.partitionBy("qid", "lbl").orderBy(col("dist"), col("nid"))
    val r = d.withColumn("rg", row_number().over(wg))
      .withColumn("rl", row_number().over(wl))
    val truth = r.filter(col("lbl") === col("tgt") && col("rl") <= 5)
      .select(col("qid"), col("nid"))
    val post = r.filter(col("rg") <= 20 && col("lbl") === col("tgt"))
      .withColumn("rp", row_number().over(Window.partitionBy("qid").orderBy("rg")))
      .filter(col("rp") <= 5).select(col("qid").as("pqid"), col("nid").as("pnid"))
    val pool = r.filter(col("lbl") === col("tgt"))
      .groupBy("qid").agg(count(lit(1)).as("n_label"))
    // recall denominator is the ACTUAL truth-set size per query (≤ 5):
    // a label with fewer than 5 same-label neighbors would make a
    // hardcoded /5 misreport recall as forever under 100% even when post-filter
    // found every truth row
    val hits = truth
      .join(post, col("pqid") === col("qid") && col("pnid") === col("nid"), "left")
      .groupBy("qid").agg(count(col("pnid")).as("hits"), count(lit(1)).as("n_truth"))
    qs.select(col("qid"), col("tgt").as("target_label"))
      .join(pool, "qid").join(hits, "qid")
      .select(col("qid"), col("target_label"), col("n_label"), col("n_truth"),
        col("hits"), expr("hits * 10000 DIV n_truth").as("recall_bp"))
  }

  /** ARTIFACT-BACKED IVF serving — `q_ivf_kmeans` split at
    * the deployment seam: TRAIN the codebook, PERSIST it
    * ([[graft.pipelines.ModelArtifacts.saveCentroids]]), then build the
    * physical index AND answer the probe entirely from the LOADED
    * artifact — the reference's build-once serve-many shape
    * (multirag.c:359 reads the prebuilt index at startup;
    * build-vector-db-from-server.c:69-75 is the build job). The oracle
    * is `q_ivf_kmeans`'s SQL verbatim, so the driver's hash gate
    * demands the artifact round-trip be EXACT (doubles through parquet
    * — bit-preserving). Training executes exactly ONCE here: the
    * artifact write is the materialization barrier (the role the
    * localCheckpoint plays in `q_ivf_kmeans`), and both the probe-side
    * collect and the index build read the parquet copy. SCALE: the
    * artifact is k×dim at any corpus size; index build is one
    * broadcast-assignment write; the probe scans only the matched
    * partition (partition pruning — the `q_ivf_pruned` evidence).
    */
  val ivfProbeArtifact: QueryDef = QueryDef.sql(
    "q_ivf_probe_artifact",
    ivfKmeans.oracle.get) { (spark, dir) =>
    val base = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    graft.pipelines.ModelArtifacts.saveCentroids(spark,
      ivfCodebook(spark, dir), s"$base/ivf_centroids.parquet")
    val loaded = graft.pipelines.ModelArtifacts
      .loadCentroids(spark, s"$base/ivf_centroids.parquet")
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    IvfIndex.build(emb, loaded, s"$base/ivf_idx")
    probeTop5(spark, emb, loaded, s"$base/ivf_idx", 1)
  }

  /** nprobe>1 over the LOADED artifact:
    * `q_ivf_probe_artifact` proved the persisted-codebook serve path at
    * nprobe=1, but the knob users actually turn on a serving IVF is
    * nprobe — this twin widens the loaded-centroid probe to the two
    * nearest clusters, `IN`-pruned at the partition filter exactly like
    * the in-session `q_ivf_nprobe` (whose oracle SQL it reuses
    * verbatim, so the driver's hash gate proves save→load→nprobe-serve
    * is bit-identical to training in-session). Uses the same seed
    * centroids as `q_ivf_nprobe` (vec_id 0..7): the artifact under test
    * is the PERSISTENCE seam, not a different codebook. SCALE: the
    * loaded frame is k×dim at any corpus size; widening nprobe scans
    * nprobe/k of the corpus files — the recall/latency trade stays
    * file-pruned, never a full scan (reference contrast:
    * vector-db.c:165-168 always scans everything).
    */
  val ivfNprobeArtifact: QueryDef = QueryDef.sql(
    "q_ivf_nprobe_artifact",
    ivfNprobe.oracle.get) { (spark, dir) =>
    val base = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val seeds = seedCentroids(emb)
    graft.pipelines.ModelArtifacts.saveCentroids(spark, seeds,
      s"$base/ivf_np_centroids.parquet")
    val loaded = graft.pipelines.ModelArtifacts
      .loadCentroids(spark, s"$base/ivf_np_centroids.parquet")
    IvfIndex.build(emb, loaded, s"$base/ivf_np_idx")
    probeTop5(spark, emb, loaded, s"$base/ivf_np_idx", 2)
  }

  /** Serve a batch of queries `(qid, qv)` from the IVF index at
    * `indexDir` built with codebook `centroids` `(cluster, cv)`: the
    * top-`k` neighbours `(qid, rank, nid, dist)` of each query.
    *
    *   1. Each query is routed to its `nprobe` nearest clusters against
    *      the broadcast k-row codebook (quantized L2, ties to the lower
    *      cluster id; the per-query top-nprobe is a window over k rows).
    *   2. The probed-cluster set (≤ queries·nprobe ids, ≤ nlist) is
    *      collected to the driver and becomes a literal `IN` partition
    *      filter, so only the probed clusters' files are read.
    *   3. Candidates are the probed members of each query's clusters
    *      (queries broadcast), scored by the codegen cosine kernel, and
    *      the top-k per query is rank-over-(dist, nid), which Spark runs
    *      as WindowGroupLimit. A query never matches itself
    *      (`nid <> qid`).
    */
  def servedTopK(queries: DataFrame, centroids: DataFrame, indexDir: String,
                 k: Int, nprobe: Int): DataFrame = {
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("cluster"),
        QuantizedL2Expr.column(col("qv"), col("cv"), 45).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("cluster"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cluster"))
    val clusters = probes.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSeq
    IvfIndex.probe(queries.sparkSession, indexDir, clusters)
      .join(broadcast(probes), "cluster")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosineDistance(col("embedding"), col("qv")).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), col("dist"))
  }

  /** BATCHED IVF serving — [[servedTopK]] as an oracle-gated registry
    * query: FOUR query vectors
    * (vec_id 0..3) each routed to their nprobe=2 nearest clusters and
    * served top-5 from the partition-pruned index in ONE plan (the
    * single-query `q_ivf_nprobe` generalizes to a query BATCH — the
    * shape a serving fleet actually runs: per-trigger batches, not one
    * driver round-trip per query; reference contrast: one full-table
    * scan per REPL query, vector-db.c:165-168). The DuckDB oracle
    * replays assignment, routing, exclusion and ranking in SQL, so the
    * driver's hash gate proves the whole serving algebra — quantized-L2
    * routing, self-match exclusion, (dist, nid) tie-break — bit-exact
    * cross-engine. SCALE: routing fans each query over the k-row
    * broadcast codebook; the probe reads nprobe/nlist of the index
    * files (IvfIndexSpec pins the literal partition filter); the
    * per-query top-5 is rank-over-(dist,nid) = WindowGroupLimit, and
    * every per-qid partition is one probed cluster's members, never
    * the corpus.
    */
  val annServeBatch: QueryDef = QueryDef.sql(
    "q_ann_serve_batch",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c0 ON c0.i = ed.i GROUP BY 1, 2),
       |rk AS (SELECT vec_id, cluster,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |       FROM a1),
       |s1 AS (SELECT vec_id, cluster FROM rk WHERE rn = 1),
       |qp AS (SELECT vec_id AS qid, cluster FROM rk WHERE rn <= 2 AND vec_id < 4),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id < 4),
       |cand AS (SELECT q.qid, e.vec_id AS nid, ${cosDistSql("e.v", "q.qv")} AS dist
       |         FROM e JOIN s1 ON s1.vec_id = e.vec_id
       |                JOIN qp ON qp.cluster = s1.cluster
       |                JOIN q ON q.qid = qp.qid
       |         WHERE e.vec_id <> q.qid),
       |rkd AS (SELECT qid, nid, dist,
       |               CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |        FROM cand)
       |SELECT qid, rank, nid, dist FROM rkd WHERE rank <= 5""".stripMargin) {
    (spark, dir) =>
      val base = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val seeds = seedCentroids(emb)
      IvfIndex.build(emb, seeds, s"$base/serve_idx")
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      servedTopK(queries, seeds, s"$base/serve_idx", 5, 2)
  }

  /** One serving pipeline per index version for the [[annRotate]]
    * oracle: assignment (quantized L2 argmin over that version's seed
    * set), nprobe=2 routing, self-match exclusion, (dist, nid) ranking
    * — the `q_ann_serve_batch` algebra with version-suffixed CTEs.
    */
  private def rotateVersionCtes(tag: String): String =
    s"""a_$tag AS (SELECT ed.vec_id, c_$tag.cluster,
       |              CAST(sum(CAST(floor((ed.x - c_$tag.c) * (ed.x - c_$tag.c) * $S45) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN c_$tag ON c_$tag.i = ed.i GROUP BY 1, 2),
       |rk_$tag AS (SELECT vec_id, cluster,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |       FROM a_$tag),
       |s1_$tag AS (SELECT vec_id, cluster FROM rk_$tag WHERE rn = 1),
       |qp_$tag AS (SELECT vec_id AS qid, cluster FROM rk_$tag WHERE rn <= 2 AND vec_id < 4),
       |cand_$tag AS (SELECT q.qid, e.vec_id AS nid, ${cosDistSql("e.v", "q.qv")} AS dist
       |         FROM e JOIN s1_$tag ON s1_$tag.vec_id = e.vec_id
       |                JOIN qp_$tag ON qp_$tag.cluster = s1_$tag.cluster
       |                JOIN q ON q.qid = qp_$tag.qid
       |         WHERE e.vec_id <> q.qid),
       |rkd_$tag AS (SELECT qid, nid, dist,
       |               CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rank
       |        FROM cand_$tag)""".stripMargin

  /** INDEX ROTATION, oracle-gated: the versioned-manifest
    * serving path as a registry query — publish v1 (seeds = vec_id<8),
    * serve a query batch THROUGH THE MANIFEST POINTER, publish v2 (a
    * retrain with seeds = vec_id 8..15), serve the same batch again;
    * output is both batches tagged with the version that served them.
    * The pointer is read back via [[graft.operators.IvfIndex
    * .currentVersion]] after each publish — so the driver's hash gate
    * proves the atomic-swap read path AND both versions' full serving
    * algebra (assignment, routing, pruned probe, ranking) bit-exact
    * cross-engine. SCALE: identical to `q_ann_serve_batch` per
    * version — k-row codebook broadcasts, the probe reads nprobe/nlist of the files,
    * WindowGroupLimit top-k; the manifest read is one tiny driver-side
    * file per serve. Old versions stay intact on disk, so in-flight
    * plans against the previous pointer stay consistent.
    */
  val annRotate: QueryDef = QueryDef.sql(
    "q_ann_rotate",
    s"""WITH ed AS (SELECT vec_id, i, embedding[i] AS x
       |           FROM embeddings, UNNEST(range(1, ${Dim + 1})) t(i)),
       |c_v1 AS (SELECT vec_id AS cluster, i, x AS c FROM ed WHERE vec_id < 8),
       |c_v2 AS (SELECT vec_id AS cluster, i, x AS c FROM ed
       |         WHERE vec_id >= 8 AND vec_id < 16),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id < 4),
       |${rotateVersionCtes("v1")},
       |${rotateVersionCtes("v2")}
       |SELECT 'v1' AS index_version, qid, rank, nid, dist FROM rkd_v1 WHERE rank <= 5
       |UNION ALL
       |SELECT 'v2', qid, rank, nid, dist FROM rkd_v2 WHERE rank <= 5""".stripMargin) {
    (spark, dir) =>
      val base = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_") + "/rotate"
      // duplicate-subtree elimination: the rotation runs TWO full
      // publishes + serves over the same corpus, and every consumer
      // (per-version assign fan-out, index-write join, seed filters,
      // query frames) would replay the embedding scan; one
      // materialization feeds them all (durability: lineage-severed —
      // a failed publish restarts the query).
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      def seeds(pred: org.apache.spark.sql.Column) = emb.filter(pred)
        .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv"))
      // ONE argmin fan-out for BOTH versions: the two
      // codebooks differ only in seed set, so one assign over the 16
      // version-tagged seeds, grouped by (vec_id, ver), computes both
      // assignments in a single corpus pass — identical values to the
      // per-version assign (same kernel, evaluated per version tag).
      val taggedSeeds = emb.filter(col("vec_id") < 16)
        .select(when(col("vec_id") < 8, lit("v1")).otherwise(lit("v2")).as("ver"),
          col("vec_id").as("cluster"), col("embedding").as("cv"))
      val asgBoth = IvfIndex.assign(emb, taggedSeeds, by = Seq("ver")).localCheckpoint()
      def asgFor(ver: String) = asgBoth.filter(col("ver") === ver).drop("ver")
      // serve through the POINTER, never a hard-coded version path —
      // the read-back is the thing under test
      def serveCurrent() = {
        val ver = IvfIndex.currentVersion(spark, base)
        val cents = spark.read.parquet(s"$base/$ver/centroids")
        servedTopK(queries, cents, s"$base/$ver/index", 5, 2)
          .withColumn("index_version", lit(ver))
      }
      IvfIndex.publishVersion(emb, seeds(col("vec_id") < 8), base, "v1",
        Some(asgFor("v1")))
      val r1 = serveCurrent()
      // the "retrain": new codebook, full rebuild, atomic pointer swap
      IvfIndex.publishVersion(emb,
        seeds(col("vec_id") >= 8 && col("vec_id") < 16), base, "v2",
        Some(asgFor("v2")))
      val r2 = serveCurrent()
      r1.unionByName(r2)
        .select(col("index_version"), col("qid"), col("rank"), col("nid"), col("dist"))
  }

  val all: Seq[QueryDef] = Seq(
    annTopk, centroids, centroidSpread, ivfTopk, ivfPruned, ivfNprobe, kmeans, ivfKmeans,
    centroidClassify, embedOutliers, clusterSeparation, embedDrift, annNdcg, silhouette, annLid,
    filteredAnn, ivfProbeArtifact, ivfNprobeArtifact, annServeBatch, annRotate)
}
