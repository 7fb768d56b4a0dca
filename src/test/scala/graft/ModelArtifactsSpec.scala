package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Cross-session artifact round-trips: train once, WRITE the artifact,
  * LOAD it back, and pin that inference over the loaded artifact equals
  * the in-session training path exactly — the deployment shape where a
  * training job and its inference consumers never share a JVM.
  */
class ModelArtifactsSpec extends SparkSpec {

  test("quality weights: save -> load -> score equals q_quality_logreg exactly") {
    import graft.queries.QualityQueries.{featuresOf, learnedWeights, verdicts, weightsLit}
    val path = Files.createTempDirectory("qweights").toString + "/w.parquet"
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    val w = learnedWeights(featuresOf(docs))
    graft.pipelines.ModelArtifacts.saveWeights(spark, w.toSeq, path)
    val loaded = graft.pipelines.ModelArtifacts.loadWeights(spark, path)
    assert(loaded.sameElements(w), "weights must round-trip bit-for-bit")
    // a "different session" consumer: the batch scorer fed the LOADED
    // artifact must equal the registry inference query
    val got = verdicts(featuresOf(docs), weightsLit(loaded.toSeq, "spec"))
    val want = SparkEntry.queries("q_quality_logreg")(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("ivf codebook: save -> load -> probe equals q_ivf_kmeans exactly") {
    // the build-once serve-many split for the coarse quantizer: the
    // probe session builds its index and answers from the LOADED
    // centroid artifact, never re-running the Lloyd chain
    val path = Files.createTempDirectory("ivfart").toString + "/centroids.parquet"
    val trained = graft.queries.AnnQueries.ivfCodebook(spark, sf0001)
    graft.pipelines.ModelArtifacts.saveCentroids(spark, trained, path)
    val loaded = graft.pipelines.ModelArtifacts.loadCentroids(spark, path)
    // doubles must round-trip bit-for-bit (IEEE754 through parquet)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cluster").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toList
    assert(canon(loaded) == canon(trained), "centroids must round-trip exactly")
    // serve from the artifact: index build + nearest-centroid probe +
    // exact re-rank, the q_ivf_kmeans tail, fed ONLY by `loaded`
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val indexDir = Files.createTempDirectory("ivfserve").toString + "/idx"
    graft.operators.IvfIndex.build(emb, loaded, indexDir)
    val qvec = emb.filter(col("vec_id") === 0).head().getSeq[Double](1)
    val best = graft.operators.IvfIndex.nearestClusters(loaded, qvec, 1)
    val qlit = array(qvec.map(lit): _*)
    val got = graft.operators.IvfIndex.probe(spark, indexDir, best)
      .filter(col("vec_id") =!= 0)
      .withColumn("dist",
        graft.functions.VectorFunctions.cosineDistance(col("embedding"), qlit))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(5)
      .select(col("cluster").cast("long").as("probe_cluster"),
        col("vec_id").as("nid"), col("dist"))
    val want = SparkEntry.queries("q_ivf_kmeans")(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "loaded-artifact probe must equal the in-session train+probe path")
  }

  test("pq codebook: save -> load -> encode equals q_pq_codes exactly") {
    val path = Files.createTempDirectory("pqart").toString + "/codebook.parquet"
    val emb = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val sub = graft.queries.VectorQueries.subspaces(emb)
    val trained = graft.queries.VectorQueries.codebookOf(sub)
    graft.pipelines.ModelArtifacts.savePqCodebook(spark, trained, path)
    val loaded = graft.pipelines.ModelArtifacts.loadPqCodebook(spark, path)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cm", "code").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toList)).toList
    assert(canon(loaded.select(col("cm"), col("code"), col("cv")))
      == canon(trained.select(col("cm"), col("code"), col("cv"))),
      "PQ codebook must round-trip exactly")
    val got = graft.queries.VectorQueries.pqAssignWith(sub, loaded)
    val want = SparkEntry.queries("q_pq_codes")(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "loaded-codebook encode must equal the in-session encode")
  }

  test("quality weights artifact query: hash-identical to q_quality_logreg") {
    val got = SparkEntry.queries("q_quality_score_artifact")(spark, sf0001)
    val want = SparkEntry.queries("q_quality_logreg")(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "artifact-backed scoring must equal in-session scoring")
  }

  test("kcenter coreset: save -> load round-trips; loaded centers certify coverage") {
    val path = Files.createTempDirectory("coreset").toString + "/coreset.parquet"
    val want = SparkEntry.queries("q_kcenter_coreset")(spark, sf0001)
    graft.pipelines.ModelArtifacts.saveCoreset(spark, want, path)
    val loaded = graft.pipelines.ModelArtifacts.loadCoreset(spark, path)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("step").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(canon(loaded) == canon(want), "coreset must round-trip exactly")
    // SERVE from the artifact: fetch center vectors by id (the
    // id-selector convention — k-row semi-join against the corpus) and
    // check the 2-approximation certificate the artifact carries: every
    // point's nearest-center distance is <= the final pick's radius
    // (greedy farthest-first picks the WORST point each round, so the
    // last radius bounds all remaining points)
    val q20 = 1048576.0
    val emb = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * lit(q20)).cast("long")).as("e"))
    val centers = emb.join(loaded.select(col("picked").as("vec_id")), "vec_id")
      .collect().map(_.getSeq[Long](1).toArray)
    val mind = centers.map(c =>
      aggregate(zip_with(col("e"), typedLit(c.toSeq),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, b) => a + b))
      .reduce(least(_, _))
    val maxMin = emb.agg(max(mind)).collect()(0).getLong(0)
    val lastRadius = canon(loaded).last._3
    assert(maxMin <= lastRadius,
      s"coverage certificate violated: max min-dist $maxMin > radius $lastRadius")
  }

  test("trajectory determinism: memo-cleared retrain reproduces identical weights") {
    // the memo's correctness precondition, checked directly: training
    // is a pure function of (dir, split) — clear the session memo,
    // retrain from scratch, demand bit-identical trajectories
    val w1 = SparkEntry.queries("q_quality_train")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    graft.queries.QualityQueries.clearSessionMemo()
    val w2 = SparkEntry.queries("q_quality_train")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    assert(w1.sameElements(w2), "retraining must be deterministic")
  }
}
