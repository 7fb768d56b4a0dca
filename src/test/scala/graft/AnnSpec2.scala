package graft

import org.apache.spark.sql.functions._

/** Invariants of the filtered-ANN eval. */
class AnnSpec2 extends SparkSpec {

  test("lloydUpdate: Q52 centroid sums survive clusters past the long headroom") {
    // round-12 regression, found by the 1000x decade probe: a cluster's
    // per-dim Q52 sum wraps a long once members exceed ~2^63/2^52 ≈ 2048
    // at |x| ≈ 1 (ANSI mode throws ARITHMETIC_OVERFLOW — the x1000
    // replica's 625k-member clusters died). The sum must accumulate as
    // DECIMAL(38,0) — exact to ~2^126, matching the oracle's HUGEINT
    // promotion (the q_embed_anisotropy discipline). 3000 members of
    // value 1.0 exceed the long headroom; the mean must come back as
    // exactly 1.0 (the sum 3000·2^52 has 13 significant bits — double-
    // representable, so the division chain is exact).
    val n = 3000
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array(lit(1.0), lit(1.0)).as("embedding"))
    val asg = spark.range(n).select(col("id").as("vec_id"), lit(0L).as("cluster"))
    val cents = graft.queries.AnnQueries.lloydUpdate(emb, asg).collect()
    assert(cents.length == 1)
    assert(cents(0).getSeq[Double](1) == Seq(1.0, 1.0),
      s"overflow-corrupted centroid: ${cents(0)}")
  }

  test("filtered_ann: post-filter recall never beats pre-filter; accounting exact") {
    val rows = graft.queries.AnnQueries.filteredAnn.fn(spark, sf0001)
      .orderBy("qid").collect()
    assert(rows.length == 10)
    val labelCounts = Tables.embeddings(spark, sf0001)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qLabels = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 10)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (r <- rows) {
      val (qid, tgt, n, nTruth, hits, bp) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))
      assert(tgt == qLabels(qid))
      // pool excludes the query itself when it shares the label
      assert(n == labelCounts(tgt) - 1)
      // the truth set is the same-label top-5 — smaller only when the
      // label itself has fewer than 5 other members
      assert(nTruth == math.min(5L, n))
      // recall divides by the ACTUAL truth count, so 100% is reachable
      // even for starved labels (the advisor's denominator fix)
      assert(hits >= 0 && hits <= nTruth && bp == hits * 10000 / nTruth)
    }
    // the fixture's ~10%-selective labels starve the global top-20:
    // the mean post-filter recall must sit clearly below perfect —
    // the measured cliff this query exists to expose
    val mean = rows.map(_.getLong(5)).sum / rows.length
    assert(mean < 9000, s"post-filter recall suspiciously perfect ($mean bp)")
  }
}
