package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-ninth batch. */
class CurationSpec29 extends SparkSpec {

  test("norm_dedup: every derived case/punct variant collapses onto its source") {
    val row = graft.queries.DedupQueries.normDedup.fn(spark, sf0001).head()
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val variants = docs.count(_._1 % 13 == 0).toLong
    assert(row.getLong(0) == docs.length + variants)
    assert(row.getLong(1) == docs.length + variants, "raw distinct includes variants")
    assert(row.getLong(2) == docs.length.toLong, "every variant must collapse")
    assert(row.getLong(3) == variants)
  }

  test("filter_kappa: exact recompute against both filters' own verdicts") {
    val row = graft.queries.QualityQueries.filterKappa.fn(spark, sf0001).head()
    val gopher = graft.queries.QualityQueries.gopherRules.fn(spark, sf0001)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) == 1L)).toMap
    val quality = graft.queries.QualityQueries.qualityFilter.fn(spark, sf0001)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val n = gopher.size
    val kk = gopher.count { case (id, g) => g && quality(id) }.toLong
    val kd = gopher.count { case (id, g) => g && !quality(id) }.toLong
    val dk = gopher.count { case (id, g) => !g && quality(id) }.toLong
    val dd = gopher.count { case (id, g) => !g && !quality(id) }.toLong
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)) ==
      ((kk, kd, dk, dd)), "2x2 table")
    assert(row.getLong(5) == (kk + dd) * 10000 / n)
    val pe = (kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)
    assert(row.getLong(6) == ((kk + dd) * n - pe) * 10000 / math.max(n.toLong * n - pe, 1L))
    // kappa is bounded and, on this fixture, positive but weak — the
    // "agreement is mostly chance" diagnostic the metric exists for
    assert(row.getLong(6) > -10000 && row.getLong(6) < 10000)
  }
}
