package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-eighth batch (embedding anisotropy). */
class CurationSpec28 extends SparkSpec {

  test("embed_anisotropy: exact recompute; fixture space is near-isotropic unit-norm") {
    val row = graft.queries.VectorQueries.embedAnisotropy.fn(spark, sf0001).head()
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("embedding")).collect()
      .map(_.getSeq[Any](0).toArray.map(_.toString.toDouble))
    val n = vecs.length
    val dim = vecs.head.length
    val s52 = 4503599627370496.0
    val s45 = 35184372088832.0
    val a = (0 until dim).map { i =>
      val m = vecs.map(v => math.floor(v(i) * s52).toLong).sum.toDouble / s52 / n
      math.floor(m * m * s45).toLong
    }.sum
    val b = (0 until dim).map { i =>
      vecs.map(v => math.floor(v(i) * v(i) * s45).toLong).sum / n
    }.sum
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == a, "mean_norm2_q45")
    assert(row.getLong(2) == b, "avg_norm2_q45")
    assert(row.getLong(3) == a * 10000 / math.max(b, 1L))
    // the fixture's vectors are L2-normalized: E||v||^2 within 1% of 1.0
    assert(math.abs(b - s45.toLong) < s45.toLong / 100, s"avg_norm2 $b")
    // and near-isotropic: well under 5% of energy in the mean direction
    assert(row.getLong(3) < 500, s"anisotropy ${row.getLong(3)}")
  }
}
