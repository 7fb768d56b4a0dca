package graft

import org.apache.spark.sql.functions._

/** Invariants of the thirtieth batch. */
class CurationSpec30 extends SparkSpec {

  test("len_quality_corr: exact recompute; the fixture's diversity gate is length-confounded") {
    val row = graft.queries.QualityQueries.lenQualityCorr.fn(spark, sf0001).head()
    val stats = Tables(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0)).map { t =>
        val toks = t.split(" ", -1)
        val x = toks.length.toLong
        (x, toks.distinct.length.toLong * 10000 / x,
          toks.count(w => w == "a" || w == "the").toLong * 10000 / x)
      }
    val n = stats.length.toLong
    def r(xs: Seq[Long], ys: Seq[Long]): Long = {
      val (sx, sy) = (xs.sum, ys.sum)
      val sxx = xs.map(v => v * v).sum; val syy = ys.map(v => v * v).sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      math.floor((n * sxy - sx * sy) * 10000.0 /
        math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)).toLong
    }
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == r(stats.map(_._1), stats.map(_._2)), "r(len, diversity)")
    assert(row.getLong(2) == r(stats.map(_._1), stats.map(_._3)), "r(len, stopword)")
    // the pinned finding: on a finite synthetic vocabulary, TTR-style
    // diversity is strongly ANTI-correlated with length (~-0.94) — the
    // diversity gate doubles as a length gate, which is precisely the
    // confound this audit exists to expose before shipping a filter
    assert(row.getLong(1) < -7000, s"diversity-length confound vanished: ${row.getLong(1)}")
    assert(math.abs(row.getLong(2)) < 5000, "stopword rate should be near length-free")
  }
}
