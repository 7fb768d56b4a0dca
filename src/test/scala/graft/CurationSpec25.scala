package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-fifth batch. */
class CurationSpec25 extends SparkSpec {

  private val Mod = 1000000007L
  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % Mod)

  private def grams(text: String, n: Int): Seq[Long] = {
    val toks = text.split(" ", -1)
    val m = toks.length - n + 1
    if (m < 1) Seq.empty
    else (0 until m).map(i => polyHash(toks.slice(i, i + n).mkString(" ")))
  }

  private def winnowed(hs: Seq[Long], w: Int): Set[Long] =
    if (hs.isEmpty) Set.empty
    else if (hs.length >= w) (0 to hs.length - w).map(j => hs.slice(j, j + w).min).toSet
    else Set(hs.min)

  test("winnow_decontam: exact recompute; sampled flags are a subset of exact") {
    val row = graft.queries.DecontamQueries.winnowDecontam.fn(spark, sf0001).head()
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val allSets = docs.map { case (id, t) => id -> grams(t, 8).distinct.toSet }.toMap
    val selSets = docs.map { case (id, t) => id -> winnowed(grams(t, 8), 4) }.toMap
    val df = allSets.values.flatten.groupBy(identity)
      .filter(_._2.size <= 64).keySet
    def capped(m: Map[Long, Set[Long]]) = m.view.mapValues(_.intersect(df)).toMap
    val (allC, selC) = (capped(allSets), capped(selSets))
    def trainH(m: Map[Long, Set[Long]]) =
      m.filter(_._1 % 5 != 0).values.flatten.toSet
    def flagged(m: Map[Long, Set[Long]], th: Set[Long]) =
      m.keys.filter(id => id % 5 == 0 && m(id).intersect(th).nonEmpty).toSet
    val exact = flagged(allC, trainH(allC))
    val sampled = flagged(selC, trainH(selC))
    assert(sampled.subsetOf(exact), "sampled flags must be a subset of exact flags")
    assert(row.getLong(0) == docs.count(_._1 % 5 == 0).toLong)
    assert(row.getLong(1) == exact.size.toLong, "exact_flagged")
    assert(row.getLong(2) == sampled.size.toLong, "winnow_flagged")
    assert(row.getLong(3) == (exact.size - sampled.size).toLong)
    assert(row.getLong(4) == sampled.size.toLong * 10000 / math.max(exact.size, 1))
    // index ratio near the theoretical 2/(w+1) = 0.4
    assert(row.getLong(5) > 2500 && row.getLong(5) < 5500, s"index_bp ${row.getLong(5)}")
  }

  test("format_detect: exact recompute of the routing") {
    val rows = graft.queries.QualityQueries.formatDetect.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = docs.map { case (id, src, t) =>
      val aug = t +
        (if (id % 7 == 2) " if (x == 1) { y = f(a[i]); } else { z[j] = g(); }" else "") +
        (if (id % 9 == 3) " 12 34 567 890 11 22 33 44 55 66 77 88 99 00 10 20" else "")
      val sym = aug.count("{}();=<>[]".contains(_)).toLong * 10000 / aug.length
      val dig = aug.count(_.isDigit).toLong * 10000 / aug.length
      val fmt = if (sym >= 200) "code" else if (dig >= 400) "numeric" else "prose"
      (src, fmt)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows == expect, s"got $rows expected $expect")
  }
}
