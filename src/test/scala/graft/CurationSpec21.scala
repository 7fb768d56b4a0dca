package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-first batch (winnow containment eval). */
class CurationSpec21 extends SparkSpec {

  private val Mod = 1000000007L
  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % Mod)

  private def winnowSets(text: String): (Set[Long], Set[Long]) = {
    val toks = text.split(" ", -1)
    val m = toks.length - 2
    if (m < 1) return (Set.empty, Set.empty)
    val hs = (0 until m).map(i => polyHash(toks.slice(i, i + 3).mkString(" ")))
    val wins =
      if (m >= 4) (0 to m - 4).map(j => hs.slice(j, j + 4).min)
      else Seq(hs.min)
    (wins.toSet, hs.toSet)
  }

  test("winnow_containment: exact recompute; totals agree with q_winnow_overlap") {
    val rows = graft.queries.DecontamQueries.winnowContainment.fn(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sets = docs.map { case (id, t) => id -> winnowSets(t) }.toMap
    // inverted fp index, df-capped [2,64], shared >= 3 candidates
    val inv = sets.toSeq.flatMap { case (id, (fp, _)) => fp.map(f => (f, id)) }
      .groupBy(_._1).filter(g => g._2.length >= 2 && g._2.length <= 64)
    val shared = inv.values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 3)
    val expect = shared.toSeq.map { case ((a, b), s) =>
      val (fa, sa) = sets(a); val (fb, sb) = sets(b)
      val est = s * 10000 / math.min(fa.size, fb.size)
      val exact = sa.intersect(sb).size.toLong * 10000 / math.min(sa.size, sb.size)
      (est - exact) / 500 -> (est, exact)
    }.groupBy(_._1)
    assert(rows.keySet == expect.keySet, s"buckets ${rows.keySet} vs ${expect.keySet}")
    for ((bucket, grp) <- expect) {
      val (n, avgEst, avgExact) = rows(bucket)
      assert(n == grp.length.toLong, s"bucket $bucket n_pairs")
      assert(avgEst == grp.map(_._2._1).sum / grp.length, s"bucket $bucket est")
      assert(avgExact == grp.map(_._2._2).sum / grp.length, s"bucket $bucket exact")
    }
    // cross-query consistency: the candidate universe is q_winnow_overlap's
    val overlapTotal = graft.queries.DedupQueries.winnowOverlap.fn(spark, sf0001)
      .agg(sum("n_pairs")).head().getLong(0)
    assert(rows.values.map(_._1).sum == overlapTotal,
      "containment eval must score exactly the overlap candidates")
  }
}
