package graft

import org.apache.spark.sql.functions._

/** Invariants of the eighth batch beyond the oracle gate — each query's
  * result is recomputed independently in driver-side Scala from the raw
  * fixture, so the distributed plan is checked against a second
  * implementation, not just against itself.
  */
class CurationSpec8 extends SparkSpec {

  private def morton(x: Long, y: Long): Long =
    (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zorder_layout: exact Scala recompute of zone maps and probe pricing") {
    val rows = graft.queries.MixingQueries.zorderLayout.fn(spark, sf0001)
      .orderBy("probe_id").collect()
    assert(rows.length == 8)
    val li = Tables(spark, sf0001, "lineitem")
      .select(col("l_partkey").cast("long"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (minp, maxp) = (li.map(_._1).min, li.map(_._1).max)
    val (mins, maxs) = (li.map(_._2).min, li.map(_._2).max)
    val g = li.map { case (p, s) =>
      (Math.floorDiv((p - minp) * 255, math.max(maxp - minp, 1)),
        Math.floorDiv((s - mins) * 255, math.max(maxs - mins, 1)))
    }
    def envelopes(fileOf: ((Long, Long)) => Long) =
      g.groupBy(fileOf).view.mapValues { pts =>
        (pts.map(_._1).min, pts.map(_._1).max, pts.map(_._2).min, pts.map(_._2).max)
      }.toMap
    val zf = envelopes { case (x, y) => morton(x, y) / 1024 }
    val lf = envelopes { case (x, _) => x / 4 }
    for (r <- rows) {
      val (dim, lo, hi) = (r.getString(1), r.getLong(2), r.getLong(3))
      def hits(env: Map[Long, (Long, Long, Long, Long)]) = env.values.count {
        case (minx, maxx, miny, maxy) =>
          if (dim == "part") maxx >= lo && minx <= hi else maxy >= lo && miny <= hi
      }
      assert(r.getLong(4) == hits(zf), s"files_z probe ${r.getLong(0)}")
      assert(r.getLong(5) == hits(lf), s"files_lex probe ${r.getLong(0)}")
      val rh = g.count { case (x, y) =>
        if (dim == "part") x >= lo && x <= hi else y >= lo && y <= hi
      }
      assert(r.getLong(6) == rh, s"rows_hit probe ${r.getLong(0)}")
    }
    // the layout story itself: lex layout cannot prune the non-sort
    // dimension (all files hit) while z-order prunes both dimensions
    val supp = rows.filter(_.getString(1) == "supp")
    assert(supp.forall(r => r.getLong(5) == lf.size), "lex layout must hit every file on supp probes")
    assert(supp.forall(r => r.getLong(4) < r.getLong(5)), "z-order must prune supp probes")
  }

  test("snm_blocking: candidate set equals the naive within-w rank pairs") {
    val rows = graft.queries.LinkageQueries.snmBlocking.fn(spark, sf0001)
      .orderBy("ida", "idb").collect()
    assert(rows.nonEmpty)
    // ranks recomputed naively: global sort by (first-3-token prefix, doc_id)
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val rank = docs
      .map { case (id, t) => (id, t.split(" ", -1).take(3).mkString(" ")) }
      .sortBy { case (id, sk) => (sk, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val shingle: Map[Long, Set[String]] = docs.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val naive = for {
      (a, ra) <- rank.toSeq; (b, rb) <- rank.toSeq
      if rb > ra && rb - ra <= 4
      inter = (shingle(a) & shingle(b)).size
      jac = inter.toDouble / (shingle(a).size + shingle(b).size - inter)
      if jac >= 0.2
    } yield (a, b, rb - ra, jac)
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq.sorted == naive.sorted,
      "SNM pairs must equal the naive sorted-window + Jaccard recompute")
  }

  test("repeated_spans: brute-force island recompute; spans are maximal") {
    val rows = graft.queries.DedupQueries.repeatedSpans.fn(spark, sf0001)
      .orderBy("rank").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    // duplicated 8-gram start positions, cross-document
    val grams = docs.flatMap { case (id, tk) =>
      (0 to tk.length - 8).map(i => (tk.slice(i, i + 8).mkString(" "), id, i + 1L))
    }
    val crossDoc = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.length >= 2).keySet
    val spans = docs.flatMap { case (id, tk) =>
      val ps = (0 to tk.length - 8).map(i => (tk.slice(i, i + 8).mkString(" "), i + 1L))
        .collect { case (gm, p) if crossDoc(gm) => p }
      // merge consecutive positions into islands
      ps.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.map { case (s, e) => (id, s, e - s + 8) }
    }
    val expect = spans.sortBy { case (id, s, len) => (-len, id, s) }.take(rows.length)
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == expect.toSeq,
      "top spans must match the brute-force island merge")
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
  }
}
