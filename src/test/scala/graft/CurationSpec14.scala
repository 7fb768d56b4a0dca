package graft

import org.apache.spark.sql.functions._

/** Invariants of the fourteenth batch beyond the oracle gate — each
  * query's result is recomputed independently in driver-side Scala
  * from the raw fixture, so the distributed plan is checked against a
  * second implementation, not just against itself.
  */
class CurationSpec14 extends SparkSpec {

  private def morton(x: Long, y: Long): Long =
    (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  /** The classic quadrant-rotation Hilbert xy→d (grid 256). */
  private def hilbert(x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val (nx, ny) = if (rx == 1) (255 - y, 255 - x) else (y, x)
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }

  test("hilbert_layout: exact Scala recompute; Hilbert out-prunes Morton in total") {
    // sf0.01: the curve comparison needs dense-enough grid occupancy —
    // at sf0.001 only ~9% of cells are hit and file envelopes are
    // sampling noise, not curve geometry (60k rows collect fine)
    val sf001 = "/root/testdata/sf0.01"
    val rows = graft.queries.MixingQueries.hilbertLayout.fn(spark, sf001)
      .orderBy("probe_id").collect()
    assert(rows.length == 8)
    val li = Tables(spark, sf001, "lineitem")
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
    val hf = envelopes { case (x, y) => hilbert(x, y) * 100 / 65536 }
    val zf = envelopes { case (x, y) => morton(x, y) * 100 / 65536 }
    for (r <- rows) {
      val (dim, lo, hi) = (r.getString(1), r.getLong(2), r.getLong(3))
      def hits(env: Map[Long, (Long, Long, Long, Long)]) = env.values.count {
        case (minx, maxx, miny, maxy) =>
          if (dim == "part") maxx >= lo && minx <= hi else maxy >= lo && miny <= hi
      }
      assert(r.getLong(4) == hits(hf), s"files_h probe ${r.getLong(0)}")
      assert(r.getLong(5) == hits(zf), s"files_z probe ${r.getLong(0)}")
    }
    // the layout story: under an UNALIGNED (100-file) split, Hilbert's
    // connected key runs give tighter file boxes than Morton's
    // diagonal-jumping runs — strictly fewer total file hits
    assert(rows.map(_.getLong(4)).sum < rows.map(_.getLong(5)).sum,
      "Hilbert must out-prune Morton across the probe set")
  }

  test("kneser_ney: exact Scala recompute of the smoothed top-30") {
    val rows = graft.queries.TextStatsQueries.kneserNey.fn(spark, sf0001).collect()
    assert(rows.length == 30)
    val docs = Tables(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0).split(" ", -1))
    val bigrams = docs.flatMap(tk => tk.dropRight(1).zip(tk.drop(1)))
    val cb = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = cb.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1b = cb.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val tt = cb.size.toLong
    val expect = cb.toSeq
      .sortBy { case ((w1, w2), c) => (-c, w1, w2) }.take(30)
      .map { case ((w1, w2), c12) =>
        val pml = Math.floorDiv((4 * c12 - 3) * 1048576L, 4 * c1(w1))
        val lam = Math.floorDiv(3 * n1f(w1) * 1048576L, 4 * c1(w1))
        val pc = Math.floorDiv(n1b(w2) * 1048576L, tt)
        (w1, w2, c12, pml + Math.floorDiv(lam * pc, 1048576L), lam, pc)
      }
    val got = rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expect, "KN table must match the Scala recompute")
    // probabilities are probabilities: every smoothed estimate in (0, 1]
    assert(got.forall(r => r._4 > 0 && r._4 <= 1048576L))
  }

  test("source_dup_matrix: brute-force simhash pairs grouped by source") {
    val rows = graft.queries.DecontamQueries.sourceDupMatrix.fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def polyHashMul(s: String, mul: Int): Long =
      s.foldLeft(0L)((h, c) => (h * mul + c) % 1000000007L)
    // 60-bit dual-family signature (round 10: the graph consumers ride
    // the wide family) — 31-multiplier votes in the low 30 bits,
    // 37-multiplier in the high 30
    val sig = docs.map { case (id, text, src) =>
      val toks = text.split(" ", -1)
      def vote(mul: Int, shift: Int): Long = {
        val hs = toks.map(polyHashMul(_, mul))
        (0 until 30).map { i =>
          val ones = hs.count(h => ((h >> i) & 1L) == 1L)
          if (2 * ones > hs.length) 1L << (shift + i) else 0L
        }.sum
      }
      (id, vote(31, 0) | vote(37, 30), src)
    }
    // all-pairs hamming <= 1 — the 2x30-bit band join catches exactly
    // this set by pigeonhole, so brute force is the full ground truth
    val pairs = for {
      (ia, sa, ra) <- sig; (ib, sb, rb) <- sig
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 1
    } yield (if (ra <= rb) (ra, rb) else (rb, ra))
    val m = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tot = m.values.sum
    val got = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == m.keySet, "source-pair cells must match")
    for ((k, n) <- m) {
      assert(got(k)._1 == n, s"n_pairs $k")
      assert(got(k)._2 == Math.floorDiv(n * 10000, tot), s"pair_share_bp $k")
    }
  }

  test("ttr_curve: exact Scala recompute; pooled TTR falls with length") {
    val rows = graft.queries.TextStatsQueries.ttrCurve.fn(spark, sf0001)
      .orderBy("bucket").collect()
    assert(rows.nonEmpty)
    val docs = Tables(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0).split(" ", -1))
    val per = docs.map(tk => (tk.length.toLong, tk.distinct.length.toLong))
    val buckets = per.groupBy { case (nt, _) => math.min(nt / 64, 7L) }
    assert(rows.length == buckets.size)
    for (r <- rows) {
      val b = buckets(r.getLong(0))
      val (nt, nd) = (b.map(_._1).sum, b.map(_._2).sum)
      assert(r.getLong(1) == b.length.toLong, s"n_docs bucket ${r.getLong(0)}")
      assert(r.getLong(2) == nt)
      assert(r.getLong(3) == Math.floorDiv(nd * 10000, nt))
      assert(r.getLong(4) == b.map { case (t, d) => Math.floorDiv(d * 10000, t) }.min)
      assert(r.getLong(5) == b.map { case (t, d) => Math.floorDiv(d * 10000, t) }.max)
    }
    // Heaps' law: pooled diversity declines as documents get longer
    val ttrs = rows.map(_.getLong(3))
    assert(ttrs.zip(ttrs.tail).forall { case (a, b) => b <= a },
      "pooled TTR must be non-increasing across length buckets")
  }
}
