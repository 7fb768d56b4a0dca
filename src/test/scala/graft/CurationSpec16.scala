package graft

import org.apache.spark.sql.functions._

/** Invariants of the sixteenth batch beyond the oracle gate: the
  * winnowing guarantee and density bound recomputed in driver-side
  * Scala, readability's integer algebra, and the NB classifier's
  * confusion-matrix accounting.
  */
class CurationSpec16 extends SparkSpec {

  private val Mod = 1000000007L

  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % Mod)

  /** Reference winnowing: positional 3-shingle hashes, distinct minima
    * of every 4-window (single global min when fewer than 4 hashes).
    */
  private def winnowRef(text: String): (Seq[Long], Int) = {
    val toks = text.split(" ", -1)
    val m = toks.length - 2
    if (m < 1) return (Seq.empty, 0)
    val hs = (0 until m).map(i => polyHash(toks.slice(i, i + 3).mkString(" ")))
    val wins =
      if (m >= 4) (0 to m - 4).map(j => hs.slice(j, j + 4).min)
      else Seq(hs.min)
    (wins.distinct, wins.length)
  }

  test("winnow kernel matches the reference fold on every fixture doc") {
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val kernel = Tables(spark, sf0001, "documents")
      .select(col("doc_id"),
        graft.functions.HashExpressions.winnowFast(split(col("text"), " "), 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, text) <- docs) {
      val (expect, _) = winnowRef(text)
      assert(kernel(id).sorted == expect.sorted, s"doc $id")
    }
  }

  test("winnowing guarantee: docs sharing a >= w+n-1 token run share a fingerprint") {
    // any shared substring of >= 6 tokens (w+n-1 = 4+3-1) must put at
    // least one common hash in both selected sets — the MOSS theorem
    // the overlap query's recall rests on
    val shared = "alpha beta gamma delta epsilon zeta"
    val a = s"one two $shared three four"
    val b = s"nine $shared eight seven six five"
    val (fa, _) = winnowRef(a)
    val (fb, _) = winnowRef(b)
    assert(fa.toSet.intersect(fb.toSet).nonEmpty)
  }

  test("winnow density sits near the theoretical 2/(w+1)") {
    val rows = graft.queries.DedupQueries.winnow.fn(spark, sf0001).collect()
    val nw = rows.map(_.getLong(2)).sum
    val nf = rows.map(_.getLong(3)).sum
    assert(nw > 0 && nf > 0)
    val density = nf.toDouble / nw
    // expectation for random hashes is 2/(w+1) = 0.4 per WINDOW count
    // basis; distinct-collapse pulls it below, long runs above — the
    // fixture should land in a broad band around it
    assert(density > 0.15 && density < 0.75, s"density $density")
  }

  test("readability: exact integer recompute on the fixture head") {
    val got = graft.queries.QualityQueries.readability.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = Tables(spark, sf0001, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1)
    for ((src, ds) <- bySrc) {
      val stats = ds.map { case (_, t) =>
        val w = t.split(" ", -1).length.toLong
        val s = t.split("[.!?]+", -1).count(_.trim.nonEmpty).toLong
        val y = t.toLowerCase.split("[^aeiou]+", -1).count(_.nonEmpty).toLong
        val gc = math.max(39 * w / math.max(s, 1) + 1180 * y / math.max(w, 1) - 1559, 0L)
        (w, s, y, gc)
      }
      val (gw, gs, gy, gg, _) = (got(src)._2, got(src)._3, got(src)._4, got(src)._5, got(src)._1)
      assert(got(src)._1 == ds.length.toLong, s"n_docs $src")
      assert(gw == stats.map(_._1).sum, s"words $src")
      assert(gs == stats.map(_._2).sum, s"sentences $src")
      assert(gy == stats.map(_._3).sum, s"syllables $src")
      assert(gg == stats.map(_._4).sum / ds.length, s"grade $src")
    }
  }

  test("nb_lang: confusion rows cover the held-out split; learned beats chance") {
    val rows = graft.queries.QualityQueries.nbLang.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val testDocs = Tables(spark, sf0001, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 0)
    val nTest = testDocs.count()
    val perLang = testDocs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every held-out doc lands in exactly one confusion cell
    assert(rows.map(_._3).sum == nTest)
    // row sums reproduce the actual-label distribution
    val rowSums = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(rowSums == perLang)
    // NEGATIVE FINDING, pinned: the fixture's lang labels are assigned
    // independently of the token stream (all langs draw from one
    // synthetic vocabulary), so NO text classifier can clear chance by
    // a wide margin here — the same diagnostic shape as silhouette's
    // "labels barely separate" result. The mechanism check is the
    // accounting above plus not-collapsing-below-chance; the oracle
    // gate pins the argmax arithmetic exactly.
    val correct = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(correct.toDouble / nTest > 0.1, s"accuracy ${correct.toDouble / nTest}")
  }
}
