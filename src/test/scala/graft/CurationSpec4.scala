package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-6 batch that the oracle gate can't express:
  * brute-force recounts, rank-window shape, and cross-query consistency
  * (the IVF+PQ probe must agree with the standalone coarse assignment).
  */
class CurationSpec4 extends SparkSpec {

  test("oov rate: brute-force recount against the top-20 vocabulary") {
    val out = graft.queries.TextStatsQueries.oovRate.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text").collect()
    val counts = docs.flatMap(_.getString(1).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20).map(_._1).toSet
    for (r <- docs) {
      val toks = r.getString(1).split(" ")
      val oov = toks.count(!vocab.contains(_)).toLong
      val (n, nOov, bp) = out(r.getLong(0))
      assert(n == toks.length && nOov == oov, s"doc ${r.getLong(0)}")
      assert(bp == oov * 10000L / toks.length, s"bp doc ${r.getLong(0)}")
    }
  }

  test("dup-ngram fraction: every doc emits one row with dup_bp in [0, 10000]") {
    val rows = graft.queries.TextStatsQueries.dupNgramFrac.fn(spark, sf0001).collect()
    val nDocs = Tables(spark, sf0001, "documents").count()
    assert(rows.length == nDocs)
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 10000))
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1))) // n_dup <= n_shingles
  }

  test("blocklist: hits equal a brute-force recount; keep iff zero hits") {
    val out = graft.queries.QualityQueries.blocklist.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val blocked = Set("slow", "crash", "deprecated")
    for (r <- Tables(spark, sf0001, "documents").select("doc_id", "text").collect()) {
      val toks = r.getString(1).split(" ")
      val (hits, terms, keep) = out(r.getLong(0))
      assert(hits == toks.count(blocked.contains).toLong)
      assert(terms == toks.distinct.count(blocked.contains).toLong)
      assert(keep == (hits == 0L))
    }
  }

  test("embedding dim stats: 64 rows; var nonnegative; min <= mean <= max") {
    val rows = graft.queries.VectorQueries.embedDimStats.fn(spark, sf0001).collect()
    assert(rows.length == 64)
    for (r <- rows) {
      val (mean, v, mn, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      // quantization puts the mean within one grid step of the true value,
      // so allow the bound to be loose by one ulp-scale epsilon
      assert(v >= -1e-9, s"dim ${r.getLong(0)} var $v")
      assert(mn <= mean + 1e-9 && mean <= mx + 1e-9, s"dim ${r.getLong(0)}")
    }
  }

  test("knn graph: ranks are 1..k per source, neighbors distinct, sim non-increasing") {
    val rows = graft.queries.NearDupQueries.knnGraph.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    for ((src, edges) <- rows.groupBy(_._1)) {
      val byRank = edges.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to edges.length).toSeq, s"src $src ranks")
      assert(edges.map(_._3).distinct.length == edges.length, s"src $src dup neighbor")
      assert(byRank.map(_._4).toSeq.reverse.sorted.reverse == byRank.map(_._4).toSeq,
        s"src $src sim order")
      assert(edges.forall(_._3 != src), s"src $src self-edge")
    }
  }

  test("ivfpq: top-5 per query from probed clusters only; ADC agrees with a recount") {
    val emb = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def qL2(a: Array[Double], b: Array[Double]): Long =
      a.zip(b).map { case (x, y) => math.floor((x - y) * (x - y) * 35184372088832.0).toLong }.sum
    val seeds = (0L until 8L).map(c => c -> emb(c)).toMap
    def coarse(v: Array[Double]): Long =
      seeds.toSeq.map { case (c, cv) => (qL2(v, cv), c) }.min._2
    // PQ codes: 4 subspaces x 16 dims, codebook = vectors 0..7 per subspace
    def codesOf(v: Array[Double]): Seq[(Int, Long)] =
      (0 until 4).map { m =>
        val sv = v.slice(m * 16, m * 16 + 16)
        m -> (0L until 8L).map(k => (qL2(sv, emb(k).slice(m * 16, m * 16 + 16)), k)).min._2
      }
    val out = graft.queries.VectorQueries.ivfPq.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).distinct.sorted.toSeq == (0L until 5L).toSeq)
    for ((qid, edges) <- out.groupBy(_._1)) {
      assert(edges.map(_._2).sorted.toSeq == (1L to edges.length).toSeq)
      val qv = emb(qid)
      val probed = seeds.toSeq.map { case (c, cv) => (qL2(qv, cv), c) }.sorted.take(2)
        .map(_._2).toSet
      // every returned neighbor must live in a probed cluster, and its
      // ADC distance must equal the LUT sum over its subspace codes
      for ((_, _, nid, ad2) <- edges) {
        assert(probed.contains(coarse(emb(nid))), s"q$qid n$nid outside probe")
        val expected = codesOf(emb(nid)).map { case (m, code) =>
          qL2(qv.slice(m * 16, m * 16 + 16), emb(code).slice(m * 16, m * 16 + 16))
        }.sum
        assert(ad2 == expected, s"q$qid n$nid adc")
      }
    }
  }

  test("knn recall: hits <= n_edges <= 3, one row per probe") {
    val rows = graft.queries.NearDupQueries.knnRecall.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 10L).toSeq)
    for ((qid, nEdges, hits) <- rows) {
      assert(nEdges <= 3, s"q$qid edges $nEdges")
      assert(hits <= nEdges, s"q$qid hits $hits > edges $nEdges")
    }
  }

  test("boilerplate strip: exact duplicates are fully covered; coverage bounded") {
    val rows = graft.queries.QualityQueries.boilerplateStrip.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    for ((id, (n, covered, bp)) <- rows) {
      assert(covered >= 0 && covered <= n, s"doc $id")
      assert(bp == covered * 10000 / n, s"doc $id bp")
    }
    // any text shared verbatim by 2+ docs must be 100% covered (sf0.001
    // has no verbatim dups, so also recount one covered doc brute-force)
    val dupTexts = docs.groupBy(_._2).filter(_._2.length >= 2)
    for ((_, ds) <- dupTexts; (id, _) <- ds)
      assert(rows(id)._3 == 10000L, s"exact-dup doc $id not fully covered")
    val winDocs = docs.map { case (id, t) =>
      val toks = t.split(" ")
      id -> (0 to (toks.length - 1) / 8).map(w =>
        toks.slice(w * 8, w * 8 + 16).mkString(" ")).toSet
    }
    val shared = winDocs.flatMap { case (id, ws) => ws.map(_ -> id) }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.length >= 2).keySet
    for ((id, ws) <- winDocs) {
      val toks = docs.toMap.apply(id).split(" ")
      val coveredPos = (0 to (toks.length - 1) / 8)
        .filter(w => shared.contains(toks.slice(w * 8, w * 8 + 16).mkString(" ")))
        .flatMap(w => (w * 8) until math.min(w * 8 + 16, toks.length)).distinct.length
      assert(rows(id)._2 == coveredPos.toLong, s"doc $id coverage recount")
    }
  }
}
