package graft

import org.apache.spark.sql.functions._

/** Invariants of the ninth batch: ranking-quality metrics recomputed
  * from raw embeddings, and the split-leakage audit cross-checked
  * against the queries it composes.
  */
class CurationSpec9 extends SparkSpec {

  private def dist(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0) { case (acc, (u, v)) => acc + u * v }
    1 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  test("ann_ndcg: metrics recomputed from raw embeddings in Scala") {
    val rows = graft.queries.AnnQueries.annNdcg.fn(spark, sf0001)
      .orderBy("qid").collect()
    assert(rows.length == 10)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1),
        r.get(2).asInstanceOf[Number].longValue))
    val w = Seq(1099511627776L, 693714600361L, 549755813888L, 473533883412L,
      425349159792L, 391653944122L, 366503875925L, 346857300180L,
      330985980541L, 317830137717L)
    for (r <- rows) {
      val qid = r.getLong(0)
      val (qv, qlabel) = emb.find(_._1 == qid).map(e => (e._2, e._3)).get
      val truth = emb.filter(_._1 != qid)
        .map { case (id, v, _) => (id, dist(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
      val approx = emb.filter(e => e._1 != qid && e._3 == qlabel)
        .map { case (id, v, _) => (id, dist(qv, v)) }
        .sortBy { case (id, d) => (d, id) }.take(10).map(_._1)
      val rels = approx.zipWithIndex.map { case (id, i) => (i + 1, truth(id)) }
      val nRel = rels.count(_._2)
      val dcg = rels.collect { case (rk, true) => w(rk - 1) }.sum
      val fr = rels.collectFirst { case (rk, true) => rk }.getOrElse(0)
      assert(r.getLong(1) == nRel, s"n_rel qid $qid")
      assert(r.getLong(2) == dcg * 10000 / w.sum, s"ndcg_bp qid $qid")
      assert(r.getLong(3) == (if (fr == 0) 0L else 1048576L / fr), s"rr_q20 qid $qid")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000)
    }
  }

  test("bpe merge apply: greedy left-to-right overlap parity") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "a", "a", "b", "a", "a")),
      (2L, Seq("a", "a", "a", "a")),
      (3L, Seq("b")),
      (4L, Seq.empty[String])).toDF("id", "toks")
    val got = df.select(col("id"),
        graft.functions.TextFunctions.bpeMergeApply(col("toks"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a a", "a", "b", "a a"))
    assert(got(2L) == Seq("a a", "a a"))
    assert(got(3L) == Seq("b"))
    assert(got(4L) == Seq.empty[String])
    // the codegen kernel (the q_bpe_learn production path) folds
    // identically to the interpreted HOF on random token soups
    val rnd = new scala.util.Random(9)
    val soup = (1L to 60L).map(i =>
      (i, Seq.fill(rnd.nextInt(30))(Seq("a", "b", "c")(rnd.nextInt(3)))))
      .toDF("id", "toks")
    for ((l, r) <- Seq(("a", "a"), ("a", "b"), ("c", "a"))) {
      val both = soup.select(
          graft.functions.TextFunctions.bpeMergeApply(col("toks"), l, r).as("hof"),
          graft.functions.HashExpressions.bpeMergeFast(col("toks"), l, r).as("fast"))
        .collect()
      both.foreach(row =>
        assert(row.getSeq[String](0) == row.getSeq[String](1), s"merge ($l,$r)"))
    }
  }

  test("bpe_learn: all five rounds recomputed in Scala from raw documents") {
    val rows = graft.queries.TokenizerQueries.bpeLearn.fn(spark, sf0001)
      .orderBy("iter").collect()
    assert(rows.length == 5)
    var corpus = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getString(1).split(" ", -1).toSeq)
    def applyMerge(toks: Seq[String], l: String, r: String): Seq[String] =
      toks.foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == l && t == r)
          acc.init :+ (acc.last + " " + t)
        else acc :+ t
      }
    for (row <- rows) {
      val pairs = corpus.flatMap(tk => tk.zip(tk.drop(1)))
        .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      val (l, r) = pairs.maxBy { case ((pl, pr), c) => (c, ReverseStr(pl), ReverseStr(pr)) }._1
      val cnt = pairs.toMap.apply((l, r))
      corpus = corpus.map(applyMerge(_, l, r))
      assert(row.getString(1) == l && row.getString(2) == r, s"round ${row.getLong(0)} merge")
      assert(row.getLong(3) == cnt, s"round ${row.getLong(0)} n_pair")
      assert(row.getLong(4) == corpus.map(_.length.toLong).sum, s"round ${row.getLong(0)} n_tokens")
    }
  }

  // orders strings DESCENDING inside maxBy (count ASC, string DESC ⇒
  // argmax = highest count, lexicographically smallest pair)
  private case class ReverseStr(s: String) extends Ordered[ReverseStr] {
    def compare(that: ReverseStr): Int = that.s.compareTo(s)
  }

  test("bpe_learn round fusion: fused and fallback corpora both match the sequential reference") {
    import spark.implicits._
    def applyMerge(toks: Seq[String], l: String, r: String): Seq[String] =
      toks.foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == l && t == r) acc.init :+ (acc.last + " " + t)
        else acc :+ t
      }
    def reference(docs: Seq[String], iters: Int): Seq[(Long, String, String, Long, Long)] = {
      var corpus = docs.map(_.split(" ", -1).toSeq)
      (1 to iters).map { i =>
        val pairs = corpus.flatMap(tk => tk.zip(tk.drop(1)))
          .groupBy(identity).view.mapValues(_.length.toLong).toSeq
        val (l, r) = pairs.maxBy { case ((pl, pr), c) => (c, ReverseStr(pl), ReverseStr(pr)) }._1
        val cnt = pairs.toMap.apply((l, r))
        corpus = corpus.map(applyMerge(_, l, r))
        (i.toLong, l, r, cnt, corpus.map(_.length.toLong).sum)
      }
    }
    def run(docs: Seq[String], iters: Int): Seq[(Long, String, String, Long, Long)] = {
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t.split(" ", -1).toSeq) }
        .toDF("doc_id", "toks")
      graft.queries.TokenizerQueries.learnBpeMerges(spark, df, iters)
        .orderBy("iter").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
        .toSeq
    }
    // A: round-1 guard PASSES — (a,b)=15 then disjoint (c,d)=12 with the
    // strongest adjacency (x,a)=10 strictly below; fusion must be exact
    val fuseCorpus = Seq.fill(10)("x a b") ++ Seq.fill(5)("a b") ++ Seq.fill(12)("c d")
    // B: second pair SHARES a token with the first ((x,a) vs (a,b)) —
    // fusing would double-count through the merge site; must fall back
    val shareCorpus = Seq.fill(13)("x a b") ++ Seq.fill(12)("c d")
    // C: disjoint second pair but the adjacency bound TIES cnt2
    // ((x,a)=12 = (c,d)=12) — a new (x,'a b') pair could tie the fused
    // argmax, so the strict guard must fall back
    val tieCorpus = Seq.fill(12)("x a b") ++ Seq.fill(12)("c d")
    for ((docs, label) <- Seq((fuseCorpus, "fuse"), (shareCorpus, "share"),
        (tieCorpus, "tie"))) {
      assert(run(docs, 3) == reference(docs, 3), s"$label corpus diverged")
    }
  }

  test("split_leakage: consistent with the lsh-pair stream and split assignment") {
    val rows = graft.queries.DecontamQueries.splitLeakage.fn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val pairs = graft.queries.DedupQueries.minhashLshPairs.fn(spark, sf0001)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val split = graft.queries.MixingQueries.sampleSplit.fn(spark, sf0001)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val classes = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (split(a), split(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }
    assert(rows.length == classes.size)
    for (r <- rows) {
      val key = (r.getString(0), r.getString(1))
      val ps = classes(key)
      assert(r.getLong(2) == ps.length, s"n_pairs $key")
      assert(r.getLong(3) == ps.flatMap(p => Seq(p._1, p._2)).distinct.length,
        s"n_docs $key")
    }
    // pair conservation: class counts partition the verified pair stream
    assert(rows.map(_.getLong(2)).sum == pairs.length)
  }
}
