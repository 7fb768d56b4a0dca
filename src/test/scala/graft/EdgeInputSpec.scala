package graft

import org.apache.spark.sql.Row

/** Empty and one-row inputs answer as the DuckDB oracle does. Each
  * expected answer below is the oracle's on the same cut of sf0.001:
  * where an aggregate over no rows is NULL, or a greedy pick finds no
  * row left, the Spark side returns NULL rather than throwing.
  */
class EdgeInputSpec extends SparkSpec {

  /** A data dir holding `documents` (the rows `docs` keeps) and
    * `embeddings` of sf0.001, each cut to its first `n` rows. */
  private def cut(n: Int, docs: String = "true"): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"edge-$n").toString
    for ((t, where) <- Seq("documents" -> docs, "embeddings" -> "true"))
      spark.read.parquet(s"$sf0001/$t.parquet").where(where).limit(n)
        .write.parquet(s"$dir/$t.parquet")
    dir
  }

  private lazy val empty = cut(0)

  private def rows(name: String, dir: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  test("quality classifier trained on no rows: NULL weights, no verdicts") {
    val train = rows("q_quality_train", empty)
    assert(train.size == 16 * 68)
    assert(train.forall(_.isNullAt(2)), "every weight of every step is NULL")
    assert(rows("q_quality_logreg", empty).isEmpty)
    assert(rows("q_quality_score_artifact", empty).isEmpty)
    assert(rows("q_quality_auc", empty) == Seq(Row(null, null, 0L, null, null)))
  }

  test("quality AUC with an empty training split scores its one eval doc NULL") {
    // doc 0 is in the held-out fifth, so the training split is empty
    val Seq(r) = rows("q_quality_auc", cut(1, "doc_id = 0"))
    assert(r.getLong(0) + r.getLong(1) == 1 && r.getLong(2) == 1)
    assert(r.isNullAt(3), "one class only: AUC undefined")
    assert(r.getLong(4) == 0, "a NULL logit is never right")
  }

  test("sketch storage over no rows: sums and sizes NULL, counts 0") {
    assert(rows("q_sketch_storage", empty).map(_.toSeq).sortBy(_.head.toString) == Seq(
      Seq("int8_vectors", 0L, null), Seq("minhash_sigs", 0L, 0L), Seq("pq_codes", 0L, 0L),
      Seq("shingle_postings", 0L, 0L), Seq("simhash", 0L, 0L), Seq("winnow_index", null, null)))
  }

  test("k-center picks NULL once no point is left") {
    val one = cut(1)
    val only = spark.read.parquet(s"$one/embeddings.parquet").head().getAs[Long]("vec_id")
    for (q <- Seq("q_kcenter_coreset", "q_kcenter_inc", "q_kcenter_artifact")) {
      def steps(first: Row) = first +: (2L to 8L).map(Row(_, null, null))
      assert(rows(q, empty).sortBy(_.getLong(0)) == steps(Row(1L, null, 0L)), q)
      assert(rows(q, one).sortBy(_.getLong(0)) == steps(Row(1L, only, 0L)), q)
    }
  }

  test("MMR without a query vector or candidates picks NULL at every step") {
    for (dir <- Seq(empty, cut(1)))
      assert(rows("q_mmr_select", dir).sortBy(_.getLong(0)) ==
        (1L to 5L).map(Row(_, null)))
  }
}
