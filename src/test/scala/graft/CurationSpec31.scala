package graft

import org.apache.spark.sql.functions._

/** Invariants of the thirty-first batch (storage ledger). */
class CurationSpec31 extends SparkSpec {

  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)

  test("sketch_storage: exact recompute of every tier's unit count and bytes") {
    val rows = graft.queries.RelationalQueries.sketchStorage.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables(spark, sf0001, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val nd = docs.length.toLong
    val perDoc = docs.map { t =>
      val toks = t.split(" ", -1)
      val m = toks.length - 2
      if (m < 1) (0L, 0L)
      else {
        val hs = (0 until m).map(i => polyHash(toks.slice(i, i + 3).mkString(" ")))
        val wins = if (m >= 4) (0 to m - 4).map(j => hs.slice(j, j + 4).min) else Seq(hs.min)
        (hs.distinct.length.toLong, wins.distinct.length.toLong)
      }
    }
    val np = perDoc.map(_._1).sum
    val nf = perDoc.map(_._2).sum
    val (nv, dim) = {
      val e = Tables.embeddings(spark, sf0001)
        .agg(count(lit(1)), max(size(col("embedding")))).head()
      (e.getLong(0), e.getInt(1).toLong)
    }
    assert(rows("minhash_sigs") == ((nd, nd * 64)))
    assert(rows("simhash") == ((nd, nd * 8)))
    assert(rows("winnow_index") == ((nf, nf * 8)), s"winnow ${rows("winnow_index")}")
    assert(rows("shingle_postings") == ((np, np * 16)))
    assert(rows("int8_vectors") == ((nv, nv * (dim + 8))))
    assert(rows("pq_codes") == ((nv, nv * 4)))
    // the trade the ledger exists to show: sampled index strictly
    // smaller than exact postings
    assert(rows("winnow_index")._2 < rows("shingle_postings")._2)
  }
}
