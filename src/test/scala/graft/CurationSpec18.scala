package graft

import org.apache.spark.sql.functions._

/** Invariants of the eighteenth batch beyond the oracle gate. */
class CurationSpec18 extends SparkSpec {

  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)

  test("chunk_dedup: exact recompute from the reference chunker") {
    val row = graft.queries.DedupQueries.chunkDedup.fn(spark, sf0001).head()
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val chunks = docs.flatMap { case (id, t) =>
      graft.operators.Chunker.chunkText(t, graft.queries.RagQueries.ChunkLen)
        .map(c => (id, polyHash(c), c.length.toLong))
    }
    val byHash = chunks.groupBy(_._2)
    assert(row.getLong(0) == chunks.length.toLong, "n_chunks")
    assert(row.getLong(1) == byHash.size.toLong, "n_distinct")
    assert(row.getLong(2) == (chunks.length - byHash.size).toLong, "dup_chunks")
    assert(row.getLong(3) == (chunks.length - byHash.size).toLong * 10000 / chunks.length)
    assert(row.getLong(4) == byHash.count(_._2.map(_._1).distinct.length > 1).toLong,
      "cross_doc_hashes")
    assert(row.getLong(5) == byHash.values.map(g => (g.length - 1) * g.head._3).sum,
      "saved_chars")
  }

  test("nb_margin: bins cover the held-out split and per-bin accounting is exact") {
    val rows = graft.queries.QualityQueries.nbMargin.fn(spark, sf0001).collect()
    val nTest = Tables(spark, sf0001, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 0).count()
    assert(rows.map(_.getLong(1)).sum == nTest, "every held-out doc lands in a bin")
    for (r <- rows) {
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 19)
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1), "accuracy_bp algebra")
    }
  }
}
