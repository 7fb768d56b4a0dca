package graft

import org.apache.spark.sql.functions._

/** Invariants of the twenty-second batch. */
class CurationSpec22 extends SparkSpec {

  private def polyHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)

  test("suffix_dup: every derived tail with >= 16 source tokens is caught") {
    val row = graft.queries.DedupQueries.suffixDup.fn(spark, sf0001).head()
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val eligible = docs.filter { case (id, t) =>
      id % 8 == 0 && (t.split(" ", -1).length + 1) / 2 >= 8
    }
    assert(row.getLong(0) >= eligible.length.toLong, "n_pairs under-counts tails")
    assert(row.getLong(1) >= eligible.length.toLong, "n_suffix_docs")
    assert(row.getLong(3) > 2000 && row.getLong(3) < 8000,
      s"avg_suffix_bp ${row.getLong(3)}")
  }

  test("shard_mix: exact recompute of per-shard composition deviations") {
    val rows = graft.queries.MixingQueries.shardMix.fn(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (polyHash("shard|" + r.getLong(0)) % 32, r.getString(1)))
    val total = docs.length.toLong
    val bySrc = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byShard = docs.groupBy(_._1)
    assert(rows.values.map(_._1).sum == total, "shard doc counts must cover the corpus")
    for ((shard, grp) <- byShard) {
      val nS = grp.length.toLong
      val devs = grp.groupBy(_._2).map { case (src, g) =>
        math.abs(g.length.toLong * 10000 / nS - bySrc(src) * 10000 / total)
      }
      val (n, mx, sm) = rows(shard)
      assert(n == nS && mx == devs.max && sm == devs.sum, s"shard $shard")
    }
  }
}
