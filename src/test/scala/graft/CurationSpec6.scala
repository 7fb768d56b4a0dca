package graft

import org.apache.spark.sql.functions._

/** Invariants of the sixth curation batch beyond the oracle gate:
  * conservation laws and analytic bounds.
  */
class CurationSpec6 extends SparkSpec {

  test("shard_assign: shards partition the corpus; deviations bounded") {
    val rows = graft.queries.MixingQueries.shardAssign.fn(spark, sf0001).collect()
    val docs = Tables(spark, sf0001, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val totTokens = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == totTokens)
    assert(rows.length <= 32)
    for (r <- rows) assert(r.getLong(3) >= 0 && r.getLong(4) >= 0)
  }

  test("shard_assign is re-shard stable: same shard under any partitioning") {
    val a = graft.queries.MixingQueries.shardAssign.fn(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val repartitioned = spark.read.parquet(s"$sf0001/documents.parquet")
      .repartition(7)
    repartitioned.createOrReplaceTempView("ignored") // force a distinct lineage
    val b = graft.queries.MixingQueries.shardAssign.fn(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b)
  }

  test("packing_waste: capacity conservation per source") {
    val rows = graft.queries.TokenizerQueries.packingWaste.fn(spark, sf0001).collect()
    for (r <- rows) {
      val (tok, seqs, pad, bp) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(seqs * 512 == tok + pad, s"capacity mismatch for ${r.getString(0)}")
      assert(pad >= 0 && bp >= 0 && bp < 10000)
      assert(seqs >= r.getLong(1)) // at least one sequence per doc
    }
  }

  test("dedup_survivorship: keepers partition distinct texts; rates bounded") {
    val rows = graft.queries.DedupQueries.dedupSurvivorship.fn(spark, sf0001).collect()
    val docs = Tables(spark, sf0001, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    assert(rows.map(_.getLong(2)).sum == docs.select("text").distinct().count())
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
    }
  }

  test("vocab_growth: new types partition the vocabulary; cumulative monotone") {
    val rows = graft.queries.TextStatsQueries.vocabGrowth.fn(spark, sf0001)
      .orderBy("bucket").collect()
    val docs = Tables(spark, sf0001, "documents")
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .distinct().count()
    val totTokens = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == vocab)
    assert(rows.last.getLong(3) == vocab)
    assert(rows.map(_.getLong(1)).sum == totTokens)
    val cums = rows.map(_.getLong(3))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
  }

  test("vocab_coverage: 20 ranks, counts non-increasing, cum_bp monotone <= 10000") {
    val rows = graft.queries.TokenizerQueries.vocabCoverage.fn(spark, sf0001)
      .orderBy("rnk").collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 20L))
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    val cums = rows.map(_.getLong(3))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    assert(cums.last <= 10000)
    // rank-1 token is the true argmax by brute force
    val brute = Tables(spark, sf0001, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count().orderBy(col("count").desc, col("tok").asc)
      .head()
    assert(rows.head.getString(1) == brute.getString(0))
    assert(rows.head.getLong(2) == brute.getLong(1))
  }
}
