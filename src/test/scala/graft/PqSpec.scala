package graft

import org.apache.spark.sql.functions._
import graft.queries.VectorQueries

/** Product-quantization family: structural invariants of the encoding and
  * the serving-fidelity eval, checked at sf0.001 (500 vectors, 64 dims).
  */
class PqSpec extends SparkSpec {

  test("PQ codes: every vector gets exactly 4 subspace codes in [0,8)") {
    val codes = VectorQueries.pqCodes.fn(spark, sf0001).cache()
    val n = codes.select(countDistinct(col("vec_id"))).head().getLong(0)
    assert(n == 500)
    assert(codes.count() == 500 * 4)
    assert(codes.filter(col("m") < 0 || col("m") > 3).count() == 0)
    assert(codes.filter(col("code") < 0 || col("code") >= 8).count() == 0)
    // one code per (vec_id, subspace)
    assert(codes.groupBy("vec_id", "m").count().filter(col("count") =!= 1).count() == 0)
  }

  test("PQ codes: a codebook seed encodes to itself with zero distance") {
    val codes = VectorQueries.pqCodes.fn(spark, sf0001)
    val seeds = codes.filter(col("vec_id") < 8)
    assert(seeds.filter(col("code") =!= col("vec_id")).count() == 0)
    assert(seeds.filter(col("d2") =!= 0L).count() == 0)
  }

  test("PQ recall: 10 query rows, hits within [0,10], and ADC beats random") {
    val rec = VectorQueries.pqRecall.fn(spark, sf0001).cache()
    assert(rec.count() == 10)
    assert(rec.filter(col("hits") < 0 || col("hits") > 10).count() == 0)
    // the fixture vectors are near-isotropic noise — PQ's worst case —
    // so absolute recall is modest (~24% observed); the eval still must
    // sit far above chance (10/500 = 0.2 hits/query expected at random)
    val mean = rec.agg(avg(col("hits"))).head().getDouble(0)
    assert(mean >= 1.5, s"mean ADC recall@10 = $mean, expected >= 1.5 (chance = 0.2)")
  }

  test("hard negatives: labels differ from the query's and ranks are 1..3") {
    val hn = VectorQueries.hardNegatives.fn(spark, sf0001).cache()
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"))
    assert(hn.count() == 30)
    assert(hn.join(emb, "qid").filter(col("nlabel") === col("qlabel")).count() == 0)
    assert(hn.groupBy("qid").agg(sum("rank").as("s")).filter(col("s") =!= 6L).count() == 0)
  }
}
