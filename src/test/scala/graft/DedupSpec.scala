package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("polyHash matches the cross-engine fold (validated against DuckDB)") {
    val got = Seq("hello world", "", "a", "Spark SQL!").toDF("s")
      .select(polyHash(col("s"))).as[Long].collect().toSeq
    assert(got == Seq(204910434L, 0L, 97L, 413892703L))
  }

  test("codegen kernels == HOF formulations on fixture documents") {
    val docs = Tables(spark, sf0001, "documents").select(col("doc_id"), col("text"))
    val hashDiff = docs.select(
      polyHash(col("text")).as("fast"),
      polyHashHof(col("text")).as("hof"))
      .filter(col("fast") =!= col("hof"))
    assert(hashDiff.count() == 0)
    // shingle hashes: fused kernel == hash of the string shingles
    val viaStrings = Dedup.shingleTable(docs, "doc_id", "text", 3)
      .select(col("doc_id"), polyHash(col("s")).as("h")).distinct()
    val viaKernel = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
    assert(viaKernel.count() == viaStrings.count())
    assert(viaKernel.exceptAll(viaStrings).isEmpty)
  }

  test("shingles: 3-grams of a token array, short arrays empty") {
    val df = Seq("a b c d", "a b").toDF("t")
    val got = df.select(shingles(tokens(col("t")), 3)).as[Seq[String]].collect()
    assert(got(0).sorted == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("exactGroups keeps min id with copy count") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "t")
    val got = Dedup.exactGroups(df, "t", "id")
      .orderBy("keep_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)))
  }

  test("collisionAudit: empty under contentKey, catches a deliberately weak key") {
    val df = Seq((1L, "alpha"), (2L, "bravo"), (3L, "alpha"), (4L, "delta"))
      .toDF("id", "t")
    // the real key: no collisions on any honest corpus — empty audit
    assert(Dedup.collisionAudit(df, Dedup.contentKey(col("t")), "t").isEmpty)
    // a weak key (length only): "alpha"/"bravo"/"delta" all collide at
    // len 5 — the audit must surface exactly that group with its size
    val got = Dedup.collisionAudit(df, length(col("t")), "t")
      .select("k", "n_docs").as[(Int, Long)].collect().toSeq
    assert(got == Seq((5, 4L)))
  }

  test("jaccardForPairs computes |A∩B| / |A∪B|") {
    val hs = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 20L), (2L, 30L), (2L, 40L)).toDF("id", "h")
    val pairs = Seq((1L, 2L)).toDF("ida", "idb")
    val j = Dedup.jaccardForPairs(pairs, hs, "id").select("jaccard").as[Double].head()
    assert(math.abs(j - 0.5) < 1e-12)
  }

  test("simhash of identical texts is identical; near-identical is close") {
    val df = Seq((1L, "spark sql engine fast scan table"),
      (2L, "spark sql engine fast scan table"),
      (3L, "totally different words entirely here now")).toDF("id", "t")
    val s = Dedup.simhash(df, "id", "t").orderBy("id").as[(Long, Long)].collect()
    assert(s(0)._2 == s(1)._2)
    assert(java.lang.Long.bitCount(s(0)._2 ^ s(2)._2) > 0)
  }

  test("scaledBitsPerBand: smallest b with 2^b * bucket >= n, BIGINT-capped") {
    assert(Dedup.scaledBitsPerBand(1L) == 1)     // floor: never 0 bits
    assert(Dedup.scaledBitsPerBand(500L) == 4)   // sf0.01 fixture: 16*32=512
    assert(Dedup.scaledBitsPerBand(513L) == 5)
    assert(Dedup.scaledBitsPerBand(5000L) == 8)  // sf0.1: matches the pinned default
    assert(Dedup.scaledBitsPerBand(150000L) == 13) // 30x probe replica
    assert(Dedup.scaledBitsPerBand(Long.MaxValue) == 15) // 62/nBands cap holds the pack in a BIGINT
    // monotone in n: buckets never grow past ~2*target
    val widths = (1 to 30).map(e => Dedup.scaledBitsPerBand(1L << e))
    assert(widths == widths.sorted)
  }

  test("minhash signature of identical shingle sets is identical") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("id", "t")
    val sig = Dedup.minhashSignatures(Dedup.shingleHashTable(df, "id", "t", 3), "id")
    val rows = sig.orderBy("id").collect()
    assert(rows(0).toSeq.tail == rows(1).toSeq.tail)
  }
}
