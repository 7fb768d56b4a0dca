package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Properties of the corpus-indexing/sampling queries that the oracle
  * gate can't express: sample stability under corpus edits, and posting
  * df against a brute-force recount.
  */
class CorpusSpec extends SparkSpec {

  test("stratified sample is unchanged when unsampled documents are removed") {
    val full = graft.queries.MixingQueries.stratifiedK.fn(spark, sf0001).collect()
    val sampled = full.map(_.getLong(0)).toSet
    // drop 50 documents that are NOT in the sample; the hash-order pick
    // must not move (the property that lets a curation run re-sample a
    // shrinking corpus without churning its picks)
    val docs = Tables(spark, sf0001, "documents")
    val victims = docs.filter(!col("doc_id").isin(sampled.toSeq: _*))
      .select("doc_id").limit(50).collect().map(_.getLong(0)).toSet
    val dir = Files.createTempDirectory("docs-shrunk").toString
    docs.filter(!col("doc_id").isin(victims.toSeq: _*))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shrunk = graft.queries.MixingQueries.stratifiedK.fn(spark, dir).collect()
    assert(shrunk.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq ==
      full.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq)
  }

  test("posting df matches a brute-force recount for spot-checked tokens") {
    val out = graft.queries.RagQueries.postings.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text").collect()
    for (tok <- Seq("a", "table", "spark")) {
      val ids = docs.filter(_.getString(1).split(" ").contains(tok)).map(_.getLong(0)).sorted
      assert(out(tok)._1 == ids.length, s"df($tok)")
      assert(out(tok)._2 == ids.take(5).mkString(","), s"posting_head($tok)")
    }
  }
}
