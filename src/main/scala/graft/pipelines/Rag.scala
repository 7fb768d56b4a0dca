package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.operators.{Prompt, TopK}

/** The reference's query half (`multirag.c:394-456`): embed the user
  * query, brute-force top-k over the index, assemble the instruct prompt.
  * The LLM call itself stays outside the engine (`multirag.c:440-451` is
  * transport, not analytics).
  *
  * A turn splits as the reference's client does (`multirag.c:394-456`,
  * `:52-152`):
  *  - the query is embedded on the driver ([[Embedder.embedText]], no
  *    Spark plan);
  *  - the index is scanned by one Spark job of one stage,
  *    [[TopK.nearestRows]]: each scan task keeps a k-row buffer, the
  *    driver merges them, and nothing is shuffled. The job runs over the
  *    index Dataset's own memoized RDD, so a turn runs no Catalyst
  *    analysis, optimization, planning or SQL execution, and compiles no
  *    code;
  *  - the k texts are folded into the prompt on the driver
  *    ([[Prompt.assembleRanked]], byte-identical to the distributed
  *    [[Prompt.assembleByOrder]]).
  *
  * The index itself is never collected. Across REPL turns the caller
  * must `.persist` it before the first turn (the scalable analog of the
  * reference's all-in-RAM table, `multirag.c:359`): the RDD a turn scans
  * is fixed at the first turn, so an index persisted later is still read
  * from its source on every turn. [[TopK.nearest]] stays the lazy
  * DataFrame form of the same top-k.
  */
object Rag {

  /** Embed one query text with the pipeline's embedder, on the driver. */
  def embedQuery(spark: SparkSession, embedder: Embedder, text: String): Seq[Double] =
    embedder.embedText(text)

  /** index(idCol, textCol, embCol) + query → 1-row (prompt) frame.
    *
    * Eager: the scan job runs inside this call, and the frame it
    * returns is local, so reading its row runs no further job.
    * `index` must be persisted before its first turn (see above).
    */
  def answer(spark: SparkSession, index: DataFrame, idCol: String, textCol: String,
             embCol: String, embedder: Embedder, userInput: String,
             conversation: String, k: Int): DataFrame = {
    val qv = embedQuery(spark, embedder, userInput)
    // rows arrive in (dist, id) order; their positions are the labels
    val texts = TopK.nearestRows(index, embCol, idCol, qv, k).map(_.getAs[String](textCol))
    promptFrame(spark, Prompt.assembleRanked(texts.toSeq, conversation, userInput))
  }

  /** A folded prompt as the one-row (prompt) local frame a turn returns. */
  def promptFrame(spark: SparkSession, prompt: String): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(prompt)), new StructType().add("prompt", StringType))
}
