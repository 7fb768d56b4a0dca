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
  * `:52-152`): the query is embedded on the driver
  * ([[Embedder.embedText]], no Spark plan), the index is scanned by one
  * Spark job of one stage — `TopK.nearest` projected to the text column
  * plans `TakeOrderedAndProject`, so each scan task keeps a k-row heap
  * and the driver merges them, with no shuffle — and the k texts are
  * folded into the prompt on the driver ([[Prompt.assembleRanked]],
  * byte-identical to the distributed [[Prompt.assembleByOrder]]). A warm
  * turn compiles no code: the cosine kernel reads the query vector by
  * reference, so every turn's scan reuses one generated class. The index
  * itself is never collected and should be `.persist`ed by the caller
  * across REPL turns (the scalable analog of the reference's all-in-RAM
  * table, `multirag.c:359`).
  */
object Rag {

  /** Embed one query text with the pipeline's embedder, on the driver. */
  def embedQuery(spark: SparkSession, embedder: Embedder, text: String): Seq[Double] =
    embedder.embedText(text)

  /** index(idCol, textCol, embCol) + query → 1-row (prompt) frame.
    *
    * Eager: the scan job runs inside this call, and the frame it
    * returns is local, so reading its row runs no further job.
    */
  def answer(spark: SparkSession, index: DataFrame, idCol: String, textCol: String,
             embCol: String, embedder: Embedder, userInput: String,
             conversation: String, k: Int): DataFrame = {
    val qv = embedQuery(spark, embedder, userInput)
    // rows arrive in (dist, id) order; their positions are the labels
    val texts = TopK.nearest(index, embCol, idCol, qv, k).select(textCol)
      .collect().map(_.getString(0))
    val prompt = Prompt.assembleRanked(texts.toSeq, conversation, userInput)
    spark.createDataFrame(java.util.List.of(Row(prompt)), new StructType().add("prompt", StringType))
  }
}
