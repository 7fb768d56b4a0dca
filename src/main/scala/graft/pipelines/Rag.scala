package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Prompt, TopK}

/** The reference's query half (`multirag.c:394-456`): embed the user
  * query, brute-force top-k over the index, assemble the instruct prompt.
  * The LLM call itself stays outside the engine (`multirag.c:440-451` is
  * transport, not analytics).
  *
  * Per turn this is one Spark job of two stages: the scan stage keeps a
  * per-partition top-k, and the second merges the k winners and folds
  * them into the single prompt row (an index of one partition needs
  * only the first). Embedding the query with the mock embedder runs no
  * job. A warm turn compiles no code: the cosine kernel reads the query
  * vector by reference, so every turn's scan reuses one generated class.
  * The index itself is never collected and should be `.persist`ed by
  * the caller across REPL turns (the scalable analog of the reference's
  * all-in-RAM table, `multirag.c:359`).
  */
object Rag {

  /** Embed one query text with the pipeline's embedder. */
  def embedQuery(spark: SparkSession, embedder: Embedder, text: String): Seq[Double] = {
    import spark.implicits._
    embedder.embed(Seq(text).toDF("q"), "q", "e")
      .head().getSeq[Double](1)
  }

  /** index(idCol, textCol, embCol) + query → 1-row (prompt) frame. */
  def answer(spark: SparkSession, index: DataFrame, idCol: String, textCol: String,
             embCol: String, embedder: Embedder, userInput: String,
             conversation: String, k: Int): DataFrame = {
    val qv = embedQuery(spark, embedder, userInput)
    // ranks are positions in (dist, id) order, assigned inside the
    // assembly fold — no window over the k-row top-k frame
    val topk = TopK.nearest(index, embCol, idCol, qv, k)
    Prompt.assembleByOrder(topk, Seq(col("dist"), col(idCol)), textCol,
      conversation, userInput)
  }
}
