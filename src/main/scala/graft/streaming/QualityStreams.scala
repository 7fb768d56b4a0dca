package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming inference for the trained quality classifier — the
  * score-as-you-crawl face of the batch train→infer pair
  * (`q_quality_train` / `q_quality_logreg`,
  * [[graft.queries.QualityQueries]]).
  *
  * The deployment shape of a learned filter at crawl time: weights are
  * TRAINED in a batch session (16 exact Q20 gradient steps over the
  * standing corpus) and handed to the stream as 69 integer LITERALS —
  * not even a stream-static join, just constants folded into the
  * scoring projection. The document stream is then scored entirely
  * MAP-SIDE (tokenize + codegen bucket histogram + integer dot), so
  * the query runs in plain append mode with NO shuffle, NO state, and
  * NO watermark: each micro-batch is embarrassingly parallel at any
  * crawl rate, and the scorer's arithmetic is the batch scorer's
  * arithmetic by construction (same feature projection —
  * [[graft.queries.QualityQueries.featuresOf]] — same Q20 grid), so
  * streamed scores equal batch scores EXACTLY, which StreamingSpec
  * pins against `q_quality_logreg`.
  */
object QualityStreams {

  /** (doc_id, text) stream → (doc_id, logit_q, keep): the learned
    * linear scorer as one map-only projection. `w` is the final
    * weight vector from [[graft.queries.QualityQueries.learnedWeights]]
    * (or any persisted training artifact on the same grid).
    */
  def scoredDocs(docs: DataFrame, w: Seq[Long]): DataFrame = {
    import graft.queries.QualityQueries.{featuresOf, verdicts, weightsLit}
    val wc = weightsLit(w, "QualityStreams.scoredDocs")
    verdicts(featuresOf(docs), wc)
  }
}
