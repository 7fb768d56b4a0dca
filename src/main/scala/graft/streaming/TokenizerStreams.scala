package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming inference for the trained BPE tokenizer — the
  * tokenize-as-you-crawl face of the batch train→infer pair
  * (`q_bpe_learn` / `q_bpe_encode`,
  * [[graft.queries.TokenizerQueries]]), the same deployment shape as
  * [[QualityStreams]]: both tokenizer artifacts (the ordered merge
  * table and the token→id vocabulary) are learned in a batch session
  * and enter the stream as LITERALS folded into one map-only
  * projection — no stream-static join, no state, no watermark, plain
  * append mode. A merge table is dozens-to-thousands of entries and a
  * vocabulary tokenizer-sized (the `q_bpe_encode` broadcast rationale),
  * so both ride the task closure at any crawl rate; every micro-batch
  * is embarrassingly parallel, and the fold kernels are the batch
  * kernels ([[graft.functions.HashExpressions.bpeMergeFast]]), so
  * streamed token ids equal batch ids EXACTLY — StreamingSpec pins the
  * full output row-for-row against `q_bpe_encode`.
  */
object TokenizerStreams {

  /** (doc_id, text) stream → (doc_id, n_tok, id_sum, id_posw,
    * chars_per_tok_q): the learned tokenizer as one map-only
    * projection, emitting exactly `q_bpe_encode`'s per-document schema.
    * `merges` is the ordered merge table; `vocab` the token→id map
    * (both from the batch training loop —
    * [[graft.queries.TokenizerQueries.learnedMergeRows]] plus the
    * encode pass's vocabulary rank). Documents that tokenize to zero
    * tokens are dropped, matching the batch pass. The per-doc
    * aggregates are HOF folds over the row's OWN token array — no
    * explode, no shuffle: a document is a complete unit of work, which
    * is what makes the same expression correct on an unbounded stream.
    * OOV handling: a crawl stream WILL
    * contain tokens absent from the batch-built vocab, and a bare
    * `element_at` returns null there — silently nulling `id_sum` /
    * `id_posw` while `n_tok` stays populated. Unknown tokens therefore
    * map to the reserved UNK id 0 (vocabulary ranks are 1-based), so
    * every checksum stays total; on the training corpus (where OOV
    * cannot occur) the coalesce is a no-op and the batch pin is
    * unchanged. Because UNK adds 0 to both checksums, UNK mass would
    * otherwise be invisible downstream — so the output carries an
    * `n_unk` column (count of UNK-mapped tokens):
    * consumers detect vocabulary misses in-band, 0 on the training
    * corpus. Full miss diagnostics remain `q_oov_rate`'s shape.
    * BOUNDED-VOCAB PRECONDITION (priced by the linear-vocab
    * decade probe): the closure-riding literal map is right only while
    * the vocabulary is tokenizer-bounded — a CORPUS vocabulary (Heaps-
    * growing) must take the batch broadcast-join path instead
    * (`q_bpe_encode` / `q_bpe_encode_artifact`): the literal-map encode
    * measured slope 4.98 at the 1000x linear-vocab adversary where the
    * join form stays sublinear.
    */
  def encodedDocs(docs: DataFrame, merges: Seq[(String, String)],
                  vocab: Map[String, Long]): DataFrame = {
    val toks = merges.foldLeft(graft.functions.TextFunctions.tokens(col("text"))) {
      case (c, (l, r)) => graft.functions.HashExpressions.bpeMergeFast(c, l, r)
    }
    val vlit = typedLit(graft.GraftLimits.requireBoundedVocab(vocab,
      "TokenizerStreams.encodedDocs"))
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("nc"),
        transform(toks, t => coalesce(element_at(vlit, t), lit(0L))).as("ids"))
      .filter(size(col("ids")) >= 1)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tok"),
        size(filter(col("ids"), _ === lit(0L))).cast("long").as("n_unk"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_sum"),
        aggregate(zip_with(col("ids"),
            sequence(lit(1L), size(col("ids")).cast("long")),
            (id, p) => id * p), lit(0L), (a, x) => a + x).as("id_posw"),
        col("nc"))
      .select(col("doc_id"), col("n_tok"), col("n_unk"), col("id_sum"),
        col("id_posw"), expr("nc * 1048576 DIV n_tok").as("chars_per_tok_q"))
  }
}
