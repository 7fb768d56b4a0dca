package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sequence packing — the stateful missing stage of the
  * crawl pipeline: ingest → dedup → quality
  * → tokenize → decontam → sketches all had streaming twins, but
  * packing a crawl into fixed context-length blocks is the one stage
  * whose streaming form genuinely NEEDS keyed state: a block can end
  * mid-document, so the partial block at each shard's stream head must
  * carry over to the next micro-batch. (The reference's proto-packer
  * has the same carry: load-texts.c:37-105 keeps the window remainder
  * across reads of the concatenated token stream.)
  *
  * Semantics match `q_seq_pack_bpe` ([[graft.queries.TokenizerQueries]])
  * exactly: per shard (= lang), documents enter the shard's contiguous
  * id stream in doc_id order and are cut into
  * [[graft.queries.TokenizerQueries.CtxLen]]-token blocks with the
  * same boundary bookkeeping (contributing-doc count, first/last doc,
  * plain and offset-weighted id checksums). A FULL block is emitted the
  * moment its last token arrives (Append mode — a full block is
  * immutable, the packer's natural append semantics); the trailing
  * partial block stays in state. Ordering contract: cross-batch order
  * is ARRIVAL order (the crawl's contract — the spec feeds doc_id-sorted
  * chunks); within a micro-batch each shard's rows are sorted by doc_id
  * before folding, so any exactly-once source that delivers shards in
  * doc_id-chunk order reproduces the batch packer bit-for-bit
  * (StreamingSpec pins streamed full blocks == `q_seq_pack_bpe`'s full
  * blocks on the same corpus).
  *
  * SCALE: state per shard is SEVEN LONGS — the running aggregates of
  * the current partial block, never its token ids (offsets are assigned
  * at fold time, so checksums accumulate without buffering) — bounded
  * by one partial block per shard forever, the smallest possible
  * packing state. Tokenization is the same map-only literal-folded
  * projection as [[TokenizerStreams]] (no stream-static join); the only
  * shuffle per micro-batch is the groupByKey on shard, which is also
  * how a 1000-executor crawl partitions the work. OOV tokens (possible
  * on a real crawl, impossible on the training corpus) map to the
  * reserved UNK id 0 — vocabulary ranks start at 1.
  */
object PackerStreams {

  private val CtxLen: Long = graft.queries.TokenizerQueries.CtxLen.toLong

  /** End-of-stream FLUSH sentinel: Append mode with
    * NoTimeout never emits a shard's trailing partial block, so a
    * finite or quiescent stream would withhold its tail tokens
    * forever. A document row with this doc_id (per shard, any text)
    * instructs the fold to emit the carried partial as a short block
    * (n_tok < CtxLen) and advance the bin — after which the stream's
    * TOTAL output equals `q_seq_pack_bpe` INCLUDING its partial rows.
    * Long.MaxValue sorts after every real doc_id, so a sentinel landing
    * in the same micro-batch as final data still flushes last. Without
    * a sentinel the partial stays in state (correct for a live crawl);
    * reconciling without one means reading the state store via a batch
    * job, not the stream output.
    */
  val FlushDoc: Long = Long.MaxValue

  case class EncDoc(lang: String, doc_id: Long, ids: Seq[Long])

  /** Running aggregates of the shard's current PARTIAL block. `bin` is
    * the block index being filled; `filled` its token count so far.
    */
  case class PackState(bin: Long, filled: Long, nDocs: Long,
                       firstDoc: Long, lastDoc: Long,
                       idSum: Long, idOxw: Long)

  /** One completed context block — `q_seq_pack_bpe`'s output schema. */
  case class PackedBlock(lang: String, bin: Long, n_tok: Long, n_docs: Long,
                         first_doc: Long, last_doc: Long,
                         id_sum: Long, id_oxw: Long)

  private val emptyBlock =
    PackState(0L, 0L, 0L, Long.MaxValue, Long.MinValue, 0L, 0L)

  /** Fold a (lang, doc_id, text) document stream into completed
    * context blocks. `merges`/`vocab` are the batch tokenizer artifacts
    * ([[graft.queries.TokenizerQueries.tokenizerArtifacts]] /
    * [[graft.pipelines.ModelArtifacts]]), entering as literals.
    */
  def packedBlocks(docs: DataFrame, merges: Seq[(String, String)],
                   vocab: Map[String, Long]): Dataset[PackedBlock] = {
    val vlit = typedLit(graft.GraftLimits.requireBoundedVocab(vocab,
      "PackerStreams.packedBlocks"))
    import docs.sparkSession.implicits._
    val toks = merges.foldLeft(graft.functions.TextFunctions.tokens(col("text"))) {
      case (c, (l, r)) => graft.functions.HashExpressions.bpeMergeFast(c, l, r)
    }
    docs
      .select(col("lang"), col("doc_id"),
        transform(toks, t => coalesce(element_at(vlit, t), lit(0L))).as("ids"))
      .filter(size(col("ids")) >= 1 || col("doc_id") === lit(FlushDoc))
      .as[EncDoc]
      .groupByKey(_.lang)
      .flatMapGroupsWithState[PackState, PackedBlock](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[EncDoc], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(emptyBlock)
          val out = collection.mutable.Buffer.empty[PackedBlock]
          // NOTE per-micro-batch bound: the seven-longs
          // claim is the STANDING state; the toSeq below additionally
          // holds one micro-batch's token-id arrays for this shard in
          // the folding task's heap. Bound ingestion accordingly on
          // skewed shards (maxFilesPerTrigger / maxBytesPerTrigger) —
          // one dominant lang concentrates its whole trigger there.
          for (d <- rows.toSeq.sortBy(_.doc_id)) {
            if (d.doc_id == FlushDoc) {
              if (st.filled > 0L) {
                out += PackedBlock(lang, st.bin, st.filled, st.nDocs,
                  st.firstDoc, st.lastDoc, st.idSum, st.idOxw)
                st = emptyBlock.copy(bin = st.bin + 1)
              }
            } else {
            val ids = d.ids
            var idx = 0
            while (idx < ids.length) {
              // this doc's contiguous run into the current block
              val take = math.min(CtxLen - st.filled, (ids.length - idx).toLong).toInt
              var s = 0L
              var ox = 0L
              var k = 0
              while (k < take) {
                val id = ids(idx + k)
                s += id
                ox += (st.filled + k + 1) * id
                k += 1
              }
              st = PackState(st.bin, st.filled + take, st.nDocs + 1,
                math.min(st.firstDoc, d.doc_id), math.max(st.lastDoc, d.doc_id),
                st.idSum + s, st.idOxw + ox)
              idx += take
              if (st.filled == CtxLen) {
                out += PackedBlock(lang, st.bin, CtxLen, st.nDocs,
                  st.firstDoc, st.lastDoc, st.idSum, st.idOxw)
                st = emptyBlock.copy(bin = st.bin + 1)
              }
            }
          } }
          state.update(st)
          out.iterator
      }
  }
}
