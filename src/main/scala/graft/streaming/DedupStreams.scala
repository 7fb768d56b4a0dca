package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions._
import graft.functions.HashExpressions.shingleHashesFast

/** Streaming near-duplicate detection — the streaming face of the batch
  * MinHash-LSH family ([[graft.operators.Dedup.lshCandidates]]), for
  * dedup-as-you-crawl pipelines.
  *
  * Signatures are MAP-ONLY here: the per-doc min over each permuted
  * shingle-hash set is computed with `array_min(transform(...))` on the
  * shingle-hash ARRAY (same codegen kernel, same integer algebra as the
  * batch `groupBy(min)` formulation — identical values by construction).
  * That leaves the band-bucket state as the query's ONLY stateful
  * operator, so the whole pipeline runs in plain append mode.
  *
  * State per occupied bucket = its anchor id and last-arrival time: the
  * first doc to claim an LSH band bucket anchors it; every later doc
  * landing in the bucket emits a candidate pair (doc, anchor). This is the unbounded-stream analog
  * of the batch banded equi-join — candidates only within buckets,
  * never all-pairs. Both ledgers here are CONTENT-IDENTITY class under
  * the repo state-retention policy ([[StateTtl]]): unbounded on an
  * endless crawl, bounded in production by the `idleTtl` leg.
  */
object DedupStreams {

  case class BandHit(band: Int, x: Long, y: Long, doc_id: Long)
  case class DupCandidate(doc_id: Long, anchor_id: Long, band: Int)

  /** (doc_id, text) → one row per LSH band key, map-only (no shuffle,
    * no aggregation): 8 minhash values folded over the shingle-hash
    * array, banded 4×2 exactly like the batch operator.
    */
  def bandKeys(docs: DataFrame): DataFrame = {
    val hashes = array_distinct(shingleHashesFast(tokens(col("text")), 3))
    val sig = MinhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(hashes, h => minhashPerm(h, a, b))).as(s"m$j")
    }
    docs
      .filter(size(tokens(col("text"))) >= 3) // < n tokens → no shingles, no signature
      .select(col("doc_id") +: sig: _*)
      .select(col("doc_id"), explode(array((0 until 4).map { bnd =>
        struct(lit(bnd).as("band"),
          col(s"m${2 * bnd}").as("x"), col(s"m${2 * bnd + 1}").as("y"))
      }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.x").as("x"),
        col("bk.y").as("y"), col("doc_id"))
  }

  /** Streaming candidate pairs: (doc, anchor, band) in append mode.
    * A pair sharing several bands emits once per band — candidates feed
    * a verify stage (exact Jaccard / cosine), which dedups anyway.
    *
    * STATE BOUND: the anchor ledger is Θ(occupied band buckets) — the
    * LARGEST content-identity ledger in the engine (four band keys per
    * distinct document), unbounded on a 100-TB crawl with `idleTtl =
    * None`. State per bucket is (anchor, last-arrival time).
    * `idleTtl = Some("30 minutes")` switches to
    * `ProcessingTimeTimeout`: a bucket no arrival has touched within
    * the TTL drops its anchor at the next micro-batch, and an arrival
    * that finds its bucket idle past the TTL treats it as expired even
    * when no timer batch ran (after a restart, [[StateTtl]]). The
    * CONTRACT CHANGE ([[StateTtl]] class 1, identical shape to
    * [[exactDedupDocs]]): after a bucket expires, the next document
    * landing in it becomes the NEW anchor and emits nothing — so a
    * near-dup pair is detected only when the two documents hit a
    * shared bucket within one TTL window ("candidates against a
    * TTL-fresh anchor", not against the all-time first occupant).
    * Recall vs the batch operator holds exactly when duplicate spacing
    * fits inside the TTL — the dedup-as-you-crawl deployment's shard
    * locality makes that the common case, and the downstream verify
    * stage is unaffected (it only ever sees emitted candidates).
    * StreamingSpec pins both the state drop and the re-anchor on a
    * real clock.
    */
  def nearDupCandidates(docs: DataFrame,
                        idleTtl: Option[String] = None): Dataset[DupCandidate] = {
    import docs.sparkSession.implicits._
    bandKeys(docs).as[BandHit]
      .groupByKey(h => (h.band, h.x, h.y))
      .flatMapGroupsWithState[(Long, Long), DupCandidate](
        OutputMode.Append, StateTtl.conf(idleTtl)) {
        (key: (Int, Long, Long), hits: Iterator[BandHit], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // bucket idle past the TTL: drop the anchor. No emit — the
            // bucket's NEXT occupant re-anchors it below.
            state.remove()
            Iterator.empty
          } else {
            val ids = hits.map(_.doc_id).toSeq.distinct.sorted
            val now = state.getCurrentProcessingTimeMs()
            val anchor = state.getOption
              .filterNot { case (_, seen) => StateTtl.lapsed(seen, now, idleTtl) }
              .fold(ids.head)(_._1)
            state.update((anchor, now)) // any arrival refreshes the clock
            idleTtl.foreach(state.setTimeoutDuration)
            ids.filter(_ != anchor).map(d => DupCandidate(d, anchor, key._1)).iterator
          }
      }
  }

  case class DocRow(lang: String, doc_id: Long, text: String)
  case class CkDoc(lang: String, doc_id: Long, text: String,
                   h64: Long, h128: String, len: Int)

  /** Streaming EXACT dedup with a DETERMINISTIC keeper — the streaming
    * face of the batch funnel's min-id exact-dedup stage
    * (`q_pipeline_funnel` s2, [[graft.operators.Dedup.exactGroups]]):
    * the first-arriving copy of each content key survives, every later
    * copy is dropped. Under the pipeline's doc_id-ordered arrival
    * contract (the packer's contract — chunked sources in id order)
    * "first arriving" IS min doc_id, so the survivor set equals the
    * batch stage's exactly; within a micro-batch the min-id row is
    * selected explicitly, so batch boundaries never change the keeper.
    *
    * Keyed on the batch [[graft.operators.Dedup.contentKey]] fields
    * (xxhash64 + md5 + length — never the raw text), computed map-side;
    * state per distinct content key is its last-arrival processing
    * time.
    *
    * STATE BOUND: with `idleTtl = None` the standing state is
    * Θ(distinct texts) — content-identity class under the repo
    * state-retention policy ([[StateTtl]]), same as the LSH bucket
    * anchors above: fine for a bounded backfill, unbounded on a true
    * 100-TB crawl. Passing `idleTtl = Some("30 minutes")` switches the
    * operator to `ProcessingTimeTimeout`: a content key whose last
    * arrival (first copy OR later duplicate — every arrival refreshes
    * the clock) is older than the TTL is DROPPED from state at the
    * next micro-batch, and a copy that finds its key idle past the TTL
    * is re-admitted even when no timer batch ran (after a restart,
    * [[StateTtl]]). The CONTRACT CHANGE is explicit, not
    * hand-waved: once a key expires, the next copy of that text is
    * re-admitted and re-emitted — the output is then "distinct within
    * any TTL-wide window", not globally distinct, and equality with
    * the batch dedup holds only for corpora whose duplicate spacing
    * fits inside the TTL (StreamingSpec pins both the drop and the
    * re-admit on a real clock).
    */
  def exactDedupDocs(docs: DataFrame, idleTtl: Option[String] = None): Dataset[DocRow] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("lang"), col("doc_id"), col("text"),
        xxhash64(col("text")).as("h64"),
        md5(col("text").cast("binary")).as("h128"),
        length(col("text")).as("len"))
      .as[CkDoc]
      .groupByKey(d => (d.h64, d.h128, d.len))
      .flatMapGroupsWithState[Long, DocRow](
        OutputMode.Append, StateTtl.conf(idleTtl)) {
        (_: (Long, String, Int), rows: Iterator[CkDoc], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: drop the ledger entry. No emit — the
            // NEXT copy of this text re-enters the branch below and is
            // re-admitted (the documented TTL contract).
            state.remove()
            Iterator.empty
          } else {
            val now = state.getCurrentProcessingTimeMs()
            val admit = state.getOption.forall(StateTtl.lapsed(_, now, idleTtl))
            state.update(now) // every arrival refreshes the clock
            idleTtl.foreach(state.setTimeoutDuration)
            if (!admit) Iterator.empty
            else {
              val first = rows.minBy(_.doc_id)
              Iterator.single(DocRow(first.lang, first.doc_id, first.text))
            }
          }
      }
  }

  case class PhashHit(band: Int, key: Long, media_id: Long, dhash: Long)
  case class PhashDup(media_id: Long, anchor_id: Long, hamming: Int, band: Int)

  /** Streaming IMAGE near-dup detection — the streaming face of
    * `q_image_neardup` ([[graft.queries.PerceptualQueries]]), with the
    * REAL codec in the stream: each micro-batch row carries PNG bytes,
    * decoded per-row by `javax.imageio` inside a map-only projection
    * (bytes never enter state or a shuffle — only the 56-bit dHash and
    * its four 14-bit band keys leave the scan).
    *
    * Unlike [[nearDupCandidates]] this detector VERIFIES in-state: a
    * band bucket's state is its anchor's (id, dhash), so a later
    * arrival computes the exact hamming distance against the anchor and
    * emits only true near-dups (hamming ≤ 3) — the pigeonhole recall
    * guarantee of the 4×14 banding carries over verbatim, and the
    * verify stage costs one xor/popcount instead of a downstream join.
    * State per occupied bucket = two longs, bounded by distinct hashes
    * seen, not by stream length — content-identity class
    * ([[StateTtl]]): when a deployment needs a hard bound, the
    * `idleTtl` recipe of [[nearDupCandidates]] applies verbatim.
    */
  def imageNearDups(media: DataFrame): Dataset[PhashDup] = {
    import media.sparkSession.implicits._
    val dhashUdf = udf((png: Array[Byte]) =>
      graft.multimodal.Perceptual.dhash(graft.multimodal.Perceptual.blockSums(png)))
    val nb = graft.multimodal.Perceptual.NumBands
    val bb = graft.multimodal.Perceptual.BandBits
    media
      .select(col("media_id"), dhashUdf(col("bytes")).as("dhash"))
      .select(col("media_id"), col("dhash"),
        explode(sequence(lit(0), lit(nb - 1))).as("band"))
      .select(col("band"),
        expr(s"shiftright(dhash, band * $bb)").bitwiseAND(lit((1 << bb) - 1)).as("key"),
        col("media_id"), col("dhash"))
      .as[PhashHit]
      .groupByKey(h => (h.band, h.key))
      .flatMapGroupsWithState[(Long, Long), PhashDup](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), hits: Iterator[PhashHit], state: GroupState[(Long, Long)]) =>
          val arrivals = hits.toSeq.sortBy(_.media_id)
          val (anchorId, anchorHash) = state.getOption.getOrElse {
            val a = arrivals.head
            state.update((a.media_id, a.dhash)); (a.media_id, a.dhash)
          }
          arrivals.iterator
            .filter(_.media_id != anchorId)
            .map(h => PhashDup(h.media_id, anchorId,
              java.lang.Long.bitCount(h.dhash ^ anchorHash), key._1))
            .filter(_.hamming <= 3)
      }
  }
}
