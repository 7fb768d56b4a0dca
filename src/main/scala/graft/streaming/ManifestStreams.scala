package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions.polyHash

/** Streaming shard-manifest maintenance — the unbounded-stream face of
  * `q_shard_manifest` ([[graft.queries.MixingQueries]]): as
  * documents arrive, each shard's standing integrity record (count,
  * token mass, XOR of content hashes, id range) is folded forward and
  * re-emitted, so a continuously-ingested corpus always has a current
  * 16-row manifest to certify replicas against.
  *
  * Semantics note, and the reason this lives next to
  * [[SketchStreams]]: HLL registers merge by MAX, which is idempotent —
  * an at-least-once source that replays a micro-batch cannot corrupt
  * them. XOR is commutative and associative (any partitioning of the
  * stream gives the same manifest — asserted in StreamingSpec) but NOT
  * idempotent: a replayed document flips its bits back out. The fold
  * therefore requires the source's exactly-once contract (file /
  * checkpointed sources in Structured Streaming), and the Scaladoc
  * contract is explicit about it — at 100 TB you run manifests inside
  * the checkpointed pipeline, never on a raw at-least-once feed.
  *
  * State per shard = five longs FOREVER; emissions carry `seq` (the
  * per-shard update counter) so a consumer — or the spec — can select
  * each shard's latest snapshot without ordering assumptions.
  */
object ManifestStreams {

  case class DocRow(shard: Long, doc_id: Long, h: Long, nt: Long)
  case class ShardState(n_docs: Long, n_tokens: Long, xor_hash: Long,
                        min_id: Long, max_id: Long, seq: Long)
  case class ShardManifest(shard: Long, n_docs: Long, n_tokens: Long,
                           xor_hash: Long, min_id: Long, max_id: Long, seq: Long)

  /** Fold a document stream (doc_id, text) into per-shard manifest
    * snapshots, one emission per shard per micro-batch (Update mode).
    */
  def shardManifest(docs: DataFrame): Dataset[ShardManifest] = {
    import docs.sparkSession.implicits._
    docs
      .select(pmod(col("doc_id"), lit(16L)).as("shard"), col("doc_id"),
        polyHash(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .as[DocRow]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[ShardState, ShardManifest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[DocRow], state: GroupState[ShardState]) =>
          val rs = rows.toSeq
          val prev = state.getOption.getOrElse(
            ShardState(0L, 0L, 0L, Long.MaxValue, Long.MinValue, 0L))
          val next = ShardState(
            prev.n_docs + rs.length,
            prev.n_tokens + rs.map(_.nt).sum,
            rs.foldLeft(prev.xor_hash)(_ ^ _.h),
            math.min(prev.min_id, rs.map(_.doc_id).min),
            math.max(prev.max_id, rs.map(_.doc_id).max),
            prev.seq + 1)
          state.update(next)
          Iterator.single(ShardManifest(shard, next.n_docs, next.n_tokens,
            next.xor_hash, next.min_id, next.max_id, next.seq))
      }
  }
}
