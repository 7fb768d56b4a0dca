package graft.streaming

import java.util.concurrent.TimeUnit
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.unsafe.types.UTF8String

/** REPO-WIDE STATE-RETENTION POLICY for every stateful streaming
  * ledger, stated in this one place: per-operator docs state their
  * OWN contract and point here for the classification.
  *
  * Every `*GroupsWithState` ledger in this engine falls into exactly
  * one of three classes, and the class — not the operator — decides
  * whether a TTL leg exists:
  *
  * '''1. Content-identity ledgers — unbounded on an endless crawl;
  * TTL is the sanctioned bound.''' State is keyed by content identity
  * (a hash of the text, an LSH bucket, a perceptual-hash band, a
  * blocking key), so on a 100-TB crawl it grows with distinct content
  * forever. These operators take an `idleTtl` parameter wired through
  * [[conf]]: `ProcessingTimeTimeout` drops any key idle past the TTL.
  * The CONTRACT CHANGE is explicit and identical across the class:
  * once a key expires, the next arrival re-anchors it, so the output
  * weakens from a global guarantee to the same guarantee "within any
  * TTL-wide window" — exact dedup becomes distinct-within-TTL, LSH
  * candidates become candidates-against-a-TTL-fresh-anchor, and
  * equality with the batch twin holds only when duplicate spacing fits
  * inside the TTL. Members: [[DedupStreams.exactDedupDocs]] (TTL
  * leg), [[DedupStreams.nearDupCandidates]] (the largest ledger —
  * Θ(occupied buckets); TTL leg),
  * [[DedupStreams.imageNearDups]] and [[LinkageStreams.linkagePairs]]
  * (same class, same `idleTtl` recipe applies verbatim when a
  * deployment needs it — their ledgers are strictly smaller than the
  * LSH one: Θ(distinct 56-bit hashes × 4 bands) and Θ(occupied
  * blocks)). Testing this class needs the continuous-trigger +
  * condition-polling harness (StreamingSpec "exact-dedup TTL"):
  * `processAllAvailable`/`Trigger.AvailableNow` NEVER settle under
  * `ProcessingTimeTimeout` because the engine keeps scheduling empty
  * batches to serve future timeouts — on a live stream those empty
  * batches are the eviction mechanism.
  *
  * RESTART CONTRACT: a restarted query runs no micro-batch until input
  * arrives, so timers that lapsed while the stream was down do not
  * fire on their own. Each class-1 ledger with a TTL leg therefore
  * holds its key's last-arrival processing time, and an arrival that finds it older
  * than the TTL ([[lapsed]]) treats the key as expired: it re-admits
  * (or re-anchors) and refreshes the time. Expiry is decided by
  * arrival, never by whether an empty batch happened to run; the
  * other lapsed keys leave the state store in the first batch that
  * runs after the restart.
  *
  * '''2. Domain-bounded ledgers — NoTimeout is correct, not a
  * compromise.''' State size is bounded by a config- or
  * topology-sized domain, independent of stream length: the packer's
  * one open block per shard ([[PackerStreams.packedBlocks]],
  * Θ(shards)), the manifest's running shard stats
  * ([[ManifestStreams.shardManifest]], Θ(shards)), the HLL register
  * file ([[SketchStreams.hllRegisters]], Θ(2^p)), the drift monitor's
  * per-type baselines and the heavy-hitter space-saving summary
  * ([[EventStreams.driftScores]], [[EventStreams.heavyHitters]] —
  * Θ(|event types|) and Θ(k)). Expiring these would silently corrupt
  * their output (a half-packed block, a reset sketch) to bound a thing
  * that is already bounded.
  *
  * '''3. Entity-history ledgers — TTL would delete the product.'''
  * State IS the queryable output: the SCD2 open interval per entity
  * ([[EventStreams.scd2Intervals]]), per-user running totals and Holt
  * levels ([[EventStreams.runningTotals]], [[EventStreams.holtLevels]]).
  * These grow with the ENTITY domain (users), not with content, and an
  * idle-TTL would emit wrong history the moment a dormant entity
  * returns (a reopened SCD2 interval, a reset total). The bound lives
  * upstream in entity retention policy (close-out tombstones /
  * archival), not in state eviction.
  */
object StateTtl {

  /** The timeout mode an `idleTtl` selects: `ProcessingTimeTimeout`
    * when a TTL is given (the operator must then call
    * `state.setTimeoutDuration(ttl)` on EVERY arrival — each arrival
    * refreshes the idle clock — and `state.remove()` in its
    * `hasTimedOut` branch), `NoTimeout` otherwise.
    */
  def conf(idleTtl: Option[String]): GroupStateTimeout =
    if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Whether a key last seen at `seenMs` has been idle past `idleTtl` at
    * processing time `nowMs` — the timer's own rule (a timeout fires
    * once `seen + ttl < now`), checked by the arrival itself. Never
    * true without a TTL.
    */
  def lapsed(seenMs: Long, nowMs: Long, idleTtl: Option[String]): Boolean =
    idleTtl.exists { ttl =>
      val ms = IntervalUtils.getDuration(
        IntervalUtils.stringToInterval(UTF8String.fromString(ttl)), TimeUnit.MILLISECONDS)
      seenMs + ms < nowMs
    }
}
