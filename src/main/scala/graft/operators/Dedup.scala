package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.HashExpressions.{polyHashFast, shingleHashesFast}
import graft.functions.VectorFunctions.packSignBits

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB posture):
  *  - exact dedup is a hash groupBy — one shuffle on the content key;
  *  - MinHash-LSH replaces the O(N²) similarity join with an equi-join on
  *    band keys (shuffle on small integer keys, candidates verified only
  *    within buckets);
  *  - SimHash pairs block on 6-bit bands of the 30-bit signature — by
  *    pigeonhole any pair within hamming distance 4 shares a band;
  *  - embedding near-dup blocks on sign-LSH bands of the packed sign
  *    bits — random-hyperplane LSH with OR-ed band tables, band width
  *    growing ~log2(N) per the sizing rule (defaults: 4 bands × 8 bits);
  *  - the exact n-gram join blocks on shared shingles (equi-join), the
  *    only exact method that avoids a cross join; at extreme scale
  *    prefer the LSH path and stop-shingle filtering.
  */
object Dedup {

  /** Target post-shuffle working set for object-agg stages whose task
    * memory is Θ(input / partitions) — the sizing rule the fused pair
    * backbone derives its exchange width from (see
    * [[ngramJaccardPairs]]). 64 MiB of estimated input per partition
    * keeps the reduce-side aggregation map comfortably inside a
    * default executor share even when the optimizer's estimate is a
    * few-x low (explode-stage stats are propagated, not recounted).
    */
  private val TargetAggBytesPerPartition: Long = 64L << 20

  /** Narrow CONTENT KEY for "group identical strings" operators:
    * (xxhash64, md5, length) — 192+ bits of independent evidence, so
    * key equality is document equality for any physically realizable
    * corpus (the content-addressed-storage convention; a collision
    * needs both a 64-bit and a 128-bit hash to collide at equal
    * length). The point is the SHUFFLE: grouping a 100-TB corpus by
    * raw text keys moves and compares multi-KB strings through every
    * exchange; the content key moves ~40 bytes and compares in a few
    * instructions. Probed at the third decade: q_dedup_cost's
    * text-keyed exact tier was the whale in its 1.36 decade slope.
    *
    * CAVEAT (adversarial corpora): this makes "exact duplicate" a
    * CONVENTION, not a guarantee — md5 collisions are constructible
    * and xxhash64 trivially so, so an adversary who controls document
    * bytes can forge a pair that collides on both components at equal
    * length. Chance collision stays negligible (a random corpus needs
    * ~2^96 docs), and the per-round DuckDB oracles group RAW TEXT, so
    * any collision on fixture-scale data surfaces as a correctness
    * failure rather than silent data loss. A pipeline that must be
    * collision-proof against hostile inputs should add a byte-equality
    * verify within each content-key group — implemented as
    * [[collisionAudit]] (one extra keyed pass; `q_dedup_audit`
    * oracle-checks the operator on a deliberately narrow key).
    */
  def contentKey(c: Column): Column =
    struct(xxhash64(c).as("h64"), md5(c.cast("binary")).as("h128"),
      length(c).as("len"))

  /** Exact duplicate groups on `keyCol`: (keep_id = min id, n_copies).
    * Groups on [[contentKey]] of the key column, not the raw string —
    * one NARROW shuffle at any document size.
    */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(contentKey(col(keyCol)).as("ck"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Byte-equality VERIFY pass for key-grouped dedup — the
    * hostile-input option the [[contentKey]] caveat names: given any
    * grouping key expression, returns the groups whose members are NOT
    * all byte-identical, i.e. key collisions that would silently merge
    * distinct documents. One keyed aggregate; the min/max pair of the
    * raw string per key is the collision witness (a group is uniform
    * iff min == max), so the raw text crosses the exchange once as
    * agg PAYLOAD — partial aggregation keeps per-partition state to
    * two strings per key, and the output is empty on honest corpora.
    * Run it after (or beside) the content-key dedup when inputs are
    * adversarial; an empty result certifies the narrow-key dedup was
    * exact BYTE equality on this corpus, not just hash equality.
    */
  def collisionAudit(df: DataFrame, keyExpr: Column, textCol: String): DataFrame =
    df.groupBy(keyExpr.as("k"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(textCol)).as("lo"), max(col(textCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select(col("k"), col("n_docs"))

  /** Exploded distinct shingle table: (id, s). */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingles(tokens(col(textCol)), n)).as("s"))

  /** Exploded distinct shingle-HASH table: (id, h) — the scale form. All
    * pair joins and Jaccard counts run in the 61-bit hash space: long
    * join keys shuffle and compare far cheaper than shingle strings, and
    * the hashes come from one codegen kernel (no string materialization).
    */
  def shingleHashTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(shingleHashesFast(tokens(col(textCol)), n)).as("h"))

  /** Per-document SORTED shingle-hash SET: (id, hset) — the map-side
    * form of [[shingleHashTable]]. One row per document, no
    * explode, so both LSH stages that consume shingles per-document —
    * signatures ([[minhashFromSets]]) and pair verification
    * ([[jaccardForPairsSets]]) — run with NO corpus exchange at all;
    * the only shuffles left in the LSH family are the band equi-join
    * and the candidate distinct. Docs with zero shingles are dropped,
    * matching the exploded-groupBy semantics (they had no rows).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
        sort_array(shingleHashesFast(tokens(col(textCol)), n)).as("hset"))
      .filter(size(col("hset")) >= 1)

  /** MinHash signatures over a shingle-hash table (id, h): (id, m0..m7). */
  def minhashSignatures(hs: DataFrame, idCol: String): DataFrame = {
    hs.groupBy(col(idCol))
      .agg(MinhashSeeds.head match {
        case (a, b) => min(minhashPerm(col("h"), a, b)).as("m0")
      }, MinhashSeeds.tail.zipWithIndex.map { case ((a, b), j) =>
        min(minhashPerm(col("h"), a, b)).as(s"m${j + 1}")
      }: _*)
  }

  /** MinHash signatures from per-doc shingle sets — the map-side twin of
    * [[minhashSignatures]]: one codegen kernel computes all 8 permuted
    * mins inside the scan projection (same integer math, same m0..m7
    * schema), where the groupBy form shuffled the whole shingle table.
    */
  def minhashFromSets(sets: DataFrame, idCol: String): DataFrame =
    sets.select(col(idCol),
        graft.functions.HashExpressions.minhashSigFast(col("hset")).as("sig"))
      .select(Seq(col(idCol)) ++ (0 until 8).map(i => col(s"sig.m$i").as(s"m$i")): _*)

  /** (id, band, x, y) band rows from 8-value signatures — ONE
    * `posexplode` pass over the signature frame. The previous 4-way
    * `unionAll` of per-band projections replicated the entire upstream
    * signature subtree (scan → shingle kernel → groupBy) 4× per side in
    * the physical plan (no exchange reuse fires across the differing
    * projections); the explode form computes signatures once and emits
    * the same 4 rows per id.
    */
  private def bandRows(sig: DataFrame, idCol: String, as: String): DataFrame =
    sig.select(col(idCol).as(as),
      posexplode(array((0 until 4).map(b =>
        struct(col(s"m${2 * b}").as("x"), col(s"m${2 * b + 1}").as("y"))): _*))
        .as(Seq("band", "xy")))
      .select(col(as), col("band"), col("xy.x").as("x"), col("xy.y").as("y"))

  /** LSH candidate pairs from 8-value signatures, 4 bands of 2 rows:
    * (ida, idb) with ida < idb, distinct.
    *
    * SHAPE (guide §2.4): one BUCKET AGGREGATE, not a banded
    * self-join. The join form shuffled the band rows TWICE (once per
    * side) and computed the entire signature chain (scan → shingle
    * kernel → minhash) twice — no exchange reuse fires across the
    * differently-aliased sides. Grouping by (band, x, y) shuffles the
    * band rows ONCE, computes signatures once, and emits each bucket's
    * ordered 2-combinations map-free; `sort_array` makes ida < idb by
    * construction. Aggregate state is Θ(bucket) ids — linear in the
    * bucket, where the join's OUTPUT is already Θ(bucket²) by
    * definition, so the collect does not change the asymptotic cost
    * class (and the collapsed variants bound bucket size upstream).
    */
  def lshCandidates(sig: DataFrame, idCol: String): DataFrame =
    bandRows(sig, idCol, "id")
      .groupBy("band", "x", "y")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      // PER-ANCHOR emission: posexplode the bucket once and
      // slice each anchor's ordered partners from the shared array —
      // per-row state stays Θ(bucket). A single
      // flatten(transform(...)) would materialize the bucket's ENTIRE
      // Θ(bucket²) pair array as one row value before exploding, which
      // on a degenerate hot bucket risks executor OOM / the 2^31
      // array-element cap where the streamed form merely runs long.
      .select(col("ids"), posexplode(col("ids")).as(Seq("pos", "ida")))
      .select(col("ida"), explode(slice(col("ids"), col("pos") + lit(2),
        size(col("ids")) - col("pos") - lit(1))).as("idb"))
      .select(col("ida"), col("idb")).distinct()

  /** LSH candidate pairs between a NEW batch and an existing corpus —
    * incremental dedup (dedup a fresh crawl against the standing
    * dataset). Same banded equi-join as [[lshCandidates]], but the two
    * sides are different tables, so the corpus side can be a
    * pre-materialized signature index that each new batch joins against
    * — the batch side is small, the corpus signatures shuffle once when
    * built, not per batch.
    */
  def lshCandidatesAcross(sigNew: DataFrame, sigCorpus: DataFrame,
                          idCol: String): DataFrame =
    bandRows(sigNew, idCol, "ida")
      .join(bandRows(sigCorpus, idCol, "idb"), Seq("band", "x", "y"))
      .select("ida", "idb").distinct()

  /** Verified Jaccard for candidate pairs against the shingle-hash
    * table. Inner-join semantics: zero-intersection candidates drop out.
    *
    * PAIR-ARRAY FETCH, not posting re-join: joining the candidate pairs
    * back to the posting table on each side and aggregating the matches
    * is linear, but with a |doc|-row amplification PER PAIR (~27x) and a
    * pair-keyed aggregate shuffle on the amplified stream; at the
    * 100x/15 GB replica that half-billion-row intermediate spilled and
    * `q_overlap_join`'s measured decade slope hit 1.73 despite every
    * logical count scaling exactly linearly. This form fetches each
    * doc's SORTED hash set once per side (two hash joins, one row per
    * pair end-to-end) and counts the intersection with a merge-walk
    * kernel ([[graft.functions.HashKernels.sortedIntersectCount]]) —
    * no row amplification, no aggregate: re-probed slope 0.2-0.3.
    * `hs` is distinct per (id, h) (shingleHashesFast emits sets), so
    * the sorted arrays are set representations and |a∩b| is exact.
    */
  def jaccardForPairs(pairs: DataFrame, hs: DataFrame, idCol: String): DataFrame =
    jaccardForPairsSets(pairs,
      hs.groupBy(col(idCol)).agg(sort_array(collect_list(col("h"))).as("hset")),
      idCol)

  /** [[jaccardForPairs]] over per-doc sorted sets directly — pair this
    * with [[shingleSets]] and the verify stage needs no corpus
    * aggregation at all (the groupBy in the `hs` overload exists only
    * for callers that already hold the exploded table).
    */
  def jaccardForPairsSets(pairs: DataFrame, sets: DataFrame, idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("ida"), col("hset").as("ha")), "ida")
      .join(sets.select(col(idCol).as("idb"), col("hset").as("hb")), "idb")
      .select(col("ida"), col("idb"),
        graft.functions.HashExpressions.sortedIntersectCountFast(
          col("ha"), col("hb")).as("i"),
        size(col("ha")).cast("long").as("ca"),
        size(col("hb")).cast("long").as("cb"))
      .filter(col("i") >= 1)
      .withColumn("jaccard",
        col("i").cast("double") / (col("ca") + col("cb") - col("i")))

  /** The near-duplicate rule of every MinHash query: candidate pairs
    * verified against the exact shingle sets, kept at Jaccard ≥ 0.2.
    */
  def verifiedPairs(pairs: DataFrame, sets: DataFrame, idCol: String): DataFrame =
    jaccardForPairsSets(pairs, sets, idCol).filter(col("jaccard") >= 0.2)

  /** MinHash → LSH band candidates → [[verifiedPairs]] over the per-id
    * sorted sets (idCol, hset) of [[shingleSets]].
    */
  def minhashPairs(sets: DataFrame, idCol: String): DataFrame =
    verifiedPairs(lshCandidates(minhashFromSets(sets, idCol), idCol), sets, idCol)

  /** Exact n-gram Jaccard pairs at/above a threshold, blocked on shared
    * shingle hashes (never a cross join). The intersection count falls
    * directly out of the blocking join — one self-join total, no
    * candidate materialization + re-join round trip.
    *
    * `maxDocFreq` caps the blocking: shingles appearing in more than
    * that many documents are excluded from BOTH the join and the
    * cardinalities. The blocking join is quadratic in per-shingle
    * document frequency (measured slope 2.2 on a 10x replica without the
    * cap), and corpus-stopword shingles carry no dedup signal — the
    * standard prefix-filtering tradeoff, replicated identically in the
    * oracle.
    */
  def ngramJaccardPairs(hs: DataFrame, idCol: String, threshold: Double,
                        maxDocFreq: Int = 64): DataFrame = {
    // ONE corpus exchange, not three: the unfused shape counts df per
    // h (exchange 1), anti-joins the hot keys off the shingle table,
    // re-aggregates the kept rows per doc for cardinalities (exchange
    // 2), and groups by h again for pair generation (exchange 3). The fusion: a single groupBy(h) whose aggregate
    // ([[TypedOps.CappedCollectAggregator]]) carries the EXACT df and
    // at most cap+1 collected ids — a hot corpus-stopword shingle
    // buffers O(cap) bytes instead of its whole posting list, which is
    // what made fusing the df-cap into the collect safe at any skew.
    // Both downstream consumers — per-doc cardinalities and pair
    // emission — hang off this ONE aggregate, so the corpus-sized
    // exchange is written once and the second consumer reads it back
    // through a ReusedExchange (plan-asserted in PlanShapeSpec).
    val cappedCollect = org.apache.spark.sql.functions.udaf(
      new TypedOps.CappedCollectAggregator(maxDocFreq),
      org.apache.spark.sql.Encoders.scalaLong)
    // PARTITION SIZING: the post-shuffle object-agg task holds a map
    // over its share of the shingle keyspace, so its working set is Θ(corpus / partitions) —
    // a fixed session partition count that served one decade OOMs at
    // the next (measured: 1000x dies at the 100x-sized p=16 with
    // UNABLE_TO_ACQUIRE_MEMORY, completes at p=160). AQE sizes stages
    // AFTER seeing map output; it cannot rescue an aggregate whose
    // reduce-side build already exceeds memory. So the backbone derives
    // its own floor from the optimizer's size estimate and widens the
    // aggregate exchange when the session default is too coarse: an
    // explicit hash repartition on h that the groupBy(h) then reuses
    // (HashPartitioning(h) satisfies the aggregate's required
    // distribution — still ONE corpus exchange, plan-asserted). In the
    // widened regime partial aggregation runs above the exchange, i.e.
    // no map-side combine — which this threshold-0 backbone never
    // profited from anyway (shingle hashes are mostly unique; ledger:
    // "the exchanges were never the 1x cost").
    val sizeEst = hs.queryExecution.optimizedPlan.stats.sizeInBytes
    val minParts =
      (sizeEst / TargetAggBytesPerPartition).min(65536).toInt + 1
    val sessionParts = hs.sparkSession.sessionState.conf.numShufflePartitions
    val keyed = if (minParts > sessionParts) hs.repartition(minParts, col("h"))
      else hs
    val groups = keyed.groupBy(col("h"))
      .agg(cappedCollect(col(idCol)).as("g"))
      .filter(col("g.n") <= maxDocFreq)
      .select(col("h"), col("g.ids").as("ids"))
    // CARDINALITY RIDES THE PAIR KEY. Joining per-doc cardinalities
    // onto the pair stream would re-shuffle, at threshold 0, the
    // Θ(pairs) stream TWICE more after its groupBy
    // (measured at the third decade: 1.16B pairs, ~32 GB per extra
    // exchange, the whole cost of the query's tail). Instead the
    // posting table (Θ(postings), 4.5x smaller here and smaller still
    // at higher dup rates) picks up its doc's kept-cardinality c and
    // packs it into the low 16 bits of the id; the pair groupBy keys
    // on the PACKED ids, so (ca, cb) arrive with the pair for free and
    // the pair stream crosses exactly ONE exchange. Preconditions —
    // id < 2^47 and per-doc kept cardinality < 2^16 — are runtime-
    // asserted in the packing projection (the coalesce keeps
    // assert_true in the value path so pruning cannot drop it).
    // cardinality via a count-over-window on the posting table — NOT a
    // separate card branch + join: a second consumer of the posting
    // subtree defeats exchange reuse (measured: the join form planned
    // TWO corpus scans, re-running tokenize+shingle+capped-collect
    // twice), while the window keeps the whole backbone one linear
    // chain with a single corpus scan.
    val posting = groups.select(col("h"), explode(col("ids")).as("id"))
    val packed = posting
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .select(col("h"),
        (shiftleft(col("id"), 16) + col("c") + coalesce(
          assert_true(col("c") <= 65535L && col("id") < (1L << 47),
            lit("ngramJaccardPairs: id or per-doc cardinality exceeds packing bounds"))
            .cast("long"), lit(0L))).as("pid"))
    // regroup by h: ≤cap pids per group (df-cap bounds every array) —
    // pairs then explode MAP-SIDE via the sorting codegen kernel
    // (packed order == id order: id occupies the high bits), and the
    // groupBy(pa, pb) partial aggregate is plain codegen HashAggregate
    // on two long keys, cardinalities embedded.
    val inter = packed.groupBy("h").agg(collect_list(col("pid")).as("pids"))
      .select(explode(
        graft.functions.HashExpressions.orderedPairsFast(col("pids"))).as("p"))
      .select(col("p.ida").as("pa"), col("p.idb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("i"))
    inter
      .select(shiftright(col("pa"), 16).as("ida"),
        shiftright(col("pb"), 16).as("idb"), col("i"),
        col("pa").bitwiseAND(lit(65535L)).as("ca"),
        col("pb").bitwiseAND(lit(65535L)).as("cb"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("ca") + col("cb") - col("i")))
      .filter(col("jaccard") >= threshold)
  }

  /** 30-bit SimHash over token hashes (majority vote per bit):
    * (id, simhash). FIXTURE-ONLY: its pair stream floods at corpus scale (15-bit band keyspace saturates past
    * ~2^15 docs; measured decade 3.85 / 141M hamming<=1 pairs at 5M
    * docs, 99.84% rejected by the wider signature) — every registry
    * query and graph consumer now builds on [[simhashWide]]. Kept as
    * the property-tested kernel reference and for narrow-signature
    * audits.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // map-side kernel: the explode → groupBy(30 bit-sums)
    // formulation pushed every token occurrence through a doc-keyed
    // 31-column aggregate shuffle; the per-bit majority vote is a pure
    // per-document function, so it now runs inside the scan projection —
    // the signature stage has NO exchange at any scale.
    df.select(col(idCol),
      graft.functions.HashExpressions.simhashFast(tokens(col(textCol))).as("simhash"))

  /** 60-bit dual-family SimHash (low 30 bits: 31-multiplier token
    * hashes; high 30: the 37-multiplier audit partner): (id, simhash).
    * The width buys two things at corpus scale (decomposed at the
    * third decade, PLANS.md): 30-bit band keys whose collision mass
    * n²·2/2^bandBits stays negligible to ~10^9 docs (15-bit bands
    * saturate near 2^15), and a tighter hamming<=1 match (at 5M docs
    * the 30-bit family's pair flood is 99.84% rejected by the 60-bit
    * check). Map-side kernel, no exchange.
    */
  def simhashWide(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.HashExpressions.simhashDualFast(tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs: block on 2 bands of `bandBits` bits
    * (catches every pair with hamming <= 1 by pigeonhole; wide bands
    * keep bucket sizes small on homogeneous corpora), verify
    * hamming <= maxHamming. Band width must scale with the signature:
    * 15 for the 30-bit [[simhash]], 30 for [[simhashWide]].
    */
  /** Pairs travel as BARE LONGS end to end — labels rejoin afterwards
    * via broadcast of the (small) pair stream. Measured at the third
    * decade: carrying a label column through the band join widened the
    * candidate distinct and ran 1.9x slower than the rejoin shape.
    */
  def simhashPairs(sig: DataFrame, idCol: String, maxHamming: Int,
                   bandBits: Int = 15): DataFrame = {
    // one posexplode pass — a per-band unionAll would replicate the
    // signature projection per band per join side.
    // SHAPE (as in lshCandidates): one BUCKET AGGREGATE on
    // (band, key) instead of a banded self-join — the join form shuffled
    // the band rows twice and computed the signature chain (the 60-sum
    // simhash aggregate) twice. Per-group state is Θ(bucket) (id, sig)
    // pairs, strictly dominated by the operator's own Θ(bucket²) pair
    // output; hamming is computed inside the combination transform.
    val bands = sig.select(col(idCol).as("id"), col("simhash"),
      posexplode(array((0 until 2).map(b =>
        shiftright(col("simhash"), bandBits * b)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*))
        .as(Seq("band", "key")))
    bands.groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col("id"), col("simhash").as("sh")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      // per-anchor emission, Θ(bucket) per-row state — see
      // [[lshCandidates]] (the single flattened pair array risked OOM /
      // the 2^31 array cap on a degenerate hot bucket)
      .select(col("xs"), posexplode(col("xs")).as(Seq("pos", "a")))
      .select(col("a"), explode(slice(col("xs"), col("pos") + lit(2),
        size(col("xs")) - col("pos") - lit(1))).as("b"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding near-dup pairs via random-hyperplane (sign) LSH: pack 32
    * sign bits, block on 4 bands of 8 bits. Candidates travel as bare
    * (ida, idb) pairs through the band join and distinct — the vectors
    * rejoin only afterwards (carrying array columns through the pair
    * shuffle costs ~1 KB/row and dominated runtime before this split;
    * at scale AQE broadcast-joins the vector side when it fits).
    */
  /** The sizing rule itself, as pure integer arithmetic both engines can
    * replay exactly: the smallest band width `b` whose expected bucket
    * size N/2^b is at most `targetBucket`, i.e. min b with
    * 2^b * targetBucket >= n. Expected verified candidates then grow as
    * N * targetBucket * nBands / 2 — linear in the corpus — while any
    * FIXED width goes quadratic once N²/2^bits passes corpus size
    * (measured: slope 16.6 at 30x for pinned 8-bit bands, 0.41 when the
    * width follows this rule). Capped at 62/nBands so the band pack
    * stays inside a BIGINT ([[embeddingNearDupCandidates]]'s require).
    */
  def scaledBitsPerBand(n: Long, targetBucket: Long = 32, nBands: Int = 4): Int =
    (1 to 62 / nBands).find(b => (1L << b) * targetBucket >= n)
      .getOrElse(62 / nBands)

  def embeddingNearDupCandidates(df: DataFrame, idCol: String, vecCol: String,
                                 bitsPerBand: Int = 8, nBands: Int = 4): DataFrame = {
    // Sizing rule: expected bucket pairs grow as N²/2^bitsPerBand per
    // band, so bitsPerBand must scale ~log2(N/targetBucket) — measured
    // slope 12 on a 10x replica with 4-bit bands, ~linear (1.0) with
    // the 8-bit bands used here, sublinear again when bands grow with
    // the corpus (q_embed_neardup_scaled + [[scaledBitsPerBand]]). Narrower bands
    // buy recall at moderate similarity but grow bucket pairs
    // ~quadratically — the 4-bit config is a scale-killer and is
    // deliberately NOT the default. The pack is exactly
    // bitsPerBand*nBands sign bits (≤ 62: BIGINT fold, see packSignBits).
    require(bitsPerBand * nBands <= 62, "pack holds at most 62 sign bits")
    val mask = (1L << bitsPerBand) - 1
    val packed = df.select(col(idCol).as("id"),
      packSignBits(col(vecCol), bitsPerBand * nBands).as("pack"))
    // one posexplode pass over the packed column (not a per-band
    // unionAll, which would re-scan + re-pack per band per join side)
    // The bucket-aggregate rewrite that won for the minhash/
    // simhash families was MEASURED SLOWER here (ABAB subset bench:
    // q_embed_neardup 0.44 → 0.66 s) — the sign
    // pack is one cheap codegen kernel over a narrow frame, so there is
    // no expensive chain to deduplicate, and the collect+HOF emission
    // trades a codegen join for an interpreted ObjectHashAggregate.
    // Instead the packed frame is materialized once (id + one long) so
    // the kernel runs once and BOTH band sides read it — the join stays
    // whole-stage-codegen (durability: the PLANS.md ledger class of
    // lineage-severed, non-replicated frames).
    val packedCp = packed.localCheckpoint()
    val bands = packedCp.select(col("id"),
      posexplode(array((0 until nBands).map(b =>
        shiftright(col("pack"), bitsPerBand * b).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "key")))
    val a = bands.select(col("id").as("ida"), col("band"), col("key"))
    val bb = bands.select(col("id").as("idb"), col("band"), col("key"))
    val pairs = a.join(bb, Seq("band", "key"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val va = df.select(col(idCol).as("ida"), col(vecCol).as("va"))
    val vb = df.select(col(idCol).as("idb"), col(vecCol).as("vb"))
    pairs.join(va, "ida").join(vb, "idb").select("ida", "idb", "va", "vb")
  }
}
