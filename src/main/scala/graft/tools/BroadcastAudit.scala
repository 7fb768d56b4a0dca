package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Registry-wide forced-broadcast audit (round-13 verdict item 1).
  *
  * Builds EVERY registry plan with AQE off and
  * `autoBroadcastJoinThreshold = -1`, so the only BroadcastExchanges
  * left are the ones a `broadcast()` hint FORCES, and classifies each
  * forced operand's subtree into the boundedness classes the round-12
  * ledger established (Spark hard-fails a forced broadcast at 8 GB, so
  * any forced operand that scales with the corpus is a 100-TB query
  * killer even when sandbox receipts look fine):
  *
  *   - `scalar`   — zero-grouping-key aggregate below: provably 1 row.
  *   - `limit`    — a LIMIT-k / top-k operator below: provably ≤ k rows.
  *   - `local`    — leaves are LocalTableScan / small Range only:
  *                  a driver-side enum/constant spine, scale-invariant.
  *   - `UNBOUNDED`— none of the above; the class the gate must reject
  *                  unless the (query, operand) pair carries an
  *                  allow-list entry with a scaladoc'd cap.
  *
  * The reference analog: the only operand its scan ever "broadcasts" is
  * the single query vector (reference `vector-db.c:165-168`); everything
  * corpus-sized streams. This audit is the measurement half; the CI
  * gate in `PlanShapeSpec` ("registry-wide: every hint-forced broadcast
  * is provably bounded") is the enforcement half — both share
  * [[BroadcastAudit.classify]].
  */
object BroadcastAudit {

  /** Boundedness class of one forced-broadcast operand subtree. */
  def classify(raw: SparkPlan): String = {
    // a ReusedExchange leaf HIDES its referent subtree (q_psi's 1-row
    // counts sit behind one) — dereference before classifying
    val child = raw.transform {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r.child
    }
    val scalar = child.collectFirst {
      case h: HashAggregateExec if h.groupingExpressions.isEmpty => h
      case s: SortAggregateExec if s.groupingExpressions.isEmpty => s
      case o: ObjectHashAggregateExec if o.groupingExpressions.isEmpty => o
    }
    if (scalar.nonEmpty) return "scalar"
    val limited = child.collectFirst {
      case g: org.apache.spark.sql.execution.GlobalLimitExec => g
      case l: org.apache.spark.sql.execution.LocalLimitExec => l
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      case c: org.apache.spark.sql.execution.CollectLimitExec => c
    }
    if (limited.nonEmpty) return "limit"
    // constant spine: every leaf is a LocalTableScan (driver literal
    // enum) or a Range of bounded extent (≤ 1<<20 — the value-bounded
    // spines in the registry are ≤ 65536)
    val leaves = child.collectLeaves()
    val allLocal = leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case r: org.apache.spark.sql.execution.RangeExec => r.numElements <= BigInt(1 << 20)
      case _ => false
    }
    if (allLocal) return "local"
    // constant dims: every file scan reads only nation (25 rows) /
    // region (5 rows) — fixed-size at ANY TPC-H scale factor by spec
    val fileScans = child.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    val allDim = fileScans.nonEmpty && fileScans.forall { s =>
      val p = s.relation.location.rootPaths.mkString(",")
      p.contains("nation") || p.contains("region")
    } && leaves.forall {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case r: org.apache.spark.sql.execution.RangeExec => r.numElements <= BigInt(1 << 20)
      case _ => false
    }
    if (allDim) "dim" else "UNBOUNDED"
  }

  /** Stable signature of one forced-broadcast operand for the
    * allow-list: the sorted output column names. Column names survive
    * plan refactors that reorder or re-alias expression ids, so the
    * allow-list pins WHAT is broadcast without freezing the exact tree.
    */
  def signature(child: SparkPlan): String =
    child.output.map(_.name).sorted.mkString(",")

  // ---- documented cap classes (the round-12 hint ledger, executable) ----
  // Each constant is ONE boundedness argument, shared by every operand
  // in its class; the allow-list below binds (query, operand-signature)
  // pairs to these arguments. An operand not plan-provably bounded and
  // not listed here FAILS the registry-wide PlanShapeSpec gate.
  private val ProbeSet =
    "probe/query set: embeddings filtered to a literal vec_id list fixed by the " +
      "query definition (|Q| rows at any corpus scale), or per-probe derived rows ≤ k·|Q|"
  private val Centroids =
    "cluster centroids / per-cluster stats: grouped on a cluster id assigned by " +
      "k-means with k fixed by config — ≤ k rows regardless of corpus size"
  private val PqCodebook =
    "PQ codebook: grouped on (subspace m, code) with code = pmod(_,256) and m fixed " +
      "by config — ≤ 256·m rows by construction (artifact twin scans the persisted copy)"
  private val EnumAgg =
    "enum-keyed aggregate: grouping key is a bounded-domain attribute (event_type / " +
      "source / lang enum fixed by the data dictionary), never a row identity"
  private val DayGrid =
    "calendar spine: distinct days of the event horizon — grows with wall-clock time, " +
      "not with bytes ingested (≤ 36.5k rows per century)"
  private val QueryTerms =
    "document-frequency rows for the literal BM25 query-term list — ≤ |terms| rows"
  private val VocabCap =
    "trained tokenizer vocab: ≤ 256 + merges rows by construction (merge count fixed " +
      "by config; runtime-guarded by GraftLimits.requireBoundedVocab)"
  private val LenHistogram =
    "token-length histogram: cardinality ≤ max document token count (truncation-capped), " +
      "corpus-independent — the q_token_cdf rank-algebra spine"
  private val CmsGrid =
    "count-min sketch grid: keyed by (row r < depth, col b = pmod(_,width)) — ≤ depth·width " +
      "cells by construction"
  private val BloomBuckets =
    "bloom bucket set: distinct pmod(_,65536) values — ≤ 65536 rows by construction"

  /** (query name, input signature) → documented cap for UNPARTITIONED
    * Window operators — the OTHER single-point-of-collapse: an empty
    * partitionSpec funnels the whole input through ONE task. Every
    * entry names the rollup the window actually sees and why its
    * cardinality does not scale with corpus bytes. (Global SortExec is
    * NOT in scope: range-partitioned sorts parallelize.)
    */
  val WindowAllowed: Map[(String, String), String] = Map(
    ("q_changepoint", "day,n") ->
      "daily rollup: rows = horizon days (grows with wall-clock, not bytes)",
    ("q_burst_hours", "hr,n") ->
      "hourly rollup: rows = horizon hours",
    ("q_token_cdf", "cnt,n") ->
      "token-length histogram: ≤ max document token count (the q_token_cdf rank spine)",
    ("q_skyline_select", "n_tok,qt") ->
      ("token-length histogram: the skyline frontier spine rides distinct doc lengths " +
        "(≤ max document token count, truncation-capped) — corpus-independent"),
    ("q_mix_waterfill", "avail,source") ->
      "per-source token inventory: ≤ |sources| rows (enum-keyed aggregate output)",
    ("q_mix_waterfill", "avail,rn,source") ->
      "per-source token inventory: ≤ |sources| rows (enum-keyed aggregate output)",
    ("q_budget_select", "bucket_tokens,n_docs,score_bp") ->
      "score-bucket rollup: ≤ 10001 basis-point buckets by construction",
    ("q_quality_auc", "logit,n,npos") ->
      "logit-grid rollup: bounded by the scorer's integer quantization grid",
    // q_zipf_fit's vocabulary rank window — formerly the one entry that
    // GREW (Heaps ~N^0.7) — was retired in round 13: the rank is the
    // same unique total order (cnt DESC, tok) computed by range-sort +
    // zipWithIndex, so the exact-fit semantics no longer need a window
    // at all. Every remaining entry is a genuinely bounded rollup.
  )

  /** (query name, operand signature) → documented boundedness cap.
    * The executable form of PLANS.md's forced-broadcast hint ledger.
    */
  val Allowed: Map[(String, String), String] = Map(
    ("q_hamming_topk", "qpack") -> ProbeSet, // vec_id = 0 equality: 1 row
    // the SQL-surface twin carries the same 1-row probe subquery, but
    // through spark.sql there is no broadcast hint to force — under
    // threshold -1 it plans as a cartesian whose probe side is this
    ("q_sql_surface", "qv") -> ProbeSet, // vec_id = 0 equality: 1 row
    ("q_ann_topk", "qid,qv") -> ProbeSet,
    ("q_ann_ndcg", "qid,qv") -> ProbeSet,
    ("q_ann_ndcg", "qid,qlabel,qv") -> ProbeSet,
    ("q_ann_lid", "qid,qv") -> ProbeSet,
    ("q_ann_lid", "dk,qid") -> ProbeSet, // k-th NN distance per probe: |Q| rows
    ("q_knn_recall", "qid,qv") -> ProbeSet,
    ("q_filtered_ann", "qid,tgt") -> ProbeSet,
    ("q_filtered_ann", "qid,qv,tgt") -> ProbeSet,
    ("q_hard_negatives", "qid,qlabel,qv") -> ProbeSet,
    ("q_pq_recall", "qcode,qd2,qid,qm") -> ProbeSet, // encoded probes: m·|Q| rows
    ("q_pq_recall", "eqid,qv") -> ProbeSet,
    ("q_ivfpq", "pcluster,qid") -> ProbeSet,
    ("q_ivfpq", "lqid,qcode,qd2,qm") -> ProbeSet,
    ("q_kmeans", "cluster,cv") -> Centroids,
    ("q_ann_serve_batch", "cluster,cv") -> Centroids, // 8-row serving codebook
    ("q_ann_serve_batch", "cluster,qid,qv") -> ProbeSet, // per-batch routed queries
    ("q_ann_rotate", "cluster,cv") -> Centroids, // per-version 8-row codebook
    ("q_ann_rotate", "cluster,qid,qv") -> ProbeSet, // per-batch routed queries
    ("q_ivfpq", "cluster,cv") -> Centroids,
    ("q_centroid_classify", "clabel,cv") -> Centroids,
    ("q_embed_outliers", "cluster,cv") -> Centroids,
    ("q_embed_outliers", "fcluster,fence_d2,n_vecs") -> Centroids,
    ("q_cluster_separation", "oc,oi,olabel") -> Centroids,
    ("q_cluster_separation", "l1,n_vecs,sum1") -> Centroids,
    ("q_embed_drift", "n_a,nalabel") -> Centroids,
    ("q_embed_drift", "n_b,nblabel") -> Centroids,
    ("q_silhouette", "c,i,olabel") -> Centroids,
    ("q_semdedup", "ccell,gv") -> Centroids,
    ("q_semdedup", "cluster,cv,parent") -> Centroids,
    ("q_semdedup_prune", "ccell,gv") -> Centroids,
    ("q_semdedup_prune", "cluster,cv,parent") -> Centroids,
    ("q_semdedup_recall", "ccell,gv") -> Centroids,
    ("q_semdedup_recall", "cluster,cv,parent") -> Centroids,
    ("q_pq_codes", "cm,code,cv") -> PqCodebook,
    ("q_pq_codes_artifact", "cm,code,cv") -> PqCodebook,
    ("q_pq_recall", "cm,code,cv") -> PqCodebook,
    ("q_ivfpq", "cm,code,cv") -> PqCodebook,
    ("q_outliers", "event_type,n,s1,s2") -> EnumAgg,
    ("q_mad_outliers", "event_type,med,n") -> EnumAgg,
    ("q_mad_outliers", "mad,mtype") -> EnumAgg,
    ("q_event_itemsets", "sa,t1") -> EnumAgg,
    ("q_event_transitions", "from_type,tot") -> EnumAgg,
    ("q_audience_overlap", "n_a,type_a") -> EnumAgg,
    ("q_quality_calibration", "source,thr_local") -> EnumAgg,
    ("q_source_kl", "ns,source") -> EnumAgg,
    ("q_shard_mix", "n_src,source") -> EnumAgg,
    ("q_langid_confusion", "lab_total,labeled_lang") -> EnumAgg,
    ("q_dau_stickiness", "d") -> DayGrid,
    ("q_bm25", "df,tok") -> QueryTerms,
    ("q_hybrid_rrf", "df,tok") -> QueryTerms,
    ("q_bpe_encode", "id,tok") -> VocabCap,
    ("q_seq_pack_bpe", "id,tok") -> VocabCap,
    ("q_token_cdf", "before,hn") -> LenHistogram,
    ("q_cms_sketch", "b,cnt,r") -> CmsGrid,
    ("q_bloom_prejoin", "b") -> BloomBuckets,
  )

  // ---- buffering-aggregate gate (round-13 aggkeys sweep, executable) ----

  /** Aggregate functions whose buffer grows with the GROUP, not a
    * constant/config cap: the builtin collectors plus the exact
    * element-buffering percentile family. Constant-buffer
    * TypedImperativeAggregates (percentile_approx, HLL/CMS sketches)
    * and capped/fixed-size typed Aggregators (CappedCollectAggregator,
    * GramAggregator — bounds declared at their class sites) are out of
    * scope by construction.
    */
  private val UnboundedBufferAggs = Set(
    "collect_list", "collect_set", "array_agg", "listagg",
    "percentile", "median", "mode")

  /** Every Final/Complete-mode aggregate in `plan` whose functions
    * include an unbounded-buffer collector: (signature, input child).
    * Signature = grouping key names + function names — stable across
    * expression-id churn, specific enough to pin WHAT is collected.
    */
  def bufferingAggs(plan: SparkPlan): Seq[(String, SparkPlan)] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
    plan.collect {
      case o: ObjectHashAggregateExec => (o.groupingExpressions, o.aggregateExpressions, o.child)
      case s: SortAggregateExec => (s.groupingExpressions, s.aggregateExpressions, s.child)
    }.flatMap { case (grouping, aggs, child) =>
      val fns = aggs.filter(ae => (ae.mode == Final || ae.mode == Complete) &&
          UnboundedBufferAggs.contains(ae.aggregateFunction.prettyName))
        .map(_.aggregateFunction.prettyName).distinct.sorted
      if (fns.isEmpty) None
      else {
        val keys = if (grouping.isEmpty) "<global>" else grouping.map(_.name).mkString(", ")
        Some((s"groupBy($keys) agg[${fns.mkString(",")}]", child))
      }
    }
  }

  private val PerEntityCollect =
    "per-entity collect: grouping key is a row-entity id (doc/user/session), so the " +
      "group is the entity's own rows — doc-keyed arrays are bounded by the truncation-" +
      "capped document length, user/session groups by the entity's bounded event set; " +
      "never corpus-wide"
  private val HourRollup =
    "hour-rollup input: the collect reads the per-(key, hour) count table, so the array " +
      "is horizon hours long — grows with wall-clock time, not bytes ingested"
  private val CapRecollect =
    "re-collect of the df-capped posting set: input rows per hash key ≤ cap+1 by the " +
      "CappedCollectAggregator upstream, so the array is O(cap) at any skew"
  private val RankLimited =
    "rank-limited collect: a row_number ≤ k filter (map-side WindowGroupLimit) bounds " +
      "the rows entering the collect to k per group"
  private val BandBucket =
    "LSH band-bucket collect (round-16 lshCandidates shape): per-group state is the " +
      "bucket's member-id list — Θ(bucket), while the candidate PAIRS the operator " +
      "exists to emit are Θ(bucket²), so the buffer is strictly dominated by the " +
      "query's own output class; the raw pair enumerators are the adjudicated " +
      "Θ(output) diagnostics, and the collapsed/df-capped variants bound bucket size " +
      "upstream (exact-dup collapse before any pair machinery). Pair EMISSION is " +
      "per-anchor since round 17 (posexplode + ordered slice of the shared array): " +
      "per-ROW state downstream of the aggregate is Θ(bucket) too — the former " +
      "flatten(transform(...)) built the whole Θ(bucket²) pair array as one row " +
      "value, an OOM/2^31-element exposure on a degenerate hot bucket (round-16 " +
      "ADVICE item)"

  /** (query name, aggregate signature) → documented bound for
    * unbounded-buffer collectors over UNPROVEN-bounded inputs. The
    * executable form of the round-13 aggkeys adjudication: a NEW
    * collect_list/collect_set/exact-percentile site over corpus-fed
    * input fails the registry gate until its bound is argued here.
    */
  val AggAllowed: Map[(String, String), String] = Map(
    ("q_overlap_join", "groupBy(doc_id) agg[collect_list]") -> PerEntityCollect,
    ("q_overlap_top", "groupBy(doc_id) agg[collect_list]") -> PerEntityCollect,
    ("q_ppjoin", "groupBy(doc_id) agg[collect_list]") -> PerEntityCollect,
    ("q_snm_blocking", "groupBy(doc_id) agg[collect_list]") -> PerEntityCollect,
    ("q_map_funcs", "groupBy(user_id) agg[collect_list]") -> PerEntityCollect,
    ("q_event_itemsets", "groupBy(user_id, session_window) agg[collect_set]") -> PerEntityCollect,
    ("q_ewma", "groupBy(event_type) agg[collect_list]") -> HourRollup,
    ("q_retention", "groupBy(user_id) agg[collect_set]") -> HourRollup,
    ("q_holt", "groupBy(event_type) agg[collect_list]") -> HourRollup,
    ("q_kmeans", "groupBy(cluster) agg[collect_list]") -> Centroids,
    ("q_centroid_classify", "groupBy(cluster) agg[collect_list]") -> Centroids,
    ("q_containment", "groupBy(h) agg[collect_list]") -> CapRecollect,
    ("q_ngram_jaccard", "groupBy(h) agg[collect_list]") -> CapRecollect,
    ("q_postings", "groupBy(tok) agg[collect_list]") -> RankLimited,
    ("q_minhash_lsh_pairs", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    ("q_minhash_est", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    ("q_edit_distance", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    ("q_neardup_collapsed", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    ("q_source_overlap", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    ("q_split_leakage", "groupBy(band, x, y) agg[collect_list]") -> BandBucket,
    // simhash band buckets — the same shape on (band, key). (The sign-
    // LSH embed family measured SLOWER under this rewrite — cheap pack
    // kernel, no chain to deduplicate — and keeps the codegen join over
    // a checkpointed pack; see Dedup.embeddingNearDupCandidates.)
    ("q_simhash_pairs", "groupBy(band, key) agg[collect_list]") -> BandBucket,
    ("q_triangle_count", "groupBy(band, key) agg[collect_list]") -> BandBucket,
    ("q_source_dup_matrix", "groupBy(band, key) agg[collect_list]") -> BandBucket,
  )

  /** The registry gate's PER-PLAN check, factored out of the
    * PlanShapeSpec sweep so the sweep and its ADVERSARIAL negative
    * tests (round-14: the gates' false-negative risk was untested)
    * exercise the exact same code path. `plan` must be built with AQE
    * off and `autoBroadcastJoinThreshold = -1` (so the only
    * BroadcastExchanges are hint-forced and unhinted bounded joins
    * surface as cartesians). Returns one offender line per violation,
    * naming the query, the offense class, and the operand signature:
    *
    *   - FORCED BROADCAST of an unproven-bounded operand
    *   - CARTESIAN of two unproven-bounded sides
    *   - UNBOUNDED-BUFFER AGG (collect_list / collect_set / exact
    *     percentile over unproven-bounded input)
    *   - UNPARTITIONED WINDOW over unproven-bounded input
    */
  def planOffenders(name: String, plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    def head(p: SparkPlan): String =
      p.treeString.linesIterator.take(12).mkString("\n")
    for (b <- plan.collect { case b: BroadcastExchangeExec => b }) {
      val cls = classify(b.child)
      val sig = signature(b.child)
      if (cls == "UNBOUNDED" && !Allowed.contains((name, sig)))
        out += s"$name FORCED BROADCAST of unbounded operand sig=[$sig]\n${head(b.child)}"
    }
    // cartesian products: legitimate ONLY when one side is provably
    // bounded (a corpus×corpus cartesian is a query killer at any
    // scale, and no allow-list can excuse one)
    for (c <- plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }) {
      def ok(s: SparkPlan) =
        classify(s) != "UNBOUNDED" || Allowed.contains((name, signature(s)))
      if (!ok(c.left) && !ok(c.right))
        out += s"$name CARTESIAN of two unbounded sides:\n${head(c)}"
    }
    for ((sig, child) <- bufferingAggs(plan)) {
      if (classify(child) == "UNBOUNDED" && !AggAllowed.contains((name, sig)))
        out += s"$name UNBOUNDED-BUFFER AGG $sig\n${head(child)}"
    }
    for (w <- plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w }) {
      val cls = classify(w.child)
      val sig = signature(w.child)
      if (cls == "UNBOUNDED" && !WindowAllowed.contains((name, sig)))
        out += s"$name UNPARTITIONED WINDOW over sig=[$sig]\n${head(w.child)}"
    }
    out.result()
  }

  /** One-line description of the operand for the audit report. */
  private def describe(raw: SparkPlan): String = {
    val child = raw.transform {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r.child
    }
    val leaves = child.collectLeaves().map {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        val tail = s.relation.location.rootPaths.map(_.getName).mkString("|")
        s"parquet($tail)"
      case l => l.nodeName
    }.distinct.mkString("+")
    s"sig=[${signature(child)}] leaves=$leaves"
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    var unbounded = 0
    val windowMode = args.drop(1).headOption.contains("windows")
    // winkeys: the PARTITIONED-window inventory — a window whose
    // partition key has few distinct values (lang, source, band) caps
    // parallelism at #groups even when the slope stays linear (one
    // task per group processes its whole group: the SNM
    // row_number-by-prefix class, which the empty-partitionSpec gate
    // cannot see). Prints every WindowExec's partition keys so hot-able
    // keys can be adjudicated by hand.
    val winKeysMode = args.drop(1).headOption.contains("winkeys")
    // aggkeys: the buffering-aggregate inventory — collect_list /
    // collect_set (and any TypedImperativeAggregate) keep EVERY input
    // value in the group's buffer, so partial aggregation shrinks
    // nothing and the final merge holds a whole group's values in ONE
    // task's heap. Grouped by a per-entity key (doc/user/token) the
    // buffer is entity-bounded; grouped by a few-valued key (lang,
    // event_type, source, band) it is Θ(corpus/#groups) — the same
    // hot-group class the winkeys sweep exposed for windows, but here
    // the failure is reducer OOM, not just a parallelism ceiling.
    // Prints every such aggregate's grouping keys + child signature
    // for hand adjudication (PLANS.md round 13).
    val aggKeysMode = args.drop(1).headOption.contains("aggkeys")
    for (q <- graft.SparkEntry.registry) {
      val t0 = System.nanoTime()
      try {
        val plan = q.fn(spark, sf).queryExecution.executedPlan
        if (winKeysMode) {
          for (w <- plan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.nonEmpty => w }) {
            val keys = w.partitionSpec.map(_.sql).mkString(", ")
            println(s"WINKEYS ${q.name}: partitionBy($keys) over [${signature(w.child)}]")
          }
          for (w <- plan.collect {
            case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w }) {
            val keys = w.partitionSpec.map(_.sql).mkString(", ")
            println(s"WINLIM  ${q.name}: partitionBy($keys)")
          }
        }
        if (aggKeysMode) {
          import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, TypedImperativeAggregate}
          for (a <- plan.collect {
            case o: ObjectHashAggregateExec => (o.groupingExpressions, o.aggregateExpressions, o.child)
            case s: SortAggregateExec => (s.groupingExpressions, s.aggregateExpressions, s.child)
          }) {
            val (grouping, aggs, child) = a
            // report the Final/Complete site only (each agg also plans a
            // Partial twin upstream — same keys, same functions)
            val buffering = aggs.filter(ae =>
              (ae.mode == Final || ae.mode == Complete) &&
                ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]])
            if (buffering.nonEmpty) {
              val keys = if (grouping.isEmpty) "<global>"
                else grouping.map(_.name).mkString(", ")
              val fns = buffering.map(_.aggregateFunction.prettyName).distinct.mkString(",")
              println(s"AGGKEYS ${q.name}: groupBy($keys) agg[$fns] over [${signature(child)}]")
            }
          }
          // gate view: unbounded-buffer collectors over unproven input
          for ((sig, child) <- bufferingAggs(plan)
               if classify(child) == "UNBOUNDED" &&
                 !AggAllowed.contains((q.name, sig)))
            println(s"AGG-UNLISTED ${q.name}: $sig over [${signature(child)}]")
        }
        if (windowMode) {
          // unpartitioned Window/global Sort audit: every such operator
          // funnels its whole input through ONE task — fine over a
          // bounded frame, a query killer over a corpus frame
          for (w <- plan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w }) {
            val cls = classify(w.child)
            if (cls == "UNBOUNDED")
              println(s"WINDOW ${q.name}: unpartitioned over [${signature(w.child)}]")
          }
          for (s <- plan.collect {
            case s: org.apache.spark.sql.execution.SortExec if s.global => s }) {
            val cls = classify(s.child)
            if (cls == "UNBOUNDED")
              println(s"SORT   ${q.name}: global sort over [${signature(s.child)}]")
          }
        }
        val bx = plan.collect { case b: BroadcastExchangeExec => b }
        val classes = bx.map { b =>
          val c = classify(b.child)
          if (c != "UNBOUNDED") c
          else if (Allowed.contains((q.name, signature(b.child)))) "allowed"
          else "UNBOUNDED"
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (classes.contains("UNBOUNDED")) {
          unbounded += 1
          println(f"UNBOUNDED $ms%8.0fms ${q.name}")
          for (b <- bx if classify(b.child) == "UNBOUNDED" &&
              !Allowed.contains((q.name, signature(b.child))))
            println(s"    ${describe(b.child)}")
        } else if (bx.nonEmpty)
          println(f"ok        $ms%8.0fms ${q.name} -> ${classes.mkString(",")}")
      } catch {
        case e: Throwable =>
          println(s"ERR       ${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
      }
    }
    println(s"\nqueries with UNBOUNDED forced broadcasts: $unbounded")
    spark.stop()
  }
}
