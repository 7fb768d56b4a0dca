package graft

import graft.tools.ScaleProbe

/** CI gate for scale slopes: recomputes 10x probe slopes for the
  * heaviest registry queries and fails if any goes super-linear. A plan
  * regression — losing a WindowGroupLimit, a broadcast turning into a
  * shuffle, an accidental all-pairs join — shows up here as slope >> 1
  * (a quadratic at 10x probes ~10), so the build breaks instead of just
  * the PLANS.md narrative. Thresholds are deliberately loose (1.5)
  * against machine-load variance; the sf0.01 base further biases slopes
  * DOWN (fixed per-query overheads inflate t_1x), so a failure here is a
  * real mechanism regression, not noise.
  *
  * The replica is the perturbed-text model (10x bigger corpus, same dup
  * rate) — the honest scale model for pairwise detectors; a verbatim
  * replica would be ~90% exact dups and output-bound by construction
  * (PLANS.md round-4 note).
  */
class ScaleSlopeSpec extends SparkSpec {

  private val factor = 10
  private val src = "/root/testdata/sf0.01"
  private val dst = s"/tmp/graft_scale_sf001_x${factor}_pt"

  // the five heaviest queries by round-4 bench, all with documented
  // sublinear slopes; 1.5 = "still clearly not quadratic" with margin
  private val thresholds = Seq(
    "q_dedup_groups" -> 1.5,
    "q_ngram_jaccard" -> 1.5,
    "q_dup_histogram" -> 1.5,
    "q_hybrid_rrf" -> 1.5,
    "q_simhash_pairs" -> 1.5,
    // round-6 lessons: both were rewritten after super-linear first
    // probes (dup-ngram's shingle-sized self-join; knn-graph's fixed
    // band width) — pinned here so the rewrites can't silently regress
    "q_dup_ngram_frac" -> 1.5,
    "q_knn_graph" -> 1.5,
    // round-7 additions: the two former `weak` plans (token-cdf's
    // global ntile → histogram ranks; cooccur-pmi's per-doc pair join →
    // windowed map-side emission) plus the remaining heavyweights whose
    // slopes previously lived only in PLANS.md narrative
    "q_token_cdf" -> 1.5,
    // round-13: the exact Zipf fit's rank moved off the global
    // vocabulary window onto range-sort + zipWithIndex — pinned on the
    // vocab-growing replica so the rank can't regress to a one-task
    // sort (the q_bpe_encode round-10 whale class)
    "q_zipf_fit" -> 1.5,
    "q_cooccur_pmi" -> 1.5,
    "q_containment" -> 1.5,
    "q_semdedup" -> 1.5,
    "q_source_overlap" -> 1.5,
    // round-7 batch: the df-capped tf-idf postings join is the one new
    // pair generator (0.31 perturbed at sf0.1 10x when added)
    "q_tfidf_neardup" -> 1.5,
    // round-7 batch 3: the SemDeDup apply step rides the same pair
    // stream as the mine step (0.12 at 100x perturbed when added) —
    // pinned so the shared-CTE refactor can't regress either leg
    "q_semdedup_prune" -> 1.5,
    // round-7 batch 4: hubness rides the knn-graph pair stream plus a
    // corpus left join (0.26 at 100x perturbed when added)
    "q_knn_hubness" -> 1.5,
    // round-7 batch 7: 3 Pregel iterations over the near-dup graph —
    // cost tracks emitted pair mass (0.42 at 100x perturbed when
    // added, the round's heaviest); pinned so an iteration can't
    // silently become corpus-squared
    "q_pagerank" -> 1.5,
    // round-7 batch 8: per-position fingerprints + island merge (0.38
    // at 100x perturbed when added) and the banded within-w SNM join
    // (0.21 at 100x) — pinned so neither pair generator regresses to a
    // range join or a corpus-global window
    "q_repeated_spans" -> 1.5,
    "q_snm_blocking" -> 1.5,
    // round-7 batch 9: leakage classification rides the lsh pair
    // stream (0.24 perturbed at 10x when added)
    "q_split_leakage" -> 1.5,
    // round-8: the OTHER tokenize-twice plan (q_token_cdf is pinned
    // above) — both carry a measured ~0.6 slope from a double corpus
    // scan feeding a broadcast side; gated so a third tokenize consumer
    // can't silently appear and push the family super-linear
    "q_vocab_coverage" -> 1.5,
    // round-8 batch 9: DSIR's bigram stream feeds a 1024-bucket
    // aggregate + a broadcast weight join + a doc-keyed sum — all
    // corpus-linear; pinned so the weight join can't regress to a
    // shuffle join or the bucket table to a corpus-sized key space
    "q_dsir" -> 1.5,
    // round-8 batches 11-12: the three NEW pair generators — triangles
    // on the band-bounded simhash edges, the shared-pair-pass dedup
    // cost report, and the UNCAPPED prefix-filtered ppjoin (rare-first
    // ordering is the only thing standing between it and hot-shingle
    // quadratics — exactly what this gate would catch)
    "q_triangle_count" -> 1.5,
    "q_dedup_cost" -> 1.5,
    "q_ppjoin" -> 1.5,
    // round-8 batch 13: the prefix×full overlap join (uncapped
    // containment production path) — prefix mass is the only guard
    "q_overlap_join" -> 1.5,
    // round-8 batch 14: the perceptual-hash pair join. First probe came
    // back 4.17: the codec UDF re-ran on both self-join sides and ALL
    // band collisions (n²·4/2¹⁴ of them) were emitted. Fixed by
    // localCheckpointing the hash side and filtering to hamming ≤ 3
    // inside the join stage (0.21 at 10x perturbed after the fix) —
    // pinned so neither the checkpoint nor the filter can vanish
    "q_image_neardup" -> 1.5,
    // batch 16: the winnowed inverted index — slope is fingerprint-
    // keyspace-shaped on the perturbed replica (0.74 at sf0.1, the
    // q_distinct_ngrams class: a vocab-proportional hash-agg, not a
    // pair blowup); gate pins it clearly below quadratic
    "q_winnow_overlap" -> 1.5,
    // NB scoring join: test-tokens x 5 classes against a vocab-keyed
    // model (0.20 at sf0.1)
    "q_nb_lang" -> 1.5,
    // batches 17-22: block joins and candidate verifies. q_prefix_dup
    // is LINEAR by nature (corpus text mass through the block join,
    // decade 1.02) — the gate catches a BLOCK-CAP regression going
    // quadratic, not the linear constant
    "q_prefix_dup" -> 1.5,
    "q_suffix_dup" -> 1.5,
    "q_winnow_containment" -> 1.5,
    "q_nb_margin" -> 1.5,
    "q_chunk_dedup" -> 1.5,
    // round-9: the lift calibration's band join now runs on a
    // content-hash sample capped at 2048 docs (was the one
    // quadratic-by-construction audit, 10x slope 1.14; 0.15 after the
    // cap) — pinned so the sampling stage can't silently vanish
    "q_audio_fp_lift" -> 1.5,
    // round-9: the event interval join — a (user, hour-bucket) equi-join
    // with residual range filter; pinned so it can't regress to the
    // per-user nested loop the range predicate alone would plan
    "q_interval_join" -> 1.5,
    // round-9: two-tier decontam rebuilt as one per-hash aggregate +
    // a test-fifth join (0.13 at 10x, 0.05 at 100x perturbed) — pinned
    // so a tier can't regress to re-joining the full corpus per side
    "q_winnow_decontam" -> 1.5,
    // round-10: the whole simhash graph family now rides the 60-bit
    // dual-family signature (third decade 0.24 where the retired
    // 15-bit-band/30-bit family read 3.85) — q_simhash_pairs above is
    // the wide form, and the graph consumers are pinned here so none
    // can silently narrow back to a saturating band key
    "q_source_dup_matrix" -> 1.5,
    // round-12: the capped containment diagnostic — per-doc rollup of
    // the q_overlap_join machinery through the weighted-rep
    // contraction; pinned so the summary can't regress to enumerating
    // the pair clique it exists to avoid
    "q_overlap_top" -> 1.5,
    // round-13: batched IVF serving — routing is a k-row broadcast
    // fan-out, the probe reads nprobe/nlist of the index files, and
    // per-query top-k is WindowGroupLimit over one cluster's members;
    // pinned (measured 0.12 at the 100x perturbed replica incl. the
    // index build) so serving can't regress to a full-index scan
    "q_ann_serve_batch" -> 1.5,
    // round-9 batch 32: k-center is K map-only scans + TakeOrdered(1)
    // per round (no shuffle, no distance matrix) and the LRS binary
    // search is O(log maxDocLen) verified shingle passes — both pinned
    // so a round can't grow a corpus-sized shuffle or the verify step
    // a corpus-wide span materialization
    "q_kcenter_coreset" -> 1.5,
    // round-10: the running-min-dist twin — same picks, one persisted
    // column, O(d) per point per round; pinned so the fold-in can't
    // regress to a full-center-set recompute or a shuffle
    "q_kcenter_inc" -> 1.5,
    "q_longest_repeat" -> 1.5,
    // round-9 batch 33: the interval ANTI join must keep the hour-bucket
    // equi-blocking of q_interval_join — a regression to the bare range
    // predicate plans a per-user nested loop
    "q_interval_unmatched" -> 1.5,
    // round-10: the tokenizer TRAINING loop. Third-decade probe read
    // 2.49 from the per-generation columnar cache (one MEMORY_AND_DISK
    // _SER fill of the token frame measured at slope 5.07 across the
    // decade, 5.5x the pair-count job it was saving); generations now
    // REBUILD from the scan as nested fold kernels — pinned so a
    // persist can't creep back into the loop
    "q_bpe_learn" -> 1.5,
    // round-10: the tokenizer-inference pass. First third-decade probe
    // read 1.31 from three shapes this gate holds down: the generation
    // cache above, the vocab rank as an UNPARTITIONED window (serial
    // corpus-scale sort under a linear-vocab adversary), and the
    // token→id join planning as a corpus-sorted SMJ — now recompute +
    // zipWithIndex rank + vocab broadcast (re-probed decade 0.65)
    "q_bpe_encode" -> 1.5,
    // round-10: the classifier training loop is k bounded-round corpus
    // scans (hashed-feature dot products) + a 1024-bucket gradient agg;
    // the eval adds one scoring pass + a distinct-logit rank. Pinned so
    // a round can't grow a corpus-keyed shuffle or the rank window a
    // corpus-sized frame
    "q_quality_train" -> 1.5,
    "q_quality_logreg" -> 1.5,
    "q_quality_auc" -> 1.5,
    // round-11: the BPE-id packer — doc-scale shard prefix sum (round
    // 13: segmented two-pass scan, no per-lang window) + map-side
    // token positions + broadcast vocab + one block-keyed exchange
    // (0.05 at 100x perturbed when added); pinned so the prefix sum
    // can't regress to a token-scale or global sort
    "q_seq_pack_bpe" -> 1.5,
    // round-14 batch 35: the skyline must stay histogram-shaped (one
    // corpus aggregate over the domain-bounded length spine + a tiny
    // frontier join) — a regression to anything pairwise reads ~N here;
    // SCD2 is two windows on one (user; ts, id) exchange — pinned so
    // the second window can't grow its own shuffle or the key migrate
    // to a few-valued column. (q_record_linkage is deliberately NOT
    // pinned: the replica copies customer names verbatim, so every
    // copy-pair is a TRUE dist-0 match and the output itself grows
    // quadratically — an output-bound measurement, not a mechanism one;
    // the block histogram of commit a7bc420's LinkageProbe is its scale
    // receipt instead.)
    "q_skyline_select" -> 1.5,
    "q_scd2_history" -> 1.5)

  /** Single-pass slope, re-measured at min-of-3 passes only when it
    * violates the gate. The suite's long-lived forked JVM accumulates
    * GC/JIT state across ~60 suites, and a min-of-1 timing occasionally
    * eats a multi-second pause on one side of the ratio (observed:
    * q_dedup_groups 2.39 in a full-suite run whose solo re-runs read
    * 0.23/0.24 — the round-11 q_ngram_jaccard warm-up lesson, now
    * inside CI). A REAL mechanism regression — quadratic pair mass, a
    * lost cap — reproduces across passes; an ambient pause does not,
    * so the retry only suppresses the noise class while keeping the
    * gate's teeth. Retry cost is paid only on violation.
    */
  private def gatedSlope(src: String, dst: String, name: String,
                         maxSlope: Double): Option[String] = {
    val (t1, tn, s) = ScaleProbe.slope(spark, src, dst, factor, name)
    val violated = s > maxSlope
    val (ft1, ftn, fs) =
      if (!violated) (t1, tn, s)
      else ScaleProbe.slope(spark, src, dst, factor, name, passes = 3)
    // both measurements stay visible so an INTERMITTENT mechanism
    // regression (reproduces in some passes, masked by the min-of-3
    // retry) still leaves a trail in the CI log; a first-pass margin
    // past 2x the gate is flagged explicitly — GC-pause noise (the
    // class the retry targets) rarely overshoots that far
    val retried = if (violated)
      f" (first pass 1x=$t1%.2fs ${factor}x=$tn%.2fs slope=$s%.2f, retried min-of-3)"
    else ""
    info(f"$name%-18s 1x=$ft1%6.2fs ${factor}x=$ftn%6.2fs slope=$fs%5.2f (max $maxSlope)$retried")
    if (violated && s > 2 * maxSlope && fs <= maxSlope)
      info(f"$name: first-pass slope $s%.2f exceeded 2x the gate ($maxSlope) but the " +
        "min-of-3 passed — if this recurs, suspect an intermittent mechanism " +
        "regression, not ambient GC noise")
    if (fs > maxSlope) Some(f"$name slope $fs%.2f > $maxSlope") else None
  }

  test("10x scale slopes of the heaviest queries stay sub-quadratic") {
    ScaleProbe.buildReplica(spark, src, dst, factor, perturbText = true)
    // force the prefix-sum SCAN dispatch: these gates pin the at-scale
    // mechanism, and the size-estimate fast path would otherwise route
    // replica-scale inputs through the lazy window it replaces
    spark.conf.set(graft.operators.PrefixSum.ThresholdConf, "-1")
    val bad = try thresholds.flatMap { case (name, maxSlope) =>
      gatedSlope(src, dst, name, maxSlope)
    } finally spark.conf.unset(graft.operators.PrefixSum.ThresholdConf)
    assert(bad.isEmpty, s"super-linear scale slopes: ${bad.mkString("; ")}")
  }

  test("mega-dup cluster: collapse-first and the capped backbone stay flat") {
    // the Zipf-dup adversary (PLANS.md round 10): 2% of all rows share
    // ONE text — a ~1000-copy cluster at this replica. The exact tier
    // folds it to one representative (collapse-first near-dup never
    // bands the clones) and the df-cap routes its shingles out of the
    // pair backbone (mega-clusters belong to the exact tier). Gated so
    // neither mechanism can silently regress to feeding the cluster
    // into pair generation — the raw banded reporter is deliberately
    // NOT gated here, its answer is Θ(cluster²) by definition.
    val dupDst = s"/tmp/graft_scale_sf001_x${factor}_dup20"
    ScaleProbe.buildReplica(spark, src, dupDst, factor,
      perturbText = true, dupDocsPermille = 20)
    // q_pipeline_funnel: the documented pipeline default (quality →
    // exact dedup → split → decontam) composed end-to-end — round-11
    // verdict item 4 asked for the full funnel, not just its stages,
    // to be measured against the dup-cluster adversary (100x receipt:
    // slope 0.05 on the 2% replica, PLANS.md round 11)
    // round-11 weighted-representative rewrites: the source rollups and
    // the triangle/GCC scalars now contract exact-dup clusters before
    // any pair machinery (100x receipts: matrix 0.50 → 0.03, overlap
    // 1.09 → 0.05, triangles DNF-in-9-min → 0.03) — gated here so the
    // collapse step can't silently vanish back into raw enumeration
    // q_snm_blocking joined the list in round 13: its rank rewrite
    // (range-sort + zipWithIndex) removed the one-task row_number over
    // the mega-dup cluster's shared prefix — gated here so the rank
    // can't regress to a per-prefix window
    val bad = Seq("q_dedup_exact", "q_neardup_collapsed", "q_dedup_groups",
        "q_pipeline_funnel", "q_source_dup_matrix", "q_source_overlap",
        "q_triangle_count", "q_split_leakage", "q_snm_blocking")
      .flatMap { name => gatedSlope(src, dupDst, name, 1.5) }
    assert(bad.isEmpty, s"mega-dup cluster leaked into pair generation: ${bad.mkString("; ")}")
  }

  test("k-center running-min per-round cost stays flat in K (lineage truncation)") {
    // round-11 probe receipt: without the CkptEvery localCheckpoint the
    // incremental form's logical plan nests one fold per round —
    // per-round cost measured 2x between K=32 and K=256 on sf0.1, and
    // the K=256 run crashed a default JVM stack in the analyzer. With
    // truncation, per-round is flat (0.089 s at K=256 ≈ 0.088 s at
    // K=1024). Gate: the per-round ratio across a span crossing two
    // checkpoint boundaries stays near 1 (1.5 = loose vs job-latency
    // noise; the broken form measured ~2 and rising).
    def perRound(k: Int): Double = {
      val t0 = System.nanoTime()
      graft.queries.CurationQueries32.kcenterRun(spark, src, k, incremental = true).count()
      (System.nanoTime() - t0) / 1e9 / (k - 1)
    }
    perRound(4) // warm codegen + scan
    def ratio(): Double = perRound(96) / perRound(16)
    // same ambient-pause class as gatedSlope: a min-of-1 timing pair in
    // the suite's long-lived JVM occasionally reads a GC stall on one
    // side; a REAL lineage regression reproduces, so retry min-of-3
    val first = ratio()
    val r = if (first <= 1.5) first
      else (1 to 3).map(_ => ratio()).min
    info(f"per-round K=96/K=16 ratio $r%.2f" +
      (if (first > 1.5) f" (first pass $first%.2f, retried min-of-3)" else ""))
    assert(r <= 1.5,
      f"per-round cost grows with K ($r%.2fx): lineage truncation regressed")
  }
}
