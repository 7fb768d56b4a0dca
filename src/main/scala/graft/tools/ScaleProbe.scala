package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope probe: replicates a fixture dir Nx into /tmp (ids
  * remapped so keys stay unique; embeddings deterministically perturbed
  * so LSH structure isn't artificially degenerate) and times the heavy
  * operators at 1x vs Nx. A ~linear slope is the evidence that the plans
  * survive scale-up; anything super-linear is a red flag to fix.
  *
  * Probe data lives in /tmp only — fixture dirs are never written. The
  * replica build and slope measurement are plain functions so
  * ScaleSlopeSpec can assert slopes in `sbt test` (a lost
  * WindowGroupLimit or broadcast shows up as a super-linear slope, and
  * breaks the build instead of just the PLANS.md narrative).
  */
object ScaleProbe {

  /** Build (or reuse) an Nx replica of `src` under `dst`.
    * perturbText=true suffixes every document token with the copy index,
    * so copies share NO shingles. The default (verbatim) replica models
    * an Nx-denser duplicate corpus — pairwise reporters are then
    * output-bound by construction (see PLANS.md round-4 note); the
    * perturbed replica models "Nx bigger corpus, same dup rate", the
    * honest scale model for measuring the detector MECHANISM.
    */
  /** When `zipfVocab`, the document replica suffixes each token with a
    * ZIPF-drawn group id from [1, G], G = ⌈factor^0.7⌉, instead of the
    * per-copy index. The per-copy suffix grows vocabulary LINEARLY with
    * the corpus — the adversarial worst case for vocab-keyed plans
    * (q_nb_lang, q_kneser_ney, q_distinct_ngrams, ...), not how real
    * text behaves (Heaps' law: V ~ N^α, α ≈ 0.5–0.8). Here the draw is
    * g = ⌊G^u⌋ with u a 2^20-grid hash of (token, copy):
    * P(g) = ln((g+1)/g)/ln G ∝ 1/g — Zipf s=1 — so replica vocabulary
    * grows ~V₁·G = V₁·factor^0.7, matching the law the "Zipf-sublinear"
    * claims assume. The draw is per (token, copy), NOT per position: a
    * copy is a CONSISTENT relabeling of the base text (a "dialect"),
    * which preserves n-gram coherence — n-gram types then also grow
    * sublinearly (copies whose suffix tuples coincide merge), as Heaps
    * predicts for real text. (A per-position draw was tried first and
    * rejected by its own measurement: independent draws make n-gram
    * types ≈ n-gram OCCURRENCES — q_distinct_ngrams measured decade
    * 1.35, an artifact HARSHER than the linear-vocab replica, the
    * opposite of what the replica exists to model.) Deterministic
    * (hash-seeded), so probe runs are reproducible; cross-copy token
    * overlap is partial — a realistic near-dup texture rather than
    * all-or-nothing.
    */
  /** `skewEventsPermille > 0` models the interval-join adversary the
    * round-9 verdict asked to MEASURE rather than assert: a bot-burst
    * user — that permille of all events (hash-chosen, deterministic)
    * remapped to ONE user id AND compressed into ONE wall-clock hour.
    * A merely-hot user does NOT stress the (user, hour-bucket)
    * equi-blocking: the bucket component already diffuses their events
    * across ~720 hourly cells. The hot CELL — same user, same hour —
    * is the case only AQE's skew split can save, so that is what the
    * replica builds.
    */
  /** `dupDocsPermille > 0` models the MEGA-DUPLICATE cluster — the
    * Zipf-dup adversary of real crawls, where one boilerplate page is
    * duplicated across the whole corpus: that permille of all document
    * rows (hash-chosen, deterministic, applied AFTER any perturbation
    * so the copies stay byte-identical) get ONE shared text. A raw
    * pairwise reporter is Θ(cluster²) on it BY DEFINITION (every pair
    * in the cluster is a true near-dup pair), and all of that output
    * funnels through a single LSH band bucket — the one-hot-bucket
    * skew case. The collapse-first pipeline (exact-dedup to canonical
    * representatives, THEN LSH) is the survival path this replica
    * exists to measure against the raw reporter.
    */
  def buildReplica(spark: SparkSession, src: String, dst: String, factor: Int,
                   perturbText: Boolean, idStep: Long = 100000000L,
                   zipfVocab: Boolean = false, skewEventsPermille: Int = 0,
                   dupDocsPermille: Int = 0): Unit = {
    if (new java.io.File(s"$dst/documents.parquet/_SUCCESS").exists()) return
    new java.io.File(dst).mkdirs()
    val zipfG = math.max(2L, math.ceil(math.pow(factor.toDouble, 0.7)).toLong)
    val megaDup: DataFrame => DataFrame = df =>
      if (dupDocsPermille <= 0) df
      else df.withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(1000L)) < lit(dupDocsPermille.toLong),
          // a fixed realistic-length boilerplate page, same for every hit
          lit(("table scan merge join filter " * 12).trim))
          .otherwise(col("text")))

    def replicate(name: String, idCols: Seq[String],
                  perturb: DataFrame => DataFrame = identity): Unit = {
      // events carries TIMESTAMP(NANOS): route through Tables.events so the
      // replica gets a µs timestamp Spark can read directly
      val base = if (name == "events") graft.Tables.events(spark, src)
        else spark.read.parquet(s"$src/$name.parquet")
      val copies = (0 until factor).map { i =>
        idCols.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i.toLong * idStep)))
          .withColumn("_copy", lit(i))
      }.reduce(_ unionByName _)
      perturb(copies).drop("_copy")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }

    replicate("documents", Seq("doc_id"), df => megaDup(
      if (zipfVocab)
        df.withColumn("text",
          array_join(transform(split(col("text"), " "), t => {
            val u = pmod(xxhash64(concat_ws("_", t, col("_copy"))),
              lit(1048576L)).cast("double") / lit(1048576.0)
            concat(t, lit("_z"),
              least(floor(pow(lit(zipfG.toDouble), u)).cast("long"), lit(zipfG)))
          }), " "))
      else if (!perturbText) df
      else df.withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("_copy"))), " "))))
    replicate("embeddings", Seq("vec_id"), df =>
      // deterministic per-copy perturbation so replicas aren't identical
      df.withColumn("embedding",
        transform(col("embedding"),
          x => (x + col("_copy").cast("float") * lit(1e-4f)).cast("float"))))
    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))
    replicate("events", Seq("event_id", "user_id"), df =>
      if (skewEventsPermille <= 0) df
      else {
        // burst hour: noon of the corpus's middle day; position inside
        // the hour inherited from the original µs so burst events stay
        // distinct and ordered
        val hit = pmod(xxhash64(col("event_id")), lit(1000L)) < lit(skewEventsPermille.toLong)
        val burstBase = lit(1705320000000000L) // 2024-01-15 12:00:00 UTC, µs
        df.withColumn("user_id", when(hit, lit(777L)).otherwise(col("user_id")))
          .withColumn("ts", when(hit,
            timestamp_micros(burstBase + pmod(unix_micros(col("ts")), lit(3600000000L))))
            .otherwise(col("ts")))
      })
    // small dims copied as-is
    Seq("supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** (t_1x, t_Nx, slope) for one registry query, min-of-`passes` per
    * scale after one untimed warm run — the same variance hedge Bench
    * uses; slope ≈ t_Nx / (t_1x · N), ≤1 is linear-or-better.
    */
  /** Session-memoized trajectories (quality triad, BPE merges) would
    * turn a slope into a cached-vs-uncached artifact: the warm run
    * populates the 1x side's memo, so its timed pass reads driver
    * state while the Nx side trains fresh (first observed as fake
    * 6.4x "slopes" when the round-11 memos landed). Probes measure
    * the MECHANISM, training included, so every timed pass starts
    * memo-cold on both sides.
    */
  private def clearMemos(): Unit = {
    graft.queries.CurationQueries33.clearSessionMemo()
    graft.queries.TextStatsQueries.clearSessionMemo()
  }

  def slope(spark: SparkSession, src: String, dst: String, factor: Int,
            name: String, passes: Int = 1): (Double, Double, Double) = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, src).count() // warm
    def time(dir: String): Double = (1 to passes).map { _ =>
      clearMemos()
      val t0 = System.nanoTime(); fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9
    }.min
    val t1 = time(src)
    val tn = time(dst)
    (t1, tn, tn / t1 / factor)
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    // GRAFT_PROBE_SRC lets a replica be the base of a FURTHER replica
    // (a decade stack: sf0.1 -> 100x -> 1000x). When nesting, set
    // GRAFT_PROBE_STEP to a multiple of the inner replica's id range
    // (inner ids reach (innerFactor-1)*1e8 + base) so outer copies
    // cannot collide with inner ones.
    val src = sys.env.getOrElse("GRAFT_PROBE_SRC", "/root/testdata/sf0.1")
    val idStep = sys.env.get("GRAFT_PROBE_STEP").map(_.toLong).getOrElse(100000000L)
    val perturbText = sys.env.get("GRAFT_PROBE_PERTURB_TEXT").contains("1")
    // GRAFT_PROBE_ZIPF=1: Zipf-vocab replica (see buildReplica) — the
    // realistic-text counterpart of the linear-vocab perturbed replica
    val zipfVocab = sys.env.get("GRAFT_PROBE_ZIPF").contains("1")
    // GRAFT_PROBE_SKEW_EVENTS=<permille>: bot-burst events replica (see
    // buildReplica) for the interval-join skew measurement
    val skewPermille = sys.env.get("GRAFT_PROBE_SKEW_EVENTS").map(_.toInt).getOrElse(0)
    // GRAFT_PROBE_DUP_DOCS=<permille>: mega-duplicate-cluster replica
    // (see buildReplica) for the collapse-first-vs-raw-reporter story
    val dupPermille = sys.env.get("GRAFT_PROBE_DUP_DOCS").map(_.toInt).getOrElse(0)
    val dst = sys.env.getOrElse("GRAFT_PROBE_DST",
      s"/tmp/graft_scale_x$factor" +
        (if (zipfVocab) "_zf" else if (perturbText) "_pt" else "") +
        (if (skewPermille > 0) s"_sk$skewPermille" else "") +
        (if (dupPermille > 0) s"_dup$dupPermille" else ""))
    // shuffle partitions default to cores; GRAFT_PROBE_PARTITIONS sizes
    // them like a cluster would (∝ data): a 100x replica through 16
    // shuffle partitions measures single-box spill, not the plan
    val spark = graft.GraftSession(
      shufflePartitions = sys.env.get("GRAFT_PROBE_PARTITIONS").map(_.toInt))

    buildReplica(spark, src, dst, factor, perturbText, idStep, zipfVocab,
      skewPermille, dupPermille)

    // q_embed_neardup_scaled probes UNEDITED: the query itself derives
    // its band width from the corpus count (Dedup.scaledBitsPerBand), so
    // the same registry entry that the oracle checks is what scales here
    val probes = Seq("q1_pricing", "q_chunk", "q_token_stats", "q_minhash_sig",
      "q_simhash", "q_ngram_jaccard", "q_embed_neardup", "q_embed_neardup_scaled",
      "q_topk_cosine", "q_window_rank", "q_sessionize")

    println(f"${"query"}%-20s ${"1x_s"}%8s ${s"${factor}x_s"}%8s ${"slope"}%7s")
    val only = args.drop(1).toSet
    val toProbe = if (only.isEmpty) probes
      else only.toSeq.sorted.filter(graft.SparkEntry.queries.contains)
    // GRAFT_PROBE_PASSES>1: min-of-k warm timing per side. The single
    // cold pass reads the Nx side's files straight off disk while the 1x
    // side sits in page cache — measured on q_bpe_learn at the third
    // decade: 252 s cold vs 117 s warm, a 2x bias on the SLOPE itself
    // for scan-heavy queries. Slope probes measure the PLAN, so warm
    // both sides. Round-11 note: some shuffle-heavy queries have a LONG
    // JIT/GC warmup tail — q_ngram_jaccard at 100x measured
    // 46/24/19/15.7/15.3/15.3 s across six consecutive runs, so
    // passes=3 still lands anywhere on that curve (recorded decades
    // swung 0.10-0.25). passes=5 converges: two independent probe runs
    // both read decade 0.11. Use passes>=5 when pinning such a query.
    val passes = sys.env.get("GRAFT_PROBE_PASSES").map(_.toInt).getOrElse(1)
    toProbe.foreach { name =>
      val (t1, tn, s) = slope(spark, src, dst, factor, name, passes)
      println(f"$name%-20s $t1%8.2f $tn%8.2f $s%7.2f")
    }
    spark.stop()
  }
}
