package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.HashExpressions.{orderedPairsFast, shingleHashesFast, winnowFast}
import graft.functions.VectorFunctions.{cosDistSql, cosSimSql, cosineDistance, cosineSimilarity}
import DedupQueries.{BandCandCte, BandsCte, HsCte, ShCte, SigCte, interJaccardCtes}

/** Decontamination and overlap: test-split contamination, split
  * leakage, n-gram and winnowed decontamination, containment (exact,
  * blocked and winnowed), n-gram novelty, and the cross-source overlap
  * matrices.
  *
  * The pair tiers run between content-cluster representatives, weighted
  * by cluster size, rather than over raw documents: a mega-duplicate
  * cluster becomes one weighted node instead of a quadratic clique, and
  * the output is identical to the raw enumeration.
  */
object DecontamQueries {

  /** The sorted 3-shingle hash set of one text. */
  private def hset(text: Column): Column =
    sort_array(graft.functions.HashExpressions.shingleHashesFast(tokens(text), 3)).as("hset")

  /** Per document: doc_id, the `lead` columns, its content key `ck`, the
    * `tail` columns, whether it has a 3-shingle (`hasSh`) and its MinHash
    * signature `sig` — the input of the content-cluster frames. */
  private def sigBase(docs: DataFrame, lead: Seq[Column], tail: Seq[Column]): DataFrame = {
    val df = docs.select((col("doc_id") +: lead) ++ (Dedup.contentKey(col("text")).as("ck") +: tail) :+
      hset(col("text")): _*)
    df.select(df.columns.filter(_ != "hset").map(col).toSeq ++ Seq((size(col("hset")) >= 1).as("hasSh"),
      graft.functions.HashExpressions.minhashSigFast(col("hset")).as("sig")): _*)
  }

  /** A content cluster's representative (its least doc_id), and whether
    * and how it signs, from [[sigBase]] rows grouped by `ck`. */
  private def repAggs: Seq[Column] = Seq(min(col("doc_id")).as("rid"),
    min(col("hasSh")).as("hasSh"), min(col("sig")).as("sig"))

  /** The verified MinHash pairs between content-cluster representatives:
    * LSH over the shingled representatives' signatures of `cl` (rid,
    * hasSh, sig), verified against the per-document set frame. Both
    * verify ends read that frame, so it is materialized once
    * (lineage-severed, non-replicated — the multi-read corpus-frame
    * trade PLANS.md records).
    */
  private def repPairs(docs: DataFrame, cl: DataFrame): DataFrame = {
    val repSig = cl.filter(col("hasSh"))
      .select(Seq(col("rid")) ++ (0 until 8).map(i => col(s"sig.m$i").as(s"m$i")): _*)
    val sets = docs.select(col("doc_id").as("rid"), hset(col("text")))
      .filter(size(col("hset")) >= 1)
      .localCheckpoint()
    Dedup.verifiedPairs(Dedup.lshCandidates(repSig, "rid"), sets, "rid")
  }

  /** Containment-based near-dup detection — the asymmetric complement of
    * Jaccard: |A∩B| / min(|A|,|B|) catches a document EMBEDDED in a
    * larger one (quotes, concatenated crawls) that symmetric Jaccard
    * dilutes below threshold. Same df-capped shingle-hash backbone as
    * `q_ngram_jaccard` (hot-shingle anti-join, banded never all-pairs),
    * different final score.
    */
  val containment: QueryDef = QueryDef.sql(
    "q_containment",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
       |hsk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept ON kept.h = hs.h),
       |cardk AS (SELECT doc_id, count(*) AS c FROM hsk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hsk a JOIN hsk b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id)
       |SELECT i.ida, i.idb,
       |       CAST(i.i AS DOUBLE) / least(ca.c, cb.c) AS containment
       |FROM inter i JOIN cardk ca ON ca.doc_id = i.ida
       |             JOIN cardk cb ON cb.doc_id = i.idb
       |WHERE CAST(i.i AS DOUBLE) / least(ca.c, cb.c) >= 0.8""".stripMargin) { (spark, dir) =>
    val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 3)
    Dedup.ngramJaccardPairs(hs, "doc_id", 0.0)
      .withColumn("containment", col("i").cast("double") / least(col("ca"), col("cb")))
      .filter(col("containment") >= 0.8)
      .select(col("ida"), col("idb"), col("containment"))
  }

  /** OVERLAP-JOIN prefix filtering for CONTAINMENT ≥ 0.8 — the
    * production path for the asymmetric tier (`q_containment` is the
    * df-capped oracle tier; this is UNCAPPED and exact): if
    * |a∩b| ≥ 0.8·min(|a|,|b|), the smaller side can miss fewer than
    * |s| − ⌈0.8·|s|⌉ + 1 of its own tokens from the intersection, so
    * its rare-first prefix of that size must contain a SHARED token
    * (pigeonhole) — and a shared token lies in the other side's FULL
    * set. Candidates are therefore prefix(d) ⋈ full(e), normalized to
    * ida < idb; exact containment verifies each. The ORACLE is naive
    * full blocking at the same threshold, so no-false-negatives is
    * hash-verified like `q_ppjoin`.
    *
    * SCALE: prefix mass is rare-token mass (hot shingles sort last,
    * never enter prefixes), and the prefix×full join costs
    * Σ_{h∈prefixes} df(h) — bounded by rare-token collisions, not
    * df². No length filter exists for containment (any size pair is
    * admissible), which is exactly why the prefix must come from the
    * SMALLER side — this formulation gets that for free by emitting
    * every doc's prefix and joining against full sets both ways.
    */
  /** Shared prefix-filter + exact-verify machinery for the containment
    * family: edges (ida < idb, cont ≥ 0.8) over `docs`.
    *
    * SHUFFLE SHAPE: a naive plan pays THREE posting-mass exchanges of
    * incompressible polyhash longs — the df-window's h-exchange, the
    * per-doc prefix build's doc-exchange, and the candidate join
    * re-exchanging the raw posting table on h a second time. Here
    * ONE explicit h-repartition feeds BOTH h-keyed consumers — the df
    * count-over-window rides it (HashPartitioning(h) satisfies the
    * window's required distribution), and the candidate join's full
    * side reads the SAME shuffle files back through a ReusedExchange,
    * so the join adds no posting-mass exchange of its own (only the
    * ~20%-mass prefix side shuffles for the join).
    *
    * MEASURED VARIANT SELECTION (warm min-of-2 at both 100x replicas,
    * receipts in PLANS.md): a rank-window
    * prefix (row_number over (doc_id ORDER BY df,h), no arrays) was
    * tried and REJECTED by its own measurement — the doc-keyed double
    * window costs a full sort of the posting frame where the hash-based
    * collect_list + array_sort sorts only within per-doc groups
    * (perturbed 100x: 29.25 s window-form vs 21.83 s this form; the
    * ppjoin window-vs-join rule, replayed on the prefix build). The
    * shared-exchange reuse measured 25.38 → 21.83 s and −0.22 GB
    * shuffle write on the posting-dominated perturbed replica.
    */
  private def containmentEdges(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val hs = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
    // the isnotnull(doc_id) no-op mirrors the constraint the optimizer
    // infers on the candidate-join branch (pid =!= fid is
    // null-intolerant): without it the two consumers' exchange subtrees
    // canonicalize DIFFERENTLY and ReuseExchange cannot fire — the
    // whole point of the shared repartition
    val hsH = hs.filter(col("doc_id").isNotNull).repartition(col("h"))
    val sorted = hsH
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("sh"))
    // prefix size |d| - ceil(0.8|d|) + 1; ceil(8n/10) = (8n+9) DIV 10
    val pref = sorted.select(col("doc_id"),
      explode(expr("slice(sh, 1, CAST(size(sh) - (8 * size(sh) + 9) DIV 10 + 1 AS INT))"))
        .as("p"))
      .select(col("doc_id").as("pid"), col("p.h").as("h"))
    val cand = pref.join(hsH.select(col("doc_id").as("fid"), col("h")), "h")
      .filter(col("pid") =!= col("fid"))
      .select(least(col("pid"), col("fid")).as("ida"),
        greatest(col("pid"), col("fid")).as("idb"))
      .distinct()
    // verify from map-side sets: no corpus aggregation in the verify.
    // Both verify ends read the set frame — one materialization
    // (durability: lineage-severed, non-replicated)
    Dedup.jaccardForPairsSets(cand,
        Dedup.shingleSets(docs, "doc_id", "text", 3).localCheckpoint(), "doc_id")
      .withColumn("cont", col("i").cast("double") / least(col("ca"), col("cb")))
      .filter(col("cont") >= 0.8)
      .select(col("ida"), col("idb"), col("cont"))
  }

  val overlapJoin: QueryDef = QueryDef.sql(
    "q_overlap_join",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |card AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.ida, i.idb,
       |       CAST(i.i AS DOUBLE) / least(ca.c, cb.c) AS containment
       |FROM inter i JOIN card ca ON ca.doc_id = i.ida
       |             JOIN card cb ON cb.doc_id = i.idb
       |WHERE CAST(i.i AS DOUBLE) / least(ca.c, cb.c) >= 0.8""".stripMargin) {
    (spark, dir) =>
      containmentEdges(Tables(spark, dir, "documents"))
        .select(col("ida"), col("idb"), col("cont").as("containment"))
  }

  /** CAPPED containment diagnostic — the
    * bounded companion of [[overlapJoin]]: that reporter's output IS
    * the pair list, Θ(cluster²) on a mega-duplicate corpus BY
    * DEFINITION (143 s at the 100x dup replica, honestly priced in
    * PLANS.md). What a pipeline dashboard actually consults is the
    * per-DOCUMENT summary — how many containment partners each doc has
    * at ≥0.8 and the strongest one — which is Θ(docs) output at any dup
    * rate. Same machinery, same threshold, aggregated instead of
    * enumerated.
    *
    * SCALE — the weighted-representative contraction applied to a
    * per-doc rollup: candidates and containment are functions of TEXT
    * alone, so exact-dup cluster members all share one summary —
    * within a cluster every member pairs with the other n−1 at
    * containment 1.0 (identical sets), and a verified rep edge (A,B)
    * gives every member of A exactly n_B partners at cont(A,B).
    * Prefix-filtered candidate generation and the set-verify run over
    * DISTINCT TEXTS only; the single corpus-shaped step is the final
    * ck-keyed expansion join of the |clusters|-row summary back to
    * members. The mega-dup adversary collapses to one rep before any
    * pair machinery — CI-gated slope in ScaleSlopeSpec's family.
    */
  val overlapTop: QueryDef = QueryDef.sql(
    "q_overlap_top",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |card AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |prs AS (SELECT i.ida, i.idb,
       |               CAST(i.i AS DOUBLE) / least(ca.c, cb.c) AS cont
       |        FROM inter i JOIN card ca ON ca.doc_id = i.ida
       |                     JOIN card cb ON cb.doc_id = i.idb
       |        WHERE CAST(i.i AS DOUBLE) / least(ca.c, cb.c) >= 0.8),
       |dd AS (SELECT ida AS doc_id, cont FROM prs
       |       UNION ALL SELECT idb, cont FROM prs)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners,
       |       max(cont) AS max_containment
       |FROM dd GROUP BY 1""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"), Dedup.contentKey(col("text")).as("ck"))
    val cl = base.groupBy("ck")
      .agg(min(col("doc_id")).as("rid"), count(lit(1)).as("n"))
      // Θ(texts) cluster frame, read by the rep filter, the summary,
      // and the expansion (durability: lineage-severed, non-replicated
      // — the lineage-severed, non-replicated)
      .localCheckpoint()
    // prefix-filtered candidates + set verify over DISTINCT texts only
    // (the shared two-exchange backbone — see containmentEdges)
    val repDocs = docs.join(cl.select(col("rid")),
      docs("doc_id") === col("rid"), "left_semi")
    // the verified edge set feeds BOTH direction legs of the partner
    // rollup — one materialization, or the whole prefix-join + verify
    // pipeline replays per leg (edge-bounded; durability:
    // lineage-severed, non-replicated)
    val edges = containmentEdges(repDocs).localCheckpoint()
    // per-rep external partner mass and best cross containment (no
    // broadcast hint — the weight frame is Θ(texts), AQE decides)
    val wts = cl.select(col("rid"), col("n"))
    val ext = edges
      .join(wts.select(col("rid").as("idb"), col("n").as("nb")), "idb")
      .select(col("ida").as("rid"), col("nb").as("mass"), col("cont"))
      .unionByName(edges
        .join(wts.select(col("rid").as("ida"), col("n").as("na")), "ida")
        .select(col("idb").as("rid"), col("na").as("mass"), col("cont")))
      .groupBy("rid").agg(sum("mass").as("ext"), max("cont").as("maxc"))
    // docs with <3 tokens have NO shingles, never sign, never pair —
    // and by construction never appear in `edges`; within-cluster 1.0
    // partners require a non-empty set, which having any edge or any
    // shingle implies. Detect shingled clusters map-side from the
    // per-rep set kernel (one row per doc, no exchange, no distinct).
    val shingled = Dedup.shingleSets(repDocs, "doc_id", "text", 3)
      .select(col("doc_id").as("rid"))
      .withColumn("hasSh", lit(true))
    val summary = cl.join(ext, Seq("rid"), "left")
      .join(shingled, Seq("rid"), "left")
      .select(col("ck"),
        (when(coalesce(col("hasSh"), lit(false)) && col("n") >= 2, col("n") - 1)
          .otherwise(0L) + coalesce(col("ext"), lit(0L))).as("n_partners"),
        when(coalesce(col("hasSh"), lit(false)) && col("n") >= 2,
          greatest(lit(1.0), coalesce(col("maxc"), lit(0.0))))
          .otherwise(col("maxc")).as("max_containment"))
      .filter(col("n_partners") >= 1)
    base.join(summary, "ck")
      .select(col("doc_id"), col("n_partners"), col("max_containment"))
  }

  /** CROSS-SOURCE NEAR-DUP MATRIX — the SimHash near-dup pair stream
    * (hamming ≤ 1, the `q_simhash_pairs` edge set — the 60-bit
    * dual-family signature, so source triage inherits
    * the corpus-scale band keyspace instead of the flooding 30-bit
    * graph) aggregated by the
    * SOURCE pair it connects, with each cell's share of total pair mass
    * in basis points. The triage view for dedup priority: a heavy
    * diagonal cell says a source duplicates ITSELF (template boilerplate
    * — collapse within source); a heavy off-diagonal says two sources
    * mirror each other (cross-source syndication — dedup must run
    * globally, not per-source). SCALE: the pair stream joins the
    * doc→source map twice (corpus-sized shuffles, same bound as the
    * pair generator), then everything is a |sources|²-row aggregate;
    * the total re-derives from the matrix, never re-touching pairs.
    */
  val sourceDupMatrix: QueryDef = QueryDef.sql(
    "q_source_dup_matrix",
    s"""WITH ${NearDupQueries.SimhashWideCte},
       |${NearDupQueries.SimhashWideEdgeCte},
       |lab AS (SELECT doc_id, source FROM documents),
       |m AS (SELECT least(la.source, lb.source) AS src_a,
       |             greatest(la.source, lb.source) AS src_b, count(*) AS n
       |      FROM e JOIN lab la ON la.doc_id = e.ida
       |             JOIN lab lb ON lb.doc_id = e.idb
       |      GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM m)
       |SELECT src_a, src_b, CAST(n AS BIGINT) AS n_pairs,
       |       CAST((n * 10000) // t AS BIGINT) AS pair_share_bp
       |FROM m, tot""".stripMargin) { (spark, dir) =>
    // WEIGHTED-REPRESENTATIVE REWRITE: the raw band join
    // enumerates every member pair, which is Θ(cluster²) on a
    // mega-duplicate cluster BY CONSTRUCTION — but this query's OUTPUT
    // is only a |sources|²-row matrix, and exact duplicates make the
    // pair counts pure ALGEBRA: byte-identical docs have identical
    // signatures (the simhash kernel is a function of the text), so
    // (a) every within-cluster member pair is a hamming-0 near-dup —
    //     count C(n,2) per (cluster, source) and n_s1·n_s2 across the
    //     cluster's source split, never enumerating members; and
    // (b) two clusters' members either ALL pair or NONE do (band match
    //     + hamming threshold depend only on the two signatures), so
    //     cross-cluster counts are rep-pair × n_a(src)·n_b(src).
    // Identical output to the raw enumeration (the unchanged DuckDB
    // oracle checks exactly that), but pair generation runs over
    // DISTINCT TEXTS: the mega-dup adversary collapses to one rep
    // before any band join. The signature rides the collapse exchange
    // as a LONG next to the narrow content key (min over identical
    // values — exact), so raw text never shuffles. NEITHER side of the
    // weight joins is hint-broadcast: the rep-pair stream is
    // edge-sized but adversary-unbounded, and the weight table is
    // Θ(texts) — on a low-duplication corpus that is Θ(docs), which
    // blows Spark's 8 GB broadcast cap at 100 TB. Both joins are plain
    // rid equi-joins over localCheckpoint'ed inputs, so AQE sees exact
    // sizes at runtime: it broadcasts whichever side is actually small
    // (sandbox: the weight table) and degrades to a shuffled join —
    // Θ(edges + texts) — when neither is. The only FORCED broadcasts
    // left are 1-row global aggregates (PlanShapeSpec gates this).
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("source"),
      Dedup.contentKey(col("text")).as("ck"),
      graft.functions.HashExpressions
        .simhashDualFast(graft.functions.TextFunctions.tokens(col("text"))).as("simhash"))
    // one cluster row per distinct text: id + signature (both exact
    // mins over identical values), plus the per-(cluster, source)
    // member counts that weight the algebra
    val cl = base.groupBy("ck")
      .agg(min(col("doc_id")).as("rid"), min(col("simhash")).as("simhash"))
    val cs = base.groupBy("ck", "source").agg(count(lit(1)).as("n"))
      .join(cl.select(col("ck"), col("rid")), "ck")
      .select(col("rid"), col("source"), col("n"))
      // Θ(texts × sources) weight table, read 4x below. DURABILITY:
      // lineage-severed; default executor-local (fast, non-replicated),
      // preemptible clusters flip spark.graft.reliableCheckpoint — same
      // plan shape, pinned by DurabilitySpec.
      .transform(graft.Durability.stage)
    // (b) cross-cluster: band-join the DISTINCT-text signatures only
    val e = Dedup.simhashPairs(cl.select(col("rid"), col("simhash")), "rid", 1, bandBits = 30)
      .select("ida", "idb")
    val cross = e
      .join(cs.select(col("rid").as("ida"), col("source").as("sa"), col("n").as("na")), "ida")
      .join(cs.select(col("rid").as("idb"), col("source").as("sb"), col("n").as("nb")), "idb")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        (col("na") * col("nb")).as("w"))
    // (a) within-cluster: same-source C(n,2) + cross-source n·m cells
    val same = cs.filter(col("n") >= 2)
      .select(col("source").as("src_a"), col("source").as("src_b"),
        expr("n * (n - 1) DIV 2").as("w"))
    val diff = cs.select(col("rid"), col("source").as("sa"), col("n").as("na"))
      .join(cs.select(col("rid"), col("source").as("sb"), col("n").as("nb")), "rid")
      .filter(col("sa") < col("sb"))
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        (col("na") * col("nb")).as("w"))
    val m = cross.unionByName(same).unionByName(diff)
      .groupBy("src_a", "src_b").agg(sum("w").as("n"))
      // sources²-row matrix feeds both the total and the output
      .transform(graft.Durability.stage)
    val tot = m.agg(sum("n").cast("long").as("t"))
    m.crossJoin(broadcast(tot))
      .select(col("src_a"), col("src_b"), col("n").cast("long").as("n_pairs"),
        expr("(n * 10000) DIV t").as("pair_share_bp"))
  }

  /** WINNOW CONTAINMENT EVAL — for every winnow-candidate pair
    * (>= 3 shared fingerprints, df-capped index): the SAMPLED overlap
    * estimate shared/min(|fp_a|,|fp_b|) against the EXACT distinct-
    * shingle overlap coefficient, reported as a signed error histogram
    * (500-bp buckets) with per-bucket means. This is the number that
    * justifies replacing the exact-postings tier with the ~40%-sampled (~2.5x sparser)
    * winnowed index at 100 TB: the winnowing guarantee bounds which
    * runs can be MISSED, and this query measures how much the sampled
    * estimate wobbles on the pairs it does catch. SCALE: candidates
    * ride the capped fingerprint join; the exact verify joins shingle
    * sets only for candidate rows (never all pairs) — the
    * `q_minhash_est` verify shape on the winnow axis.
    */
  val winnowContainment: QueryDef = QueryDef.sql(
    "q_winnow_containment",
    s"""${DedupQueries.winnowCte},
       |fps AS (SELECT doc_id, list_distinct(w) AS fp FROM wins),
       |shs AS (SELECT doc_id, list(DISTINCT h) AS sh FROM hrow GROUP BY doc_id),
       |fpx AS (SELECT doc_id, unnest(fp) AS f FROM fps),
       |kept AS (SELECT f FROM fpx GROUP BY f HAVING count(*) BETWEEN 2 AND 64),
       |fpk AS (SELECT fpx.doc_id, fpx.f FROM fpx JOIN kept ON kept.f = fpx.f),
       |pr AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
       |       FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2 HAVING count(*) >= 3),
       |ev AS (SELECT pr.shared * 10000 // least(len(fa.fp), len(fb.fp)) AS est_bp,
       |              len(list_intersect(sa.sh, sb.sh)) * 10000
       |                // least(len(sa.sh), len(sb.sh)) AS exact_bp
       |       FROM pr JOIN fps fa ON fa.doc_id = pr.ida
       |               JOIN fps fb ON fb.doc_id = pr.idb
       |               JOIN shs sa ON sa.doc_id = pr.ida
       |               JOIN shs sb ON sb.doc_id = pr.idb)
       |SELECT CAST((est_bp - exact_bp) // 500 AS BIGINT) AS err_bucket,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(est_bp) // count(*) AS BIGINT) AS avg_est_bp,
       |       CAST(sum(exact_bp) // count(*) AS BIGINT) AS avg_exact_bp
       |FROM ev GROUP BY 1""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    // consumed THREE times (candidate chain + both verify ends) — one
    // winnow+shingle kernel pass, not three (durability:
    // lineage-severed, non-replicated)
    val sides = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        winnowFast(toks, 3, 4).as("fp"),
        shingleHashesFast(toks, 3).as("sh"))
      .localCheckpoint()
    // capped collect (same shape as q_winnow_overlap): exact count n + at most 65 buffered ids, so
    // the 2..64 df filter sees identical groups while a boilerplate
    // fingerprint can no longer put Θ(corpus) ids in one reducer buffer
    val cappedCollect = udaf(
      new graft.operators.TypedOps.CappedCollectAggregator(64),
      org.apache.spark.sql.Encoders.scalaLong)
    val pairs = sides
      .select(col("doc_id"), explode(col("fp")).as("f"))
      .groupBy("f").agg(cappedCollect(col("doc_id")).as("c"))
      .filter(col("c.n").between(2, 64))
      .select(explode(orderedPairsFast(col("c.ids"))).as("p"))
      .groupBy(col("p.ida").as("ida"), col("p.idb").as("idb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val a = sides.select(col("doc_id").as("ida"), col("fp").as("fpa"), col("sh").as("sha"))
    val b = sides.select(col("doc_id").as("idb"), col("fp").as("fpb"), col("sh").as("shb"))
    pairs.join(a, "ida").join(b, "idb")
      .select(
        expr("shared * 10000 DIV least(size(fpa), size(fpb))").as("est_bp"),
        expr("size(array_intersect(sha, shb)) * 10000 DIV least(size(sha), size(shb))")
          .as("exact_bp"))
      .groupBy(expr("(est_bp - exact_bp) DIV 500").as("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est_bp) DIV count(*)").as("avg_est_bp"),
        expr("sum(exact_bp) DIV count(*)").as("avg_exact_bp"))
  }

  /** WINNOW DECONTAM — test/train contamination flagging from the
    * SELECTED 8-gram fingerprints instead of the full 8-gram index,
    * with both tiers computed side by side: exact flags (any shared
    * df-capped 8-gram), sampled flags (any shared winnow-selected
    * 8-gram), the measured recall, and the index-size ratio the
    * sampling buys. The winnowing guarantee shapes the miss profile:
    * shared runs of >= 11 tokens (w+n-1) are caught BY CONSTRUCTION;
    * only short isolated 8-gram overlaps can slip — so sampled recall
    * IS the fraction of contamination that is run-shaped, a number
    * worth knowing before trading a 100-TB index for a ~2.5x smaller (w=4; density 2/(w+1))
    * one. Sampled flags are a SUBSET of exact flags by construction
    * (every selected fingerprint is an 8-gram hash) — the spec pins
    * it. SCALE: one hash-keyed aggregate over the exploded 8-gram
    * frame (df cap + both tiers' train-presence bits per hash) and one
    * hash-keyed join of the test fifth against it — the corpus never
    * re-joins per tier or per side.
    */
  val winnowDecontam: QueryDef = QueryDef.sql(
    "q_winnow_decontam",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 6, 1))) AS pos, toks FROM tk),
       |hrow AS (SELECT doc_id, pos,
       |                ${polyHashSql("array_to_string(list_slice(toks, pos, pos + 7), ' ')")} AS h
       |         FROM sh),
       |hs AS (SELECT doc_id, list(h ORDER BY pos) AS h FROM hrow GROUP BY doc_id),
       |wins AS (SELECT doc_id,
       |                CASE WHEN len(h) >= 4
       |                     THEN list_transform(range(1, len(h) - 2),
       |                                         j -> list_min(list_slice(h, j, j + 3)))
       |                     ELSE [list_min(h)] END AS w
       |         FROM hs),
       |allh AS (SELECT DISTINCT doc_id, h FROM hrow),
       |df AS (SELECT h FROM allh GROUP BY h HAVING count(*) <= 64),
       |allk AS (SELECT allh.doc_id, allh.h FROM allh JOIN df ON df.h = allh.h),
       |selh AS (SELECT doc_id, unnest(list_distinct(w)) AS h FROM wins),
       |selk AS (SELECT selh.doc_id, selh.h FROM selh JOIN df ON df.h = selh.h),
       |trainh AS (SELECT DISTINCT h FROM allk WHERE doc_id % 5 <> 0),
       |trains AS (SELECT DISTINCT h FROM selk WHERE doc_id % 5 <> 0),
       |te AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
       |exact AS (SELECT DISTINCT a.doc_id FROM allk a JOIN trainh t ON t.h = a.h
       |          WHERE a.doc_id % 5 = 0),
       |sampled AS (SELECT DISTINCT s.doc_id FROM selk s JOIN trains t ON t.h = s.h
       |            WHERE s.doc_id % 5 = 0)
       |SELECT CAST((SELECT count(*) FROM te) AS BIGINT) AS n_test,
       |       CAST((SELECT count(*) FROM exact) AS BIGINT) AS exact_flagged,
       |       CAST((SELECT count(*) FROM sampled) AS BIGINT) AS winnow_flagged,
       |       CAST((SELECT count(*) FROM exact) - (SELECT count(*) FROM sampled) AS BIGINT) AS missed,
       |       CAST((SELECT count(*) FROM sampled) * 10000
       |            // greatest((SELECT count(*) FROM exact), 1) AS BIGINT) AS recall_bp,
       |       CAST((SELECT count(DISTINCT h) FROM selk) * 10000
       |            // greatest((SELECT count(DISTINCT h) FROM allk), 1) AS BIGINT) AS index_bp""".stripMargin) { (spark, dir) =>
    // One exploded pass instead of four: every selected fingerprint is
    // an 8-gram hash (winnow ⊆ shingle set), so a single (doc_id, h,
    // sel) frame feeds everything. The per-hash aggregate carries the
    // df cap AND both tiers' train-presence bits, so "h shared with a
    // train doc" is answered once per hash, not once per (tier × side)
    // join — the corpus crosses a hash-keyed exchange exactly twice
    // (aggregate, then the test-side fifth for flagging) instead of
    // the former three full join re-computations.
    val toks = tokens(col("text"))
    val sides = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        shingleHashesFast(toks, 8).as("allh"),
        winnowFast(toks, 8, 4).as("selh"))
    // rows feeds the per-hash aggregate AND the test-side flag join;
    // hAgg feeds the flag join AND the index-size fold — materialize
    // each once or the double shingle+winnow kernel replays three
    // times (durability: lineage-severed, non-replicated)
    val rows = sides
      .select(col("doc_id"), explode(col("allh")).as("h"), col("selh"))
      .select(col("doc_id"), col("h"),
        array_contains(col("selh"), col("h")).cast("int").as("sel"))
      .localCheckpoint()
    val isTrain = (pmod(col("doc_id"), lit(5L)) =!= 0).cast("int")
    val hAgg = rows.groupBy("h").agg(
        count(lit(1)).as("dfh"),
        max(isTrain).as("tr_all"),
        max(isTrain * col("sel")).as("tr_sel"),
        max(col("sel")).as("any_sel"))
      .filter(col("dfh") <= 64)
      .localCheckpoint()
    val flags = rows.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .join(hAgg, "h")
      .groupBy("doc_id").agg(
        max(col("tr_all")).as("ex"),
        max(col("sel") * col("tr_sel")).as("sm"))
      .agg(sum("ex").cast("long").as("exact_flagged"),
        sum("sm").cast("long").as("winnow_flagged"))
    val idx = hAgg.agg(count(lit(1)).as("nall"),
      sum("any_sel").cast("long").as("nsel"))
    val nTest = Tables(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 0).agg(count(lit(1)).as("n_test"))
    nTest.crossJoin(broadcast(flags)).crossJoin(broadcast(idx))
      .select(col("n_test"), col("exact_flagged"), col("winnow_flagged"),
        (col("exact_flagged") - col("winnow_flagged")).as("missed"),
        expr("winnow_flagged * 10000 DIV greatest(exact_flagged, 1)").as("recall_bp"),
        expr("nsel * 10000 DIV greatest(nall, 1)").as("index_bp"))
  }

  /** N-gram novelty score — the fraction of each document's distinct
    * trigrams seen NOWHERE else in the corpus (df = 1), in basis points:
    * high novelty separates genuinely new content from remixes and
    * boilerplate (the memorization-risk complement of `q_repetition`).
    * Trigrams travel as BIGINT polynomial hashes through one df join.
    */
  val ngramNovelty: QueryDef = QueryDef.sql(
    "q_ngram_novelty",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tg AS (SELECT DISTINCT doc_id,
       |              ${polyHashSql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
       |       FROM tk, unnest(range(1, len(toks) - 1)) t(i)),
       |df AS (SELECT h, count(*) AS df FROM tg GROUP BY h)
       |SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
       |       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |       CAST(floor(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 10000.0
       |                  / count(*)) AS BIGINT) AS novel_bp
       |FROM tg JOIN df USING (h)
       |GROUP BY tg.doc_id""".stripMargin) { (spark, dir) =>
    val toks = col("toks")
    val tg = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))).as("tri"))
      .select(col("doc_id"), polyHash(col("tri")).as("h"))
      // fusion REJECTED by measurement: an explicit
      // h-repartition CAN carry both the distinct and the df-window
      // (HashPartitioning(h) ⊆ ClusteredDistribution(doc_id, h)) —
      // one corpus exchange instead of two — but the fused form
      // measured 4.15 s vs this form's 2.37 s warm at the 100x
      // perturbed replica: the single wide post-shuffle stage (full
      // dedup hash table + window sort back-to-back) costs more than
      // the exchange it saves, while the split form dedups map-side
      // and sorts a smaller frame. Rule recorded in PLANS.md
      // (exchange-fusion counterpart of the ppjoin window-vs-join rule).
      .distinct()
    // df via count-over-window on ONE h-keyed exchange (the groupBy +
    // re-join form shuffles the corpus-trigram table twice)
    tg.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("df") === 1, 1).otherwise(0)).cast("long").as("n_novel"),
        floor(sum(when(col("df") === 1, 1).otherwise(0)) * 10000.0 / count(lit(1)))
          .cast("long").as("novel_bp"))
  }

  /** Cross-SOURCE near-dup overlap matrix — the provenance dashboard a
    * multi-source ingest run reads before mixture weighting: for every
    * unordered source pair, how many verified near-dup pairs (the
    * `q_minhash_lsh_pairs` machinery, Jaccard ≥ 0.2) span them. High
    * off-diagonal mass means two feeds crawl the same content and the
    * mixture weights double-count it. The rollup joins the (tiny) pair
    * set against the doc→source map twice — the pair DETECTION is the
    * proven banded join; this adds only a source-count-sized aggregate.
    */
  val sourceOverlap: QueryDef = QueryDef.sql(
    "q_source_overlap",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |${interJaccardCtes(BandCandCte, 0.2)},
       |so AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_a,
       |       greatest(sa.source, sb.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM prs JOIN so sa ON sa.doc_id = prs.ida
       |         JOIN so sb ON sb.doc_id = prs.idb
       |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    // WEIGHTED-REPRESENTATIVE REWRITE (the
    // q_source_dup_matrix argument applied to the MinHash family):
    // candidates (band match on the signature) and the verify
    // (jaccard of the two shingle sets) are both functions of TEXT
    // alone, so exact-duplicate clusters either all-pair or none —
    // collapse to distinct texts before any pair machinery and
    // reconstruct counts as algebra over (cluster, source) weights:
    // within-cluster C(n,2)/n·m (jaccard 1 ≥ 0.2 whenever the text
    // has a shingle at all — empty-set docs never sign, matching
    // shingleSets' filter), cross-cluster rep-pair × n_a·n_b. The
    // per-doc minhash signature is computed MAP-SIDE and rides the
    // collapse exchange as 8 longs (min over identical values) —
    // raw text and shingle sets never shuffle for the collapse; the
    // verify joins rep PAIRS against the map-side set frame exactly
    // as before, just over rep ids. Identical output to the raw
    // enumeration (mega-dup 2% replica at 100x: see PLANS.md). The
    // weight joins carry NO
    // broadcast hint: the weight table is Θ(texts) ≈
    // Θ(docs) on a low-dup corpus, past the 8 GB broadcast cap at
    // 100 TB; both inputs are localCheckpoint'ed so AQE broadcasts
    // from EXACT runtime sizes when small and shuffle-joins
    // (Θ(edges + texts)) when not.
    val docs = Tables(spark, dir, "documents")
    val base = sigBase(docs, Seq(col("source")), Nil)
    val cl = base.groupBy("ck").agg(repAggs.head, repAggs.tail: _*)
      // Θ(texts) cluster frame feeds sigs + weights. DURABILITY:
      // lineage-severed + non-replicated (executor loss kills the
      // query, no recompute path) — the PLANS.md durability ledger's
      // accepted trade for multi-read corpus-scale frames in a bench
      // JVM; a preemptible cluster swaps this call for a reliable
      // checkpoint and keeps the same plan shape.
      .localCheckpoint()
    val cs = base.groupBy("ck", "source").agg(count(lit(1)).as("n"))
      .join(cl.select(col("ck"), col("rid"), col("hasSh")), "ck")
      .select(col("rid"), col("source"), col("n"), col("hasSh"))
      // Θ(texts × sources) weight table, read 4x; same durability
      // class as `cl` above (lineage-severed, non-replicated)
      .localCheckpoint()
    val e = repPairs(docs, cl)
      .select(col("ida"), col("idb"))
    val cross = e
      .join(cs.select(col("rid").as("ida"), col("source").as("sa"), col("n").as("na")), "ida")
      .join(cs.select(col("rid").as("idb"), col("source").as("sb"), col("n").as("nb")), "idb")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        (col("na") * col("nb")).as("w"))
    val same = cs.filter(col("hasSh") && col("n") >= 2)
      .select(col("source").as("source_a"), col("source").as("source_b"),
        expr("n * (n - 1) DIV 2").as("w"))
    val diff = cs.filter(col("hasSh"))
      .select(col("rid"), col("source").as("sa"), col("n").as("na"))
      .join(cs.select(col("rid"), col("source").as("sb"), col("n").as("nb")), "rid")
      .filter(col("sa") < col("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        (col("na") * col("nb")).as("w"))
    cross.unionByName(same).unionByName(diff)
      .groupBy("source_a", "source_b").agg(sum("w").as("n_pairs"))
  }

  /** SPLIT-LEAKAGE audit — the eval-contamination check a pipeline runs
    * right after `q_sample_split`: verified near-dup pairs (the
    * `q_minhash_lsh_pairs` stream, identical machinery) classified by
    * the split assignments of their two ends. A `train/test` or
    * `train/val` row is leakage: the eval set contains near-copies of
    * training documents, inflating every downstream metric. Reported
    * per unordered split-class: pair count and distinct documents
    * involved.
    *
    * SCALE: rides the banded LSH pair stream (never all-pairs); the
    * split label is a map-side hash; classification adds two hash
    * joins of the pair stream against the corpus-keyed split table and
    * a 6-class aggregate.
    */
  val splitLeakage: QueryDef = QueryDef.sql(
    "q_split_leakage",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |${interJaccardCtes(BandCandCte, 0.2)},
       |spl AS (SELECT doc_id,
       |               CASE WHEN ${polyHashSql("text")} % 100 < 80 THEN 'train'
       |                    WHEN ${polyHashSql("text")} % 100 < 90 THEN 'val'
       |                    ELSE 'test' END AS split
       |        FROM documents),
       |cls AS (SELECT least(sa.split, sb.split) AS split_a,
       |               greatest(sa.split, sb.split) AS split_b, p.ida, p.idb
       |        FROM prs p JOIN spl sa ON sa.doc_id = p.ida
       |                   JOIN spl sb ON sb.doc_id = p.idb),
       |np AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |       FROM cls GROUP BY 1, 2),
       |dd AS (SELECT split_a, split_b, ida AS d FROM cls
       |       UNION ALL SELECT split_a, split_b, idb FROM cls),
       |nd AS (SELECT split_a, split_b, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
       |       FROM dd GROUP BY 1, 2)
       |SELECT np.split_a, np.split_b, np.n_pairs, nd.n_docs
       |FROM np JOIN nd USING (split_a, split_b)""".stripMargin) { (spark, dir) =>
    // WEIGHTED-REPRESENTATIVE REWRITE (third member of the
    // family): the raw LSH candidate clique made the 100x mega-dup
    // probe read 157.7 s (slope 0.83). The split is a CONTENT hash
    // (`q_sample_split`'s leakage-through-exact-dups rationale), so
    // identical text ⇒ identical split: a cluster has ONE split, every
    // within-cluster pair is same-class with count C(n,2), and a rep
    // edge (A,B) contributes n_A·n_B pairs to its class. Distinct-doc
    // counts are participation sums: all n_A members of a cluster
    // enter class c together iff the cluster has a within pair of that
    // class (n_A ≥ 2, shingled) or an incident rep edge of class c —
    // dedup per (cluster, class), then Σn. Identical output to the raw
    // enumeration; oracle unchanged. The wts joins carry NO broadcast
    // hint: Θ(texts) operand, AQE picks from runtime sizes.
    val docs = Tables(spark, dir, "documents")
    val base = sigBase(docs, Nil, Seq((polyHash(col("text")) % 100).as("bucket")))
    val cl = base.groupBy("ck")
      .agg(repAggs.head, repAggs.tail ++ Seq(count(lit(1)).as("n"), min(col("bucket")).as("bucket")): _*)
      .select(col("rid"), col("hasSh"), col("sig"), col("n"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      // Θ(texts) cluster frame: sigs + weights + splits. DURABILITY:
      // lineage-severed, non-replicated (PLANS.md durability ledger) —
      // executor loss fails the query; a real cluster uses a reliable
      // checkpoint here.
      .localCheckpoint()
    val wts = cl.select(col("rid"), col("split"), col("n"))
    val ew = repPairs(docs, cl)
      .join(wts.select(col("rid").as("ida"), col("split").as("sa"), col("n").as("na")), "ida")
      .join(wts.select(col("rid").as("idb"), col("split").as("sb"), col("n").as("nb")), "idb")
      .select(col("ida"), col("idb"),
        least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"),
        col("na"), col("nb"))
      // rep edge stream feeds pair counts + participation (edge-
      // bounded; durability class as the cluster frame above)
      .localCheckpoint()
    val within = cl.filter(col("hasSh") && col("n") >= 2)
      .select(col("rid"), col("split").as("split_a"), col("split").as("split_b"),
        expr("n * (n - 1) DIV 2").as("w"), col("n"))
    val np = ew.select(col("split_a"), col("split_b"), (col("na") * col("nb")).as("w"))
      .unionByName(within.select(col("split_a"), col("split_b"), col("w")))
      .groupBy("split_a", "split_b").agg(sum("w").as("n_pairs"))
    val nd = ew.select(col("ida").as("rid"), col("split_a"), col("split_b"), col("na").as("n"))
      .unionByName(ew.select(col("idb").as("rid"), col("split_a"), col("split_b"), col("nb").as("n")))
      .unionByName(within.select(col("rid"), col("split_a"), col("split_b"), col("n")))
      .dropDuplicates("rid", "split_a", "split_b")
      .groupBy("split_a", "split_b").agg(sum("n").as("n_docs"))
    np.join(nd, Seq("split_a", "split_b"))
      .select(col("split_a"), col("split_b"), col("n_pairs"), col("n_docs"))
  }

  /** Benchmark decontamination: test-split documents that share an
    * 8-gram fingerprint with any train-split document — the standard
    * eval-leakage check run before every training job. Splits are the
    * content-hash buckets of `q_sample_split` (so the check is stable
    * under re-sharding); fingerprints are 8-token shingle hashes, with
    * ultra-common shingles (df > 64: boilerplate) excluded by the same
    * hot-key anti-join as the ngram blocker. Shape at 100 TB: one
    * hash-keyed equi-join between the (small) test side and the train
    * side — never doc×doc.
    */
  val decontam: QueryDef = QueryDef.sql(
    "q_decontam",
    s"""WITH sh8 AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 8)}) AS s
       |            FROM documents),
       |hs8 AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh8),
       |hot AS (SELECT h FROM hs8 GROUP BY h HAVING count(*) > 64),
       |k AS (SELECT hs8.doc_id, hs8.h FROM hs8 ANTI JOIN hot USING (h)),
       |sp AS (SELECT doc_id, ${polyHashSql("text")} % 100 AS bucket FROM documents),
       |tr AS (SELECT k.doc_id AS train_doc, k.h FROM k JOIN sp USING (doc_id) WHERE sp.bucket < 80),
       |te AS (SELECT k.doc_id AS test_doc, k.h FROM k JOIN sp USING (doc_id) WHERE sp.bucket >= 90)
       |SELECT te.test_doc, CAST(count(DISTINCT te.h) AS BIGINT) AS n_shared,
       |       CAST(min(tr.train_doc) AS BIGINT) AS first_train_doc
       |FROM te JOIN tr ON te.h = tr.h
       |GROUP BY te.test_doc""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val hs8 = Dedup.shingleHashTable(docs, "doc_id", "text", 8)
    // df-cap via count-over-window on ONE h-keyed exchange — the
    // groupBy + anti-join form shuffles the fingerprint table twice
    val k = hs8.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("df") <= 64).drop("df")
    val sp = docs.select(col("doc_id"), (polyHash(col("text")) % 100).as("bucket"))
    val tr = k.join(sp.filter(col("bucket") < 80), "doc_id")
      .select(col("doc_id").as("train_doc"), col("h"))
    val te = k.join(sp.filter(col("bucket") >= 90), "doc_id")
      .select(col("doc_id").as("test_doc"), col("h"))
    te.join(tr, "h")
      .groupBy("test_doc")
      .agg(countDistinct(col("h")).as("n_shared"),
        min(col("train_doc")).as("first_train_doc"))
  }

  /** WINDOW-level decontamination: test-split documents containing any
    * 16-token window (the `q_token_windows` unit, fp = polynomial hash)
    * that also occurs in a train-split document. Finer-grained than
    * `q_decontam`'s 8-gram fingerprints: a contaminated SPAN is flagged
    * even when the surrounding documents differ entirely — the Lee et
    * al. contamination unit. One hash-keyed equi-join; windows travel
    * as BIGINT fps, never as text.
    */
  val windowDecontam: QueryDef = QueryDef.sql(
    "q_window_decontam",
    s"""WITH h AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |                  ${polyHashSql("text")} % 100 AS bucket
       |           FROM documents),
       |w AS (SELECT doc_id, bucket,
       |             ${polyHashSql("array_to_string(toks[w*8+1 : w*8+16], ' ')")} AS fp
       |      FROM h, unnest(range(0, (len(toks) + 7) // 8)) t(w)),
       |tw AS (SELECT doc_id, fp FROM w WHERE bucket >= 90),
       |trw AS (SELECT DISTINCT fp FROM w WHERE bucket < 80)
       |SELECT tw.doc_id, count(DISTINCT tw.fp) AS n_contaminated
       |FROM tw JOIN trw ON trw.fp = tw.fp
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    // tokens() materialized once per row: slice over the raw expression
    // re-tokenizes per window (no subexpr elimination across lambdas),
    // O(L^2/8) in document length
    val toks = col("toks")
    val wins = Tables(spark, dir, "documents")
      .select(col("doc_id"), (polyHash(col("text")) % 100).as("bucket"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("bucket"),
        explode(transform(
          sequence(lit(0), ((size(toks) - 1) / lit(8)).cast("int")),
          w => slice(toks, w * 8 + 1, lit(16)))).as("win"))
      .select(col("doc_id"), col("bucket"),
        polyHash(array_join(col("win"), " ")).as("fp"))
    val test = wins.filter(col("bucket") >= 90).select("doc_id", "fp")
    val train = wins.filter(col("bucket") < 80).select("fp").distinct()
    test.join(train, "fp")
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_contaminated"))
  }

  val all: Seq[QueryDef] = Seq(
    containment, overlapJoin, overlapTop, sourceDupMatrix, winnowContainment, winnowDecontam,
    ngramNovelty, sourceOverlap, splitLeakage, decontam, windowDecontam)
}
