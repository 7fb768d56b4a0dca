package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.{Chunker, CorpusMerge, Dedup}
import org.apache.spark.sql.expressions.Window
import graft.functions.HashExpressions.{orderedPairsFast, positionalShinglesFast, runCutsFast,
  tokenLcpFast, winnowFast}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.VectorFunctions.{cosSimSql, cosineSimilarity}

/** Text deduplication: exact and normalized keys, shingle sets, MinHash
  * and LSH banding, winnowing, prefix filtering, positional prefix and
  * suffix duplicates, repeated spans, the longest repeat, the merge of a
  * new corpus into a deduplicated one, and the audits that size and tune
  * them (hash collisions, band and window tuning, dedup cost).
  *
  * Every technique is replayed exactly in the DuckDB oracle (generated
  * SQL below): shingling, polynomial hashes, MinHash permutations, band
  * blocking and winnow minima are all integer arithmetic. Winnowing
  * (Schleimer, Wilkerson, Aiken 2003) is the local tier: within every
  * window of w consecutive shingle hashes the minimum is selected, so
  * any shared run of ≥ w+n−1 tokens shares a fingerprint by
  * construction, at density ~2/(w+1). The longest repeat needs no
  * suffix array (cf. Lee et al. 2022): a binary search on span width,
  * each probe one pass of the rolling positional-shingle kernel, each
  * candidate verified on its text so a hash collision cannot distort it.
  */
object DedupQueries {

  /** (doc_id, s): distinct 3-token shingles per document. */
  private[queries] val ShCte =
    s"""sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |       FROM documents)""".stripMargin

  /** (doc_id, h): distinct shingle hashes — all pair joins and Jaccard
    * counts run in hash space (matches `Dedup.shingleHashTable`).
    */
  private[queries] val HsCte = s"hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh)"

  /** (doc_id, m0..m7): MinHash signatures. */
  private[queries] val SigCte = {
    val mins = MinhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      s"min(${minhashPermSql("h", a, b)}) AS m$j"
    }.mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)"
  }

  private[queries] val BandsCte = {
    val rows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, m${2 * b} AS x, m${2 * b + 1} AS y FROM sig")
    s"bands AS (${rows.mkString(" UNION ALL ")})"
  }

  private val CardCte = "card AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id)"

  /** The LSH band-bucket candidate CTE — one definition shared by every
    * minhash query so band semantics can never drift between them. */
  private[queries] val BandCandCte =
    """cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.x = b.x AND a.y = b.y
      |              AND a.doc_id < b.doc_id)""".stripMargin

  /** CTE chain ending in `prs(ida, idb, jaccard)` — the verified-pair
    * fragment; queries that post-process pairs append their own final
    * SELECT over `prs` instead of re-inlining the machinery. */
  private[queries] def interJaccardCtes(candCte: String, threshold: Double): String =
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
    // the pair verify — materialize it once (was three full
    // scan+shingle-kernel replays). DURABILITY: lineage-severed,
    // non-replicated (PLANS.md lineage-severed, non-replicated).
    val sets = Dedup.shingleSets(Tables(spark, dir, "documents"), "doc_id", "text", 3)
      .localCheckpoint()
    Dedup.minhashPairs(sets, "doc_id").select(col("ida"), col("idb"), col("jaccard"))
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
    // (was 3x scan+kernel and 2x candidate-generation
    // replays). DURABILITY: lineage-severed, non-replicated.
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
    * the uncollapsed form emits ~100,000x more pairs (PLANS.md). On the dup-free fixture it returns exactly
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
    // one materialization (was 3x collapse+kernel replays).
    // DURABILITY: lineage-severed, non-replicated.
    val sets = Dedup.shingleSets(reps, "doc_id", "text", 3).localCheckpoint()
    Dedup.minhashPairs(sets, "doc_id").select(col("ida"), col("idb"), col("jaccard"))
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
    // both verify ends — one materialization (durability:
    // lineage-severed, non-replicated)
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3).localCheckpoint()
    val sig = Dedup.minhashFromSets(sets, "doc_id")
    val cand = Dedup.lshCandidatesAcross(
      sig.filter(col("doc_id") % 5 === 0), sig.filter(col("doc_id") % 5 =!= 0), "doc_id")
    Dedup.verifiedPairs(cand, sets, "doc_id")
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** DEDUP COST REPORT — what each tier would delete under the
    * min-id-keeper rule, in documents, tokens, and token share (bp):
    * exact (same text), near (shingle Jaccard ≥ 0.5), containment
    * (≥ 0.8). The three drop sets ride the SAME df-capped shingle
    * pair stream (`Dedup.ngramJaccardPairs` at threshold 0, scored
    * both ways), so the report costs one pair pass + three
    * broadcast-sized joins against per-doc token counts — the
    * storage-owner view of the whole dedup family.
    */
  val dedupCost: QueryDef = QueryDef.sql(
    "q_dedup_cost",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |kept AS (SELECT h FROM hs GROUP BY h HAVING count(*) <= 64),
       |hsk AS (SELECT hs.doc_id, hs.h FROM hs JOIN kept ON kept.h = hs.h),
       |cardk AS (SELECT doc_id, count(*) AS c FROM hsk GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hsk a JOIN hsk b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |jp AS (SELECT i.ida, i.idb,
       |              CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS j,
       |              CAST(i.i AS DOUBLE) / least(ca.c, cb.c) AS cont
       |       FROM inter i JOIN cardk ca ON ca.doc_id = i.ida
       |                    JOIN cardk cb ON cb.doc_id = i.idb),
       |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents),
       |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS t FROM tok),
       |exact_drop AS (SELECT d.doc_id FROM documents d
       |               JOIN (SELECT text, min(doc_id) AS m FROM documents GROUP BY text) k
       |                 ON k.text = d.text WHERE d.doc_id > k.m),
       |near_drop AS (SELECT DISTINCT idb AS doc_id FROM jp WHERE j >= 0.5),
       |cont_drop AS (SELECT DISTINCT idb AS doc_id FROM jp WHERE cont >= 0.8),
       |tiers AS (SELECT 'exact' AS tier, doc_id FROM exact_drop
       |          UNION ALL SELECT 'near_jaccard', doc_id FROM near_drop
       |          UNION ALL SELECT 'containment', doc_id FROM cont_drop)
       |SELECT t.tier, CAST(count(*) AS BIGINT) AS n_dropped,
       |       CAST(sum(tok.nt) AS BIGINT) AS tokens_dropped,
       |       CAST((sum(tok.nt) * 10000) // max(tot.t) AS BIGINT) AS token_share_bp
       |FROM tiers t JOIN tok USING (doc_id), tot
       |GROUP BY t.tier""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val hs = Dedup.shingleHashTable(docs, "doc_id", "text", 3)
    val jp = Dedup.ngramJaccardPairs(hs, "doc_id", 0.0)
      .withColumn("cont", col("i").cast("double") / least(col("ca"), col("cb")))
    val tok = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("nt"))
    val tot = tok.agg(sum("nt").cast("long").as("t"))
    // exact tier: ONE narrow shuffle — window over the content key on a
    // (doc_id, ck) frame. The previous text-keyed group + text-keyed
    // join moved the full corpus text through two exchanges and was the
    // whale in this query's third-decade probe (decade 1.36).
    val exactDrop = docs
      .select(col("doc_id"), Dedup.contentKey(col("text")).as("ck"))
      .withColumn("m", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("ck")))
      .filter(col("doc_id") > col("m")).select(col("doc_id"))
    // ONE pass over the pair stream for both similarity tiers: fold the
    // two thresholds into per-doc flags (map-side partial max), then
    // checkpoint the doc-bounded flag table — without this, near and
    // containment each re-ran the whole shingle pair pipeline
    val flags = jp
      .groupBy(col("idb").as("doc_id"))
      .agg(max(when(col("jaccard") >= 0.5, 1).otherwise(0)).as("near"),
        max(when(col("cont") >= 0.8, 1).otherwise(0)).as("cnt"))
      .localCheckpoint()
    val nearDrop = flags.filter(col("near") === 1).select(col("doc_id"))
    val contDrop = flags.filter(col("cnt") === 1).select(col("doc_id"))
    val tiers = exactDrop.withColumn("tier", lit("exact"))
      .unionAll(nearDrop.withColumn("tier", lit("near_jaccard")))
      .unionAll(contDrop.withColumn("tier", lit("containment")))
    tiers.join(tok, "doc_id").crossJoin(broadcast(tot))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_dropped"),
        sum("nt").cast("long").as("tokens_dropped"),
        expr("CAST(sum(nt) * 10000 DIV max(t) AS BIGINT)").as("token_share_bp"))
  }

  /** PREFIX-FILTERED exact similarity join at Jaccard ≥ 0.7 — the
    * PPJoin candidate scheme: order every document's shingles by
    * GLOBAL (df, h) — rare first — and emit only the first
    * |d| − ⌈0.7·|d|⌉ + 1 as blocking keys; two documents can reach
    * 0.7 only if their prefixes share a key (pigeonhole on the rarest
    * tokens), plus the length filter 7·|a| ≤ 10·|b| ≤ 100·|a|/7.
    * The ORACLE is the naive full-blocking join at the same
    * threshold, so the driver's hash-compare literally verifies the
    * algorithm's no-false-negatives theorem on this corpus.
    *
    * SCALE: this is the production answer to the hot-shingle problem
    * WITHOUT a df cap — corpus-stopword shingles have maximal df, so
    * the (df, h) sort puts them LAST and they never enter a prefix;
    * candidate mass is bounded by rare-token collisions. The per-doc
    * ordering needs NO global rank: (df, h) pairs sort identically
    * everywhere (ties broken by h), so an array_sort per doc after
    * one vocabulary-keyed df join suffices. Verification reuses the
    * shared pair-Jaccard kernel.
    */
  val ppjoin: QueryDef = QueryDef.sql(
    "q_ppjoin",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |card AS (SELECT doc_id, count(*) AS c FROM hs GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |          FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.ida, i.idb,
       |       CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
       |FROM inter i JOIN card ca ON ca.doc_id = i.ida
       |             JOIN card cb ON cb.doc_id = i.idb
       |WHERE CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) >= 0.7""".stripMargin) {
    (spark, dir) =>
      // hs feeds the df build AND the per-doc sort join — one explode
      // pass (durability: lineage-severed, non-replicated)
      val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 3)
        .localCheckpoint()
      // df stays the groupBy + re-join form HERE deliberately (both were
      // measured): the count-over-window cut saves one corpus
      // shuffle but concentrates each hot shingle into ONE window task
      // that AQE cannot split — and ppjoin, unlike the overlap family's
      // dup-collapsed diagnostic, feeds the RAW corpus in, so the
      // mega-dup boilerplate key regressed 0.12 → 0.47 under the window
      // (53 s at the 100x dup replica) while the join form's groupBy
      // partial-aggregates map-side and its join is AQE-skew-splittable.
      // Rule recorded in PLANS.md: window-df for skew-collapsed or
      // capped inputs, join-df wherever a hot raw key can concentrate.
      val df_ = hs.groupBy("h").agg(count(lit(1)).as("df"))
      val sorted = hs.join(df_, "h") // vocabulary-keyed join
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("sh"),
          count(lit(1)).as("c"))
      // prefix size |d| - ceil(0.7|d|) + 1; ceil(7n/10) = (7n+9) DIV 10
      // prefix frame feeds both self-join ends — one df-join + sort
      // chain, not two (durability: lineage-severed, non-replicated)
      val pref = sorted.select(col("doc_id"), col("c"),
        explode(expr("slice(sh, 1, CAST(size(sh) - (7 * size(sh) + 9) DIV 10 + 1 AS INT))"))
          .as("p"))
        .select(col("doc_id"), col("c"), col("p.h").as("h"))
        .localCheckpoint()
      val cand = pref.select(col("doc_id").as("ida"), col("c").as("pca"), col("h"))
        .join(pref.select(col("doc_id").as("idb"), col("c").as("pcb"), col("h")), "h")
        .filter(col("ida") < col("idb") &&
          col("pca") * 7 <= col("pcb") * 10 && col("pcb") * 7 <= col("pca") * 10)
        .select("ida", "idb").distinct()
      // verify from map-side sets: no corpus aggregation in the verify;
      // both verify ends read one materialized set frame
      Dedup.jaccardForPairsSets(cand,
          Dedup.shingleSets(Tables(spark, dir, "documents"), "doc_id", "text", 3)
            .localCheckpoint(), "doc_id")
        .filter(col("jaccard") >= 0.7)
        .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** LSH BAND-TUNING planner — the (bands, rows) decision for an
    * 8-hash MinHash signature as a query: for every factorization
    * b·r = 8 and Jaccard grid point j = x/10, the candidate
    * probability 1 − (1 − j^r)^b, computed EXACTLY in integers:
    * p_ppm = (10^8 − (10^r − x^r)^b) · 10^6 DIV 10^8 (r·b = 8 makes
    * the denominator uniform) — no pow(), no doubles, so both engines
    * agree bit-for-bit. Read a row set per config and pick the
    * S-curve that brackets the target threshold; this is the planning
    * table behind `Dedup.lshCandidates`' 4×2 default and the
    * `scaledBitsPerBand` escalation. SCALE: 4×5 literal rows — the
    * planner costs nothing, which is why it can run fleet-wide per
    * corpus before choosing a dedup config.
    */
  val lshTuning: QueryDef = {
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val js = Seq(1, 3, 5, 7, 9)
    def powTxt(base: String, n: Int): String = Seq.fill(n)(base).mkString(" * ")
    def rowsSql: String = (for ((b, r) <- configs; x <- js) yield {
      val xr = powTxt(x.toString, r) // x^r
      val tenR = math.pow(10, r).toLong // 10^r exact for r <= 8
      val inner = s"($tenR - ($xr))" // 10^r - x^r
      val innB = powTxt(inner, b) // (10^r - x^r)^b
      s"SELECT $b AS bands, $r AS rows_per_band, $x AS j_x10, " +
        s"CAST(CAST(100000000 - ($innB) AS BIGINT) * 1000000 // 100000000 AS BIGINT) AS p_ppm"
    }).mkString("\nUNION ALL ")
    QueryDef.sql(
      "q_lsh_tuning",
      s"""SELECT CAST(bands AS BIGINT) AS bands,
         |       CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |       CAST(j_x10 AS BIGINT) AS j_x10, p_ppm
         |FROM ($rowsSql)""".stripMargin) { (spark, dir) =>
      val rows = for ((b, r) <- configs; x <- js) yield {
        val xr = math.pow(x, r).toLong
        val tenR = math.pow(10, r).toLong
        val innB = BigInt(tenR - xr).pow(b)
        require(innB <= BigInt(100000000L), "r*b=8 keeps the scale at 10^8")
        val pPpm = (BigInt(100000000L) - innB) * 1000000 / 100000000
        (b.toLong, r.toLong, x.toLong, pPpm.toLong)
      }
      import spark.implicits._
      rows.toDF("bands", "rows_per_band", "j_x10", "p_ppm")
    }
  }

  private val N = 3 // shingle width (tokens)

  private val W = 4 // winnow window (hashes)

  /** Shared DuckDB CTE prefix: positional shingle hashes per document
    * (row-wise polyhash, re-assembled in position order — no nested
    * lambdas) and the per-window minima list `w` (one element per
    * window; a shorter-than-W hash sequence contributes its single
    * global minimum).
    */
  private[queries] val winnowCte: String =
    s"""WITH tk AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - ${N - 2}, 1))) AS pos, toks FROM tk),
       |hrow AS (SELECT doc_id, pos,
       |                ${polyHashSql(s"array_to_string(list_slice(toks, pos, pos + ${N - 1}), ' ')")} AS h
       |         FROM sh),
       |hs AS (SELECT doc_id, list(h ORDER BY pos) AS h FROM hrow GROUP BY doc_id),
       |wins AS (SELECT doc_id,
       |                CASE WHEN len(h) >= $W
       |                     THEN list_transform(range(1, len(h) - ${W - 2}),
       |                                         j -> list_min(list_slice(h, j, j + ${W - 1})))
       |                     ELSE [list_min(h)] END AS w
       |         FROM hs)""".stripMargin

  /** WINNOWING DENSITY — per document-length bucket: window count,
    * selected-fingerprint count, and realized density in basis points
    * against the theoretical 2/(w+1). The selection itself runs in one
    * codegen kernel pass (no shingle strings, no per-window arrays);
    * the count arithmetic (m shingles -> max(m-W+1, [m>=1]) windows)
    * is recomputed from token counts so the kernel's output size is
    * CROSS-CHECKED against closed-form expectations by the oracle.
    * SCALE: map-only into a ~bucket-count aggregate — the fingerprint
    * extraction tier of a 100-TB dedup pass, no joins.
    */
  val winnow: QueryDef = QueryDef.sql(
    "q_winnow",
    s"""$winnowCte
       |SELECT CAST(tk.n_chars // 256 AS BIGINT) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(coalesce(len(w.w), 0)) AS BIGINT) AS n_windows,
       |       CAST(sum(coalesce(len(list_distinct(w.w)), 0)) AS BIGINT) AS n_fp,
       |       CAST(sum(coalesce(len(list_distinct(w.w)), 0)) * 10000
       |            // greatest(sum(coalesce(len(w.w), 0)), 1) AS BIGINT) AS density_bp
       |FROM tk LEFT JOIN wins w ON w.doc_id = tk.doc_id
       |GROUP BY 1""".stripMargin) { (spark, dir) =>
    val m = greatest(size(tokens(col("text"))) - (N - 1), lit(0))
    val nw = when(m >= W, m - (W - 1)).when(m >= 1, lit(1)).otherwise(lit(0))
    Tables(spark, dir, "documents")
      .select(
        (col("n_chars") / 256).cast("long").as("bucket"),
        nw.cast("long").as("nw"),
        size(winnowFast(tokens(col("text")), N, W)).cast("long").as("nf"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("n_windows"),
        sum("nf").as("n_fp"),
        expr("sum(nf) * 10000 DIV greatest(sum(nw), 1)").as("density_bp"))
  }

  /** WINNOWING OVERLAP — the match-detection half of MOSS: documents
    * sharing >= 3 selected fingerprints, reported as a shared-count
    * histogram. Pairs are generated by grouping the inverted
    * fingerprint index (df-capped at 64 — boilerplate fingerprints
    * carry no match signal, same cap as the shingle tiers) and
    * emitting a<b pairs in one kernel call per group — one shuffle on
    * fingerprint, one on the pair, no self-join. SCALE: candidate mass
    * is sum(df^2) over the SELECTED (~2/(w+1)-sampled) index, i.e. the
    * postings-join bound paid on a ~40%-sampled stream (density 2/(w+1) = 0.4, i.e. ~2.5x sparser; larger w buys more).
    */
  val winnowOverlap: QueryDef = QueryDef.sql(
    "q_winnow_overlap",
    s"""$winnowCte,
       |fp AS (SELECT doc_id, unnest(list_distinct(w)) AS f FROM wins),
       |kept AS (SELECT f FROM fp GROUP BY f HAVING count(*) BETWEEN 2 AND 64),
       |fpk AS (SELECT fp.doc_id, fp.f FROM fp JOIN kept ON kept.f = fp.f),
       |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
       |          FROM fpk a JOIN fpk b ON a.f = b.f AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2 HAVING count(*) >= 3)
       |SELECT CAST(shared AS BIGINT) AS shared,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs GROUP BY 1""".stripMargin) { (spark, dir) =>
    // one fingerprint-keyed shuffle into a CAPPED collect: a plain collect_list + post-agg size filter
    // buffers a hot fingerprint's ENTIRE posting list before the
    // 2..64 filter drops it — a boilerplate run shared by a constant
    // fraction of the corpus is one reducer buffer of Θ(corpus) ids.
    // CappedCollectAggregator keeps the EXACT group count n and at
    // most 65 ids, so n ≤ 64 groups carry their complete id set
    // (identical output) and hot groups carry O(cap) bytes at any
    // skew. A count-prefilter + checkpoint variant (the bloom-prejoin
    // shape) was tried and REJECTED by its own probe: materializing the
    // exploded index and shuffling it twice costs more than the
    // singleton collect groups it saves (warm 10x 9.3 s -> 15.4 s)
    val cappedCollect = udaf(
      new graft.operators.TypedOps.CappedCollectAggregator(64),
      org.apache.spark.sql.Encoders.scalaLong)
    val fp = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(winnowFast(tokens(col("text")), N, W)).as("f"))
    fp.groupBy("f").agg(cappedCollect(col("doc_id")).as("c"))
      .filter(col("c.n").between(2, 64))
      .select(explode(orderedPairsFast(col("c.ids"))).as("p"))
      .groupBy(col("p.ida").as("ida"), col("p.idb").as("idb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
      .groupBy("shared")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Rows of `t` (doc_id, text) with ≥ 8 tokens, keyed by the hash `h8`
    * of the 8-token `end` of their tokens `toks`; keys in more than 64
    * rows are dropped. The cap is a count over an h8-keyed window (one
    * exchange), and the frame is materialized once for both ends of
    * the h8 self-join (lineage-severed, non-replicated).
    */
  private def hotCapped(t: DataFrame, end: Column): DataFrame =
    t.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), col("text"), polyHash(array_join(end, " ")).as("h8"))
      .withColumn("dfh", count(lit(1)).over(Window.partitionBy(col("h8"))))
      .filter(col("dfh") <= 64).drop("dfh")
      .localCheckpoint()

  /** PREFIX DUPLICATES — truncated re-crawls: documents that are a
    * strict token-boundary PREFIX of another document. The set-based
    * tiers under-score these (a half-truncation has Jaccard ~0.5, below
    * near-dup thresholds), yet they are pure redundancy for training.
    * Blocking is the first-8-token hash (truncation preserves the
    * head), df-capped at 64 so boilerplate heads cannot quadratify the
    * block join; candidates are then verified EXACTLY with a
    * token-boundary starts_with. The fixture carries no organic
    * truncations, so (as `q_corpus_diff` does for snapshots) the query
    * derives them deterministically: every 9th document contributes a
    * half-length variant under a shifted id — the detection MECHANISM
    * is the production shape. SCALE: one df-capped equi-join on an
    * 8-token head hash; decade probe (10x->100x) slope 1.02 — fully
    * linear, the constant being corpus text mass through the block
    * join. A candidate-fetch split (block join on (id, h8, len) only,
    * text joined back for candidates) was tried and REJECTED by its
    * own decade probe (1.02 -> 1.96): same-head blocks admit O(B^2)
    * length-ordered candidates, so fetching candidate text costs MORE
    * than shipping each document once — in-join verify wins whenever
    * block size beats the true-match rate.
    */
  val prefixDup: QueryDef = QueryDef.sql(
    "q_prefix_dup",
    s"""WITH tr AS (SELECT doc_id + 10000000 AS doc_id,
       |                  array_to_string(list_slice(string_split(text, ' '), 1,
       |                    (len(string_split(text, ' ')) + 1) // 2), ' ') AS text
       |           FROM documents WHERE doc_id % 9 = 0),
       |u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tr),
       |t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM u),
       |h AS (SELECT doc_id, text,
       |             ${polyHashSql("array_to_string(list_slice(toks, 1, 8), ' ')")} AS h8
       |      FROM t WHERE len(toks) >= 8),
       |kept AS (SELECT h8 FROM h GROUP BY h8 HAVING count(*) <= 64),
       |hk AS (SELECT h.* FROM h JOIN kept ON kept.h8 = h.h8),
       |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
       |             CAST(length(a.text) AS BIGINT) AS la,
       |             CAST(length(b.text) AS BIGINT) AS lb
       |      FROM hk a JOIN hk b ON a.h8 = b.h8 AND a.doc_id <> b.doc_id
       |      WHERE length(a.text) < length(b.text)
       |        AND starts_with(b.text, a.text || ' '))
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(DISTINCT ida) AS BIGINT) AS n_prefix_docs,
       |       CAST(count(DISTINCT idb) AS BIGINT) AS n_full_docs,
       |       CAST(CASE WHEN count(*) = 0 THEN 0
       |                 ELSE sum((la * 10000) // lb) // count(*) END AS BIGINT) AS avg_prefix_bp
       |FROM p""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val trunc = docs.filter(pmod(col("doc_id"), lit(9L)) === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) DIV 2), ' ')")
          .as("text"))
    val hk = hotCapped(docs.unionByName(trunc), slice(col("toks"), 1, 8))
    hk.as("a").join(hk.as("b"),
        col("a.h8") === col("b.h8") && col("a.doc_id") =!= col("b.doc_id") &&
          length(col("a.text")) < length(col("b.text")) &&
          col("b.text").startsWith(concat(col("a.text"), lit(" "))))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        length(col("a.text")).cast("long").as("la"),
        length(col("b.text")).cast("long").as("lb"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("ida").as("n_prefix_docs"),
        countDistinct("idb").as("n_full_docs"),
        expr("CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE sum((la * 10000) DIV lb) DIV count(*) END").as("avg_prefix_bp"))
  }

  /** CHUNK DEDUP — exact dedup at the CHUNK granularity the reference
    * indexes (`cut_texts_in_subtexts`, load-texts.c:37-105): identical
    * chunks across documents need one embedding + one `.vdb` row, so
    * the dup share IS the index-store saving. Also reports cross-doc
    * hash collisions (chunks shared between DIFFERENT documents — the
    * boilerplate tier) and the characters a dedup'd store avoids
    * embedding. SCALE: chunk hashes are computed map-side and only
    * (hash, len) crosses the shuffle — chunk text never moves; one
    * hash-keyed agg then a 1-row fold, the q_dedup_exact shape on the
    * chunk axis.
    */
  val chunkDedup: QueryDef = QueryDef.sql(
    "q_chunk_dedup",
    s"""WITH RECURSIVE ${RagQueries.chunkCte(RagQueries.ChunkLen)},
       |h AS (SELECT doc_id, ${polyHashSql("chunk")} AS h, length(chunk) AS lc FROM chunks),
       |g AS (SELECT h, count(*) AS cnt, count(DISTINCT doc_id) AS nd, max(lc) AS lc
       |      FROM h GROUP BY h)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
       |       CAST(count(*) AS BIGINT) AS n_distinct,
       |       CAST(sum(cnt) - count(*) AS BIGINT) AS dup_chunks,
       |       CAST((sum(cnt) - count(*)) * 10000 // sum(cnt) AS BIGINT) AS dup_bp,
       |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS cross_doc_hashes,
       |       CAST(sum((cnt - 1) * lc) AS BIGINT) AS saved_chars
       |FROM g""".stripMargin) { (spark, dir) =>
    val ch = Chunker.chunk(
        Tables(spark, dir, "documents").select("doc_id", "text"),
        "text", RagQueries.ChunkLen)
      .select(polyHash(col("chunk")).as("h"), col("doc_id"),
        length(col("chunk")).cast("long").as("lc"))
    ch.groupBy("h")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("nd"),
        max("lc").as("lc"))
      .agg(sum("cnt").as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        (sum("cnt") - count(lit(1))).as("dup_chunks"),
        expr("(sum(cnt) - count(*)) * 10000 DIV sum(cnt)").as("dup_bp"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("cross_doc_hashes"),
        sum((col("cnt") - 1) * col("lc")).as("saved_chars"))
  }

  /** SUFFIX DUPLICATES — documents that are a strict token-boundary
    * SUFFIX of another: the head-stripped re-crawl (nav/boilerplate
    * header removed, body identical), the mirror artifact of the
    * truncated tail. Blocking on the LAST-8-token hash (stripping the
    * head preserves the tail), df-capped 64, exact ends_with verify
    * inside the join (the `q_prefix_dup` decade probe showed in-join
    * verify beats candidate-fetch whenever block size beats the match
    * rate — same trade here). Derived fixtures: every 8th document
    * contributes its second half under a shifted id. SCALE: identical
    * to q_prefix_dup — one df-capped head... tail-hash equi-join,
    * linear in corpus text mass.
    */
  val suffixDup: QueryDef = QueryDef.sql(
    "q_suffix_dup",
    s"""WITH tr AS (SELECT doc_id + 20000000 AS doc_id,
       |                  array_to_string(list_slice(string_split(text, ' '),
       |                    len(string_split(text, ' ')) - (len(string_split(text, ' ')) + 1) // 2 + 1,
       |                    len(string_split(text, ' '))), ' ') AS text
       |           FROM documents WHERE doc_id % 8 = 0),
       |u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM tr),
       |t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM u),
       |h AS (SELECT doc_id, text,
       |             ${polyHashSql("array_to_string(list_slice(toks, len(toks) - 7, len(toks)), ' ')")} AS h8
       |      FROM t WHERE len(toks) >= 8),
       |kept AS (SELECT h8 FROM h GROUP BY h8 HAVING count(*) <= 64),
       |hk AS (SELECT h.* FROM h JOIN kept ON kept.h8 = h.h8),
       |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
       |             CAST(length(a.text) AS BIGINT) AS la,
       |             CAST(length(b.text) AS BIGINT) AS lb
       |      FROM hk a JOIN hk b ON a.h8 = b.h8 AND a.doc_id <> b.doc_id
       |      WHERE length(a.text) < length(b.text)
       |        AND ends_with(b.text, ' ' || a.text))
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(DISTINCT ida) AS BIGINT) AS n_suffix_docs,
       |       CAST(count(DISTINCT idb) AS BIGINT) AS n_full_docs,
       |       CAST(CASE WHEN count(*) = 0 THEN 0
       |                 ELSE sum((la * 10000) // lb) // count(*) END AS BIGINT) AS avg_suffix_bp
       |FROM p""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val trunc = docs.filter(pmod(col("doc_id"), lit(8L)) === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        expr("array_join(slice(split(text, ' '), " +
          "size(split(text, ' ')) - (size(split(text, ' ')) + 1) DIV 2 + 1, " +
          "(size(split(text, ' ')) + 1) DIV 2), ' ')").as("text"))
    val hk = hotCapped(docs.unionByName(trunc), expr("slice(toks, size(toks) - 7, 8)"))
    hk.as("a").join(hk.as("b"),
        col("a.h8") === col("b.h8") && col("a.doc_id") =!= col("b.doc_id") &&
          length(col("a.text")) < length(col("b.text")) &&
          col("b.text").endsWith(concat(lit(" "), col("a.text"))))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        length(col("a.text")).cast("long").as("la"),
        length(col("b.text")).cast("long").as("lb"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("ida").as("n_suffix_docs"),
        countDistinct("idb").as("n_full_docs"),
        expr("CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE sum((la * 10000) DIV lb) DIV count(*) END").as("avg_suffix_bp"))
  }

  /** HASH COLLISION AUDIT — the engine's content hash is a polynomial
    * fold mod 1e9+7 (~30 bits). Exact DOC dedup keys on full text and
    * is immune; but the hash-keyed tiers (chunk dedup, shingle
    * postings, manifests) would birthday-collide at corpus scale:
    * expected collisions ≈ n²/2p, which is ~500 at 1M distinct items
    * and catastrophic at 10^12. This query MEASURES it on the corpus's
    * distinct shingle strings — observed single-hash collisions vs the
    * n²/2p projection — and validates the mitigation: a second hash
    * with a DIFFERENT MULTIPLIER (37; a salted 31-hash stays affinely
    * correlated per length class, the rendezvous-shard trap), giving a
    * ~60-bit pair whose collision count on the same items is the third
    * column (expected ~n²/2p² ≈ 0). The production rule this query
    * enforces with numbers: any tier that MERGES by hash must either
    * key on content (doc dedup), tolerate w.h.p. equality (manifests),
    * or carry the 60-bit pair (chunk stores beyond ~10^8 items).
    * SCALE: one distinct-shingle shuffle + a 1-row aggregate; the
    * audit costs one pass over the vocabulary it protects.
    */
  val hashCollisions: QueryDef = QueryDef.sql(
    "q_hash_collisions",
    s"""WITH sh AS (SELECT DISTINCT unnest(${shinglesSql("string_split(text, ' ')", 3)}) AS s
       |           FROM documents),
       |h AS (SELECT s, ${polyHashSql("s")} AS h1, ${polyHashMulSql("s", 37)} AS h2 FROM sh),
       |a AS (SELECT count(*) AS n, count(DISTINCT h1) AS d1,
       |             count(DISTINCT (h1, h2)) AS d2 FROM h)
       |SELECT CAST(n AS BIGINT) AS n_items,
       |       CAST(n - d1 AS BIGINT) AS h1_collisions,
       |       CAST(n * n // 2000000014 AS BIGINT) AS expected_h1,
       |       CAST(n - d2 AS BIGINT) AS pair_collisions
       |FROM a""".stripMargin) { (spark, dir) =>
    // SHAPE: the former single aggregate mixed one plain count
    // with TWO distinct groups, which Spark plans as an Expand — every
    // distinct-shingle row tripled into the aggregate exchange. Grouping
    // by the hash PAIR first partial-aggregates map-side (16 B keys),
    // and all three statistics fold out of the pair-group table:
    // n = Σ cnt, d2 = |groups|, d1 = |distinct h1 among groups| — one
    // narrow exchange instead of a 3x-expanded one, same values.
    val sh = Tables(spark, dir, "documents")
      .select(explode(shingles(tokens(col("text")), 3)).as("s")).distinct()
    sh.select(polyHash(col("s")).as("h1"), polyHashMul(col("s"), 37).as("h2"))
      .groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
      // coalesce: sum over an empty pair-group table is NULL where the
      // oracle's count(*) is 0 (empty-corpus contract)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"), countDistinct("h1").as("d1"),
        count(lit(1)).as("d2"))
      .select(col("n").as("n_items"),
        (col("n") - col("d1")).as("h1_collisions"),
        expr("n * n DIV 2000000014").as("expected_h1"),
        (col("n") - col("d2")).as("pair_collisions"))
  }

  private val Widths = Seq(2, 4, 8, 16)

  /** WINNOW TUNING — for w in {2,4,8,16} over the real corpus: window
    * count, selected-fingerprint count, realized density (bp) vs the
    * theoretical 2/(w+1), and the guarantee length w+n-1 (the shortest
    * shared token run that is ALWAYS caught). Doubling w roughly
    * halves the index but lengthens the guaranteed-catch threshold —
    * this query prices that trade on the corpus's own hash stream
    * instead of assuming the uniform-hash theory. SCALE: one map pass
    * per width (4 kernel passes over the same scan), bucket-free
    * 4-row aggregate.
    */
  val winnowTuning: QueryDef = QueryDef.sql(
    "q_winnow_tuning",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(range(1, greatest(len(toks) - 1, 1))) AS pos, toks FROM tk),
       |hrow AS (SELECT doc_id, pos,
       |                ${polyHashSql("array_to_string(list_slice(toks, pos, pos + 2), ' ')")} AS h
       |         FROM sh),
       |hs AS (SELECT doc_id, list(h ORDER BY pos) AS h FROM hrow GROUP BY doc_id),
       |per AS (SELECT w.w AS w, hs.doc_id,
       |               CASE WHEN len(h) >= w.w THEN len(h) - w.w + 1
       |                    WHEN len(h) >= 1 THEN 1 ELSE 0 END AS nw,
       |               len(list_distinct(
       |                 CASE WHEN len(h) >= w.w
       |                      THEN list_transform(range(1, len(h) - w.w + 2),
       |                                          j -> list_min(list_slice(h, j, j + w.w - 1)))
       |                      ELSE [list_min(h)] END)) AS nf
       |        FROM hs CROSS JOIN (SELECT unnest([2, 4, 8, 16]) AS w) w)
       |SELECT CAST(w AS BIGINT) AS w,
       |       CAST(w + 2 AS BIGINT) AS guarantee_len,
       |       CAST(sum(nw) AS BIGINT) AS n_windows,
       |       CAST(sum(nf) AS BIGINT) AS n_fp,
       |       CAST(sum(nf) * 10000 // greatest(sum(nw), 1) AS BIGINT) AS density_bp,
       |       CAST(20000 // (w + 1) AS BIGINT) AS theory_bp
       |FROM per GROUP BY w""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    val m = greatest(size(toks) - 2, lit(0))
    val docs = Tables(spark, dir, "documents")
    Widths.map { w =>
      val nw = when(m >= w, m - (w - 1)).when(m >= 1, lit(1)).otherwise(lit(0))
      docs.select(lit(w.toLong).as("w"),
          nw.cast("long").as("nw"),
          size(winnowFast(toks, 3, w)).cast("long").as("nf"))
    }.reduce(_ unionByName _)
      .groupBy("w")
      .agg(count(lit(1)).as("nd"), sum("nw").as("n_windows"), sum("nf").as("n_fp"))
      .select(col("w"), (col("w") + 2).as("guarantee_len"),
        col("n_windows"), col("n_fp"),
        expr("n_fp * 10000 DIV greatest(n_windows, 1)").as("density_bp"),
        expr("20000 DIV (w + 1)").as("theory_bp"))
  }

  /** NORMALIZED DEDUP — collapse after canonicalization (lowercase,
    * strip non-alphanumerics, squeeze whitespace): the tier that
    * catches case/punctuation re-encodings that exact dedup misses and
    * fuzzy tiers over-pay for. Reports how many additional groups
    * collapse beyond raw-exact — the marginal yield that decides
    * whether the normalization pass belongs in the pipeline. The
    * fixture is already canonical, so (the corpus_diff pattern) every
    * 13th document contributes an UPPERCASED+period variant — each
    * must collapse back onto its source under normalization, and the
    * spec pins extra_collapsed to exactly that count. SCALE:
    * one map-side canonicalization + one content-keyed shuffle (the
    * q_dedup_exact shape; the normalized key ships instead of raw
    * text, usually shorter).
    */
  val normDedup: QueryDef = QueryDef.sql(
    "q_norm_dedup",
    """WITH u AS (SELECT text FROM documents
      |           UNION ALL
      |           SELECT upper(text) || '.' AS text FROM documents WHERE doc_id % 13 = 0),
      |n AS (SELECT text,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |       '  +', ' ', 'g')) AS norm
      |  FROM u)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT text) AS BIGINT) AS n_raw_distinct,
      |       CAST(count(DISTINCT norm) AS BIGINT) AS n_norm_distinct,
      |       CAST(count(DISTINCT text) - count(DISTINCT norm) AS BIGINT) AS extra_collapsed,
      |       CAST((count(DISTINCT text) - count(DISTINCT norm)) * 10000
      |            // count(DISTINCT text) AS BIGINT) AS extra_bp
      |FROM n""".stripMargin) { (spark, dir) =>
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), lit("[^a-z0-9 ]"), lit("")),
      lit("  +"), lit(" ")))
    val docs = Tables(spark, dir, "documents")
    docs.select(col("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
        .select(concat(upper(col("text")), lit(".")).as("text")))
      .select(col("text"), norm.as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("text").as("n_raw_distinct"),
        countDistinct("norm").as("n_norm_distinct"))
      .select(col("n_docs"), col("n_raw_distinct"), col("n_norm_distinct"),
        (col("n_raw_distinct") - col("n_norm_distinct")).as("extra_collapsed"),
        expr("(n_raw_distinct - n_norm_distinct) * 10000 DIV n_raw_distinct")
          .as("extra_bp"))
  }

  /** LONGEST REPEATED SPAN — the exact answer to "what is the longest
    * token sequence this corpus contains twice?" (overlaps and
    * same-document repeats count, spans never cross documents), by
    * seed-and-extend over 8-token seeds:
    *
    *  - SEEDS. One pass of the rolling prefix-hash kernel hashes every
    *    t0-token window (t0 = 8) and keeps each window start whose
    *    fingerprint occurs at least twice (a partial count, then a
    *    semi-join). A repeat of length L >= t0 occurs at two or more
    *    positions, so each of its L - t0 + 1 windows does too: every
    *    window start inside every occurrence is a candidate.
    *    Fingerprints only prune — a hash collision adds candidates,
    *    never answers.
    *  - RUN CUT. Each candidate start p ships its suffix cut at the end
    *    of its run of consecutive candidate starts plus t0 - 1 tokens
    *    (`runCuts`, one row per start), and capped at k = 128 tokens.
    *    A repeat starting at p has all its window starts in that run,
    *    so the cut keeps it whole, and a cut suffix is a prefix of the
    *    true one, so the cut never lengthens a common prefix either. A
    *    row ships at most k tokens, whatever the length of its run.
    *  - SORT. Suffixes sharing t0 or more tokens share their seed, so a
    *    window partitioned by the seed and ordered by the cut suffix
    *    gives each row its token LCP with the next row, as in a suffix
    *    array; the largest is min(L*, k). Below k it is L*: the witness
    *    is the least space-joined L*-prefix among rows with LCP L*, and
    *    since the suffixes with that prefix are contiguous, its n_occ is
    *    one more than the rows with LCP L* and that prefix.
    *  - EXTEND, only when some pair shares all k tokens. Classes of
    *    equal windows replace tokens: each k-window that occurs twice
    *    gets a class id (the least position holding it). Doubling joins
    *    the class at p with the class at p + h into the 2h-window class
    *    (equal pairs, equal text), while any class has two members; a
    *    binary descent over the same levels then gives the widest
    *    repeated multiple of k, L <= L* < L + k. Each member of a
    *    repeated L-window class then ships its next k - 1 tokens, and a
    *    window per class, ordered by those, gives L* and n_occ as in
    *    SORT; the witness is sliced from one member per class. Rows
    *    carry ids, never text, so a long duplicate document or a long
    *    one-token run costs O(positions · log L*), not O(L*²).
    *  - FALLBACK. Only when no pair of cut suffixes shares t0 tokens
    *    (L* < t0, which includes corpora whose documents are all shorter
    *    than t0) does one pass over widths 1..t0-1 decide: every window
    *    of every width, fingerprint-pruned, then verified on text; the
    *    answer is the widest verified width and its least span. The
    *    widths are one exploded array literal read by the same shingle
    *    kernel, so one plan serves them all.
    *
    * Two Spark actions in the usual case (the token checkpoint and the
    * seed pass), three with the fallback, and two or three per level
    * when extending. Every shuffle is keyed by a fingerprint, a
    * document, a seed or a class. Shipped suffix tokens are at most k
    * per candidate start. A seed or a class that occurs m times is
    * sorted in one task: m rows of at most k tokens, or of ids. The
    * answer is a local one-row frame, and every checkpoint the query
    * takes is released before it returns.
    *
    * Oracle: the real suffix-sort construction — every token suffix,
    * char-sorted (the space separator sorts below all token chars, so
    * equal-token-prefix groups stay contiguous), adjacent-pair token
    * LCP via the first-mismatch position of the zipped lists (no
    * mismatch: the shorter length; DuckDB's `list_position` gives 0 or
    * NULL for a missing value, by version, so both are read as none),
    * max LCP = the span width, then the least witness and its prefix
    * count.
    */
  val longestRepeat: QueryDef = QueryDef.sql(
    "q_longest_repeat",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |suf AS (SELECT doc_id, p, toks[p:len(toks)] AS st
       |        FROM tk, unnest(range(1, len(toks) + 1)) t(p)),
       |srt AS (SELECT st, lead(st) OVER (ORDER BY array_to_string(st, ' ')) AS nx FROM suf),
       |l AS (SELECT st,
       |             CASE WHEN nx IS NULL THEN 0
       |                  ELSE coalesce(nullif(list_position(list_transform(list_zip(st, nx),
       |                         p -> coalesce(p[1] = p[2], false)), false), 0) - 1,
       |                       least(len(st), len(nx))) END AS lcp
       |      FROM srt),
       |best AS (SELECT max(lcp) AS len FROM l),
       |win AS (SELECT min(array_to_string(st[1:len], ' ')) AS span
       |        FROM l, best WHERE lcp = len AND len >= 1),
       |occ AS (SELECT count(*) AS n FROM suf, best, win
       |        WHERE len(st) >= len AND array_to_string(st[1:len], ' ') = span)
       |SELECT CAST(best.len AS BIGINT) AS lrs_len, CAST(occ.n AS BIGINT) AS n_occ, win.span
       |FROM best, win, occ WHERE best.len >= 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // every frame the query checkpoints, released before it returns
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { val c = df.localCheckpoint(); held += c; c }
    // read by every pass (durability: lineage-severed, non-replicated);
    // `rid` keys the per-document joins, so NULL and repeated doc_ids
    // stay distinct documents, as in the oracle
    val tk = hold(Tables(spark, dir, "documents")
      .select(monotonically_increasing_id().as("rid"), tokens(col("text")).as("toks")))
    val t0 = 8
    val k = 128
    // the rows of `w` whose `key` occurs at least twice
    def repeated(w: DataFrame, key: String*): DataFrame =
      w.join(w.groupBy(key.map(col): _*).count().filter(col("count") >= 2), key, "left_semi")
    def best(rows: DataFrame): Option[(Long, Long, String)] =
      rows.orderBy(col("len").desc, col("span")).limit(1).collect().headOption
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

    val sufs = repeated(tk.select(col("rid"),
        explode(positionalShinglesFast(col("toks"), lit(t0))).as("pf"))
        .select(col("rid"), col("pf.p").as("p"), col("pf.fp").as("fp")), "fp")
      .groupBy("rid").agg(collect_list(col("p")).as("ps"))
      .join(tk, "rid")
      .select(col("rid"), col("toks"), explode(runCutsFast(col("ps"), t0)).as("r"))
      .select(col("rid"), col("r.p").as("p"),
        slice(col("toks"), col("r.p"), least(col("r.len"), lit(k))).as("suf"))
    val seeds = sufs
      .select(col("suf"), tokenLcpFast(col("suf"), lead(col("suf"), 1).over(
        Window.partitionBy(slice(col("suf"), lit(1), lit(t0))).orderBy("suf"))).as("lcp"))
      .filter(col("lcp") >= t0)
      .groupBy(col("lcp").cast("long").as("len"),
        array_join(slice(col("suf"), lit(1), col("lcp")), " ").as("span"))
      .agg((count(lit(1)) + 1).as("n_occ"))
      .select("len", "n_occ", "span")

    // (rid, p, c) for each start whose window, keyed by `key`, occurs at
    // least twice; c, the least (rid, p) holding that window, names it
    def classes(w: DataFrame, key: String*): DataFrame = {
      val same = Window.partitionBy(key.map(col): _*)
      hold(w.select(col("rid"), col("p"), count(lit(1)).over(same).as("n"),
          min(struct(col("rid"), col("p"))).over(same).as("c"))
        .filter(col("n") >= 2).select("rid", "p", "c"))
    }
    // classes of (a + b)-token windows: an a-window class at p, then a
    // b-window class at p + a
    def concat(x: DataFrame, a: Int, y: DataFrame): DataFrame =
      classes(x.join(y.select(col("rid"), (col("p") - a).as("p"), col("c").as("c2")),
        Seq("rid", "p")), "c", "c2")
    def extend(): (Long, Long, String) = {
      // window classes of width k, 2k, 4k, ... while any class repeats
      val levels = Iterator.iterate((k, classes(sufs.filter(size(col("suf")) === k), "suf"))) {
        case (h, t) => (2 * h, concat(t, h, t))
      }.takeWhile(!_._2.isEmpty).toVector
      // binary descent: the widest repeated multiple of k, len <= L* < len + k
      val (len, q) = levels.init.reverseIterator.foldLeft(levels.last) {
        case ((l, q), (h, t)) =>
          val wider = concat(q, l, t)
          if (wider.isEmpty) (l, q) else (l + h, wider)
      }
      // the last < k tokens as in the seed sort, per class
      val pairs = hold(q.join(tk, "rid")
        .select(col("rid"), col("p"), col("c"),
          slice(col("toks"), col("p") + len, lit(k - 1)).as("nxt"))
        .select(col("rid"), col("p"), col("c"), col("nxt"),
          (tokenLcpFast(col("nxt"), lead(col("nxt"), 1).over(
            Window.partitionBy("c").orderBy("nxt"))) + len).as("lcp"))
        .filter(col("lcp").isNotNull)
        .groupBy(col("lcp"), col("c"), slice(col("nxt"), lit(1), col("lcp") - len).as("sub"))
        .agg((count(lit(1)) + 1).as("n_occ"), min(struct(col("rid"), col("p"))).as("at")))
      val lrs = pairs.agg(max("lcp")).head().getInt(0)
      val r = pairs.filter(col("lcp") === lrs)
        .join(tk, col("at.rid") === col("rid"))
        .select(col("n_occ"), array_join(slice(col("toks"), col("at.p"), lit(lrs)), " ").as("span"))
        .orderBy("span").limit(1).head()
      (lrs.toLong, r.getLong(0), r.getString(1))
    }
    def short = repeated(tk.select(col("rid"), col("toks"),
        explode(typedLit((1 until t0).toArray)).as("s"))
        .select(col("rid"), col("s"),
          explode(positionalShinglesFast(col("toks"), col("s"))).as("pf"))
        .select(col("rid"), col("s"), col("pf.p").as("p"), col("pf.fp").as("fp")), "s", "fp")
      .join(tk, "rid")
      .groupBy(col("s").cast("long").as("len"),
        array_join(slice(col("toks"), col("p"), col("s")), " ").as("span"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select("len", "n_occ", "span")

    try (best(seeds) match {
      case Some((l, _, _)) if l == k => Some(extend())
      case found => found.orElse(best(short))
    }).toSeq.toDF("lrs_len", "n_occ", "span")
    finally held.foreach(org.apache.spark.sql.GraftShim.releaseCheckpoint)
  }

  /** DEDUP COLLISION AUDIT — [[graft.operators.Dedup.collisionAudit]]
    * as an oracle-checked query: group the corpus by a hash key and
    * emit every group whose members are NOT byte-identical (min(text)
    * ≠ max(text) is the witness). Here the key is DELIBERATELY narrow
    * (polyhash mod 64) so the fixture actually produces collisions and
    * the oracle checks the audit's detection logic end-to-end; the
    * production pass runs the same operator over the 192-bit
    * [[graft.operators.Dedup.contentKey]], where an empty result
    * certifies that hash-keyed "exact" dedup was byte-exact on this
    * corpus (the hostile-input caveat's verify tier; DedupSpec pins
    * the empty case under the real key). SCALE: one keyed aggregate;
    * raw text crosses the exchange once as min/max agg payload —
    * two strings of partial state per key per partition.
    */
  val dedupAudit: QueryDef = QueryDef.sql(
    "q_dedup_audit",
    s"""WITH k AS (SELECT ${polyHashSql("text")} % 64 AS k, text FROM documents)
       |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_docs
       |FROM k GROUP BY k HAVING min(text) <> max(text)""".stripMargin) { (spark, dir) =>
    graft.operators.Dedup.collisionAudit(
      Tables(spark, dir, "documents"), polyHash(col("text")) % 64, "text")
      .select(col("k").cast("long").as("k"), col("n_docs"))
  }

  /** COPY-ON-WRITE CORPUS MERGE — [[graft.operators.CorpusMerge]]
    * driven end-to-end under the oracle gate: documents become a
    * bucketed base corpus (version 0), a deterministic delta derived
    * from the same table exercises every row of the MERGE matrix —
    * revision (`doc_id % 10 = 0`, version 1), STALE replay that must
    * NOT land (`% 10 = 2`, version −1), takedown tombstone (`% 10 =
    * 5`), fresh insert (`% 10 = 7`, shifted key) — and the query
    * returns the merged corpus (id, version, lang, content fingerprint)
    * for DuckDB to rebuild relationally with a FULL OUTER JOIN.
    *
    * SCALE: the merge itself is Θ(delta + touched buckets) — the base
    * read is partition-pruned to the delta's bucket set and only those
    * buckets rewrite (dynamic partition overwrite; untouched files are
    * byte-identical, CorpusMergeSpec pins it). The fixture delta
    * deliberately touches most buckets to exercise semantics; the
    * Θ(delta) claim is the spec's plan-shape + byte-identity receipt,
    * not this query's. The read-back is Θ(base) because the ORACLE
    * compares the whole merged corpus — a production merge ends at the
    * write.
    */
  val corpusMerge: QueryDef = QueryDef.sql(
    "q_corpus_merge",
    """WITH base AS (SELECT doc_id, text, lang, CAST(0 AS BIGINT) AS version
      |              FROM documents),
      |d AS (SELECT doc_id, text || ' [rev]' AS text, lang,
      |             CAST(1 AS BIGINT) AS version, FALSE AS deleted
      |      FROM documents WHERE doc_id % 10 = 0
      |      UNION ALL
      |      SELECT doc_id, 'STALE', lang, CAST(-1 AS BIGINT), FALSE
      |      FROM documents WHERE doc_id % 10 = 2
      |      UNION ALL
      |      SELECT doc_id, '', lang, CAST(1 AS BIGINT), TRUE
      |      FROM documents WHERE doc_id % 10 = 5
      |      UNION ALL
      |      SELECT doc_id + 10000000, text, lang, CAST(1 AS BIGINT), FALSE
      |      FROM documents WHERE doc_id % 10 = 7),
      |m AS (SELECT coalesce(d.doc_id, b.doc_id) AS doc_id,
      |             CASE WHEN d.doc_id IS NOT NULL
      |                   AND (b.doc_id IS NULL OR d.version >= b.version)
      |                  THEN 1 ELSE 0 END AS dw,
      |             d.text AS dtext, b.text AS btext,
      |             d.lang AS dlang, b.lang AS blang,
      |             d.version AS dv, b.version AS bv,
      |             coalesce(d.deleted, FALSE) AS del
      |      FROM base b FULL OUTER JOIN d ON b.doc_id = d.doc_id)
      |SELECT doc_id,
      |       CASE WHEN dw = 1 THEN dv ELSE bv END AS version,
      |       CASE WHEN dw = 1 THEN dlang ELSE blang END AS lang,
      |       md5(CASE WHEN dw = 1 THEN dtext ELSE btext END) AS content_md5,
      |       CAST(length(CASE WHEN dw = 1 THEN dtext ELSE btext END) AS BIGINT)
      |         AS n_chars
      |FROM m WHERE NOT (dw = 1 AND del)""".stripMargin) { (spark, dir) =>
    val root = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "/cow_corpus"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    CorpusMerge.writeBase(docs.withColumn("version", lit(0L)), "doc_id", root, 32)
    // ONE scan, not a 4-way union of scans: the four delta branches are
    // keyed on disjoint doc_id residues, so a single filtered projection
    // with per-branch CASEs emits the identical row set (oracle-proven)
    // while reading the corpus once
    val m = col("doc_id") % 10
    val delta = docs.filter(m.isin(0, 2, 5, 7))
      .select(
        when(m === 7, col("doc_id") + 10000000L).otherwise(col("doc_id")).as("doc_id"),
        when(m === 0, concat(col("text"), lit(" [rev]")))
          .when(m === 2, lit("STALE"))
          .when(m === 5, lit(""))
          .otherwise(col("text")).as("text"),
        col("lang"),
        when(m === 2, lit(-1L)).otherwise(lit(1L)).as("version"),
        (m === 5).as("deleted"))
    CorpusMerge.merge(spark, root, delta, "doc_id", nBuckets = 32)
    spark.read.parquet(root).select(col("doc_id"), col("version"), col("lang"),
      md5(col("text").cast("binary")).as("content_md5"),
      length(col("text")).cast("long").as("n_chars"))
  }

  /** Dedup survivorship by provenance — which sources LOSE the most to
    * exact dedup: per source, documents in vs. keepers out (keeper =
    * min-id representative of each text group, the collapse-first
    * convention). A feed whose keep rate craters is re-crawling content
    * some other feed already supplied — the signal that reweights or
    * drops it. One content-key groupBy + one id equi-join + a
    * source-sized rollup.
    */
  val dedupSurvivorship: QueryDef = QueryDef.sql(
    "q_dedup_survivorship",
    """WITH g AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(g.keep_id) AS BIGINT) AS n_kept,
      |       CAST(floor(count(g.keep_id) * 10000.0 / count(*)) AS BIGINT) AS keep_bp
      |FROM documents d LEFT JOIN g ON g.keep_id = d.doc_id
      |GROUP BY d.source""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    // narrow content-key group (Dedup.contentKey discipline) and a
    // narrow (doc_id, source) probe side — text never enters a shuffle
    val keepers = docs
      .select(col("doc_id"), graft.operators.Dedup.contentKey(col("text")).as("ck"))
      .groupBy("ck").agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"), lit(1).as("kept"))
    docs.select(col("doc_id"), col("source"))
      .join(keepers, col("keep_id") === col("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("kept")).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        floor(col("n_kept") * 10000.0 / col("n_docs")).cast("long").as("keep_bp"))
  }

  /** MAXIMAL CROSS-DOCUMENT REPEATED SPANS — the exact-substring dedup
    * shape (suffix-array dedup's distributed stand-in): every 8-token
    * window (stride 1) is fingerprinted; windows whose fingerprint
    * occurs in ≥2 DISTINCT documents mark their start position
    * duplicated; consecutive duplicated positions merge into maximal
    * islands via the gaps-and-islands idiom (`p - row_number()` within
    * the document — a PARTITIONED window, never corpus-global); each
    * island is a maximal repeated span [min p, max p + 7]. Output: the
    * corpus's top-20 longest spans, heap-selected.
    *
    * SCALE: one window row per token position (corpus-linear ×1), one
    * fingerprint-keyed aggregate + semi-join, and per-document windows;
    * the top-20 is `TakeOrderedAndProject`. No step is quadratic in
    * corpus or document length.
    */
  val repeatedSpans: QueryDef = QueryDef.sql(
    "q_repeated_spans",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE len(string_split(text, ' ')) >= 8),
       |w AS (SELECT doc_id, p,
       |             ${polyHashSql("array_to_string(toks[p : p + 7], ' ')")} AS fp
       |      FROM tk, unnest(range(1, len(toks) - 6)) t(p)),
       |b AS (SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT w.doc_id, w.p FROM w JOIN b USING (fp)),
       |isl AS (SELECT doc_id, p,
       |               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |        FROM d),
       |sp AS (SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
       |              CAST(max(p) - min(p) + 8 AS BIGINT) AS span_len
       |       FROM isl GROUP BY doc_id, grp),
       |top AS (SELECT * FROM sp ORDER BY span_len DESC, doc_id, span_start LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY span_len DESC, doc_id, span_start) AS BIGINT) AS rank,
       |       doc_id, span_start, span_len
       |FROM top""".stripMargin) { (spark, dir) =>
    val tk = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
    // All window fingerprints come from one codegen kernel pass per doc:
    // a rolling prefix-hash fold over the space-joined text makes every
    // window hash O(1) after an O(chars) precompute — no window strings,
    // no O(n·chars) refolding. The two consumers below recompute this
    // map-side projection rather than checkpoint it: the frame is larger
    // than the text it came from, so re-scanning is the cheaper (and
    // cluster-safe — no executor-local blocks) side of that trade.
    val w = tk
      .select(col("doc_id"),
        explode(positionalShinglesFast(col("toks"), lit(8))).as("pf"))
      .select(col("doc_id"), col("pf.p").as("p"), col("pf.fp").as("fp"))
    val b = w.groupBy("fp").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("fp")
    val d = w.join(b, "fp").select("doc_id", "p")
    val isl = d.withColumn("grp",
      col("p") - row_number().over(Window.partitionBy("doc_id").orderBy("p")))
    val sp = isl.groupBy("doc_id", "grp")
      .agg(min("p").cast("long").as("span_start"),
        (max(col("p")) - min(col("p")) + 8).cast("long").as("span_len"))
    val top = sp.orderBy(col("span_len").desc, col("doc_id"), col("span_start"))
      .limit(20)
    // rank window runs on the 20-row limit result, never the corpus
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("span_len").desc, col("doc_id"), col("span_start")))
      .cast("long"))
      .select(col("rank"), col("doc_id"), col("span_start"), col("span_len"))
  }

  val all: Seq[QueryDef] = Seq(
    dedupExact, minhashSig, minhashLshPairs, minhashEst, editDistance, neardupCollapsed,
    ngramJaccard, dedupCanonical, dedupGroups, dupHistogram, dedupIncremental, dedupCost, ppjoin,
    lshTuning, winnow, winnowOverlap, prefixDup, chunkDedup, suffixDup, hashCollisions,
    winnowTuning, normDedup, longestRepeat, dedupAudit, corpusMerge, dedupSurvivorship,
    repeatedSpans)
}
