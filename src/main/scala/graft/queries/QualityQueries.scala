package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.{Chunker, Dedup}
import org.apache.spark.sql.expressions.Window
import graft.functions.HashExpressions.{bucketCountsFast, orderedPairsFast, shingleHashesFast, winnowFast}
import graft.functions.VectorFunctions.{cosDistSql, cosSimSql, cosineDistance, cosineSimilarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Quality filters and classifiers: the rule-based and Gopher filters
  * (Rae et al. 2021 §A1.1) with rule attribution, heuristic and Naive
  * Bayes language ID with confusion and margin evals, readability,
  * blocklists, boilerplate mining and stripping, markup stripping,
  * format and encoding audits, calibration, filter agreement, and the
  * trained logistic quality classifier.
  *
  * The classifier is a logistic scorer over 64 hashed token-bucket
  * frequencies, three dense quality stats and a bias, trained by K
  * batch-gradient steps with a hard sigmoid (clamp(1/2 + z/4)): every
  * step is exact integer arithmetic on the Q20 grid, where a
  * transcendental sigmoid would tie bit parity to libm rounding. Labels
  * come from the `q_quality_filter` rule, so training distils the rule
  * into a dense scorer. The oracle replays training as a recursive CTE,
  * one row per step. Each step is one map-side pass over a persisted
  * feature frame into a one-row aggregate; driver state is 65 longs.
  */
object QualityQueries {

  /** Rule-based quality filter — the composite keep/drop gate a pretraining
    * pipeline runs first (C4/Gopher-style): length bounds, lexical
    * diversity, stopword density. One map-side pass per document (no
    * shuffle at all — every measure is computed inside the scan), with
    * integer basis-point ratios so both engines agree exactly.
    */
  val qualityFilter: QueryDef = QueryDef.sql(
    "q_quality_filter",
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
      |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the'))) AS BIGINT) AS n_stop
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(floor(n_uniq * 10000.0 / n_tokens) AS BIGINT) AS uniq_bp,
      |         CAST(floor(n_stop * 10000.0 / n_tokens) AS BIGINT) AS stop_bp
      |  FROM m)
      |SELECT doc_id, n_tokens, uniq_bp, stop_bp,
      |       CASE WHEN n_tokens < 20 THEN 'short'
      |            WHEN uniq_bp < 4000 THEN 'low_diversity'
      |            WHEN stop_bp > 1000 THEN 'stopword_heavy'
      |            ELSE 'ok' END AS reason,
      |       (n_tokens >= 20 AND uniq_bp >= 4000 AND stop_bp <= 1000) AS keep
      |FROM r""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        size(filter(toks, t => t === "a" || t === "the")).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("n_uniq") * 10000.0 / col("n_tokens")).cast("long").as("uniq_bp"),
        floor(col("n_stop") * 10000.0 / col("n_tokens")).cast("long").as("stop_bp"))
      .withColumn("reason",
        when(col("n_tokens") < 20, "short")
          .when(col("uniq_bp") < 4000, "low_diversity")
          .when(col("stop_bp") > 1000, "stopword_heavy")
          .otherwise("ok"))
      .withColumn("keep",
        col("n_tokens") >= 20 && col("uniq_bp") >= 4000 && col("stop_bp") <= 1000)
  }

  /** Marker words per language for the n-gram-free language-ID heuristic.
    * Deterministic argmax with fixed preference order; 'und' when no
    * marker fires.
    */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "que", "y"))

  val langId: QueryDef = QueryDef.sql(
    "q_lang_id", {
      val scoreCols = Markers.map { case (l, ws) =>
        val lst = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS BIGINT) AS s_$l"
      }.mkString(",\n             ")
      val best = "greatest(s_en, s_de, s_fr, s_es)"
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |             $scoreCols
         |      FROM t)
         |SELECT doc_id, lang AS labeled_lang,
         |       CASE WHEN $best = 0 THEN 'und'
         |            WHEN s_en = $best THEN 'en'
         |            WHEN s_de = $best THEN 'de'
         |            WHEN s_fr = $best THEN 'fr'
         |            ELSE 'es' END AS pred_lang
         |FROM s""".stripMargin
    }) { (spark, dir) =>
    val toks = tokens(col("text"))
    val scored = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"), toks.as("toks"))
      .select(Seq(col("doc_id"), col("labeled_lang")) ++ Markers.map { case (l, ws) =>
        size(filter(col("toks"), x => x.isin(ws: _*))).cast("long").as(s"s_$l")
      }: _*)
    val best = greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
    scored.select(col("doc_id"), col("labeled_lang"),
      when(best === 0, "und")
        .when(col("s_en") === best, "en")
        .when(col("s_de") === best, "de")
        .when(col("s_fr") === best, "fr")
        .otherwise("es").as("pred_lang"))
  }

  /** Language-ID CONFUSION MATRIX — the eval for `q_lang_id`'s marker
    * heuristic: per (labeled, predicted) counts plus per-label recall
    * in basis points. Composes the existing query (same Spark fn, same
    * oracle SQL as a subquery), so classifier and eval can never
    * drift apart. SCALE: a (langs × langs)-bounded aggregate over the
    * classifier's map-side output.
    */
  val langidConfusion: QueryDef = QueryDef.sql(
    "q_langid_confusion",
    s"""WITH pred AS (${langId.oracle.get}),
       |cm AS (SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |       FROM pred GROUP BY 1, 2),
       |lt AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS lab_total FROM cm GROUP BY 1)
       |SELECT cm.labeled_lang, cm.pred_lang, cm.n,
       |       CAST((cm.n * 10000) // lt.lab_total AS BIGINT) AS recall_bp
       |FROM cm JOIN lt USING (labeled_lang)""".stripMargin) { (spark, dir) =>
    val pred = langId.fn(spark, dir)
    val cm = pred.groupBy("labeled_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val lt = cm.groupBy("labeled_lang").agg(sum("n").cast("long").as("lab_total"))
    cm.join(broadcast(lt), "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        expr("n * 10000 DIV lab_total").as("recall_bp"))
  }

  /** READABILITY — Flesch-Kincaid-style grade per source, in integer
    * centi-units: grade_c = 39*(words/sentences) + 1180*(syllables/
    * words) - 1559, clamped at 0. Syllables use the deterministic
    * vowel-run heuristic (maximal [aeiou]+ runs), sentences are
    * non-blank [.!?]+ segments — both pure codepoint algebra, so the
    * oracle replays them exactly. A quality-scoring staple: grade
    * drift per source flags OCR junk (no sentence breaks -> huge w/s)
    * and boilerplate (flat repetitive grade). SCALE: map-only into a
    * sources-sized aggregate.
    */
  val readability: QueryDef = QueryDef.sql(
    "q_readability",
    """WITH d AS (SELECT source,
      |  len(string_split(text, ' ')) AS w,
      |  len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '')) AS s,
      |  len(list_filter(string_split_regex(lower(text), '[^aeiou]+'), x -> x <> '')) AS y
      |  FROM documents),
      |g AS (SELECT source, w, s, y,
      |  greatest((39 * w) // greatest(s, 1) + (1180 * y) // greatest(w, 1) - 1559, 0) AS gc
      |  FROM d)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words,
      |  CAST(sum(s) AS BIGINT) AS n_sentences,
      |  CAST(sum(y) AS BIGINT) AS n_syllables,
      |  CAST(sum(gc) // count(*) AS BIGINT) AS avg_grade_c
      |FROM g GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("source"),
        size(tokens(col("text"))).as("w"),
        size(filter(split(col("text"), "[.!?]+"), x => trim(x) =!= "")).as("s"),
        size(filter(split(lower(col("text")), "[^aeiou]+"), x => x =!= "")).as("y"))
      .withColumn("gc",
        expr("greatest((39 * w) DIV greatest(s, 1) + (1180 * y) DIV greatest(w, 1) - 1559, 0)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("n_words"),
        sum("s").as("n_sentences"),
        sum("y").as("n_syllables"),
        expr("sum(gc) DIV count(*)").as("avg_grade_c"))
  }

  /** NAIVE BAYES LANGUAGE CLASSIFIER — multinomial NB trained on the
    * 80% split (doc_id % 5 <> 0), evaluated on the held-out 20%,
    * reported as a confusion matrix. Log-probabilities are Laplace-
    * smoothed and QUANTIZED to integer micro-nats (floor(ln(p)*1e6))
    * before summation, so the per-document argmax is exact integer
    * arithmetic on both engines — the same fixed-point discipline as
    * the KL/PMI queries. Pairs with the heuristic `q_lang_id`: this is
    * the LEARNED path (train/predict inside the engine, no external
    * model), and `q_langid_confusion` grades the heuristic against the
    * labels the same way this matrix grades the learned one. On the
    * fixture the matrix is a diagnostic NEGATIVE: lang labels are
    * drawn independently of the one shared synthetic vocabulary, so
    * accuracy sits near chance (~0.3 at sf0.001) — the matrix is
    * exactly the tool that surfaces such label/text decoupling in a
    * real corpus (CurationSpec16 pins the accounting and the finding).
    * SCALE: the model is (classes x vocab) token counts — one
    * vocab-keyed shuffle to train; scoring joins test tokens to the
    * model by token (Zipf-bounded build side) with a 5-row broadcast
    * of class stats; nothing is corpus-quadratic.
    */
  /** Shared oracle CTE defining `sc(doc_id, actual, c, score)` — the NB
    * training + scoring pipeline (used by `q_nb_lang` and
    * `q_nb_margin`).
    */
  private val nbScoreCte: String =
    """tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t FROM documents),
      |tr AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
      |te AS (SELECT doc_id, lang, t, count(*) AS m FROM tok WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
      |tf AS (SELECT lang AS c, t, count(*) AS tf FROM tr GROUP BY 1, 2),
      |nc AS (SELECT lang AS c, count(*) AS n_c FROM tr GROUP BY 1),
      |v AS (SELECT count(DISTINCT t) AS v FROM tr),
      |dc AS (SELECT lang AS c, count(DISTINCT doc_id) AS d_c FROM tr GROUP BY 1),
      |dtot AS (SELECT count(DISTINCT doc_id) AS d_tot FROM tr),
      |cls AS (SELECT nc.c, nc.n_c, v.v,
      |        CAST(floor(ln(CAST(dc.d_c AS DOUBLE) / dtot.d_tot) * 1000000.0) AS BIGINT) AS prior_q
      |        FROM nc JOIN dc ON dc.c = nc.c, v, dtot),
      |sc AS (SELECT te.doc_id, te.lang AS actual, cls.c, cls.prior_q +
      |        sum(te.m * CAST(floor(ln(CAST(coalesce(tf.tf, 0) + 1 AS DOUBLE) / (cls.n_c + cls.v))
      |                              * 1000000.0) AS BIGINT)) AS score
      |       FROM te CROSS JOIN cls
      |       LEFT JOIN tf ON tf.c = cls.c AND tf.t = te.t
      |       GROUP BY 1, 2, 3, cls.prior_q)""".stripMargin

  /** The same pipeline as a DataFrame: (doc_id, actual, c, score).
    *
    * SHAPE (guide §2.3/§2.4): ONE exploded training pass
    * builds the model table `tf(class, token, count)`; every other
    * training statistic derives from it or from the UN-exploded
    * documents table — n_c = Σ_t tf(c,t) and v = |distinct tokens| are
    * vocab-sized folds over tf; d_c / d_tot count training DOCS per
    * class, which never needed a token explode at all (docs carry
    * exactly one lang, so d_tot = Σ_c d_c). The first cut ran FIVE
    * separate exploded corpus passes (tf, nc, v, dc, dtot — 24 scans /
    * 66 exchanges in q_nb_margin's physical plan). tf is vocab×classes
    * rows (Zipf-bounded) and is consumed three times (nc, v, the score
    * join), so it is materialized once — localCheckpoint, with the
    * q_ivf_kmeans site's single-JVM durability note.
    */
  private def nbScores(spark: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
    val te = tok.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .groupBy(col("doc_id"), col("lang").as("actual"), col("t"))
      .agg(count(lit(1)).as("m"))
    val tf = tok.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .groupBy(col("lang").as("tc"), col("t").as("tt"))
      .agg(count(lit(1)).as("tf")).localCheckpoint()
    val nc = tf.groupBy(col("tc").as("c")).agg(sum(col("tf")).as("n_c"))
    val v = tf.agg(countDistinct(col("tt")).as("v"))
    // text IS NOT NULL: the oracle derives d_c from the exploded token
    // table, where a NULL-text doc has no rows; split() of non-null text
    // always yields >= 1 token row, so this filter makes the un-exploded
    // count agree with the oracle BY CONSTRUCTION (the
    // divergence was latent, masked by null-free fixtures)
    val dc = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0 && col("text").isNotNull)
      .groupBy(col("lang").as("c2")).agg(countDistinct("doc_id").as("d_c"))
    val dtot = dc.agg(sum(col("d_c")).as("d_tot"))
    val cls = nc.join(dc, col("c") === col("c2"))
      .crossJoin(broadcast(v)).crossJoin(broadcast(dtot))
      .select(col("c"), col("n_c"), col("v"),
        floor(log(col("d_c").cast("double") / col("d_tot")) * lit(1000000.0))
          .cast("long").as("prior_q"))
    te.crossJoin(broadcast(cls))
      .join(tf, col("tc") === col("c") && col("tt") === col("t"), "left")
      .groupBy(col("doc_id"), col("actual"), col("c"), col("prior_q"))
      .agg(sum(col("m") *
        floor(log((coalesce(col("tf"), lit(0L)) + 1).cast("double") / (col("n_c") + col("v")))
          * lit(1000000.0)).cast("long")).as("ll"))
      .select(col("doc_id"), col("actual"), col("c"), (col("prior_q") + col("ll")).as("score"))
  }

  val nbLang: QueryDef = QueryDef.sql(
    "q_nb_lang",
    s"""WITH $nbScoreCte,
      |pred AS (SELECT doc_id, actual, c AS pred,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
      |         FROM sc)
      |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n_docs
      |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val wnd = Window.partitionBy("doc_id").orderBy(col("score").desc, col("c").asc)
    nbScores(spark, dir)
      .withColumn("rn", row_number().over(wnd)).filter(col("rn") === 1)
      .groupBy(col("actual"), col("c").as("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** NB MARGIN CALIBRATION — per confidence bin (top1-top2 score gap
    * in micro-nats, quarter-nat-wide bins capped at 19): held-out count and
    * accuracy. A calibrated classifier's accuracy rises with margin —
    * the curve that justifies margin-thresholded AUTO-labeling in a
    * curation pipeline (keep high-margin predictions, route the rest
    * to review). Bins are FIXED-width, not quantiles, so the
    * aggregation is map-side and scale-free (the corpus-wide ntile
    * this avoids is exactly the single-partition sort q_token_cdf had
    * to be rewritten away from). SCALE: rides `nbScores` (vocab-keyed
    * joins) plus a doc-keyed top-2 window and a 20-row aggregate.
    */
  val nbMargin: QueryDef = QueryDef.sql(
    "q_nb_margin",
    s"""WITH ${nbScoreCte},
       |r AS (SELECT doc_id, actual, c, score,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
       |      FROM sc),
       |m AS (SELECT t1.doc_id, t1.actual, t1.c AS pred, t1.score - t2.score AS margin
       |      FROM r t1 JOIN r t2 ON t2.doc_id = t1.doc_id AND t1.rn = 1 AND t2.rn = 2),
       |b AS (SELECT least(margin // 250000, 19) AS bin, actual = pred AS ok FROM m)
       |SELECT CAST(bin AS BIGINT) AS bin,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS accuracy_bp
       |FROM b GROUP BY 1""".stripMargin) { (spark, dir) =>
    val wnd = Window.partitionBy("doc_id").orderBy(col("score").desc, col("c").asc)
    val r = nbScores(spark, dir)
      .withColumn("rn", row_number().over(wnd))
    // top1/top2 fold out of ONE doc-keyed aggregate over the rn<=2 rows
    // — the previous t1-join-t2 self-join replayed the entire nbScores
    // chain per side (guide §2.4). The inner join dropped docs lacking
    // an rn=2 row; the isNotNull filter preserves that contract.
    r.filter(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(max(when(col("rn") === 1, col("actual"))).as("actual"),
        max(when(col("rn") === 1, col("c"))).as("pred"),
        max(when(col("rn") === 1, col("score"))).as("s1"),
        max(when(col("rn") === 2, col("score"))).as("s2"))
      .filter(col("s2").isNotNull)
      .select(expr("least((s1 - s2) DIV 250000, 19)").as("bin"),
        (col("actual") === col("pred")).as("ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_correct"),
        expr("sum(CASE WHEN ok THEN 1 ELSE 0 END) * 10000 DIV count(*)").as("accuracy_bp"))
  }

  /** Per document (doc_id): the Gopher rule statistics over its tokens
    * `tok` — word count, total word length, short (≤ 2-char) words,
    * distinct stopwords — plus any `extra` token aggregates. */
  private def gopherStats(spark: SparkSession, dir: String, extra: Column*): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), Seq(sum(length(col("tok"))).as("sum_len"),
        count(when(length(col("tok")) <= 2, 1)).as("n_short"),
        countDistinct(when(col("tok").isin("the", "a", "of", "to", "and"),
          col("tok"))).as("n_stop")) ++ extra: _*)

  /** The Gopher keep rule over [[gopherStats]]: 25-80 words, mean word
    * length 4.2-5.6, ≥ 2 distinct stopwords, ≤ 6% short words. */
  private def gopherKeep: Column =
    col("n_words").between(25, 80) &&
      expr("sum_len * 100 DIV n_words").between(420, 560) &&
      col("n_stop") >= 2 &&
      expr("n_short * 100 DIV n_words") <= 6

  /** RULE ATTRIBUTION — for each of `q_gopher_rules`' four gates
    * (word-count band, mean-word-length band, stopword presence,
    * short-token cap): how many documents fail it at all, and how many
    * fail ONLY it (the sole blocker — exactly the documents a
    * threshold change on that one rule would recover). Sole-blocker
    * counts are the marginal-impact report every filter tuning session
    * starts from; a rule with many total failures but no sole blocks
    * is redundant with the others. Thresholds are literally
    * `q_gopher_rules`' — the two queries cannot drift apart without a
    * red oracle row. SCALE: the q_token_stats explode+agg, then a
    * 1-row fold melted to 4 rows.
    */
  val ruleAttribution: QueryDef = QueryDef.sql(
    "q_rule_attribution",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |s AS (SELECT doc_id, count(*) AS n_words, sum(length(tok)) AS sum_len,
      |             count(*) FILTER (WHERE length(tok) <= 2) AS n_short,
      |             count(DISTINCT CASE WHEN tok IN ('the','a','of','to','and')
      |                                 THEN tok END) AS n_stop
      |      FROM tk GROUP BY doc_id),
      |r AS (SELECT doc_id,
      |             n_words BETWEEN 25 AND 80 AS p1,
      |             (sum_len * 100) // n_words BETWEEN 420 AND 560 AS p2,
      |             n_stop >= 2 AS p3,
      |             (n_short * 100) // n_words <= 6 AS p4
      |      FROM s),
      |a AS (SELECT count(*) AS nd,
      |             sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS f1,
      |             sum(CASE WHEN NOT p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS s1,
      |             sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS f2,
      |             sum(CASE WHEN NOT p2 AND p1 AND p3 AND p4 THEN 1 ELSE 0 END) AS s2,
      |             sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS f3,
      |             sum(CASE WHEN NOT p3 AND p1 AND p2 AND p4 THEN 1 ELSE 0 END) AS s3,
      |             sum(CASE WHEN NOT p4 THEN 1 ELSE 0 END) AS f4,
      |             sum(CASE WHEN NOT p4 AND p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS s4
      |      FROM r)
      |SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
      |       CAST(n_sole AS BIGINT) AS n_sole,
      |       CAST(n_sole * 10000 // nd AS BIGINT) AS sole_bp
      |FROM (SELECT 'words' AS rule, f1 AS n_fail, s1 AS n_sole, nd FROM a
      |      UNION ALL SELECT 'mwl', f2, s2, nd FROM a
      |      UNION ALL SELECT 'stopwords', f3, s3, nd FROM a
      |      UNION ALL SELECT 'short_frac', f4, s4, nd FROM a) u""".stripMargin) { (spark, dir) =>
    val s = gopherStats(spark, dir)
    val r = s.select(
      col("n_words").between(25, 80).as("p1"),
      expr("sum_len * 100 DIV n_words").between(420, 560).as("p2"),
      (col("n_stop") >= 2).as("p3"),
      (expr("n_short * 100 DIV n_words") <= 6).as("p4"))
    r.agg(count(lit(1)).as("nd"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("f1"),
        sum(when(!col("p1") && col("p2") && col("p3") && col("p4"), 1L).otherwise(0L)).as("s1"),
        sum(when(!col("p2"), 1L).otherwise(0L)).as("f2"),
        sum(when(!col("p2") && col("p1") && col("p3") && col("p4"), 1L).otherwise(0L)).as("s2"),
        sum(when(!col("p3"), 1L).otherwise(0L)).as("f3"),
        sum(when(!col("p3") && col("p1") && col("p2") && col("p4"), 1L).otherwise(0L)).as("s3"),
        sum(when(!col("p4"), 1L).otherwise(0L)).as("f4"),
        sum(when(!col("p4") && col("p1") && col("p2") && col("p3"), 1L).otherwise(0L)).as("s4"))
      .select(expr(
        "stack(4, 'words', f1, s1, 'mwl', f2, s2, 'stopwords', f3, s3, 'short_frac', f4, s4)")
        .as(Seq("rule", "n_fail", "n_sole")), col("nd"))
      .select(col("rule"), col("n_fail"), col("n_sole"),
        expr("n_sole * 10000 DIV nd").as("sole_bp"))
  }

  private val TagPat = """<[^>]+>"""

  private val HrefPat = """href="[^"]*""""

  private val markSql: String =
    "(CASE WHEN doc_id % 6 = 0 THEN '<div class=\"x\"><p>' || text || " +
      "'</p><a href=\"https://example.com/a\">link</a></div>' ELSE text END)"

  private def markCol = when(pmod(col("doc_id"), lit(6L)) === 0,
    concat(lit("<div class=\"x\"><p>"), col("text"),
      lit("</p><a href=\"https://example.com/a\">link</a></div>")))
    .otherwise(col("text"))

  /** MARKUP STRIP — the HTML-removal pass: tag count, link count,
    * characters removed, and the XOR integrity manifest of the
    * stripped release (as `q_redact`). Markup is injected on every 6th
    * document (the fixture is plain text), so the spec can assert the
    * strip is EXACTLY inverse to the injection — stripped output equals
    * the original text for marked docs. SCALE: map-only regex transform
    * + sources-sized aggregate.
    */
  val markupStrip: QueryDef = QueryDef.sql(
    "q_markup_strip",
    s"""WITH a AS (SELECT source, doc_id, $markSql AS aug FROM documents),
       |r AS (SELECT source, aug,
       |  len(regexp_extract_all(aug, '$TagPat')) AS nt,
       |  len(regexp_extract_all(aug, '$HrefPat')) AS nl,
       |  regexp_replace(aug, '$TagPat', '', 'g') AS stripped
       |  FROM a)
       |SELECT source,
       |  CAST(sum(CASE WHEN stripped <> aug THEN 1 ELSE 0 END) AS BIGINT) AS docs_marked,
       |  CAST(sum(nt) AS BIGINT) AS n_tags,
       |  CAST(sum(nl) AS BIGINT) AS n_links,
       |  CAST(sum(length(aug) - length(stripped)) AS BIGINT) AS chars_removed,
       |  CAST(bit_xor(${polyHashSql("stripped")}) AS BIGINT) AS xor_stripped
       |FROM r GROUP BY 1""".stripMargin) { (spark, dir) =>
    val stripped = regexp_replace(markCol, lit(TagPat), lit(""))
    Tables(spark, dir, "documents")
      .select(col("source"), markCol.as("aug"),
        size(regexp_extract_all(markCol, lit(TagPat), lit(0))).cast("long").as("nt"),
        size(regexp_extract_all(markCol, lit(HrefPat), lit(0))).cast("long").as("nl"),
        stripped.as("stripped"))
      .select(col("source"), col("aug"), col("nt"), col("nl"), col("stripped"),
        polyHash(col("stripped")).as("h"))
      .groupBy("source")
      .agg(sum(when(col("stripped") =!= col("aug"), 1L).otherwise(0L)).as("docs_marked"),
        sum("nt").as("n_tags"), sum("nl").as("n_links"),
        sum(length(col("aug")).cast("long") - length(col("stripped"))).as("chars_removed"),
        expr("bit_xor(h)").as("xor_stripped"))
  }

  private val SymPat = """[{}();=<>\[\]]"""

  /** FORMAT DETECT — code/numeric/prose routing per source: symbol and
    * digit character ratios (bp) against fixed thresholds, the
    * pre-tokenizer fork that decides which cleaning pipeline a
    * document enters. The fixture is prose, so code and numeric
    * snippets are injected on id residues (the PII-scan pattern);
    * detection therefore has exact expected counts for the spec.
    * SCALE: map-only regex counting into a (sources x 3) aggregate.
    */
  val formatDetect: QueryDef = QueryDef.sql(
    "q_format_detect",
    s"""WITH a AS (SELECT source,
       |  (text || CASE WHEN doc_id % 7 = 2 THEN ' if (x == 1) { y = f(a[i]); } else { z[j] = g(); }' ELSE '' END
       |        || CASE WHEN doc_id % 9 = 3 THEN ' 12 34 567 890 11 22 33 44 55 66 77 88 99 00 10 20' ELSE '' END) AS aug
       |  FROM documents),
       |c AS (SELECT source,
       |  len(regexp_extract_all(aug, '$SymPat')) * 10000 // length(aug) AS sym_bp,
       |  len(regexp_extract_all(aug, '[0-9]')) * 10000 // length(aug) AS dig_bp
       |  FROM a),
       |k AS (SELECT source,
       |  CASE WHEN sym_bp >= 200 THEN 'code'
       |       WHEN dig_bp >= 400 THEN 'numeric'
       |       ELSE 'prose' END AS fmt, sym_bp, dig_bp
       |  FROM c)
       |SELECT source, fmt, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(sym_bp) // count(*) AS BIGINT) AS avg_sym_bp,
       |       CAST(sum(dig_bp) // count(*) AS BIGINT) AS avg_dig_bp
       |FROM k GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val aug = concat(col("text"),
      when(pmod(col("doc_id"), lit(7L)) === 2,
        lit(" if (x == 1) { y = f(a[i]); } else { z[j] = g(); }")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9L)) === 3,
        lit(" 12 34 567 890 11 22 33 44 55 66 77 88 99 00 10 20")).otherwise(lit("")))
    Tables(spark, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(aug, lit(SymPat), lit(0))).cast("long").as("nsym"),
        size(regexp_extract_all(aug, lit("[0-9]"), lit(0))).cast("long").as("ndig"),
        length(aug).cast("long").as("la"))
      .select(col("source"),
        expr("nsym * 10000 DIV la").as("sym_bp"),
        expr("ndig * 10000 DIV la").as("dig_bp"))
      .select(col("source"),
        when(col("sym_bp") >= 200, "code")
          .when(col("dig_bp") >= 400, "numeric")
          .otherwise("prose").as("fmt"),
        col("sym_bp"), col("dig_bp"))
      .groupBy("source", "fmt")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(sym_bp) DIV count(*)").as("avg_sym_bp"),
        expr("sum(dig_bp) DIV count(*)").as("avg_dig_bp"))
  }

  /** FILTER AGREEMENT (Cohen's kappa) — `q_quality_filter`'s keep
    * verdict against `q_gopher_rules`' keep verdict, with the full
    * 2x2 agreement table and kappa in bp: observed agreement corrected
    * for the agreement two filters with these keep-rates would reach
    * by CHANCE. Near-zero kappa with high raw agreement means the
    * filters mostly agree because both keep (or drop) almost
    * everything — redundant gates; high kappa means they rank the same
    * documents as bad, so one can gate for the other in a cheaper
    * pass. All integer: kappa_bp = (po - pe) * 10000 / (1 - pe)
    * evaluated over n^2-scaled counts. Thresholds are the two
    * filters' own literals (drift = red oracle row). SCALE: two
    * token-stat aggregates over one scan + a 1-row fold.
    */
  val filterKappa: QueryDef = QueryDef.sql(
    "q_filter_kappa",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |s AS (SELECT doc_id, count(*) AS n_words, sum(length(tok)) AS sum_len,
      |             count(*) FILTER (WHERE length(tok) <= 2) AS n_short,
      |             count(DISTINCT CASE WHEN tok IN ('the','a','of','to','and')
      |                                 THEN tok END) AS n_stop,
      |             count(DISTINCT tok) AS n_uniq,
      |             count(*) FILTER (WHERE tok IN ('a', 'the')) AS n_stop2
      |      FROM tk GROUP BY doc_id),
      |v AS (SELECT doc_id,
      |             (n_words BETWEEN 25 AND 80
      |              AND (sum_len * 100) // n_words BETWEEN 420 AND 560
      |              AND n_stop >= 2
      |              AND (n_short * 100) // n_words <= 6) AS g,
      |             (n_words >= 20
      |              AND CAST(floor(n_uniq * 10000.0 / n_words) AS BIGINT) >= 4000
      |              AND CAST(floor(n_stop2 * 10000.0 / n_words) AS BIGINT) <= 1000) AS q
      |      FROM s),
      |a AS (SELECT count(*) AS n,
      |             sum(CASE WHEN g AND q THEN 1 ELSE 0 END) AS kk,
      |             sum(CASE WHEN g AND NOT q THEN 1 ELSE 0 END) AS kd,
      |             sum(CASE WHEN NOT g AND q THEN 1 ELSE 0 END) AS dk,
      |             sum(CASE WHEN NOT g AND NOT q THEN 1 ELSE 0 END) AS dd
      |      FROM v)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       CAST(kk AS BIGINT) AS both_keep, CAST(kd AS BIGINT) AS gopher_only,
      |       CAST(dk AS BIGINT) AS quality_only, CAST(dd AS BIGINT) AS both_drop,
      |       CAST((kk + dd) * 10000 // n AS BIGINT) AS agreement_bp,
      |       CAST(((kk + dd) * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))) * 10000
      |            // greatest(n * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)), 1) AS BIGINT)
      |         AS kappa_bp
      |FROM a""".stripMargin) { (spark, dir) =>
    val s = gopherStats(spark, dir, countDistinct("tok").as("n_uniq"),
      count(when(col("tok").isin("a", "the"), 1)).as("n_stop2"))
    val v = s.select(
      gopherKeep.as("g"),
      (col("n_words") >= 20 &&
        floor(col("n_uniq") * 10000.0 / col("n_words")).cast("long") >= 4000 &&
        floor(col("n_stop2") * 10000.0 / col("n_words")).cast("long") <= 1000).as("q"))
    v.agg(count(lit(1)).as("n"),
        sum(when(col("g") && col("q"), 1L).otherwise(0L)).as("kk"),
        sum(when(col("g") && !col("q"), 1L).otherwise(0L)).as("kd"),
        sum(when(!col("g") && col("q"), 1L).otherwise(0L)).as("dk"),
        sum(when(!col("g") && !col("q"), 1L).otherwise(0L)).as("dd"))
      .select(col("n").as("n_docs"),
        col("kk").as("both_keep"), col("kd").as("gopher_only"),
        col("dk").as("quality_only"), col("dd").as("both_drop"),
        expr("(kk + dd) * 10000 DIV n").as("agreement_bp"),
        expr("((kk + dd) * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd))) * 10000" +
          " DIV greatest(n * n - ((kk + kd) * (kk + dk) + (dk + dd) * (kd + dd)), 1)")
          .as("kappa_bp"))
  }

  /** Boilerplate span mining — 16-token windows (stride 8, the
    * `q_token_windows` unit) occurring in ≥2 DISTINCT documents, ranked
    * by spread: the frequent-span detector that finds headers, license
    * blocks and navigation chrome before they pollute dedup and LM
    * statistics. Windows travel as BIGINT fingerprints; the group state
    * per fp is two counters, and the top-20 is a heap-merge
    * (`TakeOrderedAndProject`), never a global sort.
    */
  val boilerplateSpans: QueryDef = QueryDef.sql(
    "q_boilerplate_spans",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |w AS (SELECT doc_id,
       |             ${polyHashSql("array_to_string(toks[w*8+1 : w*8+16], ' ')")} AS fp
       |      FROM tk, unnest(range(0, (len(toks) + 7) // 8)) t(w)),
       |g AS (SELECT fp, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |      FROM w GROUP BY fp)
       |SELECT fp, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_occ AS BIGINT) AS n_occ
       |FROM g WHERE n_docs >= 2
       |ORDER BY n_docs DESC, n_occ DESC, fp LIMIT 20""".stripMargin) { (spark, dir) =>
    // toks materialized once per row (the q_token_windows lesson)
    val toks = col("toks")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), ((size(toks) - 1) / lit(8)).cast("int")),
        w => slice(toks, w * 8 + 1, lit(16)))).as("win"))
      .select(col("doc_id"), polyHash(array_join(col("win"), " ")).as("fp"))
      .groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("fp").asc)
      .limit(20)
  }

  /** The APPLY step of [[boilerplateSpans]]: per-document count of token
    * positions covered by any cross-document repeated window (the spans
    * a cleaner would strip), with the kept-token count and stripped
    * share in basis points. Coverage is the exact union of overlapping
    * windows — computed as DISTINCT covered positions, so the stride-8 /
    * width-16 overlap never double-counts. Fingerprints are the join
    * key; positions explode to ≤2 rows per token (width/stride), keeping
    * the whole pass corpus-linear.
    */
  val boilerplateStrip: QueryDef = QueryDef.sql(
    "q_boilerplate_strip",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk),
       |w AS (SELECT doc_id, w,
       |             ${polyHashSql("array_to_string(toks[w*8+1 : w*8+16], ' ')")} AS fp,
       |             len(toks) AS nt
       |      FROM tk, unnest(range(0, (len(toks) + 7) // 8)) t(w)),
       |b AS (SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
       |cov AS (SELECT DISTINCT ww.doc_id, p
       |        FROM w ww JOIN b ON b.fp = ww.fp,
       |             unnest(range(ww.w*8 + 1, least(ww.w*8 + 16, ww.nt) + 1)) t(p)),
       |c AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id)
       |SELECT n.doc_id, n.n_tokens,
       |       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
       |       CAST(n.n_tokens - coalesce(c.covered, 0) AS BIGINT) AS kept_tokens,
       |       CAST(floor(coalesce(c.covered, 0) * 10000.0 / n.n_tokens) AS BIGINT) AS strip_bp
       |FROM n LEFT JOIN c ON c.doc_id = n.doc_id""".stripMargin) { (spark, dir) =>
    val toks = col("toks")
    val tk = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val n = tk.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
    val w = tk
      .select(col("doc_id"), size(toks).as("nt"),
        posexplode(transform(
          sequence(lit(0), ((size(toks) - 1) / lit(8)).cast("int")),
          wi => slice(toks, wi * 8 + 1, lit(16)))).as(Seq("w", "win")))
      .select(col("doc_id"), col("w"), col("nt"), polyHash(array_join(col("win"), " ")).as("fp"))
      // narrow (id, w, nt, fp) frame consumed by the boilerplate filter
      // AND the coverage join — one tokenize+fingerprint pass, not two
      // (durability: lineage-severed, non-replicated)
      .localCheckpoint()
    val b = w.groupBy("fp").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("fp").as("bfp"))
    val cov = w.join(b, col("bfp") === col("fp"))
      .select(col("doc_id"),
        explode(sequence(col("w") * 8 + 1, least(col("w") * 8 + 16, col("nt")))).as("p"))
      .distinct()
    val c = cov.groupBy(col("doc_id").as("cdoc")).agg(count(lit(1)).as("covered"))
    n.join(c, col("cdoc") === col("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (col("n_tokens") - coalesce(col("covered"), lit(0L))).as("kept_tokens"),
        floor(coalesce(col("covered"), lit(0L)) * 10000.0 / col("n_tokens"))
          .cast("long").as("strip_bp"))
  }

  /** LENGTH-QUALITY CORRELATION — Pearson r (bp) between document
    * length and each quality feature (distinct-token diversity,
    * stopword rate): the audit for the best-known quality-classifier
    * pitfall, a "quality" score that is secretly a length detector.
    * |r| near 10000 on the diversity axis means the filter's diversity
    * gate and a trivial length cutoff select nearly the same corpus —
    * in which case ship the cheap gate and drop the expensive one.
    * All moment sums are exact integers (counts and bp values; no
    * quantization grid needed), and only the final r normalization
    * touches doubles, with the identical expression on both engines.
    * SCALE: one token-stats aggregate into a 1-row integer fold.
    */
  val lenQualityCorr: QueryDef = QueryDef.sql(
    "q_len_quality_corr",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |s AS (SELECT doc_id, count(*) AS x,
      |             count(DISTINCT tok) * 10000 // count(*) AS u,
      |             count(*) FILTER (WHERE tok IN ('a', 'the')) * 10000 // count(*) AS st
      |      FROM tk GROUP BY doc_id),
      |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(u) AS su, sum(st) AS sst,
      |             sum(x * x) AS sxx, sum(u * u) AS suu, sum(st * st) AS sstst,
      |             sum(x * u) AS sxu, sum(x * st) AS sxst
      |      FROM s)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |       CAST(floor((n * sxu - sx * su) * 10000.0 /
      |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * suu - su * su AS DOUBLE)))
      |            AS BIGINT) AS r_len_diversity_bp,
      |       CAST(floor((n * sxst - sx * sst) * 10000.0 /
      |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * sstst - sst * sst AS DOUBLE)))
      |            AS BIGINT) AS r_len_stopword_bp
      |FROM m""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("x"),
        expr("count(DISTINCT tok) * 10000 DIV count(*)").as("u"),
        expr("count(CASE WHEN tok IN ('a', 'the') THEN 1 END) * 10000 DIV count(*)")
          .as("st"))
    s.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("u").as("su"),
        sum("st").as("sst"),
        sum(col("x") * col("x")).as("sxx"), sum(col("u") * col("u")).as("suu"),
        sum(col("st") * col("st")).as("sstst"),
        sum(col("x") * col("u")).as("sxu"), sum(col("x") * col("st")).as("sxst"))
      .select(col("n").as("n_docs"),
        floor((col("n") * col("sxu") - col("sx") * col("su")) * lit(10000.0) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("suu") - col("su") * col("su")).cast("double")))
          .cast("long").as("r_len_diversity_bp"),
        floor((col("n") * col("sxst") - col("sx") * col("sst")) * lit(10000.0) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("sstst") - col("sst") * col("sst")).cast("double")))
          .cast("long").as("r_len_stopword_bp"))
  }

  private val D = 64 // hashed token buckets

  private val F = D + 4 // + nt_scaled, uniq_bp, stop_bp, bias

  private val Steps = 16

  /** The feature projection over an explicit (doc_id, text) frame —
    * map-only (tokenize + codegen bucket histogram + integer ratios):
    * no shuffle, so training and every scorer read identical values by
    * construction.
    */
  private[graft] def featuresOf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"),
        size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        size(filter(toks, t => t === "a" || t === "the")).cast("long").as("n_stop"))
      .select(col("doc_id"),
        when(col("nt") >= 20 &&
          floor(col("n_uniq") * 10000.0 / col("nt")) >= 4000 &&
          floor(col("n_stop") * 10000.0 / col("nt")) <= 1000, 1L)
          .otherwise(0L).as("y"),
        concat(
          transform(bucketCountsFast(col("toks"), D),
            c => floor(c * 10000.0 / col("nt")).cast("long")),
          array(least(col("nt"), lit(100L)) * 100L,
            floor(col("n_uniq") * 10000.0 / col("nt")).cast("long"),
            floor(col("n_stop") * 10000.0 / col("nt")).cast("long"),
            lit(10000L))).as("f"))
  }

  /** Per-doc features: f = [bucket_bp(0..63), min(nt,100)*100,
    * uniq_bp, stop_bp, 10000], label y from the quality rule. Bucket
    * values are in basis points of the doc's token count and the dense
    * stats live on the same [0, 10000] grid as the bias, so no feature
    * scales with document length — the fastText dense+hashed hybrid.
    */
  private def features(spark: SparkSession, dir: String): DataFrame =
    featuresOf(Tables(spark, dir, "documents"))

  /** K batch-gradient steps on the Q20 integer grid; returns the
    * per-step weight vectors (step 1..K). Per step: z_q = (w·f) DIV
    * 10000 (Q20 logit), hard sigmoid s_q = clamp(2^19 + z_q DIV 4,
    * 0, 2^20), err = y·2^20 − s_q, and w_j += (Σ err·f_j) DIV
    * (n·2000) — learning rate 5 in real units (stable because the
    * hard sigmoid bounds err; measured the best of the lr×steps grid
    * at sf0.01). Both engines truncate integer division toward zero,
    * so the trajectory is bit-identical by construction.
    *
    * Model quality, measured honestly: 0.71 train accuracy at sf0.01
    * with balanced labels (247/253). The rule is an AND of three
    * thresholds whose uniq_bp leg interacts with length (Heaps' law,
    * the `q_ttr_curve` finding), so it is NOT linearly separable —
    * an unquantized float logistic on the same dense features caps
    * near 0.77. The integer loop lands within ~6 points of the
    * linear-model ceiling; the gap to 1.0 is the model class, not
    * the optimizer.
    */
  /** The weights `w` as one literal, refused (naming `what`) past
    * [[graft.GraftLimits.requireBoundedWeights]]'s bound before any plan
    * is built. */
  private[graft] def weightsLit(w: Seq[Long], what: String): Column =
    typedLit(graft.GraftLimits.requireBoundedWeights(w, what))

  /** `feats` (…, f) with `dot`, the integer dot product of its feature
    * vector and the weights literal `wc`. */
  private def withDot(feats: DataFrame, wc: Column): DataFrame =
    feats.withColumn("dot",
      aggregate(zip_with(col("f"), wc, (x, y) => x * y), lit(0L), (a, b) => a + b))

  /** (doc_id, logit_q, keep): the linear classifier's verdict per
    * document of `feats` under the weights literal `wc` — the
    * in-session and the artifact-backed scorer share it, so their
    * scores are equal by construction. */
  private[graft] def verdicts(feats: DataFrame, wc: Column): DataFrame =
    withDot(feats, wc).select(col("doc_id"), expr("dot DIV 10000").as("logit_q"),
      (expr("dot DIV 10000") >= 0).as("keep"))

  /** One batch-gradient step: w → w′. Over zero training rows every
    * gradient sum is NULL, and so is every weight of the oracle's
    * recursion: w′ is then the empty vector, whose literal makes each
    * dot product NULL (`zip_with` pads the shorter array with NULLs).
    */
  private def gradientStep(feats: DataFrame, w: Array[Long]): Array[Long] = {
    val scored = withDot(feats, weightsLit(w.toSeq, "gradientStep"))
      .withColumn("err",
        col("y") * 1048576L - greatest(lit(0L), least(lit(1048576L),
          lit(524288L) + expr("(dot DIV 10000) DIV 4"))))
    val aggs = (0 until F).map(j =>
      sum(element_at(col("f"), j + 1) * col("err")).as(s"g$j")) :+
      count(lit(1)).cast("long").as("n")
    val row = scored.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(F)
    if (n == 0) Array.empty
    else Array.tabulate(F)(j => w(j) + row.getLong(j) / (n * 2000L))
  }

  private def train(feats: DataFrame): Seq[Array[Long]] = {
    var w = Array.fill(F)(0L)
    val traj = collection.mutable.Buffer.empty[Array[Long]]
    for (_ <- 1 to Steps) {
      w = gradientStep(feats, w)
      traj += w.clone()
    }
    traj.toSeq
  }

  /** Final learned weights over an explicit feature frame — the
    * artifact [[graft.pipelines.ModelArtifacts.saveWeights]] persists.
    * Persists the frame for the 16 training reads, releases it before
    * returning.
    */
  private[graft] def learnedWeights(feats: DataFrame): Array[Long] = {
    val p = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try train(p).last finally p.unpersist(false)
  }

  /** TRAIN-ONCE memo: the 16-step trajectory
    * is a pure function of (data dir, training-split predicate) — the
    * gradient loop is exact integer arithmetic over a deterministic
    * feature projection of the parquet input, so retraining it inside
    * each member of the train/infer/eval triad (3 × 16 sequential
    * driver jobs per run, once the top-3 bench heavies) buys
    * nothing. A session-scoped memo keyed by (dir, split key) makes the
    * first query to need a trajectory train it and the other two reuse
    * it — the in-session analog of the deployment shape where training
    * WRITES a weights artifact and inference/eval READ it (exactly how
    * `q_quality_score_artifact` consumes its saved weights).
    * Correctness is untouched: on a cold session every query still
    * trains from scratch, and the DuckDB oracle
    * replays the full recursion regardless. The testdata dirs this
    * engine reads are immutable fixtures; a corpus that mutates in
    * place under a live session is outside the contract (same
    * assumption every `.vdb` index build makes).
    *
    * PERSIST DECISION: the 66-column frame persist is shape-identical
    * to the BPE cache, so it was probed at 1000x (15 GB replica, warm
    * min-of-2): fill 9.4 s / read 1.83 s /
    * recompute 10.1 s per pass at 5M docs — persist path
    * fill + 16·read = 38.6 s vs 16·recompute = 161.6 s, decades all
    * sublinear (fill 0.54, read 0.30, recompute 0.59). Unlike the BPE
    * token frame (string arrays, fill slope 5.07), this frame is ~70
    * packed integers per row: the fill costs about ONE recompute pass
    * and each read saves ~8 s, so the persist stays.
    */
  private val trajCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Array[Long]]]()

  /** Scale probes must measure TRAINING, not memo hits — the slope
    * harness clears session memos before every timed pass
    * ([[graft.tools.ScaleProbe.slope]]); Bench deliberately does NOT
    * (one training per session IS the deployment shape being timed).
    */
  private[graft] def clearSessionMemo(): Unit = trajCache.clear()

  private def trajectory(spark: SparkSession, dir: String, splitKey: String,
                         split: DataFrame => DataFrame): Seq[Array[Long]] =
    trajCache.computeIfAbsent((dir, splitKey), _ => {
      val feats = split(features(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try train(feats) finally feats.unpersist(false)
    })

  private def trainCtes(trainPred: String): String = {
    val hb = s"list_transform(toks, t -> (${polyHashSql("t")}) % $D)"
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |mq AS (SELECT doc_id, toks,
       |              CAST(len(toks) AS BIGINT) AS nt,
       |              CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
       |              CAST(len(list_filter(toks, t -> t IN ('a', 'the'))) AS BIGINT) AS n_stop
       |       FROM tk),
       |feat AS (SELECT doc_id,
       |                CASE WHEN nt >= 20 AND (n_uniq * 10000) // nt >= 4000
       |                          AND (n_stop * 10000) // nt <= 1000
       |                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y,
       |                list_concat(list_transform(range(0, $D),
       |                  b -> CAST((len(list_filter($hb, h -> h = b)) * 10000) // nt AS BIGINT)),
       |                  [least(nt, 100) * 100, (n_uniq * 10000) // nt,
       |                   (n_stop * 10000) // nt, CAST(10000 AS BIGINT)]) AS f
       |         FROM mq),
       |feat_tr AS (SELECT * FROM feat WHERE $trainPred),
       |ff AS (SELECT list(f ORDER BY doc_id) AS m, CAST(count(*) AS BIGINT) AS n
       |       FROM feat_tr),
       |st AS (
       |  SELECT 0 AS step, list_transform(range(0, $F), x -> CAST(0 AS BIGINT)) AS w
       |  UNION ALL
       |  SELECT k + 1,
       |         list_transform(range(0, $F), j ->
       |           w[j + 1] + CAST(list_sum(list_transform(range(1, n + 1),
       |             d -> E[d] * m[d][j + 1])) AS BIGINT) // (n * 2000))
       |  FROM (SELECT step AS k, w,
       |               (SELECT list(y * 1048576 - greatest(CAST(0 AS BIGINT),
       |                        least(CAST(1048576 AS BIGINT),
       |                          524288 + (CAST(list_sum(list_transform(list_zip(w, f),
       |                            p -> p[1] * p[2])) AS BIGINT) // 10000) // 4))
       |                      ORDER BY doc_id)
       |                FROM feat_tr) AS E
       |        FROM st) z, ff
       |  WHERE k < $Steps)""".stripMargin
  }

  /** Shared oracle CTEs: features + the recursive training trajectory.
    * `st.w` is the weight list AFTER `step` steps (step 0 = zeros).
    * `trainPred` restricts the TRAINING rows (the `feat_tr` CTE) — the
    * held-out-eval query trains on the complement of its eval split;
    * the full-corpus queries pass TRUE.
    */
  private val TrainCtes = trainCtes("TRUE")

  /** QUALITY-CLASSIFIER TRAINING — emits the full weight trajectory,
    * one row per (step, feature): the artifact a pipeline persists
    * (and the strongest possible check — every intermediate weight of
    * every step must match the oracle's recursive replay exactly).
    */
  val qualityTrain: QueryDef = QueryDef.sql(
    "q_quality_train",
    s"""WITH RECURSIVE
       |$TrainCtes
       |SELECT CAST(step AS BIGINT) AS step, CAST(u.j AS BIGINT) AS j,
       |       CAST(w[u.j + 1] AS BIGINT) AS w_q
       |FROM st, unnest(range(0, $F)) u(j)
       |WHERE step >= 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val traj = trajectory(spark, dir, "full", identity)
    traj.zipWithIndex.flatMap { case (w, i) =>
      (0 until F).map(j => ((i + 1).toLong, j.toLong, w.lift(j)))
    }.toDF("step", "j", "w_q")
  }

  /** Linear quality-classifier inference — the weights
    * are LEARNED (the final step of [[qualityTrain]]'s loop), not
    * hand-fixed: train K steps, broadcast the 65 learned weights into
    * a map-only scoring expression, emit the Q20 logit and the keep
    * decision (hard-sigmoid ≥ 1/2 ⟺ logit ≥ 0 — monotone, so no
    * sigmoid at inference either). This is the fastText-shaped
    * train→infer pair: the model is integers in the plan, the corpus
    * never shuffles.
    */
  val qualityLogreg: QueryDef = QueryDef.sql(
    "q_quality_logreg",
    s"""WITH RECURSIVE
       |$TrainCtes,
       |wf AS (SELECT w FROM st WHERE step = $Steps)
       |SELECT f.doc_id,
       |       CAST(list_sum(list_transform(list_zip(wf.w, f.f),
       |         p -> p[1] * p[2])) AS BIGINT) // 10000 AS logit_q,
       |       (CAST(list_sum(list_transform(list_zip(wf.w, f.f),
       |         p -> p[1] * p[2])) AS BIGINT) // 10000) >= 0 AS keep
       |FROM feat f, wf""".stripMargin) { (spark, dir) =>
    // memoized weights (trained by whichever triad member ran first);
    // inference is then ONE map-only scoring pass over the scan — no
    // persist, no checkpoint
    val w = trajectory(spark, dir, "full", identity).last
    val wc = weightsLit(w.toSeq, "q_quality_logreg")
    verdicts(features(spark, dir), wc)
  }

  /** HELD-OUT CLASSIFIER EVAL — the third leg of the train→infer→eval
    * triad: train the logistic scorer on 4/5 of the corpus
    * (`doc_id % 5 <> 0` — deterministic, engine-portable systematic
    * split), score the held-out fifth, and report exact ROC-AUC (with
    * the average-rank tie convention — scores live on the quantized
    * logit grid, so ties are the NORM, not a corner case) plus
    * threshold-0 accuracy. AUC is computed from the rank identity
    * AUC = (Σ_{i∈pos} rank_i − P(P+1)/2) / (P·N); doubling both sides
    * keeps every intermediate on the integer grid (rank2 of a tied
    * group = 2·cum_less + n + 1).
    *
    * SCALE: the corpus-shaped work is one map-side scoring pass and
    * ONE value-keyed aggregate (GROUP BY logit — the quantized-grid
    * keyspace, thousands of distinct values at any corpus size, the
    * `q_quality_calibration` histogram discipline). The rank window
    * runs over that bounded distinct-score frame, never over rows —
    * the single-partition window warning is a keyspace-bounded frame,
    * not a corpus sort. Everything after is two scalar aggregates.
    */
  val qualityAuc: QueryDef = QueryDef.sql(
    "q_quality_auc",
    s"""WITH RECURSIVE
       |${trainCtes("doc_id % 5 <> 0")},
       |wf AS (SELECT w FROM st WHERE step = $Steps),
       |ho AS (SELECT f.y,
       |              CAST(list_sum(list_transform(list_zip(wf.w, f.f),
       |                p -> p[1] * p[2])) AS BIGINT) // 10000 AS logit
       |       FROM feat f, wf WHERE f.doc_id % 5 = 0),
       |bys AS (SELECT logit, CAST(count(*) AS BIGINT) AS n,
       |               CAST(sum(y) AS BIGINT) AS npos
       |        FROM ho GROUP BY 1),
       |cum AS (SELECT logit, n, npos,
       |               CAST(coalesce(sum(n) OVER (ORDER BY logit
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cl
       |        FROM bys),
       |tot AS (SELECT CAST(sum(npos) AS BIGINT) AS p,
       |               CAST(sum(n - npos) AS BIGINT) AS nn,
       |               CAST(sum(npos * (2 * cl + n + 1)) AS BIGINT) AS r2
       |        FROM cum),
       |acc AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
       |               CAST(sum(CASE WHEN (logit >= 0) = (y = 1) THEN 1 ELSE 0 END)
       |                 AS BIGINT) AS n_right
       |        FROM ho)
       |SELECT t.p AS pos_eval, t.nn AS neg_eval, a.n_eval,
       |       CASE WHEN t.p * t.nn = 0 THEN CAST(NULL AS BIGINT)
       |            ELSE (t.r2 - t.p * (t.p + 1)) * 1048576 // (2 * t.p * t.nn)
       |       END AS auc_q,
       |       CASE WHEN a.n_eval = 0 THEN CAST(NULL AS BIGINT)
       |            ELSE a.n_right * 1048576 // a.n_eval END AS acc_q
       |FROM tot t, acc a""".stripMargin) { (spark, dir) =>
    val w = trajectory(spark, dir, "train-mod5",
      _.filter(col("doc_id") % 5 =!= 0)).last
    val wc = weightsLit(w.toSeq, "q_quality_auc")
    val ho = withDot(features(spark, dir).filter(col("doc_id") % 5 === 0), wc)
      .select(col("y"), expr("dot DIV 10000").as("logit"))
    val bys = ho.groupBy("logit")
      .agg(count(lit(1)).cast("long").as("n"), sum("y").as("npos"))
    // ordered window over the DISTINCT-logit frame only (quantized
    // keyspace — bounded at any corpus size), never over rows
    val cum = bys.withColumn("cl", coalesce(sum("n").over(
      Window.orderBy("logit").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = cum.agg(sum("npos").as("p"), sum(col("n") - col("npos")).as("nn"),
      sum(col("npos") * (col("cl") * 2 + col("n") + 1)).as("r2"))
    val acc = ho.agg(count(lit(1)).cast("long").as("n_eval"),
      sum(when((col("logit") >= 0) === (col("y") === 1), 1L).otherwise(0L)).as("n_right"))
    val res = tot.crossJoin(acc).select(
      col("p").as("pos_eval"), col("nn").as("neg_eval"), col("n_eval"),
      when(col("p") * col("nn") === 0, lit(null).cast("long"))
        .otherwise(expr("(r2 - p * (p + 1)) * 1048576 DIV (2 * p * nn)")).as("auc_q"),
      when(col("n_eval") === 0, lit(null).cast("long"))
        .otherwise(expr("n_right * 1048576 DIV n_eval")).as("acc_q"))
    res
  }

  /** ARTIFACT-BACKED scoring twin of [[qualityLogreg]]: train (memo-shared with the triad), WRITE the
    * weights to a parquet artifact, LOAD them back, and score from the
    * LOADED copy — the registry-and-oracle-checked proof of the
    * cross-session deployment path that was previously pinned only in
    * ModelArtifactsSpec. The oracle SQL is [[qualityLogreg]]'s verbatim,
    * so the driver's hash check demands the round-trip be EXACT (Q20
    * integer weights — parquet longs, nothing to lose). SCALE: the
    * artifact is 65 rows at any corpus size; write+read is a fixed
    * cost, scoring is the same map-only pass as the logreg twin.
    */
  val qualityScoreArtifact: QueryDef = QueryDef.sql(
    "q_quality_score_artifact",
    s"""WITH RECURSIVE
       |$TrainCtes,
       |wf AS (SELECT w FROM st WHERE step = $Steps)
       |SELECT f.doc_id,
       |       CAST(list_sum(list_transform(list_zip(wf.w, f.f),
       |         p -> p[1] * p[2])) AS BIGINT) // 10000 AS logit_q,
       |       (CAST(list_sum(list_transform(list_zip(wf.w, f.f),
       |         p -> p[1] * p[2])) AS BIGINT) // 10000) >= 0 AS keep
       |FROM feat f, wf""".stripMargin) { (spark, dir) =>
    val w = trajectory(spark, dir, "full", identity).last
    val path = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      s"${dir.replaceAll("[^A-Za-z0-9.]", "_")}/quality_w.parquet"
    graft.pipelines.ModelArtifacts.saveWeights(spark, w.toSeq, path)
    val loaded = graft.pipelines.ModelArtifacts.loadWeights(spark, path)
    val wc = weightsLit(loaded.toSeq, "q_quality_score_artifact")
    verdicts(features(spark, dir), wc)
  }

  /** ENCODING ANOMALY AUDIT — per-source counts of documents carrying
    * non-ASCII bytes and C0 control characters (the crawl-ingest
    * screens that catch charset mis-decodes and binary-in-text before
    * tokenization), plus the whitespace mass in basis points (a
    * degenerate space ratio flags markup/table extractions). The
    * fixture is clean ASCII, so the anomaly counts pin ZERO exactly —
    * the oracle checks the detector logic, the spec injects positives.
    *
    * SCALE: map-only regex screens into one enum-keyed (per-source)
    * aggregate — partial-aggregated map-side, |sources| rows on the
    * wire.
    */
  val encodingAudit: QueryDef = QueryDef.sql(
    "q_encoding_audit",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN regexp_matches(text, '[^\x00-\x7F]') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_nonascii,
      |  CAST(sum(CASE WHEN regexp_matches(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
      |  CAST(sum((length(text) - length(replace(text, ' ', ''))) * 10000
      |    // length(text)) // count(*) AS BIGINT) AS avg_space_bp
      |FROM documents GROUP BY source""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("source"),
        col("text").rlike("[^\\x00-\\x7F]").cast("long").as("nonascii"),
        col("text").rlike("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").cast("long").as("ctrl"),
        expr("(length(text) - length(replace(text, ' ', ''))) * 10000 DIV length(text)")
          .as("space_bp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nonascii").as("n_nonascii"),
        sum("ctrl").as("n_ctrl"),
        expr("sum(space_bp) DIV count(*)").as("avg_space_bp"))
  }

  /** Blocklist filter — per-document hit counts against a fixed term
    * list, the safety/compliance gate of a curation run. The list is a
    * literal IN (a map-side set probe inside the scan: no shuffle, no
    * join); a production-sized blocklist (10k+ terms) rides the same
    * shape with the set broadcast instead of inlined, which is exactly
    * how `q_oov_rate`'s vocabulary side is planned.
    */
  val blocklist: QueryDef = QueryDef.sql(
    "q_blocklist",
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(len(list_filter(string_split(text, ' '),
      |                              t -> t IN ('slow', 'crash', 'deprecated'))) AS BIGINT) AS n_hits,
      |         CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |                              t -> t IN ('slow', 'crash', 'deprecated'))) AS BIGINT) AS n_terms
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_hits, n_terms, n_hits = 0 AS keep FROM m""".stripMargin) {
    (spark, dir) =>
      val blocked = Seq("slow", "crash", "deprecated")
      val toks = tokens(col("text"))
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(filter(toks, t => t.isin(blocked: _*))).cast("long").as("n_hits"),
          size(filter(array_distinct(toks), t => t.isin(blocked: _*))).cast("long")
            .as("n_terms"))
        .withColumn("keep", col("n_hits") === 0L)
  }

  /** The CAPSTONE composite: the full curation pipeline as ONE checked
    * query, emitting the doc/token funnel a pipeline report shows —
    * raw → quality gate (`q_quality_filter` predicate) → exact dedup
    * (min-id keeper) → train split (content-hash bucket < 90, the
    * `q_sample_split` convention) → decontamination (drop train docs
    * sharing a non-hot 8-gram fingerprint with the held-out split, the
    * `q_decontam` machinery). Every stage reuses a fragment proven by
    * its standalone query; what this adds is the COMPOSITION — stages
    * chain as DataFrames with no materialization between them, and the
    * whole funnel is one job. Counts are exact integers.
    */
  val pipelineFunnel: QueryDef = QueryDef.sql(
    "q_pipeline_funnel",
    s"""WITH tok AS (SELECT doc_id, text,
       |                    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
       |f AS (SELECT doc_id, text, nt,
       |             CAST(floor(len(list_distinct(string_split(text, ' '))) * 10000.0 / nt) AS BIGINT) AS uniq_bp,
       |             CAST(floor(len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the'))) * 10000.0 / nt) AS BIGINT) AS stop_bp
       |      FROM tok),
       |s1 AS (SELECT doc_id, text, nt FROM f
       |       WHERE nt >= 20 AND uniq_bp >= 4000 AND stop_bp <= 1000),
       |ex AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY text),
       |s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id)),
       |sp AS (SELECT doc_id, ${graft.functions.TextFunctions.polyHashSql("text")} % 100 AS bucket
       |       FROM documents),
       |s3 AS (SELECT s2.* FROM s2 JOIN sp USING (doc_id) WHERE sp.bucket < 90),
       |held AS (SELECT s2.doc_id FROM s2 JOIN sp USING (doc_id) WHERE sp.bucket >= 90),
       |sh8 AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.shinglesSql("string_split(text, ' ')", 8)}) AS s
       |        FROM s2),
       |hs8 AS (SELECT DISTINCT doc_id, ${graft.functions.TextFunctions.polyHashSql("s")} AS h FROM sh8),
       |hot AS (SELECT h FROM hs8 GROUP BY h HAVING count(*) > 64),
       |k AS (SELECT hs8.doc_id, hs8.h FROM hs8 ANTI JOIN hot USING (h)),
       |contam AS (SELECT DISTINCT a.doc_id
       |           FROM k a JOIN k b ON a.h = b.h
       |                    JOIN held ON held.doc_id = b.doc_id
       |           WHERE a.doc_id <> b.doc_id),
       |s4 AS (SELECT s3.* FROM s3 ANTI JOIN contam USING (doc_id))
       |SELECT * FROM (
       |  SELECT '00_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok
       |  UNION ALL
       |  SELECT '10_quality', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT) FROM s1
       |  UNION ALL
       |  SELECT '20_exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT) FROM s2
       |  UNION ALL
       |  SELECT '30_train_split', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT) FROM s3
       |  UNION ALL
       |  SELECT '40_decontam', CAST(count(*) AS BIGINT), CAST(sum(nt) AS BIGINT) FROM s4
       |)""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    val tok = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), size(toks).cast("long").as("nt"))
    val qpred = col("nt") >= 20 &&
      floor(size(array_distinct(toks)) * 10000.0 / col("nt")).cast("long") >= 4000 &&
      floor(size(filter(toks, t => t === "a" || t === "the")) * 10000.0 / col("nt"))
        .cast("long") <= 1000
    // SHAPE (guide §2.4): the first cut union-ed five
    // per-stage aggregates, each replaying everything upstream — 34
    // parquet scans / 52 exchanges in the physical plan for a 5-row
    // funnel. Now: (a) stages 00+10 fold into ONE conditional aggregate
    // over one scan; (b) the exact-dedup keeper is a window min over
    // the content key — one exchange, no groupBy+self-join replay;
    // (c) the train/held bucket is a pure function of text (polyhash),
    // a COLUMN on the deduped frame, not a join back to a re-scan;
    // (d) the post-dedup frame is materialized ONCE (localCheckpoint —
    // single-JVM durability note as per the q_ivf_kmeans site) and the
    // last three stages fold into one conditional aggregate over it.
    // 2 corpus scans total; same 5 rows (oracle unchanged, still green).
    val early = tok.select(col("nt"), qpred.as("q"))
      .agg(count(lit(1)).as("n0"), sum(col("nt")).cast("long").as("t0"),
        count(when(col("q"), 1)).as("n1"),
        sum(when(col("q"), col("nt"))).cast("long").as("t1"))
    val s1 = tok.filter(qpred)
    // keeper via the narrow content key — never group by raw text
    // (the Dedup.contentKey shuffle discipline)
    val s2 = s1.withColumn("m", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(
          graft.operators.Dedup.contentKey(col("text")))))
      .filter(col("doc_id") === col("m"))
      .select(col("doc_id"), col("text"), col("nt"),
        (polyHash(col("text")) % 100 < 90).as("train"))
      .localCheckpoint()
    val held = s2.filter(!col("train")).select("doc_id")
    val hs8 = Dedup.shingleHashTable(s2, "doc_id", "text", 8)
    // df-cap via count-over-window on ONE h-keyed exchange (a groupBy
    // + anti-join would shuffle twice)
    val k = hs8.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("df") <= 64).drop("df")
    val contam = k.select(col("doc_id").as("adoc"), col("h"))
      .join(k.select(col("doc_id").as("bdoc"), col("h")), "h")
      .join(held.select(col("doc_id").as("bdoc")), "bdoc")
      .filter(col("adoc") =!= col("bdoc"))
      .select(col("adoc").as("doc_id")).distinct()
    val late = s2.join(contam.withColumn("contam", lit(true)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n2"), sum(col("nt")).cast("long").as("t2"),
        count(when(col("train"), 1)).as("n3"),
        sum(when(col("train"), col("nt"))).cast("long").as("t3"),
        count(when(col("train") && col("contam").isNull, 1)).as("n4"),
        sum(when(col("train") && col("contam").isNull, col("nt"))).cast("long").as("t4"))
    def rows(df: org.apache.spark.sql.DataFrame,
             stages: Seq[(String, String, String)]) =
      df.select(explode(array(stages.map { case (s, n, t) =>
          struct(lit(s).as("stage"), col(n).as("n_docs"), col(t).as("n_tokens"))
        }: _*)).as("r"))
        .select(col("r.stage"), col("r.n_docs"), col("r.n_tokens"))
    rows(early, Seq(("00_raw", "n0", "t0"), ("10_quality", "n1", "t1")))
      .unionAll(rows(late, Seq(("20_exact_dedup", "n2", "t2"),
        ("30_train_split", "n3", "t3"), ("40_decontam", "n4", "t4"))))
  }

  /** Per-domain quality-threshold calibration: the exact nearest-rank
    * p10 of the lexical-diversity score (uniq_bp, the `q_quality_filter`
    * signal) computed GLOBALLY and PER SOURCE, with each source's doc
    * count under both cutoffs. The report quantifies the domain bias of
    * one global threshold — a source whose kept_global is far below
    * 90% of n_docs is being drained by other domains' score
    * distribution, the thing per-domain calibration fixes.
    *
    * SCALE: no corpus-sized window anywhere (the `q_token_cdf` lesson
    * applied at design time, not retrofitted). uniq_bp lives on the
    * bounded [0, 10000] integer grid, so both thresholds come from
    * HISTOGRAMS: group to ≤ 10001 (global) / ≤ sources x 10001 (local)
    * rows, cumulative-sum the histogram, take the first bin where
    * 10·cum ≥ n (exactly the nearest-rank ceil(n/10) order statistic —
    * integer arithmetic, no doubles). The per-doc pass is map-side;
    * the windows run over broadcast-sized histograms.
    */
  val qualityCalibration: QueryDef = QueryDef.sql(
    "q_quality_calibration",
    """WITH m AS (SELECT doc_id, source,
      |                  CAST(floor(len(list_distinct(string_split(text, ' '))) * 10000.0
      |                             / len(string_split(text, ' '))) AS BIGINT) AS uniq_bp
      |           FROM documents),
      |gh AS (SELECT uniq_bp, count(*) AS c FROM m GROUP BY 1),
      |gn AS (SELECT sum(c) AS n FROM gh),
      |gthr AS (SELECT min(uniq_bp) AS thr_global FROM (
      |           SELECT uniq_bp, sum(c) OVER (ORDER BY uniq_bp) AS cum, gn.n
      |           FROM gh, gn) WHERE cum * 10 >= n),
      |lh AS (SELECT source, uniq_bp, count(*) AS c FROM m GROUP BY 1, 2),
      |lnn AS (SELECT source, sum(c) AS n FROM lh GROUP BY 1),
      |lthr AS (SELECT source, min(uniq_bp) AS thr_local FROM (
      |           SELECT lh.source, lh.uniq_bp,
      |                  sum(lh.c) OVER (PARTITION BY lh.source ORDER BY lh.uniq_bp) AS cum,
      |                  lnn.n
      |           FROM lh JOIN lnn USING (source)) WHERE cum * 10 >= n
      |         GROUP BY source)
      |SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       g.thr_global, l.thr_local,
      |       CAST(count(CASE WHEN m.uniq_bp >= g.thr_global THEN 1 END) AS BIGINT) AS kept_global,
      |       CAST(count(CASE WHEN m.uniq_bp >= l.thr_local THEN 1 END) AS BIGINT) AS kept_local
      |FROM m, gthr g
      |JOIN lthr l ON l.source = m.source
      |GROUP BY m.source, g.thr_global, l.thr_local""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    val m = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        floor(size(array_distinct(toks)) * 10000.0 / size(toks)).cast("long").as("uniq_bp"))
    val gh = m.groupBy("uniq_bp").agg(count(lit(1)).as("c"))
    val gn = gh.agg(sum(col("c")).as("n"))
    // the window runs over the <=10001-row histogram, never the corpus
    val gthr = gh.crossJoin(broadcast(gn))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("uniq_bp"))))
      .filter(col("cum") * 10 >= col("n"))
      .agg(min(col("uniq_bp")).as("thr_global"))
    val lh = m.groupBy("source", "uniq_bp").agg(count(lit(1)).as("c"))
    val lnn = lh.groupBy("source").agg(sum(col("c")).as("n"))
    val lthr = lh.join(lnn, "source")
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("uniq_bp"))))
      .filter(col("cum") * 10 >= col("n"))
      .groupBy("source").agg(min(col("uniq_bp")).as("thr_local"))
    m.crossJoin(broadcast(gthr))
      .join(broadcast(lthr), "source")
      .groupBy("source", "thr_global", "thr_local")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("uniq_bp") >= col("thr_global"), 1)).as("kept_global"),
        count(when(col("uniq_bp") >= col("thr_local"), 1)).as("kept_local"))
      .select(col("source"), col("n_docs"), col("thr_global"), col("thr_local"),
        col("kept_global"), col("kept_local"))
  }

  /** GOPHER RULE FILTER — the published rule set re-expressed over
    * this corpus's measurable axes: word-count bounds, mean-word-length
    * band, ≥2 distinct stopwords present, and a short-token-fraction
    * cap (the symbol/ellipsis rules have no signal in a
    * space-separated-word fixture and are omitted). Emits the per-rule
    * inputs alongside the verdict so the filter is auditable, not just
    * a boolean. All-integer: scaled ratios via DIV, no doubles.
    *
    * SCALE: one token explode + one doc-keyed aggregate — the same
    * shape as `q_token_stats`; rule evaluation is map-side arithmetic
    * on the aggregate row.
    */
  val gopherRules: QueryDef = QueryDef.sql(
    "q_gopher_rules",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |s AS (SELECT doc_id, count(*) AS n_words, sum(length(tok)) AS sum_len,
      |             count(*) FILTER (WHERE length(tok) <= 2) AS n_short,
      |             count(DISTINCT CASE WHEN tok IN ('the','a','of','to','and')
      |                                 THEN tok END) AS n_stop
      |      FROM tk GROUP BY doc_id)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |       CAST((sum_len * 100) // n_words AS BIGINT) AS mwl_x100,
      |       CAST(n_stop AS BIGINT) AS n_stop,
      |       CAST((n_short * 100) // n_words AS BIGINT) AS short_x100,
      |       CAST(CASE WHEN n_words BETWEEN 25 AND 80
      |                  AND (sum_len * 100) // n_words BETWEEN 420 AND 560
      |                  AND n_stop >= 2
      |                  AND (n_short * 100) // n_words <= 6
      |             THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM s""".stripMargin) { (spark, dir) =>
    val s = gopherStats(spark, dir)
    s.select(col("doc_id"), col("n_words"),
      expr("sum_len * 100 DIV n_words").as("mwl_x100"),
      col("n_stop").cast("long").as("n_stop"),
      expr("n_short * 100 DIV n_words").as("short_x100"),
      gopherKeep.cast("long").as("keep"))
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

  val all: Seq[QueryDef] = Seq(
    qualityFilter, langId, langidConfusion, readability, nbLang, nbMargin, ruleAttribution,
    markupStrip, formatDetect, filterKappa, boilerplateSpans, boilerplateStrip, lenQualityCorr,
    qualityTrain, qualityLogreg, qualityAuc, qualityScoreArtifact, encodingAudit, blocklist,
    pipelineFunnel, qualityCalibration, gopherRules, corpusFilter)
}
