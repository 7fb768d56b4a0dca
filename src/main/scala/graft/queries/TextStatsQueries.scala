package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import graft.functions.VectorFunctions.{cosDistSql, cosineDistance}

/** Corpus text statistics: fingerprints, token and length profiles,
  * document frequency, entropy, stopwords, n-gram and co-occurrence
  * statistics (PMI, bigram LM and perplexity, Kneser–Ney, conditional
  * entropy), Zipf fits, vocabulary growth and type-token curves,
  * repetition and distinct-n-gram diversity, out-of-vocabulary rates.
  *
  * Determinism: counts, ranks and ratios are integers (basis points);
  * every `ln` is floored onto an integer grid (2^20 or 2^40) before any
  * sum; per-row products ride DECIMAL casts. Both engines agree bit for
  * bit.
  */
object TextStatsQueries {

  /** Rolling-hash document fingerprint (the `.vdb`-era analog of a content
    * address). */
  val fingerprint: QueryDef = QueryDef.sql(
    "q_fingerprint",
    s"""SELECT doc_id, ${polyHashSql("text")} AS fp, length(text) AS n_chars
       |FROM documents""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"), polyHash(col("text")).as("fp"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Corpus-vocabulary stopwords for ratio features. */
  private val Stopwords = Seq("the", "a", "key", "value", "table")

  private val StopSql = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Per-document token statistics + a deterministic quality score:
    * length-normalized token count x distinct ratio, penalized by
    * punctuation ratio (the usual heuristic-quality shape, exact math).
    */
  val tokenStats: QueryDef = QueryDef.sql(
    "q_token_stats",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n_chars FROM documents),
       |s AS (SELECT doc_id, n_chars,
       |             CAST(len(toks) AS BIGINT) AS n_tokens,
       |             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |             CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS tok_chars,
       |             CAST(len(list_filter(toks, x -> list_contains($StopSql, x))) AS BIGINT) AS n_stop
       |      FROM t)
       |SELECT doc_id, n_tokens, n_distinct,
       |       CAST(tok_chars AS DOUBLE) / n_tokens AS avg_tok_len,
       |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
       |       (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)
       |             * (0.5 + 0.5 * CAST(n_distinct AS DOUBLE) / n_tokens)
       |             - 0.1 * CAST(n_stop AS DOUBLE) / n_tokens AS quality
       |FROM s""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).as("tok_chars"),
        size(filter(col("toks"), x => x.isin(Stopwords: _*))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("tok_chars").cast("double") / col("n_tokens")).as("avg_tok_len"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        ((least(col("n_tokens"), lit(100)).cast("double") / 100.0)
          * (lit(0.5) + lit(0.5) * col("n_distinct").cast("double") / col("n_tokens"))
          - lit(0.1) * col("n_stop").cast("double") / col("n_tokens")).as("quality"))
  }

  /** Vocabulary building: token document frequency, top-50. The df>IDF
    * step of TF-IDF kept integer-only (cross-engine ln() can differ in
    * the last ulp; consumers derive idf from df and the corpus size).
    * Distinct-then-count is two keyed shuffles with map-side combine —
    * the standard shape at any scale.
    */
  val docFreq: QueryDef = QueryDef.sql(
    "q_doc_freq",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |d AS (SELECT DISTINCT doc_id, tok FROM tk)
      |SELECT tok, count(*) AS df FROM d GROUP BY tok
      |ORDER BY df DESC, tok LIMIT 50""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc)
      .limit(50)
  }

  /** Repetition detection — the repeated-trigram ratio, the standard
    * signal for degenerate/boilerplate text (looped generations, spam
    * keyword stuffing): `1 − distinct_trigrams / total_trigrams`.
    * Map-only column algebra; the ratio is one exact division.
    * Emitted with the raw counts so a curation funnel can threshold
    * either form.
    */
  val repetition: QueryDef = QueryDef.sql(
    "q_repetition",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id,
       |             CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_tri,
       |             CAST(len(${shinglesSql("toks", 3)}) AS BIGINT) AS n_distinct
       |      FROM t)
       |SELECT doc_id, n_tri, n_distinct,
       |       CASE WHEN n_tri = 0 THEN CAST(0 AS DOUBLE)
       |            ELSE CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / CAST(n_tri AS DOUBLE)
       |       END AS rep_ratio
       |FROM g""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - 2, lit(0)).cast("long").as("n_tri"),
        size(shingles(col("toks"), 3)).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tri"), col("n_distinct"),
        when(col("n_tri") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_tri").cast("double"))
          .as("rep_ratio"))
  }

  /** Per-document keyword extraction: top-5 tokens by TF-IDF
    * (`tf · ln(N/df)`), quantized `floor(score·65536)` — the same
    * libm-absorbing discipline as `q_bm25` (ln is the one
    * transcendental; the ×65536 floor makes the value and the ranking
    * cross-engine stable). The rank≤5 filter runs as a map-side
    * WindowGroupLimit, so only 5 rows per document survive the window
    * shuffle — keyword extraction at corpus scale is two keyed
    * aggregations plus a bounded window.
    */
  val keywords: QueryDef = QueryDef.sql(
    "q_keywords",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
      |n AS (SELECT count(*) AS nd FROM documents),
      |s AS (SELECT tf.doc_id, tf.tok,
      |             CAST(floor(CAST(tf.tf AS DOUBLE)
      |                        * ln(CAST(n.nd AS DOUBLE) / CAST(df.df AS DOUBLE))
      |                        * 65536) AS BIGINT) AS score_q
      |      FROM tf JOIN df USING (tok), n)
      |SELECT doc_id, tok, score_q, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT doc_id, tok, score_q,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, tok) AS rn
      |  FROM s) WHERE rn <= 5""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val tk = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfr = tk.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_q").desc, col("tok").asc)
    tf.join(dfr, "tok").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tok"),
        floor(col("tf").cast("double")
          * log(col("nd").cast("double") / col("df").cast("double"))
          * lit(65536)).cast("long").as("score_q"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("tok"), col("score_q"), col("rn").cast("long").as("rn"))
  }

  /** Bigram language-model negative log-likelihood per document — the
    * perplexity-proxy quality signal (fluent text scores low, shuffled
    * or degenerate text high) computed from the corpus's own bigram
    * statistics, no external model. Determinism discipline: each
    * per-bigram `ln(c(w1,w2)/c(w1·))` is quantized to a 2^40 integer
    * grid BEFORE the per-doc sum, so the aggregation is exact integer
    * arithmetic — order-independent across engines and partitionings
    * (a raw `sum(ln(...))` of doubles would be order-sensitive). ln is
    * the one libm call, same absorption idiom as `q_bm25`/`q_keywords`.
    */
  val bigramLm: QueryDef = QueryDef.sql(
    "q_bigram_lm",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |       FROM tk, unnest(range(1, len(toks))) t(i)),
      |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
      |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM cb GROUP BY 1)
      |SELECT bg.doc_id, count(*) AS n_bigrams,
      |       CAST(-sum(CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(cu.cu AS DOUBLE))
      |                            * 1099511627776) AS BIGINT)) AS BIGINT) AS nll_q40
      |FROM bg JOIN cb ON cb.w1 = bg.w1 AND cb.w2 = bg.w2
      |        JOIN cu ON cu.w1 = bg.w1
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    // split materialized once per row — element_at over the raw split
    // expression re-runs the split per lambda call (no subexpression
    // elimination across lambda boundaries), making bigram emission
    // O(L^2) in document length
    val toks = col("toks")
    val bg = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // the bigram table feeds the model build AND the scoring join —
      // one explode pass, not two (durability: lineage-severed)
      .localCheckpoint()
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // cu derived from cb (sum of bigram counts per first token) — one
    // fewer pass over the exploded bigram table, identical value
    val cu = cb.groupBy("w1").agg(sum(col("cb")).as("cu"))
    bg.join(cb, Seq("w1", "w2")).join(cu, "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(floor(log(col("cb").cast("double") / col("cu").cast("double"))
          * lit(1099511627776.0)).cast("long"))).cast("long").as("nll_q40"))
  }

  /** HELD-OUT perplexity under a train-split bigram LM — the CCNet-style
    * LM quality filter, completing [[bigramLm]] (which scores in-sample):
    * the LM is estimated ONLY on the deterministic train split (content
    * hash < 80, the `q_decontam` split rule) and scores the disjoint
    * test split (hash ≥ 90), so the score generalizes instead of
    * memorizing — a near-dup of training text scores LOW nll (that is
    * the filter's point: familiar = in-distribution). Unseen bigrams get
    * add-one smoothing over the train w2-vocabulary + 1 OOV slot, so
    * every test bigram has finite probability. Per-bigram ln is
    * floor-quantized to the 2^40 grid BEFORE the per-doc sum (integer
    * aggregation, order-independent). SCALE: the bigram table is
    * corpus-linear, all joins hash-keyed on (w1, w2) / w1; the
    * vocabulary scalar broadcasts.
    */
  val bigramPpl: QueryDef = QueryDef.sql(
    "q_bigram_ppl",
    s"""WITH sp AS (SELECT doc_id, ${polyHashSql("text")} % 100 AS bucket FROM documents),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
       |       FROM tk, unnest(range(1, len(toks))) t(i)),
       |trb AS (SELECT bg.w1, bg.w2, CAST(count(*) AS BIGINT) AS cb
       |        FROM bg JOIN sp USING (doc_id) WHERE sp.bucket < 80 GROUP BY 1, 2),
       |tru AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM trb GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v FROM trb),
       |te AS (SELECT bg.doc_id, bg.w1, bg.w2
       |       FROM bg JOIN sp USING (doc_id) WHERE sp.bucket >= 90),
       |sc AS (SELECT te.doc_id,
       |              CAST(floor(ln(CAST(coalesce(trb.cb, 0) + 1 AS DOUBLE)
       |                            / CAST(coalesce(tru.cu, 0) + v.v AS DOUBLE))
       |                         * 1099511627776) AS BIGINT) AS lq
       |       FROM te LEFT JOIN trb ON trb.w1 = te.w1 AND trb.w2 = te.w2
       |               LEFT JOIN tru ON tru.w1 = te.w1, v)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(-sum(lq) AS BIGINT) AS nll_q40
       |FROM sc GROUP BY 1""".stripMargin) { (spark, dir) =>
    val toks = col("toks")
    val docs = Tables(spark, dir, "documents")
    // SHAPE: the split bucket is a pure function of text, so
    // it rides the bigram projection as a COLUMN — the sp join (two
    // corpus joins, one per split leg) disappears; the bigram table is
    // materialized once for its two split legs, and the train model
    // once for its three consumers (counts, w1 totals, w2 vocabulary).
    // Durability: lineage-severed, non-replicated.
    val bg = docs
      .select(col("doc_id"), (polyHash(col("text")) % 100).as("bucket"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("bucket"), explode(transform(
        sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
        .as("b"))
      .select(col("doc_id"), col("bucket"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint()
    val trb = bg.filter(col("bucket") < 80)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint()
    val tru = trb.groupBy("w1").agg(sum(col("cb")).as("cu"))
    val v = trb.agg((countDistinct(col("w2")) + 1).as("v"))
    val te = bg.filter(col("bucket") >= 90)
      .select(col("doc_id"), col("w1"), col("w2"))
    te.join(trb, Seq("w1", "w2"), "left")
      .join(tru, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        floor(log((coalesce(col("cb"), lit(0L)) + 1).cast("double")
          / (coalesce(col("cu"), lit(0L)) + col("v")).cast("double"))
          * lit(1099511627776.0)).cast("long").as("lq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("lq"))).cast("long").as("nll_q40"))
  }

  /** One-row corpus report card — the summary a curation run logs per
    * snapshot: document count, exact-duplicate count, token volume,
    * vocabulary size, mean tokens/doc. All integer aggregates (the mean
    * is one double division of two exact BIGINTs), so the row is
    * bit-stable across engines and partitionings.
    */
  val corpusStats: QueryDef = QueryDef.sql(
    "q_corpus_stats",
    """WITH d AS (SELECT count(*) AS n_docs,
      |                  count(*) - count(DISTINCT text) AS n_dup_docs,
      |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |           FROM documents),
      |v AS (SELECT count(DISTINCT tok) AS vocab FROM (
      |        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |      WHERE tok <> '')
      |SELECT d.n_docs, d.n_dup_docs, d.n_tokens, v.vocab,
      |       CAST(d.n_tokens AS DOUBLE) / d.n_docs AS mean_tokens
      |FROM d, v""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val v = docs.select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok")).as("vocab"))
    d.crossJoin(v)
      .withColumn("mean_tokens", col("n_tokens").cast("double") / col("n_docs"))
  }

  private val Q40 = 1099511627776L // 2^40 — the shared ln-quantization grid

  /** Character-distribution Shannon entropy per document — the classic
    * gibberish/boilerplate detector (uniform noise scores high, repeated
    * filler low). Each `k·ln(k/n)` term is quantized to the 2^40 grid
    * before the per-document sum, so the aggregation is exact integer
    * arithmetic — order-independent across engines and partitionings.
    * Two keyed aggregations over the exploded chars; at corpus scale the
    * char alphabet bounds the group count per doc (~100), so state is
    * tiny and the shuffle carries (doc_id, char) partial counts only.
    */
  val charEntropy: QueryDef = QueryDef.sql(
    "q_char_entropy",
    s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
       |ck AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
       |cn AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM ck GROUP BY 1)
       |SELECT ck.doc_id, CAST(max(cn.n) AS BIGINT) AS n_chars,
       |       CAST(-sum(ck.k * CAST(floor(ln(CAST(ck.k AS DOUBLE) / CAST(cn.n AS DOUBLE))
       |                                   * $Q40) AS BIGINT)) AS BIGINT) AS ent_q40
       |FROM ck JOIN cn USING (doc_id)
       |GROUP BY ck.doc_id""".stripMargin) { (spark, dir) =>
    val ck = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).as("k"))
    val cn = ck.groupBy("doc_id").agg(sum(col("k")).as("n"))
    ck.join(cn, "doc_id")
      .groupBy("doc_id")
      .agg(max(col("n")).cast("long").as("n_chars"),
        (-sum(col("k") * floor(log(col("k").cast("double") / col("n").cast("double"))
          * lit(Q40.toDouble)).cast("long"))).cast("long").as("ent_q40"))
  }

  /** Corpus-derived stopword list: tokens whose document frequency
    * exceeds 30% of the corpus. Two aggregations and a broadcast of the
    * single-row count — the df table is vocabulary-sized, so this is the
    * cheapest query in the curation family at any corpus size.
    */
  val stopwordDerive: QueryDef = QueryDef.sql(
    "q_stopword_derive",
    """WITH tk AS (SELECT DISTINCT doc_id, tok FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |d AS (SELECT tok, count(*) AS df FROM tk GROUP BY tok),
      |n AS (SELECT count(*) AS nd FROM documents)
      |SELECT tok, CAST(df AS BIGINT) AS df,
      |       CAST(floor(df * 10000.0 / nd) AS BIGINT) AS df_bp
      |FROM d, n WHERE df * 10 >= nd * 3""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val tk = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok")).distinct()
    val d = tk.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nd"))
    d.crossJoin(broadcast(n))
      .filter(col("df") * 10 >= col("nd") * 3)
      .select(col("tok"), col("df"),
        floor(col("df") * 10000.0 / col("nd")).cast("long").as("df_bp"))
  }

  /** Corpus-wide top-20 trigrams by count — exact integer counts, global
    * top-k planned as `TakeOrderedAndProject` (per-partition heap +
    * merge, never a global sort; same plan family as `q_topk_cosine`).
    */
  val trigramTop: QueryDef = QueryDef.sql(
    "q_trigram_top",
    """WITH tk AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |tg AS (SELECT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri
      |       FROM tk, unnest(range(1, len(toks) - 1)) t(i))
      |SELECT tri, CAST(count(*) AS BIGINT) AS cnt
      |FROM tg GROUP BY tri
      |ORDER BY cnt DESC, tri LIMIT 20""".stripMargin) { (spark, dir) =>
    // materialize the split ONCE per row: element_at over the raw
    // split(...) expression re-evaluates the split per lambda call
    // (subexpression elimination does not cross lambda boundaries),
    // turning trigram emission O(L^2) in document length
    val toks = col("toks")
    Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .filter(size(toks) >= 3)
      .select(explode(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tri").asc)
      .limit(20)
  }

  /** Token co-occurrence with pointwise mutual information — the word-
    * association signal (collocation mining, topic coherence), in the
    * standard DISTANCE-WINDOWED form: a co-occurrence event is a pair of
    * kept-token positions within ±5 of each other in the same document.
    * Scale shape: a per-document pair self-join would be O(m²) in the
    * per-doc kept-token count m — a hot-key quadratic on one 50k-token
    * document. Windowed pairs are emitted
    * MAP-SIDE from the per-doc sorted position array (≤ 5·L pairs per
    * doc — corpus-LINEAR, no join at all before the final count), which
    * is also the textbook collocation definition. The emission is a
    * codegen kernel (`WindowedPairsExpr`), and the kept-position array
    * is materialized once, so the corpus is scanned twice (df pass + array build), not four times. Kept tokens are those
    * with df in [5, 0.9·N] (content words, same df-window blocking as
    * the n-gram dedup family); pairs below support 5 are dropped before
    * PMI. PMI = ln(c(x,y)·T / (c(x)·c(y))) over windowed occurrence
    * counts, quantized on the 2^40 grid; its argument is a ratio of
    * exact integer products, so both engines divide the same doubles.
    */
  val cooccurPmi: QueryDef = QueryDef.sql(
    "q_cooccur_pmi",
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tp AS (SELECT doc_id, i AS pos, toks[i] AS tok
       |       FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
       |d AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tp GROUP BY tok),
       |n AS (SELECT count(*) AS nd FROM documents),
       |kept AS (SELECT d.tok FROM d, n WHERE d.df >= 5 AND d.df * 10 <= n.nd * 9),
       |kp AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp JOIN kept USING (tok)),
       |occ AS (SELECT tok, count(*) AS c FROM kp GROUP BY tok),
       |tot AS (SELECT count(*) AS nt FROM kp),
       |p AS (SELECT least(a.tok, b.tok) AS t1, greatest(a.tok, b.tok) AS t2,
       |             count(*) AS cxy
       |      FROM kp a JOIN kp b
       |        ON a.doc_id = b.doc_id AND b.pos > a.pos
       |       AND b.pos <= a.pos + 5 AND a.tok <> b.tok
       |      GROUP BY 1, 2)
       |SELECT p.t1, p.t2, CAST(p.cxy AS BIGINT) AS cxy,
       |       CAST(floor(ln(CAST(p.cxy AS DOUBLE) * tot.nt / (oa.c * ob.c))
       |                  * $Q40) AS BIGINT) AS pmi_q40
       |FROM p JOIN occ oa ON oa.tok = p.t1
       |       JOIN occ ob ON ob.tok = p.t2, tot
       |WHERE p.cxy >= 5""".stripMargin) { (spark, dir) =>
    val W = 5
    val docs = Tables(spark, dir, "documents")
    val tp = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val d = tp.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val kept = d.crossJoin(broadcast(n))
      .filter(col("df") >= 5 && col("df") * 10 <= col("nd") * 9)
      .select(col("tok"))
    // ONE corpus pass builds the per-doc sorted kept-position array and
    // materializes it (tokens only — a fraction of the text bytes);
    // occ, tot, and the pair stream all read the materialized frame
    // instead of each re-scanning and re-exploding the corpus (the old
    // shape ran the posexplode FOUR times: df, occ, tot, pairs)
    val adf = tp.join(kept, "tok")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("a"))
      .localCheckpoint()
    val a = col("a")
    val occ = adf.select(explode(col("a")).as("x"))
      .groupBy(col("x.tok").as("tok")).agg(count(lit(1)).as("c"))
    val tot = adf.agg(sum(size(a)).as("nt"))
    // pairs within ±W emitted map-side by a codegen kernel (positions
    // are distinct, so partners live in the next ≤W slots; the kernel
    // breaks early on the sorted positions — the old nested HOF copied
    // a W-slice and built lambda frames per position, interpreted)
    val pairs = adf
      .select(explode(graft.functions.HashExpressions.windowedPairsFast(a, W)).as("pr"))
      .select(col("pr.t1").as("t1"), col("pr.t2").as("t2"))
    val p = pairs.groupBy("t1", "t2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    p.join(occ.select(col("tok").as("t1"), col("c").as("ca")), "t1")
      .join(occ.select(col("tok").as("t2"), col("c").as("cb")), "t2")
      .crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("cxy"),
        floor(log(col("cxy").cast("double") * col("nt") / (col("ca") * col("cb")))
          * lit(Q40.toDouble)).cast("long").as("pmi_q40"))
  }

  /** INTERPOLATED KNESER–NEY bigram smoothing — the LM-smoothing
    * standard (Kneser & Ney 1995; Chen & Goodman 1998): with absolute
    * discount D = 3/4,
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/T
    * where N1+(w1·) is the follower-type count, N1+(·w2) the
    * CONTINUATION count (how many distinct contexts w2 appears in — the
    * insight that "Francisco" is frequent but not versatile), and T the
    * total bigram-type count. With D = 3/4 every term is rational, so
    * the whole model is computed in exact integer Q20:
    * max(c12−3/4,0)/c1 = (4·c12−3)/(4·c1) for observed bigrams. Output:
    * the 30 most-frequent bigrams with their smoothed probability and
    * both interpolation parts — the table you sanity-check a smoother
    * with (λ high for promiscuous contexts, P_cont low for
    * context-locked words).
    *
    * SCALE: bigram emission is map-side (one shuffle to count types);
    * all four statistics are map-side-combinable aggregates of the
    * TYPE table (vocab², not corpus, sized); T is a 1-row broadcast;
    * top-30 is TakeOrderedAndProject. Nothing corpus-shaped survives
    * past the first count.
    */
  val kneserNey: QueryDef = QueryDef.sql(
    "q_kneser_ney",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
      |       FROM tk, unnest(range(1, len(toks))) t(i)),
      |cb AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |cu AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |              count(*) AS n1f FROM cb GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY 1),
      |t AS (SELECT count(*) AS tt FROM cb),
      |q AS (SELECT cb.w1, cb.w2, cb.c12,
      |             ((4 * cb.c12 - 3) * 1048576) // (4 * cu.c1) AS pml_q20,
      |             (3 * cu.n1f * 1048576) // (4 * cu.c1) AS lambda_q20,
      |             (cont.n1b * 1048576) // max(t.tt) OVER () AS pcont_q20
      |      FROM cb JOIN cu USING (w1) JOIN cont USING (w2), t)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |       CAST(pml_q20 + (lambda_q20 * pcont_q20) // 1048576 AS BIGINT) AS pkn_q20,
      |       CAST(lambda_q20 AS BIGINT) AS lambda_q20,
      |       CAST(pcont_q20 AS BIGINT) AS pcont_q20
      |FROM q ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin) { (spark, dir) =>
    val toks = col("toks")
    val bg = Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .select(explode(transform(
        sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // follower-type and continuation counts both derive from the TYPE
    // table, never re-touching the corpus-sized bigram stream
    val cu = cb.groupBy("w1")
      .agg(sum("c12").cast("long").as("c1"), count(lit(1)).as("n1f"))
    val cont = cb.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val t = cb.agg(count(lit(1)).as("tt"))
    cb.join(cu, "w1").join(cont, "w2").crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("c12"),
        expr("((4 * c12 - 3) * 1048576) DIV (4 * c1)").as("pml_q20"),
        expr("(3 * n1f * 1048576) DIV (4 * c1)").as("lambda_q20"),
        expr("(n1b * 1048576) DIV tt").as("pcont_q20"))
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c12"),
        expr("CAST(pml_q20 + (lambda_q20 * pcont_q20) DIV 1048576 AS BIGINT)").as("pkn_q20"),
        col("lambda_q20").cast("long").as("lambda_q20"),
        col("pcont_q20").cast("long").as("pcont_q20"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(30)
  }

  /** TYPE-TOKEN-RATIO CURVE — lexical diversity vs document length:
    * docs bucketed by token count (64-token steps, capped at bucket 7),
    * each bucket reporting pooled TTR (Σdistinct/Σtokens) plus the
    * per-doc min/max, all in integer basis points. TTR falls with
    * length by Heaps' law, so a single corpus-wide TTR threshold
    * silently filters long documents — this curve is the calibration
    * that makes a diversity filter length-aware (compare each doc to
    * its OWN bucket, the `q_length_buckets` idiom one signal deeper).
    * SCALE: per-doc distinct counts are map-side array ops (no explode,
    * no shuffle); the only exchange carries 8 bucket rows.
    */
  val ttrCurve: QueryDef = QueryDef.sql(
    "q_ttr_curve",
    """WITH s AS (SELECT len(string_split(text, ' ')) AS nt,
      |                 len(list_distinct(string_split(text, ' '))) AS nd
      |           FROM documents)
      |SELECT CAST(least(nt // 64, 7) AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(nt) AS BIGINT) AS n_tokens,
      |       CAST((sum(nd) * 10000) // sum(nt) AS BIGINT) AS ttr_bp,
      |       CAST(min((nd * 10000) // nt) AS BIGINT) AS ttr_min_bp,
      |       CAST(max((nd * 10000) // nt) AS BIGINT) AS ttr_max_bp
      |FROM s GROUP BY 1""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .select(size(col("toks")).cast("long").as("nt"),
        size(array_distinct(col("toks"))).cast("long").as("nd"))
    s.groupBy(least(expr("nt DIV 64"), lit(7L)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        expr("CAST(sum(nd) * 10000 DIV sum(nt) AS BIGINT)").as("ttr_bp"),
        min(expr("(nd * 10000) DIV nt")).cast("long").as("ttr_min_bp"),
        max(expr("(nd * 10000) DIV nt")).cast("long").as("ttr_max_bp"))
  }

  /** Token-length histogram in width-8 buckets — the sequence-length
    * profile that sizes packing/truncation budgets before training. One
    * map-side pass plus a bucket-keyed aggregation (bucket count is
    * bounded by max document length / 8, so state is tiny at any scale).
    */
  val lengthBuckets: QueryDef = QueryDef.sql(
    "q_length_buckets",
    """WITH m AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents)
      |SELECT CAST(n_tokens // 8 * 8 AS BIGINT) AS bucket_lo,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
      |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
      |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
      |FROM m GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy((floor(col("n_tokens") / 8) * 8).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tot_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Per-source corpus profile — the source-mixing dashboard (docs,
    * token/char volume, language spread per provenance). One keyed
    * aggregation; the distinct-language count is per-source state bounded
    * by the language alphabet.
    */
  val sourceProfile: QueryDef = QueryDef.sql(
    "q_source_profile",
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens,
      |       CAST(sum(n_chars) AS BIGINT) AS tot_chars,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents GROUP BY source""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("tot_tokens"),
        sum(col("n_chars")).as("tot_chars"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** Cumulative token-budget curve — docs ranked by length into 10
    * ntile deciles, with each decile's token volume and the running
    * cumulative share in basis points: "what fraction of corpus tokens
    * live in the longest N% of documents", the truncation-budget
    * planning view. Integer-exact; the running sum is a 10-row window.
    *
    * Scale shape : the Spark side does NOT run
    * `ntile` over the corpus — that is a one-task global sort. Instead it
    * replicates ntile(10) EXACTLY from each row's global rank
    * rn = (#rows with longer n) + (row_number among equal-n rows), where
    * the first term comes from a running sum over the length HISTOGRAM
    * (cardinality ≤ max document token count — corpus-independent) and
    * the second from a window PARTITIONED by length. The rn→bucket map is
    * the closed-form ntile function (first n%10 buckets get ⌈N/10⌉ rows)
    * evaluated map-side. The only single-partition exchanges left ride
    * the histogram and the 10-row decile table, never the corpus. The
    * DuckDB oracle keeps the textbook `ntile` — proving the distributed
    * rank algebra IS ntile.
    */
  val tokenCdf: QueryDef = QueryDef.sql(
    "q_token_cdf",
    """WITH m AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |           FROM documents),
      |r AS (SELECT doc_id, n, ntile(10) OVER (ORDER BY n DESC, doc_id) AS decile FROM m),
      |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
      |             CAST(sum(n) AS BIGINT) AS tokens
      |      FROM r GROUP BY decile),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM d)
      |SELECT CAST(d.decile AS BIGINT) AS decile, d.n_docs, d.tokens,
      |       CAST(floor(sum(d.tokens) OVER (ORDER BY d.decile) * 10000.0 / t.tot) AS BIGINT)
      |         AS cum_bp
      |FROM d, t""".stripMargin) { (spark, dir) =>
    // TOKENIZE ONCE : the histogram
    // branch and the ranked branch exchange DIFFERENT payloads on n, so
    // ReusedExchange can't merge them — instead the 16-byte-per-doc
    // (doc_id, n) frame is materialized once and both branches read it,
    // instead of each re-scanning and re-tokenizing the text corpus
    val m = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
      .localCheckpoint()
    // length histogram: bounded by max token count, never corpus-sized
    val hist = m.groupBy("n").agg(count(lit(1)).as("cnt"))
    val before = hist
      .withColumn("before", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n").as("hn"), col("before"))
    val tot = hist.agg(sum(col("cnt")).as("nrows"))
    // global rank without a global sort: histogram offset + rank within
    // the equal-length group (window partitioned by n)
    val ranked = m
      .join(broadcast(before), col("n") === col("hn"))
      .withColumn("rwithin", row_number().over(
        Window.partitionBy(col("n")).orderBy(col("doc_id").asc)))
      .crossJoin(broadcast(tot))
      .withColumn("rn", col("before") + col("rwithin"))
      // closed-form ntile(10): the first (nrows % 10) buckets take
      // (nrows DIV 10 + 1) rows, the rest (nrows DIV 10); greatest()
      // guards the (unreachable when nrows < 10) zero divisor
      .withColumn("decile", expr(
        """CASE WHEN rn <= (nrows % 10) * (nrows DIV 10 + 1)
          |     THEN (rn - 1) DIV (nrows DIV 10 + 1) + 1
          |     ELSE (nrows % 10)
          |          + (rn - (nrows % 10) * (nrows DIV 10 + 1) - 1)
          |            DIV greatest(nrows DIV 10, 1) + 1
          |END""".stripMargin))
    val d = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
    val t = d.agg(sum(col("tokens")).as("tot"))
    d.crossJoin(broadcast(t))
      .withColumn("cum_bp",
        floor(sum(col("tokens")).over(Window.orderBy(col("decile"))) * 10000.0 / col("tot"))
          .cast("long"))
      .select(col("decile").cast("long").as("decile"), col("n_docs"),
        col("tokens"), col("cum_bp"))
  }

  /** CONDITIONAL BIGRAM ENTROPY — H(next | current) and the marginal
    * H(next) over within-document adjacent token pairs, Q20 fixed
    * point via the `q_char_entropy` per-term ln quantization — at Q30,
    * not Q40: per-term sums scale as N*|ln p|*grid and a Q40 grid
    * would overflow a long near 10^8 bigrams (the q_embed_anisotropy
    * overflow lesson applied at design time). Their
    * difference is the mutual information the previous token carries
    * about the next — the corpus-structure number that separates
    * natural text (low conditional entropy: syntax constrains the next
    * token) from shuffled or templated streams, and the
    * model-free lower-bound companion to the fitted LMs
    * (`q_bigram_lm`, `q_kneser_ney`). SCALE: one bigram-keyed count
    * (vocabulary^2-bounded, Zipf-sparse in practice) + a predecessor
    * rollup; the entropy fold is a sum over the count table, never the
    * corpus.
    */
  val bigramCondEntropy: QueryDef = QueryDef.sql(
    "q_bigram_centropy",
    """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT toks[i] AS a, toks[i + 1] AS b
      |       FROM tk, unnest(range(1, greatest(len(toks), 1))) t(i)),
      |cab AS (SELECT a, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |ca AS (SELECT a, sum(c) AS ca FROM cab GROUP BY 1),
      |cb AS (SELECT b, sum(c) AS cb FROM cab GROUP BY 1),
      |n AS (SELECT sum(c) AS n FROM cab),
      |hc AS (SELECT -sum(cab.c * CAST(floor(ln(CAST(cab.c AS DOUBLE) / CAST(ca.ca AS DOUBLE))
      |                                      * 1073741824.0) AS BIGINT)) AS s
      |       FROM cab JOIN ca ON ca.a = cab.a),
      |hm AS (SELECT -sum(cb.cb * CAST(floor(ln(CAST(cb.cb AS DOUBLE) / CAST(n.n AS DOUBLE))
      |                                     * 1073741824.0) AS BIGINT)) AS s
      |       FROM cb, n)
      |SELECT CAST(n.n AS BIGINT) AS n_bigrams,
      |       CAST((SELECT count(*) FROM cab) AS BIGINT) AS n_types,
      |       CAST(hc.s // n.n // 1024 AS BIGINT) AS h_cond_q20,
      |       CAST(hm.s // n.n // 1024 AS BIGINT) AS h_marginal_q20,
      |       CAST((hm.s // n.n - hc.s // n.n) // 1024 AS BIGINT) AS mi_q20
      |FROM hc, hm, n""".stripMargin) { (spark, dir) =>
    val Q30 = 1073741824.0
    val bg = Tables(spark, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .select(explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS a, toks[i] AS b)) ELSE array() END"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy("a", "b").agg(count(lit(1)).as("c")).localCheckpoint()
    val ca = cab.groupBy("a").agg(sum("c").as("ca"))
    val cb = cab.groupBy("b").agg(sum("c").as("cb"))
    val n = cab.agg(sum("c").as("n"))
    val types = cab.agg(count(lit(1)).as("n_types"))
    val hc = cab.join(ca, "a")
      .agg((-sum(col("c") * floor(log(col("c").cast("double") / col("ca").cast("double"))
        * lit(Q30)).cast("long"))).as("s"))
    val hm = cb.crossJoin(broadcast(n.select(col("n").as("nn"))))
      .agg((-sum(col("cb") * floor(log(col("cb").cast("double") / col("nn").cast("double"))
        * lit(Q30)).cast("long"))).as("s"))
    n.crossJoin(broadcast(types))
      .crossJoin(broadcast(hc.select(col("s").as("sc"))))
      .crossJoin(broadcast(hm.select(col("s").as("sm"))))
      .select(col("n").as("n_bigrams"), col("n_types"),
        expr("sc DIV n DIV 1024").as("h_cond_q20"),
        expr("sm DIV n DIV 1024").as("h_marginal_q20"),
        expr("(sm DIV n - sc DIV n) DIV 1024").as("mi_q20"))
  }

  /** Out-of-vocabulary rate per document against a corpus-derived top-20
    * token vocabulary — the tokenizer-coverage check run before training
    * (a doc full of unknown tokens is noise or the wrong language). The
    * vocabulary is a global top-k (`TakeOrderedAndProject`: per-partition
    * heap, no global sort) and is broadcast against the exploded token
    * table — at production scale the vocab is KB–MB-sized regardless of
    * corpus size, so the coverage pass stays a map-side join plus one
    * keyed aggregation.
    */
  val oovRate: QueryDef = QueryDef.sql(
    "q_oov_rate",
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT tok AS vtok FROM (
      |        SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
      |        ORDER BY cnt DESC, tok LIMIT 20)),
      |j AS (SELECT tk.doc_id, v.vtok FROM tk LEFT JOIN v ON v.vtok = tk.tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(floor(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) * 10000.0
      |                  / count(*)) AS BIGINT) AS oov_bp
      |FROM j GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val tk = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(20)
      .select(col("tok").as("vtok"))
    tk.join(broadcast(vocab), col("vtok") === col("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        floor(col("n_oov") * 10000.0 / col("n_tokens")).cast("long").as("oov_bp"))
  }

  /** Inter-document duplicate-n-gram fraction: for each document, the
    * share of its distinct 5-gram fingerprints that occur in at least one
    * OTHER document — the corpus-level repetition/boilerplate signal
    * (Gopher's "fraction of duplicated n-grams", measured exactly). Two
    * keyed aggregations over the shingle-hash table plus one self-join on
    * the 61-bit hash key; the join co-partitions on `h`, so the heavy
    * side shuffles once and the df table is vocabulary-sized.
    */
  val dupNgramFrac: QueryDef = QueryDef.sql(
    "q_dup_ngram_frac",
    s"""WITH sh AS (SELECT doc_id, unnest(${shinglesSql("string_split(text, ' ')", 5)}) AS s
       |            FROM documents),
       |hs AS (SELECT DISTINCT doc_id, ${polyHashSql("s")} AS h FROM sh),
       |dfh AS (SELECT h, count(*) AS df, min(doc_id) AS owner FROM hs GROUP BY h),
       |uniq AS (SELECT owner AS doc_id, count(*) AS n_uniq FROM dfh WHERE df = 1 GROUP BY owner),
       |tot AS (SELECT doc_id, count(*) AS n_shingles FROM hs GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(t.n_shingles, 0) AS BIGINT) AS n_shingles,
       |       CAST(coalesce(t.n_shingles, 0) - coalesce(u.n_uniq, 0) AS BIGINT) AS n_dup,
       |       CAST(CASE WHEN t.n_shingles IS NULL THEN 0
       |            ELSE floor((t.n_shingles - coalesce(u.n_uniq, 0)) * 10000.0
       |                       / t.n_shingles) END AS BIGINT) AS dup_bp
       |FROM documents d LEFT JOIN tot t ON t.doc_id = d.doc_id
       |     LEFT JOIN uniq u ON u.doc_id = d.doc_id""".stripMargin) { (spark, dir) =>
    // n_dup = n_shingles − (hashes this doc is the SOLE owner of): the df
    // aggregation carries min(doc_id), so singleton hashes flow back to
    // their document as a second aggregation and the final join is
    // DOC-sized, not shingle-sized (the shingle-table self-join loses its
    // broadcast at scale and goes sort-merge — measured slope 1.9 at 10x
    // for the join form vs ~0.5 for this one). The report is anchored on
    // `documents`, not on the shingle table: a doc under 5 tokens emits
    // zero shingles and would otherwise vanish from the output.
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val hs = Dedup.shingleHashTable(Tables(spark, dir, "documents"), "doc_id", "text", 5)
      .distinct()
    val dfh = hs.groupBy("h")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
    val uniq = dfh.filter(col("df") === 1)
      .groupBy(col("owner").as("udoc")).agg(count(lit(1)).as("n_uniq"))
    val tot = hs.groupBy(col("doc_id").as("tdoc")).agg(count(lit(1)).as("n_shingles"))
    docs
      .join(tot, col("tdoc") === col("doc_id"), "left")
      .join(uniq, col("udoc") === col("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        (coalesce(col("n_shingles"), lit(0L)) - coalesce(col("n_uniq"), lit(0L))).as("n_dup"),
        when(col("n_shingles").isNull, 0L)
          .otherwise(floor((col("n_shingles") - coalesce(col("n_uniq"), lit(0L))) * 10000.0
            / col("n_shingles")).cast("long")).as("dup_bp"))
  }

  /** The least-squares line through (ln rank, ln count) of the ranked
    * frequency table `ranked` (rnk, cnt), on the Q20 grid: its size as
    * `n`, the slope, and the intercept in ln units. */
  private def zipfLine(ranked: DataFrame, n: String): DataFrame = {
    val q = ranked.select(floor(log(col("rnk").cast("double")) * Q20).cast("long").as("x"),
      floor(log(col("cnt").cast("double")) * Q20).cast("long").as("y"))
    val s = q.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x").cast("decimal(18,0)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(18,0)")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast("decimal(18,0)")).cast("double").as("sxy"),
      sum((col("x") * col("x")).cast("decimal(18,0)")).cast("double").as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").cast("long").as(n),
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("n") / Q20.toDouble).as("intercept_ln"))
  }

  /** Zipf rank-frequency fit: OLS of ln(freq) on ln(rank) over the token
    * frequency table — slope ≈ −1 is the natural-language signature. The
    * lns are quantized to the 2^20 grid per row (the grid cancels in the
    * slope), per-row products stay inside BIGINT, and the five sums ride
    * DECIMAL casts, so both engines feed identical integers into an
    * identically-ordered double formula. The rank rides the repo's
    * global-dense-rank idiom — a distributed range-sort on the unique
    * total order (cnt DESC, tok) + `zipWithIndex` — NOT an
    * unpartitioned window: the vocabulary table grows with the corpus
    * (Heaps ~N^0.7, and the SNM postmortem measured a prefix-keyed
    * "vocab" table at Θ(docs) under the linear-vocab adversary), so a
    * single-task rank sort is the q_bpe_encode hot spot. The
    * exact ln(rank) floors still see the exact tie order — zipWithIndex
    * indexes the same total order the window would — so the fit is
    * bit-identical to the oracle's row_number form. The fit itself is
    * one scalar aggregation. (`q_zipf_topk` remains the serving-knob
    * variant: a fit on the top-K head only, constant-size by
    * construction.)
    */
  val zipfFit: QueryDef = QueryDef.sql(
    "q_zipf_fit",
    s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM f),
       |q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * $Q20) AS BIGINT) AS x,
       |             CAST(floor(ln(CAST(cnt AS DOUBLE)) * $Q20) AS BIGINT) AS y
       |      FROM r),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |             CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
       |             CAST(sum(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
       |             CAST(sum(CAST(x * y AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
       |             CAST(sum(CAST(x * x AS DECIMAL(18,0))) AS DOUBLE) AS sxx
       |      FROM q)
       |SELECT CAST(n AS BIGINT) AS n_vocab,
       |       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       |       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / $Q20.0
       |         AS intercept_ln
       |FROM s""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val f = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // global dense rank over the unique total order (cnt DESC, tok):
    // range-sort + per-partition offsets (PrefixSum.globalRowNumber —
    // InternalRow end to end, no per-row Row encode/decode)
    zipfLine(graft.operators.PrefixSum.globalRowNumber(
        f.select(col("cnt"), col("tok")),
        Seq(col("cnt").desc, col("tok").asc), "rnk"), "n_vocab")
  }

  /** The Zipf fit's head-only serving variant (written as
    * the scale path while `q_zipf_fit` still ranked through a global
    * window; the full fit now ranks via range-sort + zipWithIndex, so
    * BOTH forms scale — this one stays because a top-K fit is the
    * practitioner's knob): the
    * fit runs on the TOP-K frequency table instead of the full
    * vocabulary. Top-K by (cnt desc, tok) is a distributed
    * TakeOrderedAndProject — no single-task vocabulary window — and
    * because those K rows hold exactly the global ranks 1..K, the rank
    * window that follows runs over a PROVABLY K-bounded input (the
    * registry window gate classifies it `limit`). The head of the
    * rank-frequency curve is where a Zipf slope is actually estimated
    * in practice (the tail's ties at cnt=1,2 carry no slope signal and
    * distort OLS); the oracle keeps the textbook global row_number with
    * `rnk <= K`, proving top-K-then-rank ≡ rank-then-filter.
    */
  val zipfTopk: QueryDef = {
    val K = 512
    QueryDef.sql(
      "q_zipf_topk",
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
         |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM f),
         |q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * $Q20) AS BIGINT) AS x,
         |             CAST(floor(ln(CAST(cnt AS DOUBLE)) * $Q20) AS BIGINT) AS y
         |      FROM r WHERE rnk <= $K),
         |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |             CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         |             CAST(sum(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sy,
         |             CAST(sum(CAST(x * y AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
         |             CAST(sum(CAST(x * x AS DECIMAL(18,0))) AS DOUBLE) AS sxx
         |      FROM q)
         |SELECT CAST(n AS BIGINT) AS n_fit,
         |       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / $Q20.0
         |         AS intercept_ln
         |FROM s""".stripMargin) { (spark, dir) =>
      val f = Tables(spark, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(K) // distributed top-K: TakeOrderedAndProject, no window
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("tok").asc)
      zipfLine(f.withColumn("rnk", row_number().over(w)), "n_fit") // K-bounded input
    }
  }

  /** Vocabulary growth curve (Heaps-law dashboard) — the corpus split
    * into 10 id-ordered slices, each reporting its token volume, the
    * number of NEVER-SEEN-BEFORE token types it introduces, and the
    * cumulative vocabulary. Sub-linear growth is healthy natural text;
    * a late slice that mints types linearly is machine noise or an
    * encoding break. "First slice that contains each type" is one
    * min-aggregate over the token table — corpus-linear, no ordering
    * pass; the cumulative sum rides the 10-row result.
    */
  val vocabGrowth: QueryDef = QueryDef.sql(
    "q_vocab_growth",
    """WITH b AS (SELECT CAST(least(9, doc_id * 10 // (SELECT max(doc_id) + 1 FROM documents))
      |                       AS BIGINT) AS bucket,
      |                  string_split(text, ' ') AS toks
      |           FROM documents),
      |tk AS (SELECT bucket, unnest(toks) AS tok FROM b),
      |vol AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY bucket),
      |fs AS (SELECT tok, min(bucket) AS first_bucket FROM tk GROUP BY tok),
      |nt AS (SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS new_types
      |       FROM fs GROUP BY first_bucket)
      |SELECT v.bucket, v.n_tokens,
      |       CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types,
      |       CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY v.bucket) AS BIGINT)
      |         AS cum_vocab
      |FROM vol v LEFT JOIN nt ON nt.bucket = v.bucket""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    val tk = docs.crossJoin(broadcast(maxId))
      .select(expr("least(9, doc_id * 10 DIV (mx + 1))").cast("long").as("bucket"),
        explode(tokens(col("text"))).as("tok"))
    val vol = tk.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val nt = tk.groupBy("tok").agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket").as("nbucket"))
      .agg(count(lit(1)).as("new_types"))
    vol.join(nt, col("nbucket") === col("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_vocab",
        sum(col("new_types")).over(Window.orderBy(col("bucket"))))
  }

  /** Distinct-n-gram diversity per source (the "distinct-n" metric):
    * unique/total ratios for 1/2/3-grams, scaled ×1000. A source full
    * of templated or looping text shows a collapsed distinct-2/3 ratio
    * long before exact dedup finds anything — the cheap first look at
    * generation-degeneracy or boilerplate in an incoming feed.
    *
    * SCALE: n-gram emission is map-side (`concat_ws` over a slice —
    * no intermediate array per position); the per-source
    * distinct+total aggregate is (source × distinct-n-gram)-bounded.
    */
  val distinctNgrams: QueryDef = {
    def duckGrams(n: Int): String =
      if (n == 1) "unnest(toks)"
      else s"unnest(list_transform(range(1, len(toks) - ${n - 2}), " +
        s"i -> array_to_string(toks[i:i + ${n - 1}], ' ')))"
    QueryDef.sql(
      "q_distinct_ngrams",
      s"""WITH tk AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
         |${(1 to 3).map(n =>
          s"""g$n AS (SELECT source, count(DISTINCT g) AS d$n, count(*) AS t$n
             |        FROM (SELECT source, ${duckGrams(n)} AS g FROM tk
             |              WHERE len(toks) >= $n) GROUP BY source)""".stripMargin)
          .mkString(",\n")}
         |SELECT g1.source,
         |${(1 to 3).map(n =>
          s"""       CAST(d$n AS BIGINT) AS d$n, CAST(t$n AS BIGINT) AS t$n,
             |       CAST((d$n * 1000) // t$n AS BIGINT) AS r${n}_x1000""".stripMargin)
          .mkString(",\n")}
         |FROM g1 JOIN g2 USING (source) JOIN g3 USING (source)""".stripMargin) {
      (spark, dir) =>
        // three gram sizes each replay the scan+tokenize otherwise —
        // one materialized token frame feeds all three aggregates
        // (durability: lineage-severed, non-replicated)
        val tk = Tables(spark, dir, "documents")
          .select(col("source"), tokens(col("text")).as("toks"))
          .localCheckpoint()
        def grams(n: Int) = {
          val g = if (n == 1) explode(col("toks"))
            else explode(expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
              s"i -> concat_ws(' ', slice(toks, i, $n)))"))
          tk.filter(size(col("toks")) >= n).select(col("source"), g.as("g"))
            .groupBy("source")
            .agg(countDistinct("g").as(s"d$n"), count(lit(1)).as(s"t$n"))
        }
        grams(1).join(grams(2), "source").join(grams(3), "source")
          .select(col("source") +: (1 to 3).flatMap(n => Seq(
            col(s"d$n"), col(s"t$n"),
            expr(s"d$n * 1000 DIV t$n").as(s"r${n}_x1000"))): _*)
    }
  }

  val all: Seq[QueryDef] = Seq(
    fingerprint, tokenStats, docFreq, repetition, keywords, bigramLm, bigramPpl, corpusStats,
    charEntropy, stopwordDerive, trigramTop, cooccurPmi, kneserNey, ttrCurve, lengthBuckets,
    sourceProfile, tokenCdf, bigramCondEntropy, oovRate, dupNgramFrac, zipfFit, zipfTopk,
    vocabGrowth, distinctNgrams)
}
