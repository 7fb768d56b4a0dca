package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._

/** Tokenizers and packing: BPE pair counts, merge learning and encoding
  * (in session and from persisted artifacts), fertility by language,
  * sequence packing over whitespace and BPE ids, packing waste, token
  * windows and vocabulary coverage.
  *
  * `q_seq_pack_bpe` packs the learned-id stream into fixed context-length
  * blocks with document-boundary bookkeeping, the shape pretraining data
  * ships in (cf. the reference's word-boundary chunker,
  * load-texts.c:37-105: fixed-size windows over a concatenated token
  * stream). The oracle replays BPE learning as a recursive CTE, one row
  * per merge round.
  */
object TokenizerQueries {

  /** Sliding token windows (size 16, stride 8) with a polynomial
    * fingerprint per window — how long documents become fixed-length
    * training samples, and the unit for window-level dedup/decontam
    * (the fingerprint is the join key). MAP-ONLY: windows are built
    * per row from the token array (`transform(sequence(...))` +
    * `slice`), nothing shuffles; the last window is short rather than
    * padded, both engines clip slices identically.
    */
  val tokenWindows: QueryDef = QueryDef.sql(
    "q_token_windows", {
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, w, toks[w*8+1 : w*8+16] AS win
         |      FROM tk, unnest(range(0, (len(toks) + 7) // 8)) t(w))
         |SELECT doc_id, CAST(w AS BIGINT) AS win_idx,
         |       CAST(w*8 AS BIGINT) AS start_tok,
         |       CAST(len(win) AS BIGINT) AS n_tok,
         |       ${polyHashSql("array_to_string(win, ' ')")} AS fp
         |FROM w""".stripMargin
    }) { (spark, dir) =>
    // tokens() materialized once per row — slice inside the lambda would
    // otherwise re-tokenize per window (O(L^2/8) in document length)
    val toks = col("toks")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(transform(
        // windows w = 0 .. floor((n-1)/8)  (== ceil(n/8)-1; n >= 1 always)
        sequence(lit(0), ((size(toks) - 1) / lit(8)).cast("int")),
        w => struct(w.cast("long").as("win_idx"),
          (w * 8).cast("long").as("start_tok"),
          slice(toks, w * 8 + 1, lit(16)).as("win")))).as("x"))
      .select(col("doc_id"), col("x.win_idx").as("win_idx"),
        col("x.start_tok").as("start_tok"),
        size(col("x.win")).cast("long").as("n_tok"),
        polyHash(array_join(col("x.win"), " ")).as("fp"))
  }

  /** BPE merge induction, step one: the corpus-wide adjacent character-
    * pair frequencies inside tokens — the statistic a byte-pair-encoding
    * tokenizer trainer maximizes at every merge step. Top-20 planned as
    * `TakeOrderedAndProject` (per-partition heap, never a global sort).
    * The char split is materialized once per token BEFORE the pair
    * lambda (subexpression elimination does not cross lambda boundaries
    * — the `q_trigram_top` lesson, 3.5-5x).
    */
  val bpePairs: QueryDef = QueryDef.sql(
    "q_bpe_pairs",
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |ch AS (SELECT string_split(tok, '') AS cs FROM tk),
      |pr AS (SELECT cs[i] || cs[i + 1] AS pair
      |       FROM ch, UNNEST(range(1, len(cs))) t(i))
      |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
      |FROM pr GROUP BY pair
      |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (spark, dir) =>
    val cs = col("cs")
    Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .select(split(col("tok"), "").as("cs"))
      .filter(size(cs) >= 2)
      .select(explode(transform(sequence(lit(1), size(cs) - 1),
        i => concat(element_at(cs, i), element_at(cs, i + 1)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  /** BPE MERGE LEARNING — five rounds of the byte-pair-encoding
    * training loop at token granularity (the tokenizer-training core a
    * data pipeline runs over its own corpus): per round, count adjacent
    * token pairs corpus-wide, pick the most frequent (ties: count DESC,
    * then lexicographic — fully deterministic), and APPLY the merge
    * with the greedy LEFT-TO-RIGHT non-overlapping semantics of real
    * BPE ("a a a" under merge (a,a) yields ["a a", "a"], not two
    * overlapping merges — the parity trap). The apply step is a strict
    * sequential fold in BOTH engines (Spark `aggregate` HOF / DuckDB
    * `list_reduce` over single-element lists), so overlap resolution is
    * identical by construction. Output per round: the learned merge,
    * its pre-merge pair count, and the corpus token count after
    * application (n_pair ≥ tokens removed, strictly, whenever overlaps
    * occurred). Pure string/count arithmetic — no doubles anywhere.
    *
    * SCALE: each round is one corpus-shaped pair-count shuffle
    * (map-side combine) whose single collect returns the top-2 pairs
    * plus a fusion guard, and a map-only fold apply; see
    * [[learnBpeMerges]] for the round-fusion and cache discipline
    * (at most two generations live, MEMORY_AND_DISK_SER) that keep
    * the loop's storage footprint corpus-bounded instead of
    * iters x corpus. The fold itself rebuilds a per-document list
    * (cost bounded by DOCUMENT length, never corpus size) —
    * corpus-linear per round.
    */
  /** The unrolled DuckDB training rounds behind the BPE oracles:
    * CTEs p1,b1,t1 .. p_iters,b_iters,t_iters over a base CTE named
    * t0(doc_id, toks). Strictly sequential — one merge learned and
    * applied per round — so a bug in the Spark side's round-fusion
    * guard surfaces as a correctness failure, never silent drift.
    * Shared by `q_bpe_learn` (the trajectory) and `q_bpe_encode`
    * (which consumes the final generation t_iters).
    */
  private def bpeRoundCtes(iters: Int): String = {
    def pairCte(i: Int) =
      s"""p$i AS (SELECT toks[pos] AS l, toks[pos + 1] AS r, count(*) AS cnt
         |        FROM t${i - 1}, unnest(range(1, len(toks))) u(pos)
         |        GROUP BY 1, 2)""".stripMargin
    def bestCte(i: Int) =
      s"b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)"
    def applyCte(i: Int) =
      s"""t$i AS (SELECT doc_id, list_reduce(
         |          list_prepend(CAST([] AS VARCHAR[]), list_transform(toks, t -> [t])),
         |          (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = b$i.l
         |                                AND x[1] = b$i.r
         |                      THEN acc[1:len(acc)-1] || [acc[len(acc)] || ' ' || x[1]]
         |                      ELSE acc || x END) AS toks
         |       FROM t${i - 1}, b$i)""".stripMargin
    (1 to iters).map(i =>
      s"${pairCte(i)},\n${bestCte(i)},\n${applyCte(i)}").mkString(",\n")
  }

  private val BpeIters = 5

  /** TRAIN-ONCE memo for the learned merge table (the same retraining
    * pattern as the quality triad's): the
    * merge trajectory is a pure function of (corpus dir, iters), and
    * three queries consume it (`q_bpe_learn`, `q_bpe_encode`,
    * `q_seq_pack_bpe`) — without the memo each reruns the sequential
    * driver loop (~2 jobs/round). First consumer trains; the rest read
    * the driver-local rows. Cold sessions still train from scratch and
    * the oracle replays the full recursion regardless; fixture dirs are
    * immutable (the [[graft.queries.QualityQueries]] memo contract).
    */
  private val mergeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Long, String, String, Long, Long)]]()

  /** The distributed merge-learning loop behind [[bpeLearn]], factored
    * over an explicit `(doc_id, toks)` frame so specs can drive it with
    * adversarial corpora. Per round: ONE corpus-shaped pair-count job
    * whose single collect returns the top-2 pairs PLUS a fusion guard
    * (one pair-count Exchange feeds all three consumers via
    * ReusedExchange), then a map-only greedy fold apply.
    *
    * ROUND FUSION : two merges
    * apply in ONE pass when provably sequential-equivalent from round
    * i's count table alone. With M = "l1 r1", the only pairs whose
    * recounted frequency can RISE after merge 1 are the NEW pairs
    * involving M, and each such count is bounded by an EXISTING
    * adjacency count from the same table — #(x,M) <= cnt(x,l1),
    * #(M,y) <= cnt(r1,y), #(M,M) <= cnt(r1,l1). Every other pair's
    * count is non-increasing, and pair 2's is EXACTLY unchanged when
    * it shares no token with pair 1 (merging cannot create or destroy
    * an adjacency of two tokens outside {l1,r1}). So if (a) pair 2 is
    * token-disjoint from pair 1, (b) no existing pair already involves
    * a token equal to the string M (its old count would ADD to a new
    * pair's), and (c) cnt2 STRICTLY exceeds every adjacency count that
    * can feed a new pair, then pair 2 is the round-(i+1) argmax under
    * (count DESC, l, r) and fusing is exact. Anything else falls back
    * to one merge per pass. The guard is conservative — it can only
    * forgo a legal fusion, never admit an illegal one — and the DuckDB
    * oracle stays STRICTLY sequential, so a guard bug surfaces as a
    * correctness failure, not silent drift.
    *
    * RECOMPUTE, DON'T CACHE: round k's frame is rebuilt from the SCAN as
    * one projection of k-1 nested fold kernels, never persisted. A
    * sliding two-generation MEMORY_AND_DISK_SER window was measured by
    * controlled stage probes at the third decade: ONE columnar cache fill of the token
    * frame at 35.5 s / 5M docs vs 0.7 s / 500k — slope 5.07, while the
    * pair-count aggregate it was saving scales at 0.61 (6.4 s at 5M,
    * strings vs packed-long keys indistinguishable). Recomputing every
    * generation from parquet costs k map-only codegen passes — bounded
    * by iters, each cheaper than one cache fill — and holds ZERO bytes
    * in the block manager, which is also the only posture that survives
    * a 100-TB corpus (nothing corpus-sized is ever resident). The whole
    * learn loop probes at slope 0.69 this way (2.49 cached).
    *
    * ITERS BOUND: rebuilding round k from the scan re-folds all k-1
    * prior merges, so total training work is Θ(iters²·corpus) map
    * passes and the rebuilt projection nests iters kernels deep. Both
    * are the RIGHT trade at vocabulary-probe scale (iters ≲ ~64; the
    * measured cache-fill alternative costs 5.5x per round), but this
    * loop is NOT the tool for production-size merge tables: at
    * thousands of merges the quadratic term dominates and the nested
    * chain risks JVM/codegen method-size limits — that regime needs a
    * periodic checkpoint cadence (persist every K rounds, the exact
    * arithmetic the ledger rule would re-run at that scale) which this
    * engine deliberately doesn't carry until a consumer needs it.
    *
    * nt ACCOUNTING across rebuilds: round k's post-merge token count is
    * observed by the first job that scans a frame containing fold k —
    * i.e. round k+1's pair-count job (or the closing count() for the
    * last round). Each rebuilt frame carries observe nodes ONLY for the
    * merges added by the previous round, so no observation is ever
    * re-fired by later rebuilds.
    */
  def learnBpeMerges(spark: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame, iters: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val merges = collection.mutable.Buffer.empty[(Long, String, String, Long)]
    val ntOf = collection.mutable.Map.empty[Int, () => Long]
    // merges whose nt observation has already been WIRED into a frame
    // (the next job to scan that frame fires it) — rebuilt frames fold
    // these as plain nested kernels with no observe
    var wired = Vector.empty[(String, String)]
    def folded(ms: Seq[(String, String)]): org.apache.spark.sql.Column =
      ms.foldLeft(col("toks")) { case (c, (l, r)) =>
        graft.functions.HashExpressions.bpeMergeFast(c, l, r)
      }
    var toks = base
    var iter = 1
    while (iter <= iters) {
      val pc = toks.filter(size(col("toks")) >= 2)
        .select(col("toks"), explode(sequence(lit(1), size(col("toks")) - 1)).as("pos"))
        .select(element_at(col("toks"), col("pos")).as("l"),
          element_at(col("toks"), col("pos") + 1).as("r"))
        .groupBy("l", "r").agg(count(lit(1)).as("cnt"))
      val top2 = pc.orderBy(col("cnt").desc, col("l"), col("r")).limit(2)
        .select(lit("top").as("tag"), col("l"), col("r"), col("cnt"),
          lit(0L).as("bound"), lit(0L).as("mcnt"))
      val t1 = pc.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .select(col("l").as("tl"), col("r").as("tr"))
      val mTok = concat_ws(" ", col("tl"), col("tr"))
      val adj = col("r") === col("tl") || col("l") === col("tr")
      val mHit = col("l") === mTok || col("r") === mTok
      val guard = pc.join(broadcast(t1), adj || mHit)
        .agg(coalesce(max(when(adj, col("cnt"))), lit(0L)).as("bound"),
          count(when(mHit, lit(1))).as("mcnt"))
        .select(lit("guard").as("tag"), lit("").as("l"), lit("").as("r"),
          lit(0L).as("cnt"), col("bound"), col("mcnt"))
      // ONE job: top-2 + guard (and round k-1's nt observation fires
      // here — this is the first job to scan the frame carrying it)
      val rows = top2.unionByName(guard).collect()
      val tops = rows.filter(_.getString(0) == "top")
        .sortBy(r => (-r.getLong(3), r.getString(1), r.getString(2)))
      // a corpus can run out of adjacent pairs before the last round
      // (single-token documents only) — stop learning, report the
      // rounds that exist
      if (tops.isEmpty) { iter = iters + 1 } else {
        val g = rows.find(_.getString(0) == "guard").get
        val (bound, mcnt) = (g.getLong(4), g.getLong(5))
        val (l1, r1, cnt1) = (tops(0).getString(1), tops(0).getString(2), tops(0).getLong(3))
        val second = tops.lift(1)
        val fuse = iter < iters && mcnt == 0L && second.exists { s =>
          val (l2, r2) = (s.getString(1), s.getString(2))
          l2 != l1 && l2 != r1 && r2 != l1 && r2 != r1 && s.getLong(3) > bound
        }
        merges += ((iter.toLong, l1, r1, cnt1))
        // REBUILD the frame from the scan: all previously-observed
        // merges as one nested-kernel projection (collapsible, computed
        // once per row), then this round's merge(s) with fresh observe
        // nodes — no persist, nothing corpus-sized resident anywhere
        val prior = base.select(col("doc_id"), folded(wired).as("toks"))
        if (!fuse) {
          val o = new org.apache.spark.sql.Observation(s"bpe_nt_$iter")
          toks = prior
            .withColumn("toks", graft.functions.HashExpressions.bpeMergeFast(col("toks"), l1, r1))
            .observe(o, sum(size(col("toks"))).cast("long").as("nt"))
          ntOf(iter) = () => o.get("nt").asInstanceOf[Long]
          wired = wired :+ ((l1, r1))
          iter += 1
        } else {
          val s = second.get
          val (l2, r2, cnt2) = (s.getString(1), s.getString(2), s.getLong(3))
          merges += (((iter + 1).toLong, l2, r2, cnt2))
          val o = new org.apache.spark.sql.Observation(s"bpe_nt_${iter}_${iter + 1}")
          // two selects, NOT one: toks1 is referenced twice (observed and
          // folded again), which blocks CollapseProject from inlining the
          // first fold into the second — each fold runs once per row
          toks = prior
            .select(col("doc_id"), graft.functions.HashExpressions.bpeMergeFast(col("toks"), l1, r1).as("toks1"))
            .select(col("doc_id"), col("toks1"),
              graft.functions.HashExpressions.bpeMergeFast(col("toks1"), l2, r2).as("toks"))
            .observe(o, sum(size(col("toks1"))).cast("long").as("nt1"),
              sum(size(col("toks"))).cast("long").as("nt2"))
            .select(col("doc_id"), col("toks"))
          ntOf(iter) = () => o.get("nt1").asInstanceOf[Long]
          ntOf(iter + 1) = () => o.get("nt2").asInstanceOf[Long]
          wired = wired ++ Seq((l1, r1), (l2, r2))
          iter += 2
        }
      }
    }
    // fire the final frame's observation (nothing scans it otherwise)
    toks.count()
    val out = merges.map { case (i, l, r, cnt) => (i, l, r, cnt, ntOf(i.toInt)()) }
    out.toSeq.toDF("iter", "merge_l", "merge_r", "n_pair", "n_tokens")
  }

  private[queries] def learnedMergeRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int): Seq[(Long, String, String, Long, Long)] =
    mergeCache.computeIfAbsent((dir, iters), _ =>
      learnBpeMerges(spark,
        Tables(spark, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks")), iters)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSeq)

  /** TOKENIZER FERTILITY BY LANGUAGE — tokens-per-word after applying
    * the learned merge table, per language (Q20 grid). Fertility is
    * the standard tokenizer-eval metric: a tokenizer trained on a
    * skewed mix over-fragments the under-represented languages, and
    * this table is where that shows up. (This engine's BPE merges
    * whitespace words UPWARD into super-word tokens, so fertility_q
    * sits at or below 2^20 — same metric, compression direction; a
    * sub-word BPE reads above it.) Training is the memoized merge
    * loop; the apply is ONE map-side fold pass and the only exchange
    * carries |languages| rows.
    */
  val bpeFertility: QueryDef = {
    val iters = BpeIters
    QueryDef.sql(
      "q_bpe_fertility",
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |${bpeRoundCtes(iters)},
         |w AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_words,
         |             CAST(sum(len(t.toks)) AS BIGINT) AS n_tok
         |      FROM t$iters t JOIN documents d USING (doc_id)
         |      GROUP BY d.lang)
         |SELECT lang, n_docs, n_words, n_tok,
         |       n_tok * $Q20 // n_words AS fertility_q
         |FROM w""".stripMargin) { (spark, dir) =>
      val merges = learnedMergeRows(spark, dir, iters)
        .map { case (_, l, r, _, _) => (l, r) }
      Tables(spark, dir, "documents")
        .select(col("lang"),
          size(tokens(col("text"))).cast("long").as("n_words"),
          size(merges.foldLeft(tokens(col("text"))) { case (c, (l, r)) =>
            graft.functions.HashExpressions.bpeMergeFast(c, l, r)
          }).cast("long").as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("n_words"),
          sum("n_tok").cast("long").as("n_tok"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tok"),
          expr(s"n_tok * $Q20 DIV n_words").as("fertility_q"))
    }
  }

  /** Context-window packing waste — the padding-overhead report that
    * motivates sequence packing: each document occupies
    * ⌈tokens/512⌉ training sequences (one doc per sequence, padded),
    * and the per-source waste is what a packer would reclaim. Integral
    * DIV throughout; map-only measure + one source-sized aggregate.
    */
  val packingWaste: QueryDef = QueryDef.sql(
    "q_packing_waste",
    """WITH m AS (SELECT source,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |                  CAST((len(string_split(text, ' ')) + 511) // 512 AS BIGINT) AS seqs
      |           FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n) AS BIGINT) AS tot_tokens,
      |       CAST(sum(seqs) AS BIGINT) AS n_seqs,
      |       CAST(sum(seqs) * 512 - sum(n) AS BIGINT) AS pad_tokens,
      |       CAST(floor((sum(seqs) * 512 - sum(n)) * 10000.0 / (sum(seqs) * 512))
      |            AS BIGINT) AS pad_bp
      |FROM m GROUP BY source""".stripMargin) { (spark, dir) =>
    val n = size(tokens(col("text"))).cast("long")
    Tables(spark, dir, "documents")
      .select(col("source"), n.as("n"))
      .select(col("source"), col("n"), expr("(n + 511) DIV 512").as("seqs"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tot_tokens"),
        sum(col("seqs")).as("n_seqs"))
      .select(col("source"), col("n_docs"), col("tot_tokens"), col("n_seqs"),
        (col("n_seqs") * 512 - col("tot_tokens")).as("pad_tokens"),
        floor((col("n_seqs") * 512 - col("tot_tokens")) * 10000.0
          / (col("n_seqs") * 512)).cast("long").as("pad_bp"))
  }

  /** Top-k vocabulary coverage — the tokenizer-sizing curve: the 20 most
    * frequent tokens with each rank's cumulative share of ALL token
    * occurrences in basis points ("how much of the corpus do k vocab
    * entries buy"). The top-k is a heap merge (`TakeOrderedAndProject`,
    * never a global sort); the cumulative window rides the 20-row
    * result; the denominator is one broadcast scalar.
    *
    * TOKENIZE ONCE : the denominator
    * is Σcnt over the per-token count table, NOT a second count over
    * the raw token stream — both consumers hang off the SAME
    * `groupBy(tok)` aggregation, so the corpus-sized scan+tokenize+
    * partial-agg map side runs once and the second consumer reads the
    * vocab-sized shuffle output through a ReusedExchange (gated in
    * PlanShapeSpec). The old shape scanned and tokenized the corpus
    * twice — a 2x constant at every scale.
    */
  val vocabCoverage: QueryDef = QueryDef.sql(
    "q_vocab_coverage",
    """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY tok),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c),
      |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20)
      |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk,
      |       tok, cnt,
      |       CAST(floor(sum(cnt) OVER (ORDER BY cnt DESC, tok) * 10000.0 / t.tot)
      |            AS BIGINT) AS cum_bp
      |FROM top, t""".stripMargin) { (spark, dir) =>
    val counts = Tables(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val t = counts.agg(sum(col("cnt")).as("tot"))
    val top = counts.orderBy(col("cnt").desc, col("tok").asc).limit(20)
    val w = Window.orderBy(col("cnt").desc, col("tok").asc)
    top.crossJoin(broadcast(t))
      .select(row_number().over(w).cast("long").as("rnk"), col("tok"), col("cnt"),
        floor(sum(col("cnt")).over(w) * 10000.0 / col("tot")).cast("long").as("cum_bp"))
  }

  /** Sequence packing (concat-and-chunk): documents are laid out as a
    * contiguous token stream per shard (= lang here) in deterministic
    * doc_id order; bin = the 512-token block where each document STARTS.
    * This is the pretraining packing op. The running total rides
    * [[graft.operators.PrefixSum]] rather than a
    * per-lang window: shards pack independently either way, but a
    * lang-partitioned window caps parallelism at #languages — one task
    * owns a whole language's stream, a silent ceiling at corpus scale
    * that the linear slope gates cannot see. The segmented two-pass
    * scan keeps the identical left-to-right sums (same unique
    * (lang, doc_id) order) at full partition parallelism.
    */
  val seqPack: QueryDef = QueryDef.sql(
    "q_seq_pack",
    """WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
      |c AS (SELECT lang, doc_id, n_tok,
      |             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM t)
      |SELECT lang, doc_id, n_tok, CAST((cum - n_tok) // 512 AS BIGINT) AS bin FROM c""".stripMargin) { (spark, dir) =>
    val t = Tables(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok"))
    graft.operators.PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum")
      .select(col("lang"), col("doc_id"), col("n_tok"),
        expr("(cum - n_tok) div 512").as("bin"))
  }

  /** BPE-ish pre-tokenizer regex (GPT-2 shape: contractions, then
    * space-prefixed letter runs, digit runs, punctuation runs, residual
    * whitespace). Restricted to ASCII classes and no lookaheads so Java
    * regex (Spark) and RE2 (DuckDB) match identically — both engines
    * use leftmost-first alternation.
    */
  private val BpePat =
    "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  private val BpeSqlPat = BpePat.replace("'", "''") // SQL-literal quoting

  /** Token counting the way a training pipeline budgets documents:
    * whitespace tokens (the cheap estimate) beside a BPE-style
    * pre-tokenizer count, plus chars-per-token — the compression-ratio
    * proxy used for quality filtering. Map-only; both counts are pure
    * regex algebra the oracle replays exactly.
    */
  val bpeTokens: QueryDef = QueryDef.sql(
    "q_bpe_tokens",
    s"""SELECT doc_id,
       |       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws,
       |       CAST(len(regexp_extract_all(text, '$BpeSqlPat')) AS BIGINT) AS n_bpe,
       |       CAST(length(text) AS DOUBLE)
       |         / greatest(len(regexp_extract_all(text, '$BpeSqlPat')), 1) AS chars_per_tok
       |FROM documents""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("text"), lit(BpePat), lit(0))).cast("long").as("n_bpe"),
        (length(col("text")).cast("double") /
          greatest(size(regexp_extract_all(col("text"), lit(BpePat), lit(0))), lit(1)))
          .as("chars_per_tok"))
  }

  /** See [[graft.queries.QualityQueries.clearSessionMemo]]. */
  private[graft] def clearSessionMemo(): Unit = mergeCache.clear()

  val bpeLearn: QueryDef = {
    val iters = BpeIters
    val rounds = bpeRoundCtes(iters)
    val unions = (1 to iters).map(i =>
      s"""SELECT $i AS iter, l AS merge_l, r AS merge_r, cnt,
         |       (SELECT sum(len(toks)) FROM t$i) AS nt FROM b$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    QueryDef.sql(
      "q_bpe_learn",
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |$rounds
         |SELECT CAST(iter AS BIGINT) AS iter, merge_l, merge_r,
         |       CAST(cnt AS BIGINT) AS n_pair, CAST(nt AS BIGINT) AS n_tokens
         |FROM ($unions)""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      learnedMergeRows(spark, dir, iters)
        .toDF("iter", "merge_l", "merge_r", "n_pair", "n_tokens")
    }
  }

  /** BPE ENCODE — the inference half of the tokenizer-training pair
    * (the train→infer story): learn the
    * merge table ([[learnBpeMerges]], same loop as `q_bpe_learn`), then
    * encode the corpus with it and emit per-doc token ids. The merges
    * are KNOWN once learned, so the apply step is ONE map-side pass
    * chaining all `bpeMergeFast` kernels (greedy left-to-right
    * non-overlapping per merge, in learned order) — not one pass per
    * merge. Ids come from the encoded corpus's own vocabulary, ranked
    * lexicographically (deterministic in both engines); the id
    * sequence is pinned exactly by an order-weighted checksum
    * (Σ pos·id) next to Σ id and the count — stronger than comparing
    * arrays, with none of the list-compare fragility. chars_per_tok_q
    * is the Q20 chars-per-token after encoding, the post-merge
    * counterpart of `q_bpe_tokens`' regex estimate (merges only grow
    * it: tokens shrink in count, never in covered chars).
    *
    * SCALE: training as `q_bpe_learn`; encoding adds one map-only fold
    * pass, a vocabulary rank, one token→id join, and one doc-keyed
    * aggregate. Two shapes here were measured super-linear at the
    * third decade (x100→x1000 slope 1.31) in their first form and
    * rewritten:
    * - the rank was `row_number` over an UNPARTITIONED window — every
    *   distinct token sorted on ONE task (fine at Zipf vocabularies,
    *   a serial corpus-scale sort under the adversarial linear-vocab
    *   replica). Now: total-order sort + `zipWithIndex` — the global
    *   contiguous rank computed with distributed range-sort and a
    *   per-partition offset pass, identical ids by construction.
    * - the token→id join carried no strategy hint, so it planned as a
    *   sort-merge join — the exploded corpus sorted BY TOKEN STRING.
    *   Now an explicit BROADCAST of the vocab side: a post-merge
    *   vocabulary is tokenizer-sized (thousands to ~1M entries) in any
    *   corpus a tokenizer is FOR, so the token→id map rides the task
    *   closure and the exploded corpus never shuffles for the join at
    *   all; the per-doc aggregate then partial-aggregates inside the
    *   scan partitions (docs are contiguous), so the only exchange in
    *   the whole tail is doc-keyed — Θ(docs), not Θ(tokens). (A
    *   shuffle_hash form was measured first: it avoids the sort but
    *   still pays two token-scale exchanges — join shuffle + the
    *   doc_id partials scattered by it.)
    * - the doc char count rides the encode projection as a
    *   column and comes out of the per-doc aggregate as `max(nc)` —
    *   there is NO second join against the documents scan. The earlier
    *   form joined the aggregate back to a narrow docs projection with
    *   no hint, so its "one doc-keyed exchange" claim silently leaned
    *   on auto-broadcast firing over a Θ(docs) side — config-sensitive
    *   at sf and plain wrong at scale (the ADVICE finding).
    */
  val bpeEncode: QueryDef = QueryDef.sql(
    "q_bpe_encode",
    s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |${bpeRoundCtes(BpeIters)},
       |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS id
       |      FROM (SELECT DISTINCT unnest(toks) AS tok FROM t$BpeIters)),
       |e AS (SELECT doc_id, pos, toks[pos] AS tok
       |      FROM t$BpeIters, unnest(range(1, len(toks) + 1)) u(pos)),
       |j AS (SELECT e.doc_id, e.pos, v.id FROM e JOIN v USING (tok)),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |               CAST(sum(id) AS BIGINT) AS id_sum,
       |               CAST(sum(pos * id) AS BIGINT) AS id_posw
       |        FROM j GROUP BY doc_id)
       |SELECT a.doc_id, a.n_tok, a.id_sum, a.id_posw,
       |       CAST(length(d.text) AS BIGINT) * 1048576 // a.n_tok AS chars_per_tok_q
       |FROM agg a JOIN documents d USING (doc_id)""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val merges = learnedMergeRows(spark, dir, BpeIters)
      .map { case (_, l, r, _, _) => (l, r) }
    // one map pass: chain the learned merges in order inside the scan.
    // Deliberately NOT cached/checkpointed: enc is a pure codegen map
    // over the scan, and its consumers (vocab rank + the id join side)
    // recompute it rather than pin a corpus-sized block set in the
    // block manager — the same measured trade as the training loop's
    // recompute discipline (one columnar cache FILL of the token frame
    // costs 5.5x the map pass it saves at the 15 GB replica, slope
    // 5.07 across the decade; see learnBpeMerges)
    val enc = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("nc"),
      merges.foldLeft(tokens(col("text"))) { case (c, (l, r)) =>
        graft.functions.HashExpressions.bpeMergeFast(c, l, r)
      }.as("toks"))
    import spark.implicits._
    val v = graft.operators.PrefixSum.globalRowNumber(
      enc.select(explode(col("toks")).as("tok")).distinct(),
      Seq(col("tok").asc), "id")
    // nc is functionally dependent on doc_id: it rides the exploded
    // frame as an 8-byte payload and folds back out of the aggregate as
    // max() — no second join against the documents scan (see docstring)
    val e = enc.select(col("doc_id"), col("nc"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("nc"),
        (col("p0") + 1).cast("long").as("pos"), col("tok"))
    e.join(broadcast(v), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("id").cast("long").as("id_sum"),
        sum(col("pos") * col("id")).cast("long").as("id_posw"),
        max("nc").as("nc"))
      .select(col("doc_id"), col("n_tok"), col("id_sum"), col("id_posw"),
        expr("nc * 1048576 DIV n_tok").as("chars_per_tok_q"))
  }

  /** Fixed context length (BPE tokens per packed block). */
  private[graft] val CtxLen = 256

  /** BPE-ID SEQUENCE PACKING — train the merge table (memoized,
    * [[learnedMergeRows]]), encode the corpus
    * map-side, lay each shard (= lang, the `q_seq_pack` convention)
    * out as one contiguous id stream in deterministic doc_id order,
    * and cut it into [[CtxLen]]-token context blocks. Per block:
    * token count, how many documents contribute (the boundary
    * bookkeeping — n_docs > 1 means a document crosses into this
    * block), the first/last contributing doc, and two id checksums
    * (plain sum + in-block-offset-weighted sum) that pin the EXACT id
    * sequence of the block without array-compare fragility — the
    * `q_bpe_encode` checksum discipline, now per block instead of per
    * document.
    *
    * SCALE: shards pack independently (segmented by lang — no global
    * order). The only doc-ordered work is the per-shard cumulative
    * token count over one row per document (never exploded tokens),
    * computed by [[graft.operators.PrefixSum]]: a
    * lang-partitioned window put each language's whole doc stream
    * through ONE task — a parallelism ceiling of #languages that the
    * linear slope gates cannot see — where the segmented two-pass scan
    * keeps identical sums at full parallelism. Each token's global
    * position is then doc-start + in-doc offset, computed map-side at
    * explode time. The
    * token→id join broadcasts the tokenizer-sized vocab (the
    * `q_bpe_encode` rationale) so the exploded stream never shuffles
    * for it, and the block aggregate partial-aggregates inside scan
    * partitions into a Θ(blocks) exchange. Invariants (every block
    * except each shard's last holds exactly CtxLen tokens; blocks are
    * contiguous from 0; totals match the encode pass) are
    * property-tested in SeqPackBpeSpec.
    */
  val seqPackBpe: QueryDef = {
    val iters = BpeIters
    QueryDef.sql(
      "q_seq_pack_bpe",
      s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |${bpeRoundCtes(iters)},
         |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS id
         |      FROM (SELECT DISTINCT unnest(toks) AS tok FROM t$iters)),
         |enc AS (SELECT d.lang, t.doc_id, t.toks, CAST(len(t.toks) AS BIGINT) AS n_tok
         |        FROM t$iters t JOIN documents d USING (doc_id)
         |        WHERE len(t.toks) >= 1),
         |c AS (SELECT lang, doc_id, toks,
         |             CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                  - n_tok AS BIGINT) AS cum0
         |      FROM enc),
         |e AS (SELECT lang, doc_id, cum0 + pos - 1 AS gpos, toks[pos] AS tok
         |      FROM c, unnest(range(1, len(toks) + 1)) u(pos)),
         |j AS (SELECT lang, doc_id, gpos, v.id FROM e JOIN v USING (tok))
         |SELECT lang, CAST(gpos // $CtxLen AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_tok,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(min(doc_id) AS BIGINT) AS first_doc,
         |       CAST(max(doc_id) AS BIGINT) AS last_doc,
         |       CAST(sum(id) AS BIGINT) AS id_sum,
         |       CAST(sum((gpos % $CtxLen + 1) * id) AS BIGINT) AS id_oxw
         |FROM j GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import spark.implicits._
      val docs = Tables(spark, dir, "documents")
      val merges = learnedMergeRows(spark, dir, iters)
        .map { case (_, l, r, _, _) => (l, r) }
      val enc = docs.select(col("lang"), col("doc_id"),
        merges.foldLeft(tokens(col("text"))) { case (cc, (l, r)) =>
          graft.functions.HashExpressions.bpeMergeFast(cc, l, r)
        }.as("toks"))
        .filter(size(col("toks")) >= 1)
      // vocab rank: distributed range-sort + per-partition offsets (the
      // q_bpe_encode rationale — no unpartitioned window;
      // PrefixSum.globalRowNumber, InternalRow end to end)
      val v = graft.operators.PrefixSum.globalRowNumber(
        enc.select(explode(col("toks")).as("tok")).distinct(),
        Seq(col("tok").asc), "id")
      // per-shard doc-scale prefix sum: one row per doc, cum0 = shard
      // stream offset where this doc STARTS. PrefixSum.runningTotal:
      // at sandbox SFs the sum windows IN PLACE (the encode fold runs
      // once, arrays ride the one lang exchange; a narrow-scan + doc_id
      // join-back here would re-run the whole BPE fold a second time);
      // at corpus scale the segmented two-pass scan runs over the
      // narrow (lang, doc_id, nt) projection — no #languages
      // parallelism ceiling — and re-joins the token arrays on
      // doc_id, so the token mass still crosses exactly ONE exchange.
      val nt = size(col("toks")).cast("long")
      val e = graft.operators.PrefixSum.runningTotal(
          enc.withColumn("nt", nt),
          "lang", Seq("doc_id"), "nt", "cumi")
        .select(col("lang"), col("doc_id"),
          (col("cumi") - col("nt")).as("cum0"), col("toks"))
        .select(col("lang"), col("doc_id"), col("cum0"),
          posexplode(col("toks")).as(Seq("p0", "tok")))
        .select(col("lang"), col("doc_id"),
          (col("cum0") + col("p0")).as("gpos"), col("tok"))
      e.join(broadcast(v), "tok")
        .groupBy(col("lang"), expr(s"gpos DIV $CtxLen").as("bin"))
        .agg(count(lit(1)).as("n_tok"),
          countDistinct(col("doc_id")).as("n_docs"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
          sum("id").cast("long").as("id_sum"),
          sum((col("gpos") % CtxLen + 1) * col("id")).cast("long").as("id_oxw"))
    }
  }

  /** ARTIFACT-BACKED tokenizer encode — `q_bpe_encode`
    * split at the deployment seam, completing the artifact-twin family
    * for the MOST-reused artifact in the pipeline. The two artifacts
    * have different SHAPES and deliberately different mechanisms:
    * the merge table is iteration-bounded (the order IS the tokenizer)
    * — driver-side, folded into the scan kernels as literals; the
    * vocabulary is CORPUS-sized (word-level vocab grows with Heaps'
    * law), so it trains distributed, persists as a sharded frame
    * ([[graft.pipelines.ModelArtifacts.saveVocabFrame]]), and re-enters
    * the encode as a broadcast JOIN — exactly `q_bpe_encode`'s tail.
    * A driver-literal vocabulary map was priced by the linear-vocab
    * decade probe at slope 4.98 (2696 s at 1000x) — the join form is
    * the survival path. Oracle = `q_bpe_encode` SQL verbatim:
    * merges must round-trip IN ORDER and vocab ids exactly.
    */
  val bpeEncodeArtifact: QueryDef = QueryDef.sql(
    "q_bpe_encode_artifact",
    bpeEncode.oracle.get) { (spark, dir) =>
    import spark.implicits._
    val base = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
    val docs = Tables(spark, dir, "documents")
    val merges = learnedMergeRows(spark, dir, BpeIters)
      .map { case (_, l, r, _, _) => (l, r) }
    graft.pipelines.ModelArtifacts.saveMerges(spark, merges, s"$base/merges.parquet")
    val m2 = graft.pipelines.ModelArtifacts.loadMerges(spark, s"$base/merges.parquet")
    def encOf(ms: Seq[(String, String)]) = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("nc"),
      ms.foldLeft(tokens(col("text"))) { case (c, (l, r)) =>
        graft.functions.HashExpressions.bpeMergeFast(c, l, r)
      }.as("toks"))
    // vocab trains DISTRIBUTED (range-sort + per-partition offsets via
    // PrefixSum.globalRowNumber, the q_bpe_encode rationale) and
    // persists sharded — never collected
    graft.pipelines.ModelArtifacts.saveVocabFrame(spark,
      graft.operators.PrefixSum.globalRowNumber(
        encOf(merges).select(explode(col("toks")).as("tok")).distinct(),
        Seq(col("tok").asc), "id"),
      s"$base/vocab.parquet")
    val v = graft.pipelines.ModelArtifacts.loadVocabFrame(spark, s"$base/vocab.parquet")
    val e = encOf(m2).select(col("doc_id"), col("nc"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("nc"),
        (col("p0") + 1).cast("long").as("pos"), col("tok"))
    // no broadcast hint (unlike the parent, whose RDD-derived vocab has
    // no stats and would SMJ): the loaded parquet carries real size
    // stats, so the planner broadcasts a Heaps-sized vocab and degrades
    // to a shuffled join on a pathological one — the ledger rule
    e.join(v, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("id").cast("long").as("id_sum"),
        sum(col("pos") * col("id")).cast("long").as("id_posw"),
        max("nc").as("nc"))
      .select(col("doc_id"), col("n_tok"), col("id_sum"), col("id_posw"),
        expr("nc * 1048576 DIV n_tok").as("chars_per_tok_q"))
  }

  val all: Seq[QueryDef] = Seq(
    tokenWindows, bpePairs, bpeFertility, packingWaste, vocabCoverage, seqPack, bpeTokens,
    bpeLearn, bpeEncode, seqPackBpe, bpeEncodeArtifact)
}
