package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.operators.{Chunker, Prompt, TopK}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosDistSql
import graft.pipelines.{IndexBuild, MockEmbedder, Rag}

/** The reference's own path as checked queries: chunking, RAG retrieval
  * and prompt assembly, the two pipelines end to end, and the lexical
  * retrieval tier beside the dense one.
  *
  * - Chunking (`q_chunk`, `q_chunk_sql`): the DuckDB oracle replays the
  *   exact `cut_texts_in_subtexts` control flow (`load-texts.c:37-105`)
  *   as a recursive CTE — backward scan to the last space, hard cut when
  *   the window has none, the tail chunk dropping its final character,
  *   short texts passing through whole.
  * - `q_rag_prompt` (`multirag.c:52-152`): a RAG turn's path. Top-3
  *   nearest embeddings ([[TopK.nearestRows]]), their texts gathered by
  *   id, folded on the driver into the Llama-3 instruct prompt in
  *   ascending-distance order.
  * - `q_index_build` / `q_rag_e2e`: read → chunk → mock-embed, then embed
  *   query → cosine top-3 → gather → prompt. The mock embedder is pure
  *   integer→double algebra, so DuckDB replays even the vectors exactly.
  * - `q_postings`, `q_bm25`, `q_hybrid_rrf`: posting lists, BM25 and
  *   reciprocal-rank fusion with the dense ranking. Per-group work is
  *   bounded before anything is collected.
  */
object RagQueries {

  val ChunkLen = 100

  /** Composable CTE list (use after `WITH RECURSIVE`) defining
    * `chunks(doc_id, chunk_idx, chunk)` with the reference chunker
    * semantics. Shared by the pipeline queries.
    */
  def chunkCte(l: Int): String =
    s"""step AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
       |         CAST(0 AS BIGINT) AS prev, CAST(-1 AS BIGINT) AS chunk_idx,
       |         CAST(NULL AS VARCHAR) AS chunk, false AS fin
       |  FROM documents WHERE length(text) >= $l
       |  UNION ALL
       |  SELECT doc_id, text, len,
       |         CASE WHEN tail THEN len ELSE nxt END AS prev,
       |         chunk_idx + 1,
       |         CASE WHEN tail THEN substr(text, prev + 1, len - 1 - prev)
       |              ELSE substr(text, prev + 1, nxt - prev) END AS chunk,
       |         tail AS fin
       |  FROM (
       |    SELECT doc_id, text, len, prev, chunk_idx,
       |           (prev + $l >= len - 1) AS tail,
       |           CASE WHEN sp > 0 THEN prev + $l - sp + 1 ELSE prev + $l END AS nxt
       |    FROM (
       |      SELECT *, strpos(reverse(substr(text, prev + 2, $l)), ' ') AS sp
       |      FROM step WHERE NOT fin
       |    ) t
       |  ) u
       |),
       |chunks AS (
       |  SELECT doc_id, chunk_idx, chunk FROM step WHERE chunk_idx >= 0
       |  UNION ALL
       |  SELECT doc_id, CAST(0 AS BIGINT), text FROM documents WHERE length(text) < $l)""".stripMargin

  val chunk: QueryDef = QueryDef.sql("q_chunk",
    s"WITH RECURSIVE ${chunkCte(ChunkLen)}\nSELECT doc_id, chunk_idx, chunk FROM chunks") { (spark, dir) =>
    Chunker.chunk(Tables(spark, dir, "documents").select("doc_id", "text"), "text", ChunkLen)
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
  }

  /** The chunker through the SQL TEXT surface: `graft_chunk` registered
    * as a generator (table) function and invoked via LATERAL VIEW — the
    * UDTF face of [[graft.operators.ChunkGenerator]], same oracle as
    * [[chunk]]. With `q_sql_surface`'s scalar functions this completes
    * the SQL-only user's function surface: scalar, aggregate-shaped and
    * table functions all reachable from `spark.sql(...)`.
    */
  val chunkSql: QueryDef = QueryDef.sql("q_chunk_sql",
    s"WITH RECURSIVE ${chunkCte(ChunkLen)}\nSELECT doc_id, chunk_idx, chunk FROM chunks") { (spark, dir) =>
    graft.GraftFunctions.register(spark)
    Tables(spark, dir, "documents").createOrReplaceTempView("g_documents")
    spark.sql(
      s"""SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk
         |FROM g_documents
         |LATERAL VIEW graft_chunk(text, $ChunkLen) c AS chunk_idx, chunk""".stripMargin)
  }

  private val UserInput = "What does the spark engine do?"

  // SQL-escaped prompt constants for the DuckDB oracle (newlines as chr(10)).
  private def sqlStr(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  val ragPrompt: QueryDef = QueryDef.sql(
    "q_rag_prompt",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |topk AS (
       |  SELECT vec_id,
       |         row_number() OVER (ORDER BY ${cosDistSql("v", "qv")}, vec_id) AS rank
       |  FROM e, q
       |  QUALIFY rank <= 3
       |),
       |ctx AS (SELECT t.rank, d.text FROM topk t JOIN documents d ON d.doc_id = t.vec_id)
       |SELECT ${sqlStr(Prompt.SystemMsgStart)}
       |       || string_agg('Context ' || CAST(rank AS VARCHAR) || ':' || chr(10) || text || ' ' || chr(10) || ' ', '' ORDER BY rank)
       |       || ${sqlStr(Prompt.conversationWithUserTurn("", UserInput))} AS prompt
       |FROM ctx""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    // the turn's path: top-3 ids in (dist, vec_id) order, their texts
    // gathered by id, and the fold on the driver. A missing or NULL text
    // keeps its rank and adds nothing, as `string_agg` skips NULL.
    // Without vector 0 the prompt is NULL: DuckDB's `||` with the empty
    // `string_agg`
    Rag.promptFrame(spark, queryVector(emb).map { q =>
      val ids = TopK.nearestRows(emb, "embedding", "vec_id", q, 3).map(_.getLong(0))
      val text = Tables(spark, dir, "documents").filter(col("doc_id").isin(ids: _*))
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      Prompt.assembleRanked(ids.map(text.getOrElse(_, null)).toSeq, "", UserInput)
    }.orNull)
  }

  private val L = ChunkLen

  private val E2eInput = "retrieval augmented generation query"

  /** he/emb CTEs: chunk hashes and mock-embedding vectors. */
  private val EmbCte = {
    val dims = (0 until MockEmbedder.dim).map(d => MockEmbedder.dimSql("h", d)).mkString(", ")
    s"""he AS (SELECT doc_id, chunk_idx, chunk, ${polyHashSql("chunk")} AS h FROM chunks),
       |emb AS (SELECT doc_id, chunk_idx, chunk, [$dims] AS v FROM he)""".stripMargin
  }

  val indexBuild: QueryDef = QueryDef.sql(
    "q_index_build", {
      val outDims = (0 until MockEmbedder.dim).map(d => s"v[${d + 1}] AS e$d").mkString(", ")
      s"""WITH RECURSIVE ${chunkCte(L)},
         |$EmbCte
         |SELECT doc_id, chunk_idx, $outDims FROM emb""".stripMargin
    }) { (spark, dir) =>
    val idx = IndexBuild.build(Tables(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", L, MockEmbedder)
    idx.select(Seq(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx")) ++
      (0 until MockEmbedder.dim).map(d =>
        element_at(col("embedding"), d + 1).as(s"e$d")): _*)
  }

  val ragE2e: QueryDef = QueryDef.sql(
    "q_rag_e2e", {
      val qDims = (0 until MockEmbedder.dim)
        .map(d => MockEmbedder.dimSql(polyHashSql(s"'$E2eInput'"), d)).mkString(", ")
      val sqlStr: String => String =
        s => "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"
      s"""WITH RECURSIVE ${chunkCte(L)},
         |$EmbCte,
         |q AS (SELECT [$qDims] AS qv),
         |ranked AS (
         |  SELECT chunk, doc_id * 1000 + chunk_idx AS chunk_id,
         |         row_number() OVER (ORDER BY ${cosDistSql("v", "qv")}, doc_id * 1000 + chunk_idx) AS rank
         |  FROM emb, q
         |  QUALIFY rank <= 3)
         |SELECT ${sqlStr(Prompt.SystemMsgStart)}
         |       || string_agg('Context ' || CAST(rank AS VARCHAR) || ':' || chr(10) || chunk || ' ' || chr(10) || ' ', '' ORDER BY rank)
         |       || ${sqlStr(Prompt.conversationWithUserTurn("", E2eInput))} AS prompt
         |FROM ranked""".stripMargin
    }) { (spark, dir) =>
    val index = IndexBuild.build(Tables(spark, dir, "documents").select("doc_id", "text"),
      "doc_id", "text", L, MockEmbedder)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_idx"))
    Rag.answer(spark, index, "chunk_id", "chunk", "embedding", MockEmbedder,
      E2eInput, "", 3)
  }

  /** Inverted index: token → document frequency + the first 5 postings.
    * The posting head is rank-limited BEFORE `collect_list` (Spark turns
    * the `row_number ≤ 5` filter into a map-side WindowGroupLimit), so
    * at most 5 doc ids per token ever cross the shuffle or enter an
    * array — an unbounded `collect_list(doc_id)` on a stopword token
    * would otherwise materialize millions of ids in one row.
    */
  val postings: QueryDef = QueryDef.sql(
    "q_postings",
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok <> ''),
      |head AS (
      |  SELECT tok, doc_id FROM (
      |    SELECT tok, doc_id,
      |           row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
      |    FROM toks) WHERE rn <= 5)
      |SELECT d.tok, d.df, h.posting_head
      |FROM (SELECT tok, count(*) AS df FROM toks GROUP BY tok) d
      |JOIN (SELECT tok, array_to_string(list_sort(list(doc_id)), ',') AS posting_head
      |      FROM head GROUP BY tok) h USING (tok)""".stripMargin) { (spark, dir) =>
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val head = toks
      .withColumn("rn",
        row_number().over(Window.partitionBy("tok").orderBy("doc_id")))
      .filter(col("rn") <= 5)
      .groupBy("tok").agg(
        array_join(sort_array(collect_list(col("doc_id"))), ",").as("posting_head"))
    dfreq.join(head, "tok")
  }

  /** BM25 query terms (fixture vocabulary, mixed document frequency). */
  private val Bm25Terms = Seq("spark", "window", "filter")

  /** BM25 lexical retrieval (k1=1.2, b=0.75) — the classic keyword
    * scorer beside the engine's cosine retrieval; together they are the
    * hybrid-search pair every RAG stack runs. Plan shape is an inverted
    * index build scoped to the query: explode tokens, keep ONLY query
    * terms (the `IN` prunes before any shuffle), count postings per
    * (doc, term); document length and corpus stats join back broadcast.
    * At 100 TB only the query terms' postings ever travel.
    *
    * Cross-engine determinism: every constant is pre-folded (2.2, 0.25)
    * so both engines evaluate the literally identical double expression
    * tree; per-term contributions are summed in WRITTEN order, never by
    * aggregation. `ln` is the one libm call — glibc and the JVM may
    * disagree in the last ulp — so the OUTPUT score is quantized
    * (`floor(score * 65536)` as BIGINT), which also makes the top-10
    * ORDER BY exact in both engines.
    */
  /** Shared oracle fragment: CTEs ending in `bm(doc_id, score_q)` —
    * every scored doc, unlimited. Used by [[bm25]] and [[hybridRrf]].
    */
  private def bm25CoreSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val cases = Bm25Terms.map(t =>
      s"coalesce(max(CASE WHEN tok = '$t' THEN contrib END), CAST(0 AS DOUBLE))")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |p AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       |      WHERE tok IN ($termList) GROUP BY doc_id, tok),
       |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY tok),
       |c AS (SELECT p.doc_id, p.tok,
       |             ln(CAST(1 AS DOUBLE) + (CAST(s.n_docs - f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |               * (CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |               / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(d.dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE) / CAST(s.sum_dl AS DOUBLE))) AS contrib
       |      FROM p JOIN d USING (doc_id) JOIN f ON f.tok = p.tok, s),
       |bm AS (SELECT doc_id,
       |              CAST(floor((${cases.mkString(" + ")}) * CAST(65536 AS DOUBLE)) AS BIGINT) AS score_q
       |       FROM c GROUP BY doc_id)""".stripMargin
  }

  /** Shared Spark side: every scored doc `(doc_id, score_q)`, unlimited. */
  private def bm25Scores(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // both narrow frames have two consumers (dl: corpus stats + the
    // score join; tf: document frequency + the score join) — one
    // tokenize/explode pass each instead of two (durability:
    // lineage-severed, non-replicated). dl is 16 B/doc; tf is ≤ |terms| rows/doc.
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .localCheckpoint()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        (log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double") * col("n_docs").cast("double")
              / col("sum_dl").cast("double")))).as("contrib"))
    val perTerm = Bm25Terms.map(t =>
      coalesce(max(when(col("tok") === t, col("contrib"))), lit(0.0)))
    contrib.groupBy("doc_id")
      .agg(floor(perTerm.reduce(_ + _) * lit(65536.0)).cast("long").as("score_q"))
  }

  val bm25: QueryDef = QueryDef.sql(
    "q_bm25",
    s"""WITH $bm25CoreSql
       |SELECT doc_id, score_q FROM bm
       |ORDER BY score_q DESC, doc_id
       |LIMIT 10""".stripMargin) { (spark, dir) =>
    bm25Scores(spark, dir)
      .orderBy(col("score_q").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Hybrid retrieval — reciprocal-rank fusion (k=60) of the BM25
    * top-10 and the cosine top-10, FULL OUTER joined on doc id (a doc
    * in one list only still scores). RRF needs no score calibration
    * across the two retrievals — only ranks — which is why it's the
    * standard fusion; and because ranks are small integers, the fused
    * score `1/(60+r_cos) + 1/(60+r_bm)` is bit-identical cross-engine
    * with NO quantization (the BM25 ln sits behind an already-quantized
    * rank). Both lists are top-k prunes (TakeOrderedAndProject), so at
    * scale this is two retrievals plus a 20-row join.
    */
  val hybridRrf: QueryDef = QueryDef.sql(
    "q_hybrid_rrf",
    s"""WITH $bm25CoreSql,
       |bmr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS r_bm
       |        FROM (SELECT doc_id, score_q FROM bm ORDER BY score_q DESC, doc_id LIMIT 10)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cd AS (SELECT vec_id AS doc_id, ${graft.functions.VectorFunctions.cosDistSql("v", "qv")} AS dist
       |       FROM e, q WHERE vec_id <> 0
       |       ORDER BY dist, vec_id LIMIT 10),
       |cosr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY dist, doc_id) AS BIGINT) AS r_cos FROM cd)
       |SELECT doc_id,
       |       CAST(coalesce(r_cos, 0) AS BIGINT) AS r_cos,
       |       CAST(coalesce(r_bm, 0) AS BIGINT) AS r_bm,
       |       coalesce(CAST(1 AS DOUBLE) / CAST(r_cos + 60 AS DOUBLE), CAST(0 AS DOUBLE))
       |         + coalesce(CAST(1 AS DOUBLE) / CAST(r_bm + 60 AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf
       |FROM bmr FULL OUTER JOIN cosr USING (doc_id)
       |ORDER BY rrf DESC, doc_id""".stripMargin) { (spark, dir) =>
    val bmr = bm25Scores(spark, dir)
      .orderBy(col("score_q").desc, col("doc_id").asc).limit(10)
      // 10-row frame post-limit: the unpartitioned window is a single
      // tiny task by construction, not a scale hazard
      .withColumn("r_bm", row_number()
        .over(Window.orderBy(col("score_q").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "r_bm")
    val emb = Tables.embeddings(spark, dir)
    val cosr = nearestTo(emb.filter(col("vec_id") =!= 0),
        "embedding", "vec_id", queryVector(emb), 10)
      .select(col("vec_id").as("doc_id"), col("dist"))
      .withColumn("r_cos", row_number()
        .over(Window.orderBy(col("dist").asc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "r_cos")
    bmr.join(cosr, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_cos"), lit(0L)).as("r_cos"),
        coalesce(col("r_bm"), lit(0L)).as("r_bm"),
        (coalesce(lit(1.0) / (col("r_cos") + lit(60)).cast("double"), lit(0.0))
          + coalesce(lit(1.0) / (col("r_bm") + lit(60)).cast("double"), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
  }

  val all: Seq[QueryDef] = Seq(
    chunk, chunkSql, ragPrompt, indexBuild, ragE2e, postings, bm25, hybridRrf)
}
