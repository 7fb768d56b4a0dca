package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.VectorFunctions.{cosDistSql, cosineDistance}

/** Mixing, sampling, selection and sharding: stratified and weighted
  * samples, domain and temperature mixing, rebalancing, epochs and
  * water-filling budgets, DSIR importance weights (Xie et al. 2023),
  * per-source KL, MMR, k-center coresets (Gonzalez 1985), skyline
  * selection, shard assignment (hash and rendezvous), shard mix and
  * manifests, corpus diffs, recency weights, and Z-order / Hilbert
  * layout planning.
  *
  * Randomness is hash-derived and ratios are integer basis points, so
  * every plan is deterministic. k-center's argmax runs over the whole
  * corpus each round; the driver holds only the selected centers.
  */
object MixingQueries {

  /** Deterministic stratified sample: exactly k=10 documents per
    * language, chosen by a multiplicative-hash order (Knuth constant) so
    * the pick is stable under re-sharding and identical in both engines
    * — integer algebra, no RNG. The `rank ≤ k` filter again runs as a
    * map-side WindowGroupLimit: only ~k rows per stratum reach the
    * shuffle regardless of corpus size.
    */
  val stratifiedK: QueryDef = QueryDef.sql(
    "q_stratified_k",
    """WITH r AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
      |FROM r WHERE rn <= 10""".stripMargin) { (spark, dir) =>
    val order = (col("doc_id") * lit(2654435761L)) % lit(4294967296L)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        row_number().over(
          Window.partitionBy("lang").orderBy(order, col("doc_id"))).as("rn"))
      .filter(col("rn") <= 10)
      // row_number is INT in Spark, BIGINT in DuckDB — BIGINT on both
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
  }

  /** Recency-weighted event aggregate — the freshness weighting a
    * curation run applies before mixing sources: weight = max(0, 45 −
    * age_days) against a fixed anchor, value summed through the per-row
    * DECIMAL cast (exact, order-independent) and emitted as DOUBLE. One
    * keyed aggregation; the weights are integers so both engines do the
    * identical exact arithmetic.
    */
  val recencyWeight: QueryDef = QueryDef.sql(
    "q_recency_weight",
    """WITH w AS (
      |  SELECT event_type, value,
      |         greatest(0, 45 - CAST(floor((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
      |                                      - epoch_us(ts)) / 86400000000.0) AS BIGINT)) AS wt
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(wt) AS BIGINT) AS w_sum,
      |       CAST(sum(CAST(value AS DECIMAL(18,4)) * wt) AS DOUBLE) AS weighted_value
      |FROM w GROUP BY event_type""".stripMargin) { (spark, dir) =>
    val anchorUs = java.time.LocalDateTime.of(2024, 2, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        greatest(lit(0L),
          lit(45L) - floor((lit(anchorUs) - unix_micros(col("ts"))) / 86400000000.0)
            .cast("long")).as("wt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("wt")).as("w_sum"),
        sum(col("value").cast("decimal(18,4)") * col("wt")).cast("double")
          .as("weighted_value"))
  }

  /** TOKEN-BUDGET CORPUS SELECTION — "keep the best quarter of the
    * corpus, measured in tokens": the selection op behind every
    * quality-pruned training set. The scale-correct shape is NOT a
    * corpus-global sort by quality (that's a single-partition
    * anti-pattern at 100 TB); it's the `q_token_cdf` histogram trick on
    * the quality axis: bucket docs by integer score (type-token ratio
    * in basis points, the `q_quality_filter` signal — ≤ 10 001 distinct
    * values by construction), aggregate doc/token mass per bucket
    * map-side, then run the cumulative-sum cutoff over the BOUNDED
    * bucket table. Output = every bucket the budget touches, marked
    * `full` or `partial` (the crossing bucket); the per-doc apply is
    * then a map-side `score > cutoff` filter plus a quota in the one
    * partial bucket. The only data crossing a SinglePartition exchange
    * is the score histogram, never the corpus.
    */
  val budgetSelect: QueryDef = QueryDef.sql(
    "q_budget_select",
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(floor(n_uniq * 10000.0 / n_tokens) AS BIGINT) AS score_bp
      |  FROM m WHERE n_tokens > 0),
      |b AS (
      |  SELECT score_bp, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
      |  FROM s GROUP BY 1),
      |c AS (
      |  SELECT score_bp, n_docs, bucket_tokens,
      |         CAST(sum(bucket_tokens) OVER (ORDER BY score_bp DESC) AS BIGINT) AS cum_tokens,
      |         CAST(sum(bucket_tokens) OVER () AS BIGINT) AS t
      |  FROM b)
      |SELECT score_bp, n_docs, bucket_tokens, cum_tokens,
      |       CASE WHEN cum_tokens <= t // 4 THEN 'full' ELSE 'partial' END AS taken
      |FROM c
      |WHERE cum_tokens - bucket_tokens < t // 4""".stripMargin) { (spark, dir) =>
    val toks = tokens(col("text"))
    val s = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        floor(col("n_uniq") * 10000.0 / col("n_tokens")).cast("long").as("score_bp"))
    val b = s.groupBy("score_bp")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("bucket_tokens"))
    // both the running cutoff and the corpus total ride ONE window over
    // the score histogram (<= 10 001 rows — the q_token_cdf precedent
    // for a deliberate SinglePartition exchange); the corpus is scanned
    // and tokenized exactly once
    val w = Window.orderBy(col("score_bp").desc)
    val c = b
      .withColumn("cum_tokens", sum("bucket_tokens").over(w).cast("long"))
      .withColumn("t", sum("bucket_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("long"))
    c.filter(col("cum_tokens") - col("bucket_tokens") < expr("t DIV 4"))
      .select(col("score_bp"), col("n_docs"), col("bucket_tokens"), col("cum_tokens"),
        when(col("cum_tokens") <= expr("t DIV 4"), "full").otherwise("partial").as("taken"))
  }

  /** One Hilbert xy→d fold step (the classic quadrant-rotation
    * algorithm, grid 256×256): emitted as engine-neutral SQL. The
    * `(3·rx) XOR ry` quadrant index is folded into a CASE table
    * (0,1,3,2) so no engine-specific xor syntax is needed, and each
    * step writes freshly-numbered columns (x1,y1,d1 …) so lateral
    * column aliasing can never rebind a reference to the new value.
    */
  private def hilbertStep(i: Int): (String, String, String) = {
    val s = 128 >> i
    val (px, py, pd) = (s"x$i", s"y$i", s"d$i")
    val rx = s"(($px & $s) > 0)"
    val ry = s"(($py & $s) > 0)"
    val x = s"CASE WHEN $ry THEN $px ELSE CASE WHEN $rx THEN 255 - $py ELSE $py END END AS x${i + 1}"
    val y = s"CASE WHEN $ry THEN $py ELSE CASE WHEN $rx THEN 255 - $px ELSE $px END END AS y${i + 1}"
    val d = s"$pd + ${s * s} * (CASE WHEN $ry THEN (CASE WHEN $rx THEN 2 ELSE 1 END)" +
      s" ELSE (CASE WHEN $rx THEN 3 ELSE 0 END) END) AS d${i + 1}"
    (x, y, d)
  }

  /** The full 8-step chain as SQL CTEs `h0..h8` over a source CTE with
    * grid columns (xq, yq); `h8.d8` is the 16-bit Hilbert key.
    */
  private def hilbertCtes(from: String): String = {
    val steps = (0 until 8).map { i =>
      val (x, y, d) = hilbertStep(i)
      s"h${i + 1} AS (SELECT xq, yq, $x, $y, $d FROM h$i)"
    }
    (s"h0 AS (SELECT xq, yq, xq AS x0, yq AS y0, CAST(0 AS BIGINT) AS d0 FROM $from)" +:
      steps).mkString(",\n")
  }

  /** Bit-interleave of two 8-bit grid coordinates into a 16-bit Morton
    * (Z-order) key, emitted as engine-specific SQL. Pure integral bit
    * algebra — identical on both engines by construction.
    */
  private def mortonDuck(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  private def mortonSpark(x: String, y: String): String =
    (0 until 8).map(i =>
      s"shiftleft(shiftright($x, $i) & 1, ${2 * i}) + shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")

  /** lineitem's (l_partkey, l_suppkey) scaled onto a 256×256 grid (xq, yq)
    * by the column extents (a 1-row aggregate, broadcast). */
  private def lineitemGrid(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select("l_partkey", "l_suppkey")
    val ext = li.agg(
      min("l_partkey").as("minp"), max("l_partkey").as("maxp"),
      min("l_suppkey").as("mins"), max("l_suppkey").as("maxs"))
    li.crossJoin(broadcast(ext)).select(
      expr("((l_partkey - minp) * 255) DIV greatest(maxp - minp, 1)").as("xq"),
      expr("((l_suppkey - mins) * 255) DIV greatest(maxs - mins, 1)").as("yq"))
  }

  /** The zone map of each layout file `fileKey`: its xq and yq extents. */
  private def zoneMap(df: DataFrame, fileKey: String): DataFrame =
    df.groupBy(expr(fileKey).as("f"))
      .agg(min("xq").as("minx"), max("xq").as("maxx"),
        min("yq").as("miny"), max("yq").as("maxy"))

  /** Per range probe (probe_id, dim, lo, hi): the number `out` of files
    * whose zone map in `zm` overlaps it — the files a scan must read. */
  private def overlap(probes: DataFrame, zm: DataFrame, out: String): DataFrame =
    broadcast(probes).join(zm,
        (col("dim") === "part" && col("maxx") >= col("lo") && col("minx") <= col("hi")) ||
        (col("dim") === "supp" && col("maxy") >= col("lo") && col("miny") <= col("hi")))
      .groupBy("probe_id").agg(count(lit(1)).as(out))

  /** HILBERT-CURVE LAYOUT PLANNER — `q_zorder_layout`'s question asked
    * one curve up: the same 256×256 (partkey, suppkey) grid, split into
    * 100 files by curve-key range, priced against per-file min/max zone
    * maps for a HILBERT-key split vs the Morton split under 8 width-32
    * single-dimension probes. The file count is deliberately NOT a
    * power of two: under an aligned 64-file split both curves tile the
    * grid into identical 32×32 blocks and prune identically (verified —
    * the comparison is degenerate), but real file splits are sized by
    * bytes, not bit boundaries, and there Hilbert's continuity pays —
    * every contiguous key run is a CONNECTED region of diameter
    * ~sqrt(run), while a Morton run can jump diagonally across half the
    * grid, inflating the file's bounding box and its probe hit rate
    * (measured on the full grid: 131 vs 148 file-probe hits — why
    * Hilbert replaced Z-order in recent lakehouse layout engines). The
    * xy→d fold is the classic quadrant-rotation recurrence, unrolled
    * into 8 pure integer CASE steps that are the SAME SQL text on both
    * engines (no xor, no floats, no lateral aliasing).
    *
    * SCALE: the fold is 8 chained map-side projections that Catalyst
    * collapses into one codegen'd Project (no Exchange until the
    * 100-row zone-map aggregate); probe pricing is broadcast-sized.
    * Like the Z-order planner, this costs one scan + two 100-key
    * aggregates at any corpus size.
    */
  val hilbertLayout: QueryDef = QueryDef.sql(
    "q_hilbert_layout",
    s"""WITH ext AS (SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
       |                   min(l_suppkey) AS mins, max(l_suppkey) AS maxs
       |            FROM lineitem),
       |g AS (SELECT ((l_partkey - minp) * 255) // greatest(maxp - minp, 1) AS xq,
       |             ((l_suppkey - mins) * 255) // greatest(maxs - mins, 1) AS yq
       |      FROM lineitem, ext),
       |${hilbertCtes("g")},
       |z AS (SELECT xq, yq, ${mortonDuck("xq", "yq")} AS zkey FROM g),
       |hf AS (SELECT (d8 * 100) // 65536 AS f, min(xq) AS minx, max(xq) AS maxx,
       |              min(yq) AS miny, max(yq) AS maxy
       |       FROM h8 GROUP BY 1),
       |zf AS (SELECT (zkey * 100) // 65536 AS f, min(xq) AS minx, max(xq) AS maxx,
       |              min(yq) AS miny, max(yq) AS maxy
       |       FROM z GROUP BY 1),
       |probes(probe_id, dim, lo, hi) AS (
       |  SELECT * FROM (VALUES (0,'part',0,31), (1,'part',64,95),
       |                        (2,'part',128,159), (3,'part',192,223),
       |                        (4,'supp',0,31), (5,'supp',64,95),
       |                        (6,'supp',128,159), (7,'supp',192,223))),
       |hh AS (SELECT p.probe_id, count(*) AS files_h
       |       FROM probes p JOIN hf
       |         ON (p.dim = 'part' AND hf.maxx >= p.lo AND hf.minx <= p.hi)
       |         OR (p.dim = 'supp' AND hf.maxy >= p.lo AND hf.miny <= p.hi)
       |       GROUP BY 1),
       |hz AS (SELECT p.probe_id, count(*) AS files_z
       |       FROM probes p JOIN zf
       |         ON (p.dim = 'part' AND zf.maxx >= p.lo AND zf.minx <= p.hi)
       |         OR (p.dim = 'supp' AND zf.maxy >= p.lo AND zf.miny <= p.hi)
       |       GROUP BY 1)
       |SELECT CAST(p.probe_id AS BIGINT) AS probe_id, p.dim,
       |       CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
       |       CAST(coalesce(hh.files_h, 0) AS BIGINT) AS files_h,
       |       CAST(coalesce(hz.files_z, 0) AS BIGINT) AS files_z
       |FROM probes p LEFT JOIN hh USING (probe_id)
       |     LEFT JOIN hz USING (probe_id)""".stripMargin) { (spark, dir) =>
    val g = lineitemGrid(spark, dir)
    // the 8 fold steps as chained projections — Catalyst collapses them
    // into one codegen'd Project, so the whole curve costs zero jobs
    val h = (0 until 8).foldLeft(
      g.selectExpr("xq", "yq", "xq AS x0", "yq AS y0", "CAST(0 AS BIGINT) AS d0")) {
      case (df, i) =>
        val (x, y, d) = hilbertStep(i)
        df.selectExpr("xq", "yq", x, y, d)
    }
    val z = g.withColumn("zkey", expr(mortonSpark("xq", "yq")))
    val hf = zoneMap(h, "(d8 * 100) DIV 65536")
    val zf = zoneMap(z, "(zkey * 100) DIV 65536")
    import spark.implicits._
    val probes = Seq(
      (0, "part", 0, 31), (1, "part", 64, 95), (2, "part", 128, 159),
      (3, "part", 192, 223), (4, "supp", 0, 31), (5, "supp", 64, 95),
      (6, "supp", 128, 159), (7, "supp", 192, 223))
      .toDF("probe_id", "dim", "lo", "hi")
    probes
      .join(overlap(probes, hf, "files_h"), Seq("probe_id"), "left")
      .join(overlap(probes, zf, "files_z"), Seq("probe_id"), "left")
      .select(col("probe_id").cast("long"), col("dim"),
        col("lo").cast("long"), col("hi").cast("long"),
        coalesce(col("files_h"), lit(0)).cast("long").as("files_h"),
        coalesce(col("files_z"), lit(0)).cast("long").as("files_z"))
  }

  /** SHARD INTEGRITY MANIFEST — per shard (doc_id mod 16): document
    * count, token mass, XOR of every document's content hash, and the
    * id range. Two manifests agree iff the shards carry identical
    * content (w.h.p.), so a re-run of the pipeline, a storage
    * migration, or a replica can be certified byte-equivalent by
    * comparing 16 rows instead of re-reading terabytes — the data
    * release's analog of a checksum file. XOR is the right integrity
    * fold at scale: associative + commutative ⇒ map-side combinable,
    * order-independent across partitionings, and mergeable across
    * manifest shards (the HLL-register idiom on the integrity axis).
    * SCALE: one map pass (hash per doc) into a 16-row aggregate; no
    * joins, no second scan.
    */
  val shardManifest: QueryDef = QueryDef.sql(
    "q_shard_manifest",
    s"""WITH h AS (SELECT doc_id, doc_id % 16 AS shard,
       |                 ${polyHashSql("text")} AS h,
       |                 len(string_split(text, ' ')) AS nt
       |          FROM documents)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(nt) AS BIGINT) AS n_tokens,
       |       CAST(bit_xor(h) AS BIGINT) AS xor_hash,
       |       CAST(min(doc_id) AS BIGINT) AS min_id,
       |       CAST(max(doc_id) AS BIGINT) AS max_id
       |FROM h GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(pmod(col("doc_id"), lit(16L)).as("shard"), col("doc_id"),
        polyHash(col("text")).as("h"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").cast("long").as("n_tokens"),
        expr("bit_xor(h)").as("xor_hash"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
  }

  /** CORPUS VERSION DIFF — the snapshot-to-snapshot change report:
    * added / deleted / changed / unchanged document counts and token
    * mass, computed by a full outer join on doc identity with CONTENT
    * HASHES compared instead of text (at scale the diff never ships
    * document bodies through the shuffle — each side carries 16 bytes
    * of hash, the `q_shard_manifest` integrity fold applied row-wise).
    * The two versions are derived deterministically from the fixture
    * (old = ids ∤ 7; new = ids ∤ 11, with every 5th document edited) so
    * all four statuses are exercised; the MECHANISM — outer join on
    * id, hash inequality ⇒ changed, null sides ⇒ added/deleted — is
    * exactly the production shape. SCALE: one hash-only shuffle on
    * doc_id, then a 4-row aggregate; token mass rides the same rows.
    */
  val corpusDiff: QueryDef = QueryDef.sql(
    "q_corpus_diff",
    s"""WITH vold AS (SELECT doc_id, ${polyHashSql("text")} AS h,
       |                    len(string_split(text, ' ')) AS nt
       |             FROM documents WHERE doc_id % 7 <> 0),
       |vnew AS (SELECT doc_id,
       |                ${polyHashSql("CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END")} AS h,
       |                len(string_split(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, ' ')) AS nt
       |         FROM documents WHERE doc_id % 11 <> 0),
       |j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
       |                  WHEN n.doc_id IS NULL THEN 'deleted'
       |                  WHEN o.h <> n.h THEN 'changed'
       |                  ELSE 'unchanged' END AS status,
       |             coalesce(n.nt, o.nt) AS nt
       |      FROM vold o FULL JOIN vnew n ON n.doc_id = o.doc_id)
       |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM j GROUP BY 1""".stripMargin) { (spark, dir) =>
    val docs = Tables(spark, dir, "documents")
    val vold = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
      .select(col("doc_id").as("oid"), polyHash(col("text")).as("oh"),
        size(tokens(col("text"))).cast("long").as("ont"))
    val newText = when(pmod(col("doc_id"), lit(5L)) === 0,
      concat(col("text"), lit(" v2"))).otherwise(col("text"))
    val vnew = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0)
      .select(col("doc_id").as("nid"), polyHash(newText).as("nh"),
        size(split(newText, " ")).cast("long").as("nnt"))
    vold.join(vnew, col("nid") === col("oid"), "full_outer")
      .select(
        when(col("oid").isNull, "added")
          .when(col("nid").isNull, "deleted")
          .when(col("oh") =!= col("nh"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("nnt"), col("ont")).as("nt"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("n_tokens"))
  }

  private val MmrK = 5 // selections

  private val S = 16 // retrieved shortlist

  /** MMR SELECT — Maximal Marginal Relevance (Carbonell & Goldstein
    * 1998): greedily pick k items maximizing 2*rel(d) - max_{s∈S}
    * sim(d, s), the reranker that turns a similarity shortlist into a
    * DIVERSE exemplar set (few-shot pools, eval panels, dedup'd
    * retrieval). Architecture is the production split: the SHORTLIST
    * retrieval is the distributed part (integer-dot top-16 via
    * TakeOrderedAndProject — the zero-Exchange q_topk_cosine shape);
    * the greedy rerank is O(k*s) dot products on 16 rows and runs on
    * the driver (the `q_bpe_learn`/IVF-centroid bounded-collect
    * precedent — distributing 256 multiplications would be parody).
    * All scores are exact integer algebra on the Q20 grid (floor
    * against a DOUBLE literal, the silhouette discipline), so the
    * DuckDB twin — a recursive CTE carrying the selected-vector list,
    * argmax per step with id tie-break — reproduces every pick
    * bit-for-bit. The fixture-visible effect: MMR's picks genuinely
    * depart from the pure-relevance top-k (diversity displaces the
    * near-duplicate runner-up).
    */
  val mmrSelect: QueryDef = QueryDef.sql(
    "q_mmr_select",
    s"""WITH RECURSIVE
       |q AS (SELECT list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qe
       |      FROM embeddings WHERE vec_id = 0),
       |iv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS e
       |       FROM embeddings WHERE vec_id <> 0),
       |rel AS (SELECT vec_id, e,
       |        list_reduce(list_transform(range(1, len(e) + 1), i -> e[i] * qe[i]), (a, b) -> a + b) AS r
       |        FROM iv, q),
       |cand AS (SELECT vec_id, e, r FROM rel ORDER BY r DESC, vec_id LIMIT $S),
       |sel AS (
       |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS ids, CAST([] AS BIGINT[][]) AS vecs
       |  UNION ALL
       |  SELECT step + 1,
       |         list_append(ids, (SELECT c.vec_id FROM cand c WHERE NOT list_contains(ids, c.vec_id)
       |            ORDER BY 2 * c.r - coalesce(list_max(list_transform(vecs, v ->
       |              CAST(list_sum(list_transform(list_zip(c.e, v), p -> p[1] * p[2])) AS BIGINT))), 0) DESC,
       |              c.vec_id
       |            LIMIT 1)),
       |         list_append(vecs, (SELECT c.e FROM cand c WHERE NOT list_contains(ids, c.vec_id)
       |            ORDER BY 2 * c.r - coalesce(list_max(list_transform(vecs, v ->
       |              CAST(list_sum(list_transform(list_zip(c.e, v), p -> p[1] * p[2])) AS BIGINT))), 0) DESC,
       |              c.vec_id
       |            LIMIT 1))
       |  FROM sel WHERE step < $MmrK)
       |SELECT CAST(step AS BIGINT) AS step, ids[len(ids)] AS picked
       |FROM sel WHERE step > 0""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val emb = Tables(spark, dir, "embeddings")
    val quant = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1048576.0)).cast("long"))
    val qv = emb.filter(col("vec_id") === 0).select(quant.as("qe"))
    val cand = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), quant.as("e"))
      .crossJoin(broadcast(qv))
      .withColumn("r",
        expr("aggregate(zip_with(e, qe, (x, y) -> x * y), CAST(0 AS BIGINT), (a, b) -> a + b)"))
      .orderBy(col("r").desc, col("vec_id")).limit(S)
      .select("vec_id", "e", "r").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var sel = Vector.empty[(Long, Array[Long])]
    for (_ <- 1 to MmrK) {
      val left = cand.filter(c => !sel.exists(_._1 == c._1))
      if (left.nonEmpty) {
        val best = left.map { c =>
          val maxSim = if (sel.isEmpty) 0L else sel.map(s => dot(c._2, s._2)).max
          (2 * c._3 - maxSim, c._1, c._2)
        }.minBy(t => (-t._1, t._2))
        sel = sel :+ ((best._2, best._3))
      }
    }
    // a step past the end of the shortlist picks NULL, as the oracle's
    // empty subquery does
    (1 to MmrK).map(i => (i.toLong, sel.lift(i - 1).map(_._1)))
      .toDF("step", "picked")
  }

  /** SHARD COMPOSITION MIX — per shard (the `q_shard_assign` salted
    * id-hash, 32 shards): how far the shard's SOURCE composition
    * deviates from the corpus-global mix, in basis points (max and
    * total absolute deviation). Volume balance says shards are equal
    * SIZED; composition balance says each shard is a faithful SAMPLE —
    * the property that lets one shard stand in for the corpus in
    * epoch-local training, eval sharding, or progressive loading. A
    * content-correlated sharder (e.g. sorted-by-source files) passes
    * volume balance and fails this. SCALE: map-side shard assignment,
    * (32 x sources) agg, then source-sized broadcast algebra.
    */
  val shardMix: QueryDef = QueryDef.sql(
    "q_shard_mix",
    s"""WITH m AS (SELECT ${polyHashSql("'shard|' || CAST(doc_id AS VARCHAR)")} % 32 AS shard,
       |                 source FROM documents),
       |ss AS (SELECT shard, source, count(*) AS n FROM m GROUP BY 1, 2),
       |sh AS (SELECT shard, sum(n) AS n_s FROM ss GROUP BY 1),
       |src AS (SELECT source, sum(n) AS n_src FROM ss GROUP BY 1),
       |tot AS (SELECT sum(n) AS td FROM ss),
       |dev AS (SELECT ss.shard,
       |               abs(ss.n * 10000 // sh.n_s - src.n_src * 10000 // tot.td) AS d
       |        FROM ss JOIN sh ON sh.shard = ss.shard
       |                JOIN src ON src.source = ss.source, tot)
       |SELECT CAST(dev.shard AS BIGINT) AS shard,
       |       CAST(sh.n_s AS BIGINT) AS n_docs,
       |       CAST(max(d) AS BIGINT) AS max_dev_bp,
       |       CAST(sum(d) AS BIGINT) AS sum_dev_bp
       |FROM dev JOIN sh ON sh.shard = dev.shard
       |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val m = Tables(spark, dir, "documents")
      .select((polyHash(concat(lit("shard|"), col("doc_id").cast("string"))) % 32).as("shard"),
        col("source"))
    val ss = m.groupBy("shard", "source").agg(count(lit(1)).as("n"))
    val sh = ss.groupBy("shard").agg(sum("n").as("n_s"))
    val src = ss.groupBy("source").agg(sum("n").as("n_src"))
    val tot = ss.agg(sum("n").as("td"))
    ss.join(sh, "shard").join(broadcast(src), "source").crossJoin(broadcast(tot))
      .select(col("shard"), col("n_s"),
        abs(expr("n * 10000 DIV n_s") - expr("n_src * 10000 DIV td")).as("d"))
      .groupBy(col("shard"), col("n_s").as("n_docs"))
      .agg(max("d").as("max_dev_bp"), sum("d").as("sum_dev_bp"))
  }

  /** Mixture rebalancing — per-language keep rates that level the corpus
    * toward a uniform language mix: rate = min(1, target/actual) with
    * target = ⌊total/n_langs⌋. The sampling-rate computation that
    * precedes `q_domain_mix`'s hash-gated application. All integer
    * arithmetic (products stay < 2^53, so both engines' doubles are
    * exact); one vocabulary-sized aggregate plus a broadcast total.
    */
  val mixRebalance: QueryDef = QueryDef.sql(
    "q_mix_rebalance",
    """WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS nl FROM s)
      |SELECT s.lang, s.n,
      |       CAST(floor(t.tot / t.nl) AS BIGINT) AS target_docs,
      |       CAST(least(10000, floor(floor(t.tot / t.nl) * 10000.0 / s.n)) AS BIGINT) AS keep_bp,
      |       CAST(floor(s.n * least(10000, floor(floor(t.tot / t.nl) * 10000.0 / s.n)) / 10000.0) AS BIGINT) AS expect_kept
      |FROM s, t""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val t = s.agg(sum(col("n")).as("tot"), count(lit(1)).as("nl"))
    val target = floor(col("tot") / col("nl"))
    val keepBp = least(lit(10000L), floor(target * 10000.0 / col("n")))
    s.crossJoin(broadcast(t))
      .select(col("lang"), col("n"),
        target.cast("long").as("target_docs"),
        keepBp.cast("long").as("keep_bp"),
        floor(col("n") * keepBp / 10000.0).cast("long").as("expect_kept"))
  }

  private val CoresetK = 8 // k-center selections

  private val Q20d = 1048576.0 // quantization grid shared with q_mmr_select

  /** Shared greedy farthest-first loop behind both k-center queries.
    * `incremental = false` is the literal Gonzalez form: each round
    * recomputes min-dist against ALL ≤k broadcast centers (O(k·d) per
    * point per round — fine at small K, K full-width scans total).
    * `incremental = true` is the running-min-dist variant for
    * large K: the frame carries one
    * persisted `mind` column and each round folds in ONLY the newest
    * center (`mind := least(mind, dist²(e, c_new))`) before the
    * argmax — O(d) per point per round, so per-round cost is FLAT in
    * K instead of linear. Identical picks by construction: after
    * round r both forms hold mind = min over centers 1..r of dist²,
    * the same integer, and ties break on the same vec_id order — a
    * property test pins the trajectories equal, and both queries
    * share one oracle. Cache discipline: at most two generations of
    * the (vec_id, e, mind) frame live (MEMORY_AND_DISK_SER, the BPE
    * sliding window).
    *
    * LINEAGE TRUNCATION (found by a K∈{256,1024} probe): persist truncates EXECUTION but not the
    * LOGICAL plan — each round's frame nests every prior fold, so
    * Catalyst re-analyzes an O(step)-deep tree per round (per-round
    * cost measured 0.127 s at K=32 → 0.249 s at K=256 on sf0.1, and
    * the K=256 run CRASHED outright on a default JVM stack — analyzer
    * recursion over the 255-deep tree). Every [[CkptEvery]] rounds the
    * generation is `localCheckpoint`ed instead: flat LogicalRDD plan,
    * bounded analyzer depth, per-round cost flat in K (re-probed
    * receipts in PLANS.md; ScaleSlopeSpec gates the flatness ratio).
    */
  private val CkptEvery = 32

  private[graft] def kcenterRun(spark: SparkSession, dir: String, k: Int,
      incremental: Boolean): DataFrame = {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // every greedy round re-reads the quantized frame (K argmax jobs,
    // plus each literal-form round recomputes it under the fold) — one
    // scan+quantize pass, materialized (Θ(N·d) longs;
    // durability: lineage-severed, non-replicated)
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * lit(Q20d)).cast("long")).as("e"))
      .localCheckpoint()
    var centers = emb.orderBy("vec_id").limit(1).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toVector
    var out = Vector((1L, centers.headOption.map(_._1), Option(0L)))
    def dist2To(c: Array[Long]) =
      aggregate(zip_with(col("e"), typedLit(c.toSeq),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, b) => a + b)
    var frame = emb.withColumn("mind", lit(Long.MaxValue))
    var prevGen: Option[DataFrame] = None
    var sinceCkpt = 0
    // a round that finds no point left ends the selection; the oracle
    // picks NULL at every later step
    for (step <- 2 to k if centers.size == step - 1) {
      val newest = centers.last._2
      if (incremental) {
        val folded = frame.withColumn("mind", least(col("mind"), dist2To(newest)))
        sinceCkpt += 1
        if (sinceCkpt >= CkptEvery) {
          // truncate the logical lineage: eager localCheckpoint yields a
          // flat LogicalRDD, so analyzer work stays bounded at any K;
          // the checkpoint job replaces (not adds to) the argmax's
          // materialization work, and stale checkpoint blocks are
          // reclaimed by the ContextCleaner once unreferenced
          frame = folded.localCheckpoint()
          sinceCkpt = 0
          prevGen.foreach(_.unpersist(false))
          prevGen = None
        } else {
          frame = folded.persist(StorageLevel.MEMORY_AND_DISK_SER)
        }
      } else {
        // recompute against the full center set (the literal form)
        val mind = centers.map { case (_, c) => dist2To(c) }.reduce(least(_, _))
        frame = emb.withColumn("mind", mind)
      }
      val far = frame.filter(!col("vec_id").isInCollection(centers.map(_._1)))
        .select(col("vec_id"), col("e"), col("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
        .collect()
      // the argmax above MATERIALIZED this generation into cache — only
      // now is the previous one safe to drop (unpersisting before the
      // action would force every round to recompute the whole fold
      // chain from the scan: O(k) per round, the exact cost this
      // variant exists to avoid)
      if (incremental) {
        prevGen.foreach(_.unpersist(false))
        prevGen = Some(frame)
      }
      for (r <- far) {
        centers = centers :+ ((r.getLong(0), r.getSeq[Long](1).toArray))
        out = out :+ ((step.toLong, Option(r.getLong(0)), Option(r.getLong(2))))
      }
    }
    prevGen.foreach(_.unpersist(false))
    (out ++ (out.size + 1 to k).map(s => (s.toLong, None, None)))
      .toDF("step", "picked", "radius_q")
  }

  /** K-CENTER CORESET — greedy farthest-first traversal: seed with the
    * lowest vec_id, then k−1 times pick the point maximizing its
    * distance to the nearest already-selected center (squared L2 on the
    * Q20 integer grid — exact in both engines, the `q_mmr_select`
    * discipline; ties to lower vec_id). The per-step radius is the
    * classic 2-approximation certificate: after k picks every point
    * sits within radius_q of a center. This is the data-pruning
    * selection that maximizes COVERAGE of embedding space (where MMR
    * balances relevance, and SemDeDup removes redundancy).
    *
    * SCALE: each round is a map-only distance evaluation against ≤k
    * broadcast centers (zip_with/aggregate integer algebra inside
    * whole-stage codegen) feeding a TakeOrderedAndProject(1) — no
    * shuffle, no materialized distance matrix; driver state is k rows.
    * K scans of the corpus total. At 100 TB the same loop holds
    * (centers stay a driver-side array); when K grows past tens one
    * switches to the running-min-dist variant (persist one column,
    * compare against the single new center per round — O(N·K) work in
    * amortized one pass) or composes per-partition candidates first.
    */
  val kcenterCoreset: QueryDef = QueryDef.sql(
    "q_kcenter_coreset", {
      val mind = "list_min(list_transform(vecs, v -> CAST(list_sum(" +
        "list_transform(list_zip(i.e, v), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)))"
      def pick(sel: String) =
        s"""(SELECT $sel FROM iv i WHERE NOT list_contains(ids, i.vec_id)
           |ORDER BY $mind DESC, i.vec_id LIMIT 1)""".stripMargin
      s"""WITH RECURSIVE
         |iv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x * $Q20d) AS BIGINT)) AS e
         |       FROM embeddings),
         |sel AS (
         |  SELECT 1 AS step,
         |         (SELECT vec_id FROM iv ORDER BY vec_id LIMIT 1) AS picked,
         |         CAST(0 AS BIGINT) AS radius_q,
         |         [(SELECT e FROM iv ORDER BY vec_id LIMIT 1)] AS vecs,
         |         [(SELECT vec_id FROM iv ORDER BY vec_id LIMIT 1)] AS ids
         |  UNION ALL
         |  SELECT step + 1, ${pick("i.vec_id")}, ${pick(mind)},
         |         list_append(vecs, ${pick("i.e")}),
         |         list_append(ids, ${pick("i.vec_id")})
         |  FROM sel WHERE step < $CoresetK)
         |SELECT CAST(step AS BIGINT) AS step, CAST(picked AS BIGINT) AS picked, radius_q
         |FROM sel""".stripMargin
    }) { (spark, dir) => kcenterRun(spark, dir, CoresetK, incremental = false) }

  /** RUNNING-MIN-DIST K-CENTER — the large-K twin of
    * [[kcenterCoreset]] (same picks, same oracle; see [[kcenterRun]]):
    * per-round work drops from O(k·d) to O(d) per point, which is the
    * difference between K scans costing Θ(K²·d·N) total and Θ(K·d·N)
    * — at K in the hundreds (coreset sizes for real pruning runs) the
    * literal form pays a quadratic the incremental form does not.
    */
  val kcenterInc: QueryDef = QueryDef.sql(
    "q_kcenter_inc", kcenterCoreset.oracle.get) { (spark, dir) =>
    kcenterRun(spark, dir, CoresetK, incremental = true)
  }

  /** ARTIFACT-BACKED coreset — the k-center member of the
    * artifact-twin family (`q_quality_score_artifact` /
    * `q_ivf_probe_artifact` / `q_pq_codes_artifact` /
    * `q_bpe_encode_artifact`): run the selection, PERSIST it
    * ([[graft.pipelines.ModelArtifacts.saveCoreset]]), and emit the
    * LOADED copy under [[kcenterCoreset]]'s oracle — for a coreset the
    * artifact IS the served output (center ids + radius certificates;
    * downstream pruning semi-joins the ids), so the round-trip is the
    * whole serving path and the driver's hash gate proves it exact.
    */
  val kcenterArtifact: QueryDef = QueryDef.sql(
    "q_kcenter_artifact", kcenterCoreset.oracle.get) { (spark, dir) =>
    val path = s"/tmp/graft_artifacts/${spark.sparkContext.applicationId}/" +
      s"${dir.replaceAll("[^A-Za-z0-9.]", "_")}/kcenter_coreset.parquet"
    graft.pipelines.ModelArtifacts.saveCoreset(spark,
      kcenterRun(spark, dir, CoresetK, incremental = true), path)
    graft.pipelines.ModelArtifacts.loadCoreset(spark, path)
  }

  /** TOKEN-BUDGET MIXING PLANNER — the table a pretraining run is
    * configured from: given the corpus's per-source token inventory
    * and a temperature-flattened target mix (weight ∝ √tokens, the
    * `q_temperature_mix` rule applied to TOKENS, which is what a
    * budget is denominated in), plan a half-corpus token budget
    * B = Σtokens / 2 and emit per source its target token allocation
    * and the implied EPOCH count (Q20): epochs_q > 2^20 means the
    * source is upsampled past one pass — the low-resource repetition
    * knob made explicit, exactly the number a data loader needs.
    * Pure integer algebra on a |sources|-row frame after one corpus
    * aggregate.
    */
  val mixEpochs: QueryDef = QueryDef.sql(
    "q_mix_epochs",
    s"""WITH s AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
       |           FROM documents GROUP BY source),
       |w AS (SELECT source, avail,
       |             CAST(floor(sqrt(CAST(avail AS DOUBLE)) * $Q20) AS BIGINT) AS wq
       |      FROM s),
       |t AS (SELECT CAST(sum(avail) AS BIGINT) AS tot, CAST(sum(wq) AS BIGINT) AS wtot FROM w)
       |SELECT w.source, w.avail,
       |       CAST(w.wq * 10000 // t.wtot AS BIGINT) AS share_bp,
       |       CAST((t.tot // 2) * w.wq // t.wtot AS BIGINT) AS target_tokens,
       |       CAST(((t.tot // 2) * w.wq // t.wtot) * $Q20 // w.avail AS BIGINT) AS epochs_q
       |FROM w, t""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("avail"))
    val w = s.select(col("source"), col("avail"),
      floor(sqrt(col("avail").cast("double")) * Q20).cast("long").as("wq"))
    val t = w.agg(sum("avail").cast("long").as("tot"), sum("wq").cast("long").as("wtot"))
    w.crossJoin(broadcast(t))
      .select(col("source"), col("avail"),
        expr("wq * 10000 DIV wtot").as("share_bp"),
        expr("(tot DIV 2) * wq DIV wtot").as("target_tokens"),
        expr("((tot DIV 2) * wq DIV wtot) * 1048576 DIV avail").as("epochs_q"))
  }

  /** PARETO / SKYLINE DOCUMENT SELECT — the non-dominated set on two
    * axes a budgeted selector trades off: token COST (minimize
    * `n_tok`) vs lexical-diversity QUALITY (maximize `q_bp`, distinct
    * tokens per token in basis points). A doc is dominated iff some
    * other doc is at least as good on both axes and strictly better on
    * one; ties on both axes all survive (no strict dominator), matching
    * the oracle's NOT EXISTS definition exactly.
    *
    * SCALE: the textbook skyline is the oracle's all-pairs NOT EXISTS —
    * Θ(n²), unusable past sandbox SF. This plan reduces the corpus to
    * its TOKEN-LENGTH HISTOGRAM first (one map-side-combined aggregate,
    * ≤ max-doc-token-count rows — the q_token_cdf rank-spine class,
    * corpus-independent by the truncation cap), runs the frontier
    * recurrence as an exclusive prefix-max over that domain-bounded
    * spine (a doc at length t survives iff q = max(q | t) and
    * q > max(q | t' < t)), and joins the surviving (t, qt) frontier
    * back — at scale a broadcast of ≤ |frontier| ≤ |distinct t| rows
    * under AQE. One corpus aggregate + one corpus join; nothing
    * pairwise, nothing corpus-scale through one task.
    */
  val skylineSelect: QueryDef = QueryDef.sql(
    "q_skyline_select",
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |                  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |                    * 10000 // len(string_split(text, ' ')) AS q_bp
      |           FROM documents)
      |SELECT doc_id, n_tok, q_bp FROM d a
      |WHERE NOT EXISTS (SELECT 1 FROM d b
      |                  WHERE b.q_bp >= a.q_bp AND b.n_tok <= a.n_tok
      |                    AND (b.q_bp > a.q_bp OR b.n_tok < a.n_tok))""".stripMargin) {
    (spark, dir) =>
      // stage the narrow (doc_id, n_tok, q_bp) projection ONCE: both the
      // histogram and the join-back consume it, and re-tokenizing the
      // full text costs far more than materializing 24 bytes/doc
      // (ScaleProbe 100x: 23.5 -> 2.5 s; the PrefixSum narrow-input
      // rule. DURABILITY: lineage-severed — the standard ledger class,
      // reliable-checkpoint escape hatch via the one conf)
      val d = graft.Durability.stage(Tables(spark, dir, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 10000" +
          " DIV size(split(text, ' '))").as("q_bp")))
      // length histogram: ≤ max-doc-token-count rows (domain-bounded)
      val byT = d.groupBy("n_tok").agg(max("q_bp").as("qt"))
      // frontier recurrence on the spine: survive iff qt beats every
      // shorter length's best quality (exclusive prefix max)
      val w = Window.orderBy(col("n_tok").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = byT
        .withColumn("prev_max", max(col("qt")).over(w))
        .filter(col("prev_max").isNull || col("qt") > col("prev_max"))
        .select(col("n_tok").as("f_tok"), col("qt"))
      d.join(frontier, d("n_tok") === frontier("f_tok") && d("q_bp") === frontier("qt"))
        .select("doc_id", "n_tok", "q_bp")
  }

  /** WATER-FILLING BUDGET ALLOCATOR — the capped-uniform complement of
    * `q_mix_epochs`' temperature mix: split a global token budget
    * B = Σavail/2 EQUALLY across sources, except that a source can
    * never contribute more than it has — its surplus is re-spread over
    * the others (the classic water-filling level solve). Exact integer
    * algebra: sources sorted by availability, k* = first rank whose
    * supply clears the residual-uniform level
    * (avail·(S−rn+1) > B − prefix), capped sources (rn < k*) give all
    * they have, the rest get the common level
    * (B − prefix_{k*}) DIV (S − k* + 1). Requires B < Σavail (true by
    * construction here); floor loses < S tokens (spec-pinned).
    *
    * SCALE: one corpus aggregate to the |sources| frame; every window/
    * scalar after that is over ≤ |S| rows (enum-bounded — WindowAllowed
    * entries) and the two broadcasts are 1-row global aggregates.
    */
  val mixWaterfill: QueryDef = QueryDef.sql(
    "q_mix_waterfill",
    """WITH s AS (SELECT source,
      |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
      |           FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(avail) AS BIGINT) AS ta,
      |             CAST(count(*) AS BIGINT) AS ns FROM s),
      |r AS (SELECT source, avail,
      |             CAST(row_number() OVER (ORDER BY avail, source) AS BIGINT) AS rn,
      |             CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pfx
      |      FROM s),
      |k AS (SELECT min(r.rn) AS k, min_by(r.pfx, r.rn) AS pk
      |      FROM r, t WHERE r.avail * (t.ns - r.rn + 1) > (t.ta // 2) - r.pfx)
      |SELECT r.source, r.avail,
      |       CAST(CASE WHEN r.rn < k.k THEN r.avail
      |            ELSE ((t.ta // 2) - k.pk) // (t.ns - k.k + 1) END AS BIGINT)
      |         AS alloc_tokens,
      |       CAST(CASE WHEN r.rn < k.k THEN 1 ELSE 0 END AS BIGINT) AS capped
      |FROM r, t, k""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("avail"))
    val t = s.agg(sum("avail").cast("long").as("ta"), count(lit(1)).as("ns"))
    val wOrd = Window.orderBy(col("avail"), col("source"))
    val r = s
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("pfx", coalesce(
        sum("avail").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val rt = r.crossJoin(broadcast(t))
    val k = rt.filter(expr("avail * (ns - rn + 1) > (ta DIV 2) - pfx"))
      .agg(min("rn").as("k"), min_by(col("pfx"), col("rn")).as("pk"))
    rt.crossJoin(broadcast(k))
      .select(col("source"), col("avail"),
        when(col("rn") < col("k"), col("avail"))
          .otherwise(expr("((ta DIV 2) - pk) DIV (ns - k + 1)")).as("alloc_tokens"),
        when(col("rn") < col("k"), 1L).otherwise(0L).as("capped"))
  }

  /** Temperature-flattened source mixing: sampling weight ∝ n^(1/2)
    * instead of ∝ n — the standard low-resource upsampling rule. sqrt
    * is correctly-rounded IEEE in both engines and the normalization is
    * exact integer division over the quantized weights, so the emitted
    * shares match bit-for-bit. Source-count-sized data end to end.
    */
  val temperatureMix: QueryDef = QueryDef.sql(
    "q_temperature_mix",
    s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
       |w AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * $Q20) AS BIGINT) AS wq
       |      FROM s),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(sum(wq) AS BIGINT) AS wtot FROM w)
       |SELECT w.source, w.n,
       |       CAST(floor(w.n * 10000.0 / t.tot) AS BIGINT) AS share_bp,
       |       CAST(floor(w.wq * 10000.0 / t.wtot) AS BIGINT) AS temp_bp
       |FROM w, t""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
    val w = s.select(col("source"), col("n"),
      floor(sqrt(col("n").cast("double")) * Q20).cast("long").as("wq"))
    val t = w.agg(sum(col("n")).as("tot"), sum(col("wq")).as("wtot"))
    w.crossJoin(broadcast(t))
      .select(col("source"), col("n"),
        floor(col("n") * 10000.0 / col("tot")).cast("long").as("share_bp"),
        floor(col("wq") * 10000.0 / col("wtot")).cast("long").as("temp_bp"))
  }

  /** Deterministic hash-shard assignment balance — the re-shard step
    * that fans the corpus out to training workers: shard = salted
    * content-independent hash of doc_id mod 32 (id-keyed, so a re-crawl
    * with different text lands on the same shard — the same
    * `q_sample_split` salted-hash discipline), reported as per-shard
    * doc/token volume with deviation from the uniform ideal in basis
    * points. Map-side assignment inside the scan + one 32-group
    * aggregate + a broadcast total: nothing here changes shape at
    * 100 TB, which is the point — the report EXISTS to prove the
    * assignment stays balanced when the corpus grows.
    */
  val shardAssign: QueryDef = QueryDef.sql(
    "q_shard_assign",
    s"""WITH m AS (SELECT ${polyHashSql("'shard|' || CAST(doc_id AS VARCHAR)")} % 32 AS shard,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |           FROM documents),
       |s AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n) AS BIGINT) AS tot_tokens
       |      FROM m GROUP BY shard),
       |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
       |             CAST(sum(tot_tokens) AS BIGINT) AS tt FROM s)
       |SELECT s.shard, s.n_docs, s.tot_tokens,
       |       CAST(floor(abs(s.n_docs * 32 - t.td) * 10000.0 / t.td) AS BIGINT) AS doc_dev_bp,
       |       CAST(floor(abs(s.tot_tokens * 32 - t.tt) * 10000.0 / t.tt) AS BIGINT) AS tok_dev_bp
       |FROM s, t""".stripMargin) { (spark, dir) =>
    val m = Tables(spark, dir, "documents")
      .select((polyHash(concat(lit("shard|"), col("doc_id").cast("string"))) % 32).as("shard"),
        size(tokens(col("text"))).cast("long").as("n"))
    val s = m.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tot_tokens"))
    val t = s.agg(sum(col("n_docs")).as("td"), sum(col("tot_tokens")).as("tt"))
    s.crossJoin(broadcast(t))
      .select(col("shard"), col("n_docs"), col("tot_tokens"),
        floor(abs(col("n_docs") * 32 - col("td")) * 10000.0 / col("td"))
          .cast("long").as("doc_dev_bp"),
        floor(abs(col("tot_tokens") * 32 - col("tt")) * 10000.0 / col("tt"))
          .cast("long").as("tok_dev_bp"))
  }

  /** Epoch planning under a token budget: allocate a 1M-token training
    * budget across sources by the sqrt-temperature weights of
    * `q_temperature_mix` (computed on TOKENS, not docs), and report the
    * implied repeat factor — how many epochs of each source the budget
    * buys (epochs_centi = 100·alloc/tokens; > 100 means the source is
    * repeated, the small-but-high-weight-domain regime). One per-source
    * aggregate plus broadcast totals: the plan is `q_temperature_mix`'s,
    * invariant to corpus scale past the first agg. The one double sqrt
    * is floor-absorbed onto the 2^20 grid (the shared idiom), all
    * downstream arithmetic exact integers.
    */
  val epochPlan: QueryDef = QueryDef.sql(
    "q_epoch_plan",
    """WITH s AS (SELECT source,
      |                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |          FROM documents GROUP BY source),
      |w AS (SELECT source, tokens,
      |             CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS wq
      |      FROM s),
      |t AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM w)
      |SELECT w.source, w.tokens,
      |       CAST(w.wq * 1000000 // t.wtot AS BIGINT) AS alloc_tokens,
      |       CAST((w.wq * 1000000 // t.wtot) * 100 // w.tokens AS BIGINT) AS epochs_centi
      |FROM w, t""".stripMargin) { (spark, dir) =>
    val s = Tables(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("tokens"))
    val w = s.select(col("source"), col("tokens"),
      floor(sqrt(col("tokens").cast("double")) * 1048576.0).cast("long").as("wq"))
    val t = w.agg(sum(col("wq")).as("wtot"))
    w.crossJoin(broadcast(t))
      // integral DIV on both sides (DuckDB `//`): exact at any scale,
      // never a truncated double quotient
      .select(col("source"), col("tokens"),
        expr("wq * 1000000 DIV wtot").as("alloc_tokens"),
        expr("(wq * 1000000 DIV wtot) * 100 DIV tokens").as("epochs_centi"))
  }

  /** Z-ORDER LAYOUT PLANNER — the data-layout decision itself as a
    * query. lineitem rows are normalized onto a 256×256 (partkey,
    * suppkey) grid, assigned to 64 files two ways — a Morton-key range
    * split (Z-order, `zkey DIV 1024`) and a single-column lexicographic
    * sort split (`xq DIV 4`) — and 8 single-dimension range probes (4
    * per dimension) are priced against each layout's per-file min/max
    * zone maps: a file is "hit" when its [min,max] envelope on the
    * probed dimension overlaps the probe range. The report shows the
    * classic trade: the lex layout prunes partkey probes perfectly and
    * suppkey probes not at all (all 64 files hit), while Z-order prunes
    * BOTH dimensions to ~sqrt coverage — why multi-predicate workloads
    * Z-order their tables.
    *
    * SCALE: grid coordinates and Morton keys are map-side integral
    * arithmetic over a broadcast 1-row extent; each layout's zone map is
    * a 64-row aggregate; probe pricing joins 8×64 broadcast-sized
    * tables. The only corpus-shaped work is one scan + two 64-key
    * aggregates — the planner costs (almost) nothing at any scale,
    * which is exactly why zone-map pruning reports are run fleet-wide.
    */
  val zorderLayout: QueryDef = QueryDef.sql(
    "q_zorder_layout",
    s"""WITH ext AS (SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
       |                   min(l_suppkey) AS mins, max(l_suppkey) AS maxs
       |            FROM lineitem),
       |g AS (SELECT ((l_partkey - minp) * 255) // greatest(maxp - minp, 1) AS xq,
       |             ((l_suppkey - mins) * 255) // greatest(maxs - mins, 1) AS yq
       |      FROM lineitem, ext),
       |z AS (SELECT xq, yq, ${mortonDuck("xq", "yq")} AS zkey FROM g),
       |zf AS (SELECT zkey // 1024 AS f, min(xq) AS minx, max(xq) AS maxx,
       |              min(yq) AS miny, max(yq) AS maxy
       |       FROM z GROUP BY 1),
       |lf AS (SELECT xq // 4 AS f, min(xq) AS minx, max(xq) AS maxx,
       |              min(yq) AS miny, max(yq) AS maxy
       |       FROM g GROUP BY 1),
       |probes(probe_id, dim, lo, hi) AS (
       |  SELECT * FROM (VALUES (0,'part',0,63), (1,'part',64,127),
       |                        (2,'part',128,191), (3,'part',192,255),
       |                        (4,'supp',0,63), (5,'supp',64,127),
       |                        (6,'supp',128,191), (7,'supp',192,255))),
       |hz AS (SELECT p.probe_id, count(*) AS files_z
       |       FROM probes p JOIN zf
       |         ON (p.dim = 'part' AND zf.maxx >= p.lo AND zf.minx <= p.hi)
       |         OR (p.dim = 'supp' AND zf.maxy >= p.lo AND zf.miny <= p.hi)
       |       GROUP BY 1),
       |hl AS (SELECT p.probe_id, count(*) AS files_lex
       |       FROM probes p JOIN lf
       |         ON (p.dim = 'part' AND lf.maxx >= p.lo AND lf.minx <= p.hi)
       |         OR (p.dim = 'supp' AND lf.maxy >= p.lo AND lf.miny <= p.hi)
       |       GROUP BY 1),
       |rh AS (SELECT p.probe_id, count(*) AS rows_hit
       |       FROM probes p JOIN g
       |         ON (p.dim = 'part' AND g.xq BETWEEN p.lo AND p.hi)
       |         OR (p.dim = 'supp' AND g.yq BETWEEN p.lo AND p.hi)
       |       GROUP BY 1)
       |SELECT CAST(p.probe_id AS BIGINT) AS probe_id, p.dim,
       |       CAST(p.lo AS BIGINT) AS lo, CAST(p.hi AS BIGINT) AS hi,
       |       CAST(coalesce(hz.files_z, 0) AS BIGINT) AS files_z,
       |       CAST(coalesce(hl.files_lex, 0) AS BIGINT) AS files_lex,
       |       CAST(coalesce(rh.rows_hit, 0) AS BIGINT) AS rows_hit
       |FROM probes p LEFT JOIN hz USING (probe_id)
       |     LEFT JOIN hl USING (probe_id) LEFT JOIN rh USING (probe_id)""".stripMargin) {
    (spark, dir) =>
      val g = lineitemGrid(spark, dir)
      val z = g.withColumn("zkey", expr(mortonSpark("xq", "yq")))
      val zf = zoneMap(z, "zkey DIV 1024")
      val lf = zoneMap(g, "xq DIV 4")
      import spark.implicits._
      val probes = Seq(
        (0, "part", 0, 63), (1, "part", 64, 127), (2, "part", 128, 191),
        (3, "part", 192, 255), (4, "supp", 0, 63), (5, "supp", 64, 127),
        (6, "supp", 128, 191), (7, "supp", 192, 255))
        .toDF("probe_id", "dim", "lo", "hi")
      val hz = overlap(probes, zf, "files_z")
      val hl = overlap(probes, lf, "files_lex")
      // rows_hit: 8-row probe table broadcast against the scan, map-side
      val rh = g.join(broadcast(probes),
          (col("dim") === "part" && col("xq").between(col("lo"), col("hi"))) ||
          (col("dim") === "supp" && col("yq").between(col("lo"), col("hi"))))
        .groupBy("probe_id").agg(count(lit(1)).as("rows_hit"))
      probes
        .join(hz, Seq("probe_id"), "left")
        .join(hl, Seq("probe_id"), "left")
        .join(rh, Seq("probe_id"), "left")
        .select(col("probe_id").cast("long").as("probe_id"), col("dim"),
          col("lo").cast("long").as("lo"), col("hi").cast("long").as("hi"),
          coalesce(col("files_z"), lit(0L)).as("files_z"),
          coalesce(col("files_lex"), lit(0L)).as("files_lex"),
          coalesce(col("rows_hit"), lit(0L)).as("rows_hit"))
  }

  private val Q40 = "1099511627776.0" // 2^40, the repo's ln-term grid

  /** DSIR — hashed-bigram importance weights for target-distribution
    * selection: treat sources src0-src4 as the "target" (curated) set,
    * the whole corpus as "raw", featurize every document by its
    * adjacent-token bigrams hashed onto 1024 buckets, and score each
    * document by the summed log-likelihood-ratio of its bigram
    * occurrences under the two smoothed bucket distributions. Top-20
    * by score = the raw documents that look most target-like — the
    * published recipe's selection step with resampling replaced by
    * deterministic top-k (RNG-free, rerun-stable).
    *
    * SCALE: bigram emission is map-side; bucket stats are a
    * 1024-bounded aggregate; the weight table broadcasts (1024 rows);
    * the per-doc score is one corpus-shaped doc-keyed sum; top-20 is
    * TakeOrderedAndProject. Nothing pairwise, nothing corpus-global
    * but the two scalar totals.
    */
  val dsir: QueryDef = QueryDef.sql(
    "q_dsir",
    s"""WITH tk AS (SELECT doc_id,
       |                  source IN ('src0','src1','src2','src3','src4') AS tgt,
       |                  string_split(text, ' ') AS toks FROM documents),
       |big AS (SELECT doc_id, tgt,
       |               ${polyHashSql("toks[i] || ' ' || toks[i+1]")} % 1024 AS b
       |        FROM tk, unnest(range(1, len(toks))) u(i)),
       |tc AS (SELECT b, count(*) FILTER (WHERE tgt) AS ct, count(*) AS cr
       |       FROM big GROUP BY b),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
       |        FROM tc),
       |w AS (SELECT b, CAST(floor(ln(((ct + 1) * 1.0 / (nt + 1024))
       |                             / ((cr + 1) * 1.0 / (nr + 1024))) * $Q40)
       |                 AS BIGINT) AS wq
       |      FROM tc, tot),
       |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |              CAST(sum(wq) AS BIGINT) AS score_q40
       |       FROM big JOIN w USING (b) GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, score_q40 FROM ds
       |ORDER BY score_q40 DESC, doc_id LIMIT 20""".stripMargin) { (spark, dir) =>
    val big = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        col("source").isin("src0", "src1", "src2", "src3", "src4").as("tgt"),
        tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("tgt"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("bg"))
      .select(col("doc_id"), col("tgt"), pmod(polyHash(col("bg")), lit(1024L)).as("b"))
      // bucketed bigram frame feeds the 1024-bucket stats AND the
      // per-doc score join — one explode pass, not two (
      // durability: lineage-severed, non-replicated)
      .localCheckpoint()
    val tc = big.groupBy("b")
      .agg(count(when(col("tgt"), 1)).as("ct"), count(lit(1)).as("cr"))
    val tot = tc.agg(sum("ct").cast("long").as("nt"), sum("cr").cast("long").as("nr"))
    val w = tc.crossJoin(broadcast(tot)).select(col("b"),
      floor(log(((col("ct") + 1) * lit(1.0) / (col("nt") + 1024))
        / ((col("cr") + 1) * lit(1.0) / (col("nr") + 1024))) * expr(Q40))
        .cast("long").as("wq"))
    big.join(broadcast(w), "b").groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("wq").cast("long").as("score_q40"))
      .orderBy(col("score_q40").desc, col("doc_id")).limit(20)
      .select(col("doc_id"), col("n_bigrams"), col("score_q40"))
  }

  /** RENDEZVOUS (HRW) SHARDING with a measured resize-churn bound: each
    * document goes to the shard with the highest hash(doc, shard) —
    * the assignment that stays put for all but ~1/(n+1) of keys when a
    * shard is added (vs `pmod`, which moves nearly everything). The
    * query computes both the 16-shard and 17-shard assignments and
    * reports per-shard counts plus how many documents MOVED — the
    * consistent-hashing guarantee as a measurable row, not a claim
    * (expected moved/total ≈ 1/17 ≈ 5.9%).
    *
    * SCALE: the argmax over 17 hashes is a map-side `aggregate` HOF
    * fold per document (no explode, no shuffle); the two shard
    * aggregates are 17-bounded. At 100 TB this is exactly how a
    * re-sharding plan is priced before moving a byte.
    */
  val rendezvousShard: QueryDef = QueryDef.sql(
    "q_rendezvous_shard",
    s"""WITH hx AS (SELECT doc_id, s,
       |                  ${polyHashSql("CAST(s AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)")} AS x
       |           FROM documents, unnest(range(0, 17)) u(s)),
       |hw AS (SELECT doc_id, s, (x * x) % 1000000007 AS w FROM hx),
       |m AS (SELECT doc_id, max(w) FILTER (WHERE s < 16) AS m16, max(w) AS m17
       |      FROM hw GROUP BY doc_id),
       |a AS (SELECT hw.doc_id,
       |             min(CASE WHEN s < 16 AND w = m16 THEN s END) AS a16,
       |             min(CASE WHEN w = m17 THEN s END) AS a17
       |      FROM hw JOIN m USING (doc_id) GROUP BY hw.doc_id),
       |c16 AS (SELECT a16 AS shard, count(*) AS n16 FROM a GROUP BY 1),
       |c17 AS (SELECT a17 AS shard, count(*) AS n17,
       |               count(*) FILTER (WHERE a16 <> a17) AS n_moved
       |        FROM a GROUP BY 1)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |       CAST(coalesce(n16, 0) AS BIGINT) AS n16,
       |       CAST(coalesce(n17, 0) AS BIGINT) AS n17,
       |       CAST(coalesce(n_moved, 0) AS BIGINT) AS n_moved
       |FROM c16 FULL JOIN c17 USING (shard)""".stripMargin) { (spark, dir) =>
    // the raw polynomial hash is AFFINE in its prefix: w(s1) - w(s2)
    // collapses to (h(s1#) - h(s2#))·31^len(doc) mod p, a constant per
    // doc-id length class, so the per-doc argmax degenerates (observed:
    // every doc on one shard). Squaring mod p adds the cross term
    // 2·h(s#)·31^k·doc — non-linear in the doc part, which is what a
    // rendezvous weight needs; x ≤ 1e9 so x² fits a long exactly in
    // both engines.
    val hs = (0 until 17).map { s =>
      val x = polyHash(concat(lit(s + "#"), col("doc_id").cast("string")))
      struct(pmod(x * x, lit(1000000007L)).as("w"), lit(s.toLong).as("s"))
    }
    // strict > keeps the earlier (lower-index) element on ties — the
    // same tie rule as the oracle's max-then-min-shard two-step
    val argmax = "aggregate(%s, named_struct('w', CAST(-1 AS BIGINT), " +
      "'s', CAST(-1 AS BIGINT)), (acc, x) -> IF(x.w > acc.w, x, acc)).s"
    val a = Tables(spark, dir, "documents")
      .select(col("doc_id"), array(hs: _*).as("arr"))
      .select(col("doc_id"),
        expr(argmax.format("slice(arr, 1, 16)")).as("a16"),
        expr(argmax.format("arr")).as("a17"))
    val c16 = a.groupBy(col("a16").as("shard")).agg(count(lit(1)).as("n16"))
    val c17 = a.groupBy(col("a17").as("shard")).agg(count(lit(1)).as("n17"),
      count(when(col("a16") =!= col("a17"), 1)).as("n_moved"))
    c16.join(c17, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n16"), lit(0L)).as("n16"),
        coalesce(col("n17"), lit(0L)).as("n17"),
        coalesce(col("n_moved"), lit(0L)).as("n_moved"))
  }

  /** Per-source unigram KL divergence against the corpus distribution —
    * the domain-drift score a mix controller reads before reweighting
    * sources (a source whose token distribution wanders from the
    * corpus mean gets flagged). Add-one smoothing over the corpus
    * vocabulary; each ln term floor-quantized on the 2^40 grid and
    * weighted by the source's token count, so the reported `kl_q40` is
    * an exact integer both engines reproduce (divide by n_tokens for
    * nats). Terms run over tokens PRESENT in the source (the standard
    * observed-support variant).
    *
    * SCALE: token counts are vocabulary×sources-bounded aggregates;
    * the join is token-keyed (vocabulary-sized, not corpus-sized);
    * scalar totals broadcast.
    */
  val sourceKl: QueryDef = QueryDef.sql(
    "q_source_kl",
    s"""WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
       |st AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
       |ct AS (SELECT tok, count(*) AS cc FROM tk GROUP BY 1),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1),
       |scal AS (SELECT count(*) AS nc, count(DISTINCT tok) AS v FROM tk)
       |SELECT st.source, CAST(max(ns.ns) AS BIGINT) AS n_tokens,
       |       CAST(sum(st.c * CAST(floor(ln(((st.c + 1) * 1.0 / (ns.ns + v))
       |                                    / ((ct.cc + 1) * 1.0 / (nc + v))) * $Q40)
       |                            AS BIGINT)) AS BIGINT) AS kl_q40
       |FROM st JOIN ct USING (tok) JOIN ns ON ns.source = st.source, scal
       |GROUP BY st.source""".stripMargin) { (spark, dir) =>
    val tk = Tables(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val st = tk.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val ct = tk.groupBy("tok").agg(count(lit(1)).as("cc"))
    val ns = st.groupBy("source").agg(sum("c").cast("long").as("ns"))
    val scal = tk.agg(count(lit(1)).as("nc"), countDistinct("tok").as("v"))
    st.join(ct, "tok").join(broadcast(ns), "source").crossJoin(broadcast(scal))
      .select(col("source"), col("ns"),
        (col("c") * floor(log(((col("c") + 1) * lit(1.0) / (col("ns") + col("v")))
          / ((col("cc") + 1) * lit(1.0) / (col("nc") + col("v")))) * expr(Q40))
          .cast("long")).as("t"))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"), sum("t").cast("long").as("kl_q40"))
  }

  /** Deterministic content-hash train/val/test split — the standard
    * pipeline op for reproducible dataset partitioning at any scale:
    * the assignment depends only on document CONTENT (stable under
    * re-sharding, re-ids, and incremental reruns; duplicate texts land
    * in the same split, so no train/test leakage through near-copies of
    * exact dups). Pure integer algebra (polyhash mod 100), replayed
    * identically by the oracle. Map-side only: no shuffle at all.
    */
  val sampleSplit: QueryDef = QueryDef.sql(
    "q_sample_split",
    s"""WITH h AS (SELECT doc_id, ${polyHashSql("text")} % 100 AS bucket FROM documents)
       |SELECT doc_id, bucket,
       |       CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM h""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"), (polyHash(col("text")) % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
  }

  /** Per-language keep rates ×10000 for the mixture sampler. */
  private val MixRates = Seq(
    "en" -> 10000, "de" -> 5000, "fr" -> 2500, "es" -> 1000) // others 500

  /** Domain-mixture sampling — deterministic per-group downsampling to
    * a target language mix (the data-mixture step before training).
    * Keep decision = salted content hash under the group's rate, so it
    * is stable under re-sharding and incremental reruns, independent of
    * the train/val/test split hash (different salt), and exact dups
    * always land together. Counts are exact integers — no tolerance
    * needed, unlike rng-based `sample()` which is neither cross-engine
    * nor re-run reproducible.
    */
  val domainMix: QueryDef = QueryDef.sql(
    "q_domain_mix", {
      val cases = MixRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""WITH h AS (SELECT doc_id, lang,
         |                  ${polyHashSql("text || 'mix'")} % 10000 AS u FROM documents),
         |r AS (SELECT lang, u,
         |             CASE lang $cases ELSE 500 END AS keep_below FROM h)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(CASE WHEN u < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM r GROUP BY lang""".stripMargin
    }) { (spark, dir) =>
    val u = polyHash(concat(col("text"), lit("mix"))) % 10000
    val keepBelow = MixRates.foldLeft(lit(500)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables(spark, dir, "documents")
      .select(col("lang"), u.as("u"), keepBelow.as("keep_below"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("u") < col("keep_below"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
    * A-Res scheme, THE one-pass distributed algorithm for "sample 100
    * docs proportional to length/quality": each doc draws key
    * −ln(u)/w and the k SMALLEST keys are the sample (equivalent to
    * the classic u^(1/w) max-key form; this orientation keeps floor
    * quantization order-preserving). u is hash-derived (salted polyhash
    * onto a 2^20 grid, +1 so u>0) — deterministic, re-shard-stable,
    * RNG-free like `q_sample_split`. The key is quantized to 2^40 only
    * for OUTPUT/tie purposes; selection order uses the same quantized
    * value in both engines so the sample set is bit-identical. SCALE:
    * map-only key computation + top-k (TakeOrderedAndProject — the
    * per-partition-heap shape); the rank window runs on the 100-row
    * result, never the corpus.
    */
  val weightedSample: QueryDef = QueryDef.sql(
    "q_weighted_sample",
    s"""WITH w AS (SELECT doc_id, greatest(n_chars, 1) AS w,
       |                 ${polyHashSql("text || 'samp'")} % 1048576 + 1 AS uq
       |          FROM documents),
       |k AS (SELECT doc_id, w,
       |             CAST(floor(-ln(uq / 1048577.0) * 1099511627776.0
       |                        / CAST(w AS DOUBLE)) AS BIGINT) AS key_q40
       |      FROM w),
       |top AS (SELECT * FROM k ORDER BY key_q40, doc_id LIMIT 100)
       |SELECT CAST(row_number() OVER (ORDER BY key_q40, doc_id) AS BIGINT) AS rank,
       |       doc_id, w, key_q40
       |FROM top""".stripMargin) { (spark, dir) =>
    val k = Tables(spark, dir, "documents")
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"),
        (polyHash(concat(col("text"), lit("samp"))) % 1048576 + 1).as("uq"))
      .select(col("doc_id"), col("w"),
        floor(-log(col("uq") / lit(1048577.0)) * lit(1099511627776.0)
          / col("w").cast("double")).cast("long").as("key_q40"))
    val top = k.orderBy(col("key_q40"), col("doc_id")).limit(100)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("key_q40"), col("doc_id"))
    // rank window over the 100-row limit result, never the corpus
    top.withColumn("rank", row_number().over(win).cast("long"))
      .select(col("rank"), col("doc_id"), col("w"), col("key_q40"))
  }

  val all: Seq[QueryDef] = Seq(
    stratifiedK, recencyWeight, budgetSelect, hilbertLayout, shardManifest, corpusDiff, mmrSelect,
    shardMix, mixRebalance, kcenterCoreset, kcenterInc, kcenterArtifact, mixEpochs, skylineSelect,
    mixWaterfill, temperatureMix, shardAssign, epochPlan, zorderLayout, dsir, rendezvousShard,
    sourceKl, sampleSplit, domainMix, weightedSample)
}
