package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.multimodal.{Multimodal, Perceptual}
import org.apache.spark.sql.expressions.UserDefinedFunction
import graft.functions.TextFunctions

/** Multimodal: binary-column metadata and media batching, and the
  * perceptual near-duplicate tier — image dHash and audio fingerprints
  * computed through real codec round trips (`javax.imageio` PNG,
  * `javax.sound.sampled` WAV).
  *
  * PNG and 16-bit PCM WAV are lossless and every pixel or sample is an
  * integer function of the document text, so the DuckDB twin replays the
  * integer algebra on `text` while Spark runs encode → decode →
  * fingerprint: a mismatch means the codec path did not round-trip.
  * Media bytes live inside one projection; only (id, 64-bit hash) longs
  * reach a shuffle. The pair stage bands the 56-bit dHash into 4 × 14
  * bits, so every pair within hamming ≤ 3 shares a band (pigeonhole).
  */
object MultimodalQueries {

  val binaryMeta: QueryDef = QueryDef.sql(
    "q_binary_meta",
    """SELECT doc_id AS media_id, md5(text) AS content_md5,
      |       octet_length(CAST(text AS BLOB)) AS n_bytes
      |FROM documents""".stripMargin) { (spark, dir) =>
    Multimodal.fromText(Tables(spark, dir, "documents"), "doc_id", "text")
      .select(col("media_id"), md5(col("bytes")).as("content_md5"),
        col("meta.n_bytes").as("n_bytes"))
  }

  /** Featurization batch planning over the media table — the batch-shape
    * computation that precedes a `mapInPandas`-style decode pass: blobs
    * grouped into width-128-byte size buckets, each bucket reporting item
    * count, payload volume, and how many 64 KB featurize batches that
    * volume fills (`ceil` via integral arithmetic — the `q_packing_waste`
    * idiom on the byte axis). Size-bucketed batching is what keeps GPU
    * featurize batches shape-uniform (decode cost tracks payload size).
    * Map-only measure + bucket-bounded aggregate; blobs themselves never
    * shuffle — only (bucket, n_bytes) longs leave the scan.
    */
  val mediaBatches: QueryDef = QueryDef.sql(
    "q_media_batches",
    """WITH m AS (SELECT octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents),
      |b AS (SELECT CAST(n_bytes // 128 AS BIGINT) AS bucket,
      |             CAST(count(*) AS BIGINT) AS n_items,
      |             CAST(sum(n_bytes) AS BIGINT) AS total_bytes
      |      FROM m GROUP BY 1)
      |SELECT bucket, n_items, total_bytes,
      |       CAST((total_bytes + 65535) // 65536 AS BIGINT) AS n_batches
      |FROM b""".stripMargin) { (spark, dir) =>
    Multimodal.fromText(Tables(spark, dir, "documents"), "doc_id", "text")
      .select(col("meta.n_bytes").as("n_bytes"))
      .groupBy(expr("n_bytes DIV 128").as("bucket"))
      .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("total_bytes"))
      .select(col("bucket"), col("n_items"), col("total_bytes"),
        expr("(total_bytes + 65535) DIV 65536").as("n_batches"))
  }

  private val dhashUdf: UserDefinedFunction =
    udf((text: String) => Perceptual.textDhash(text))

  private val audioUdf: UserDefinedFunction =
    udf((text: String) => {
      val (fp, frames) = Perceptual.textAudioFingerprint(text)
      (fp, frames)
    })

  /** DuckDB CTE chain computing the dHash from text algebra (shared by
    * both image queries). Pixel p ∈ [0,1024) = ascii(text[p mod n]) mod
    * 256; 8×8 grid of 4×4-pixel block sums; bit k = S(r,c) > S(r,c+1).
    */
  private val dhashSqlCtes: String =
    """cs AS (
      |  SELECT doc_id,
      |         list_transform(string_split(text, ''), c -> CAST(ascii(c) % 256 AS BIGINT)) AS a,
      |         length(text) AS n
      |  FROM documents WHERE length(text) > 0),
      |px AS (
      |  SELECT doc_id, ((p // 32) // 4) * 8 + ((p % 32) // 4) AS blk, a[(p % n) + 1] AS v
      |  FROM cs, unnest(range(0, 1024)) t(p)),
      |bs AS (
      |  SELECT doc_id, blk, CAST(sum(v) AS BIGINT) AS s FROM px GROUP BY 1, 2),
      |grid AS (
      |  SELECT doc_id, list(s ORDER BY blk) AS g FROM bs GROUP BY 1),
      |hs AS (
      |  SELECT doc_id AS media_id,
      |         CAST(list_sum(list_transform(range(0, 56), k ->
      |           CASE WHEN g[(k // 7) * 8 + (k % 7) + 1] > g[(k // 7) * 8 + (k % 7) + 2]
      |                THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
      |  FROM grid)""".stripMargin

  /** Per-document image dHash through the real PNG round-trip. */
  val imageDhash: QueryDef = QueryDef.sql(
    "q_image_dhash",
    s"""WITH $dhashSqlCtes
       |SELECT media_id, dhash FROM hs""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id").as("media_id"), dhashUdf(col("text")).as("dhash"))
  }

  /** Image near-dups at the production threshold (hamming ≤ 3), found
    * by the banded plan: explode 4 × 14-bit bands → equi-join →
    * distinct pairs → bit_count filter. Pigeonhole: hamming ≤ 3 over 4
    * bands ⇒ some band equal, so the banded candidates are a superset
    * of every true near-dup and the ≤ 3 filter makes the result EQUAL
    * to the O(n²) brute-force join the oracle runs — same
    * no-false-negative certificate as `q_ppjoin`.
    *
    * Scale notes, both probe-verified: (1) the hash side is
    * `localCheckpoint`ed so the codec round-trip runs once per document
    * — a self-join would otherwise re-execute the UDF on both sides;
    * (2) only true near-dups are emitted — random 14-bit band
    * collisions (≈ n²·4/2¹⁴ of them) die inside the join stage instead
    * of becoming output, which is what kept the 10× probe's output
    * corpus-bounded rather than quadratic.
    */
  val imageNeardup: QueryDef = QueryDef.sql(
    "q_image_neardup",
    s"""WITH $dhashSqlCtes
       |SELECT a.media_id AS a_id, b.media_id AS b_id,
       |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       |FROM hs a JOIN hs b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin) {
    (spark, dir) =>
      val hs = Tables(spark, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id").as("media_id"), dhashUdf(col("text")).as("dhash"))
        .localCheckpoint()
      val bands = hs.select(col("media_id"), col("dhash"),
        explode(sequence(lit(0), lit(Perceptual.NumBands - 1))).as("band"))
        .withColumn("bval",
          expr(s"shiftright(dhash, band * ${Perceptual.BandBits})")
            .bitwiseAND(lit((1 << Perceptual.BandBits) - 1)))
      val a = bands.select(col("band"), col("bval"),
        col("media_id").as("a_id"), col("dhash").as("a_hash"))
      val b = bands.select(col("band"), col("bval"),
        col("media_id").as("b_id"), col("dhash").as("b_hash"))
      a.join(b, Seq("band", "bval"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("a_hash").bitwiseXOR(col("b_hash"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
  }

  /** Per-document audio energy fingerprint through the real WAV
    * round-trip: text → 16-bit PCM square wave → `javax.sound.sampled`
    * parse → 16 block energies → 15 adjacent-greater bits. `n_frames`
    * comes from the decoded stream (16 samples per character), so the
    * oracle's `16 * n` equality also pins the container's frame count.
    */
  val audioFingerprint: QueryDef = QueryDef.sql(
    "q_audio_fingerprint",
    """WITH cs AS (
      |  SELECT doc_id,
      |         list_transform(string_split(text, ''), c -> CAST(ascii(c) % 128 AS BIGINT)) AS a,
      |         length(text) AS n
      |  FROM documents WHERE length(text) >= 16),
      |e AS (
      |  SELECT doc_id, n, least(15, (i - 1) * 16 // n) AS blk, a[i] * a[i] AS v
      |  FROM cs, unnest(range(1, n + 1)) t(i)),
      |bs AS (
      |  SELECT doc_id, blk, CAST(sum(v) AS BIGINT) AS s, any_value(n) AS n
      |  FROM e GROUP BY doc_id, blk),
      |grid AS (
      |  SELECT doc_id, list(s ORDER BY blk) AS g, any_value(n) AS n
      |  FROM bs GROUP BY doc_id)
      |SELECT doc_id AS media_id, CAST(n * 16 AS BIGINT) AS n_frames,
      |       CAST(list_sum(list_transform(range(0, 15), j ->
      |         CASE WHEN g[j + 2] > g[j + 1] THEN CAST(1 AS BIGINT) << j
      |              ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fingerprint
      |FROM grid""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .filter(length(col("text")) >= 16)
      .select(col("doc_id").as("media_id"), audioUdf(col("text")).as("af"))
      .select(col("media_id"), col("af._2").as("n_frames"),
        col("af._1").as("fingerprint"))
  }

  /** Shared oracle CTEs for the audio fingerprint (mirrors the inline
    * body of [[audioFingerprint]]): `afp(media_id, fp)`.
    */
  private def audioSqlCtesFrom(src: String): String =
    s"""cs AS (
      |  SELECT doc_id,
      |         list_transform(string_split(text, ''), c -> CAST(ascii(c) % 128 AS BIGINT)) AS a,
      |         length(text) AS n
      |  FROM $src WHERE length(text) >= 16),
      |e AS (
      |  SELECT doc_id, n, least(15, (i - 1) * 16 // n) AS blk, a[i] * a[i] AS v
      |  FROM cs, unnest(range(1, n + 1)) t(i)),
      |bs AS (
      |  SELECT doc_id, blk, CAST(sum(v) AS BIGINT) AS s
      |  FROM e GROUP BY doc_id, blk),
      |grid AS (
      |  SELECT doc_id, list(s ORDER BY blk) AS g FROM bs GROUP BY doc_id),
      |afp AS (
      |  SELECT doc_id AS media_id,
      |         CAST(list_sum(list_transform(range(0, 15), j ->
      |           CASE WHEN g[j + 2] > g[j + 1] THEN CAST(1 AS BIGINT) << j
      |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fp
      |  FROM grid)""".stripMargin

  /** Deterministic content-hash sample cap for the lift calibration:
    * lift estimation needs a FIXED number of documents (~2k gives ~2M
    * pairs — relative SE on the h=0 chance expectation ~1/√64 ≈ 12%,
    * ample for a >>1 lift verdict), not the corpus. Keep-decision is
    * `polyhash(text||'fplift') mod 2^20 < thr` with
    * thr = min(2^20, ⌈2^20·target/n_eligible⌉) — pure integer algebra
    * both engines replay, re-shard-stable, and a no-op whenever the
    * corpus is already at or below the target (the fixtures), so the
    * sampled query is bit-identical to the unsampled one there.
    */
  private val LiftSampleTarget = 2048L

  /** AUDIO FINGERPRINT LIFT — the CALIBRATION diagnostic for a narrow
    * perceptual hash: per hamming distance (0, 1, 2), the observed
    * pair count against the pure-chance expectation C(n,2)*C(15,h)/2^15
    * and the lift in bp. A first cut of this query emitted near-dup
    * PAIRS like the image tier — and its own fixture run refuted that
    * design: at 15 bits, chance collisions dominate (1667 pairs from
    * 500 docs vs ~460 expected uniform), so pair emission is
    * output-quadratic BY CONSTRUCTION at any corpus size. The honest
    * operator at this width is this bounded 3-row report: lift >> 1
    * means the fingerprint carries signal; the width rule it enforces
    * is that pair-emitting near-dup needs enough bits that
    * C(n,2)/2^bits stays below the true-dup rate (the image tier's 64
    * bits — not 15). The codec round-trip runs once per doc behind a
    * localCheckpoint; output is 3 rows at any scale.
    *
    * SCALE : the calibration runs on a
    * [[LiftSampleTarget]]-bounded content-hash sample, so the
    * all-pairs mass inside the hamming histogram is CONSTANT
    * (~target²·3/2^15) at any corpus size instead of n²-bounded —
    * the audit itself is now scale-free like `q_winnow_tuning`; the
    * only corpus-proportional work left is the eligibility count and
    * the sampling scan, both map-side. Lift math is unchanged: the
    * chance expectation uses the SAMPLE's n, so the ratio estimates
    * the same population quantity.
    */
  val audioFpLift: QueryDef = QueryDef.sql(
    "q_audio_fp_lift",
    s"""WITH el AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
       |ne AS (SELECT count(*) AS ne FROM el),
       |sdocs AS (SELECT doc_id, text FROM el, ne
       |          WHERE ${TextFunctions.polyHashSql("text || 'fplift'")} % 1048576 <
       |                least(1048576, (CAST(1048576 AS BIGINT) * $LiftSampleTarget + ne - 1) // ne)),
       |${audioSqlCtesFrom("sdocs")},
       |n AS (SELECT count(*) AS n FROM afp),
       |p AS (SELECT bit_count(xor(a.fp, b.fp)) AS hamming, count(*) AS n_pairs
       |      FROM afp a JOIN afp b ON a.media_id < b.media_id
       |      GROUP BY 1),
       |ch AS (SELECT unnest([0, 1, 2]) AS hamming, unnest([1, 15, 105]) AS comb)
       |SELECT CAST(ch.hamming AS BIGINT) AS hamming,
       |       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       |       CAST(n.n * (n.n - 1) // 2 * ch.comb // 32768 AS BIGINT) AS expected_pairs,
       |       CAST(coalesce(p.n_pairs, 0) * 10000
       |            // greatest(n.n * (n.n - 1) // 2 * ch.comb // 32768, 1) AS BIGINT) AS lift_bp
       |FROM ch LEFT JOIN p ON p.hamming = ch.hamming, n""".stripMargin) { (spark, dir) =>
    val el = Tables(spark, dir, "documents")
      .filter(length(col("text")) >= 16)
    val ne = el.agg(count(lit(1)).as("ne"))
    // content-hash sample bounded at LiftSampleTarget docs: the codec
    // round-trip and the pair histogram below run on a FIXED-size set
    // at any corpus scale (no-op at fixture sizes, where ne <= target)
    val sampled = el.crossJoin(broadcast(ne))
      .filter((TextFunctions.polyHash(concat(col("text"), lit("fplift"))) % 1048576) <
        least(lit(1048576L),
          expr(s"(1048576L * ${LiftSampleTarget}L + ne - 1) DIV ne")))
    val hs = sampled
      .select(col("doc_id").as("media_id"), audioUdf(col("text")).as("af"))
      .select(col("media_id"), col("af._1").as("fp"))
      .localCheckpoint()
    val n = hs.agg(count(lit(1)).as("n"))
    // 3 bands x 5 bits: pigeonhole-complete for hamming <= 2, so the
    // banded join sees every pair the histogram needs without a
    // corpus-sized broadcast; distinct before counting (a close pair
    // matches in several bands)
    val bands = hs.select(col("media_id"), col("fp"),
      explode(sequence(lit(0), lit(2))).as("band"))
      .withColumn("bval", expr("shiftright(fp, band * 5)").bitwiseAND(lit(31)))
    val a = bands.select(col("band"), col("bval"),
      col("media_id").as("a_id"), col("fp").as("a_fp"))
    val b = bands.select(col("band"), col("bval"),
      col("media_id").as("b_id"), col("fp").as("b_fp"))
    val p = a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    import spark.implicits._
    val ch = Seq((0L, 1L), (1L, 15L), (2L, 105L)).toDF("hamming", "comb")
    ch.join(p, Seq("hamming"), "left").crossJoin(broadcast(n))
      .select(col("hamming"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        expr("n * (n - 1) DIV 2 * comb DIV 32768").as("expected_pairs"),
        expr("coalesce(n_pairs, 0) * 10000" +
          " DIV greatest(n * (n - 1) DIV 2 * comb DIV 32768, 1)").as("lift_bp"))
  }

  val all: Seq[QueryDef] = Seq(
    binaryMeta, mediaBatches, imageDhash, imageNeardup, audioFingerprint, audioFpLift)
}
