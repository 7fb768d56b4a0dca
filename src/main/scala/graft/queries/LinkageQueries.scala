package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{CorpusMerge, Dedup}
import graft.functions.VectorFunctions.{cosSimSql, cosineSimilarity}
import DedupQueries.{HsCte, ShCte, interJaccardCtes}

/** Record linkage and privacy: blocked fuzzy linkage (prefix and suffix
  * passes) with connected-component entity ids, sorted-neighbourhood
  * blocking, PII scan and redaction, k-anonymity audit and release, and
  * differentially private counts and sums.
  *
  * PII patterns use the common subset of Java regex and RE2 (`\b`,
  * classes, bounded repeats), so both engines match identical spans.
  * The fixture has no organic PII, so synthetic PII is injected per
  * doc-id residue; the mechanism under test is the production one. The
  * DP releases use a deterministic two-sided geometric mechanism, so the
  * oracle pins the mechanism itself, not just its shape.
  */
object LinkageQueries {

  private val EmailPat = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""

  private val IpPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  private val KeyPat = """\bsk[a-zA-Z0-9]{20,}\b"""

  /** Shared augmentation: every 7th doc gains an email, every 11th an
    * IPv4, every 13th a secret-key-shaped token (id-derived, so both
    * engines build byte-identical text).
    */
  private val augSql: String =
    "(text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END" +
      " || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END" +
      " || CASE WHEN doc_id % 13 = 0 THEN ' token sk1234567890abcdefghij' || CAST(doc_id AS VARCHAR) ELSE '' END)"

  private def augCol = concat(col("text"),
    when(pmod(col("doc_id"), lit(7L)) === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(11L)) === 0,
      concat(lit(" host 10.0."), pmod(col("doc_id"), lit(200L)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(250L)).cast("string")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(13L)) === 0,
      concat(lit(" token sk1234567890abcdefghij"), col("doc_id").cast("string")))
      .otherwise(lit("")))

  /** PII SCAN — per source: documents flagged, and hit counts per
    * pattern class (email, IPv4, key-shaped secret). Pure map-side
    * regex counting into a sources-sized aggregate; at 100 TB this is
    * the audit pass that decides whether a shard needs the redaction
    * pass at all. SCALE: one scan, no joins, no text through shuffles.
    */
  val piiScan: QueryDef = QueryDef.sql(
    "q_pii_scan",
    s"""WITH a AS (SELECT source, $augSql AS aug FROM documents),
       |c AS (SELECT source,
       |  len(regexp_extract_all(aug, '$EmailPat')) AS e,
       |  len(regexp_extract_all(aug, '$IpPat')) AS i,
       |  len(regexp_extract_all(aug, '$KeyPat')) AS k
       |  FROM a)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN e + i + k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       |  CAST(sum(CASE WHEN e + i + k > 0 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS flagged_bp,
       |  CAST(sum(e) AS BIGINT) AS email_hits,
       |  CAST(sum(i) AS BIGINT) AS ip_hits,
       |  CAST(sum(k) AS BIGINT) AS key_hits
       |FROM c GROUP BY 1""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(augCol, lit(EmailPat), lit(0))).cast("long").as("e"),
        size(regexp_extract_all(augCol, lit(IpPat), lit(0))).cast("long").as("i"),
        size(regexp_extract_all(augCol, lit(KeyPat), lit(0))).cast("long").as("k"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("i") + col("k") > 0, 1L).otherwise(0L)).as("flagged_docs"),
        expr("sum(CASE WHEN e + i + k > 0 THEN 1 ELSE 0 END) * 10000 DIV count(*)")
          .as("flagged_bp"),
        sum("e").as("email_hits"), sum("i").as("ip_hits"), sum("k").as("key_hits"))
  }

  /** PII REDACTION — the transform itself: emails -> <EMAIL>, IPs ->
    * <IP>, keys -> <KEY>, applied globally per document. Reports per
    * source: documents changed, net characters removed, and the XOR of
    * redacted-content hashes — the `q_shard_manifest` integrity fold,
    * here certifying that a re-run of the redaction pass produced the
    * byte-identical release. The oracle replays the same three
    * replaces (DuckDB needs the explicit 'g' flag; Spark replaces all
    * matches by default — an engine-parity trap worth pinning).
    * SCALE: map-only transform + sources-sized aggregate.
    */
  val redact: QueryDef = QueryDef.sql(
    "q_redact",
    s"""WITH a AS (SELECT source, $augSql AS aug FROM documents),
       |r AS (SELECT source, aug,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$EmailPat', '<EMAIL>', 'g'), '$IpPat', '<IP>', 'g'), '$KeyPat', '<KEY>', 'g') AS red
       |  FROM a)
       |SELECT source,
       |  CAST(sum(CASE WHEN red <> aug THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
       |  CAST(sum(length(aug) - length(red)) AS BIGINT) AS chars_removed,
       |  CAST(bit_xor(${polyHashSql("red")}) AS BIGINT) AS xor_redacted
       |FROM r GROUP BY 1""".stripMargin) { (spark, dir) =>
    val red = regexp_replace(regexp_replace(regexp_replace(augCol,
      lit(EmailPat), lit("<EMAIL>")), lit(IpPat), lit("<IP>")), lit(KeyPat), lit("<KEY>"))
    Tables(spark, dir, "documents")
      .select(col("source"), augCol.as("aug"), red.as("red"))
      .select(col("source"), col("aug"), col("red"), polyHash(col("red")).as("h"))
      .groupBy("source")
      .agg(sum(when(col("red") =!= col("aug"), 1L).otherwise(0L)).as("docs_changed"),
        sum(length(col("aug")).cast("long") - length(col("red"))).as("chars_removed"),
        expr("bit_xor(h)").as("xor_redacted"))
  }

  /** BLOCKED FUZZY RECORD LINKAGE — the entity-resolution candidate
    * generator: a self-join of `customer` restricted to a blocking key
    * (nation × market segment × 14-char name prefix), scored by name
    * edit distance and account-balance distance in cents — DETERMINISTIC
    * cents under the shared double representation (both engines floor
    * the same parquet double, so parity is exact; but `c_acctbal` is FP,
    * so `floor(x * 100)` can land one cent under the printed decimal —
    * e.g. 121.65 → 12164 — and a true-decimal pipeline would round
    * before flooring). The
    * Fellegi–Sunter shape: blocking bounds the candidate space,
    * per-pair field comparisons feed a match score downstream.
    *
    * SCALE: one shuffle on the blocking key; pair volume is
    * Θ(Σ_b |b|²) over BLOCKS. The enum pair (nation × segment) alone
    * is a FIXED 125-key domain, so its block sizes — and the pair
    * mass — would grow quadratically with the corpus; the name-prefix
    * component makes the key's cardinality track the data (prefix
    * space ∝ N), holding block sizes bounded at any N — the SNM/LSH
    * blocking discipline. The cost is blocking RECALL (a true pair
    * differing inside the prefix is never compared; production runs
    * add a second pass with a different key — the standard multi-pass
    * blocking pattern). The edit distance is computed ONCE per
    * candidate pair with the BANDED builtin (`levenshtein(l, r, k)`:
    * O(k·n) per pair, -1 past the threshold) instead of a full O(n²)
    * DP per pair.
    */
  /** customer with its block key `blk` and its balance in cents. */
  private def customers(spark: SparkSession, dir: String, blk: Column): DataFrame =
    Tables(spark, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"),
      blk.as("blk"), floor(col("c_acctbal") * 100).as("bal_cents"))

  /** The candidate pairs of [[customers]] rows `c`: same nation, segment
    * and block key, key_a < key_b, each side's name and balance kept. */
  private def blockedPairs(c: DataFrame): DataFrame = {
    val a = c.select(col("c_custkey").as("key_a"), col("c_name").as("name_a"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("blk").as("blk_a"), col("bal_cents").as("bal_a"))
    val b = c.select(col("c_custkey").as("key_b"), col("c_name").as("name_b"),
      col("c_nationkey").as("nk2"), col("c_mktsegment").as("seg2"),
      col("blk").as("blk_b"), col("bal_cents").as("bal_b"))
    a.join(b, col("nk") === col("nk2") && col("seg") === col("seg2") &&
      col("blk_a") === col("blk_b") && col("key_a") < col("key_b"))
  }

  /** The blocked, edit-distance-verified candidate pairs shared by
    * [[recordLinkage]] (the scored pair report) and [[linkageClusters]]
    * (the entity-id assignment).
    */
  private[queries] def linkagePairs(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): org.apache.spark.sql.DataFrame = {
    val c = customers(spark, dir, substring(col("c_name"), 1, 14))
    blockedPairs(c)
      // the block key pins the first 14 chars equal, and edit distance
      // is invariant under common-prefix stripping — the DP runs on the
      // 4-char remainders (probe: 2.8 -> 0.9 s at sf0.1, same output)
      .withColumn("name_dist", levenshtein(substring(col("name_a"), 15, Int.MaxValue),
        substring(col("name_b"), 15, Int.MaxValue), 2))
      .filter(col("name_dist") >= 0)
  }

  private val LinkagePairsSql =
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist,
      |       CAST(abs(floor(a.c_acctbal * 100) - floor(b.c_acctbal * 100)) AS BIGINT)
      |         AS bal_cents_diff
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
      | AND substr(a.c_name, 1, 14) = substr(b.c_name, 1, 14)
      | AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin

  val recordLinkage: QueryDef = QueryDef.sql(
    "q_record_linkage", LinkagePairsSql) { (spark, dir) =>
    linkagePairs(spark, dir)
      .select(col("key_a"), col("key_b"),
        col("name_dist").cast("long").as("name_dist"),
        abs(col("bal_a") - col("bal_b")).as("bal_cents_diff"))
  }

  /** ENTITY IDS FROM LINKAGE PAIRS — step 2 of entity resolution: the
    * verified match pairs become edges, connected components assign
    * each linked record an entity id (min reachable key — the
    * survivorship canonical id). Same operator and oracle shape as the
    * dedup clustering (`q_dedup_groups`); components here cannot cross
    * a block, so component size is bounded by the block-size bound.
    */
  val linkageClusters: QueryDef = QueryDef.sql(
    "q_linkage_clusters",
    s"""WITH RECURSIVE p AS ($LinkagePairsSql),
       |edges AS (SELECT key_a AS src, key_b AS dst FROM p
       |          UNION SELECT key_b, key_a FROM p),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst)
       |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin) {
    (spark, dir) =>
      graft.operators.ConnectedComponents.components(
        linkagePairs(spark, dir).select("key_a", "key_b"), "key_a", "key_b")
  }

  /** K-ANONYMITY AUDIT — group the table by its quasi-identifier tuple
    * (nation × market segment) and flag every group smaller than k=10:
    * records in a flagged group are re-identifiable by their QI alone
    * and must be suppressed or generalized before release. The fixture
    * yields group sizes 5–21, so both flags occur and the oracle pins
    * the threshold edge exactly.
    *
    * SCALE: one enum-keyed aggregate (the QI domain is bounded by the
    * data dictionary) — partial-aggregated map-side, |QI-domain| rows
    * on the wire.
    */
  val kanonAudit: QueryDef = QueryDef.sql(
    "q_kanon_audit",
    """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS group_size,
      |       CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS suppress
      |FROM customer GROUP BY c_nationkey, c_mktsegment""".stripMargin) { (spark, dir) =>
    Tables(spark, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("group_size"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_size"),
        when(col("group_size") < 10, 1L).otherwise(0L).as("suppress"))
  }

  /** DP COUNT RELEASE — per-event-type counts released through a
    * two-sided geometric mechanism (the discrete Laplace: the standard
    * integer-valued ε-DP noise for counting queries; here α = 1/2,
    * i.e. ε = ln 2 per count). The noise is DETERMINISTIC — magnitude =
    * trailing one-bits of a 20-bit hash of the key (geometric(1/2) over
    * uniform bits by construction), sign = the 21st bit — so both
    * engines derive the identical draw and the oracle verifies the
    * MECHANISM (a production release would use a sealed RNG and emit
    * only `released_n`; `noise` is emitted here because the gate checks
    * it). Keyed noise also demonstrates the release property that
    * matters operationally: re-running the release does not leak via
    * noise averaging (same key → same draw).
    *
    * SCALE: one enum-keyed aggregate + map-side integer bit algebra.
    */
  val dpCounts: QueryDef = QueryDef.sql(
    "q_dp_counts", {
      val h = polyHashSql("event_type")
      s"""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events
         |           GROUP BY event_type),
         |d AS (SELECT event_type, n, ($h) % 1048576 AS u20, (($h) // 1048576) % 2 AS sbit
         |      FROM c),
         |m AS (SELECT event_type, n,
         |             CAST(length(bin(u20)) - length(rtrim(bin(u20), '1')) AS BIGINT) AS mag,
         |             CASE WHEN sbit = 1 THEN 1 ELSE -1 END AS sgn
         |      FROM d)
         |SELECT event_type,
         |       CAST(n + sgn * mag AS BIGINT) AS released_n,
         |       CAST(sgn * mag AS BIGINT) AS noise
         |FROM m""".stripMargin
    }) { (spark, dir) =>
    val h = polyHash(col("event_type"))
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("u20", pmod(h, lit(1048576L)))
      // exact integer bit algebra: h is non-negative, so h >> 20 equals
      // the oracle's h // 1048576 (never float-divide 60-bit hashes)
      .withColumn("sbit", pmod(shiftright(h, 20), lit(2L)))
      .withColumn("mag",
        (length(bin(col("u20"))) - length(rtrim(bin(col("u20")), "1"))).cast("long"))
      .withColumn("sgn", when(col("sbit") === 1L, 1L).otherwise(-1L))
      .select(col("event_type"),
        (col("n") + col("sgn") * col("mag")).as("released_n"),
        (col("sgn") * col("mag")).as("noise"))
  }

  private val K = 10

  /** K-ANONYMITY RELEASE — generalize-or-suppress over the 3-level
    * hierarchy nation → region → withheld, so every RELEASED group
    * satisfies k ≥ 10 by construction (the re-audit is internal:
    * released rows are exactly the groups that cleared the threshold
    * at their level):
    *
    *   - level 'nation': (nation × segment) groups with ≥ k records
    *     release at full QI resolution;
    *   - level 'region': records of sub-k nation groups re-group at
    *     (region × segment) — the textbook generalization step up the
    *     nation→region hierarchy; groups clearing k release there
    *     (qi_key = region key, nation withheld);
    *   - level 'suppressed': what still misses k after generalization
    *     is WITHHELD — released only as a single total-withheld count
    *     (a record count, not a QI group — the standard release
    *     ledger), and only when non-zero.
    *
    * Every record lands in exactly one level, so the released group
    * sizes plus the suppressed count sum to |customer| — the
    * conservation law the spec pins, along with min(released
    * group_size) ≥ 10 and the suppressed branch firing on an injected
    * skewed corpus (the sf fixtures' region-level groups all clear k).
    * The generalization join is a LEFT join: a record whose
    * c_nationkey has no nation row cannot be generalized (its region
    * is unknown) and routes straight to the suppressed ledger instead
    * of silently dropping out of BOTH branches — which would break the
    * conservation law exactly when the dimension table is incomplete
    * (no referential-integrity precondition remains).
    *
    * SCALE: two enum-keyed aggregates over the bounded QI domain
    * (|nations|·|segments| then |regions|·|segments| rows), one
    * broadcast of the 25-row nation dim, one scalar aggregate —
    * nothing row-identity-keyed past the first map-side-combined
    * groupBy.
    */
  val kanonRelease: QueryDef = QueryDef.sql(
    "q_kanon_release",
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
       |           FROM customer GROUP BY c_nationkey, c_mktsegment),
       |r1 AS (SELECT n.n_regionkey AS rk, g.c_mktsegment AS seg,
       |              CAST(sum(g.n) AS BIGINT) AS n
       |       FROM g LEFT JOIN nation n ON g.c_nationkey = n.n_nationkey
       |       WHERE g.n < $K GROUP BY n.n_regionkey, g.c_mktsegment)
       |SELECT 'nation' AS qi_level, CAST(c_nationkey AS BIGINT) AS qi_key,
       |       c_mktsegment AS segment, n AS group_size
       |FROM g WHERE n >= $K
       |UNION ALL
       |SELECT 'region', CAST(rk AS BIGINT), seg, n
       |FROM r1 WHERE n >= $K AND rk IS NOT NULL
       |UNION ALL
       |SELECT 'suppressed', CAST(-1 AS BIGINT), 'ALL', CAST(sum(n) AS BIGINT)
       |FROM r1 WHERE n < $K OR rk IS NULL HAVING count(*) > 0""".stripMargin) { (spark, dir) =>
    val g = Tables(spark, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val nat = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
    val released = g.filter(col("n") >= K).select(
      lit("nation").as("qi_level"),
      col("c_nationkey").cast("long").as("qi_key"),
      col("c_mktsegment").as("segment"),
      col("n").as("group_size"))
    // LEFT join: an orphaned nationkey keeps its rows (rk = null) and
    // routes to the suppressed ledger below — never silently dropped
    val r1 = g.filter(col("n") < K)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy("n_regionkey", "c_mktsegment")
      .agg(sum("n").as("n"))
    val generalized = r1.filter(col("n") >= K && col("n_regionkey").isNotNull)
      .select(
        lit("region").as("qi_level"),
        col("n_regionkey").cast("long").as("qi_key"),
        col("c_mktsegment").as("segment"),
        col("n").as("group_size"))
    val suppressed = r1.filter(col("n") < K || col("n_regionkey").isNull)
      .agg(sum("n").as("ns"), count(lit(1)).as("c"))
      .filter(col("c") > 0)
      .select(lit("suppressed").as("qi_level"), lit(-1L).as("qi_key"),
        lit("ALL").as("segment"), col("ns").as("group_size"))
    released.unionByName(generalized).unionByName(suppressed)
  }

  /** SECOND-PASS BLOCKING for record linkage — the suffix-keyed pass
    * unioned with `q_record_linkage`'s prefix-keyed pass (the
    * multi-pass blocking pattern). Pass 1 blocks on nation × segment × 14-char name
    * PREFIX, so a true pair whose typo falls INSIDE the prefix is
    * never compared; pass 2 blocks on nation × segment × 7-char name
    * SUFFIX and catches exactly those (any pair differing only in the
    * first |name|−7 chars). Each pass computes the banded edit
    * distance on its NON-PINNED remainder (edit distance is invariant
    * under common-prefix/common-suffix stripping), so both passes
    * yield the identical (key_a, key_b, name_dist, bal_cents_diff)
    * tuple for a pair they share and the union dedups exactly.
    *
    * SCALE: two blocked self-joins, one shuffle each on its blocking
    * key. The prefix key's cardinality tracks the data (high-order
    * name chars ∝ N); the suffix key is LOW-order chars, whose domain
    * saturates (~10⁷ digit suffixes here), so pass-2 block sizes grow
    * ∝ N past ~10⁹ records. That precondition is now ENFORCED, not
    * narrated: [[graft.GraftLimits.requireGrowingKeyDomain]] measures
    * the composite blocking key's distinct-per-row ratio at query
    * construction and refuses the pass once the domain saturates,
    * naming the cure (swap the second key to another high-entropy
    * field — phone/address hash; the pattern is the union of
    * independently-blocked passes, not this key). Recall gained is
    * measured by the spec's injected prefix-typo corpus and the
    * PLANS.md receipt.
    */
  private def linkagePairs2(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame = {
    val c = graft.GraftLimits.requireGrowingKeyDomain(
      customers(spark, dir, expr("right(c_name, 7)")),
      struct(col("c_nationkey"), col("c_mktsegment"), col("blk")),
      "q_record_linkage2 suffix pass")
    blockedPairs(c)
      // the block key pins the last 7 chars equal; the DP runs on the
      // prefixes (common-suffix stripping, the mirror of pass 1)
      .withColumn("name_dist", levenshtein(
        expr("substring(name_a, 1, length(name_a) - 7)"),
        expr("substring(name_b, 1, length(name_b) - 7)"), 2))
      .filter(col("name_dist") >= 0)
  }

  private val LinkagePairs2Sql =
    """SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist,
      |       CAST(abs(floor(a.c_acctbal * 100) - floor(b.c_acctbal * 100)) AS BIGINT)
      |         AS bal_cents_diff
      |FROM customer a JOIN customer b
      |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
      | AND right(a.c_name, 7) = right(b.c_name, 7)
      | AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin

  val recordLinkage2: QueryDef = QueryDef.sql(
    "q_record_linkage2",
    s"""SELECT key_a, key_b, name_dist, bal_cents_diff
       |FROM ((${LinkagePairsSql})
       |      UNION
       |      ($LinkagePairs2Sql))""".stripMargin) { (spark, dir) =>
    linkagePairs(spark, dir)
      .select(col("key_a"), col("key_b"),
        col("name_dist").cast("long").as("name_dist"),
        abs(col("bal_a") - col("bal_b")).as("bal_cents_diff"))
      .unionByName(linkagePairs2(spark, dir)
        .select(col("key_a"), col("key_b"),
          col("name_dist").cast("long").as("name_dist"),
          abs(col("bal_a") - col("bal_b")).as("bal_cents_diff")))
      .distinct()
  }

  /** DP SUM + MEAN RELEASE — the numeric companion to `q_dp_counts`,
    * completing the release suite. Per event
    * type, the sum of the CLIPPED per-record value (`clamp(floor(
    * value), 0, C)` with C = 200 — bounded contribution is what gives
    * the sum finite sensitivity) is released through the same
    * deterministic two-sided-geometric mechanism, SCALED BY C: noise =
    * sign · (trailing one-bits of a 20-bit keyed hash) · C, i.e. a
    * discrete Laplace step of C per unit — ε = ln 2 for the
    * C-sensitive sum, exactly matching the count release's ε = ln 2 at
    * sensitivity 1. The sum draw is keyed on `'sum:' || event_type`,
    * an INDEPENDENT draw from the count's (different key → different
    * hash — the polyHash affinity caveat does not apply across the
    * prefix because the multiplier chain shifts by the prefix length).
    *
    * ε-COMPOSITION, stated: this query re-releases the counts (same
    * keyed draw as `q_dp_counts`, so re-release costs NOTHING extra —
    * same key, same noise, no averaging leak) and adds the sum
    * release: total budget across the suite is ε_count + ε_sum =
    * 2 ln 2 by sequential composition. `released_mean_bp` =
    * floor(released_sum · 10⁴ / released_n) is POST-PROCESSING of the
    * two releases — free under DP. Both engines compute it as
    * IEEE-754 double division + floor (bit-identical), with the noisy
    * quantities kept exact-integer to that point.
    *
    * SCALE: one enum-keyed aggregate (map-side clip + partial sums) +
    * driver-free integer bit algebra — |event types| rows on the wire.
    */
  val dpSums: QueryDef = QueryDef.sql(
    "q_dp_sums", {
      val hc = polyHashSql("event_type")
      val hs = polyHashSql("('sum:' || event_type)")
      s"""WITH c AS (SELECT event_type,
         |                  CAST(sum(least(greatest(CAST(floor(value) AS BIGINT), 0), 200))
         |                       AS BIGINT) AS s,
         |                  CAST(count(*) AS BIGINT) AS n
         |           FROM events GROUP BY event_type),
         |d AS (SELECT event_type, s, n,
         |             ($hc) % 1048576 AS cu20, (($hc) // 1048576) % 2 AS csbit,
         |             ($hs) % 1048576 AS su20, (($hs) // 1048576) % 2 AS ssbit
         |      FROM c),
         |m AS (SELECT event_type, s, n,
         |             CAST(length(bin(cu20)) - length(rtrim(bin(cu20), '1')) AS BIGINT) AS cmag,
         |             CASE WHEN csbit = 1 THEN 1 ELSE -1 END AS csgn,
         |             CAST(length(bin(su20)) - length(rtrim(bin(su20), '1')) AS BIGINT) AS smag,
         |             CASE WHEN ssbit = 1 THEN 1 ELSE -1 END AS ssgn
         |      FROM d)
         |SELECT event_type,
         |       CAST(s + ssgn * smag * 200 AS BIGINT) AS released_sum,
         |       CAST(ssgn * smag * 200 AS BIGINT) AS noise_sum,
         |       CAST(n + csgn * cmag AS BIGINT) AS released_n,
         |       CAST(floor(CAST(s + ssgn * smag * 200 AS DOUBLE) * 10000
         |                  / (n + csgn * cmag)) AS BIGINT) AS released_mean_bp
         |FROM m""".stripMargin
    }) { (spark, dir) =>
    val hc = polyHash(col("event_type"))
    val hs = polyHash(concat(lit("sum:"), col("event_type")))
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(sum(least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(200L))).as("s"),
        count(lit(1)).as("n"))
      .withColumn("cu20", pmod(hc, lit(1048576L)))
      .withColumn("csbit", pmod(shiftright(hc, 20), lit(2L)))
      .withColumn("su20", pmod(hs, lit(1048576L)))
      .withColumn("ssbit", pmod(shiftright(hs, 20), lit(2L)))
      .withColumn("cmag",
        (length(bin(col("cu20"))) - length(rtrim(bin(col("cu20")), "1"))).cast("long"))
      .withColumn("smag",
        (length(bin(col("su20"))) - length(rtrim(bin(col("su20")), "1"))).cast("long"))
      .withColumn("csgn", when(col("csbit") === 1L, 1L).otherwise(-1L))
      .withColumn("ssgn", when(col("ssbit") === 1L, 1L).otherwise(-1L))
      .select(col("event_type"),
        (col("s") + col("ssgn") * col("smag") * lit(200L)).as("released_sum"),
        (col("ssgn") * col("smag") * lit(200L)).as("noise_sum"),
        (col("n") + col("csgn") * col("cmag")).as("released_n"),
        floor((col("s") + col("ssgn") * col("smag") * lit(200L)).cast("double") * 10000
          / (col("n") + col("csgn") * col("cmag"))).cast("long").as("released_mean_bp"))
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
    * A BROADCAST histogram of sort-key buckets + row_number partitioned
    * by bucket would not do. Two adversaries break it (measurements in
    * PLANS.md): the histogram is keyed by
    * the 3-token document prefix, so a vocab-growing corpus grows the
    * broadcast linearly (the perturbed replica reads exactly 10.00x
    * across a 10x step, 473 → 4,730 distinct prefixes), and a HOT prefix (the mega-dup boilerplate page)
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

  val all: Seq[QueryDef] = Seq(
    piiScan, redact, recordLinkage, linkageClusters, kanonAudit, dpCounts, kanonRelease,
    recordLinkage2, dpSums, snmBlocking)
}
