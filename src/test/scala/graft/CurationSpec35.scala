package graft

import org.apache.spark.sql.functions._

/** Round-15 batch 37: k-anonymity release and second-pass linkage
  * blocking. Fixture-level invariants here; value parity vs DuckDB is
  * the driver's oracle gate.
  */
class CurationSpec35 extends SparkSpec {
  import spark.implicits._

  test("kanon release: every released group clears k and the ledger conserves records") {
    val rel = graft.queries.LinkageQueries.kanonRelease.fn(spark, "/root/testdata/sf0.01").collect()
    val released = rel.filter(_.getString(0) != "suppressed")
    assert(released.nonEmpty)
    // the re-audit: zero surviving sub-k groups in the release
    assert(released.forall(_.getLong(3) >= 10),
      s"released a sub-k group: ${released.filter(_.getLong(3) < 10).mkString(", ")}")
    // conservation: released sizes + suppressed count = |customer|
    val total = rel.map(_.getLong(3)).sum
    assert(total == Tables(spark, "/root/testdata/sf0.01", "customer").count())
    // the sf0.01 fixture exercises the generalization level: some sub-k
    // nation groups clear k once rolled up to their region (whether a
    // suppressed residue also remains is a fixture detail — the skewed
    // corpus below pins that branch deterministically)
    assert(rel.exists(_.getString(0) == "region"))
  }

  test("kanon release: the suppressed branch fires on a skewed corpus and still conserves") {
    // one populous QI group + a scatter of singletons whose region
    // rollup STILL misses k -> the withheld ledger row must appear
    val dir = java.nio.file.Files.createTempDirectory("kanon-skew").toString
    val rows =
      (1 to 40).map(i => (i.toLong, s"Customer#${"%09d".format(i)}", 0, "BUILDING", 1.0)) ++
        (41 to 44).map(i => (i.toLong, s"Customer#${"%09d".format(i)}", i % 3 + 1, "MACHINERY", 1.0))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    Seq((0, 0), (1, 1), (2, 2), (3, 3)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    val rel = graft.queries.LinkageQueries.kanonRelease.fn(spark, dir).collect()
    val sup = rel.filter(_.getString(0) == "suppressed")
    assert(sup.length == 1 && sup.head.getLong(3) == 4L,
      s"expected one withheld row covering the 4 scattered records, got ${rel.mkString(", ")}")
    assert(rel.filter(_.getString(0) == "nation").map(_.getLong(3)).toSeq == Seq(40L))
    assert(rel.map(_.getLong(3)).sum == 44L)
  }

  test("kanon release: an orphaned nationkey routes to suppressed, conservation survives a broken dim") {
    // nationkey 9 has NO nation row: its sub-k records cannot
    // generalize (their region is unknown), so they must land in the
    // withheld ledger — the round-15 ADVICE found the old inner join
    // dropped them from BOTH branches, silently breaking conservation
    // exactly when the dimension table is incomplete
    val dir = java.nio.file.Files.createTempDirectory("kanon-orphan").toString
    val rows =
      (1 to 40).map(i => (i.toLong, s"Customer#${"%09d".format(i)}", 0, "BUILDING", 1.0)) ++
        (41 to 43).map(i => (i.toLong, s"Customer#${"%09d".format(i)}", 9, "MACHINERY", 1.0))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    Seq((0, 0)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    val rel = graft.queries.LinkageQueries.kanonRelease.fn(spark, dir).collect()
    val sup = rel.filter(_.getString(0) == "suppressed")
    assert(sup.length == 1 && sup.head.getLong(3) == 3L,
      s"orphaned records must be withheld, got ${rel.mkString(", ")}")
    assert(rel.map(_.getLong(3)).sum == 43L, "conservation must hold with a broken dim")
  }

  test("linkage pass 2 catches the prefix-region typo pass 1 provably misses") {
    val dir = java.nio.file.Files.createTempDirectory("linkage2").toString
    Seq(
      // prefix-region typo: first char differs, last 7 equal -> only
      // the suffix-keyed pass can block these together
      (1L, "Customer#000000001", 0, "AUTOMOBILE", 100.00),
      (2L, "Xustomer#000000001", 0, "AUTOMOBILE", 200.00),
      // suffix-region typo: last char differs -> pass 1 catches it,
      // pass 2's block key differs (the union must keep it)
      (3L, "Customer#000000003", 0, "AUTOMOBILE", 300.00),
      (4L, "Customer#000000004", 0, "AUTOMOBILE", 400.00),
      // unrelated name in the same (nation, segment): neither pass
      (5L, "Wholly#Different#", 0, "AUTOMOBILE", 500.00)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val p1 = pairs(graft.queries.LinkageQueries.recordLinkage.fn(spark, dir))
    val p2 = pairs(graft.queries.LinkageQueries.recordLinkage2.fn(spark, dir))
    assert(!p1.contains((1L, 2L)), "pass 1 must miss the prefix typo (that's its stated gap)")
    assert(p1.contains((3L, 4L)))
    assert(p2 == p1 + ((1L, 2L)), s"union must add exactly the prefix-typo pair: $p2 vs $p1")
  }

  test("a saturated blocking key is refused with the measured rationale") {
    // round-15 verdict item 5: the suffix key's ~10^9-record saturation
    // was a scaladoc note; now GraftLimits.requireGrowingKeyDomain
    // makes multi-pass blocking self-policing. Injected saturated key:
    // corpus-sized input, constant key -> ratio ~0 -> refused by name.
    val n = GraftLimits.KeyDomainMinRows + 1
    val e = intercept[IllegalArgumentException](
      GraftLimits.requireGrowingKeyDomain(
        spark.range(0, n).select(lit("X").as("blk")), col("blk"), "spec"))
    assert(e.getMessage.contains("SATURATED"), e.getMessage)
    assert(e.getMessage.contains("higher-entropy"), "message must name the cure")
    // a healthy key at the same size passes (distinct tracks rows)...
    GraftLimits.requireGrowingKeyDomain(
      spark.range(0, n).toDF("id"), col("id"), "spec")
    // ...and below the floor a saturated FIXTURE is not refused (small
    // samples are all noise — the gate is a scale guard, not a linter)
    GraftLimits.requireGrowingKeyDomain(
      spark.range(0, 100).select(lit("X").as("blk")), col("blk"), "spec")
  }

  test("linkage2 union dedups pairs both passes find, keeping one tuple") {
    // names equal except a mid-prefix typo AND sharing both block keys
    // is impossible (a shared prefix block pins chars 1-14); a pair both
    // passes find must agree on every field — identical names do that
    val dir = java.nio.file.Files.createTempDirectory("linkage2dup").toString
    Seq(
      (1L, "Customer#000000001", 0, "AUTOMOBILE", 100.00),
      (2L, "Customer#000000001", 0, "AUTOMOBILE", 150.00)
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val rows = graft.queries.LinkageQueries.recordLinkage2.fn(spark, dir).collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L && rows.head.getLong(1) == 2L
      && rows.head.getLong(2) == 0L)
  }
}
