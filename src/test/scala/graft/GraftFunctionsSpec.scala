package graft

class GraftFunctionsSpec extends SparkSpec {

  test("registered kernels are callable from SQL") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT graft_cosine_distance(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS d").head().getDouble(0)
    assert(math.abs(d - 1.0) < 1e-12)
    val h = spark.sql("SELECT graft_polyhash('hello world') AS h").head().getLong(0)
    assert(h == 204910434L)
    val sh = spark.sql(
      "SELECT graft_shingle_hashes(split('a b c d', ' ')) AS s").head().getSeq[Long](0)
    assert(sh.size == 2)
    // winnow: 4 tokens -> 2 shingle hashes -> fewer than w=4, one global min
    val wn = spark.sql(
      "SELECT graft_winnow(split('a b c d', ' ')) AS f").head().getSeq[Long](0)
    assert(wn.size == 1 && wn.head == sh.min)
    val wn2 = spark.sql(
      "SELECT graft_winnow(split('a b c d e f', ' '), 2, 2) AS f").head().getSeq[Long](0)
    assert(wn2.nonEmpty)
    // non-positive n / w is an analysis error, not a sentinel fingerprint
    for (bad <- Seq("graft_winnow(split('a b', ' '), 0)",
                    "graft_winnow(split('a b', ' '), 2, 0)",
                    "graft_winnow(split('a b', ' '), -1, 4)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $bad").head())
      assert(e.getMessage.contains("must be >= 1"), s"$bad: ${e.getMessage}")
    }
    // round-9 kernels on the SQL surface
    val ic = spark.sql(
      "SELECT graft_sorted_intersect(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS i")
      .head().getLong(0)
    assert(ic == 2L)
    val bm = spark.sql(
      "SELECT graft_bpe_merge(split('a a a', ' '), 'a', 'a') AS m")
      .head().getSeq[String](0)
    assert(bm == Seq("a a", "a"))
    val wp = spark.sql(
      "SELECT graft_windowed_pairs(array(struct(1, 'x'), struct(2, 'y')), 5) AS p")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(wp.map(r => (r.getString(0), r.getString(1))) == Seq(("x", "y")))
    val p = spark.sql(
      "SELECT graft_pack_sign_bits(array(1.0d, -1.0d, 0.5d), 4) AS p").head().getLong(0)
    assert(p == 5L) // bits 0 and 2
    val p32 = spark.sql(
      "SELECT graft_pack_sign_bits(array(1.0d)) AS p").head().getLong(0)
    assert(p32 == 1L) // default 32-bit width, short array
    val l2 = spark.sql(
      "SELECT graft_quantized_l2(array(1.5d, -2.0d), array(0.5d, 1.0d)) AS d").head().getLong(0)
    assert(l2 == 10L * (1L << 45)) // 1^2 + 3^2, exactly representable
    val rp = spark.sql(
      "SELECT graft_random_proj(array(1.0d), 2) AS p").head().getSeq[Double](0)
    // i=0: j=0 -> parity of 0 % 97 = even -> +1.0; j=1 -> 7919%97=60, even -> +1.0
    assert(rp == Seq(1.0, 1.0))
  }

  test("pack_sign_bits with a non-literal bits argument is a clear plan-time error") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_pack_sign_bits(array(1.0d), cast(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
    val eNull = intercept[Exception] {
      spark.sql("SELECT graft_pack_sign_bits(array(1.0d), CAST(NULL AS INT))").collect()
    }
    assert(eNull.getMessage.contains("integer literal"))
  }

  test("graft_chunk generator works in LATERAL VIEW; non-literal length errors") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT chunk_idx, chunk
        |FROM (SELECT 'alpha beta gamma delta' AS t)
        |LATERAL VIEW graft_chunk(t, 10) c AS chunk_idx, chunk""".stripMargin)
      .collect()
    assert(rows.length > 1)                    // the 22-char text splits
    assert(rows.map(_.getInt(0)).toSeq == rows.indices.toSeq)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT * FROM range(1) LATERAL VIEW graft_chunk('x', cast(id AS INT)) c AS i, s")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("wrong argument count is an AnalysisException, not IndexOutOfBounds") {
    GraftFunctions.register(spark)
    for (sql <- Seq(
        "SELECT graft_chunk('x')",                       // generator, 1 of 2
        "SELECT graft_cosine_distance(array(1.0d))",     // scalar, 1 of 2
        "SELECT graft_polyhash('a', 'b')",               // scalar, 2 of 1
        "SELECT graft_pack_sign_bits(array(1.0d), 4, 5)")) { // 3 of 1..2
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains("wrong number of arguments"), sql)
    }
  }

  test("CosineArgSwapRule puts the foldable side in the hoisted position") {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.functions._
    import graft.functions.CosineDistance
    import graft.plans.CosineArgSwapRule
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0)).toDF("a")
    val qlit = array(lit(0.5), lit(-0.25))
    // literal deliberately on the LEFT — the un-hoistable order
    val c = GraftShim.column(CosineDistance(
      GraftShim.expression(qlit), GraftShim.expression(col("a"))))
    val before = df.select(c.as("d")).queryExecution.analyzed
    def cosines(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.expressions.flatMap(_.collect { case cd: CosineDistance => cd })
    assert(cosines(before).exists(cd => cd.left.foldable && !cd.right.foldable))
    val after = CosineArgSwapRule(before)
    val cd = cosines(after).head
    assert(cd.right.foldable && !cd.left.foldable, "swap did not fire")
    assert(CosineArgSwapRule(after) == after, "rule is not idempotent")
    // symmetric kernel: swapped result is the same value
    val slow = df.select(c.as("d")).head().getDouble(0)
    val fast = df.select(graft.functions.VectorFunctions
      .cosineDistance(col("a"), qlit).as("d")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(slow) ==
      java.lang.Double.doubleToLongBits(fast))
  }

  test("extensions class registers functions at session build time") {
    import org.apache.spark.sql.{AnalysisException, SparkSession}
    val shared = spark
    // with no active or default session, getOrCreate builds a NEW session
    // (on the shared SparkContext) and applies the extensions to it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s2 ne shared)
    val names = GraftFunctions.fns.map(_._1)
    assert(names.size == 12)
    for (name <- names) assert(s2.catalog.functionExists(name), name)
    assert(s2.sql("SELECT graft_polyhash('a')").head().getLong(0) == 97L)
    val e = intercept[AnalysisException](s2.sql("SELECT graft_cosine_distance(array(1.0d))"))
    assert(e.getMessage.contains("wrong number of arguments"))
  }
}
