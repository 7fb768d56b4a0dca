package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.PrefixSum

/** The segmented prefix sum must be value-identical to the window form
  * it replaces — same shards, same unique total order, same inclusive
  * left-to-right sums — including when one shard dominates (the
  * parallelism case the rewrite exists for) and across re-sharding.
  */
class PrefixSumSpec extends SparkSpec {

  /** `body` with the scan dispatch forced ([[PrefixSum.ThresholdConf]]
    * = -1): the at-scale path at sandbox sizes. */
  private def scan[T](body: => T): T = withConf(PrefixSum.ThresholdConf -> "-1")(body)

  private def windowForm(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum(col("n_tok")).over(w))
  }

  test("equals the per-shard window on the documents table (scan path)") {
    val t = Tables(spark, sf0001, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // ThresholdConf = -1 forces the two-pass scan — the at-scale path
    val got = scan(PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum"))
      .select("lang", "doc_id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = windowForm(t)
      .select("lang", "doc_id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("small-input fast path returns the same values as the scan path") {
    val t = Tables(spark, sf0001, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    def form(threshold: Long) = withConf(PrefixSum.ThresholdConf -> threshold.toString)(
      PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum"))
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "doc_id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val fast = form(PrefixSum.SmallInputBytes)
    // the default path on a sandbox-SF frame IS the lazy window (zero
    // extra jobs); the forced path is the segmented scan (RDD leaf).
    // Assert on the LOGICAL plan: with AQE on, the physical root is an
    // opaque AdaptiveSparkPlanExec that collect() does not descend into
    assert(fast.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.nonEmpty)
    val scanned = form(-1L)
    assert(scanned.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
    assert(vals(fast) == vals(scanned))
  }

  test("the conf override forces the scan through default call sites") {
    val t = Tables(spark, sf0001, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    withConf(PrefixSum.ThresholdConf -> "-1") {
      val out = PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum")
      assert(out.queryExecution.optimizedPlan.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
    }
  }

  test("one dominant shard: sums still exact, all partitions used") {
    import spark.implicits._
    // 10k rows, 99% in one shard — the #shards parallelism ceiling case
    val df = (1L to 10000L).map(i =>
        (if (i % 100 == 0) "rare" else "hot", i, i % 7 + 1))
      .toDF("lang", "doc_id", "n_tok")
    val got = scan(PrefixSum.byShard(df, "lang", Seq("doc_id"), "n_tok", "cum"))
    val want = windowForm(df)
    assert(got.select("lang", "doc_id", "cum").collect().toSet ==
      want.select("lang", "doc_id", "cum").collect().toSet)
    // the sorted frame spreads across many partitions even though one
    // shard dominates (a lang window would use exactly 2 tasks)
    assert(got.rdd.getNumPartitions > 2)
  }

  test("empty input yields an empty result with the output column") {
    import spark.implicits._
    val df = Seq.empty[(String, Long, Long)].toDF("lang", "doc_id", "n_tok")
    val out = PrefixSum.byShard(df, "lang", Seq("doc_id"), "n_tok", "cum")
    assert(out.columns.contains("cum"))
    assert(out.count() == 0)
  }

  test("both dispatch paths declare the same output schema") {
    val t = Tables(spark, sf0001, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val fast = PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum")
    val scanned = scan(PrefixSum.byShard(t, "lang", Seq("doc_id"), "n_tok", "cum"))
    assert(fast.schema == scanned.schema,
      s"schema must not flip with the size estimate:\n${fast.schema}\nvs\n${scanned.schema}")
  }

  test("NULL shard key fails loudly on BOTH paths (no silent join-back row loss)") {
    import spark.implicits._
    val df = Seq(("a", 1L, 2L), (null: String, 2L, 3L), ("b", 3L, 4L))
      .toDF("lang", "doc_id", "n_tok")
    def chainContains(t: Throwable, s: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(e => Option(e.getMessage).exists(_.contains(s)))
    val eScan = intercept[Exception] {
      scan(PrefixSum.byShard(df, "lang", Seq("doc_id"), "n_tok", "cum")).collect()
    }
    assert(chainContains(eScan, "NULL shard key"), s"scan path: $eScan")
    val eWin = intercept[Exception] {
      PrefixSum.byShard(df, "lang", Seq("doc_id"), "n_tok", "cum").collect()
    }
    assert(chainContains(eWin, "NULL shard key"), s"window path: $eWin")
  }

  test("binary shard keys are rejected (reference-hashed map keys)") {
    import spark.implicits._
    val df = Seq((Array[Byte](1), 1L, 2L)).toDF("lang", "doc_id", "n_tok")
    val e = intercept[IllegalArgumentException] {
      scan(PrefixSum.byShard(df, "lang", Seq("doc_id"), "n_tok", "cum"))
    }
    assert(e.getMessage.contains("atomic column types only"))
  }

  test("row-identity shard key fails the driver-state cap, not the driver") {
    import spark.implicits._
    // > MaxDriverSubtotals distinct shards: pass 1 would ship
    // corpus-scale state through the driver — must fail with the cap
    // message instead of growing silently
    val n = PrefixSum.MaxDriverSubtotals + 1024
    val df = spark.range(n).select(col("id").as("shard"), col("id").as("o"),
      org.apache.spark.sql.functions.lit(1L).as("v"))
    val e = intercept[IllegalArgumentException] {
      scan(PrefixSum.byShard(df, "shard", Seq("o"), "v", "cum")).collect()
    }
    assert(e.getMessage.contains("few-valued"),
      s"cap message must name the contract, got: ${e.getMessage}")
  }

  test("globalRowNumber (scan path) equals the unpartitioned row_number window") {
    val t = Tables(spark, sf0001, "documents")
      .select(col("lang"), col("doc_id"))
    val got = scan(PrefixSum.globalRowNumber(t,
        Seq(col("lang").desc, col("doc_id").asc), "rn"))
      .select("lang", "doc_id", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = t.withColumn("rn", row_number().over(
        Window.orderBy(col("lang").desc, col("doc_id").asc)).cast("long"))
      .select("lang", "doc_id", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("globalRowNumber dispatch: lazy window on small input, RDD scan when forced") {
    val t = Tables(spark, sf0001, "documents").select(col("lang"), col("doc_id"))
    val ord = Seq(col("lang").desc, col("doc_id").asc)
    val fast = PrefixSum.globalRowNumber(t, ord, "rn")
    assert(fast.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.nonEmpty,
      "small input must stay a lazy window (no checkpoint, no extra jobs)")
    val scanned = scan(PrefixSum.globalRowNumber(t, ord, "rn"))
    assert(scanned.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty,
      "-1 must force the two-pass scan shape")
    // both paths: identical values AND identical declared schema
    assert(fast.schema == scanned.schema,
      s"schema flips with the dispatch: ${fast.schema} vs ${scanned.schema}")
    assert(fast.collect().map(_.toSeq).toSet == scanned.collect().map(_.toSeq).toSet)
  }

  test("globalRowNumber re-shard determinism: 3 vs 17 shuffle partitions") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (s"t${i % 97}", i)).toDF("tok", "doc_id")
    def run(parts: String) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", parts)
      s2.conf.set(PrefixSum.ThresholdConf, "-1")
      import org.apache.spark.sql.GraftShim
      val d2 = GraftShim.rebind(s2, df.localCheckpoint(true))
      PrefixSum.globalRowNumber(d2, Seq(col("tok").asc, col("doc_id").asc), "rn")
        .select("tok", "doc_id", "rn").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(run("3") == run("17"))
  }

  test("re-shard determinism: 3 vs 17 shuffle partitions, same values") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (s"l${i % 3}", i, i % 5 + 1))
      .toDF("lang", "doc_id", "n_tok")
    def run(parts: String) = {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", parts)
      s2.conf.set(PrefixSum.ThresholdConf, "-1")
      import org.apache.spark.sql.GraftShim
      val d2 = GraftShim.rebind(s2, df.localCheckpoint(true))
      PrefixSum.byShard(d2, "lang", Seq("doc_id"), "n_tok", "cum")
        .select("lang", "doc_id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(run("3") == run("17"))
  }
}
