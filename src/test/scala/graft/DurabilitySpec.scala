package graft

import org.apache.spark.sql.functions.col

/** The PLANS.md durability-ledger escape hatch, executed (round-13
  * item 3): the claim was "preemptible-cluster stages swap
  * localCheckpoint for a reliable .checkpoint() — same plan shape, one
  * line" and until now no test demonstrated the swap. This spec runs
  * the weighted-representative contraction (`q_source_dup_matrix`,
  * whose Θ(texts×sources) weight table and sources²-row matrix both
  * route through [[Durability.stage]]) in BOTH modes and pins:
  * bit-equal output, and node-identical physical plans (both modes
  * re-enter as a LogicalRDD scan, so AQE's runtime-size decisions are
  * unchanged).
  */
class DurabilitySpec extends SparkSpec {

  private def nodeProfile(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case p => p.nodeName }.sorted

  test("flag without a checkpoint dir fails fast with the cure in the message") {
    // a preemptible-cluster operator forgetting setCheckpointDir must
    // get an actionable error at plan time, not a Spark internals trace
    // at materialization — but only when the flag is actually on
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("x")
    val prevDir = spark.sparkContext.getCheckpointDir
    assume(prevDir.isEmpty || !spark.conf.getOption(Durability.Flag).exists(_.toBoolean))
    if (prevDir.isEmpty) {
      spark.conf.set(Durability.Flag, "true")
      try {
        val e = intercept[IllegalArgumentException](Durability.stage(df))
        assert(e.getMessage.contains("setCheckpointDir"))
      } finally spark.conf.unset(Durability.Flag)
    }
    // flag off (default): localCheckpoint path, no dir needed
    assert(Durability.stage(df).count() == 2)
  }

  test("reliable-checkpoint mode: same rows, same plan shape, one config line") {
    val q = graft.queries.DecontamQueries.sourceDupMatrix
    val local = q.fn(spark, sf0001)
    val localRows = local.orderBy("src_a", "src_b").collect().toSeq
    val localNodes = nodeProfile(local)

    val ckptDir = java.nio.file.Files.createTempDirectory("reliable-ckpt").toString
    val prevDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Durability.Flag, "true")
    try {
      val reliable = q.fn(spark, sf0001)
      assert(reliable.orderBy("src_a", "src_b").collect().toSeq == localRows,
        "reliable-checkpoint mode changed the result")
      assert(nodeProfile(reliable) == localNodes,
        "reliable-checkpoint mode changed the physical plan shape")
      // and the reliable store was actually written (the mode is real,
      // not a silent fallback to executor-local blocks)
      val wrote = new java.io.File(ckptDir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint data written")
    } finally {
      spark.conf.unset(Durability.Flag)
      prevDir.foreach(spark.sparkContext.setCheckpointDir)
    }
  }

}
