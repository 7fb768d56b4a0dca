package graft

/** Plan inspection utility: dumps the formatted physical plan of one,
  * several, or all registered queries.
  * `runMain graft.Explain <sfDir> [queryName ...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = Option(args.drop(1).toSet).filter(_.nonEmpty)
    val spark = GraftSession()
    // GRAFT_EXPLAIN_RUN=1: execute the dataset's own QueryExecution
    // first (collect — Dataset.collect drives df.queryExecution, unlike
    // count()/write which build a fresh one), so the printed plan is the
    // FINAL adaptive plan (isFinalPlan=true) with AQE's actual join
    // strategy choices, not the pre-execution placeholder. Use only on
    // queries with small outputs — collect is driver-side.
    val run = sys.env.get("GRAFT_EXPLAIN_RUN").contains("1")
    SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try {
          val df = q.fn(spark, sfDir)
          if (run) df.collect()
          df.explain("formatted")
        }
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
