package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration only — the driver always runs the full ledger)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump itself, session-agnostic — `main` wraps it with its own
    * session; HarnessSpec drives it on the shared test session to pin
    * the loud-failure contract.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Unit = {
    val qs = SparkEntry.select(only.getOrElse(Set.empty))
    new java.io.File(outDir).mkdirs()
    // an analysis-broken query writes no parquet dir, so a reader of the
    // dumps alone would never see it: every failure is mirrored into
    // errors.json next to the parquet dumps. Four queries at a time cut
    // the gate's wall time.
    val failures = SparkEntry.runEach(qs, "verify", parallel = 4) { q =>
      q.fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }
    // jsonStr escapes ALL control chars (<0x20): a tab or CR in a
    // query's SQL would otherwise make a json.load of the artifact fail
    import graft.pipelines.HttpEmbedder.jsonStr
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/errors.json"), obj(failures))
  }
}
