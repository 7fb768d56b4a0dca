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
    new java.io.File(outDir).mkdirs()
    // queries are independent; run 4 at a time against the shared session
    // (Spark schedules concurrent jobs fine) to cut gate wall time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // a query that throws must be LOUD in the artifact, not silently absent
    // (an analysis-broken query writes no parquet dir, so a reader of the
    // dumps alone would never see it) — record every failure and mirror
    // it into errors.json next to the parquet dumps
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // jsonStr escapes ALL control chars (<0x20): a tab or CR in a
    // query's SQL would otherwise make a json.load of the artifact fail
    import graft.pipelines.HttpEmbedder.jsonStr
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import scala.jdk.CollectionConverters._
    val errJson = failures.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (!failures.isEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keySet.asScala.toSeq.sorted.mkString(", "))
  }
}
