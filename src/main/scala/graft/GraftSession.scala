package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every `main` and the shared test
  * session build their `SparkSession` here, so all of them plan and run
  * under the same settings.
  *
  *  - `local[cores]`, with `cores` from `SPARK_GRAFT_CPUS` (default 4);
  *  - shuffle partitions = `cores` unless the caller passes a count;
  *  - UTC session time zone (the oracle compares timestamps in UTC);
  *  - Spark UI off and log level WARN.
  *
  * `getOrCreate` semantics: a second call in one JVM returns the live
  * session.
  */
object GraftSession {

  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def apply(cores: Int = envCores, shufflePartitions: Option[Int] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
