package graft

import org.apache.spark.sql.SparkSession

/** The one local session factory: every `main` and the shared test
  * session build their `SparkSession` here, so all of them plan and run
  * under the same settings.
  *
  *  - `local[cores]`, with `cores` from `SPARK_GRAFT_CPUS` (default 4);
  *  - shuffle partitions = `cores` unless the caller passes a count;
  *  - UTC session time zone (the oracle compares timestamps in UTC);
  *  - Spark UI off and log level WARN;
  *  - a codegen cache of [[CodegenCacheEntries]] classes;
  *  - generated class names without the whole-stage codegen id. Spark
  *    names each whole-stage class after its stage id, which under AQE
  *    follows the order in which query stages are planned, so two stages
  *    with the same code would compile twice; without the id, the codegen
  *    cache (keyed on the source) compiles them once.
  *
  * `getOrCreate` semantics: a second call in one JVM returns the live
  * session.
  */
object GraftSession {

  /** Generated classes the JVM keeps compiled. One pass over the query
    * registry at sf0.01 compiles 3,309 distinct classes (counted with a
    * 100,000-entry cache), and Spark's default of 100 entries evicts
    * almost all of them before the next pass needs them. 4,096 holds a
    * whole pass with 787 entries to spare. Spark reads this static setting
    * once, when its code generator first loads, so it takes effect only
    * in a JVM whose first session comes from here.
    */
  val CodegenCacheEntries = 4096

  private def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def apply(cores: Int = envCores, shufflePartitions: Option[Int] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
