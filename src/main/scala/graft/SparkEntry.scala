package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** Driver contract — see SURVEY.md §7.
  * Queries are assembled from the domain modules under `graft.queries`.
  *
  * Also the registry's one runner: every program that walks the registry
  * (`Bench`, `Verify`, `Explain`, `tools.ScaleProbe`) picks its queries
  * with [[select]], runs them with [[runEach]] and, where it times them,
  * evaluates them with [[evaluate]].
  */
object SparkEntry {

  /** All driver-checkable queries. */
  def registry: Seq[QueryDef] =
    queries_registry

  private lazy val queries_registry: Seq[QueryDef] = {
    import graft.queries._
    Seq(RagQueries.all, VectorQueries.all, AnnQueries.all, DedupQueries.all, NearDupQueries.all,
      DecontamQueries.all, TextStatsQueries.all, TokenizerQueries.all, QualityQueries.all,
      MixingQueries.all, LinkageQueries.all, RelationalQueries.all, EventQueries.all,
      MultimodalQueries.all).flatten
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_topk_cosine")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The named queries sorted by name, or the whole registry when `names`
    * is empty. Every name must exist: a typo would otherwise run (and
    * report on) a plausible-looking subset with no error, so an unknown
    * name is an `IllegalArgumentException` that lists each one.
    */
  def select(names: Iterable[String]): Seq[QueryDef] = {
    val wanted = names.toSet
    val unknown = (wanted -- registry.map(_.name)).toSeq.sorted
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(", ")}")
    registry.filter(q => wanted.isEmpty || wanted(q.name)).sortBy(_.name)
  }

  /** Runs `body` on each query, `parallel` at a time (queries are
    * independent, and Spark schedules concurrent jobs on one session).
    * A query that throws must be loud, not silently absent: each failure
    * prints one `[tag] name failed: message` line on stderr, and the
    * result maps every failed query's name to its message.
    */
  def runEach(qs: Seq[QueryDef], tag: String, parallel: Int = 1)(
      body: QueryDef => Unit): SortedMap[String, String] = {
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def one(q: QueryDef): Unit =
      try body(q) catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[$tag] ${q.name} failed: $msg")
        failures.put(q.name, msg)
      }
    if (parallel <= 1) qs.foreach(one)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallel)
      try pool.invokeAll(qs.map[java.util.concurrent.Callable[Unit]](q => () => one(q)).asJava)
      finally pool.shutdown()
    }
    SortedMap.from(failures.asScala)
  }

  /** Evaluates every output column of `df` and keeps nothing: the sink
    * for timing. `count()` would let Catalyst prune projections and
    * aggregate outputs, so a map-only query would time its bare scan
    * instead of its compute; the noop write adds no aggregation shuffle
    * of its own.
    */
  def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
