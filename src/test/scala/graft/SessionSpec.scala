package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics

/** Every entry point runs on the session `GraftSession` builds, and the
  * source tree keeps it that way: one builder site, five `main`s. The
  * session's codegen cache holds what a warm pass needs.
  */
class SessionSpec extends SparkSpec {

  private def mainSources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("shared test session: UTC, UI off, shuffle partitions = cores") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
  }

  test("generated class names carry no codegen stage id") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second pass of the curation queries compiles no code") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val names = Seq("q_pagerank", "q_rag_prompt", "q_longest_repeat", "q_containment")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.evaluate(SparkEntry.queries(n)(spark, sf0001)))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // static plans: under AQE the physical plan, and so its generated
    // classes, can change with the order in which query stages finish
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (first, second) = try (pass(), pass())
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(second == 0, s"$second classes compiled again after $first in the first pass")
  }

  test("GraftSession is the only SparkSession.builder site in src/main") {
    val sites = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(sites == Seq("GraftSession.scala"))
  }

  test("src/main has exactly five `def main` entry points") {
    val mains = mainSources.flatMap { case (p, src) =>
      "def main\\(".r.findAllIn(src).map(_ => p.getFileName.toString)
    }.sorted
    assert(mains == Seq("Bench.scala", "Explain.scala", "Main.scala", "ScaleProbe.scala",
      "Verify.scala"))
  }
}
