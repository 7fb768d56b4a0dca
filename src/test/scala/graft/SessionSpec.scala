package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point runs on the session `GraftSession` builds, and the
  * source tree keeps it that way: one builder site, six `main`s.
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

  test("GraftSession is the only SparkSession.builder site in src/main") {
    val sites = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder") => p.getFileName.toString
    }
    assert(sites == Seq("GraftSession.scala"))
  }

  test("src/main has exactly six `def main` entry points") {
    val mains = mainSources.flatMap { case (p, src) =>
      "def main\\(".r.findAllIn(src).map(_ => p.getFileName.toString)
    }.sorted
    assert(mains == Seq("Bench.scala", "BroadcastAudit.scala", "Explain.scala",
      "Main.scala", "ScaleProbe.scala", "Verify.scala"))
  }
}
