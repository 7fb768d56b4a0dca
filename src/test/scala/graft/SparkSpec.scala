package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM), on 4 cores
  * whatever `SPARK_GRAFT_CPUS` says, so plan-shape assertions see the
  * same partition counts on every box. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession(cores = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
}
