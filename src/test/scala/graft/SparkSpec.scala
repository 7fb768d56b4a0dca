package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** Jobs and stages started under job group `group`, and the SQL
    * executions started by anyone with their initial plans, counted once
    * [[drainListenerBus]] returns.
    */
  final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var sqlExecutions = 0
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs += 1; stages += e.stageInfos.size
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlExecutions += 1; plans.add(s.sparkPlanInfo)
      case _ =>
    }
  }

  def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` with the session confs `kvs` set, then restore each
    * key's prior value (or unset it if it had none). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
