package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call: `parent` is the enclosing span (or -1), `op` the
  * operation (turn, build, pass) it belongs to.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the benchmark's own calls into each layer.
  * Single-threaded: spans nest through an explicit stack.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, op, name, System.nanoTime(), 0L)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Self time of each span: its duration minus its children's. */
  def selfMs: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - child.getOrElse(s.id, 0.0))).toMap
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Spark work of one job group (one op, or one query inside a pass). */
final class GroupStats {
  var jobs, stages, tasks = 0
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, outputBytes = 0L
  var planMs = 0.0
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

  /** Milliseconds of [start, end] during which no task of the group ran. */
  def idleMs(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var reach = startMs
    for ((a, b) <- taskIntervals.sortBy(_._1)) {
      val lo = math.max(a, reach)
      val hi = math.min(b, endMs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    math.max(0L, endMs - startMs - covered).toDouble
  }
}

/** Listener that books scheduler, executor, shuffle, io and Catalyst
  * planning figures to the job group they ran under. Events arrive
  * asynchronously, so figures are read only after [[drain]].
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  private val groups = mutable.HashMap[String, GroupStats]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val execGroup = mutable.HashMap[Long, String]()

  private def group(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  def stats(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      group(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = group(g)
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case st: SparkListenerSQLExecutionStart =>
      st.jobGroupId.foreach(g => synchronized(execGroup(st.executionId) = g))
    case end: SparkListenerSQLExecutionEnd =>
      synchronized(execGroup.get(end.executionId)).foreach { g =>
        // `qe` is package-private to Spark SQL; it is set on the driver
        // before the event is posted
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) {
          val ph = qe.tracker.phases
          val ms = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
            QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs).sum
          synchronized(group(g).planMs += ms)
        }
      }
    case _ =>
  }

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
