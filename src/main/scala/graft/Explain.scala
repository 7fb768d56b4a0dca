package graft

import graft.tools.BroadcastAudit
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan inspection over registry queries:
  * `graft.Explain <sfDir> [mode] [queryName ...]`, every query when no
  * name is given. Modes:
  *
  *   - `plan` (default): the formatted physical plan.
  *   - `final`: runs the query first (`collect`, which drives the
  *     dataset's own QueryExecution, unlike `count()`/`write`), so the
  *     printed plan is the FINAL adaptive plan with AQE's actual join
  *     choices. Use only on queries with small outputs.
  *   - `offenders`: what the PlanShapeSpec registry gate rejects —
  *     [[BroadcastAudit.planOffenders]] on the plan built under the
  *     gate's confs.
  *   - `winkeys`: every partitioned window's partition keys. A key with
  *     few distinct values (lang, source, band) caps parallelism at
  *     #groups even when the slope stays linear, which the gate's
  *     empty-partitionSpec check cannot see; adjudicated by hand.
  *   - `aggkeys`: every buffering aggregate (collect_list, collect_set,
  *     any TypedImperativeAggregate) with its grouping keys. Such a
  *     buffer keeps every input value of a group in ONE task's heap, so
  *     a few-valued key makes it Θ(corpus/#groups); adjudicated by hand.
  *
  * The last three build plans under the gate's own confs,
  * [[BroadcastAudit.PlanConfs]].
  */
object Explain {
  private val Modes = Set("plan", "final", "offenders", "winkeys", "aggkeys")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (mode, names) = args.drop(1).toSeq match {
      case m +: rest if Modes(m) => (m, rest)
      case rest => ("plan", rest)
    }
    val qs = SparkEntry.select(names)
    val spark = GraftSession()
    if (mode != "plan" && mode != "final")
      BroadcastAudit.PlanConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    var offending = 0
    SparkEntry.runEach(qs, "explain") { q =>
      val df = q.fn(spark, sfDir)
      def plan = df.queryExecution.executedPlan
      mode match {
        case "plan" | "final" =>
          println(s"\n========== ${q.name} ==========")
          if (mode == "final") df.collect()
          df.explain("formatted")
        case "offenders" =>
          val found = BroadcastAudit.planOffenders(q.name, plan)
          if (found.nonEmpty) offending += 1
          found.foreach(println)
        case "winkeys" => windowKeys(q.name, plan).foreach(println)
        case "aggkeys" => aggKeys(q.name, plan).foreach(println)
      }
    }
    if (mode == "offenders") println(s"\nplans with offenders: $offending of ${qs.size}")
    spark.stop()
  }

  private def windowKeys(name: String, plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: WindowExec if w.partitionSpec.nonEmpty =>
        val keys = w.partitionSpec.map(_.sql).mkString(", ")
        s"WINKEYS $name: partitionBy($keys) over [${BroadcastAudit.signature(w.child)}]"
    } ++ plan.collect {
      case w: WindowGroupLimitExec =>
        s"WINLIM  $name: partitionBy(${w.partitionSpec.map(_.sql).mkString(", ")})"
    }

  /** The Final/Complete site of each buffering aggregate (each also plans
    * a Partial twin upstream with the same keys and functions). */
  private def aggKeys(name: String, plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final, TypedImperativeAggregate}
    plan.collect {
      case o: ObjectHashAggregateExec => (o.groupingExpressions, o.aggregateExpressions, o.child)
      case s: SortAggregateExec => (s.groupingExpressions, s.aggregateExpressions, s.child)
    }.flatMap { case (grouping, aggs, child) =>
      val fns = aggs.filter(ae => (ae.mode == Final || ae.mode == Complete) &&
          ae.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]])
        .map(_.aggregateFunction.prettyName).distinct
      val keys = if (grouping.isEmpty) "<global>" else grouping.map(_.name).mkString(", ")
      if (fns.isEmpty) None
      else Some(s"AGGKEYS $name: groupBy($keys) agg[${fns.mkString(",")}] " +
        s"over [${BroadcastAudit.signature(child)}]")
    }
  }
}
