package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec


/** Per-layer figures read off the trace: medians over the spans of the
  * measured ops (warm-up spans are excluded). */
trait TraceQueries {
  def tracer: Tracer

  private lazy val measuredOps: Set[Int] = tracer.allSpans
    .filter(s => s.parent == 0 && s.name.startsWith("op.")).map(_.op).toSet

  def spans(name: String): Seq[Span] =
    tracer.allSpans.filter(s => s.name == name && measuredOps(s.op))

  private def med(name: String)(f: Span => Double): Double = Stats.median(spans(name).map(f))

  def wallMs(name: String): Double = med(name)(s => (s.end - s.start).toDouble)
  def jobs(name: String): Double = med(name)(s => tracer.jobsIn(s).size.toDouble)
  def stages(name: String): Double = med(name)(s => tracer.jobsIn(s).map(_.stages).sum.toDouble)
  def driverGapMs(name: String): Double = med(name)(s => tracer.driverGapMs(s).toDouble)
  def shuffleBytes(name: String): Double =
    med(name)(s => tracer.jobsIn(s).map(_.shuffleWrite).sum.toDouble)
  def outputBytes(name: String, module: String): Double =
    med(name)(s => tracer.jobsIn(s).filter(_.module == module).map(_.output).sum.toDouble)
  /** Wall time covered by the span's jobs submitted from `module`. */
  def moduleJobMs(names: Seq[String], module: String): Double =
    Stats.median(names.flatMap(spans).map(s => Tracer.unionMs(tracer.jobsIn(s)
      .filter(_.module == module).map(j => (j.start, math.min(j.end, s.end)))).toDouble))
  /** Median over the spans of a count attached to them. */
  def spanCount(name: String, key: String): Double = med(name)(_.counts.getOrElse(key, 0.0))
  def total(name: String, key: String): Double = spans(name).map(_.counts.getOrElse(key, 0.0)).sum
}

/** Facts about an executed query, from its plan and SQL metrics. */
object PlanFacts {
  /** The largest output row count of any join: for a self-join query,
    * the pairs it materialized before later filters. */
  def maxJoinRows(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan).collect { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.maxOption.getOrElse(0L)

  /** Catalyst's analysis, optimization and planning time. */
  def planMs(df: DataFrame): Long =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}
