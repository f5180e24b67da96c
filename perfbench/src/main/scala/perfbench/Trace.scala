package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One span: an op or a layer call made by the benchmark. Times are
  * epoch milliseconds (the clock Spark stamps its events with). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long, gcMs: Long, counts: Map[String, Double])

/** A finished Spark job with the stage totals of its tasks. */
final case class Job(id: Int, start: Long, end: Long, callSite: String,
    stages: Int, tasks: Long, taskMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, output: Long) {
  /** The repo module whose code submitted the job, from the call-site
    * file (e.g. `parquet at GraphStore.scala:82` → store). */
  def module: String = Tracer.moduleOf(callSite)
}

/** Span recorder plus, in a traced run, a listener that collects every
  * job. Spans stay in memory until the run ends. With tracing off,
  * [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, Long)] = Nil // (id, start, gc)
  private var nextId = 1
  private var op = 0
  private val pending = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val listener = new JobListener

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      if (parent == 0) op += 1
      stack = (id, System.currentTimeMillis(), Tracer.gcMs()) :: stack
      try body
      finally {
        val (_, t0, gc0) = stack.head
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.currentTimeMillis(),
          Tracer.gcMs() - gc0, pending.remove(id).map(_.toMap).getOrElse(Map.empty))
      }
    }

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { case (id, _, _) =>
      val m = pending.getOrElseUpdate(id, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }

  def allSpans: Seq[Span] = spans.toSeq
  def jobs: Seq[Job] = listener.jobs

  /** Jobs that started inside a span's interval. One client, so time
    * is enough to assign a job to the op it served. */
  def jobsIn(s: Span): Seq[Job] = jobs.filter(j => j.start >= s.start && j.start <= s.end)

  /** Span wall time minus the union of its jobs' intervals. */
  def driverGapMs(s: Span): Long = s.end - s.start - Tracer.unionMs(
    jobsIn(s).map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))

  /** Wall time not covered by the span's direct children. */
  def selfMs(s: Span): Long = s.end - s.start - Tracer.unionMs(
    spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  private val Modules: Seq[(String, Set[String])] = Seq(
    "api" -> Set("GraphService"),
    "etl" -> Set("Staging", "Pipeline", "Enrich", "UrlFunctions"),
    "store" -> Set("GraphStore", "Layout"),
    "query" -> Set("GraphQueries", "Motif", "Community"),
    "graphx" -> Set("GraphOps"),
    "ext" -> Set("Dedup", "Decontaminate", "TextAnalysis", "Packing"),
    "functions" -> Set("MinHash", "TextStats", "Jaccard"))

  def moduleOf(callSite: String): String = {
    val file = "at ([A-Za-z0-9_$]+)\\.scala".r.findFirstMatchIn(callSite)
      .map(_.group(1)).getOrElse("")
    Modules.collectFirst { case (m, files) if files(file) => m }
      .getOrElse(if (file.nonEmpty) "bench" else "spark")
  }
}

/** Collects each job's interval, call site and stage totals. */
private final class JobListener extends SparkListener {
  import JobListener._
  private val queries = mutable.Map.empty[Long, String]
  private val open = mutable.Map.empty[Int, Acc]
  private val stages = mutable.Map.empty[Int, StageTotals]
  private val done = new ConcurrentLinkedQueue[Job]()

  def jobs: Seq[Job] = synchronized(done.asScala.toSeq.sortBy(_.start))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { queries(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A job of a SQL query (including the query stages adaptive
    // execution submits from its own threads) takes the call site of
    // the action that ran the query; any other job takes the name of
    // its result stage, which is its call site.
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => queries.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
    open(e.jobId) = new Acc(e.time, site, e.stageInfos.map(_.stageId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = if (m == null) StageTotals(i.numTasks, 0, 0, 0, 0, 0)
      else StageTotals(i.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { a =>
      // skipped stages (reused shuffle output) never complete
      val st = a.stageIds.flatMap(stages.get)
      done.add(Job(e.jobId, a.start, e.time, a.callSite, st.size,
        st.map(_.tasks).sum, st.map(_.taskMs).sum, st.map(_.shRead).sum,
        st.map(_.shWrite).sum, st.map(_.spill).sum, st.map(_.output).sum))
    }
  }
}

private object JobListener {
  final class Acc(val start: Long, val callSite: String, val stageIds: Seq[Int])
  final case class StageTotals(tasks: Long, taskMs: Long, shRead: Long,
      shWrite: Long, spill: Long, output: Long)
}
