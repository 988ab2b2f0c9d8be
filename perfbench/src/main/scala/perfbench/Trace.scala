package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` and `op` tie builds, executions and jobs to
  * the operation and round they belong to; spans are kept in memory and
  * written out once the run ends.
  */
final case class Span(id: Long, name: String, kind: String, startNs: Long,
                      endNs: Long, parent: Long, op: Long)

/** A job as Spark's listener reports it, with the span that was open on
  * the client thread when the job was submitted.
  */
final class JobRec(val id: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Stage and task totals: stages that ran, and every ended task's metrics. */
final class TaskTotals {
  var stages, tasks, cpuNs, runMs, gcMs, shufW, shufR, fetchWaitMs, spill, inB, outB = 0L
  def +=(o: TaskTotals): Unit = {
    stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shufW += o.shufW; shufR += o.shufR
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; inB += o.inB; outB += o.outB
  }
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    shufW += m.shuffleWriteMetrics.bytesWritten
    shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.diskBytesSpilled + m.memoryBytesSpilled
    inB += m.inputMetrics.bytesRead
    outB += m.outputMetrics.bytesWritten
  }
}

/** The traced run's recorder. The untraced run keeps only the client-side
  * timings; with `enabled` it also attaches a SparkListener and a
  * QueryExecutionListener and tags every submitted job with the open span
  * through a local property, so jobs started inside a DataFrame-building
  * call are told apart from the jobs that execute it.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 1L
  private val stack = mutable.Stack[Long]()
  private val spanOp = mutable.Map[Long, Long]()
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val taskBySpan = new java.util.concurrent.ConcurrentHashMap[Long, TaskTotals]()
  val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private val Prop = "perfbench.span"

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toLong).getOrElse(0L)
        jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
        e.stageIds.foreach(s => stageSpan.put(s, span))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      // the bus delivers events on one thread, so the totals need no lock
      private def totals(stage: Int) =
        taskBySpan.computeIfAbsent(stageSpan.getOrDefault(stage, 0L), _ => new TaskTotals)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        totals(e.stageInfo.stageId).stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) totals(e.stageId).add(e.taskMetrics)
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    })
  }

  /** Runs `body` inside a span; returns its result. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val op = if (kind == "op") id else spanOp.getOrElse(parent, 0L)
    spanOp(id) = op
    stack.push(id)
    if (enabled) sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      if (enabled) sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, kind, t0, t1, parent, op)
    }
  }

  /** Waits until every posted listener event has been delivered. */
  def flush(): Unit =
    if (enabled) org.apache.spark.sql.GraftSqlBridge.flushListenerBus(sc, 60000L): Unit

  /** Query executions reported since the last drain. */
  def drainQes(): Seq[QueryExecution] = {
    flush()
    Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
  }

  /** One JSON object per line: the spans, then the jobs. */
  def writeSpans(path: String): Unit = {
    val spanLines = spans.sortBy(_.startNs).map(s => ListMap("kind" -> s.kind, "id" -> s.id,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
      "op" -> s.op))
    val jobLines = jobs.values.asScala.toSeq.sortBy(_.id).map(j => ListMap("kind" -> "job",
      "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (spanLines ++ jobLines).map(Main.json.writeValueAsString).mkString("", "\n", "\n"))
  }
}

object PlanMetrics {
  /** Every node of an executed plan, looking through adaptive execution
    * and its query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Candidate rows: per execution, the rows out of the last (largest)
    * explode node whose generator reads `column`, summed over executions.
    */
  def explodeRows(qes: Seq[QueryExecution], column: String): Long =
    qes.map { qe =>
      val counts = nodes(qe.executedPlan).collect {
        case g: GenerateExec if g.generator.references.exists(_.name == column) =>
          g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
      if (counts.isEmpty) 0L else counts.max
    }.sum

  /** analysis / optimization / planning ms summed over the executions. */
  def phases(qes: Seq[QueryExecution]): Map[String, Double] = {
    val acc = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0, "planning" -> 0.0)
    qes.foreach(qe => qe.tracker.phases.foreach { case (k, s) =>
      if (acc.contains(k)) acc(k) += s.durationMs.toDouble
    })
    acc.toMap
  }
}
