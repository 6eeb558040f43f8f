package graft.cdcbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing for the traced run: spans around the benchmark's own
  * calls into the engine, and the Spark jobs and task metrics each span
  * caused. The engine is not instrumented; jobs are attributed through the
  * job description (`<workload>:<layer>`) and a span-id local property set
  * while a span is open. Child threads (a streaming query's, broadcast
  * threads) inherit the span that was open when they were created.
  *
  * With `enabled = false`, [[span]] only runs its body: no listener, no job
  * labels, no records.
  */
final class Tracer(spark: SparkSession, workload: String, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var runId = ""
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val tasks = new ConcurrentHashMap[Int, Tasks]()
  private val writes = new ConcurrentHashMap[String, Map[String, Long]]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).foreach { s =>
          e.stageIds.foreach(st => stageSpan.put(st, s))
          // a stage's `details` is the user-code call stack that started the job
          val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
          jobs.put(e.jobId, Job(s, site, e.stageIds.size))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stageSpan.get(e.stageId)
        if (s != null && e.taskMetrics != null)
          tasks.computeIfAbsent(s.intValue, _ => new Tasks).add(e.taskMetrics)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        def find(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
          case w: DataWritingCommandExec => Seq(w)
          case c: CommandResultExec => find(c.commandPhysicalPlan)
          case a: AdaptiveSparkPlanExec => find(a.executedPlan)
          case q: QueryStageExec => find(q.plan)
          case other => other.children.flatMap(find)
        }
        find(qe.executedPlan).foreach(w => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            writes.put(i.outputPath.toUri.getPath, w.metrics.view.mapValues(_.value).toMap)
          case _ =>
        })
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Spans that follow belong to run `id` (one pass, drain or query). */
  def beginRun(id: String): Unit = runId = id

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = synchronized {
        val s = Span(spans.size, layer, open.headOption.getOrElse(-1), runId, System.nanoTime())
        spans += s
        open = s.id :: open
        s
      }
      sc.setJobDescription(s"$workload:$layer")
      sc.setLocalProperty(SpanKey, sp.id.toString)
      try body
      finally synchronized {
        sp.endNs = System.nanoTime()
        open = open.filterNot(_ == sp.id)
        val parent = Some(sp.parent).filter(_ >= 0)
        sc.setJobDescription(parent.map(p => s"$workload:${spans(p).layer}").orNull)
        sc.setLocalProperty(SpanKey, parent.map(_.toString).orNull)
      }
    }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.GraftSparkInternals.drainListenerBus(sc)
  }

  /** Closed spans of `layer`, in start order. */
  def spansOf(layer: String): Seq[Span] = spans.filter(s => s.layer == layer && s.endNs > 0).toSeq

  /** Closed spans of `layer` inside `root` (root included). */
  def within(root: Span, layer: String): Seq[Span] = subtree(root).filter(_.layer == layer)

  private def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    // spans are appended in start order, so a parent always precedes its children
    spans.drop(root.id).filter(s => s.endNs > 0 && (ids(s.id) || (ids(s.parent) && ids.add(s.id)))).toSeq
  }

  /** Jobs started inside `root` or its children. */
  def jobsIn(root: Span): Seq[Job] = {
    val ids = subtree(root).map(_.id).toSet
    jobs.values.asScala.filter(j => ids(j.span)).toSeq
  }

  /** Task totals inside `root` or its children. */
  def tasksIn(root: Span): Tasks = {
    val t = new Tasks
    subtree(root).foreach(s => Option(tasks.get(s.id)).foreach(t.merge))
    t
  }

  /** SQL metrics of the file write whose output directory is `path`. */
  def writeMetrics(path: String): Map[String, Long] =
    Option(writes.get(new File(path).getAbsolutePath)).getOrElse(Map.empty)

  /** Self time per layer in ms: each span's duration minus the part its
    * children cover (one client, so a span's children never overlap).
    */
  def selfMs: Map[String, Double] = {
    val closed = spans.filter(_.endNs > 0)
    val childNs = closed.groupBy(_.parent).view.mapValues(_.map(c => c.endNs - c.startNs).sum).toMap
    closed.groupBy(_.layer).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum).toMap
  }

  /** Write every span as one JSON line: name, start, end, parent, run id. */
  def write(file: File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach(s => w.println(
      s"""{"id":${s.id},"name":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"run":"${s.run}"}"""))
    finally w.close()
  }
}

object Tracer {
  private val SpanKey = "cdcbench.span"

  /** Analysis, optimization and physical-planning time of a query, in ms. */
  def planMs(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  final case class Span(id: Int, layer: String, parent: Int, run: String, startNs: Long) {
    @volatile var endNs: Long = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Job(span: Int, callSite: String, stages: Int)

  /** Summed task metrics; `scanRunMs` covers the tasks that read input files. */
  final class Tasks {
    var count, runMs, cpuNs, gcMs, fetchWaitMs, spillBytes, shuffleWriteBytes = 0L
    var scanRunMs, inputBytes, inputRecords = 0L

    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      count += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      if (m.inputMetrics.bytesRead > 0) scanRunMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
    }

    def merge(o: Tasks): Unit = synchronized {
      count += o.count; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
      shuffleWriteBytes += o.shuffleWriteBytes; scanRunMs += o.scanRunMs
      inputBytes += o.inputBytes; inputRecords += o.inputRecords
    }
  }
}
