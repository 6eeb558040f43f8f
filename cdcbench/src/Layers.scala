package graft.cdcbench

import scala.collection.mutable

/** The per-layer metrics of the traced run. Every workload reports all of
  * them; a layer the workload does not reach reads 0, which is itself the
  * prediction (e.g. no envelope parse on `catalog`).
  */
final class Layers {
  private val values = mutable.Map[String, Double]()

  def update(name: String, value: Double): Unit = {
    require(Layers.Units.contains(name), s"unknown layer metric $name")
    values(name) = value
  }

  def metrics: Seq[Metric] = Layers.All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
}

object Layers {
  /** (name, unit), grouped by the module each layer is named for. */
  val All: Seq[(String, String)] = Seq(
    "session.start_ms" -> "ms",
    "envelope.lines_in" -> "count",
    "envelope.lines_quarantined" -> "count",
    "envelope.bytes_scanned" -> "bytes",
    "envelope.parse_passes" -> "ratio",
    "envelope.task_ms" -> "ms",
    "scd2.events_in" -> "count",
    "scd2.dropped_null_op" -> "count",
    "scd2.dropped_null_key" -> "count",
    "scd2.duplicate_pairs" -> "count",
    "scd2.history_rows" -> "count",
    "scd2.shuffle_write_mb" -> "MB",
    "scd2.task_ms" -> "ms",
    "publish.ms" -> "ms",
    "publish.bytes_written" -> "bytes",
    "publish.files" -> "count",
    "serve.plan_ms" -> "ms",
    "serve.task_ms" -> "ms",
    "serve.rows_scanned_per_row_returned" -> "ratio",
    "stream.source_ms" -> "ms",
    "stream.plan_ms" -> "ms",
    "stream.addbatch_ms" -> "ms",
    "stream.commit_ms" -> "ms",
    "stream.trigger_ms_p95" -> "ms",
    "stream.corrections_emitted" -> "count",
    "state.rows_total" -> "count",
    "state.rows_updated" -> "count",
    "state.memory_mb" -> "MB",
    "state.commit_ms" -> "ms",
    "current.step_ms" -> "ms",
    "current.state_rows" -> "count",
    "catalog.build_ms" -> "ms",
    "catalog.resolve_jobs" -> "count",
    "catalog.build_jobs" -> "count",
    "catalog.plan_ms" -> "ms",
    "catalog.codegen_ms" -> "ms",
    "catalog.codegen_compiles_warm" -> "count",
    "catalog.exec_ms" -> "ms",
    "catalog.shuffle_write_mb" -> "MB",
    "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.fetch_wait_ms" -> "ms",
    "exec.spill_mb" -> "MB",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "trace.throughput_per_s" -> "1/s")

  private val Units = All.toMap

  /** Spark execution totals per measured pass (median over `passes`). */
  def exec(tr: Tracer, l: Layers, passes: Seq[Tracer.Span]): Unit =
    if (passes.nonEmpty) {
      val ts = passes.map(tr.tasksIn)
      val js = passes.map(tr.jobsIn)
      def med(f: Int => Double) = Main.median(passes.indices.map(f))
      l("exec.task_cpu_ms") = med(i => ts(i).cpuNs / 1e6)
      l("exec.gc_ms") = med(i => ts(i).gcMs.toDouble)
      l("exec.fetch_wait_ms") = med(i => ts(i).fetchWaitMs.toDouble)
      l("exec.spill_mb") = med(i => ts(i).spillBytes / 1e6)
      l("exec.jobs") = med(i => js(i).size.toDouble)
      l("exec.stages") = med(i => js(i).map(_.stages).sum.toDouble)
      l("exec.tasks") = med(i => ts(i).count.toDouble)
    }
}
