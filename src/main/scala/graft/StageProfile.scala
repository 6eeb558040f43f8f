package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-stage task profiling — the readout that adjudicates a
  * time-superlinear trend whose shuffle is clean (VERDICT r14 task #1: is
  * a t_trend of ~20 a CPU-quadratic like the r13 funnel, or GC/spill
  * pressure at the 14 GB lake?). A quadratic concentrates wall in one
  * semantic stage whose task max ≫ median; memory pressure shows up as a
  * high GC share / nonzero spill spread across tasks.
  *
  * The listener is a reusable [[StageProfile.Meter]] so `Dev smoke
  * --profile` can emit the same digest in-line for any flagged row
  * (VERDICT r15 task #5 — the adjudication readout must come from the
  * SAME run that produced the flag, not a later hand-run); `Dev profile`
  * prints it per run for named queries.
  */
object StageProfile {

  final case class StageAgg(
      var n: Int = 0, var sumMs: Long = 0L, var maxMs: Long = 0L,
      var gcMs: Long = 0L, var spillMb: Double = 0.0,
      var shufReadMb: Double = 0.0, var shufWriteMb: Double = 0.0,
      var inputMb: Double = 0.0,
      durations: scala.collection.mutable.ArrayBuffer[Long] =
        new scala.collection.mutable.ArrayBuffer[Long]()) {
    def medMs: Long = {
      val s = durations.sorted
      if (s.isEmpty) 0L else s(s.size / 2)
    }
    def gcPct: Double = if (sumMs > 0) 100.0 * gcMs / sumMs else 0.0
  }

  /** Attachable per-stage task meter, plus each job's wall (attributes
    * cost to eager checkpoint jobs that never appear in the final adaptive
    * plan). reset() between measured runs;
    * drain the listener bus first or the previous run's async task events
    * pollute the profile (same contract as SkewStress's TaskMeter).
    */
  final class Meter extends SparkListener {
    val stages = new scala.collection.concurrent.TrieMap[Int, StageAgg]()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskMetrics != null) {
        val a = stages.getOrElseUpdate(t.stageId, StageAgg())
        a.synchronized {
          a.n += 1
          a.sumMs += t.taskInfo.duration
          a.maxMs = math.max(a.maxMs, t.taskInfo.duration)
          a.gcMs += t.taskMetrics.jvmGCTime
          a.spillMb += (t.taskMetrics.memoryBytesSpilled +
            t.taskMetrics.diskBytesSpilled) / 1e6
          a.shufReadMb += t.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
          a.shufWriteMb += t.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
          a.inputMb += t.taskMetrics.inputMetrics.bytesRead / 1e6
          a.durations += t.taskInfo.duration
        }
      }

    /** job id -> (wall s, description or call site), jobs ended since reset(). */
    val jobs = new scala.collection.concurrent.TrieMap[Int, (Double, String)]()
    private val jobStarts = new scala.collection.concurrent.TrieMap[Int, (Long, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      val label = p.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(p.flatMap(p => Option(p.getProperty("callSite.short")))).getOrElse("")
      jobStarts(j.jobId) = (j.time, label.take(80))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobStarts.remove(j.jobId).foreach { case (t0, label) =>
        jobs(j.jobId) = ((j.time - t0) / 1000.0, label)
      }

    def reset(): Unit = { stages.clear(); jobs.clear() }

    /** One line per stage, heaviest first (by task-time sum), at most
      * `top` stages — the compact in-line digest `Dev smoke --profile`
      * prints for a flagged row.
      */
    def digest(top: Int = 3): Seq[String] =
      stages.readOnlySnapshot().toSeq.sortBy(-_._2.sumMs).take(top).map {
        case (id, a) =>
          f"stage $id: tasks=${a.n} sum=${a.sumMs / 1000.0}%.1fs " +
            f"max/med=${a.maxMs / 1000.0}%.2f/${a.medMs / 1000.0}%.2fs " +
            f"gc=${a.gcPct}%.1f%% spill=${a.spillMb}%.0fM " +
            f"sh_rd=${a.shufReadMb}%.0fM sh_wr=${a.shufWriteMb}%.0fM " +
            f"input=${a.inputMb}%.0fM"
      }
  }
}
