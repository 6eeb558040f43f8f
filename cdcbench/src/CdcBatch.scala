package graft.cdcbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.{AtomicPublish, Materialize}
import graft.cdc.{CdcSchemas, EnvelopeReader, Scd2}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** `cdc_batch`: the reference's flagship job. Each pass reads the envelope
  * lake with the quarantine split (both sides consumed), builds the SCD2
  * history through the engine's stages and publishes it as parquet; then
  * [[Reads]] serving reads (current state, and as-of at seeded timestamps)
  * run against the published table. Nothing here touches the catalog's
  * table reader or streaming state.
  */
object CdcBatch {
  import Main.{median, quantile, secondsOf}

  /** Serving reads per pass; a run measures at least two passes, so at
    * least 40 reads.
    */
  val Reads = 20

  private val Stages = Seq("clean", "events", "deduped", "history", "quarantined")

  def run(r: Run): (Double, Outcome) = {
    val spark = r.spark
    val tr = r.tracer
    val (genS, (log, lake)) = ChangeLog.setup(r, (log, k) => {
      val lake = r.dir(s"lake-$k")
      ChangeLog.writeLake(log, lake)
      lake
    })
    r.note("inputs written")
    val ex = log.expect
    val rnd = new SplittableRandom(r.seed)
    val asOf = (0 until Reads / 2).map { _ =>
      val t = ChangeLog.BaseMs + rnd.nextLong(ChangeLog.SpanMs)
      (t, log.asOfRows(t))
    }
    val published = r.dir("history")
    val quarantined = r.dir("quarantine")

    val pipelineS = ArrayBuffer[Double]()
    val readMs = ArrayBuffer[Double]()
    val readRows = ArrayBuffer[Long]()
    val readPlanMs = ArrayBuffer[Double]()
    val writeDirs = ArrayBuffer[String]()
    var observed = Map.empty[String, Long]

    def pass(i: Int): Unit = tr.span("pass") {
      tr.beginRun(s"pass-$i")
      // traced run only: row counts between the stages, for the data-health counts
      val obs = if (tr.enabled) observations(Stages) else Map.empty[String, Observation]
      def observe(df: DataFrame, n: String) = CdcBatch.observe(obs, df, n)
      val done = r.attempt(s"pass $i") {
        secondsOf(tr.span("pipeline") {
          val (clean, quarantine) = tr.span("envelope") {
            EnvelopeReader.readEnvelopesWithQuarantine(spark, lake, CdcSchemas.productsRow)
          }
          val history = tr.span("scd2") {
            val events = observe(Scd2.cdcEvents(observe(clean, "clean")), "events")
            val deduped = observe(Scd2.dedupeEvents(events), "deduped")
            observe(Scd2.history(Scd2.rankedEvents(deduped), ChangeLog.AttrFields), "history")
          }
          tr.span("quarantine") {
            observe(quarantine, "quarantined").write.mode("overwrite").parquet(quarantined)
          }
          tr.span("publish") {
            AtomicPublish.ensure(published, s"pass-$i") { tmp =>
              tr.span("write") { history.write.parquet(tmp) }
              if (i > 0) writeDirs += tmp
            }
          }
        })._1
      }
      if (done.nonEmpty) {
        if (i > 0) pipelineS += done.get
        if (obs.nonEmpty) observed = counts(obs)
        r.checks.expect(s"pass $i history rows", spark.read.parquet(published).count(), ex.historyRows)
        r.checks.expect(s"pass $i quarantined lines", spark.read.parquet(quarantined).count(),
          ex.quarantined)

        // the warm-up pass only needs each read shape compiled
        for (j <- 0 until (if (i == 0) 4 else Reads)) {
          val current = j % 2 == 0
          val (what, expected) =
            if (current) ("current-state", ex.liveKeys)
            else (s"as-of ${asOf(j / 2)._1}", asOf(j / 2)._2)
          r.attempt(s"pass $i read $j ($what)") {
            secondsOf(tr.span("serve") {
              val hist = spark.read.parquet(published)
              val read =
                if (current) Scd2.currentStateLive(hist, ChangeLog.AttrFields)
                else {
                  val t = new Timestamp(asOf(j / 2)._1)
                  hist.filter(col("row_valid_start_timestamp") <= t &&
                    col("row_valid_expiration_timestamp") > t)
                }
              (Materialize.force(read), read)
            })
          }.foreach { case (s, (rows, read)) =>
            if (i > 0) {
              readMs += s * 1000
              readRows += rows
              if (tr.enabled) readPlanMs += Tracer.planMs(read)
            }
            r.checks.expect(s"pass $i read $j ($what) rows", rows, expected)
          }
        }
      }
    }

    val (warmS, _) = secondsOf(pass(0))
    r.note("warm-up pass done")
    val start = System.nanoTime()
    var i = 1
    while (i <= 2 || (System.nanoTime() - start) / 1e9 < r.seconds) { pass(i); i += 1 }
    r.note(s"${i - 1} measured passes done")
    verify(r, log, lake, published)
    r.note("verified")

    val e2e = Seq(
      Metric("throughput_per_s", median(pipelineS.toSeq.map(ex.lines / _)), "1/s"),
      Metric("op_ms_p50", quantile(readMs.toSeq, 0.5), "ms"),
      Metric("op_ms_p75", quantile(readMs.toSeq, 0.75), "ms"))
    val layers = new Layers
    if (tr.enabled) {
      traced(r, layers, observed, Main.dirBytes(lake).toDouble, writeDirs.toSeq, readRows.sum.toDouble)
      layers("serve.plan_ms") = median(readPlanMs.toSeq)
    }
    (genS + warmS, Outcome(e2e, layers))
  }

  /** Untimed reconciliation against the generator: lines in = clean +
    * quarantined; clean = history + null op + null key + duplicates; and the
    * published history equals the generator's expected history.
    */
  private def verify(r: Run, log: ChangeLog.Log, lake: String, published: String): Unit = {
    val spark = r.spark
    val ex = log.expect
    val (clean, quarantine) =
      EnvelopeReader.readEnvelopesWithQuarantine(spark, lake, CdcSchemas.productsRow)
    val obs = observations(Seq("clean", "events"))
    // a Dataset action: observations are reported when a SQL execution ends
    observe(obs, Scd2.cdcEvents(observe(obs, clean, "clean")), "events")
      .write.format("noop").mode("overwrite").save()
    val n = counts(obs)
    val history = spark.read.parquet(published)
    val historyN = history.count()
    r.checks.expect("lines in", spark.read.text(lake).count(), ex.lines)
    r.checks.expect("lines in = clean + quarantined", n("clean") + quarantine.count(), ex.lines)
    r.checks.expect("dropped null op", n("clean") - n("events"), ex.nullOp)
    r.checks.expect("dropped null key + duplicate (id, lsn) pairs", n("events") - historyN,
      ex.nullKey + ex.duplicates)
    r.checks.expect("duplicate (id, lsn) pairs",
      Scd2.cdcEvents(clean).filter(col("id").isNotNull).count() - historyN, ex.duplicates)
    r.checks.expect("published history digest",
      Checks.digest(ChangeLog.normalizedHistory(history)), Checks.digest(ChangeLog.expectedRows(log)))
  }

  private def observations(names: Seq[String]): Map[String, Observation] =
    names.map(n => n -> Observation(n)).toMap

  /** `df` with a row-count observation attached, if `obs` names one for `n`. */
  private def observe(obs: Map[String, Observation], df: DataFrame, n: String): DataFrame =
    obs.get(n).fold(df)(o => df.observe(o, count(lit(1)).as("rows")))

  private def counts(obs: Map[String, Observation]): Map[String, Long] =
    obs.map { case (n, o) => n -> o.get("rows").asInstanceOf[Long] }

  private def traced(r: Run, l: Layers, obs: Map[String, Long], lakeBytes: Double,
                     writeDirs: Seq[String], rowsReturned: Double): Unit = {
    val tr = r.tracer
    tr.drain()
    val passes = tr.spansOf("pass").drop(1)
    def all(layer: String) = passes.flatMap(p => tr.within(p, layer))
    val scans = all("pipeline").map(tr.tasksIn)
    l("envelope.lines_in") = obs("clean") + obs("quarantined")
    l("envelope.lines_quarantined") = obs("quarantined")
    l("envelope.bytes_scanned") = median(scans.map(_.inputBytes.toDouble))
    l("envelope.parse_passes") = median(scans.map(_.inputBytes / lakeBytes))
    l("envelope.task_ms") = median(scans.map(_.scanRunMs.toDouble))
    l("scd2.events_in") = obs("events")
    l("scd2.dropped_null_op") = obs("clean") - obs("events")
    l("scd2.duplicate_pairs") = obs("events") - obs("deduped")
    l("scd2.dropped_null_key") = obs("deduped") - obs("history")
    l("scd2.history_rows") = obs("history")
    val publishes = all("publish")
    val pubTasks = publishes.map(tr.tasksIn)
    l("scd2.shuffle_write_mb") = median(pubTasks.map(_.shuffleWriteBytes / 1e6))
    l("scd2.task_ms") = median(pubTasks.map(t => (t.runMs - t.scanRunMs).toDouble))
    // publish = the write job's commit plus the atomic swap around the write;
    // the tasks that compute and encode the rows count as envelope/scd2 time
    val writes = writeDirs.map(tr.writeMetrics)
    l("publish.ms") = median(publishes.zip(writes).map { case (p, w) =>
      p.ms - tr.within(p, "write").head.ms + w.getOrElse("jobCommitTime", 0L) })
    l("publish.bytes_written") = median(writes.map(_.getOrElse("numOutputBytes", 0L).toDouble))
    l("publish.files") = median(writes.map(_.getOrElse("numFiles", 0L).toDouble))
    l("serve.task_ms") = median(all("serve").map(s => tr.tasksIn(s).runMs.toDouble))
    l("serve.rows_scanned_per_row_returned") =
      all("serve").map(s => tr.tasksIn(s).inputRecords).sum / rowsReturned
    Layers.exec(tr, l, passes)
  }
}
