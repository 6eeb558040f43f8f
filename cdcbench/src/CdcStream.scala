package graft.cdcbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.cdc.{CdcSchemas, Scd2}
import graft.streaming.{CurrentState, Scd2Streaming}
import graft.streaming.Scd2Streaming.{KeyEvent, VersionRow}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** `cdc_stream`: the same change log as `cdc_batch`, delivered as mtime-ordered
  * slices and drained by the incremental SCD2 stream (transformWithState on
  * the RocksDB state store), one slice per trigger, AvailableNow. Each
  * trigger appends its emissions and merges their net change into the
  * lake-persisted current state. A drain is closed-loop over a pre-staged
  * backlog: the next trigger starts when the previous one has committed. No
  * window shuffle runs here.
  */
object CdcStream {
  import Main.{median, quantile, secondsOf}

  private val StateStore = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The first triggers of every drain start the query and the state store;
    * they are the warm-up, and the metrics cover the triggers after them.
    */
  val WarmTriggers = 2

  /** One drain's outputs, Spark's progress reports and the current-state
    * step time per trigger.
    */
  final case class Drain(dir: String, progress: Seq[StreamingQueryProgress],
                         stepMs: Map[Long, Double]) {
    def emissions: String = s"$dir/emissions"
    def current: String = s"$dir/current"
    def measured: Seq[StreamingQueryProgress] = progress.drop(WarmTriggers)
    def warmMs: Double = progress.take(WarmTriggers).map(triggerMs).sum
  }

  private def triggerMs(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution").toDouble

  def run(r: Run): (Double, Outcome) = {
    val spark = r.spark
    val tr = r.tracer
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", StateStore)
    val (genS, (log, slices)) = ChangeLog.setup(r, (log, k) => {
      val dir = r.dir(s"slices-$k")
      ChangeLog.writeSlices(log, dir)
      dir
    })
    r.note("inputs written")
    val drains = ArrayBuffer[Drain]()
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < r.seconds) {
      tr.span("pass") {
        tr.beginRun(s"drain-$i")
        r.attempt(s"drain $i")(drain(r, i, slices)).foreach(drains += _)
      }
      i += 1
    }
    r.note(s"$i drains done")
    drains.foreach(d => verify(r, log, d))
    r.note("verified")

    val triggers = drains.flatMap(_.measured.map(triggerMs)).toSeq
    val e2e = Seq(
      Metric("throughput_per_s", median(drains.map(d =>
        d.measured.map(_.numInputRows).sum / (d.measured.map(triggerMs).sum / 1000)).toSeq), "1/s"),
      Metric("op_ms_p50", quantile(triggers, 0.5), "ms"),
      Metric("op_ms_p75", quantile(triggers, 0.75), "ms"))
    val layers = new Layers
    if (tr.enabled) traced(r, layers, drains.toSeq, Main.dirBytes(slices).toDouble)
    (genS + drains.headOption.map(_.warmMs / 1000).getOrElse(0.0), Outcome(e2e, layers))
  }

  private def drain(r: Run, i: Int, input: String): Drain = {
    val spark = r.spark
    import spark.implicits._
    val tr = r.tracer
    val dir = r.dir(s"drain-$i")
    val stepMs = mutable.Map[Long, Double]()
    val current = new CurrentState.LakeMaintainer(spark, s"$dir/current", "id", "lsn",
      ChangeLog.AttrFields)
    val q = tr.span("drain") {
      val envelopes = Scd2Streaming.readEnvelopeStream(spark, input, CdcSchemas.productsRow,
        maxFilesPerTrigger = 1)
      val events = Scd2.cdcEvents(envelopes)
        .filter(col("id").isNotNull)
        .select(col("id"), col("log_seq_num").as("lsn"),
          unix_millis(col("source_timestamp")).as("tsMs"),
          map(ChangeLog.AttrFields.flatMap(f =>
            Seq(lit(f), col(s"after_row_value.$f").cast("string"))): _*).as("attrs"),
          col("operation_type").as("op"))
        .as[KeyEvent]
      val q = Scd2Streaming.incremental(events).writeStream
        .foreachBatch { (b: Dataset[VersionRow], batchId: Long) =>
          // two consumers: cache the batch rather than run the stateful step twice
          b.persist()
          try {
            tr.span("sink") {
              val out = b.withColumn("batch", lit(batchId))
              out.write.mode("append").parquet(s"$dir/emissions")
              if (r.plant == "dup_emission" && batchId == WarmTriggers)
                out.limit(1).write.mode("append").parquet(s"$dir/emissions")
            }
            stepMs(batchId) = secondsOf(tr.span("current") {
              current.step(b.select(col("id") +: col("lsn") +: ChangeLog.AttrFields.map(f =>
                (if (f == "price") col("attrs")(f).cast("double") else col("attrs")(f)).as(f)): _*),
                batchId)
            })._1 * 1000
          } finally b.unpersist()
          ()
        }
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    Drain(dir, q.recentProgress.toSeq.sortBy(_.batchId), stepMs.toMap)
  }

  /** Untimed: the stream's converged view (the last emission per (id, lsn))
    * equals the generator's history for the seed, which `cdc_batch` checks
    * its published history against, so stream and batch agree; no (id, lsn)
    * is emitted twice in one trigger; the state holds one row per key; the
    * current state holds every key, and its live rows are the live keys.
    */
  private def verify(r: Run, log: ChangeLog.Log, d: Drain): Unit = {
    val spark = r.spark
    val ex = log.expect
    val emitted = spark.read.parquet(d.emissions)
    r.checks.expect(s"${d.dir}: (id, lsn) emitted twice in one trigger",
      emitted.groupBy("batch", "id", "lsn").count().filter(col("count") > 1).count(), 0L)
    val converged = emitted
      .groupBy("id", "lsn").agg(max_by(struct(col("rowValidStartMs"), col("rowValidExpirationMs"),
        col("attrs")), col("batch")).as("v"))
      .select(col("id"), col("v.attrs")("name").as("name"),
        col("v.attrs")("description").as("description"),
        col("v.attrs")("price").cast("double").as("price"),
        col("v.rowValidStartMs").as("start_ms"), col("v.rowValidExpirationMs").as("end_ms"))
    r.checks.expect(s"${d.dir}: converged stream = expected history", Checks.digest(converged),
      Checks.digest(ChangeLog.expectedRows(log)))
    r.checks.expect(s"${d.dir}: input lines", d.progress.map(_.numInputRows).sum, ex.lines)
    r.checks.expect(s"${d.dir}: final state rows", stateRows(d.progress.last), ex.distinctKeys)
    val cur = spark.read.parquet(latestGeneration(d.current))
    r.checks.expect(s"${d.dir}: current-state keys", cur.count(), ex.distinctKeys)
    r.checks.expect(s"${d.dir}: current-state live keys",
      cur.filter(ChangeLog.AttrFields.map(col(_).isNotNull).reduce(_ || _)).count(), ex.liveKeys)
  }

  private def latestGeneration(base: String): String =
    new java.io.File(base).listFiles().filter(_.getName.startsWith("gen-"))
      .maxBy(_.getName.stripPrefix("gen-").toLong).getPath

  private def stateRows(p: StreamingQueryProgress): Long = p.stateOperators.map(_.numRowsTotal).sum

  private def traced(r: Run, l: Layers, drains: Seq[Drain], sliceBytes: Double): Unit = {
    val tr = r.tracer
    tr.drain()
    val passes = tr.spansOf("pass")
    val progress = drains.flatMap(_.measured)
    def phase(p: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def perTrigger(f: StreamingQueryProgress => Double) = median(progress.map(f))
    // the source is parsed when a trigger's sink first runs the batch
    val scans = passes.map(p => tr.within(p, "sink").map(tr.tasksIn)
      .foldLeft(new Tracer.Tasks) { (a, t) => a.merge(t); a })
    l("envelope.lines_in") = median(drains.map(_.progress.map(_.numInputRows).sum.toDouble))
    l("envelope.bytes_scanned") = median(scans.map(_.inputBytes.toDouble))
    l("envelope.parse_passes") = median(scans.map(_.inputBytes / sliceBytes))
    l("envelope.task_ms") = median(scans.map(_.scanRunMs.toDouble))
    l("stream.source_ms") = perTrigger(phase(_, "latestOffset", "getBatch"))
    l("stream.plan_ms") = perTrigger(phase(_, "queryPlanning"))
    l("stream.addbatch_ms") = perTrigger(phase(_, "addBatch"))
    l("stream.commit_ms") = perTrigger(phase(_, "walCommit", "commitOffsets"))
    l("stream.trigger_ms_p95") = quantile(progress.map(triggerMs), 0.95)
    l("stream.corrections_emitted") = median(drains.map(d =>
      r.spark.read.parquet(d.emissions).filter(col("isCorrection")).count().toDouble))
    val last = drains.last.progress.last
    l("state.rows_total") = stateRows(last)
    l("state.rows_updated") = median(drains.map(_.progress.map(
      _.stateOperators.map(_.numRowsUpdated).sum).sum.toDouble))
    l("state.memory_mb") = last.stateOperators.map(_.memoryUsedBytes).sum / 1e6
    l("state.commit_ms") = perTrigger(p => p.stateOperators.map(_.customMetrics.asScala
      .collect { case (k, v) if k.startsWith("rocksdbCommit") => v.doubleValue }.sum).sum)
    l("current.step_ms") = median(drains.flatMap(d => d.measured.map(p => d.stepMs(p.batchId))))
    l("current.state_rows") = r.spark.read.parquet(latestGeneration(drains.last.current)).count()
    Layers.exec(tr, l, passes)
  }
}
