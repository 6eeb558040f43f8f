package graft.cdcbench

import java.io.File

import scala.util.control.NonFatal

import graft.GraftSession

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports: its end-to-end metrics (also measured in the
  * traced run, where they show the tracing overhead) and, when traced, its
  * per-layer metrics; the first metric is the workload's throughput.
  */
final case class Outcome(endToEnd: Seq[Metric], layers: Layers)

/** State shared by one run of one workload. */
final class Run(val spark: SparkSession, val workload: String, val work: String,
                val seed: Long, val seconds: Double, val tracer: Tracer,
                val plant: String, val checks: Checks) {
  var attempted = 0L
  var failed = 0L

  /** Run one measured operation; one that throws counts as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[cdcbench] $what failed: $e")
        None
    }
  }

  def dir(name: String): String = s"$work/$name"

  /** Progress note on stderr, stamped with the JVM's uptime. */
  def note(msg: String): Unit = System.err.println(
    f"[cdcbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1f s  $msg")
}

/** The CDC benchmark's JVM entry point: one workload, one seed.
  *
  *   Main --workload cdc_batch|cdc_stream|catalog --seed N --seconds S
  *        --trace 0|1 --work DIR [--plant FAULT]
  *   Main --digest SEED --work DIR         prints a digest of the seed's inputs
  *   Main --pin FILE --work DIR            rewrites the catalog expectations
  *
  * The last stdout line is the result object. A failed check or a failed
  * operation makes it `"correct": false` and the exit code 1.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt.getOrElse("work", sys.error("--work DIR is required"))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        if (opt.contains("digest")) { println(ChangeLog.digest(opt("digest").toLong, work)); 0 }
        else if (opt.contains("pin")) { Catalog.pin(spark, work, new File(opt("pin"))); 0 }
        else measure(spark, opt, work, sessionS)
      } finally spark.stop()
    sys.exit(code)
  }

  private def measure(spark: SparkSession, opt: Map[String, String], work: String,
                      sessionS: Double): Int = {
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(spark, workload, traced)
    val run = new Run(spark, workload, work, opt("seed").toLong, opt("seconds").toDouble,
      tracer, opt.getOrElse("plant", ""), new Checks)
    val (setupS, outcome) = workload match {
      case "cdc_batch" => CdcBatch.run(run)
      case "cdc_stream" => CdcStream.run(run)
      case "catalog" => Catalog.run(run)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.write(new File(s"$work/spans.jsonl"))
    if (traced) tracer.selfMs.toSeq.sortBy(-_._2).foreach { case (l, ms) =>
      System.err.println(f"[cdcbench] self time $l%-12s $ms%10.1f ms")
    }
    val rss = peakRssMb()
    val metrics =
      if (traced) {
        val l = outcome.layers
        l("session.start_ms") = sessionS * 1000
        l("trace.throughput_per_s") = outcome.endToEnd.head.value
        l.metrics
      } else
        outcome.endToEnd ++ Seq(Metric("peak_rss_mb", rss, "MB"),
          Metric("setup_s", sessionS + setupS, "s"))
    val correct = run.checks.failures.isEmpty && run.failed == 0
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  // ---- shared helpers ----------------------------------------------------

  /** Sample median (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted average of
    * all order statistics. Unlike the sample quantile it does not jump to a
    * neighbouring value when a few samples move, which matters when the
    * samples differ in kind (the catalog's 21 queries) or are few.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) * q, (n + 1) * (1 - q))
    s.indices.map(i =>
      (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
  }

  def secondsOf[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: String): Long = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.isFile).map(_.length).sum
  }
}
