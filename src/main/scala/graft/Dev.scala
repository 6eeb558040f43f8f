package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.GraftSparkInternals.drainListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Dev CLI: the plan and profiling tools, one argument convention, one
  * session ([[GraftSession.local]]).
  *
  *   runMain graft.Dev <command> <sfDir> <names> [arg] [--profile]
  *
  * `<names>` is a comma list of catalog queries, or `all` for every query
  * with a batch plan (side-effecting streaming runs excluded).
  *
  *   explain <sf> <names> [outFile]  formatted plan + AQE-final plan of each
  *       query into one markdown file (default /tmp/graft_plans.md), and a
  *       `[flag]` line per PlanAudit finding on the final plan
  *   scans <sf> <names> [minDup]  queries whose executed plan scans one
  *       source minDup+ times (default 3; subqueries included) — the
  *       multi-consumer re-plan signature (PLANS.md round-11 rule)
  *   profile <sf> <names> [reps]  per run: wall, per-stage task digest,
  *       per-job wall and per-exchange shuffle bytes of the final plan
  *   smoke <sf> <names> [factor] [--profile]  best-of-2 wall and shuffle MB
  *       on the lake and its ScaleSmoke copy (default 10×): the `[smoke]`
  *       lines tools/stress_trend.py parses, plus the final-plan
  *       ScaleAudit hits and, with --profile, the scaled run's stage digest
  *   ab <sf> <names>  Bench's warm-up and best-of-3 per query; one JSON
  *       line {"queries": {name: seconds}}
  */
object Dev {

  val Commands: Seq[String] = Seq("explain", "scans", "profile", "smoke", "ab")

  private val usage =
    "usage: Dev explain|scans|profile|smoke|ab <sfDir> <name,...|all> [arg] [--profile]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Run one subcommand on `spark`; an unknown one is an
    * IllegalArgumentException.
    */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val profile = args.contains("--profile")
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.length >= 3, usage)
    val Seq(cmd, sfDir, sel) = pos.take(3)
    require(Commands.contains(cmd), s"unknown command '$cmd'; $usage")
    val arg = pos.lift(3)
    val names =
      if (sel == "all") SparkEntry.all.filterNot(_.sideEffecting).map(_.name)
      else sel.split(",").toSeq.filter(_.nonEmpty).distinct
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // attached for this command only: `run` may be handed a long-lived session
    val shuffle = new ShuffleMeter
    val stages = new StageProfile.Meter
    val sc = spark.sparkContext
    sc.addSparkListener(shuffle)
    sc.addSparkListener(stages)
    try cmd match {
      case "explain" => explain(spark, sfDir, names, arg.getOrElse("/tmp/graft_plans.md"))
      case "scans" => scans(spark, sfDir, names, arg.fold(3)(_.toInt))
      case "profile" => profileRuns(spark, sfDir, names, arg.fold(2)(_.toInt), stages)
      case "smoke" => smoke(spark, sfDir, names, arg.fold(ScaleSmoke.Factor)(_.toInt),
        if (profile) Some(stages) else None, shuffle)
      case "ab" => ab(spark, sfDir, names, shuffle)
    } finally {
      sc.removeSparkListener(shuffle)
      sc.removeSparkListener(stages)
    }
  }

  private def build(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String],
                      out: String): Unit = {
    val sb = new StringBuilder
    names.foreach { n =>
      val body = try {
        val df = build(spark, sfDir, n)
        val formatted = df.queryExecution.explainString(FormattedMode)
        // executing finalizes every AdaptiveSparkPlan (the formatted dump
        // is the pre-execution view: isFinalPlan=false on AQE roots)
        Materialize.force(df)
        val fin = df.queryExecution.executedPlan
        val windowFlags =
          if (PlanAudit.boundedWindowWhitelist.contains(n)) Nil
          else PlanAudit.unboundedGlobalWindows(fin)
        val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(fin.toString.contains) ++ windowFlags
        if (flags.nonEmpty) println(s"[flag] $n: ${flags.mkString(", ")}")
        "---- explain(formatted), pre-execution ----\n" + formatted +
          "\n---- executed plan (AQE final) ----\n" + fin + "\n"
      } catch { case e: Throwable => s"ERROR: ${e.getClass.getSimpleName}: ${e.getMessage}\n" }
      sb.append(s"\n## $n @ $sfDir\n\n```\n$body```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"plans -> $out")
  }

  private def scans(spark: SparkSession, sfDir: String, names: Seq[String],
                    minDup: Int): Unit =
    names.foreach { n =>
      try {
        val plan = build(spark, sfDir, n).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan: not executed
          case other => other
        }
        val perSource = plan.collectWithSubqueries {
          case sc: FileSourceScanExec =>
            sc.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
        }.groupBy(identity).view.mapValues(_.size).filter(_._2 >= minDup).toSeq.sorted
        if (perSource.nonEmpty)
          println(s"[scans] $n: " + perSource.map { case (t, k) => s"$t x$k" }.mkString(", "))
      } catch { case e: Throwable =>
        println(s"[scans] $n: ERROR ${e.getClass.getSimpleName}")
      }
    }

  private def profileRuns(spark: SparkSession, sfDir: String, names: Seq[String],
                          reps: Int, meter: StageProfile.Meter): Unit =
    for (n <- names; r <- 1 to reps) {
      drainListenerBus(spark.sparkContext)
      meter.reset()
      val t0 = System.nanoTime()
      val df = build(spark, sfDir, n)
      Materialize.force(df)
      val wall = (System.nanoTime() - t0) / 1e9
      drainListenerBus(spark.sparkContext)
      println(f"== $n rep $r/$reps wall=$wall%.2fs @ $sfDir ==")
      meter.digest(top = Int.MaxValue).foreach(l => println(s"  $l"))
      meter.jobs.toSeq.sortBy(-_._2._1).take(12).foreach { case (id, (sec, label)) =>
        println(f"  job $id%3d $sec%7.2fs  $label")
      }
      def exchanges(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case s: QueryStageExec => exchanges(s.plan)
        case e: ShuffleExchangeExec =>
          val mb = e.metrics.get("shuffleBytesWritten").map(_.value / 1e6).getOrElse(-1.0)
          val rows = e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(-1L)
          println(f"  exchange $mb%9.1f MB $rows%12d rows  <- ${e.child.nodeName}")
          e.children.foreach(exchanges)
        case other => other.children.foreach(exchanges)
      }
      exchanges(df.queryExecution.executedPlan)
    }

  private def smoke(spark: SparkSession, sfDir: String, names: Seq[String],
                    factor: Int, stages: Option[StageProfile.Meter],
                    shuffle: ShuffleMeter): Unit = {
    val sc = spark.sparkContext
    val scaled = ScaleSmoke.ensureScaled(spark, sfDir, factor = factor)
    // best-of-2 seconds, last-run shuffle MB (bytes are plan-deterministic,
    // so they are the box-noise-free signal), the final-plan audit, and the
    // stage digest of the run that produced the reported minimum
    def time(n: String, d: String): (Double, Double, Seq[String], Seq[String]) = {
      var mb = 0.0
      var audit = Seq.empty[String]
      val runs = (1 to 2).map { _ =>
        val b0 = shuffle.snapshot(sc) // drains the listener bus
        stages.foreach(_.reset())
        val t0 = System.nanoTime()
        val df = build(spark, d, n)
        Materialize.force(df)
        val sec = (System.nanoTime() - t0) / 1e9
        mb = (shuffle.snapshot(sc) - b0) / 1e6
        // the same FINAL-adaptive-plan cliff sweep the bench smoke emits
        audit = try ScaleAudit.audit(df.queryExecution.executedPlan)
        catch { case e: Throwable => Seq(s"AUDIT-ERROR: ${e.getMessage}") }
        (sec, stages.fold(Seq.empty[String])(_.digest()))
      }
      val best = runs.minBy(_._1)
      (best._1, mb, audit, best._2)
    }
    names.foreach { n =>
      val (t1, mb1, a1, _) = time(n, sfDir)
      val (t10, mb10, a10, dig10) = time(n, scaled)
      println(f"[smoke] $n%-32s head=$t1%7.2fs x$factor%d=$t10%7.2fs ratio=${t10 / t1}%6.2f shuffleMB=$mb1%8.1f -> $mb10%8.1f")
      a10.foreach(h => println(s"[smoke]   audit@x$factor: $h"))
      a1.foreach(h => println(s"[smoke]   audit@head: $h"))
      dig10.foreach(l => println(s"[smoke]   profile@x$factor: $l"))
    }
  }

  private def ab(spark: SparkSession, sfDir: String, names: Seq[String],
                 meter: ShuffleMeter): Unit = {
    Bench.warmUp(spark, sfDir)
    val secs = names.map(n => Json.str(n) + f":${Bench.bestOf3(spark, sfDir, n, meter).sec}%.3f")
    println(secs.mkString("{\"queries\":{", ",", "}}"))
  }
}
