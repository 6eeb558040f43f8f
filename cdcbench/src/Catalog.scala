package graft.cdcbench

import java.io.{File, PrintWriter}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.{Materialize, SparkEntry}
import graft.operators.CdcQueries

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** `catalog`: a fixed list of catalog queries, each built through
  * `SparkEntry.queries`, planned, and run with `Materialize.force`, in a
  * seeded shuffled order per pass. These queries spend their time in table
  * resolution (every `QueryDef.t` read infers a schema with a Spark job),
  * building (eager builders run jobs while they build), planning and code
  * generation, which `cdc_batch` and `cdc_stream` never reach.
  */
object Catalog {
  import Main.{median, quantile, secondsOf}

  /** Table sizes relative to sf=1. The queries' cost here is mostly fixed
    * planning and scheduling work, which barely depends on the data size; small tables
    * keep a cold and a warm pass within a run's time.
    */
  val Scale = 0.002

  /** The 16 CDC queries, `bm25_topk` (which recompiles its code on every
    * run) and four builders that run jobs while they build.
    */
  lazy val Queries: Seq[String] = CdcQueries.defs.map(_.name) ++
    Seq("bm25_topk", "mmr_diversity_rerank", "hits_power_k3", "dedup_components",
      "source_overlap_matrix")

  /** Where the pinned (rows, digest) of each query live, relative to the checkout. */
  val ExpectedFile = "cdcbench/catalog_expected.tsv"

  private final case class Timing(query: String, buildMs: Double, planMs: Double, execMs: Double,
                                  rows: Long) {
    def ms: Double = buildMs + planMs + execMs
  }

  def run(r: Run): (Double, Outcome) = {
    val spark = r.spark
    val tr = r.tracer
    val (genS, data) = {
      val runs = (0 until 3).map(k => secondsOf {
        val dir = r.dir(s"tables-$k")
        CatalogData.write(spark, dir, Scale)
        dir
      })
      (median(runs.map(_._1)), runs.last._2)
    }
    r.note("tables written")
    val expected = load(new File(ExpectedFile))
    val defs = SparkEntry.queries
    val passes = ArrayBuffer[Seq[Timing]]()
    val compiles = ArrayBuffer[(Long, Double)]()
    val warmBuilt = scala.collection.mutable.Map[String, DataFrame]()

    def pass(i: Int): Unit = tr.span("pass") {
      val order = new scala.util.Random(new SplittableRandom(r.seed + i).nextLong()).shuffle(Queries)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val timings = order.flatMap { q =>
        tr.beginRun(s"pass-$i/$q")
        r.attempt(s"pass $i $q")(tr.span("query") {
          val (b, df) = secondsOf(tr.span("build")(defs(q)(spark, data)))
          if (i == 0) warmBuilt(q) = df
          val (p, _) = secondsOf(tr.span("plan")(df.queryExecution.executedPlan))
          val (e, rows) = secondsOf(tr.span("exec")(Materialize.force(df)))
          Timing(q, b * 1000, p * 1000, e * 1000, rows)
        })
      }
      timings.foreach(t => r.checks.expect(s"pass $i ${t.query} rows", t.rows, expected(t.query)._1))
      if (i > 0) {
        passes += timings
        compiles += ((CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
          (CodeGenerator.compileTime - compileNs0) / 1e6))
      }
    }

    val (warmS, _) = secondsOf(pass(0))
    r.note("warm-up pass done")
    // untimed: each warm-up result (its plan already compiled) against its pin
    warmBuilt.foreach { case (q, df) =>
      val out = if (r.plant == "wrong_row" && q == Queries.head) df.limit(expected(q)._1.toInt - 1) else df
      r.checks.expect(s"$q digest", Checks.digest(out), expected(q))
    }
    r.note("verified")
    val start = System.nanoTime()
    var i = 1
    while (i <= 2 || (System.nanoTime() - start) / 1e9 < r.seconds) { pass(i); i += 1 }

    r.note(s"${i - 1} measured passes done")
    // each query's best warm wall over the passes: a JIT or GC pause in one
    // pass does not count against the query
    val walls = passes.flatten.groupBy(_.query).values.map(_.map(_.ms).min).toSeq
    val e2e = Seq(
      Metric("throughput_per_s", walls.size / (walls.sum / 1000), "1/s"),
      Metric("op_ms_p50", quantile(walls, 0.5), "ms"),
      Metric("op_ms_p75", quantile(walls, 0.75), "ms"))
    val layers = new Layers
    if (tr.enabled) traced(r, layers, passes.toSeq, compiles.toSeq)
    (genS + warmS, Outcome(e2e, layers))
  }

  private def traced(r: Run, l: Layers, passes: Seq[Seq[Timing]], compiles: Seq[(Long, Double)]): Unit = {
    val tr = r.tracer
    tr.drain()
    val spans = tr.spansOf("pass").drop(1)
    def perPass(f: Tracer.Span => Double) = median(spans.map(f))
    def jobs(p: Tracer.Span) = tr.within(p, "build").flatMap(tr.jobsIn)
    l("catalog.build_ms") = median(passes.map(_.map(_.buildMs).sum))
    l("catalog.plan_ms") = median(passes.map(_.map(_.planMs).sum))
    l("catalog.exec_ms") = median(passes.map(_.map(_.execMs).sum))
    l("catalog.resolve_jobs") = perPass(p => jobs(p).count(j => isResolve(j.callSite)).toDouble)
    l("catalog.build_jobs") = perPass(p => jobs(p).count(j => !isResolve(j.callSite)).toDouble)
    l("catalog.codegen_ms") = median(compiles.map(_._2))
    l("catalog.codegen_compiles_warm") = median(compiles.map(_._1.toDouble))
    l("catalog.shuffle_write_mb") = perPass(p => tr.tasksIn(p).shuffleWriteBytes / 1e6)
    def scd2(p: Tracer.Span) = tr.within(p, "query").filter(_.run.split('/').last.startsWith("scd2_"))
      .map(tr.tasksIn)
    l("scd2.task_ms") = perPass(p => scd2(p).map(_.runMs).sum.toDouble)
    l("scd2.shuffle_write_mb") = perPass(p => scd2(p).map(_.shuffleWriteBytes).sum / 1e6)
    Layers.exec(tr, l, spans)
  }

  /** A job started by the catalog's table reader (schema inference). */
  private def isResolve(callSite: String): Boolean = callSite.contains("graft.QueryDef$.t(")

  private def load(f: File): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).map(a =>
      a(0) -> (a(1).toLong, a(2))).toMap
    finally src.close()
  }

  /** Re-pin every query's (rows, digest) on the fixed catalog tables. */
  def pin(spark: SparkSession, work: String, out: File): Unit = {
    val data = s"$work/tables"
    CatalogData.write(spark, data, Scale)
    val defs = SparkEntry.queries
    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println(s"# query\trows\tdigest (CatalogData.Seed=${CatalogData.Seed}, Scale=$Scale)")
      Queries.sorted.foreach { q =>
        val (rows, hash) = Checks.digest(defs(q)(spark, data))
        w.println(s"$q\t$rows\t$hash")
      }
    } finally w.close()
  }
}
