package graft

/** The dev CLI's plan tools run in the shared session on the sf0.001 lake,
  * and an unknown subcommand is rejected before any work.
  */
class DevSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  private val names = "q1_pricing_summary,scd2_history"

  private def dev(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Dev.run(spark, args))
    out.toString("UTF-8")
  }

  test("explain writes the formatted and the AQE-final plan of each query") {
    val file = s"${SparkSuite.scratchDir("graft-dev")}/plans.md"
    assert(dev("explain", sf, names, file).contains(s"plans -> $file"))
    val plans = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    for (n <- names.split(",")) assert(plans.contains(s"## $n @ $sf"), n)
    assert(plans.split("---- explain\\(formatted\\), pre-execution ----").length == 3)
    assert(plans.split("---- executed plan \\(AQE final\\) ----").length == 3)
    assert(plans.contains("isFinalPlan=true"))
    assert(!plans.contains("ERROR"))
  }

  test("scans counts file scans per source in the executed plan") {
    val out = dev("scans", sf, names, "1")
    assert(out.contains("[scans] q1_pricing_summary: lineitem.parquet x1"), out)
    assert(out.linesIterator.exists(_.startsWith("[scans] scd2_history: ")), out)
    assert(!out.contains("ERROR"), out)
  }

  test("an unknown subcommand is rejected") {
    val e = intercept[IllegalArgumentException](dev("nope", sf, names))
    assert(e.getMessage.contains("unknown command 'nope'"))
  }
}
