package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: regex over query names, for fast single-query
    // debugging (`runMain graft.Verify <sf> <out> 'knn.*'`). The driver
    // always calls with two args → full catalog.
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter = if (args.length > 2) args(2).r else ".*".r
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietKnownNoise() // the part-* glob WARN trace, once per read
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter.matches(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => nameFilter.matches(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
