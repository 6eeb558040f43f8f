package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table helpers shared by the engine entry points.
  *
  * Settings mirror the determinism requirements of the reference pipeline
  * (UTC everywhere — reference pins TZ in connectors/s3-sink.json:27) and
  * local[N] benchmarking (shuffle partitions sized to cores, AQE on —
  * designed so the same plans scale to a real cluster where AQE coalesces
  * and skew-splits post-shuffle partitions at runtime).
  */
object GraftSession {

  /** Silence the one benign-but-alarming log source: reading an NDJSON
    * glob (`lake/part-*` — the reference's own scan pattern, SURVEY S1)
    * makes FileStreamSink.hasMetadata stat the LITERAL glob path and log
    * the resulting FileNotFoundException with a full ~60-line stack trace
    * at WARN, once per envelope read, in every Verify/Bench artifact log.
    * Level change is scoped to that single logger; everything else keeps
    * the session's level.
    */
  def quietKnownNoise(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)

  /** Cores for every main's session: SPARK_GRAFT_CPUS, else one per CPU. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build a local session with scale-appropriate defaults — the one
    * session factory behind every main and the test suite.
    * `warehouse` is where saveAsTable targets (bucketed-join tables) land:
    * /tmp by default, not the process cwd (the in-memory catalog means
    * metadata is per-session; data dirs persist and are overwritten on
    * re-create); the test suite passes a fresh temp directory.
    */
  def local(cores: Int = cpus,
            warehouse: String = "/tmp/graft_warehouse"): SparkSession = {
    val session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // one shuffle partition per core (right for the sf0.1 bench lake)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 208-query
      // catalog holds several codegen units per query, so the default
      // thrashes and every re-execution pays a Janino recompile (~0.3-2 s
      // of pure fixed cost — the r7 driver bench's flat-time signature on
      // embedding_dim_stats). Static conf: must be set before the first
      // session in the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // zstd over the default lz4 for shuffle/spill blocks: the
      // verification-bound dedup queries move GB-scale narrow-long
      // streams, where zstd's ~1.4x better ratio is a direct cut in
      // shuffle I/O for a few % CPU (A/B in PERF_NOTES r12)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    // AFTER getOrCreate: Spark's log4j2 re-initialization during session
    // creation replaces any configuration set beforehand (verified — a
    // pre-create setLevel reads back as INFO afterwards)
    quietKnownNoise()
    session
  }

  /** Read one of the driver-provided testdata tables (delegates to
    * [[graft.QueryDef.t]], which also normalizes the `events.ts`
    * nanosecond column — keep one reader so the semantics can't diverge).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    QueryDef.t(spark, sfDir, name)
}
