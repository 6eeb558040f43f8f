package graft.cdcbench

import java.io.{File, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import graft.streaming.Scd2Streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, unix_millis}

/** Seeded Debezium change log for `commerce.products`, with a data-health
  * mix: creates (and snapshot reads), updates and deletes carrying the
  * before image; ~1% redelivered (id, lsn) pairs; ~1% events that arrive
  * one to three slices after their LSN order; and a few lines with a null
  * op, a null key, or broken JSON.
  *
  * Everything is decided in the JVM from the seed, so the expected
  * counts and the expected SCD2 history come from the generator itself,
  * not from the engine under test.
  */
object ChangeLog {

  /** A row image (`before` / `after`); a null `id` makes a null-key event. */
  final case class Image(id: Integer, name: String, description: String, price: Double)

  /** One lake line. `op == null` is a null-op line; `bad` holds the text of
    * a malformed line (all other fields unused then).
    */
  final case class Line(op: String, before: Image, after: Image, tsMs: Long, lsn: Long,
                        bad: String = null)

  /** One expected SCD2 version: attributes from the `after` image (null for
    * a delete), validity [startMs, endMs).
    */
  final case class Version(id: Int, after: Image, startMs: Long, endMs: Long)

  final case class Expect(lines: Long, quarantined: Long, nullOp: Long, nullKey: Long,
                          duplicates: Long, historyRows: Long, distinctKeys: Long,
                          liveKeys: Long)

  /** `arrivals` is the delivery order the stream replays, cut into `slices`
    * consecutive slices of (nearly) equal size.
    */
  final case class Log(arrivals: IndexedSeq[Line], slices: Int,
                       history: IndexedSeq[Version], expect: Expect) {
    def slice(i: Int): IndexedSeq[Line] =
      arrivals.slice(i * arrivals.size / slices, (i + 1) * arrivals.size / slices)

    /** Number of history versions valid at `tMs` (an as-of read's row count). */
    def asOfRows(tMs: Long): Long = history.count(v => v.startMs <= tMs && tMs < v.endMs).toLong
  }

  /** 2024-12-01T00:00:00Z; every event falls within three days of it, well
    * inside the streaming retention horizon, so no state is compacted away.
    */
  val BaseMs = 1733011200000L
  val SpanMs: Long = 3L * 24 * 3600 * 1000
  require(SpanMs < Scd2Streaming.DefaultRetentionMs)

  val AttrFields: Seq[String] = Seq("name", "description", "price")

  private val Adjectives = Array("red", "blue", "small", "large", "hot", "cold", "old", "new")
  private val Nouns = Array("widget", "gear", "bolt", "ring", "plate", "rod", "gizmo", "anvil")

  private def image(rnd: SplittableRandom, id: Integer): Image = Image(id,
    s"${Adjectives(rnd.nextInt(Adjectives.length))} ${Nouns(rnd.nextInt(Nouns.length))}",
    s"batch ${rnd.nextInt(1000)}", rnd.nextInt(1, 100000) / 100.0)

  /** Sizes shared by `cdc_batch` and `cdc_stream`, so one seed gives both
    * workloads the same change log.
    */
  val Events = 40000
  val Keys = 4000
  val Slices = 10

  def forSeed(seed: Long): Log = generate(seed, Events, Keys, Slices)

  /** Generates the seed's log and writes it with `write` three times
    * (setup is timed as the median of the three); returns that median, the
    * log and the last written input. With the `drop_event` fault planted,
    * the written input lacks one valid event the expectations still count.
    */
  def setup[T](r: Run, write: (Log, Int) => T): (Double, (Log, T)) = {
    val runs = (0 until 3).map(k => Main.secondsOf {
      val log = forSeed(r.seed)
      val written =
        if (r.plant != "drop_event") log
        else {
          val victim = log.arrivals.find(l => l.op == "u" && l.after.id != null).get
          log.copy(arrivals = log.arrivals.filterNot(_ eq victim)) // every delivery of it
        }
      (log, write(written, k))
    })
    (Main.median(runs.map(_._1)), runs.last._2)
  }

  def generate(seed: Long, events: Int, keys: Int, slices: Int): Log = {
    val rnd = new SplittableRandom(seed)
    val stepMs = SpanMs / events
    val sliceLen = math.max(1, events / slices)
    val live = new Array[Image](keys)
    val touched = new Array[Boolean](keys)
    // (arrival position, line): valid events arrive at their LSN position
    // unless displaced; copies and junk lines are placed around them
    val placed = ArrayBuffer[(Double, Line)]()
    val valid = ArrayBuffer[Line]()
    var lsn = 1000000L
    var duplicates, nullOp, nullKey, bad = 0L
    for (i <- 0 until events) {
      lsn += rnd.nextInt(1, 5)
      val ts = BaseMs + i * stepMs + rnd.nextLong(stepMs)
      val k = rnd.nextInt(keys)
      val prev = live(k)
      val e =
        if (prev == null) {
          val img = image(rnd, k)
          live(k) = img
          Line(if (i < events / 20) "r" else "c", null, img, ts, lsn)
        } else if (rnd.nextInt(100) < 5) {
          live(k) = null
          Line("d", prev, null, ts, lsn)
        } else {
          val img = image(rnd, k)
          live(k) = img
          Line("u", prev, img, ts, lsn)
        }
      touched(k) = true
      valid += e
      val late = rnd.nextInt(100) == 0
      placed += ((i + (if (late) sliceLen * rnd.nextInt(1, 4) + 0.5 else 0.0), e))
      if (rnd.nextInt(100) == 0) {
        duplicates += 1
        placed += ((i + rnd.nextInt(3 * sliceLen) + 0.25, e))
      }
      // junk lines: about 1 in 10k events brings one of each kind
      rnd.nextInt(10000) match {
        case 0 =>
          nullOp += 1
          placed += ((i + 0.75, Line(null, null, image(rnd, k), ts, -lsn)))
        case 1 =>
          nullKey += 1
          placed += ((i + 0.75, Line("u", null, image(rnd, null), ts, -lsn)))
        case 2 =>
          bad += 1
          placed += ((i + 0.75, Line(null, null, null, ts, 0L,
            bad = s"""{"payload": {"op": "u", "ts_ms": $ts, "after": {"id": $k""")))
        case _ =>
      }
    }
    val arrivals = placed.zipWithIndex
      .sortBy { case ((pos, _), idx) => (pos, idx) }
      .map(_._1._2).toIndexedSeq

    val versions = valid.groupBy(l => Option(l.after).getOrElse(l.before).id.intValue)
      .toIndexedSeq.sortBy(_._1)
      .flatMap { case (id, es) =>
        val sorted = es.sortBy(_.lsn)
        sorted.indices.map { j =>
          val end = if (j + 1 < sorted.size) sorted(j + 1).tsMs else Scd2Streaming.SentinelMs
          Version(id, sorted(j).after, sorted(j).tsMs, end)
        }
      }
    val lines = valid.size + duplicates + nullOp + nullKey + bad
    Log(arrivals, slices, versions,
      Expect(lines, bad, nullOp, nullKey, duplicates, valid.size.toLong,
        touched.count(identity).toLong, live.count(_ != null).toLong))
  }

  // ---- writing --------------------------------------------------------------

  /** Lines per lake file: a few files per day partition, so a scan has
    * about one file per core.
    */
  private val LinesPerFile = 8192

  /** The lake in the reference's S3-sink layout: gzip NDJSON files under
    * `year=/month=/day=` partitions (by event time), lines in arrival order.
    * Written directly, not by Spark: a JSON writer could not produce the malformed
    * lines, and a Spark job here would be set-up work the runs repeat.
    */
  def writeLake(log: Log, dir: String): Unit =
    log.arrivals.groupBy(l => dayDir(l.tsMs)).foreach { case (day, ls) =>
      ls.grouped(LinesPerFile).zipWithIndex.foreach { case (chunk, n) =>
        writeGzip(new File(f"$dir/$day/part-$n%05d.json.gz"), chunk.map(json))
      }
    }

  private def dayDir(tsMs: Long): String = {
    val d = java.time.Instant.ofEpochMilli(tsMs).atZone(java.time.ZoneOffset.UTC).toLocalDate
    f"year=${d.getYear}%04d/month=${d.getMonthValue}%02d/day=${d.getDayOfMonth}%02d"
  }

  /** The stream's input: one gzip NDJSON file per slice, modification times
    * one minute apart so the file source replays them in slice order.
    */
  def writeSlices(log: Log, dir: String): Unit =
    (0 until log.slices).foreach { i =>
      val f = new File(f"$dir/slice-$i%04d.json.gz")
      writeGzip(f, log.slice(i).map(json))
      f.setLastModified(1700000000000L + i * 60000L)
    }

  private def writeGzip(f: File, lines: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    val w: Writer = new OutputStreamWriter(new GZIPOutputStream(new FileOutputStream(f)), UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def json(i: Image): String =
    if (i == null) "null"
    else s"""{"id":${if (i.id == null) "null" else i.id},"name":"${i.name}","description":"${i.description}","price":${i.price}}"""

  /** Debezium envelope JSON; a null op is left out, as Debezium never writes one. */
  def json(l: Line): String =
    if (l.bad != null) l.bad
    else {
      val op = if (l.op == null) "" else s""""op":"${l.op}","""
      s"""{"payload":{"before":${json(l.before)},"after":${json(l.after)},$op"ts_ms":${l.tsMs},"source":{"lsn":${l.lsn}}}}"""
    }

  /** SHA-256 over the seed's written inputs: the lake and the slices, every
    * file byte for byte, in path order.
    */
  def digest(seed: Long, work: String): String = {
    val log = forSeed(seed)
    writeLake(log, s"$work/lake")
    writeSlices(log, s"$work/slices")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(new File(work)).filter(_.getName.endsWith(".gz")).foreach { f =>
      sha.update(f.getPath.stripPrefix(work).getBytes(UTF_8))
      sha.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    sha.digest().map("%02x".format(_)).mkString
  }

  /** An engine history table, normalized to the columns of [[expectedRows]]:
    * id, name, description, price, start_ms, end_ms (epoch-millis bounds).
    */
  def normalizedHistory(h: DataFrame): DataFrame = h.select(col("id"), col("name"),
    col("description"), col("price"),
    unix_millis(col("row_valid_start_timestamp")).as("start_ms"),
    unix_millis(col("row_valid_expiration_timestamp")).as("end_ms"))

  /** The generator's SCD2 history, as the rows [[normalizedHistory]] collects. */
  def expectedRows(log: Log): Seq[Row] = log.history.map { v =>
    val a = v.after
    if (a == null) Row(v.id, null, null, null, v.startMs, v.endMs)
    else Row(v.id, a.name, a.description, a.price, v.startMs, v.endMs)
  }
}
