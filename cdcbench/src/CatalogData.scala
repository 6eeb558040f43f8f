package graft.cdcbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The tables the catalog workload's queries read, in the shape of the
  * engine's TPC-H-ish test data: one parquet file per table, dates as
  * TIMESTAMP_NTZ, and `events.ts` as raw epoch nanoseconds (the form
  * `QueryDef.t` normalizes). Value domains follow that data; sizes are
  * `scale` times the sf=1 row counts (documents and embeddings twice that,
  * so the similarity builders still find neighbours at small scales).
  *
  * The data is fixed (its own constant seed), so each query's result can be
  * pinned; the run seed only shuffles the query order.
  */
object CatalogData {

  val Seed = 20241017L

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("signup", "purchase", "click", "view", "error")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Vocab = ("a the key agg row scan slow fast table value part hash merge batch spark " +
    "line sort window data column join small customer query big stream filter group vector order")
    .split(' ')

  private def cents(rnd: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(rnd: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(rnd.nextInt(days).toLong)

  private def write(spark: SparkSession, dir: String, name: String,
                    fields: Seq[(String, DataType)], rows: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(fields.map { case (n, t) => StructField(n, t) }))
      .coalesce(1).write.parquet(s"$dir/$name.parquet")

  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    val rnd = new SplittableRandom(Seed)
    val nCust = (150000 * scale).toInt
    val nOrders = (1500000 * scale).toInt
    val nLines = (6000000 * scale).toInt
    val nEvents = (1000000 * scale).toInt
    val nUsers = (15000 * scale).toInt
    val nDocs = (100000 * scale).toInt
    val nVecs = (40000 * scale).toInt
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)

    write(spark, dir, "customer", Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        cents(rnd, -999.99, 9999.99), Segments(rnd.nextInt(Segments.length)))))

    write(spark, dir, "orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        "FOP".charAt(rnd.nextInt(3)).toString, cents(rnd, 1000, 500000),
        day(rnd, epoch, 2404), Priorities(rnd.nextInt(Priorities.length)))))

    write(spark, dir, "lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until nLines).map(_ => Row(rnd.nextInt(nOrders).toLong,
        rnd.nextInt((200000 * scale).toInt).toLong, rnd.nextInt((10000 * scale).toInt).toLong,
        rnd.nextInt(1, 8), rnd.nextInt(1, 51).toDouble, cents(rnd, 900, 105000),
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, "ANR".charAt(rnd.nextInt(3)).toString,
        "FO".charAt(rnd.nextInt(2)).toString, day(rnd, epoch.plusDays(1), 2498))))

    // ts: increasing epoch nanos over 30 days, sub-microsecond digits set so
    // the reader's floor division to microseconds is exercised
    val startNs = 1704067200000000000L // 2024-01-01T00:00:00Z
    val gapNs = 30L * 24 * 3600 * 1000000000L / nEvents
    var ts = startNs
    write(spark, dir, "events", Seq("event_id" -> LongType, "ts" -> LongType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until nEvents).map { i =>
        ts += rnd.nextLong(1, 2 * gapNs)
        Row(i.toLong, ts, rnd.nextInt(nUsers).toLong, EventTypes(rnd.nextInt(EventTypes.length)),
          cents(rnd, 0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // ~4% of documents repeat an earlier one with " dup" appended, which is
    // what the near-duplicate queries find
    val texts = new Array[String](nDocs)
    write(spark, dir, "documents", Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 10 && rnd.nextInt(25) == 0) texts(rnd.nextInt(i)) + " dup"
          else Seq.fill(rnd.nextInt(10, 100))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}",
          texts(i).length.toLong)
      })

    // unit vectors around ten label centres
    val centres = Array.fill(10, 64)(rnd.nextGaussian())
    write(spark, dir, "embeddings", Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nVecs).map { i =>
        val label = rnd.nextInt(10)
        val v = centres(label).map(_ + 1.5 * rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
