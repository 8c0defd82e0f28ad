package perfbench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the registry's input tables: the TPC-H-like star
  * (region, nation, customer, supplier, part, orders, lineitem) plus the
  * events, documents and embeddings tables, with the column names and
  * parquet types the query registry reads (timestamps are written without
  * a time zone, as TIMESTAMP_NTZ); 6 000 lineitems. */
object TpchGen {

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("blue", "old", "small", "new", "red", "cold", "large", "hot")
  private val nouns = Seq("widget", "gizmo", "bolt", "rod", "anvil", "plate", "ring", "gear")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val langs = Seq("en", "en", "de", "es", "fr", "zh")
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
    "filter", "vector")
  private val dim = 64

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100

  private def day(r: Random, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })

    val nCust = 150
    val nSupp = 10
    val nPart = 200
    val nOrders = 1500
    val nLines = 6000
    val nEvents = 1000
    val nDocs = 500
    val epoch95 = LocalDateTime.of(1995, 1, 1, 0, 0)

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999, 9999), segments(r.nextInt(segments.size)))))
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999, 9999))))
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.size)) + " " + nouns(r.nextInt(nouns.size)),
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.size)), 1 + r.nextInt(50),
        math.rint((900 + (i % 1000) * 0.1) * 10) / 10)))
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000), day(r, epoch95, 2404),
        priorities(r.nextInt(priorities.size)))))
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until nLines).map(_ => Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong,
        r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        day(r, epoch95.plusDays(1), 2498))))
    val jan24 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400 * 1000000 / nEvents
    save("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEvents).map(i => Row(i.toLong,
        jan24.plusNanos((i * stepMicros + (r.nextDouble() * stepMicros).toLong) * 1000),
        r.nextInt(nCust / 10).toLong, eventTypes(r.nextInt(eventTypes.size)),
        money(r, 0.01, 490), s"""{"k": ${r.nextInt(100)}}""")))
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until nDocs).foreach { i =>
      val t =
        if (i > 20 && r.nextInt(20) == 0) {
          // a near-duplicate of an earlier document: one word swapped
          val words = texts(r.nextInt(texts.size)).split(" ")
          words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.size))
          (words :+ "dup").mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
      texts += t
    }
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
      }.toSeq)
    val centroids = Array.fill(10, dim)(r.nextGaussian())
    save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until nDocs).map { i =>
        val label = r.nextInt(10)
        val v = centroids(label).map(_ + 0.6 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
