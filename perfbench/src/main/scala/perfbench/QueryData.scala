package perfbench

import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables in the harness schema (FIXTURES.md §B): region, nation,
  * customer, supplier, part, orders, lineitem, events, documents and
  * embeddings. Value domains follow the harness tables; sizes follow from
  * `Orders` in the harness's sf0.001 ratios (about 4 lineitems per order).
  * Timestamps are written without a zone, as the harness does. Each table
  * is one parquet file, `<name>.parquet`, as in the harness.
  */
object QueryData {
  val Orders = 3000

  private val Segments = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
  private val Types = Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
  private val Adjectives = Seq("red", "small", "hot", "old", "large", "blue", "green", "tiny")
  private val Nouns = Seq("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "nut")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val Langs = Seq("en", "en", "en", "zh", "es", "de", "fr")
  private val Words = ("key agg row scan slow fast table value part hash merge batch " +
    "spark a the line sort window data column join small customer query big order " +
    "group stream filter").split(" ").toSeq

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val orders = Orders
    val rnd = new java.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    val customers = math.max(100, orders / 10)
    val suppliers = math.max(10, orders / 150)
    val parts = math.max(200, orders / 8)
    val docs = math.max(200, orders / 16)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    // one parquet FILE per table, as the harness lays them out (the
    // streaming queries scan the directory for `events.parquet`)
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = new Path(s"$dir/_$name")
      spark.createDataFrame(rows.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new Path(s"$dir/$name.parquet"))
      fs.delete(tmp, true)
      ()
    }
    def f(n: String, t: DataType) = StructField(n, t)

    put("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    put("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    put("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999, 9999), pick(Segments))))
    put("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        money(-999, 9999))))
    val price = (0 until parts).map(i => 900.0 + (i % 1000) / 10.0)
    put("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(Types), 1 + rnd.nextInt(50), price(i))))
    val lines = Seq.newBuilder[Row]
    val orderRows = (0 until orders).map { o =>
      val date = day0.plusDays(rnd.nextInt(2400).toLong)
      (0 until 1 + rnd.nextInt(7)).foreach { ln =>
        val p = rnd.nextInt(parts)
        val q = (1 + rnd.nextInt(50)).toDouble
        lines += Row(o.toLong, p.toLong, rnd.nextInt(suppliers).toLong, ln + 1, q,
          math.round(q * price(p) * 100) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, pick(Seq("R", "A", "N")), pick(Seq("O", "F")),
          date.plusDays(1L + rnd.nextInt(120)))
      }
      Row(o.toLong, rnd.nextInt(customers).toLong, pick(Seq("P", "O", "F")),
        money(1000, 500000), date, pick(Priorities))
    }
    put("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orderRows)
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines.result())
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var us = 0L
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until orders).map { i =>
        us += (rnd.nextDouble() * 2.6e8 * 10000 / orders).toLong
        Row(i.toLong, t0.plusNanos(us * 1000), rnd.nextInt(150).toLong,
          pick(EventTypes), money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until docs).map { i =>
        val t = Seq.fill(5 + rnd.nextInt(75))(pick(Words)).mkString(" ")
        Row(i.toLong, t, pick(Langs), s"src${i % 20}", t.length.toLong)
      })
    put("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until docs).map(i => Row(i.toLong,
        Seq.fill(64)((rnd.nextGaussian() / 8).toFloat), rnd.nextInt(10))))
  }
}
