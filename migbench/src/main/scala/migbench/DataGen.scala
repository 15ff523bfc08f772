package migbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded generator of the sf-shaped source tables (the layout of the
  * repository's TPC-H-like fixtures plus `events` and `documents`). Row
  * `i` of a table depends only on (seed, table, i). Rows are built in the
  * benchmark's JVM and written as one parquet file per table.
  */
object DataGen {

  /** Row counts at scale factor `sf` (sf 0.1 = the bench fixture size). */
  def rowCounts(sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> n(50000))
  }

  private val vocab = Vector("spark", "batch", "part", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "vector", "query", "table", "key", "the",
    "window", "join", "data", "stream", "customer", "a", "of", "index",
    "page")
  private val day0 = 694224000L // 1992-01-01

  private def f(name: String, t: DataType) = StructField(name, t, nullable = false)

  private val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
    "nation" -> StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType),
      f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
      f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("ev_value", DoubleType),
      f("props", StringType))),
    "documents" -> StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))))

  /** Row `i` of table `name`. */
  def row(name: String, i: Long, sf: Double, seed: Long): Row = {
    val counts = rowCounts(sf)
    val r = new java.util.SplittableRandom(
      scala.util.hashing.MurmurHash3.productHash((seed, name, i)).toLong * 0x9E3779B97F4A7C15L + i)
    def pick(xs: Seq[String]) = xs(r.nextInt(xs.size))
    def money(cents: Int) = r.nextInt(cents) / 100.0
    def day() = new java.sql.Timestamp((day0 + r.nextInt(3650) * 86400L) * 1000L)
    name match {
      case "region" => Row(i.toInt,
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")) + "_" + r.nextInt(1000))
      case "nation" => Row(i.toInt, s"NATION_${i}_${r.nextInt(1000)}", r.nextInt(5))
      case "customer" => Row(i, f"Customer#$i%09d", r.nextInt(25),
        money(1100000) - 1000.0,
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")))
      case "supplier" => Row(i, f"Supplier#$i%09d", r.nextInt(25),
        money(1100000) - 1000.0)
      case "part" => Row(i, Seq.fill(3)(pick(vocab)).mkString(" "),
        s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
        pick(Seq("STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
          "LARGE POLISHED STEEL", "ECONOMY ANODIZED NICKEL")),
        1 + r.nextInt(50), money(200000) + 900.0)
      case "orders" => Row(i, r.nextLong(counts("customer")),
        pick(Seq("O", "F", "P")), money(50000000), day(),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
      case "lineitem" => Row(r.nextLong(counts("orders")), r.nextLong(counts("part")),
        r.nextLong(counts("supplier")), 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(10000000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("O", "F")), day())
      case "events" =>
        val micros = 1704067200000000L + i * 30000000L + r.nextInt(30000000)
        val ts = new java.sql.Timestamp(micros / 1000)
        ts.setNanos(((micros % 1000000) * 1000).toInt)
        Row(i, ts, r.nextLong(2000),
          pick(Seq("view", "click", "signup", "purchase", "error")),
          money(20000), s"""{"k": ${r.nextInt(100)}}""")
      case "documents" =>
        val text = Seq.fill(5 + r.nextInt(60))(pick(vocab)).mkString(" ")
        Row(i, text, pick(Seq("en", "fr", "de", "zh")), s"src${r.nextInt(8)}",
          text.length.toLong)
    }
  }

  /** Writes the named tables as one parquet file each under `dir`. */
  def write(spark: SparkSession, dir: String, names: Seq[String], sf: Double,
      seed: Long): Unit =
    names.foreach { n =>
      val rows = (0L until rowCounts(sf)(n)).map(i => row(n, i, sf, seed))
      spark.createDataFrame(rows.asJava, schemas(n)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
}
