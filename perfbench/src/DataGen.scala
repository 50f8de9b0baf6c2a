package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-style tables in the layout `graft.Engine.table`
  * reads (`<dir>/<name>.parquet`), with the column names, types and value
  * domains of the repository's sf-scaled test tables.
  *
  * Every value is a hash of (table, column tag, row id) under one fixed
  * seed, so the files hold the same rows on every machine and in every
  * run: the committed oracle digests in `oracle/olap_expected.json` were
  * computed by DuckDB over exactly these rows. The run's `--seed` never
  * reaches this generator; it drives which operations run, in what order.
  */
object DataGen {
  val Seed = 42

  /** Row counts at scale factor `sf` (0.1 = 600k lineitem rows). */
  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong)

  val OlapTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The 30-word vocabulary of the test documents: texts share many
    * shingles, as in the repository's test tables. */
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** `documents` (5000 at sf0.1) and `embeddings` (2000 × 64-d) rows, drawn
    * on the driver from the fixed seed. */
  private def docsAndVecs(spark: SparkSession, name: String, sf: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(Seed)
    if (name == "documents") {
      val rows = (0L until (50000 * sf).toLong).map { i =>
        val text = Seq.fill(8 + rng.nextInt(90))(Words(rng.nextInt(Words.size))).mkString(" ")
        Row(i, text, Seq("en", "en", "zh", "de", "fr", "es")(rng.nextInt(6)), s"src${i % 20}",
          text.length.toLong)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    } else {
      val rows = (0L until (20000 * sf).toLong).map { i =>
        Row(i, Seq.fill(64)((rng.nextGaussian() / 8).toFloat), rng.nextInt(10))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
        StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, false)),
        StructField("label", IntegerType))))
    }
  }

  private val day = 86400L * 1000000L

  /** Uniform draw in [0, n) for column tag `tag` of table `t`. */
  private def u(t: Int, tag: Int, n: Long): Column =
    pmod(xxhash64(lit(Seed), lit(t), lit(tag), col("id")), lit(n))

  private def pick(t: Int, tag: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (u(t, tag, values.size.toLong) + 1).cast("int"))

  private def cents(c: Column): Column = (c.cast("double") / 100.0)

  /** Midnight of `1970-01-01 + days`, as a naive (NTZ) timestamp. */
  private def dayTs(days: Column): Column =
    timestamp_micros(days * lit(day)).cast("timestamp_ntz")

  private val epochDay1995 = 9131L // 1995-01-01
  private val epochUs2024 = 1704067200L * 1000000L // 2024-01-01T00:00:00

  def table(spark: SparkSession, name: String, sf: Double): DataFrame = {
    if (name == "documents" || name == "embeddings") return docsAndVecs(spark, name, sf)
    val n = rows(sf)(name)
    val parts = if (n >= 100000) 4 else 1
    val r = spark.range(0, n, 1, parts)
    name match {
      case "region" => r.select(col("id").cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (col("id") + 1).cast("int")).as("r_name"))
      case "nation" => r.select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" => r.select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 1, 25).cast("int").as("c_nationkey"),
        cents(u(1, 2, 1099985) - 99985).as("c_acctbal"),
        pick(1, 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
          .as("c_mktsegment"))
      case "supplier" => r.select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(2, 1, 25).cast("int").as("s_nationkey"),
        cents(u(2, 2, 1099985) - 99985).as("s_acctbal"))
      case "part" => r.select(col("id").as("p_partkey"),
        concat_ws(" ",
          pick(3, 1, Seq("large", "hot", "blue", "red", "small", "green", "cold", "old")),
          pick(3, 2, Seq("ring", "bolt", "nut", "gear", "spring", "screw"))).as("p_name"),
        concat(lit("Brand#"), u(3, 3, 25) + 1).as("p_brand"),
        pick(3, 4, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")).as("p_type"),
        (u(3, 5, 50) + 1).cast("int").as("p_size"),
        cents(lit(90000) + (col("id") % 1000) * 10).as("p_retailprice"))
      case "orders" => r.select(col("id").as("o_orderkey"),
        u(4, 1, rows(sf)("customer")).as("o_custkey"),
        pick(4, 2, Seq("O", "F", "P")).as("o_orderstatus"),
        cents(u(4, 3, 49899128) + 100191).as("o_totalprice"),
        dayTs(lit(epochDay1995) + u(4, 4, 2404)).as("o_orderdate"),
        pick(4, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))
      case "lineitem" => r.select(u(5, 1, rows(sf)("orders")).as("l_orderkey"),
        u(5, 2, rows(sf)("part")).as("l_partkey"),
        u(5, 3, rows(sf)("supplier")).as("l_suppkey"),
        (u(5, 4, 7) + 1).cast("int").as("l_linenumber"),
        (u(5, 5, 50) + 1).cast("double").as("l_quantity"),
        cents(u(5, 6, 10409924) + 90068).as("l_extendedprice"),
        cents(u(5, 7, 11)).as("l_discount"),
        cents(u(5, 8, 9)).as("l_tax"),
        pick(5, 9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(5, 10, Seq("O", "F")).as("l_linestatus"),
        dayTs(lit(epochDay1995 + 1) + u(5, 11, 2498)).as("l_shipdate"))
      case "events" => r.select(col("id").as("event_id"),
        timestamp_micros(lit(epochUs2024) + u(6, 1, 30 * day)).cast("timestamp_ntz").as("ts"),
        u(6, 2, 1500).as("user_id"),
        pick(6, 3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        cents(u(6, 4, 56022)).as("value"),
        format_string("{\"k\": %d}", u(6, 5, 100)).as("props"))
    }
  }

  /** Write `names` under `dir`, replacing what is there. */
  def write(spark: SparkSession, dir: String, names: Seq[String], sf: Double): Unit =
    names.foreach { n =>
      table(spark, n, sf).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
}
