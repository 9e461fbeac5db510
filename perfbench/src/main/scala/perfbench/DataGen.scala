package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synthetic copy of the engine's parquet test tables (TPC-H-ish star
 * schema plus `events`, `documents` and `embeddings`), generated by
 * Spark from a data seed so the benchmark needs no files outside its
 * checkout. Row counts follow the test data's scale-factor rules
 * (`lineitem` = 6M·sf, `events` = 1M·sf, ...); value domains and
 * column types match the originals, so every catalogue query plans and
 * runs as it does on them. Every column is a pure hash of (seed, row
 * id), so a (seed, sf) pair always yields the same files.
 */
object DataGen {

  /** Scale factor and seed of the catalogue workload's data set. */
  val CatalogueSf = 0.01
  val DataSeed = 42L

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Write `tables` of scale factor `sf` under `dir` (one single-file
    * parquet directory per table, `<dir>/<name>.parquet`). */
  def writeAll(spark: SparkSession, dir: String, sf: Double, seed: Long,
      tables: Seq[String] = Tables): Unit =
    tables.foreach(t => write(table(spark, t, sf, seed), s"$dir/$t.parquet"))

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def rows(name: String, sf: Double): Long = name match {
    case "region"     => 5
    case "nation"     => 25
    case "customer"   => math.round(150000 * sf)
    case "supplier"   => math.round(10000 * sf)
    case "part"       => math.round(200000 * sf)
    case "orders"     => math.round(1500000 * sf)
    case "lineitem"   => math.round(6000000 * sf)
    case "events"     => math.round(1000000 * sf)
    case "documents"  => math.max(500L, math.round(50000 * sf))
    case "embeddings" => math.max(500L, math.round(20000 * sf))
  }

  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val id = col("id")
    // uniform [0, 1) and integer [0, n) draws, one hash stream per tag
    def u(tag: Int, cols: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(tag) +: cols): _*), lit(1L << 30)) / (1L << 30).toDouble
    def ri(tag: Int, n: Long, cols: Column*): Column =
      floor(u(tag, cols: _*) * n).cast("long")
    def pick(tag: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), ri(tag, xs.size.toLong, id).cast("int") + 1)
    def money(tag: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(tag, id) * (hi - lo), 2)
    def day(tag: Int, start: String, days: Long): Column =
      to_timestamp_ntz(date_add(lit(java.sql.Date.valueOf(start)),
        ri(tag, days, id).cast("int")))
    def named(prefix: String): Column =
      concat(lit(prefix), lpad(id.cast("string"), 9, "0"))
    val n = rows(name, sf)
    val base = spark.range(0, n, 1, 1)
    name match {
      case "region" =>
        base.select(id.cast("int").as("r_regionkey"), element_at(array(
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          id.cast("int") + 1).as("r_name"))
      case "nation" =>
        base.select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          (id % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        base.select(id.as("c_custkey"), named("Customer#").as("c_name"),
          ri(1, 25, id).cast("int").as("c_nationkey"),
          money(2, -999.99, 9999.99).as("c_acctbal"),
          pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        base.select(id.as("s_suppkey"), named("Supplier#").as("s_name"),
          ri(1, 25, id).cast("int").as("s_nationkey"),
          money(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" =>
        base.select(id.as("p_partkey"),
          concat(pick(1, Seq("blue", "cold", "hot", "large", "new", "old",
            "red", "small")), lit(" "), pick(2, Seq("anvil", "bolt", "gear",
            "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
          concat(lit("Brand#"), (ri(3, 25, id) + 1).cast("string")).as("p_brand"),
          pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD")).as("p_type"),
          (ri(5, 50, id) + 1).cast("int").as("p_size"),
          round(lit(900.0) + (id % 1000) / 10.0, 1).as("p_retailprice"))
      case "orders" =>
        base.select(id.as("o_orderkey"),
          ri(1, rows("customer", sf), id).as("o_custkey"),
          pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
          money(3, 1000.0, 500000.0).as("o_totalprice"),
          day(4, "1995-01-01", 2404).as("o_orderdate"),
          pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        base.select(ri(1, rows("orders", sf), id).as("l_orderkey"),
          ri(2, rows("part", sf), id).as("l_partkey"),
          ri(3, rows("supplier", sf), id).as("l_suppkey"),
          (ri(4, 7, id) + 1).cast("int").as("l_linenumber"),
          (ri(5, 50, id) + 1).cast("double").as("l_quantity"),
          money(6, 900.0, 105000.0).as("l_extendedprice"),
          (ri(7, 11, id) / 100.0).as("l_discount"),
          (ri(8, 9, id) / 100.0).as("l_tax"),
          pick(9, Seq("A", "N", "R")).as("l_returnflag"),
          pick(10, Seq("F", "O")).as("l_linestatus"),
          day(11, "1995-01-02", 2498).as("l_shipdate"))
      case "events" =>
        // 30 days of events in id order; value ~ exponential, mean 50
        val spanMicros = 30L * 86400L * 1000000L
        base.select(id.as("event_id"),
          to_timestamp_ntz(timestamp_micros(lit(1704067200000000L) +
            ((id + u(1, id)) * (spanMicros.toDouble / n)).cast("long"))).as("ts"),
          ri(2, math.max(15L, math.round(15000 * sf)), id).as("user_id"),
          pick(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
          round(-log(lit(1.0) - u(4, id)) * 50.0, 2).as("value"),
          concat(lit("{\"k\": "), ri(5, 100, id).cast("string"), lit("}")).as("props"))
      case "documents" =>
        // one doc in ten repeats an earlier doc's text plus " dup", so
        // the near-duplicate operators have clusters to find
        val isDup = u(1, id) < 0.1 && id > 0
        val src = when(isDup, greatest(lit(0L), id - 1 - ri(2, 5, id))).otherwise(id)
        val words = transform(sequence(lit(1), (ri(3, 91, col("src")) + 10).cast("int")),
          i => element_at(array(Vocab.map(lit): _*),
            ri(4, Vocab.size.toLong, col("src"), i).cast("int") + 1))
        val lang = u(5, id)
        base.withColumn("src", src)
          .withColumn("text", concat(array_join(words, " "),
            when(isDup, lit(" dup")).otherwise(lit(""))))
          .select(id.as("doc_id"), col("text"),
            when(lang < 0.41, "en").when(lang < 0.56, "de").when(lang < 0.71, "es")
              .when(lang < 0.86, "fr").otherwise("zh").as("lang"),
            concat(lit("src"), (id % 20).cast("string")).as("source"),
            length(col("text")).cast("long").as("n_chars"))
      case "embeddings" =>
        // unit vectors scattered around one of 10 label centroids
        val dims = 64
        val gauss = (tag: Int, c: Column, j: Column) =>
          u(tag, c, j) + u(tag + 1, c, j) + u(tag + 2, c, j) - 1.5
        val raw = transform(sequence(lit(0), lit(dims - 1)),
          j => gauss(10, col("label"), j) + gauss(20, id, j) * 0.6)
        base.withColumn("label", ri(1, 10, id).cast("int"))
          .withColumn("raw", raw)
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
            (acc, x) => acc + x * x)))
          .select(id.as("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
            col("label"))
    }
  }
}
