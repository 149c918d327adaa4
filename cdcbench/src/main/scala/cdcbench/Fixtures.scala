package cdcbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded parquet fixtures with the FIXTURES.md schemas at sf0.1 row
  * counts, one file per table, written by Spark. Every value is a hash
  * of (seed, column, row id), so the bytes depend on the seed only. */
object Fixtures {
  val Rows: Seq[(String, Long)] = Seq("region" -> 5L, "nation" -> 25L,
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    def h(k: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(k) +: cs): _*)
    def pick(k: Int, n: Long): Column = pmod(h(k, col("id")), lit(n))
    def unit(k: Int): Column = pick(k, 1000003L) / 1000003.0
    def oneOf(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), pick(k, xs.size.toLong).cast("int") + 1)
    def money(k: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + unit(k) * (hi - lo), 2)
    def day(k: Int, from: String, n: Long): Column =
      date_add(lit(from).cast("date"), pick(k, n).cast("int"))
        .cast("timestamp_ntz")
    def range(name: String): DataFrame =
      spark.range(Rows.toMap.apply(name)).toDF()
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

    Seq(
      "region" -> range("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(array(regions.map(lit): _*), col("id").cast("int") + 1)
          .as("r_name")),
      "nation" -> range("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> range("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(3, Seq("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
          "HOUSEHOLD")).as("c_mktsegment")),
      "supplier" -> range("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(4, 25).cast("int").as("s_nationkey"),
        money(5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> range("part").select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(6, Seq("large", "hot", "blue", "old", "cold",
          "red", "small", "new")), oneOf(7, Seq("ring", "bolt", "plate",
          "gear", "widget", "rod", "anvil", "gizmo"))).as("p_name"),
        concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
        oneOf(9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
          "PROMO")).as("p_type"),
        (pick(10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> range("orders").select(col("id").as("o_orderkey"),
        pick(11, 15000).as("o_custkey"),
        oneOf(12, Seq("O", "F", "P")).as("o_orderstatus"),
        money(13, 1000.0, 500000.0).as("o_totalprice"),
        day(14, "1995-01-01", 2405).as("o_orderdate"),
        oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> range("lineitem").select(
        pick(16, 150000).as("l_orderkey"),
        pick(17, 20000).as("l_partkey"), pick(18, 1000).as("l_suppkey"),
        (pick(19, 7) + 1).cast("int").as("l_linenumber"),
        (pick(20, 50) + 1).cast("double").as("l_quantity"),
        money(21, 900.0, 105000.0).as("l_extendedprice"),
        (pick(22, 11) / 100.0).as("l_discount"),
        (pick(23, 9) / 100.0).as("l_tax"),
        oneOf(24, Seq("N", "A", "R")).as("l_returnflag"),
        oneOf(25, Seq("O", "F")).as("l_linestatus"),
        day(26, "1995-01-02", 2499).as("l_shipdate")),
      "events" -> range("events").select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          pick(27, 30L * 86400L * 1000000L)).cast("timestamp_ntz").as("ts"),
        pick(28, 1500).as("user_id"),
        oneOf(29, Seq("error", "view", "signup", "purchase", "click"))
          .as("event_type"),
        round(unit(30) * unit(31) * 560.0, 2).as("value"),
        format_string("{\"k\": %d}", pick(32, 100)).as("props")),
      "documents" -> documents(range("documents"), seed),
      "embeddings" -> range("embeddings").select(col("id").as("vec_id"),
        pick(33, 10).cast("int").as("label"))
        .select(col("vec_id"), transform(sequence(lit(0), lit(63)), j =>
          ((pmod(h(34, col("label"), j), lit(2001L)) - 1000) / 5000.0 +
            (pmod(h(35, col("vec_id"), j), lit(2001L)) - 1000) / 20000.0)
            .cast("float")).as("embedding"), col("label")))
  }

  /** 10 to 100 words from a 30-word vocabulary; one document in 20
    * repeats an earlier one's words with " dup" appended. */
  private def documents(ids: DataFrame, seed: Long): DataFrame = {
    def h(k: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(k) +: cs): _*)
    val vocab = array(Vocab.map(lit): _*)
    val isDup = pmod(h(40, col("id")), lit(20L)) === 0 && col("id") > 0
    val src = when(isDup, col("id") - 1 - pmod(h(41, col("id")),
      least(col("id"), lit(50L)))).otherwise(col("id"))
    ids.withColumn("src", src)
      .withColumn("words", transform(
        sequence(lit(1), (pmod(h(42, col("src")), lit(91L)) + 10).cast("int")),
        i => element_at(vocab, pmod(h(43, col("src"), i), lit(30L))
          .cast("int") + 1)))
      .withColumn("text", when(isDup,
        concat(array_join(col("words"), " "), lit(" dup")))
        .otherwise(array_join(col("words"), " ")))
      .select(col("id").as("doc_id"), col("text"),
        element_at(array(Seq("en", "de", "fr", "es", "zh").map(lit): _*),
          pmod(h(44, col("id")), lit(5L)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(h(45, col("id")), lit(20L))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Writes every table to `<dir>/<name>.parquet` as one file, four
    * tables at a time. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables(spark, seed).map { case (name, df) =>
      val write: Runnable = () => df.repartition(1).write.mode("overwrite")
        .parquet(s"$dir/$name.parquet")
      pool.submit(write)
    }.foreach(_.get())
    finally pool.shutdown()
  }
}
