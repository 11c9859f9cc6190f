package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the battery's ten input tables, in the layout the
  * engine's `graft.Tables` loaders and `Tables.fixtureContract` expect
  * (TPC-H-like star schema plus events, documents and embeddings).
  * Every value is a hash of (seed, table, column, row), so one seed gives
  * the same tables on any partitioning. `scale` is the TPC-H scale
  * factor: 0.01 gives 60k lineitem rows. */
object Fixture {
  private val words = Seq("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "part", "window", "small", "hash", "join", "batch", "stream",
    "spark", "dup", "group", "query", "row", "data", "slow", "filter",
    "customer", "line", "value", "agg", "column", "vector", "big", "a")

  def generate(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    def rows(n: Long): DataFrame = spark.range(0, n, 1, parts).toDF("id")
    def n(base: Double): Long = math.max(1L, math.round(base * scale))
    /** Uniform in [0, 1) from (seed, tag, key). */
    def u(tag: String, key: Column): Column =
      pmod(xxhash64(lit(seed), lit(tag), key), lit(1000003L)).cast("double") /
        lit(1000003.0)
    def pick(tag: String, key: Column, n: Long): Column =
      floor(u(tag, key) * n).cast("long")
    def oneOf(tag: String, key: Column, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), pick(tag, key, values.size).cast("int") + 1)
    /** Roughly standard gaussian: a centred sum of four uniforms. */
    def gauss(tag: String, key: Column): Column =
      (0 until 4).map(i => u(s"$tag$i", key)).reduce(_ + _) * lit(math.sqrt(3.0)) -
        lit(2 * math.sqrt(3.0))
    def day(offsetDays: Column): Column =
      timestamp_seconds(lit(788918400L) + offsetDays * 86400L) // 1995-01-01
        .cast(TimestampNTZType)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val id = col("id")
    val customers = n(150000); val suppliers = n(10000); val partsN = n(200000)
    val orders = n(1500000)

    write("region", rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), id.cast("int") + 1).as("r_name")))
    write("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    write("customer", rows(customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nation", id, 25).cast("int").as("c_nationkey"),
      round(u("c_acct", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      oneOf("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", rows(suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nation", id, 25).cast("int").as("s_nationkey"),
      round(u("s_acct", id) * 10999.99 - 999.99, 2).as("s_acctbal")))
    write("part", rows(partsN).select(id.as("p_partkey"),
      concat_ws(" ",
        oneOf("p_col", id, Seq("red", "blue", "green", "black", "white", "small",
          "large", "shiny")),
        oneOf("p_noun", id, Seq("widget", "bolt", "anvil", "ring", "gear", "nut",
          "spring", "valve"))).as("p_name"),
      concat(lit("Brand#"), pick("p_brand", id, 25) + 1).as("p_brand"),
      oneOf("p_type", id, Seq("ECONOMY", "STANDARD", "SMALL", "LARGE", "MEDIUM",
        "PROMO")).as("p_type"),
      (pick("p_size", id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10.0).as("p_retailprice")))
    val orderDays = pick("o_date", id, 2400)
    write("orders", rows(orders).select(id.as("o_orderkey"),
      pick("o_cust", id, customers).as("o_custkey"),
      oneOf("o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u("o_price", id) * 498964.89 + 1013.7, 2).as("o_totalprice"),
      day(orderDays).as("o_orderdate"),
      oneOf("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    val line = concat_ws(":", col("o"), col("l_linenumber"))
    write("lineitem", rows(orders)
      .select(id.as("o"), orderDays.as("odays"),
        explode(sequence(lit(1), (pick("o_lines", id, 7) + 1).cast("int")))
          .as("l_linenumber"))
      .select(col("o").as("l_orderkey"),
        pick("l_part", line, partsN).as("l_partkey"),
        pick("l_supp", line, suppliers).as("l_suppkey"),
        col("l_linenumber"),
        (pick("l_qty", line, 50) + 1).cast("double").as("l_quantity"),
        round(u("l_price", line) * 104096.06 + 901.82, 2).as("l_extendedprice"),
        (pick("l_disc", line, 11).cast("double") / 100.0).as("l_discount"),
        (pick("l_tax", line, 9).cast("double") / 100.0).as("l_tax"),
        oneOf("l_rf", line, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf("l_ls", line, Seq("F", "O")).as("l_linestatus"),
        day(col("odays") + pick("l_ship", line, 121) + 1).as("l_shipdate")))
    val events = n(1000000)
    val stepMicros = 30L * 86400L * 1000000L / events
    write("events", rows(events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepMicros +
        pick("e_jit", id, stepMicros)).cast(TimestampNTZType).as("ts"),
      pick("e_user", id, math.max(20L, events / 66)).as("user_id"),
      oneOf("e_type", id, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(lit(0.01) + pow(u("e_val", id), 3) * 490.01, 2).as("value"),
      format_string("{\"k\": %d}", pick("e_k", id, 100)).as("props")))
    val docs = n(50000)
    write("documents", rows(docs)
      .select(id.as("doc_id"),
        array_join(transform(sequence(lit(1), (pick("d_len", id, 80) + 8).cast("int")),
          i => element_at(array(words.map(lit): _*),
            pick("d_word", concat_ws(":", id, i), words.size).cast("int") + 1)), " ")
          .as("text"),
        oneOf("d_lang", id, Seq("en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", rows(math.max(500L, n(20000))).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (lit(0.3) * gauss("centre", concat_ws(":", pick("v_label", id, 10), d)) +
          lit(0.1) * gauss("noise", concat_ws(":", id, d))).cast(FloatType))
        .as("embedding"),
      pick("v_label", id, 10).cast("int").as("label")))
  }
}
