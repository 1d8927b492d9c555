package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesises the parquet tables the curation queries read, in the same
  * schemas `graft.Tables` loads (`<dir>/<name>.parquet`).
  *
  * Every value is a hash of the row id and a per-column salt, so the
  * tables are byte-for-byte the same on every run and every partition
  * layout: the query result hashes recorded in `expected.json` hold for
  * any `--seed`. `scale` is the TPC-H style scale factor (1.0 would be
  * 150k customers); the queries are timed at small scales.
  */
object Fixture {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** uniform long in [0, n) from (id, salt) */
  private def h(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(id, salt, xs.length) + 1).cast("int"))

  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + h(id, salt, 1000000L) * lit((hi - lo) / 1000000.0), 2)

  private def day(id: Column, salt: Int, from: String, days: Int): Column =
    (unix_timestamp(lit(from), "yyyy-MM-dd") + h(id, salt, days) * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  val vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def words(id: Column, salt: Int, n: Column): Column = {
    val v = array(vocab.map(lit): _*)
    array_join(transform(sequence(lit(1), n), i =>
      element_at(v, (pmod(xxhash64(id, i, lit(salt)), lit(vocab.length.toLong)) + 1)
        .cast("int"))), " ")
  }

  def generate(spark: SparkSession, dir: String, scale: Double): Unit = {
    def n(base: Long): Long = math.max(10L, math.round(base * scale))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = nOrd * 4; val nEv = n(1000000)
    val nDoc = n(50000); val nEmb = math.max(200L, n(20000))
    val id = col("id")
    def range(k: Long) = spark.range(0, k, 1, 1)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    save("customer", range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(id, 1, 25).cast("int").as("c_nationkey"),
      money(id, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(id, 3, Seq("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING",
        "AUTOMOBILE")).as("c_mktsegment")))
    save("supplier", range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(id, 4, 25).cast("int").as("s_nationkey"),
      money(id, 5, -999.99, 9999.99).as("s_acctbal")))
    save("part", range(nPart).select(id.as("p_partkey"),
      concat(pick(id, 6, Seq("small", "red", "blue", "cold", "hot", "large",
        "new", "old")), lit(" "), pick(id, 7, Seq("ring", "widget", "bolt",
        "gear", "gizmo", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), h(id, 8, 25) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
        "LARGE")).as("p_type"),
      (h(id, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")))
    save("orders", range(nOrd).select(id.as("o_orderkey"),
      h(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("P", "F", "O")).as("o_orderstatus"),
      money(id, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(id, 14, "1995-01-01", 2400).as("o_orderdate"),
      pick(id, 15, Seq("5-LOW", "4-NOT SPECIFIED", "2-HIGH", "1-URGENT",
        "3-MEDIUM")).as("o_orderpriority")))
    save("lineitem", range(nLine).select(h(id, 16, nOrd).as("l_orderkey"),
      h(id, 17, nPart).as("l_partkey"), h(id, 18, nSupp).as("l_suppkey"),
      (h(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (h(id, 20, 50) + 1).cast("double").as("l_quantity"),
      money(id, 21, 900.0, 105000.0).as("l_extendedprice"),
      (h(id, 22, 11) / 100.0).as("l_discount"),
      (h(id, 23, 9) / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      day(id, 26, "1995-01-02", 2500).as("l_shipdate")))
    // events: one per ~26 s over January 2024, microsecond jitter
    val span = 30L * 86400L * 1000000L
    save("events", range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * (span / nEv) +
        h(id, 27, span / nEv)).cast("timestamp_ntz").as("ts"),
      h(id, 28, math.max(20L, nEv / 66)).as("user_id"),
      pick(id, 29, Seq("error", "click", "view", "signup", "purchase")).as("event_type"),
      round(lit(0.01) + h(id, 30, 50000) / 100.0, 2).as("value"),
      format_string("{\"k\": %d}", h(id, 31, 100)).as("props")))
    // documents: 10-100 words from a 30-word vocabulary; every 20th doc is
    // its predecessor's text plus " dup", so the near-duplicate joins find
    // pairs
    val base = words(id, 32, (h(id, 33, 91) + 10).cast("int"))
    val prev = words(id - 1, 32, (h(id - 1, 33, 91) + 10).cast("int"))
    save("documents", range(nDoc).select(id.as("doc_id"),
      when(id % 20 === 11, concat(prev, lit(" dup"))).otherwise(base).as("text"),
      when(h(id, 34, 100) < 41, lit("en")).otherwise(
        pick(id, 35, Seq("zh", "es", "fr", "de"))).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: unit vectors around one of ten label centroids
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (pmod(xxhash64(col("label"), j, lit(36)), lit(2001L)) - 1000) / 1000.0 +
      (pmod(xxhash64(id, j, lit(37)), lit(2001L)) - 1000) / 2500.0)
    save("embeddings", range(nEmb)
      .withColumn("label", h(id, 38, 10).cast("int"))
      .withColumn("raw", raw)
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label")))
  }
}
