package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten batch tables the query mix reads.
  *
  * Shapes follow the repo's TPC-H-style test tables (same column names,
  * types and value domains; `scale` 1.0 ≙ sf0.01 row counts, with at least
  * 500 documents and embeddings as in every shipped scale). Every value
  * is a pure function of (seed, table, row id, column), so the same seed
  * writes the same tables on any partitioning. Each table is written as one
  * parquet file, like the shipped test data.
  */
object MixData {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def n(base: Int): Long = math.max(1L, math.round(base * scale))
    // uniform double in [0, 1) keyed by (seed, salt, id, extra...)
    def u(salt: String, id: Column, extra: Column*): Column =
      pmod(xxhash64((Seq(lit(seed), lit(salt), id) ++ extra): _*), lit(1000000007L))
        .cast("double") / 1000000007.0
    def pick(values: Seq[String], salt: String, id: Column): Column =
      element_at(array(values.map(lit): _*), (floor(u(salt, id) * values.size) + 1).cast("int"))
    def ntzDays(from: String, days: Column): Column =
      date_add(to_date(lit(from)), days.cast("int")).cast("timestamp_ntz")

    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nEv = n(10000); val nUsers = n(150)
    val nDoc = math.max(500L, n(500)); val nEmb = math.max(500L, n(500))
    val id = col("id")

    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u("c_nat", id) * 25).cast("int").as("c_nationkey"),
      round(u("c_bal", id) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"), "c_seg", id)
        .as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u("s_nat", id) * 25).cast("int").as("s_nationkey"),
      round(u("s_bal", id) * 10999.99 - 999.99, 2).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat(pick(Seq("blue", "hot", "small", "old", "red", "new", "cold", "large"), "p_adj", id),
        lit(" "), pick(Seq("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"),
          "p_noun", id)).as("p_name"),
      concat(lit("Brand#"), (floor(u("p_brand", id) * 25) + 1).cast("string")).as("p_brand"),
      pick(Seq("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"), "p_type", id).as("p_type"),
      (floor(u("p_size", id) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + floor(u("p_price", id) * 1000) / 10.0, 1).as("p_retailprice"))
    // order dates span 1995-01-01 .. 2001-08-01 (2404 days)
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      floor(u("o_cust", id) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), "o_status", id).as("o_orderstatus"),
      round(u("o_total", id) * 450000 + 900, 2).as("o_totalprice"),
      ntzDays("1995-01-01", floor(u("o_date", id) * 2404)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "o_prio", id)
        .as("o_orderpriority"))
    val lineitem = spark.range(nOrd)
      .select(id, explode(sequence(lit(1), (floor(u("l_n", id) * 7) + 1).cast("int"))).as("ln"))
      .select(id.as("l_orderkey"),
        floor(u("l_part", id, col("ln")) * nPart).cast("long").as("l_partkey"),
        floor(u("l_supp", id, col("ln")) * nSupp).cast("long").as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (floor(u("l_qty", id, col("ln")) * 50) + 1).cast("double").as("l_quantity"),
        round((floor(u("l_qty", id, col("ln")) * 50) + 1) *
          (lit(900.0) + floor(u("l_price", id, col("ln")) * 1000) / 10.0), 2).as("l_extendedprice"),
        (floor(u("l_disc", id, col("ln")) * 11) / 100.0).as("l_discount"),
        (floor(u("l_tax", id, col("ln")) * 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "l_rf", id * 8 + col("ln")).as("l_returnflag"),
        pick(Seq("O", "F"), "l_ls", id * 8 + col("ln")).as("l_linestatus"),
        ntzDays("1995-01-01", floor(u("o_date", id) * 2404) + 1 +
          floor(u("l_ship", id, col("ln")) * 120)).as("l_shipdate"))
    // events: ts ascending with event_id over 30 days
    val stepUs = 30L * 86400L * 1000000L / nEv
    val events = spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs +
        floor(u("e_ts", id) * stepUs).cast("long")).cast("timestamp_ntz").as("ts"),
      floor(u("e_user", id) * nUsers).cast("long").as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), "e_type", id).as("event_type"),
      round(u("e_val", id) * 490.01 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), floor(u("e_k", id) * 100).cast("long").cast("string"), lit("}"))
        .as("props"))
    // documents: 10–99 words over a 30-word vocabulary; 5 % are copies of an
    // earlier document with a trailing "dup" token (near-duplicates)
    val vocab = array(Vocab.map(lit): _*)
    val isDup = id > 0 && u("d_dup", id) < 0.05
    val srcDoc = when(isDup, floor(u("d_src", id) * id).cast("long")).otherwise(id)
    val words = transform(sequence(lit(1), (floor(u("d_len", col("src")) * 90) + 10).cast("int")),
      i => element_at(vocab, (floor(u("d_w", col("src"), i) * Vocab.size) + 1).cast("int")))
    val documents = spark.range(nDoc).select(id, srcDoc.as("src"), isDup.as("dup"))
      .select(id.as("doc_id"),
        concat(array_join(words, " "), when(col("dup"), lit(" dup")).otherwise(lit("")))
          .as("text"),
        pick(Seq("en", "en", "en", "fr", "zh", "de", "es"), "d_lang", id).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // embeddings: 64-dim unit vectors around one centroid per label (10 labels)
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, j =>
      (u("e_c", col("label").cast("long"), j) - 0.5) + (u("e_x", id, j) - 0.5) * 0.6)
    val embeddings = spark.range(nEmb)
      .select(id, floor(u("e_label", id) * 10).cast("int").as("label"))
      .select(id, col("label"), raw.as("raw"))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))

    val frames: Seq[(String, DataFrame)] = Seq("region" -> region, "nation" -> nation,
      "customer" -> customer, "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
    frames.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
