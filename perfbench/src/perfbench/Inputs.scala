package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The benchmark's input tables, generated from fixed salts so every run
  * stages byte-identical data. The shape follows the test tables the
  * registered queries are written against (same table and column names,
  * types and value domains) at scale factors 0.01 and 0.1. At sf0.01:
  * TPC-H-style `region nation customer supplier part orders lineitem`
  * (60,000 lineitems), a 10,000-row `events` log of 150 users over
  * January 2024, a 500-document `documents` corpus and 200 unit-norm
  * 64-dimensional `embeddings`; sf0.1 has ten times the rows and keys.
  *
  * Every value is a pure function of the row id (xxhash64 of the id and a
  * per-column salt), so the data does not depend on partitioning, thread
  * count or the workload seed. The tables are generated once per build
  * (`Main --generate`) and each run's set-up stages a copy of its
  * workload's scale. Each table is one parquet file
  * `<scale>/<table>.parquet`, the layout the registered queries read.
  */
object Inputs {
  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "batch",
    "part", "line", "order", "sort", "fast", "scan", "a", "hash", "slow",
    "group", "agg", "query", "big", "key", "row", "customer", "the", "text")

  /** Uniform double in [0, 1) from the row id and a salt. */
  private def u(id: Column, salt: Int): Column =
    shiftrightunsigned(xxhash64(id, lit(salt)), 11).cast("double") / math.pow(2, 53)

  /** Uniform integer in [0, n). */
  private def pick(id: Column, salt: Int, n: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(n.toLong))

  private def oneOf(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(id, salt, xs.size) + 1).cast("int"))

  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, salt) * (hi - lo), 2)

  private def day(base: String, id: Column, salt: Int, span: Int): Column =
    to_timestamp(date_add(lit(base).cast("date"), pick(id, salt, span).cast("int")))

  /** The scales generated, with their size relative to sf0.01. */
  val Scales: Seq[(String, Int)] = Seq("sf0.01" -> 1, "sf0.1" -> 10)

  /** The tables at `k` times sf0.01. Nation and region are fixed; every
    * other table, and the key domains that point into it, grows with `k`. */
  def tables(spark: SparkSession, k: Int): Map[String, DataFrame] = {
    def rows(n: Long) = spark.range(n * k).toDF("id")
    val id = col("id")
    val (customers, suppliers, parts, orders, users) = (1500 * k, 100 * k, 2000 * k,
      15000 * k, 150 * k)
    Map(
      "region" -> spark.range(5).toDF("id").select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).toDF("id").select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"),
        pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> rows(1500).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(id, 1, 25).cast("int").as("c_nationkey"),
        money(id, 2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> rows(100).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(id, 4, 25).cast("int").as("s_nationkey"),
        money(id, 5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> rows(2000).select(id.as("p_partkey"),
        concat_ws(" ",
          oneOf(id, 6, Seq("large", "hot", "blue", "old", "cold", "small",
            "red", "new")),
          oneOf(id, 7, Seq("ring", "bolt", "plate", "gear", "nut", "screw",
            "pipe", "valve"))).as("p_name"),
        concat(lit("Brand#"), pick(id, 8, 25) + 1).as("p_brand"),
        oneOf(id, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
          "STANDARD")).as("p_type"),
        (pick(id, 10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice")),
      "orders" -> rows(15000).select(id.as("o_orderkey"),
        pick(id, 11, customers).as("o_custkey"),
        oneOf(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
        money(id, 13, 1000.0, 500000.0).as("o_totalprice"),
        day("1995-01-01", id, 14, 2404).as("o_orderdate"),
        oneOf(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> {
        val qty = (pick(id, 19, 50) + 1).cast("double")
        rows(60000).select(pick(id, 16, orders).as("l_orderkey"),
          pick(id, 17, parts).as("l_partkey"),
          pick(id, 18, suppliers).as("l_suppkey"),
          (pick(id, 20, 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * money(id, 21, 900.0, 5000.0), 2).as("l_extendedprice"),
          (pick(id, 22, 11) / 100.0).as("l_discount"),
          (pick(id, 23, 9) / 100.0).as("l_tax"),
          oneOf(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
          oneOf(id, 25, Seq("F", "O")).as("l_linestatus"),
          day("1995-01-02", id, 26, 2498).as("l_shipdate"))
      },
      // ts strictly increases with event_id across January 2024
      "events" -> rows(10000).select(id.as("event_id"),
        timestamp_micros((lit(1704067200000000L) +
          ((id.cast("double") + u(id, 27) * 0.9) * (2.592e12 / (10000 * k)))).cast("long"))
          .as("ts"),
        pick(id, 28, users).as("user_id"),
        oneOf(id, 29, Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        round(u(id, 30) * u(id, 31) * 560.0, 2).as("value"),
        format_string("{\"k\": %d}", pick(id, 32, 100)).as("props")),
      "documents" -> {
        // 10 to 100 words from a small vocabulary; every 125th document
        // repeats an earlier one exactly, so exact-dedup has work to do
        val src = when(pmod(id, lit(125L)) === 124, id - 61).otherwise(id)
        val words = transform(sequence(lit(1L), pick(src, 33, 91) + 10),
          i => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(src, i, lit(34)), lit(Vocab.size.toLong)) + 1).cast("int")))
        rows(500).select(id.as("doc_id"), array_join(words, " ").as("text"),
          when(u(id, 35) < 0.41, "en").otherwise(
            oneOf(id, 36, Seq("de", "es", "fr", "zh"))).as("lang"),
          concat(lit("src"), pmod(id, lit(20L))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        // 64 Box-Muller normals per row, scaled to unit length
        val g = transform(sequence(lit(0L), lit(63L)), i =>
          sqrt(log(lit(1.0) - u(xxhash64(id, i), 37)) * -2.0) *
            cos(u(xxhash64(id, i), 38) * (2 * math.Pi)))
        rows(200).select(id.as("vec_id"), g.as("g"),
          pick(id, 39, 10).cast("int").as("label"))
          .select(col("vec_id"),
            transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
              (acc, y) => acc + y * y))).cast("float")).as("embedding"),
            col("label"))
      })
  }

  /** Write every table of every scale as the single file
    * `<dir>/<scale>/<table>.parquet`. */
  def generate(spark: SparkSession, dir: String): Unit =
    for ((scale, k) <- Scales; (name, df) <- tables(spark, k)) {
      val tmp = Paths.get(s"$dir/_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
      Files.createDirectories(Paths.get(s"$dir/$scale"))
      try Files.move(part.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get, Paths.get(s"$dir/$scale/$name.parquet"))
      finally part.close()
      Files.list(tmp).forEach(Files.delete(_))
      Files.delete(tmp)
    }

  /** Copy generated tables into a run's data directory. */
  def stage(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    val files = Files.list(Paths.get(from))
    try files.filter(_.getFileName.toString.endsWith(".parquet")).forEach(f =>
      Files.copy(f, Paths.get(to).resolve(f.getFileName)))
    finally files.close()
  }
}
