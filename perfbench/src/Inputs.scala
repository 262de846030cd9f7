package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input tables for the query workloads, written as
  * parquet under a directory with the layout `SparkEntry.queries`
  * reads (`<dir>/<table>.parquet`). Every value is a pure function of
  * the row id and a fixed salt, so the tables — and with them the
  * expected result digests — are identical on every run, at any
  * partition count. Schemas, value ranges and distributions follow the
  * star-schema tables the engine's correctness gate and `graft.Bench`
  * read (documents, embeddings, events, lineitem, orders, customer,
  * nation; see README.md for the measured comparison); row counts scale
  * linearly with `sf`, as theirs do. */
object Inputs {

  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  /** Uniform long in [0, m) from (row id, salt). */
  private def u(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(m))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(id, salt, values.size) + 1).cast("int"))

  /** Uniform double in [0, 1) from (row id, salt). */
  private def unit(id: Column, salt: Int): Column =
    u(id, salt, 1L << 40) / (1L << 40).toDouble

  private def micros(epochSec: Long, id: Column, salt: Int, spanSec: Long): Column =
    timestamp_micros(lit(epochSec * 1000000L) + u(id, salt, spanSec * 1000000L))

  /** Midnight of a uniform day in [epochSec, epochSec + days). */
  private def day(epochSec: Long, id: Column, salt: Int, days: Long): Column =
    timestamp_seconds(lit(epochSec) + u(id, salt, days) * 86400L)

  private def word(seed: Column*): Column =
    element_at(array(Vocab.map(lit): _*),
      (pmod(xxhash64(seed: _*), lit(Vocab.size.toLong)) + 1).cast("int"))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, math.min(8L, n / 20000 + 1).toInt).toDF()

  /** Row counts per table at scale factor `sf`. */
  def sizes(sf: Double): Map[String, Long] = Map(
    "documents" -> 50000, "embeddings" -> 20000, "events" -> 1000000,
    "lineitem" -> 6000000, "orders" -> 1500000, "customer" -> 150000)
    .map { case (t, n) => t -> math.max(50L, (n * sf).round) } + ("nation" -> 25L)

  def tables(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    val n = sizes(sf)
    val id = col("id")
    // 10 to 99 words drawn uniformly; one doc in 20 is a near
    // duplicate: the text of a uniformly chosen other doc plus " dup".
    // Duplicates are made in id order, so copying an earlier duplicate
    // copies its " dup" too
    val nDocs = n("documents")
    def isDup(x: Column) = u(x, 31, 20) === 0
    def srcOf(x: Column) = {
      val s = pmod(xxhash64(x, lit(32)), lit(nDocs - 1))
      when(s >= x, s + 1).otherwise(s)
    }
    val s1 = srcOf(id)
    val chained = isDup(s1) && s1 < id
    val root = when(!isDup(id), id).when(!chained, s1).otherwise(srcOf(s1))
    val tails = when(!isDup(id), 0).when(!chained, 1).otherwise(2)
    val words = transform(sequence(lit(1), (u(root, 1, 90) + 10).cast("int")),
      i => word(root, i, lit(2)))
    val documents = rows(spark, n("documents")).select(
      id.as("doc_id"), concat_ws(" ", words, array_repeat(lit("dup"), tails)).as("text"),
      pick(id, 3, Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++ Seq.fill(3)("de") ++
        Seq.fill(3)("fr") ++ Seq.fill(3)("es")).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // 64 independent N(0, 0.125) components (Box-Muller); the label
    // carries no cluster structure
    val embeddings = rows(spark, n("embeddings")).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (sqrt(log(lit(1.0) - unit(xxhash64(id, j), 5)) * -2.0) *
          cos(unit(xxhash64(id, j), 6) * (2 * math.Pi)) * 0.125).cast("float"))
        .as("embedding"),
      u(id, 4, 10).cast("int").as("label"))

    val events = rows(spark, n("events")).select(
      id.as("event_id"), micros(1704067200L, id, 7, 30L * 86400).as("ts"),
      u(id, 8, math.max(10L, n("customer") / 10)).as("user_id"),
      pick(id, 9, Seq("view", "click", "error", "signup", "purchase")).as("event_type"),
      round(log(lit(1.0) - unit(id, 10)) * -50.0, 2).as("value"),
      concat(lit("{\"k\": "), u(id, 11, 100), lit("}")).as("props"))

    val lineitem = rows(spark, n("lineitem")).select(
      u(id, 13, n("orders")).as("l_orderkey"),
      u(id, 14, math.max(1L, n("lineitem") / 30)).as("l_partkey"),
      u(id, 15, math.max(1L, n("lineitem") / 600)).as("l_suppkey"),
      (u(id, 16, 7) + 1).cast("int").as("l_linenumber"),
      (u(id, 12, 50) + 1).cast("double").as("l_quantity"),
      ((u(id, 17, 10410000) + 90000) / 100.0).as("l_extendedprice"),
      (u(id, 18, 11) / 100.0).as("l_discount"),
      (u(id, 19, 9) / 100.0).as("l_tax"),
      pick(id, 20, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 21, Seq("O", "F")).as("l_linestatus"),
      day(788918400L + 86400, id, 22, 2499).as("l_shipdate"))

    val orders = rows(spark, n("orders")).select(
      id.as("o_orderkey"), u(id, 23, n("customer")).as("o_custkey"),
      pick(id, 24, Seq("O", "F", "P")).as("o_orderstatus"),
      ((u(id, 25, 49900000) + 100000) / 100.0).as("o_totalprice"),
      day(788918400L, id, 26, 2404).as("o_orderdate"),
      pick(id, 27, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))

    val customer = rows(spark, n("customer")).select(
      id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
      u(id, 28, 25).cast("int").as("c_nationkey"),
      ((u(id, 29, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(id, 30, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))

    val nation = rows(spark, 25).select(
      id.cast("int").as("n_nationkey"), concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))

    Map("documents" -> documents, "embeddings" -> embeddings, "events" -> events,
      "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
      "nation" -> nation)
  }

  /** Write the named tables under `dir` (one parquet file each). */
  def write(spark: SparkSession, sf: Double, dir: String, names: Seq[String]): Unit = {
    val all = tables(spark, sf)
    names.foreach(n => all(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
  }
}
