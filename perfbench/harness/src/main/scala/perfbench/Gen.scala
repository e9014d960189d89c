package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the TPC-H-shaped tables the engine's
  * registry reads (same names, columns and types as the engine's
  * fixture tables). Every value is a pure function of (seed, row id):
  * the same seed and scale factor give the same tables, whatever the
  * partitioning. Timestamps are zone-less (TIMESTAMP_NTZ), as in the
  * fixtures. Scale factor 0.1 gives lineitem 600k rows, documents
  * 5k and embeddings 2k.
  */
object Gen {

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Counts(sf: Double) {
    private def n(base: Double, min: Long) = math.max(min, math.round(base * sf))
    val lineitem: Long = n(6000000, 1000)
    val orders: Long = n(1500000, 250)
    val customer: Long = n(150000, 25)
    val supplier: Long = n(10000, 5)
    val part: Long = n(200000, 40)
    val events: Long = n(1000000, 200)
    val users: Long = n(15000, 10)
    val documents: Long = n(50000, 60)
    val embeddings: Long = n(20000, 40)
  }

  /** Uniform double in [0, 1) from the row id, the seed and a per-column
    * salt.
    */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000000007L)).cast("double") /
      lit(1000000007.0)

  private def below(seed: Long, salt: Int, n: Long): Column =
    floor(u(seed, salt) * lit(n)).cast("long")

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (below(seed, salt, values.size) + 1).cast("int"))

  private def dayTs(start: String, seed: Long, salt: Int, days: Long): Column =
    date_add(lit(start).cast("date"), below(seed, salt, days).cast("int"))
      .cast("timestamp_ntz")

  def lineitem(spark: SparkSession, c: Counts, seed: Long, parts: Int): DataFrame = {
    val qty = (below(seed, 5, 50) + 1).cast("double")
    spark.range(0, c.lineitem, 1, parts).select(
      below(seed, 1, c.orders).as("l_orderkey"),
      below(seed, 2, c.part).as("l_partkey"),
      below(seed, 3, c.supplier).as("l_suppkey"),
      (below(seed, 4, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * ((below(seed, 6, 120000) + 90000).cast("double") / 100.0), 2)
        .as("l_extendedprice"),
      (below(seed, 7, 11).cast("double") / 100.0).as("l_discount"),
      (below(seed, 8, 9).cast("double") / 100.0).as("l_tax"),
      pick(seed, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 10, Seq("F", "O")).as("l_linestatus"),
      dayTs("1995-01-02", seed, 11, 2498).as("l_shipdate"))
  }

  def orders(spark: SparkSession, c: Counts, seed: Long, parts: Int): DataFrame =
    spark.range(0, c.orders, 1, parts).select(
      col("id").as("o_orderkey"),
      below(seed, 21, c.customer).as("o_custkey"),
      pick(seed, 22, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 23) * 499000.0, 2).as("o_totalprice"),
      dayTs("1995-01-01", seed, 24, 2404).as("o_orderdate"),
      pick(seed, 25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))

  def customer(spark: SparkSession, c: Counts, seed: Long): DataFrame =
    spark.range(0, c.customer, 1, 1).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(seed, 31, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 32) * 10999.98, 2).as("c_acctbal"),
      pick(seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))

  def supplier(spark: SparkSession, c: Counts, seed: Long): DataFrame =
    spark.range(0, c.supplier, 1, 1).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(seed, 41, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(seed, 42) * 10999.98, 2).as("s_acctbal"))

  def part(spark: SparkSession, c: Counts, seed: Long): DataFrame =
    spark.range(0, c.part, 1, 1).select(
      col("id").as("p_partkey"),
      concat(pick(seed, 51, Seq("small", "large", "red", "blue", "old", "new",
        "shiny", "green", "dark")), lit(" "),
        pick(seed, 52, Seq("widget", "gear", "rod", "plate", "ring", "anvil",
          "gizmo"))).as("p_name"),
      concat(lit("Brand#"), below(seed, 53, 25) + 1).as("p_brand"),
      pick(seed, 54, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (below(seed, 55, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10.0, 1)
        .as("p_retailprice"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))

  def region(spark: SparkSession): DataFrame =
    spark.range(0, 5, 1, 1).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def events(spark: SparkSession, c: Counts, seed: Long, parts: Int): DataFrame =
    spark.range(0, c.events, 1, parts).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        floor(u(seed, 61) * lit(30L * 86400L * 1000000L)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      below(seed, 62, c.users).as("user_id"),
      pick(seed, 63, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - u(seed, 64)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), below(seed, 65, 100), lit("}")).as("props"))

  /** Documents over a 30-word vocabulary, 10 to 100 words each. About 4%
    * are near-duplicates of an earlier document (its text plus one
    * token) and about 0.5% exact copies, so the dedup queries find work.
    */
  def documents(spark: SparkSession, c: Counts, seed: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1L), below(seed, 71, 91) + 10),
      i => element_at(vocab,
        (pmod(xxhash64(col("id"), lit(seed), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val base = spark.range(0, c.documents, 1, 1)
      .select(col("id"), concat_ws(" ", words).as("base"))
    val copyOf = when(col("id") >= 50 && u(seed, 72) < 0.045,
      col("id") - 1 - below(seed, 73, 49))
    val kind = when(u(seed, 74) < 0.1, lit("exact")).otherwise(lit("near"))
    base.select(col("id"), col("base"), copyOf.as("src"), kind.as("kind"))
      .join(base.select(col("id").as("src"), col("base").as("src_text")), Seq("src"), "left")
      .select(
        col("id").as("doc_id"),
        when(col("src_text").isNull, col("base"))
          .when(col("kind") === "exact", col("src_text"))
          .otherwise(concat(col("src_text"), lit(" dup"))).as("text"),
        when(u(seed, 75) < 0.41, lit("en"))
          .otherwise(pick(seed, 76, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(1).sortWithinPartitions("doc_id")
  }

  /** Unit-norm 64-dimensional float embeddings around ten label
    * centroids.
    */
  def embeddings(spark: SparkSession, c: Counts, seed: Long): DataFrame = {
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, j =>
      (pmod(xxhash64(col("label"), lit(seed), j, lit(81)), lit(1000003L)).cast("double") /
        lit(1000003.0) - 0.5) * 0.6 +
        pmod(xxhash64(col("id"), lit(seed), j, lit(82)), lit(1000003L)).cast("double") /
          lit(1000003.0) - 0.5)
    spark.range(0, c.embeddings, 1, 1)
      .select(col("id"), below(seed, 83, 10).cast("int").as("label"))
      .select(col("id"), col("label"), raw.as("raw"))
      .select(col("id"), col("label"), col("raw"),
        sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)).as("norm"))
      .select(
        col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
  }

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Write every table as `dir/<name>.parquet/`, the big ones split into
    * `parts` files so scans run in parallel. The tables are written all
    * at once: each write is a few small jobs, so the driver-side work of
    * one overlaps the tasks of another.
    */
  def writeAll(spark: SparkSession, dir: String, sf: Double, seed: Long,
      parts: Int, only: Set[String] = TableNames.toSet): Unit = {
    val c = Counts(sf)
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => region(spark)),
      "nation" -> (() => nation(spark)),
      "customer" -> (() => customer(spark, c, seed)),
      "supplier" -> (() => supplier(spark, c, seed)),
      "part" -> (() => part(spark, c, seed)),
      "orders" -> (() => orders(spark, c, seed, parts)),
      "lineitem" -> (() => lineitem(spark, c, seed, parts)),
      "events" -> (() => events(spark, c, seed, parts)),
      "documents" -> (() => documents(spark, c, seed)),
      "embeddings" -> (() => embeddings(spark, c, seed)))
    val chosen = tables.filter(t => only(t._1))
    Parallel.run(chosen.size)(chosen.map { case (name, df) =>
      () => df().write.mode("overwrite").parquet(s"$dir/$name.parquet")
    })
  }
}
