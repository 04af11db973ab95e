package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the schemas and value ranges of the
  * graft test tables (TPC-H-like star schema, an `events` stream,
  * `documents` and `embeddings`). Every value is a pure function of
  * (seed, row id, salt) through xxhash64, so the same seed gives the
  * same tables under any partitioning. */
object Gen {

  /** Row counts of one generated table set. `tpch` is the TPC-H scale
    * factor (lineitem = 6M × tpch rows). */
  final case class Scale(tpch: Double, docs: Int, embeddings: Int, events: Int)

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Seed of the base tables and documents. They stand for one fixed
    * data set, as the graft test tables do; a run's seed picks only
    * what varies between runs (amplification rotations, query order,
    * drops and lookup keys), so runs with different seeds time the
    * same work. */
  val TableSeed = 1L

  private val Modulus = 1000000007L

  private def h(seed: Long, id: Column, salt: Column): Column = xxhash64(lit(seed), id, salt)

  /** Uniform integer in [0, n). */
  def ui(seed: Long, id: Column, salt: Int, n: Long): Column = pmod(h(seed, id, lit(salt)), lit(n))

  /** Uniform double in (0, 1]. */
  def u(seed: Long, id: Column, salt: Int): Column =
    (pmod(h(seed, id, lit(salt)), lit(Modulus)) + 1).cast("double") / Modulus.toDouble

  private def pick(seed: Long, id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (ui(seed, id, salt, values.size) + 1).cast("int"))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, math.max(1, math.min(16, (n / 50000).toInt + 1))).toDF()

  /** Whitespace text of 10–100 tokens drawn from [[Vocab]]. */
  def docText(seed: Long, id: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val n = (lit(10) + ui(seed, id, 1, 91)).cast("int")
    array_join(transform(sequence(lit(1), n), i =>
      element_at(vocab, (pmod(h(seed, id, i + 100), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
  }

  /** Documents: 5% are an earlier document plus a trailing " dup"
    * (near duplicates), 0.2% repeat an earlier document exactly. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val kind = u(seed, id, 2)
    val earlier = pmod(h(seed, id, lit(3)), greatest(id, lit(1L)))
    val text = when(id > 0 && kind <= 0.05, concat(docText(seed, earlier), lit(" dup")))
      .when(id > 0 && kind <= 0.052, docText(seed, earlier))
      .otherwise(docText(seed, id))
    rows(spark, n).select(
      id.as("doc_id"),
      text.as("text"),
      when(u(seed, id, 4) <= 0.41, lit("en"))
        .otherwise(pick(seed, id, 5, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dimensional unit vectors with gaussian components, labels 0–9. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("vec_id")
    val g = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * ln(pmod(h(seed, id, j * 2 + 1000), lit(Modulus)).plus(1).cast("double") / Modulus)) *
        cos(lit(2 * math.Pi) * pmod(h(seed, id, j * 2 + 1001), lit(Modulus)).cast("double") / Modulus))
    rows(spark, n).select(col("id").as("vec_id"))
      .withColumn("__g", g)
      .withColumn("__norm", sqrt(aggregate(col("__g"), lit(0.0), (a, x) => a + x * x)))
      .select(id, transform(col("__g"), x => (x / col("__norm")).cast("float")).as("embedding"),
        ui(seed, id, 9, 10).cast("int").as("label"))
  }

  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val users = math.max(15L, n / 66)
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val span = 30L * 86400L * 1000000L
    rows(spark, n).select(
      id.as("event_id"),
      timestamp_micros(lit(start) + (u(seed, id, 20) * span).cast("long")).as("ts"),
      ui(seed, id, 21, users).as("user_id"),
      pick(seed, id, 22, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      (ui(seed, id, 23, 56022) / 100.0).as("value"),
      concat(lit("{\"k\": "), ui(seed, id, 24, 100).cast("string"), lit("}")).as("props"))
  }

  private def dateTs(seed: Long, id: Column, salt: Int, first: String, days: Int): Column =
    date_add(lit(first).cast("date"), ui(seed, id, salt, days).cast("int")).cast("timestamp")

  private def money(seed: Long, id: Column, salt: Int, lo: Long, hiCents: Long): Column =
    ((ui(seed, id, salt, hiCents) + lo * 100) / 100.0)

  private def tpch(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    import spark.implicits._
    val id = col("id")
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val (nCust, nSupp, nPart, nOrd, nLine) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000))
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (nm, i) => (i, nm) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = rows(spark, nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(seed, id, 30, 25).cast("int").as("c_nationkey"),
      money(seed, id, 31, -1000, 1099999).as("c_acctbal"),
      pick(seed, id, 32, Seq("BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE"))
        .as("c_mktsegment"))
    val supplier = rows(spark, nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(seed, id, 33, 25).cast("int").as("s_nationkey"),
      money(seed, id, 34, -1000, 1099999).as("s_acctbal"))
    val part = rows(spark, nPart).select(id.as("p_partkey"),
      concat(pick(seed, id, 35, Seq("small", "red", "blue", "hot", "green", "large", "cold", "old")),
        lit(" "), pick(seed, id, 36, Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")))
        .as("p_name"),
      concat(lit("Brand#"), (ui(seed, id, 37, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, id, 38, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ui(seed, id, 39, 50) + 1).cast("int").as("p_size"),
      ((pmod(id, lit(1000L)) + 9000) / 10.0).as("p_retailprice"))
    val orders = rows(spark, nOrd).select(id.as("o_orderkey"),
      ui(seed, id, 40, nCust).as("o_custkey"),
      pick(seed, id, 41, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, id, 42, 1000, 49900000).as("o_totalprice"),
      dateTs(seed, id, 43, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, id, 44, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = rows(spark, nLine).select(
      ui(seed, id, 50, nOrd).as("l_orderkey"),
      ui(seed, id, 51, nPart).as("l_partkey"),
      ui(seed, id, 52, nSupp).as("l_suppkey"),
      (ui(seed, id, 53, 7) + 1).cast("int").as("l_linenumber"),
      (ui(seed, id, 54, 50) + 1).cast("double").as("l_quantity"),
      money(seed, id, 55, 900, 10410000).as("l_extendedprice"),
      (ui(seed, id, 56, 11) / 100.0).as("l_discount"),
      (ui(seed, id, 57, 9) / 100.0).as("l_tax"),
      pick(seed, id, 58, Seq("R", "A", "N")).as("l_returnflag"),
      pick(seed, id, 59, Seq("O", "F")).as("l_linestatus"),
      dateTs(seed, id, 60, "1995-01-02", 2498).as("l_shipdate"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem)
  }

  /** Write every table as `dir/<name>.parquet` (one file each, the
    * layout the `graft.sources.Tables` loaders read). */
  def writeTables(spark: SparkSession, dir: String, seed: Long, scale: Scale): Unit = {
    val all = tpch(spark, seed, scale.tpch) ++ Map(
      "events" -> events(spark, seed, scale.events),
      "documents" -> documents(spark, seed, scale.docs),
      "embeddings" -> embeddings(spark, seed, scale.embeddings))
    all.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** Rotate an array column left by k (identity when k ≥ its length). */
  private def rot(a: Column, k: Int): Column =
    when(size(a) > k, concat(slice(a, lit(k + 1), size(a) - k), slice(a, lit(1), lit(k))))
      .otherwise(a)

  /** Seeded rotate-not-clone amplification: copy 0 is the input, copy
    * k ≥ 1 rotates every document's token sequence by a distinct,
    * seed-chosen offset and shifts its id by k × 10^7, so shingles are
    * new while lengths, vocabulary and per-document structure stay. */
  def amplify(docs: DataFrame, factor: Int, seed: Long): DataFrame = {
    val rotations = 0 +: new scala.util.Random(seed).shuffle((1 to 2 * factor).toVector)
      .take(factor - 1)
    rotations.zipWithIndex.map { case (r, k) =>
      docs.select(
        (col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
        array_join(rot(split(col("text"), " "), r), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
  }
}
