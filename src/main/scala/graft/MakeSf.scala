package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-fixture generator for scale factors the driver does not ship:
  * emits ALL TEN tables (TESTDATA.md / FIXTURES.md schemas) at a
  * multiplier relative to the sf0.1 shape, so the complete 257-gate
  * verify can run at sf1.0 (multiplier 10) and beyond. The driver's own
  * generator is not available; this one mirrors the OBSERVED sf0.1
  * contract — schemas (FixtureProbe-conformant, timestamps written NTZ
  * like the driver's parquet), key ranges, value ranges/granularity
  * (2-dp money, 0.01-step discount/tax, exact `l_extendedprice =
  * l_quantity · p_retailprice`, `p_retailprice = 900 + (p_partkey %
  * 1000)/10`), date spans (orders 1995‥2001-08, shipdate 1995‥2001-11,
  * events Jan 2024 — so the engine's fixed sync cutoffs land inside
  * the data at any multiplier), and category mixes (⅓ orderstatus, 5
  * event types, ~41% en documents). Correctness gates compare Spark vs
  * DuckDB ON THE SAME fixture, so what matters is contract fidelity,
  * not byte equality with the driver files.
  *
  * Generation is expression-level over `spark.range` (xxhash64-seeded,
  * the [[MakeScaleFixture]] discipline): distributed, deterministic,
  * no driver-side rows. documents/embeddings delegate to
  * [[MakeScaleFixture]].
  *
  * Usage: `runMain graft.MakeSf <outDir> <multiplier>` — multiplier 1
  * ≙ sf0.1 row counts (600 k lineitem), 10 ≙ sf1.0 (6 M lineitem).
  */
object MakeSf {

  private def h(cols: Column*): Column = xxhash64(cols: _*)

  /** Uniform pick in [0, n) from (id, tag). */
  private def pick(id: Column, tag: Int, n: Long): Column =
    pmod(h(id, lit(tag)), lit(n))

  /** 2-dp money value in [lo, lo + spanCents/100). */
  private def money(id: Column, tag: Int, lo: Double, spanCents: Long): Column =
    round(pick(id, tag, spanCents).cast("double") / 100.0 + lo, 2)

  private def oneOf(id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      pick(id, tag, values.size.toLong).cast("int") + 1)

  /** Midnight NTZ timestamp `1995-01-01 + [0, spanDays)` days-ish. */
  private def dayTs(id: Column, tag: Int, startDate: String,
                    spanDays: Long): Column =
    date_add(to_date(lit(startDate)), pick(id, tag, spanDays).cast("int"))
      .cast("timestamp_ntz")

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(col("id"), 1, 25).cast("int").as("c_nationkey"),
      money(col("id"), 2, -1000.0, 1100000L).as("c_acctbal"),
      oneOf(col("id"), 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(col("id"), 4, 25).cast("int").as("s_nationkey"),
      money(col("id"), 5, -1000.0, 1100000L).as("s_acctbal"))

  private val Adjs = Seq("blue", "cold", "green", "hot", "large", "red",
    "shiny", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
    "rod", "widget")

  def part(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("p_partkey"),
      concat(oneOf(col("id"), 6, Adjs), lit(" "),
        oneOf(col("id"), 7, Nouns)).as("p_name"),
      concat(lit("Brand#"), pick(col("id"), 8, 25)).as("p_brand"),
      oneOf(col("id"), 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")).as("p_type"),
      (pick(col("id"), 10, 50) + 1).cast("int").as("p_size"),
      round(pmod(col("id"), lit(1000)).cast("double") / 10.0 + 900.0, 1)
        .as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    spark.range(n).select(col("id").as("o_orderkey"),
      pick(col("id"), 11, nCust).as("o_custkey"),
      oneOf(col("id"), 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(col("id"), 13, 1000.0, 49900000L).as("o_totalprice"),
      dayTs(col("id"), 14, "1995-01-01", 2405L).as("o_orderdate"),
      oneOf(col("id"), 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nParts: Long,
               nSupps: Long): DataFrame = {
    val id = col("id")
    val partkey = pick(id, 17, nParts)
    val quantity = (pick(id, 19, 50) + 1).cast("double")
    val retail = round(pmod(partkey, lit(1000)).cast("double") / 10.0 + 900.0, 1)
    spark.range(n).select(id.as("l_orderkey_src"),
        pick(id, 16, nOrders).as("l_orderkey"),
        partkey.as("l_partkey"),
        pick(id, 18, nSupps).as("l_suppkey"),
        (pick(id, 20, 7) + 1).cast("int").as("l_linenumber"),
        quantity.as("l_quantity"),
        round(quantity * retail, 2).as("l_extendedprice"),
        (pick(id, 21, 11).cast("double") / 100.0).as("l_discount"),
        (pick(id, 22, 9).cast("double") / 100.0).as("l_tax"),
        oneOf(id, 23, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(id, 24, Seq("F", "O")).as("l_linestatus"),
        dayTs(id, 25, "1995-01-02", 2500L).as("l_shipdate"))
      .drop("l_orderkey_src")
  }

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val id = col("id")
    // value ~ Exp(mean 50), 2 dp — the observed regime (median ≈ 34.7)
    val u = (pick(id, 28, 1000000L).cast("double") + 0.5) / 1000000.0
    spark.range(n).select(id.as("event_id"),
      // Jan 2024, ms-grained, written NTZ like the driver fixture
      timestamp_millis(lit(1704067200000L) + pick(id, 26, 2592000000L))
        .cast("timestamp_ntz").as("ts"),
      pick(id, 27, nUsers).as("user_id"),
      oneOf(id, 29, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log(u) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(id, 30, 100)).as("props"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MakeSf <outDir> <multiplier>")
    val outDir = args(0)
    val m = args(1).toLong
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    w(region(spark), "region")
    w(nation(spark), "nation")
    w(customer(spark, 15000L * m), "customer")
    w(supplier(spark, 1000L * m), "supplier")
    w(part(spark, 20000L * m), "part")
    w(orders(spark, 150000L * m, nCust = 15000L * m), "orders")
    w(lineitem(spark, 600000L * m, nOrders = 150000L * m,
      nParts = 20000L * m, nSupps = 1000L * m), "lineitem")
    w(events(spark, 100000L * m, nUsers = 1500L * m), "events")
    w(MakeScaleFixture.documents(spark, 5000L * m), "documents")
    w(MakeScaleFixture.embeddings(spark, 2000L * m), "embeddings")
    val ok = FixtureProbe.report(spark, outDir)
    println(s"""{"outDir":"$outDir","multiplier":$m,"lineitem":${600000L * m},"contract_ok":$ok}""")
    spark.stop()
  }
}
