package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-ish tables with the column names and types the
  * query faces read (`graft.Tables`). Every value is a pure function of the
  * row id and a salt, through `xxhash64`, so the same `dataSeed` gives the
  * same rows at any parallelism. Scale 0.01 gives 60k lineitem rows.
  */
object DataGen {

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "merge", "batch", "spark", "the", "line",
    "sort", "window", "order", "data", "column", "join", "small", "customer",
    "query", "big", "stream", "group", "filter", "vector")

  /** Uniform integer in [0, n) for row `id` under `salt`. */
  def uint(id: Column, salt: Long, n: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))

  /** Uniform double in [0, 1) for row `id` under `salt`. */
  def unit(id: Column, salt: Long): Column =
    uint(id, salt, 1000000007L).cast("double") / lit(1000000007.0)

  private def pick(id: Column, salt: Long, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (uint(id, salt, xs.size.toLong) + 1).cast("int"))

  private def money(id: Column, salt: Long, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(id, salt) * lit(hi - lo), 2)

  /** Midnight timestamps, `days` days from `from` (no zone: TIMESTAMP_NTZ). */
  private def day(id: Column, salt: Long, from: String, days: Long): Column =
    date_add(to_date(lit(from)), uint(id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  def words(id: Column, salt: Long, lo: Int, hi: Int): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val n = lit(lo) + uint(id, salt, (hi - lo + 1).toLong)
    concat_ws(" ", transform(sequence(lit(1), n.cast("int")), k =>
      element_at(vocab, (pmod(xxhash64(id, k, lit(salt)), lit(Vocab.size.toLong)) + 1).cast("int"))))
  }

  /** Row id of the row that `id` copies: itself, or for one row in four
    * one of the nine rows before it. */
  private def base(id: Column, salt: Long): Column =
    when(uint(id, salt, 4) === 0 && id >= 10, id - 1 - uint(id, salt + 1, 9)).otherwise(id)

  /** lineitem rows for the row ids in `ids` (column `id`) of a table of
    * `rows` rows; order/part/supplier keys index the other tables at the
    * same scale. The `id` column is kept. */
  def lineitem(ids: DataFrame, rows: Long, seed: Long): DataFrame = {
    val id = col("id")
    val orders = math.max(1L, rows / 4); val parts = math.max(1L, rows / 30)
    val supps = math.max(1L, rows / 600)
    ids.select(id,
      uint(id, seed + 1, orders).as("l_orderkey"),
      uint(id, seed + 2, parts).as("l_partkey"),
      uint(id, seed + 3, supps).as("l_suppkey"),
      (uint(id, seed + 4, 7) + 1).cast("int").as("l_linenumber"),
      (uint(id, seed + 5, 50) + 1).cast("double").as("l_quantity"),
      money(id, seed + 6, 900.0, 105000.0).as("l_extendedprice"),
      (uint(id, seed + 7, 11).cast("double") / 100.0).as("l_discount"),
      (uint(id, seed + 8, 9).cast("double") / 100.0).as("l_tax"),
      pick(id, seed + 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, seed + 10, Seq("O", "F")).as("l_linestatus"),
      day(id, seed + 11, "1995-01-02", 2499).as("l_shipdate"))
  }

  /** All ten tables at scale `sf`, one parquet file each, as
    * `<dir>/<name>.parquet` — the layout `graft.Tables.load` reads. */
  def writeTables(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    val id = col("id")
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(regions.map(lit): _*), (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        uint(id, seed + 21, 25).cast("int").as("c_nationkey"),
        money(id, seed + 22, -999.99, 9999.99).as("c_acctbal"),
        pick(id, seed + 23, Seq("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"))
          .as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        uint(id, seed + 31, 25).cast("int").as("s_nationkey"),
        money(id, seed + 32, -999.99, 9999.99).as("s_acctbal")),
      "part" -> spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ",
          pick(id, seed + 41, Seq("blue", "hot", "small", "old", "red", "new", "cold", "big")),
          pick(id, seed + 42, Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")))
          .as("p_name"),
        concat(lit("Brand#"), uint(id, seed + 43, 25) + 1).as("p_brand"),
        pick(id, seed + 44, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
        (uint(id, seed + 45, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + uint(id, seed + 46, 1000).cast("double") / 10.0).as("p_retailprice")),
      "orders" -> spark.range(nOrd).select(id.as("o_orderkey"),
        uint(id, seed + 51, nCust).as("o_custkey"),
        pick(id, seed + 52, Seq("F", "P", "O")).as("o_orderstatus"),
        money(id, seed + 53, 1000.0, 500000.0).as("o_totalprice"),
        day(id, seed + 54, "1995-01-01", 2404).as("o_orderdate"),
        pick(id, seed + 55, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> lineitem(spark.range(nLine).toDF(), nLine, seed).drop("id"),
      "events" -> {
        // strictly increasing ts over 30 days: a fixed stride plus jitter
        // inside the stride keeps event order == time order
        val stride = 30L * 86400L * 1000000L / nEv
        spark.range(nEv).select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * lit(stride) + uint(id, seed + 61, stride))
            .cast("timestamp_ntz").as("ts"),
          uint(id, seed + 62, 150).as("user_id"),
          pick(id, seed + 63, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
          money(id, seed + 64, 0.01, 490.02).as("value"),
          format_string("{\"k\": %d}", uint(id, seed + 65, 100)).as("props"))
      },
      "documents" -> spark.range(nDoc).select(id.as("doc_id"),
        // a quarter of the documents copy an earlier one (exactly, or with
        // one word appended), so near-duplicate detection finds pairs
        concat_ws(" ", words(base(id, seed + 74), seed + 71, 8, 90),
          when(uint(id, seed + 76, 3) =!= 0, words(id, seed + 77, 1, 1))).as("text"),
        pick(id, seed + 72, Seq("en", "zh", "de", "fr", "es")).as("lang"),
        concat(lit("src"), uint(id, seed + 73, 20)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> spark.range(nDoc).select(id.as("vec_id"),
        transform(sequence(lit(1), lit(64)), k =>
          ((pmod(xxhash64(id, k, lit(seed + 81)), lit(2000001L)).cast("double") / 1e6 - 1.0) * 0.25)
            .cast("float")).as("embedding"),
        uint(id, seed + 82, 10).cast("int").as("label"))
    )
    Files.createDirectories(dir)
    tables.foreach { case (name, df) =>
      val tmp = dir.resolve(s".$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Util.deleteTree(tmp)
    }
  }
}
