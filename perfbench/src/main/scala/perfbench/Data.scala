package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every value is a pure function of (seed, table, row
  * id), computed with `xxhash64`, so the same seed gives the same rows
  * regardless of partitioning. Money and feature values are whole
  * hundredths, so decimal sums are exact in both Spark and DuckDB.
  */
object Data {

  /** A deterministic non-negative pseudo-random long. */
  def h(seed: Long, salt: String, cols: Column*): Column =
    abs(xxhash64(lit(seed) +: lit(salt) +: cols: _*) % lit(Long.MaxValue))

  def pick(seed: Long, salt: String, id: Column, n: Long): Column = pmod(h(seed, salt, id), lit(n))

  def cents(seed: Long, salt: String, id: Column, lo: Long, hi: Long): Column =
    (pick(seed, salt, id, hi - lo + 1) + lit(lo)) / lit(100.0)

  def oneOf(seed: Long, salt: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pick(seed, salt, id, values.size.toLong) + 1).cast("int"))

  private val words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "join",
    "small", "big", "customer", "query", "order", "data", "column", "group", "filter",
    "stream", "vector", "dup")

  /** The ten TPC-H-shaped tables the gate queries read, with the column
    * types of the engine's fixture tables. Row counts follow `sf` as
    * TPC-H does.
    */
  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    def ids(rows: Long) = spark.range(rows).toDF("id")
    val id = col("id")
    def ntzDay(start: String, days: Column) = date_add(lit(start).cast("date"), days.cast("int"))
      .cast("timestamp_ntz")

    Seq(
      "region" -> ids(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> ids(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> ids(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(seed, "c_nation", id, 25).cast("int").as("c_nationkey"),
        cents(seed, "c_acctbal", id, -99999, 999999).as("c_acctbal"),
        oneOf(seed, "c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> ids(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(seed, "s_nation", id, 25).cast("int").as("s_nationkey"),
        cents(seed, "s_acctbal", id, -99999, 999999).as("s_acctbal")),
      "part" -> ids(nPart).select(id.as("p_partkey"),
        concat_ws(" ",
          oneOf(seed, "p_adj", id, Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")),
          oneOf(seed, "p_noun", id, Seq("ring", "widget", "bolt", "plate", "gear", "nut"))).as("p_name"),
        concat(lit("Brand#"), (pick(seed, "p_brand", id, 25) + 1).cast("string")).as("p_brand"),
        oneOf(seed, "p_type", id, Seq("ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO"))
          .as("p_type"),
        (pick(seed, "p_size", id, 50) + 1).cast("int").as("p_size"),
        (lit(90000) + id % 1000 * 10) / lit(100.0) as "p_retailprice"),
      "orders" -> ids(nOrd).select(id.as("o_orderkey"),
        pick(seed, "o_cust", id, nCust).as("o_custkey"),
        oneOf(seed, "o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
        cents(seed, "o_price", id, 100000, 50000000).as("o_totalprice"),
        ntzDay("1995-01-01", pick(seed, "o_date", id, 2404)).as("o_orderdate"),
        oneOf(seed, "o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> ids(nOrd * 4).select(pick(seed, "l_order", id, nOrd).as("l_orderkey"),
        pick(seed, "l_part", id, nPart).as("l_partkey"),
        pick(seed, "l_supp", id, nSupp).as("l_suppkey"),
        (pick(seed, "l_line", id, 7) + 1).cast("int").as("l_linenumber"),
        (pick(seed, "l_qty", id, 50) + 1).cast("double").as("l_quantity"),
        cents(seed, "l_price", id, 100000, 10000000).as("l_extendedprice"),
        cents(seed, "l_disc", id, 0, 10).as("l_discount"),
        cents(seed, "l_tax", id, 0, 8).as("l_tax"),
        oneOf(seed, "l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(seed, "l_ls", id, Seq("O", "F")).as("l_linestatus"),
        ntzDay("1995-01-02", pick(seed, "l_ship", id, 2498)).as("l_shipdate")),
      "events" -> ids(n(1000000)).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + id * lit(2592000000000L / n(1000000)) +
          pick(seed, "e_jit", id, 1000000)).cast("timestamp_ntz").as("ts"),
        pick(seed, "e_user", id, 1500).as("user_id"),
        oneOf(seed, "e_type", id, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        cents(seed, "e_value", id, 0, 56021).as("value"),
        format_string("{\"k\": %d}", pick(seed, "e_k", id, 100)).as("props")),
      "documents" -> ids(n(50000)).select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (pick(seed, "d_len", id, 60) + 20).cast("int")),
          i => element_at(array(words.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit("d_word"), id, i), lit(words.size.toLong)) + 1).cast("int"))))
          .as("text"),
        lit("en").as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> ids(math.max(500L, n(20000))).select(id.as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(xxhash64(lit(seed), lit("v"), id, j), lit(60001L)) - 30000) / lit(120000.0))
            .cast("float")).as("embedding"),
        pick(seed, "v_label", id, 10).cast("int").as("label")))
  }

  /** [[tables]] as one parquet file each, `<dir>/<table>.parquet`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    tables(spark, sf, seed).foreach { case (name, df) => writeSingleFile(df, s"$dir/$name.parquet") }

  /** Write `df` as exactly one parquet file at `path` (DuckDB reads a
    * file path, Spark reads either).
    */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = s"$path.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).getOrElse(sys.error(s"no parquet part written under $tmp"))
    if (!part.renameTo(new File(path))) sys.error(s"rename $part -> $path failed")
    deleteRecursively(new File(tmp))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeBytes).sum).getOrElse(0L)
    else f.length()

  /** Order-independent content digest: row count and the exact sum of a
    * 64-bit hash over the columns in name order.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
