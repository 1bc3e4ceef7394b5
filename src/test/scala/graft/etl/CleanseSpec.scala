package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Unit tests for cleansing recodes (E1-E12) on the reconstructed telco
  * fixture (FIXTURES.md §A), covering the NULL edges called out in
  * SURVEY.md §7.5: E2 NULL fallthrough, blank→NULL cast, three-valued
  * boolean recode.
  */
class CleanseSpec extends SparkSpec {
  import spark.implicits._

  test("flagToBoolean: ==1 / =='Yes' recodes with NULL passthrough") {
    val df = Seq[(java.lang.Integer, String)]((1, "Yes"), (0, "No"), (null, null))
      .toDF("senior", "partner")
      .select(
        Cleanse.flagToBoolean(col("senior"), 1).as("senior"),
        Cleanse.flagToBoolean(col("partner"), "Yes").as("partner"))
    assert(df.collect().toSeq == Seq(
      Row(true, true), Row(false, false), Row(null, null)))
  }

  test("recode: multi-arm CASE WHEN with NULL fallthrough (setup.py:214-217)") {
    val df = Seq("Month-to-month", "One year", "Two year", "Surprise", null)
      .toDF("contract")
      .select(Cleanse.recode(col("contract"),
        Seq("Month-to-month" -> 1, "One year" -> 12, "Two year" -> 24)).as("months"))
    assert(df.collect().map(_.get(0)).toSeq == Seq(1, 12, 24, null, null))
  }

  test("blankToNullDouble: trim/length/cast chain (setup.py:219-221)") {
    val df = Seq("123.45", "  ", "", " 7.5 ", "1e2").toDF("tc")
      .select(Cleanse.blankToNullDouble(col("tc")).as("tc"))
    assert(df.collect().map(_.get(0)).toSeq == Seq(123.45, null, null, 7.5, 100.0))
  }

  test("blankToNullDouble: dirty non-numeric values → NULL, not ANSI crash") {
    val df = Seq("N/A", "1,234", "abc", "12.5").toDF("tc")
      .select(Cleanse.blankToNullDouble(col("tc")).as("tc"))
    assert(df.collect().map(_.get(0)).toSeq == Seq(null, null, null, 12.5))
  }

  test("full telco cleanse on a literal fixture") {
    val raw = Seq(
      // customerID, SeniorCitizen, Partner, Dependents, PhoneService,
      // PaperlessBilling, Churn, Contract, TotalCharges
      ("c1", 1, "Yes", "No", "Yes", "No", "Yes", "Month-to-month", "108.15"),
      ("c2", 0, "No", "No", "No", "Yes", "No", "Two year", " "),
      ("c3", 0, "Yes", "Yes", "Yes", "Yes", "No", "UNKNOWN", "151.65"))
      .toDF("customerID", "SeniorCitizen", "Partner", "Dependents",
        "PhoneService", "PaperlessBilling", "Churn", "Contract", "TotalCharges")
    val got = Cleanse.telco(raw).orderBy("customerID").collect().toSeq
    assert(got == Seq(
      Row("c1", true, true, false, true, false, true, 1, 108.15),
      Row("c2", false, false, false, false, true, false, 24, null),
      Row("c3", false, true, true, true, true, false, null, 151.65)))
  }

  test("numOptionalServices: U1 as expression, NULL counts 0, range [0,6]") {
    val cols = Features.optionalServiceCols
    val mk = (vals: Seq[String]) => Row.fromSeq("k" +: vals)
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("customerID", StringType) +:
      cols.map(c => StructField(c, StringType)))
    val rows = java.util.Arrays.asList(
      mk(Seq("Yes", "Yes", "Yes", "Yes", "Yes", "Yes")),
      mk(Seq("No", "No internet service", "No", "No", "No", "No")),
      mk(Seq("Yes", null, "No", "Yes", null, "No")))
    val df = spark.createDataFrame(rows, schema)
      .select(Features.numOptionalServices(cols).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(6, 0, 2))
  }

  test("readCsv: header + schema inference (S1, setup.py:206)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv-").toFile
    val f = new java.io.File(dir, "telco.csv")
    java.nio.file.Files.writeString(f.toPath,
      "customerID,SeniorCitizen,MonthlyCharges,TotalCharges\nc1,1,29.85,29.85\nc2,0,56.95,\n")
    val df = Cleanse.readCsv(spark, f.getPath)
    assert(df.columns.toSeq == Seq("customerID", "SeniorCitizen", "MonthlyCharges", "TotalCharges"))
    assert(df.schema("SeniorCitizen").dataType.typeName == "integer")
    assert(df.schema("MonthlyCharges").dataType.typeName == "double")
    assert(df.count() == 2)
  }

  test("hashSplit: deterministic, disjoint, covering, ~proportional") {
    val df = graft.Tables.load(spark, sfDir, "customer")
    val (train, test) = Splits.hashSplit(df, "c_custkey", 80)
    val (tr, te) = (train.select("c_custkey").as[Long].collect().toSet,
      test.select("c_custkey").as[Long].collect().toSet)
    val all = df.select("c_custkey").as[Long].collect().toSet
    assert(tr.intersect(te).isEmpty)
    assert(tr.union(te) == all)
    assert(tr.size > all.size / 2 && tr.size < all.size) // ~80%, both non-empty
    // deterministic across invocations
    val (train2, _) = Splits.hashSplit(df, "c_custkey", 80)
    assert(train2.select("c_custkey").as[Long].collect().toSet == tr)
    // stratified: every stratum split in both directions when large
    val (st, se) = Splits.stratifiedHashSplit(df, "c_custkey", "c_mktsegment", 80)
    val perSeg = st.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSegTest = se.groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSeg.keySet == perSegTest.keySet)
  }

  test("summary() parity: built-in summary matches exact aggregates") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    val s = li.select("l_quantity").summary("count", "mean", "min", "max")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exact = li.agg(
      count(col("l_quantity")).cast("string").as("count"),
      avg(col("l_quantity")).as("mean"),
      min(col("l_quantity")).as("min"),
      max(col("l_quantity")).as("max")).collect()(0)
    assert(s("count") == exact.getString(0))
    assert(math.abs(s("mean").toDouble - exact.getDouble(1)) < 1e-6)
    assert(s("min").toDouble == exact.getDouble(2))
    assert(s("max").toDouble == exact.getDouble(3))
  }

  test("service features: dynamic projection excludes label + demographics") {
    val raw = Seq(("c1", "F", "x", 1.0, "Yes"))
      .toDF("customerID", "gender", "InternetService", "TotalCharges", "Churn")
    val got = Features.computeServiceFeatures(raw)
    assert(got.columns.toSeq == Seq("customerID", "InternetService", "TotalCharges"))
  }

  test("readJsonLines: hard-case strings round-trip byte-exactly (r12)") {
    // newline, tab, quotes, backslash, unicode incl. an astral pair,
    // NULL, and empty — the escapes the q196 gate's fixture may never
    // exercise
    val rows = Seq(
      (1L, "line one\nline two"), (2L, "tab\there \"quoted\" back\\slash"),
      (3L, "汉字 émoji 😃 ok"), (4L, null.asInstanceOf[String]),
      (5L, ""), (6L, "control\u0001char"))
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-rt-").toString
    rows.toDF("id", "text").write.mode("overwrite").json(dir)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    val back = Cleanse.readJsonLines(spark, dir, Some(schema))
      .as[(Long, String)].collect().toMap
    // the JSON writer drops NULL fields; the reader restores them as NULL
    assert(back === rows.toMap)
    // inference fallback parses the same content
    val inferred = Cleanse.readJsonLines(spark, dir)
      .select(col("id").cast("long"), col("text"))
      .as[(Long, String)].collect().toMap
    assert(inferred === rows.toMap)
  }
}
