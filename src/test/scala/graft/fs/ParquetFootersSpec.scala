package graft.fs

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.{SparkSpec, Tables}

/** The driver-side footer read gives every read the schema Spark's own
  * inference gives it — one file, directories with summaries, part
  * files and partitions, both `events.ts` layouts, a merged schema —
  * runs no Spark job doing so, and fails like Spark on an empty path.
  */
class ParquetFootersSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-footers-")

  override def afterAll(): Unit = graft.PipelinesRound12.deleteRecursively(root)

  private def tempDir(): String = Files.createTempDirectory(root, "d").toString

  /** Spark jobs started on this thread while `f` runs; a sentinel job
    * marks the point by which every earlier job event was delivered.
    */
  private def jobsDuring(f: => Unit): Int = {
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tags.add(String.valueOf(js.properties.getProperty("graft.test.footers")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.footers", "probe")
      try f finally sc.setLocalProperty("graft.test.footers", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!tags.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("sentinel"), "sentinel job not observed")
      tags.asScala.count(_ == "probe")
    } finally {
      sc.setLocalProperty("graft.test.footers", null)
      sc.removeSparkListener(listener)
    }
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertParity(path: String): StructType = {
    val expected = spark.read.parquet(path).schema
    assert(ParquetFooters.read(spark, path).schema == expected, path)
    expected
  }

  test("one file: Spark's schema, with no Spark job where inference runs one") {
    val path = s"$sfDir/customer.parquet"
    assertParity(path)
    assert(jobsDuring(ParquetFooters.read(spark, path)) == 0)
    assert(jobsDuring(spark.read.parquet(path)) >= 1, "the listener sees the schema job")
    // and the same scan: files, read schema, pushed filters
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.filter("c_acctbal > 0").groupBy("c_nationkey").count()
        .queryExecution.executedPlan.toString.replaceAll("#\\d+|plan_id=\\d+", "")
    assert(plan(ParquetFooters.read(spark, path)) == plan(spark.read.parquet(path)))
  }

  test("events under both ts layouts, as Tables.load reads them") {
    // TIMESTAMP(MICROS): the testdata layout
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(assertParity(s"$sfDir/events.parquet")("ts").dataType == TimestampNTZType)
    }
    // TIMESTAMP(NANOS), read as long once nanosAsLong is set
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"),
      spark.sessionState.newHadoopConf())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try writer.write(rows.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(assertParity(s"$dir/events.parquet")("ts").dataType == LongType)
      val ts = Tables.load(spark, dir, "events").selectExpr("cast(ts as string)").head().getString(0)
      assert(ts == "2023-11-14 22:13:20.123456")
    }
  }

  test("Spark-written directories: part files, partitionBy, summary files") {
    val parts = tempDir() + "/parts"
    spark.range(40).selectExpr("id", "cast(id as string) as s", "id % 3 as k")
      .repartition(3).write.parquet(parts)
    assert(new java.io.File(parts, "_SUCCESS").exists)
    assertParity(parts)
    assert(jobsDuring(ParquetFooters.read(spark, parts)) == 0)

    val partitioned = tempDir() + "/partitioned"
    spark.range(40).selectExpr("id", "id % 3 as k").write.partitionBy("k").parquet(partitioned)
    assert(assertParity(partitioned).fieldNames.toSeq == Seq("id", "k"))
    assert(ParquetFooters.read(spark, partitioned).filter("k = 1").count() == 13)

    // a summary is read before any part file: give each a schema of its own
    val summarized = tempDir() + "/summarized"
    spark.range(4).selectExpr("id").write.parquet(summarized)
    def summary(name: String, cols: String*): Unit = {
      val src = tempDir() + "/src"
      spark.range(1).selectExpr(cols: _*).coalesce(1).write.parquet(src)
      val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, new java.io.File(summarized, name).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    summary("_metadata", "id", "id as m")
    assert(assertParity(summarized).fieldNames.toSeq == Seq("id", "m"))
    summary("_common_metadata", "id", "id as c")
    assert(assertParity(summarized).fieldNames.toSeq == Seq("id", "c"))
  }

  test("files whose schemas differ: the first by path, or Spark's merge when mergeSchema is on") {
    val dir = tempDir()
    def part(name: String, cols: String*): Unit = {
      val src = tempDir() + "/src"
      spark.range(3).selectExpr(cols: _*).coalesce(1).write.parquet(src)
      val file = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(file.toPath, new java.io.File(dir, name).toPath)
    }
    part("a.parquet", "id")
    part("b.parquet", "id", "cast(id as double) as x")
    assert(assertParity(dir).fieldNames.toSeq == Seq("id"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(assertParity(dir).fieldNames.toSeq == Seq("id", "x"))
    }
  }

  test("an empty or missing path fails with Spark's exception") {
    val empty = tempDir()
    Seq(empty, empty + "/missing").foreach { p =>
      val expected = intercept[Exception](spark.read.parquet(p))
      val actual = intercept[Exception](ParquetFooters.read(spark, p))
      assert(actual.getClass == expected.getClass, actual)
      assert(actual.getMessage == expected.getMessage)
    }
  }
}
