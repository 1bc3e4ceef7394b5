package graft.fs

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

import graft.SparkSpec

/** The online store's snapshot manifest and its driver-side point
  * lookup: the footer-derived key stats against a Spark aggregate, row
  * parity of `lookupOnline` with a filtered scan of the published
  * snapshot across key and value types, zero Spark jobs per lookup, and
  * whole-snapshot answers while the table is republished.
  */
class OnlineLookupSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore = FeatureStore.temp(spark)

  private def publish(store: FeatureStore, name: String, df: DataFrame,
      keys: Seq[String], numPartitions: Int = 4): Unit = {
    store.createTable(FeatureTableSpec(name, keys, df.schema))
    store.writeTable(name, df, WriteMode.Overwrite)
    store.publishTable(name, numPartitions)
  }

  /** Rows of `df` in a total order on their rendered values, so that
    * binary, array, map and struct columns compare through Row.equals.
    */
  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toSeq.map {
    case b: Array[Byte] => b.mkString(",")
    case v => String.valueOf(v)
  }.mkString("|"))

  private def assertParity(store: FeatureStore, name: String, keys: Seq[Any]): Unit = {
    val keyCol = store.getSpec(name).keys.head
    val got = store.lookupOnline(name, keys)
    val want = store.readOnlineTable(name).filter(col(keyCol).isin(keys: _*))
    assert(got.schema == want.schema, s"$name: ${got.schema} vs ${want.schema}")
    assert(sorted(got) == sorted(want), s"$name: lookup of $keys")
  }

  /** Spark jobs started on this thread while `f` runs. Listener events
    * are asynchronous, so a sentinel job started after `f` marks the
    * point by which every earlier job has been delivered.
    */
  private def jobsDuring(f: => Unit): Int = {
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tags.add(String.valueOf(js.properties.getProperty("graft.test.probe")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", "probe")
      try f finally sc.setLocalProperty("graft.test.probe", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!tags.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("sentinel"), "sentinel job not observed")
      tags.asScala.count(_ == "probe")
    } finally {
      sc.setLocalProperty("graft.test.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  test("footer key stats match a groupBy(input_file_name) manifest") {
    val store = freshStore
    // (file id, key): file 0 holds only null keys; the string file mixes
    // supplementary chars with U+E000–U+FFFF, where UTF-16 and UTF-8
    // orders disagree
    def check(df: DataFrame, key: StructField): Unit = {
      val dir = new Path(java.nio.file.Files.createTempDirectory("graft-footer-").toString, "d")
      (0 to 2).foreach { f =>
        df.filter(col("file") === f).drop("file").coalesce(1).sortWithinPartitions("k")
          .write.mode("append").parquet(dir.toString)
      }
      val want = spark.read.parquet(dir.toString)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
        .collect()
        .map(r => new Path(r.getString(0)).getName ->
          (Option(r.get(1)).map(_.toString), Option(r.get(2)).map(_.toString)))
        .toMap
      assert(want.values.exists(_ == ((None, None))), "no all-null file in the fixture")
      val got = store.footerKeyStats(dir, key)
        .map(f => f.name -> (f.kmin.map(_.toString), f.kmax.map(_.toString))).toMap
      assert(got == want)
    }
    val ints = spark.range(300).selectExpr("id % 3 as file",
      "case when id % 3 = 0 then null else id * 7 - 1000 end as k", "id as x")
    check(ints, StructField("k", org.apache.spark.sql.types.LongType))
    val strs = Seq(
      (0, null), (0, null),
      (1, ""), (1, "\uD83D\uDE00"), (1, "\uE000"), (1, "a"),
      (2, "\uD83D\uDE01z"), (2, "\uFFFF"), (2, "zz"))
      .toDF("file", "k").withColumn("x", lit(1))
    check(strs, StructField("k", org.apache.spark.sql.types.StringType))
  }

  test("lookupOnline: row parity with a filtered scan across key and value types") {
    val store = freshStore
    val values = Seq(
      "cast(id * 1.25 as decimal(12, 2)) as dec",
      "date_add(date'2020-01-01', cast(id as int)) as d",
      "timestamp_micros(id * 1000003) as ts",
      "cast(format_string('b%d', id) as binary) as bin",
      "case when id % 5 = 0 then null else array(id, id + 1) end as arr",
      "map(format_string('m%d', id), cast(id as double)) as mp",
      "named_struct('a', id, 'b', format_string('s%d', id)) as st",
      "cast(null as string) as nothing")
    val base = spark.range(200)
    val keyed = Seq(
      "kb" -> "cast(id - 100 as byte)", "ks" -> "cast(id * 300 - 30000 as short)",
      "ki" -> "cast(id * 100000 as int)", "kl" -> "id * 1000000007",
      "kstr" -> "format_string('k%05d', id)")
    keyed.foreach { case (name, expr) =>
      publish(store, name, base.selectExpr(s"$expr as k" +: "id" +: values: _*), Seq("k"))
      val ks = store.readOnlineTable(name).select("k").collect().map(_.get(0)).sortBy(String.valueOf)
      assertParity(store, name, Seq(ks(3), ks(77), ks(150)))
      assertParity(store, name, Seq(ks(42)))
    }
    // keys passed as another integral type, or as strings
    assertParity(store, "kb", Seq(-100L, 5L, 99L))
    assertParity(store, "ks", Seq(-30000, 300, 29700))
    assertParity(store, "kl", Seq(7000000049L.toString, "0"))
    assertParity(store, "ki", Seq("100000", 300000L, 9900000))
    // a key absent from every file: empty, schema kept
    assertParity(store, "kl", Seq(-1L))
    assert(store.onlineManifest("kl").prune(Seq(-1L)).isEmpty)
    assert(store.lookupOnline("kl", Seq(-1L)).columns.toSeq ==
      store.readOnlineTable("kl").columns.toSeq)
    assertParity(store, "kstr", Seq("nope", "k00010"))
  }

  test("lookupOnline: composite key and the published schema after a later merge") {
    val store = freshStore
    val v = spark.range(400).selectExpr("id % 40 as a", "id as b", "cast(id as double) as x")
    publish(store, "c", v, Seq("a", "b"))
    assertParity(store, "c", Seq(3L, 17L, 39L))
    assert(store.lookupOnline("c", Seq(3L)).count() == 10)

    // a merge after the publish adds a column; the online table still
    // answers in the published schema until the next publish
    store.writeTable("c", Seq((3L, 3L, 9.0, "new")).toDF("a", "b", "x", "y"), WriteMode.Merge)
    val got = store.lookupOnline("c", Seq(3L))
    assert(got.columns.toSeq == Seq("a", "b", "x"))
    assert(got.filter($"b" === 3L).select("x").as[Double].collect().toSeq == Seq(3.0))
    store.publishTable("c", numPartitions = 4)
    assert(store.lookupOnline("c", Seq(3L)).columns.toSeq == Seq("a", "b", "x", "y"))
    assertParity(store, "c", Seq(3L))
  }

  test("lookupOnline runs no Spark job") {
    val store = freshStore
    publish(store, "t", spark.range(5000).selectExpr("id", "id * 2 as x"), Seq("id"))
    publish(store, "s", spark.range(500).selectExpr("format_string('k%04d', id) as k", "id"), Seq("k"))
    store.lookupOnline("t", Seq(1L)).collect() // first use loads the decoder's classes
    var rows = Array.empty[Row]
    val jobs = jobsDuring {
      rows = store.lookupOnline("t", Seq(10L, 4000L, 99999L)).collect() ++
        store.lookupOnline("s", Seq("k0042")).collect()
    }
    assert(jobs == 0, s"lookups ran $jobs Spark job(s)")
    assert(rows.toSeq == Seq(Row(10L, 20L), Row(4000L, 8000L), Row("k0042", 42L)))
  }

  test("concurrent lookups against a loop of republishes each see one whole snapshot") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = freshStore
    def version(v: Int) = spark.range(1000).selectExpr("id", s"$v as v")
    publish(store, "r", version(0), Seq("id"))
    val keys = Seq(3L, 500L, 997L)
    val done = new AtomicBoolean(false)
    val seen = new ConcurrentLinkedQueue[Int]()
    val readers = (0 until 2).map(_ => Future {
      var n = 0
      while (!done.get() || n == 0) {
        val rows = store.lookupOnline("r", keys).collect()
        assert(rows.map(_.getLong(0)).sorted.toSeq == keys, s"partial answer: ${rows.toSeq}")
        val vs = rows.map(_.getInt(1)).distinct
        assert(vs.length == 1, s"rows of several snapshots: ${rows.toSeq}")
        seen.add(vs.head)
        n += 1
      }
      n
    })
    try (1 to 4).foreach { v =>
      store.writeTable("r", version(v), WriteMode.Overwrite)
      store.publishTable("r", numPartitions = 4)
    } finally done.set(true)
    readers.foreach(f => assert(Await.result(f, 2.minutes) > 0))
    assert(seen.asScala.toSet.size > 1, "lookups never overlapped a republish")
    // the previous snapshot is kept, older ones are deleted
    val online = new java.io.File(store.root, "_online/r")
    assert(online.listFiles().count(f => f.isDirectory && f.getName.startsWith("s")) == 2)
  }
}
