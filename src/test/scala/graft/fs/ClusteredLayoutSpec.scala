package graft.fs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Key-clustered feature-table versions: the routed merge against the
  * full-outer reference over generated cases, the layout every write
  * leaves (disjoint key-sorted range files matching the version's
  * `_manifest`), the plan and Spark job count of a merge that reads its
  * clustered base in place, the dictionary encodings a merge writes,
  * Spark job counts of the publish by file copy, stores whose versions
  * carry no `_manifest`, and lookups that create no broadcast.
  */
class ClusteredLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore = FeatureStore.temp(spark)

  /** Rows in a total order on their rendered values. */
  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toSeq.map(String.valueOf).mkString("|"))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Spark jobs started on this thread while `f` runs; a sentinel job
    * marks the point by which every earlier job event was delivered.
    */
  private def jobsDuring(f: => Unit): Int = {
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tags.add(String.valueOf(js.properties.getProperty("graft.test.layout")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.layout", "probe")
      try f finally sc.setLocalProperty("graft.test.layout", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!tags.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains("sentinel"), "sentinel job not observed")
      tags.asScala.count(_ == "probe")
    } finally {
      sc.setLocalProperty("graft.test.layout", null)
      sc.removeSparkListener(listener)
    }
  }

  /** The physical plans of the queries `f` runs on this session, in
    * order. Query events reach listeners late, so one from before `f`
    * can arrive after the listener is registered: two sentinel queries,
    * told apart by their column name, bracket the events of `f`.
    */
  private def plansDuring(f: => Unit): Seq[SparkPlan] = {
    val Seq(start, end) = Seq("_graft_plans_start", "_graft_plans_end")
    val events = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val mark = Seq(start, end).find(m => qe.analyzed.exists(_.output.exists(_.name == m)))
        events.add(mark.getOrElse("") -> qe.executedPlan)
      }
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF(start).count()
      f
      spark.range(1).toDF(end).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!events.asScala.exists(_._1 == end) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(events.asScala.exists(_._1 == end), "sentinel query not observed")
      events.asScala.toSeq.dropWhile(_._1 != start).drop(1).takeWhile(_._1 != end).map(_._2)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of `p`, through adaptive plans and their query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The nodes from `p` down to the in-place scan of a clustered base. */
  private def pathToScan(p: SparkPlan): Option[Seq[SparkPlan]] = p match {
    case s: RDDScanExec => Some(Seq(s))
    case a: AdaptiveSparkPlanExec => pathToScan(a.executedPlan).map(p +: _)
    case q: QueryStageExec => pathToScan(q.plan).map(p +: _)
    case _ => p.children.iterator.flatMap(pathToScan).nextOption().map(p +: _)
  }

  private def passThroughExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    nodes(plan).collect { case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough] => e }

  /** The merge's full-outer join reads the base in place: the path from
    * its base side down to the scan crosses no exchange and no sort.
    */
  private def assertBaseInPlace(plan: SparkPlan): Seq[SparkPlan] = {
    val joins = nodes(plan).collect { case j: SortMergeJoinExec if j.joinType == FullOuter => j }
    assert(joins.size == 1, plan.toString)
    val path = pathToScan(joins.head.left)
    assert(path.isDefined, s"base side is not read in place:\n$plan")
    assert(path.get.forall(n => !n.isInstanceOf[Exchange] && !n.isInstanceOf[SortExec]),
      s"exchange or sort above the base scan:\n$plan")
    path.get
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  /** The current version's files are pairwise disjoint on the leading
    * key, each sorted by the keys, and listed with their size and key
    * range by the version's `_manifest`.
    */
  private def assertClustered(store: FeatureStore, name: String): Unit = {
    val spec = store.getSpec(name)
    val version = store.currentVersion(name)
    val dir = new java.io.File(store.root, s"$name/v$version")
    val m = store.versionManifest(name, version)
    assert(m.isDefined, s"$name v$version has no _manifest")
    val files = dataFiles(dir)
    assert(m.get.files.map(_.name) == files.map(_.getName), s"$name v$version: manifest vs files")
    val ranges = files.zip(m.get.files).map { case (f, mf) =>
      assert(mf.size == f.length(), s"${f.getName}: manifest size")
      val keys = spark.read.parquet(f.toString).select(spec.keys.map(col): _*).collect().toSeq
      assert(keys == keys.sorted(keyOrder), s"${f.getName} not key-sorted")
      val lead = keys.flatMap(r => Option(r.get(0))).map(catalyst)
      assert(mf.kmin == lead.minOption(OnlineManifest.order) && mf.kmax == lead.maxOption(OnlineManifest.order),
        s"${f.getName}: manifest range vs the file's keys")
      (mf.kmin, mf.kmax)
    }
    ranges.filter(_._1.isDefined).sliding(2).foreach {
      case Seq((_, Some(hi)), (Some(lo), _)) =>
        assert(OnlineManifest.order.lt(hi, lo), s"$name v$version: file ranges overlap")
      case _ =>
    }
  }

  /** Key rows in ascending order, nulls first, column by column. */
  private val keyOrder: Ordering[Row] = (x: Row, y: Row) =>
    (0 until x.length).iterator.map { i =>
      (Option(x.get(i)).map(catalyst), Option(y.get(i)).map(catalyst)) match {
        case (None, None) => 0
        case (None, _) => -1
        case (_, None) => 1
        case (Some(a), Some(b)) => OnlineManifest.order.compare(a, b)
      }
    }.find(_ != 0).getOrElse(0)

  private def catalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case n: Number => n.longValue
  }

  /** Drop the current version's `_manifest`, as a store written before
    * versions carried one left it.
    */
  private def dropManifest(store: FeatureStore, name: String): Unit = {
    val dir = new java.io.File(store.root, s"$name/v${store.currentVersion(name)}")
    Seq("_manifest", "._manifest.crc").foreach(n => new java.io.File(dir, n).delete())
    assert(store.versionManifest(name, store.currentVersion(name)).isEmpty)
  }

  // ------------------------------------------------------------ merge oracle

  private val base = StructType(Seq(
    StructField("x", DoubleType), StructField("tag", StringType)))

  /** One generated merge case: key columns, base rows and delta rows
    * over a random subset of the value columns plus, sometimes, a new
    * one; explicit NULL values, NULL keys, and keys beyond both ends of
    * the base's range.
    */
  private def mergeCase(seed: Long, keyKind: Int): (Seq[String], DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val (keyFields, keyOf) = keyKind match {
      case 0 => (Seq(StructField("id", LongType)), (k: Long) => Seq[Any](k))
      case 1 => (Seq(StructField("k", StringType)), (k: Long) => Seq[Any](f"k$k%04d"))
      case 3 => (Seq(StructField("n", IntegerType)), (k: Long) => Seq[Any](k.toInt * 3))
      case _ => (Seq(StructField("a", LongType), StructField("b", StringType)),
        (k: Long) => Seq[Any](k / 3, s"b${k % 3}"))
    }
    def nullKey = Seq.fill[Any](keyFields.size)(null)
    def value(dt: DataType): Any =
      if (rnd.nextInt(5) == 0) null
      else dt match {
        case DoubleType => rnd.nextInt(1000) / 10.0
        case StringType => s"t${rnd.nextInt(50)}"
        case IntegerType => rnd.nextInt(100)
      }
    val n = if (rnd.nextInt(6) == 0) 0 else 1 + rnd.nextInt(60)
    val baseKeys = rnd.shuffle((0L until 200L).toList).take(n)
    val baseRows = baseKeys.map(k => Row.fromSeq(keyOf(k) ++ base.map(f => value(f.dataType)))) ++
      (if (n > 0 && rnd.nextBoolean()) Seq(Row.fromSeq(nullKey ++ base.map(f => value(f.dataType)))) else Nil)
    val carried = base.fields.filter(_ => rnd.nextBoolean()).toSeq ++
      (if (rnd.nextBoolean()) Seq(StructField("y", IntegerType)) else Nil)
    val deltaKeys = (rnd.shuffle(baseKeys).take(rnd.nextInt(10)) ++
      Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(400).toLong - 100)).distinct
    val deltaRows = deltaKeys.map(k => Row.fromSeq(keyOf(k) ++ carried.map(f => value(f.dataType)))) ++
      (if (rnd.nextBoolean()) Seq(Row.fromSeq(nullKey ++ carried.map(f => value(f.dataType)))) else Nil)
    (keyFields.map(_.name), frame(baseRows, StructType(keyFields ++ base)),
      frame(deltaRows, StructType(keyFields ++ carried)))
  }

  /** Write `rows` as the table's first version, then bring the base to
    * the shape `shape` names: as overwritten (no manifest: the merge
    * samples its split points), compacted to one file (the merge
    * re-samples), or clustered into four ranges by an empty merge (the
    * merge routes by the manifest).
    */
  private def baseVersion(store: FeatureStore, keys: Seq[String], rows: DataFrame, shape: Int): Unit = {
    store.createTable(FeatureTableSpec("t", keys, rows.schema))
    store.writeTable("t", rows, WriteMode.Overwrite)
    shape match {
      case 1 => store.compact("t")
      case 2 => store.writeTable("t", rows.limit(0), WriteMode.Merge)
      case _ =>
    }
  }

  private def assertSameTable(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType), clue)
    assert(sorted(got.collect().toSeq) == sorted(want.collect().toSeq), clue)
  }

  test("routed merge matches the full-outer reference over generated cases") {
    for (i <- 0 until 24) {
      val store = freshStore
      val (keys, baseDf, delta) = mergeCase(100L + i, i % 4)
      baseVersion(store, keys, baseDf, (i / 4) % 3)
      val before = frame(store.readTable("t").collect().toSeq, store.readTable("t").schema)
      store.writeTable("t", delta, WriteMode.Merge)
      withClue(s"case $i keys=$keys: ") {
        assertSameTable(store.readTable("t"), MergeReference.merge(before, delta, keys, "t"), "merge")
        assertClustered(store, "t")
      }
    }
  }

  test("routed applyChanges matches the reference, with deletes and seqCol") {
    for (i <- 0 until 12) {
      val store = freshStore
      val rnd = new scala.util.Random(500L + i)
      val (keys, baseDf, delta) = mergeCase(300L + i, i % 3)
      baseVersion(store, keys, baseDf, (i / 3) % 3)
      val withSeq = i % 2 == 0
      // every delta row becomes an event; with seqCol some keys get a
      // second, later event, so the last one wins
      val events = delta.collect().toSeq.flatMap { r =>
        val op = if (rnd.nextInt(3) == 0) "delete" else "upsert"
        val first = Row.fromSeq(r.toSeq :+ op :+ rnd.nextInt(10).toLong)
        if (withSeq && rnd.nextBoolean())
          Seq(first, Row.fromSeq(r.toSeq :+ (if (op == "delete") "upsert" else "delete") :+ 10L))
        else Seq(first)
      }
      val changes = frame(events, StructType(delta.schema.fields ++
        Seq(StructField("_op", StringType), StructField("seq", LongType))))
      val input = if (withSeq) changes else changes.drop("seq")
      val before = frame(store.readTable("t").collect().toSeq, store.readTable("t").schema)
      store.applyChanges("t", input, "_op", if (withSeq) Some("seq") else None)
      withClue(s"case $i keys=$keys seq=$withSeq: ") {
        assertSameTable(store.readTable("t"),
          MergeReference.applyChanges(before, input, keys, "t", "_op", if (withSeq) Some("seq") else None),
          "applyChanges")
        assertClustered(store, "t")
      }
    }
  }

  test("type conflicts fail with the reference's error") {
    val store = freshStore
    val v1 = Seq((1L, 1.0, "a")).toDF("id", "x", "tag")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Overwrite)
    val bad = Seq((2L, "nope", 3)).toDF("id", "x", "tag")
    val got = intercept[IllegalArgumentException](store.writeTable("t", bad, WriteMode.Merge))
    val want = intercept[IllegalArgumentException](MergeReference.merge(v1, bad, Seq("id"), "t"))
    assert(got.getMessage == want.getMessage)
    val cdc = intercept[IllegalArgumentException](
      store.applyChanges("t", bad.withColumn("_op", lit("upsert"))))
    assert(cdc.getMessage == want.getMessage)
    assert(store.currentVersion("t") == 1)
  }

  test("KeyRangeId: generated code and eval count the bounds <= the key, 0 for null") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    def u(s: String) = UTF8String.fromString(s)
    Seq[(DataType, IndexedSeq[Any], Seq[(Any, Int)])](
      (LongType, IndexedSeq(10L, 20L, 30L),
        Seq((null: Any) -> 0, -5L -> 0, 10L -> 1, 15L -> 1, 20L -> 2, 29L -> 2, 30L -> 3, 99L -> 3)),
      (IntegerType, IndexedSeq(0, 7), Seq((null: Any) -> 0, -1 -> 0, 0 -> 1, 6 -> 1, 7 -> 2, 8 -> 2)),
      (StringType, IndexedSeq(u("b"), u("d")),
        Seq((null: Any) -> 0, u("a") -> 0, u("b") -> 1, u("c") -> 1, u("d") -> 2, u("e") -> 2)),
      (LongType, IndexedSeq.empty, Seq((null: Any) -> 0, 5L -> 0))
    ).foreach { case (dt, bounds, cases) =>
      val expr = KeyRangeId(BoundReference(0, dt, nullable = true), bounds)
      // generate() throws on code that does not compile, where a plan
      // would fall back to eval silently
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      cases.foreach { case (v, want) =>
        val row = new GenericInternalRow(Array[Any](v))
        assert(expr.eval(row) == want, s"$dt eval($v)")
        assert(generated(row).getInt(0) == want, s"$dt generated($v)")
      }
    }
  }

  // ------------------------------------------------------------ layout

  test("merge, applyChanges and compact leave a clustered layout; overwrite writes as it comes") {
    val store = freshStore
    val longs = spark.range(2000).selectExpr("id * 7 as id", "cast(id as double) as x").repartition(6)
    val strs = spark.range(2000).selectExpr("format_string('k%05d', id * 7) as k", "id as x").repartition(6)
    Seq("l" -> (longs, "id"), "s" -> (strs, "k")).foreach { case (name, (df, key)) =>
      store.createTable(FeatureTableSpec(name, Seq(key), df.schema))
      store.writeTable(name, df, WriteMode.Overwrite)
      assert(store.versionManifest(name, 1).isEmpty)
      assert(dataFiles(new java.io.File(store.root, s"$name/v1")).size == 6)
      val delta = df.filter(col("x") % 50 === 0).withColumn("x", col("x") + 1)
        .union(df.limit(3).withColumn(key, concat(col(key).cast("string"), lit("9")).cast(df.schema(key).dataType)))
      // the first merge samples split points: four ranges
      store.writeTable(name, delta, WriteMode.Merge)
      assertClustered(store, name)
      assert(dataFiles(new java.io.File(store.root, s"$name/v2")).size == 4)
      store.applyChanges(name, delta.limit(20).withColumn("_op",
        when(col("x") % 100 === 1, "delete").otherwise("upsert")))
      assertClustered(store, name)
      store.compact(name)
      assertClustered(store, name)
      assert(dataFiles(new java.io.File(store.root, s"$name/v${store.currentVersion(name)}")).size == 1)
      // the first merge after compact(1) re-samples back to four ranges
      store.writeTable(name, delta, WriteMode.Merge)
      assertClustered(store, name)
      assert(store.versionManifest(name, store.currentVersion(name)).get.files.size == 4)
    }
  }

  test("a merge into a clustered base runs no more Spark jobs than the reference merge") {
    val store = freshStore
    val df = spark.range(5000).selectExpr("id * 3 as id", "cast(id as double) as x", "cast(id as string) as s")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    store.writeTable("t", df, WriteMode.Overwrite)
    store.writeTable("t", df.limit(0), WriteMode.Merge)
    val delta = spark.range(0, 20000, 97).selectExpr("id", "cast(-1 as double) as x", "'d' as s").localCheckpoint()
    val ref = new Path(java.nio.file.Files.createTempDirectory("graft-ref-").toString, "m").toString
    // warm both plans once so that neither count includes a first-use job
    MergeReference.merge(store.readTable("t"), delta, Seq("id"), "t").write.parquet(ref)
    store.writeTable("t", delta, WriteMode.Merge)
    val refJobs = jobsDuring(MergeReference.merge(store.readTable("t"), delta, Seq("id"), "t")
      .write.mode("overwrite").parquet(ref))
    val jobs = jobsDuring(store.writeTable("t", delta, WriteMode.Merge))
    assert(jobs <= refJobs, s"routed merge ran $jobs jobs, the reference $refJobs")
    // the base is read in place: the delta's routing shuffle and the write
    assert(jobs == 2, s"routed merge ran $jobs jobs")
    // the delta is routed by the base's key ranges: no hash exchange, and
    // its exchange is the merge's only one
    val Seq(plan) = plansDuring(store.writeTable("t", delta, WriteMode.Merge))
    val text = plan.toString.toLowerCase
    assert(text.contains("shufflepartitionidpassthrough") && !text.contains("hashpartitioning"), text)
    assert(nodes(plan).count(_.isInstanceOf[Exchange]) == 1, plan.toString)
    assertBaseInPlace(plan)
    val deltaSide = nodes(plan).collectFirst { case j: SortMergeJoinExec => j.right }.get
    assert(passThroughExchanges(deltaSide).size == 1, plan.toString)
    // applyChanges with deletes keeps the base in place through its
    // left-anti join and its full-outer join
    val changes = delta.withColumn("_op", when(col("id") % 2 === 0, "delete").otherwise("upsert"))
    val before = frame(store.readTable("t").collect().toSeq, store.readTable("t").schema)
    val plans = plansDuring(store.applyChanges("t", changes))
    val write = plans.filter(p => nodes(p).exists {
      case j: SortMergeJoinExec => j.joinType == FullOuter
      case _ => false
    })
    assert(write.size == 1, plans.mkString("\n"))
    val path = assertBaseInPlace(write.head)
    assert(path.exists {
      case j: SortMergeJoinExec => j.joinType == LeftAnti
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, s"the left-anti join is not on the base's path:\n${write.head}")
    assertSameTable(store.readTable("t"),
      MergeReference.applyChanges(before, changes, Seq("id"), "t", "_op", None), "applyChanges")
    assertClustered(store, "t")
  }

  /** Per column, whether each of its chunks in the current version of
    * `name` carries a dictionary page.
    */
  private def dictionaryPages(store: FeatureStore, name: String): Map[String, Seq[Boolean]] = {
    val dir = new java.io.File(store.root, s"$name/v${store.currentVersion(name)}")
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(dir).flatMap { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new Path(f.toString), conf),
        ParquetMetadataConverter.NO_FILTER)
      footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c => c.getPath.toDotString -> c.hasDictionaryPage))
    }.groupBy(_._1).map { case (c, chunks) => c -> chunks.map(_._2) }
  }

  test("a merge writes no dictionary for the columns its base stores without one") {
    val store = freshStore
    val df = spark.range(4000).selectExpr("id", "cast(id as double) * 1.37 as x", "concat('s', cast(id % 5 as string)) as s")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    store.writeTable("t", df, WriteMode.Overwrite)
    store.writeTable("t", df.limit(0), WriteMode.Merge)
    val base = dictionaryPages(store, "t")
    assert(base("x").forall(!_) && base("id").forall(!_) && base("s").forall(identity), base)
    // x turns repetitive, which a default writer would dictionary-encode
    val delta = spark.range(0, 4000, 2).selectExpr("id", "cast(id % 3 as double) as x", "cast(id % 4 as int) as y")
    val before = frame(store.readTable("t").collect().toSeq, store.readTable("t").schema)
    store.writeTable("t", delta, WriteMode.Merge)
    assertSameTable(store.readTable("t"), MergeReference.merge(before, delta, Seq("id"), "t"), "merge")
    val merged = dictionaryPages(store, "t")
    assert(merged("x").forall(!_) && merged("id").forall(!_), merged)
    assert(merged("s").forall(identity) && merged("y").forall(identity), merged)
    // compact writes with the default writer: x gets its dictionary back
    store.compact("t")
    assert(dictionaryPages(store, "t")("x").forall(identity))
  }

  test("publishTable of a clustered version runs no Spark job and links the version's files") {
    val store = freshStore
    val df = spark.range(3000).selectExpr("format_string('k%05d', id) as k", "id as x")
    store.createTable(FeatureTableSpec("s", Seq("k"), df.schema))
    store.writeTable("s", df, WriteMode.Overwrite)
    store.writeTable("s", Seq(("k00007", -7L), ("zz", 1L)).toDF("k", "x"), WriteMode.Merge)
    var online = ""
    val jobs = jobsDuring { online = store.publishTable("s", numPartitions = 4) }
    assert(jobs == 0, s"publish ran $jobs Spark job(s)")
    val version = new java.io.File(store.root, s"s/v${store.currentVersion("s")}")
    val published = dataFiles(new java.io.File(online))
    assert(published.map(_.getName) == dataFiles(version).map(_.getName))
    published.foreach { f =>
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(new java.io.File(version, f.getName).toPath)), f.getName)
    }
    val m = store.onlineManifest("s")
    assert(m.files == store.versionManifest("s", store.currentVersion("s")).get.files)
    assert(m.schema == store.readTable("s").schema)
    assert(store.lookupOnline("s", Seq("k00007", "zz", "k02999", "nope"))
      .as[(String, Long)].collect().toSet == Set(("k00007", -7L), ("zz", 1L), ("k02999", 2999L)))
    // another file count keeps the range-and-sort plan
    val twoJobs = jobsDuring(store.publishTable("s", numPartitions = 2))
    assert(twoJobs > 0)
    assert(store.onlineManifest("s").files.size == 2)
    assert(store.readOnlineTable("s").count() == 3001)
  }

  test("a store whose versions carry no _manifest still merges, publishes and looks up") {
    val store = freshStore
    val df = spark.range(1000).selectExpr("id", "cast(id as double) as x")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    store.writeTable("t", df, WriteMode.Overwrite)
    store.writeTable("t", df.limit(0), WriteMode.Merge)
    dropManifest(store, "t")
    assert(jobsDuring(store.publishTable("t", numPartitions = 4)) > 0, "no manifest: re-sort plan")
    assert(store.lookupOnline("t", Seq(5L, 999L)).as[(Long, Double)].collect().toSet ==
      Set((5L, 5.0), (999L, 999.0)))
    val before = frame(store.readTable("t").collect().toSeq, store.readTable("t").schema)
    val delta = Seq((5L, -5.0, "n"), (1500L, 1.5, "m")).toDF("id", "x", "y")
    // no manifest: both sides are routed through sampled ranges
    val Seq(plan) = plansDuring(store.writeTable("t", delta, WriteMode.Merge))
    assert(passThroughExchanges(plan).size == 2 && nodes(plan).forall(!_.isInstanceOf[RDDScanExec]),
      plan.toString)
    assertSameTable(store.readTable("t"), MergeReference.merge(before, delta, Seq("id"), "t"), "merge")
    assertClustered(store, "t")
    assert(jobsDuring(store.publishTable("t", numPartitions = 4)) == 0)
    assert(store.lookupOnline("t", Seq(5L, 1500L, 7L)).orderBy("id").collect().toSeq ==
      Seq(Row(5L, -5.0, "n"), Row(7L, 7.0, null), Row(1500L, 1.5, "m")))
  }

  test("bucketed, partitioned and z-ordered versions carry no manifest and publish by re-sort") {
    val store = freshStore
    val df = spark.range(500).selectExpr("id", "id % 3 as p", "cast(id as double) as x")
    store.createTable(FeatureTableSpec("b", Seq("id"), df.schema, buckets = 4))
    store.createTable(FeatureTableSpec("p", Seq("id"), df.schema, partitionBy = Seq("p")))
    store.createTable(FeatureTableSpec("z", Seq("id"), df.schema))
    Seq("b", "p", "z").foreach(n => store.writeTable(n, df, WriteMode.Overwrite))
    store.optimizeTable("z", Seq("p", "x"), targetPartitions = 4)
    Seq("b", "p", "z").foreach { n =>
      store.writeTable(n, Seq((7L, 1L, -7.0), (900L, 0L, 9.0)).toDF("id", "p", "x"), WriteMode.Merge)
      if (n == "z") assertClustered(store, n)
      else assert(store.versionManifest(n, store.currentVersion(n)).isEmpty, n)
      assert(store.readTable(n).count() == 501, n)
      store.publishTable(n, numPartitions = 4)
      assert(store.lookupOnline(n, Seq(7L, 900L)).select("x").as[Double].collect().toSet ==
        Set(-7.0, 9.0), n)
    }
    store.optimizeTable("z", Seq("p", "x"), targetPartitions = 4)
    assert(store.versionManifest("z", store.currentVersion("z")).isEmpty)
  }

  test("a lookup creates no broadcast") {
    val store = freshStore
    val df = spark.range(2000).selectExpr("id", "id * 2 as x")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    store.writeTable("t", df, WriteMode.Overwrite)
    store.publishTable("t", numPartitions = 4)
    store.lookupOnline("t", Seq(1L)).collect() // builds the snapshot's decoder
    val sc = spark.sparkContext
    val first = sc.broadcast(0)
    val rows = store.lookupOnline("t", Seq(3L, 1999L)).collect()
    val next = sc.broadcast(0)
    assert(next.id == first.id + 1, s"a lookup created ${next.id - first.id - 1} broadcast(s)")
    Seq(first, next).foreach(_.destroy())
    assert(rows.toSet == Set(Row(3L, 6L), Row(1999L, 3998L)))
  }
}
