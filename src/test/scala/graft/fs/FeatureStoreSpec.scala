package graft.fs

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Feature-store semantic tests (SURVEY.md §5.2 item 3): K4 key
  * validation, K5 merge = upsert (update-by-key, insert-new-key,
  * add-column schema evolution replaying FS:411-435), J3 left-outer NULL
  * semantics, P6 exclusion, J4 train/serve parity.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore = FeatureStore.temp(spark)

  test("createTable validates keys against schema") {
    val store = freshStore
    val df = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      store.createTable(FeatureTableSpec("bad", Seq("nope"), df.schema))
    }
    store.createTable(FeatureTableSpec("good", Seq("id"), df.schema, "desc"))
    assert(store.tableExists("good"))
    assert(store.getSpec("good").keys == Seq("id"))
    assert(store.readTable("good").count() == 0) // registered, never written
  }

  test("createTable rejects duplicates; deleteTable removes") {
    val store = freshStore
    val df = Seq((1L, "a")).toDF("id", "v")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    intercept[IllegalArgumentException] {
      store.createTable(FeatureTableSpec("t", Seq("id"), df.schema))
    }
    store.deleteTable("t")
    assert(!store.tableExists("t"))
    intercept[IllegalArgumentException](store.readTable("t"))
  }

  test("merge updates existing keys, inserts new keys") {
    val store = freshStore
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    val v2 = Seq((2L, 99.0), (3L, 30.0)).toDF("id", "x")
    store.writeTable("t", v2, WriteMode.Merge)
    val got = store.readTable("t").orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("applyChanges: upserts merge, deletes drop, one version bump") {
    val store = freshStore
    val v1 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    val before = store.tableVersion("t")
    // delete key 1, update key 2, insert key 4 — one CDC batch
    val changes = Seq(
      (1L, 0.0, "delete"),
      (2L, 99.0, "upsert"),
      (4L, 40.0, "upsert")).toDF("id", "x", "_op")
    store.applyChanges("t", changes)
    val got = store.readTable("t").orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 99.0), (3L, 30.0), (4L, 40.0)))
    assert(store.tableVersion("t") == before + 1, "CDC batch must be ONE version")
  }

  test("applyChanges: duplicate keys error without seqCol, last-wins with it") {
    val store = freshStore
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    // two events for key 2 with no seq order → named error
    val dup = Seq((2L, 5.0, "upsert"), (2L, 7.0, "upsert")).toDF("id", "x", "_op")
    val e = intercept[IllegalArgumentException](store.applyChanges("t", dup))
    assert(e.getMessage.contains("multiple change events"))
    // with a seq column the LAST event wins: upsert@1 then delete@2 → gone
    val seq1 = Seq((2L, 5.0, "upsert", 1L), (2L, 0.0, "delete", 2L))
      .toDF("id", "x", "_op", "seq")
    store.applyChanges("t", seq1, seqCol = Some("seq"))
    assert(store.readTable("t").orderBy("id").as[(Long, Double)].collect()
      .toSeq == Seq((1L, 10.0)))
    // delete@1 then upsert@2 → the upsert survives
    val seq2 = Seq((3L, 0.0, "delete", 1L), (3L, 33.0, "upsert", 2L))
      .toDF("id", "x", "_op", "seq")
    store.applyChanges("t", seq2, seqCol = Some("seq"))
    assert(store.readTable("t").orderBy("id").as[(Long, Double)].collect()
      .toSeq == Seq((1L, 10.0), (3L, 33.0)))
  }

  test("applyChanges rejects unknown ops and races with a pinned parent") {
    val store = freshStore
    val v1 = Seq((1L, 10.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    val bad = Seq((1L, 0.0, "drop")).toDF("id", "x", "_op")
    val e = intercept[IllegalArgumentException](store.applyChanges("t", bad))
    assert(e.getMessage.contains("unknown op"))
    // deletes-only batch also works (no upsert rows)
    store.applyChanges("t", Seq((1L, 0.0, "delete")).toDF("id", "x", "_op"))
    assert(store.readTable("t").count() === 0)
  }

  test("merge with add-column schema evolution (FS:411-435 replay)") {
    val store = freshStore
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    // evolved write: new column `y`, updated key 2, new key 3
    val v2 = Seq((2L, 21.0, 5), (3L, 30.0, 6)).toDF("id", "x", "y")
    store.writeTable("t", v2, WriteMode.Merge)
    val got = store.readTable("t").orderBy("id").collect().toSeq
    assert(store.getSpec("t").schema.fieldNames.toSeq == Seq("id", "x", "y"))
    assert(got == Seq(
      Row(1L, 10.0, null),      // old-only row: NULL for the new column
      Row(2L, 21.0, 5),         // updated
      Row(3L, 30.0, 6)))        // inserted
  }

  test("merge is idempotent") {
    val store = freshStore
    val v = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Merge)
    val once = store.readTable("t").orderBy("id").collect().toSeq
    store.writeTable("t", v, WriteMode.Merge)
    val twice = store.readTable("t").orderBy("id").collect().toSeq
    assert(once == twice)
  }

  test("overwrite replaces data and schema") {
    val store = freshStore
    val v1 = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Overwrite)
    val v2 = Seq((7L, "s")).toDF("id", "label")
    store.writeTable("t", v2, WriteMode.Overwrite)
    val got = store.readTable("t")
    assert(got.columns.toSeq == Seq("id", "label"))
    assert(got.count() == 1)
  }

  test("write rejects DataFrame missing the key column") {
    val store = freshStore
    val v = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    intercept[IllegalArgumentException] {
      store.writeTable("t", v.drop("id"), WriteMode.Merge)
    }
  }

  test("training set: left-outer NULL semantics + label kept + exclusion") {
    val store = freshStore
    val feat = Seq((1L, 100.0), (2L, 200.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    // spine has key 3 with no feature row — must survive with NULL f
    val spine = Seq((1L, "x", true), (3L, "y", false)).toDF("id", "junk", "label")
    val ts = FeatureStoreClient.createTrainingSet(store, spine,
      Seq(FeatureLookup("feat", "f", "id")), label = "label",
      excludeColumns = Seq("junk"))
    val got = ts.loadDf.orderBy("id").collect().toSeq
    assert(ts.loadDf.columns.toSeq == Seq("id", "label", "f"))
    assert(got == Seq(Row(1L, true, 100.0), Row(3L, false, null)))
  }

  test("lookup key name differing from table key name") {
    val store = freshStore
    val feat = Seq((1L, 5.0)).toDF("cust_id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("cust_id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val spine = Seq((1L, "a"), (2L, "b")).toDF("spine_key", "v")
    val out = LookupJoins.attach(store, spine,
      Seq(FeatureLookup("feat", "f", "spine_key"))).orderBy("spine_key")
    assert(out.columns.toSeq == Seq("spine_key", "v", "f"))
    assert(out.collect().toSeq == Seq(Row(1L, "a", 5.0), Row(2L, "b", null)))
  }

  test("lookup rejects feature colliding with spine column") {
    val store = freshStore
    val feat = Seq((1L, 5.0)).toDF("id", "n_orders")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val spine = Seq((1L, 7L)).toDF("id", "n_orders") // stale copy on spine
    val e = intercept[IllegalArgumentException] {
      LookupJoins.attach(store, spine, Seq(FeatureLookup("feat", "n_orders", "id")))
    }
    assert(e.getMessage.contains("already exist"))
  }

  test("lookup validation: unknown feature / key arity") {
    val store = freshStore
    val feat = Seq((1L, 5.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val spine = Seq((1L, "a")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      LookupJoins.attach(store, spine, Seq(FeatureLookup("feat", "nope", "id"))).collect()
    }
    intercept[IllegalArgumentException] {
      LookupJoins.attach(store, spine,
        Seq(FeatureLookup("feat", "f", Seq("id", "v")))).collect()
    }
  }

  test("train/serve join parity: scoreBatch replays the training joins") {
    val store = freshStore
    val feat = Seq((1L, 2.0), (2L, -3.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val registry = new ScorerRegistry
    registry.register(LogisticScorer("m", 1,
      Seq(FeatureLookup("feat", "f", "id")), Map("f" -> 1.0), bias = 0.0))
    val batch = Seq(Tuple1(1L), Tuple1(2L), Tuple1(9L)).toDF("id")
    val got = registry.scoreBatch(store, "models:/m/1", batch)
      .orderBy("id").select("id", "prediction").as[(Long, String)].collect().toSeq
    // key 9 missing from features → f treated as 0 → z=0 → not > 0 → False
    assert(got == Seq((1L, "True"), (2L, "False"), (9L, "False")))
    intercept[NoSuchElementException](registry.resolve("models:/other/1"))
  }

  test("durable registry: logistic scorer resolves from a fresh instance") {
    val store = freshStore
    val feat = Seq((1L, 2.0), (2L, -3.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val reg1 = ScorerRegistry.persistent(spark, store.root)
    reg1.register(LogisticScorer("m", 1,
      Seq(FeatureLookup("feat", "f", "id")), Map("f" -> 1.0), bias = 0.25))
    val batch = Seq(Tuple1(1L), Tuple1(2L), Tuple1(9L)).toDF("id")

    // a brand-new registry over the same root resolves from the sidecar
    val reg2 = ScorerRegistry.persistent(spark, store.root)
    val resolved = reg2.resolve("models:/m/1").asInstanceOf[LogisticScorer]
    assert(resolved.weights == Map("f" -> 1.0) && resolved.bias == 0.25)
    assert(resolved.lookups == Seq(FeatureLookup("feat", "f", "id")))
    val got = reg2.scoreBatch(store, "models:/m/1", batch)
      .orderBy("id").select("id", "prediction").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "True"), (2L, "False"), (9L, "True"))) // z = f + 0.25
    // a plain in-memory registry still knows nothing
    intercept[NoSuchElementException](new ScorerRegistry().resolve("models:/m/1"))
  }

  test("durable registry: spark.ml scorer round-trips through the sidecar") {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val store = freshStore
    val feat = Seq((1L, 2.0), (2L, -3.0), (3L, 1.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    val train = Seq((2.0, 1.0), (3.0, 1.0), (-2.0, 0.0), (-3.0, 0.0)).toDF("f", "label")
    val model = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(Array("f")).setOutputCol("features"),
      new LogisticRegression().setMaxIter(10))).fit(train)
    val reg1 = ScorerRegistry.persistent(spark, store.root)
    reg1.register(MlModelScorer("mm", 2,
      Seq(FeatureLookup("feat", "f", "id")), model, numericCols = Seq("f")))

    val batch = Seq(Tuple1(1L), Tuple1(2L), Tuple1(9L)).toDF("id")
    val inSession = reg1.scoreBatch(store, "models:/mm/2", batch)
      .orderBy("id").select("id", "prediction").as[(Long, String)].collect().toSeq
    val fresh = ScorerRegistry.persistent(spark, store.root)
      .scoreBatch(store, "models:/mm/2", batch)
      .orderBy("id").select("id", "prediction").as[(Long, String)].collect().toSeq
    assert(fresh == inSession, s"sidecar model scored differently: $fresh vs $inSession")
    assert(fresh.map(_._1) == Seq(1L, 2L, 9L))
  }

  test("publishTable produces a readable keyed snapshot") {
    val store = freshStore
    val feat = Seq((2L, 2.0), (1L, 1.0)).toDF("id", "f")
    store.createTable(FeatureTableSpec("feat", Seq("id"), feat.schema))
    store.writeTable("feat", feat, WriteMode.Overwrite)
    store.publishTable("feat")
    val online = store.readOnlineTable("feat").collect().toSeq
    assert(online.toSet == Set(Row(1L, 1.0), Row(2L, 2.0)))
  }

  test("partitioned feature table: partitionBy honored, reads intact") {
    val store = freshStore
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "part", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema,
      partitionBy = Seq("part")))
    store.writeTable("t", df, WriteMode.Overwrite)
    // physical layout: one dir per partition value (pruning-capable)
    val dataDir = new java.io.File(store.root, "t/v1")
    val partDirs = dataDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("part=a", "part=b"))
    val back = store.readTable("t").orderBy("id")
      .select("id", "part", "x").as[(Long, String, Double)].collect().toSeq
    assert(back == Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)))
    // merge preserves partitioning
    store.writeTable("t", Seq((4L, "c", 4.0)).toDF("id", "part", "x"), WriteMode.Merge)
    assert(store.readTable("t").count() == 4)
  }

  test("merge with omitted column preserves existing values (partial refresh)") {
    val store = freshStore
    val v1 = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "x", "tag")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    // refresh ONLY x for key 2 (+ insert key 3): tag must survive for
    // key 2, not be NULLed out
    store.writeTable("t", Seq((2L, 99.0), (3L, 30.0)).toDF("id", "x"), WriteMode.Merge)
    val got = store.readTable("t").orderBy("id").collect().toSeq
    assert(got == Seq(
      Row(1L, 10.0, "a"),
      Row(2L, 99.0, "b"),   // x refreshed, tag preserved
      Row(3L, 30.0, null))) // inserted; tag unknown
    // but a column the write CARRIES with NULL does win
    val withNull = Seq((1L, null.asInstanceOf[java.lang.Double], "z"))
      .toDF("id", "x", "tag")
    store.writeTable("t", withNull, WriteMode.Merge)
    val r1 = store.readTable("t").filter(col("id") === 1).collect()(0)
    assert(r1.isNullAt(1) && r1.getString(2) == "z")
  }

  test("merge rejects column type conflicts with a named error") {
    val store = freshStore
    val v1 = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    val bad = Seq((2L, "nope")).toDF("id", "x")
    val e = intercept[IllegalArgumentException] {
      store.writeTable("t", bad, WriteMode.Merge)
    }
    assert(e.getMessage.contains("type conflict") && e.getMessage.contains("x"))
  }

  test("composite-key feature table: lookup joins on both key columns") {
    val store = freshStore
    val feat = Seq((1L, "2024-01", 10.0), (1L, "2024-02", 20.0), (2L, "2024-01", 5.0))
      .toDF("cust_id", "month", "spend")
    store.createTable(FeatureTableSpec("monthly", Seq("cust_id", "month"), feat.schema))
    store.writeTable("monthly", feat, WriteMode.Overwrite)
    val spine = Seq((1L, "2024-02", true), (2L, "2024-02", false))
      .toDF("cust_id", "month", "label")
    val out = LookupJoins.attach(store, spine,
      Seq(FeatureLookup("monthly", "spend", Seq("cust_id", "month"))))
      .orderBy("cust_id").collect().toSeq
    assert(out == Seq(
      Row(1L, "2024-02", true, 20.0),
      Row(2L, "2024-02", false, null)))  // (2, 2024-02) missing → NULL
    // composite-key merge: update one (key,key) cell only
    store.writeTable("monthly",
      Seq((1L, "2024-02", 99.0)).toDF("cust_id", "month", "spend"), WriteMode.Merge)
    val after = store.readTable("monthly").orderBy("cust_id", "month")
      .as[(Long, String, Double)].collect().toSeq
    assert(after == Seq((1L, "2024-01", 10.0), (1L, "2024-02", 99.0), (2L, "2024-01", 5.0)))
  }

  test("compact: collapses files, preserves content") {
    val store = freshStore
    val v = spark.range(100).selectExpr("id", "cast(id as double) as x")
      .repartition(8)
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Overwrite)
    val before = store.readTable("t").orderBy("id").collect().toSeq
    store.compact("t", targetPartitions = 1)
    val dataDir = new java.io.File(store.root, s"t/v${store.currentVersion("t")}")
    val files = dataDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1)
    assert(store.readTable("t").orderBy("id").collect().toSeq == before)
  }

  test("partitioned table: filters on partition column prune at scan") {
    val store = freshStore
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "part", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), df.schema,
      partitionBy = Seq("part")))
    store.writeTable("t", df, WriteMode.Overwrite)
    val q = store.readTable("t").filter(col("part") === "a")
    val scan = q.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (dir pruning), not as
    // a post-scan data filter
    assert(scan.contains("PartitionFilters: [isnotnull(part"),
      s"partition filter not pushed:\n$scan")
    assert(q.count() == 2)
  }

  test("approx_count_distinct within rsd of exact (HLL++ sketch, A1-adjacent)") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect()(0)
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.1,
      s"approx $approx too far from exact $exact")
  }

  test("versioning: merge keeps only recent versions, pointer advances") {
    val store = freshStore
    val v = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    (1 to 4).foreach(i => store.writeTable("t", Seq((i.toLong, i.toDouble)).toDF("id", "x"), WriteMode.Merge))
    assert(store.currentVersion("t") == 4)
    assert(store.readTable("t").count() == 4)
  }

  test("time travel + rollback: previous version readable, rollback discards current") {
    val store = freshStore
    val v1 = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("tt", Seq("id"), v1.schema))
    store.writeTable("tt", v1, WriteMode.Merge)
    // v2 evolves the schema with a new column
    store.writeTable("tt", Seq((2L, 2.0, "new")).toDF("id", "x", "tag"), WriteMode.Merge)
    assert(store.currentVersion("tt") == 2)
    assert(store.readTable("tt").columns.contains("tag"))

    // time travel: v1 readable with its OWN (pre-evolution) schema
    val old = store.readTableVersion("tt", 1)
    assert(!old.columns.contains("tag") && old.count() == 1)
    intercept[IllegalArgumentException](store.readTableVersion("tt", 3))

    // rollback: pointer and schema return to v1; v2 is discarded
    store.rollbackTable("tt")
    assert(store.currentVersion("tt") == 1)
    val back = store.readTable("tt")
    assert(!back.columns.contains("tag") && back.count() == 1)
    // the next write reclaims version 2 cleanly
    store.writeTable("tt", Seq((3L, 3.0)).toDF("id", "x"), WriteMode.Merge)
    assert(store.currentVersion("tt") == 2)
    assert(store.readTable("tt").count() == 2)
    // only one version beneath the current → second rollback then fails
    store.rollbackTable("tt")
    intercept[IllegalArgumentException](store.rollbackTable("tt"))
  }

  test("retention knob: N=3 keeps 3 readable snapshots; vacuum reclaims; rollback works") {
    val store = FeatureStore.temp(spark, retainVersions = 3)
    val schema = Seq((1L, 1.0)).toDF("id", "x").schema
    store.createTable(FeatureTableSpec("r", Seq("id"), schema))
    (1 to 5).foreach { i =>
      store.writeTable("r", Seq((i.toLong, i.toDouble)).toDF("id", "x"), WriteMode.Overwrite)
    }
    assert(store.currentVersion("r") == 5)
    // window is v3..v5: all three readable, v2 pruned by the write path
    (3 to 5).foreach { v =>
      assert(store.readTableVersion("r", v).select("x").as[Double].head() == v.toDouble)
    }
    val pruned = intercept[IllegalArgumentException](store.readTableVersion("r", 2))
    assert(pruned.getMessage.contains("kept: 3..5"))

    // vacuum to 2: v3's directory goes, v4/v5 stay readable
    store.vacuumTable("r", keep = 2)
    intercept[IllegalArgumentException](store.readTableVersion("r", 3))
    assert(store.readTableVersion("r", 4).select("x").as[Double].head() == 4.0)

    // rollback still works after vacuum (v4 is present)
    store.rollbackTable("r")
    assert(store.currentVersion("r") == 4)
    assert(store.readTable("r").select("x").as[Double].head() == 4.0)

    intercept[IllegalArgumentException](store.vacuumTable("r", keep = 0))
    intercept[IllegalArgumentException](FeatureStore.temp(spark, retainVersions = 0))
  }

  test("store over a Hadoop file:// URI: full lifecycle on FileSystem paths") {
    // the commit path must run on Hadoop FileSystem semantics (the
    // 100 TB reality is hdfs:// or s3a://) — same lifecycle, URI root
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-uri-")
    val store = new FeatureStore(spark, s"file://$dir/store")
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v1.schema))
    store.writeTable("t", v1, WriteMode.Merge)
    store.writeTable("t", Seq((2L, 99.0, 5), (3L, 30.0, 6)).toDF("id", "x", "y"), WriteMode.Merge)
    assert(store.currentVersion("t") == 2)
    assert(store.listTables() == Seq("t"))
    val got = store.readTable("t").orderBy("id").collect().toSeq
    assert(got == Seq(Row(1L, 10.0, null), Row(2L, 99.0, 5), Row(3L, 30.0, 6)))
    store.publishTable("t")
    assert(store.readOnlineTable("t").count() == 3)
    store.deleteTable("t")
    assert(!store.tableExists("t"))
  }

  test("publishTable: range-partitioned multi-file output, each file key-sorted") {
    val store = freshStore
    val v = spark.range(1000).selectExpr("id", "cast(id as double) as x").repartition(8)
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Overwrite)
    val online = store.publishTable("t", numPartitions = 4)
    val files = new java.io.File(online).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1, s"single-file publish: ${files.toSeq}")
    // per-file: sorted within, and file key-ranges must not overlap
    // (range partitioning) — the shape a KV bulk-load ingests directly
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f).select("id").as[Long].collect().toSeq
      assert(ids == ids.sorted, s"file $f not key-sorted")
      (ids.min, ids.max)
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "file ranges overlap")
      case _ =>
    }
    assert(store.readOnlineTable("t").count() == 1000)
  }

  test("lookupOnline: point lookup scans only the matching range files") {
    val store = freshStore
    val v = spark.range(1000).selectExpr("id", "cast(id as double) as x").repartition(8)
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Overwrite)
    store.publishTable("t", numPartitions = 4)
    val manifest = store.onlineManifest("t")
    assert(manifest.files.size >= 4, s"expected a multi-file snapshot, got ${manifest.files}")

    // two adjacent keys land in one range file; the lookup must not read
    // the other files at all (file-level pruning via the key manifest)
    val hitFiles = manifest.prune(Seq(5L, 7L))
    assert(hitFiles.length == 1,
      s"point lookup reads ${hitFiles.length} files of ${manifest.files.size}")
    val hit = store.lookupOnline("t", Seq(5L, 7L))
    assert(hit.orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((5L, 5.0), (7L, 7.0)))

    // keys at opposite ends: at most 2 files, exact rows
    assert(manifest.prune(Seq(1L, 998L)).length <= 2)
    val span = store.lookupOnline("t", Seq(1L, 998L))
    assert(span.orderBy("id").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (998L, 998.0)))

    // a key outside every file range: zero files, empty result, schema kept
    assert(manifest.prune(Seq(99999L)).isEmpty)
    val miss = store.lookupOnline("t", Seq(99999L))
    assert(miss.count() == 0)
    assert(miss.columns.toSeq == Seq("id", "x"))

    // unpublished table / empty keys fail loudly
    intercept[IllegalArgumentException](store.lookupOnline("t", Seq.empty))
    val other = freshStore
    other.createTable(FeatureTableSpec("u", Seq("id"), v.schema))
    intercept[IllegalArgumentException](other.lookupOnline("u", Seq(1L)))
  }

  test("lookupOnline: string keys prune lexicographically; no-manifest fallback filters") {
    val store = freshStore
    val v = spark.range(100).selectExpr("format_string('k%03d', id) as k", "id as x")
    store.createTable(FeatureTableSpec("s", Seq("k"), v.schema))
    store.writeTable("s", v, WriteMode.Overwrite)
    store.publishTable("s", numPartitions = 4)
    assert(store.onlineManifest("s").prune(Seq("k042")).length == 1)
    val hit = store.lookupOnline("s", Seq("k042"))
    assert(hit.select("x").as[Long].collect().toSeq == Seq(42L))

    // timestamp leading key → no manifest → fallback still answers
    val tsv = spark.range(10).selectExpr(
      "timestamp_micros(cast(id * 1000000 as long)) as ts", "id as x")
    store.createTable(FeatureTableSpec("ts_t", Seq("ts"), tsv.schema))
    store.writeTable("ts_t", tsv, WriteMode.Overwrite)
    store.publishTable("ts_t", numPartitions = 2)
    val got = store.lookupOnline("ts_t",
      Seq(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3))))
    assert(got.select("x").as[Long].collect().toSeq == Seq(3L))
  }

  test("publishTableJdbc: sink options correct; save() reaches the JDBC layer") {
    val props = new java.util.Properties()
    props.setProperty("user", "svc")
    val opts = FeatureStore.jdbcPublishOptions("jdbc:mysql://db:3306/online", "features_t", props)
    assert(opts("url") == "jdbc:mysql://db:3306/online")
    assert(opts("dbtable") == "features_t")
    assert(opts("truncate") == "true" && opts("user") == "svc")
    val store = freshStore
    val v = Seq((1L, 1.0)).toDF("id", "x")
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Overwrite)
    // the publish plan is the range-partitioned sorted frame
    val plan = store.publishFrame("t", 4).queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"), s"no range partitioning:\n$plan")
    // no RDBMS in the container: executing the sink must fail in the
    // JDBC driver-resolution layer (proves the plan reaches the sink),
    // not in our code
    val e = intercept[Exception] {
      store.publishTableJdbc("t", "jdbc:mysql://nope:3306/db", "t_online")
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[java.sql.SQLException] ||
      t.getMessage != null && t.getMessage.toLowerCase.contains("driver")),
      s"unexpected failure: $e")
  }

  test("publishTableJdbc end-to-end against embedded Derby: write, read back, lookupOnline parity") {
    // Derby ships with Spark (the Hive metastore dependency), so the
    // JDBC sink plan can execute against a real database in-JVM: the
    // K7 publish → online-read round trip of SO:374-387, not just a
    // plan assertion.
    val store = freshStore
    val v = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d"))
      .toDF("id", "x", "seg")
    store.createTable(FeatureTableSpec("t", Seq("id"), v.schema))
    store.writeTable("t", v, WriteMode.Overwrite)
    store.publishTable("t") // parquet online snapshot for lookupOnline
    val url = s"jdbc:derby:memory:graftfs${System.nanoTime()};create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    store.publishTableJdbc("t", url, "t_online", props, numPartitions = 2)
    val back = spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "t_online",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
      .load()
    // full parity with the offline snapshot
    assert(back.orderBy("id").as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d")))
    // point-lookup parity: the DB answers a key exactly like lookupOnline
    val viaJdbc = back.filter(col("id").isin(2L, 4L))
      .orderBy("id").as[(Long, Double, String)].collect().toSeq
    val viaManifest = store.lookupOnline("t", Seq(2L, 4L))
      .orderBy("id").as[(Long, Double, String)].collect().toSeq
    assert(viaJdbc == viaManifest)
    // republish overwrites (truncate path) rather than duplicating rows
    store.writeTable("t", v.withColumn("x", col("x") + 1), WriteMode.Overwrite)
    store.publishTableJdbc("t", url, "t_online", props, numPartitions = 2)
    val again = spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "t_online",
        "driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
      .load()
    assert(again.count() == 4)
    assert(again.filter(col("id") === 1L).select("x").as[Double].head() == 11.0)
  }

  test("two interleaved writers against the same base: loser throws, winner's data intact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = freshStore
    val v1 = Seq((1L, 10L)).toDF("id", "x")
    store.createTable(FeatureTableSpec("race", Seq("id"), v1.schema))
    store.writeTable("race", v1, WriteMode.Overwrite) // base: version 1
    WriterRaceGates.reset()
    // the slow writer's plan blocks inside its parquet write — AFTER it
    // has loaded base version 1, BEFORE it can claim v2 — so both
    // writers provably compute against the same base
    val gate = udf((x: Long) => WriterRaceGates.pass(x))
    val slowDf = Seq((1L, 99L)).toDF("id", "x").withColumn("x", gate(col("x")))
    val loser = Future(store.writeTable("race", slowDf, WriteMode.Overwrite))
    assert(WriterRaceGates.started.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "slow writer never reached its data write")
    store.writeTable("race", Seq((1L, 42L)).toDF("id", "x"), WriteMode.Overwrite)
    WriterRaceGates.release.countDown()
    val err = intercept[java.util.ConcurrentModificationException] {
      Await.result(loser, 60.seconds)
    }
    assert(err.getMessage.contains("race"), err.getMessage)
    // winner's commit survives untouched; loser left no version behind
    assert(store.currentVersion("race") == 2)
    assert(store.readTable("race").as[(Long, Long)].collect().toSeq == Seq((1L, 42L)))
    intercept[IllegalArgumentException](store.readTableVersion("race", 3))
  }
}

/** Latches for the interleaved-writer test, held in a static object so
  * the gate UDF's closure stays serializable (executor threads in
  * local mode still deserialize task closures).
  */
object WriterRaceGates {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var release: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(x: Long): Long = {
    started.countDown()
    release.await()
    x
  }
}
