package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.Features
import graft.fs._

/** `train_serve`: writes alone, then reads, then reads beside writes.
  *
  * Phase W is [[Refresh]]: keyed commits alone, one writer. Phase A is
  * a closed loop on one thread that alternates training-set assembly
  * (`loadDf` to the noop sink) with batch scoring. Phase B is an open
  * loop: point lookups arrive at a fixed rate while one writer merges a
  * small delta into the refresh table and publishes it, at fixed points
  * on the lookup schedule. Lookup joins, the scorer and the online store
  * do the work; the writer makes the fs layer serve writes beside reads.
  * No op is retried.
  *
  * With `race`, the writer instead merges into and republishes the very
  * table the lookups read. `publishTable` overwrites it in place, so
  * lookups that overlap a publish fail or read a partial snapshot; that
  * variant measures the share and is not one of the benchmark's
  * workloads.
  */
object TrainServe {
  val Sf = 0.1
  val OnlineKeys = 100000L
  private val OnlineFeatures = 8
  private val WideFeatures = 20
  private val Block = OnlineKeys / 20 // keys each race-mode writer cycle rewrites
  val LookupRate = 3.0 // per second: see the README for how it was set
  private val MinLookups = 16
  private val WriterEvery = 8 // lookup slots between writer cycles
  val LookupLimitMs = 1000.0 // a lookup slower than this misses
  // shares of --seconds; each phase also runs its minimum work
  private val ShareW = 0.4
  private val ShareA = 0.2
  private val ShareB = 0.4
  private val SetupReps = 3

  /** One fixed mix of the workload's ops, the unit of `mix_ms`: one
    * small merge, one training set, one scored batch, one
    * merge-and-publish cycle and four lookups. The CDC batch, the
    * compact and the large refresh run once a run, the first of their
    * kind and so partly cold; they are reported beside the mix.
    */
  val mix: Seq[(String, Int)] =
    Seq("commit.small", "train", "score", "publish").map(_ -> 1) :+ ("lookup" -> 4)

  private def mixSeed(seed: Long) = java.lang.Math.floorMod(seed, 1000000007L)

  /** Online feature `j` of `key` at writer cycle `v`, as written. */
  def onlineValue(seed: Long, key: Long, v: Int, j: Int): Double =
    java.lang.Math.floorMod(key * 1000003L + j * 7919L + v * 104729L + mixSeed(seed), 100000L) / 100.0

  private def onlineRows(seed: Long, keys: DataFrame, v: Int): DataFrame =
    keys.select(col("id") +: lit(v).as("v") +: (0 until OnlineFeatures).map(j =>
      (pmod(col("id") * 1000003L + lit(j * 7919L + v * 104729L + mixSeed(seed)), lit(100000L)) / 100.0)
        .as(s"f$j")): _*)

  private def blockStart(seed: Long, c: Int) = java.lang.Math.floorMod(seed * 13 + c * 37199L, OnlineKeys)
  private def inBlock(seed: Long, key: Long, c: Int) =
    java.lang.Math.floorMod(key - blockStart(seed, c), OnlineKeys) < Block

  /** The version of `key` once race-mode writer cycles 1..c are published. */
  def versionAt(seed: Long, key: Long, c: Int): Int =
    (c to 1 by -1).find(inBlock(seed, key, _)).getOrElse(0)

  private def delta(ctx: Ctx, c: Int): DataFrame =
    onlineRows(ctx.seed, ctx.spark.range(Block)
      .select(pmod(lit(blockStart(ctx.seed, c)) + col("id"), lit(OnlineKeys)).as("id")), c)

  /** Lookup `i` asks for 1 + i % 8 keys, zipf-distributed over the
    * online keys; every tenth key asked for is absent from the table. The
    * key counts, the absent positions and the rank-to-key map (which sets
    * how many range files a lookup touches) are the same for every seed,
    * so runs differ only in which ranks they draw.
    */
  def lookupKeys(seed: Long, count: Int): IndexedSeq[Seq[Long]] = {
    val rng = new java.util.Random(seed)
    val cdf = new Array[Double](OnlineKeys.toInt)
    var acc = 0.0
    for (r <- 0 until OnlineKeys.toInt) { acc += 1.0 / (r + 1); cdf(r) = acc }
    def draw(absent: Boolean): Long = {
      if (absent) OnlineKeys + rng.nextInt(OnlineKeys.toInt)
      else {
        val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble() * acc)
        val rank = if (i >= 0) i else -i - 1
        rank * 7919L % OnlineKeys
      }
    }
    IndexedSeq.tabulate(count)(i => Seq.tabulate(1 + i % 8)(j => draw((i * 8 + j) % 10 == 9)))
  }

  private def spine(ctx: Ctx, nCust: Long, i: Int): DataFrame =
    ctx.spark.range(nCust).filter(Data.pick(ctx.seed, s"spine$i", col("id"), 4) === 0)
      .select(col("id").as("c_custkey"), (Data.pick(ctx.seed, s"label$i", col("id"), 2) === 1).as("churn"))

  private def batch(ctx: Ctx, nCust: Long, i: Int): DataFrame =
    ctx.spark.range(nCust).filter(Data.pick(ctx.seed, s"batch$i", col("id"), 3) === 0)
      .select(col("id").as("c_custkey"))

  private def wideRows(ctx: Ctx, nCust: Long): DataFrame =
    ctx.spark.range(nCust).select(col("id").as("c_custkey") +: (0 until WideFeatures).map(j =>
      Data.cents(ctx.seed, s"w$j", col("id"), -100000, 100000).as(s"w$j")): _*)

  private final class Env(val store: FeatureStore, val registry: ScorerRegistry,
      val trainLookups: Seq[FeatureLookup], val scorer: LogisticScorer)

  private val customerKey = Seq("c_custkey")

  /** The read side of the store: features from the raw tables through
    * `etl.Features`, the wide table and its bucketed copy, and the scorer.
    */
  private def build(ctx: Ctx, op: Op, store: FeatureStore, nCust: Long,
      raw: Map[String, DataFrame]): Env = {
    def register(name: String, df: DataFrame, buckets: Int = 0): Unit =
      store.createTable(FeatureTableSpec(name, customerKey, df.schema, buckets = buckets))
    val orders = raw("orders")
    val cn = raw("customer").join(broadcast(raw("nation")), col("c_nationkey") === col("n_nationkey"))
    op.call("etl", "etl.computeAndWrite") {
      register("order_features", Features.computeOrderFeatures(orders))
      Features.computeOrderFeatures.computeAndWrite(store, orders, "order_features", WriteMode.Overwrite)
      register("customer_demographics", Features.customerDemographics(cn))
      Features.customerDemographics.computeAndWrite(store, cn, "customer_demographics", WriteMode.Overwrite)
    }
    val wide = wideRows(ctx, nCust)
    register("cust_wide", wide)
    register("cust_wide_b", wide, buckets = ctx.cores)
    op.call("fs", "fs.writeTable") {
      store.writeTable("cust_wide", wide, WriteMode.Overwrite)
      store.writeTable("cust_wide_b", wide, WriteMode.Overwrite)
    }

    val rng = new scala.util.Random(ctx.seed)
    val scoreFeatures = Seq("n_orders", "total_spent", "avg_order_price", "n_open_orders") ++
      (0 until 10).map(j => s"w$j")
    val scorer = LogisticScorer("churn", 1,
      scoreFeatures.take(4).map(FeatureLookup("order_features", _, "c_custkey")) ++
        scoreFeatures.drop(4).map(FeatureLookup("cust_wide", _, "c_custkey")),
      scoreFeatures.map(f => f -> (rng.nextInt(201) - 100) / 100000.0).toMap, bias = 0.5)
    val registry = new ScorerRegistry()
    registry.register(scorer)
    val trainLookups = FeatureLookup.allFeatures(store, "order_features", customerKey) ++
      Seq("c_mktsegment", "nation_name", "c_acctbal").map(FeatureLookup("customer_demographics", _, "c_custkey")) ++
      FeatureLookup.allFeatures(store, "cust_wide_b", customerKey)
    new Env(store, registry, trainLookups, scorer)
  }

  /** One set-up repetition, into a fresh store: the read side, the
    * refresh table with its warm-up merge `warm`, and the published online
    * table with one lookup to warm the lookup path (the open loop starts
    * on a schedule).
    */
  private def setUp(ctx: Ctx, op: Op, rep: Int, nCust: Long, raw: Map[String, DataFrame],
      warm: Option[DataFrame]): (FeatureStore, Env) = {
    val store = new FeatureStore(ctx.spark, ctx.dir(s"store$rep"))
    val env = build(ctx, op, store, nCust, raw)
    Refresh.setUp(ctx, store, op, warm)
    val online = onlineRows(ctx.seed, ctx.spark.range(OnlineKeys).toDF("id"), 0)
    store.createTable(FeatureTableSpec("online", Seq("id"), online.schema))
    op.call("fs", "fs.writeTable")(store.writeTable("online", online, WriteMode.Overwrite))
    op.call("fs", "fs.publishTable")(store.publishTable("online"))
    store.lookupOnline("online", Seq(1L, 2L)).collect()
    (store, env)
  }

  def run(ctx: Ctx, seconds: Double, race: Boolean): Result = {
    val nCust = math.round(150000 * Sf)
    val st = ctx.stats

    // inputs, generated once
    val t0 = System.nanoTime()
    val raw = Data.tables(ctx.spark, Sf, ctx.seed).collect {
      case (n, df) if Set("customer", "nation", "orders")(n) => n -> df.localCheckpoint()
    }.toMap
    val warm = Refresh.materialized(ctx, -1, Refresh.Small)
    val inputS = (System.nanoTime() - t0) / 1e9

    var set: Option[(FeatureStore, Env)] = None
    val reps = (0 until SetupReps).map { r =>
      val o = ctx.probe.run("setup")(op => setUp(ctx, op, r, nCust, raw, warm))
      val next = o.result.fold(e => throw e, identity)
      set.foreach(p => Data.deleteRecursively(new java.io.File(p._1.root)))
      set = Some(next)
      o.ms / 1000
    }
    val (store, env) = set.get
    // warm the read paths once, so that phase A times no first-of-kind op
    val t1 = System.nanoTime()
    ctx.probe.run("setup") { op =>
      op.noop(FeatureStoreClient.createTrainingSet(store, spine(ctx, nCust, -1), env.trainLookups, "churn").loadDf)
      op.noop(env.registry.scoreBatch(store, "models:/churn/1", batch(ctx, nCust, -1)))
    }.result.left.foreach(e => throw e)
    val onceS = inputS + (System.nanoTime() - t1) / 1e9

    // Phase W: commits alone
    val tW = System.nanoTime()
    val writes = Refresh.phase(ctx, store, seconds * ShareW, warm)
    val samples = Seq.newBuilder[Sample] ++= writes.samples
    var attempted = writes.attempted
    var failed = writes.failed

    // Phase A: closed loop, one thread, at least two of each op
    var scoredRows = 0L
    var scoreMs = 0.0
    val tA = System.nanoTime()
    var a = 0
    while (a < 4 || System.nanoTime() - tA < seconds * ShareA * 1e9) {
      if (a % 2 == 0) {
        val sp = spine(ctx, nCust, a).localCheckpoint()
        val o = ctx.probe.run("train") { op =>
          val ts = FeatureStoreClient.createTrainingSet(store, sp, env.trainLookups, "churn")
          op.noop(op.call("fs", "fs.loadDf")(ts.loadDf))
        }
        if (o.ok) samples += Sample("train", o) else failed += 1
      } else {
        val b = batch(ctx, nCust, a).localCheckpoint()
        val rows = b.count()
        val o = ctx.probe.run("score") { op =>
          op.noop(op.call("fs", "fs.scoreBatch")(env.registry.scoreBatch(store, "models:/churn/1", b)))
        }
        if (o.ok) { samples += Sample("score", o); scoreMs += o.ms; scoredRows += rows } else failed += 1
      }
      attempted += 1
      a += 1
    }

    // Phase B: lookups at a fixed rate beside one merge-and-publish writer
    val nB = math.max(MinLookups, (seconds * ShareB * LookupRate).toInt)
    val keys = lookupKeys(ctx.seed, nB)
    val cycles = (nB + WriterEvery - 1) / WriterEvery
    val published = new AtomicInteger(0)
    val cycleEvents = new ConcurrentLinkedQueue[DataFrame]()
    val cycleSamples = new ConcurrentLinkedQueue[Sample]()
    val writerFailed = new AtomicLong()
    val served = serve(ctx, store, keys, published, race, cycles) { c =>
      val ev = if (race) None else Refresh.materialized(ctx, 100 + c, Refresh.Small)
      val o = ctx.probe.run("publish") { op =>
        if (race) {
          op.call("fs", "fs.writeTable")(store.writeTable("online", delta(ctx, c), WriteMode.Merge))
          op.call("fs", "fs.publishTable")(store.publishTable("online"))
        } else {
          Refresh.commit(store, op, Refresh.Small, ev)
          op.call("fs", "fs.publishTable")(store.publishTable(Refresh.Table))
        }
      }
      if (o.ok) { ev.foreach(cycleEvents.add); published.set(c); cycleSamples.add(Sample("publish", o)) }
      else writerFailed.incrementAndGet()
      ()
    }
    val timed = (System.nanoTime() - tW) / 1e9
    ctx.probe.flush()
    samples ++= served.ok.asScala ++= cycleSamples.asScala
    attempted += nB + cycles
    failed += served.failed.get() + writerFailed.get()

    val tc = System.nanoTime()
    val checks = Seq.newBuilder[String] ++= Refresh.check(ctx, store, writes.events ++ cycleEvents.asScala)
    // training sets and scores against plain-Spark joins of the same inputs
    val ordRef = Features.orderFeatures(raw("orders"))
    val demoRef = raw("customer").join(raw("nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_name").as("nation_name"), col("c_acctbal"))
    val wideRef = wideRows(ctx, nCust)
    val sp0 = spine(ctx, nCust, 0)
    val trainWant = sp0.join(ordRef, customerKey, "left_outer").join(demoRef, customerKey, "left_outer")
      .join(wideRef, customerKey, "left_outer")
    val trainGot = TrainingSet(store, sp0, env.trainLookups, Some("churn")).loadDf
    val (gotN, gotH) = Data.digest(trainGot)
    if ((gotN, gotH) != Data.digest(trainWant) || gotN != sp0.count())
      checks += s"train_serve: training set digest ${(gotN, gotH)} != plain join ${Data.digest(trainWant)}"
    val b1 = batch(ctx, nCust, 1)
    val w = env.scorer.weights.toSeq.sortBy(_._1)
    val z = w.map { case (c, x) => coalesce(col(c).cast("double"), lit(0.0)) * lit(x) }
      .foldLeft(lit(env.scorer.bias))(_ + _)
    val scoreWant = b1.join(ordRef.select("c_custkey", w.map(_._1).filter(!_.startsWith("w")): _*),
      customerKey, "left_outer")
      .join(wideRef.select("c_custkey", w.map(_._1).filter(_.startsWith("w")): _*), customerKey, "left_outer")
      .withColumn("prediction", when(z > 0, "True").otherwise("False"))
    val scoreGot = env.registry.scoreBatch(store, "models:/churn/1", b1)
    if (Data.digest(scoreGot) != Data.digest(scoreWant))
      checks += s"train_serve: score digest ${Data.digest(scoreGot)} != plain ${Data.digest(scoreWant)}"
    if (served.wrong.get() > 0) checks += s"train_serve: ${served.wrong.get()} lookups returned wrong rows"

    val lateMs = served.late.asScala.toSeq
    def mean(kind: String, name: String) = st.get(kind, name) / math.max(1.0, st.get(kind, "ops"))
    val storeMb = Data.sizeBytes(new java.io.File(store.root)) / Probe.MB
    Result(
      checkFailures = checks.result(), attempted = attempted, failed = failed,
      setupReps = reps, setupOnceS = onceS, checkS = (System.nanoTime() - tc) / 1e9,
      samples = samples.result(), mix = mix,
      report = Report.latency("commit_ms", writes.samples.map(_.ms)) ++
        Seq("cdc", "compact", "large").map(k =>
          (s"commit_${k}_ms", Report.median(writes.samples.filter(_.kind == s"commit.$k").map(_.ms)), "ms")) ++
        Report.latency("train_ms", samples.result().filter(_.kind == "train").map(_.ms)) ++ Seq(
        ("score_rows_per_s", scoredRows / math.max(1e-9, scoreMs / 1000), "rows/s")) ++
        Report.latency("lookup_ms", served.ok.asScala.toSeq.map(_.ms)) ++ Seq(
        ("lookup_goodput_per_s", served.good.get() / (nB / LookupRate), "1/s"),
        ("lookup_failed_frac", served.failed.get().toDouble / nB, "ratio"),
        ("lookup_late_ms_p50", Report.median(lateMs), "ms"),
        ("lookup_late_ms_max", if (lateMs.isEmpty) Double.NaN else lateMs.max, "ms"),
        ("publish_ms_p50", Report.median(cycleSamples.asScala.toSeq.map(_.ms)), "ms"),
        ("store_mb", storeMb, "MB")),
      layers = Map(
        "commit.fs.busy_ms" -> mean("commit", "call.fs_ms"),
        "commit.fs.rows_written_per_delta_row" ->
          st.get("commit", "records_written") / math.max(1.0, writes.deltaRows.toDouble),
        "commit.fs.files_written" -> mean("commit", "files_written"),
        "commit.fs.meta_ops" -> mean("commit", "meta_ops"),
        "commit.fs.conflicts" -> st.get("commit", "failed_class.ConcurrentModificationException"),
        "train.fs.build_ms" -> mean("train", "call.fs_ms"),
        "train.fs.exec_ms" -> mean("train", "call.action_ms"),
        "score.fs.build_ms" -> mean("score", "call.fs_ms"),
        "score.fs.exec_ms" -> mean("score", "call.action_ms"),
        "publish.fs.busy_ms" -> mean("publish", "call.fs_ms"),
        "lookup.fs.build_ms" -> mean("lookup", "call.fs_ms"),
        "lookup.fs.exec_ms" -> mean("lookup", "call.action_ms"),
        "lookup.fs.queue_ms" -> lateMs.sum / math.max(1, lateMs.size),
        "lookup.fs.files_scanned" -> mean("lookup", "files_scanned"),
        "lookup.fs.rows_scanned_per_row_returned" ->
          st.get("lookup", "rows_scanned") / math.max(1.0, served.rows.get().toDouble),
        "lookup.fs.failed" -> served.failed.get().toDouble,
        "lookup.fs.wrong_rows" -> served.wrong.get().toDouble,
        "setup.etl.compute_and_write_ms" -> st.get("setup", "call.etl_ms") / SetupReps),
      timedKinds = Seq("train", "score", "lookup", "commit", "publish"), timedSeconds = timed)
  }

  /** Outcomes of the lookup phase; `ok` holds the lookups that returned
    * the right rows, timed from their due time.
    */
  private final class Served {
    val ok = new ConcurrentLinkedQueue[Sample]()
    val late = new ConcurrentLinkedQueue[Double]()
    val good, failed, wrong, rows = new AtomicLong()
  }

  /** Lookups of `keys` on `cores - 1` client threads, each due at a fixed
    * rate (an open loop), while one more thread runs `cycle(c)` for
    * c = 1..cycles, due at lookup slot (c - 1) * `WriterEvery` + 1, so
    * that each merge-and-publish lands among the lookups that follow it.
    */
  private def serve(ctx: Ctx, store: FeatureStore, keys: IndexedSeq[Seq[Long]], published: AtomicInteger,
      race: Boolean, cycles: Int)(cycle: Int => Unit): Served = {
    val out = new Served
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 200000000L
    def due(i: Int): Long = t0 + (i / LookupRate * 1e9).toLong
    def sleepUntil(t: Long): Unit = {
      val d = t - System.nanoTime()
      if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
    }
    def lookup(i: Int): Unit = {
      val dueAt = due(i)
      sleepUntil(dueAt)
      val before = published.get()
      val o = ctx.probe.run("lookup") { op =>
        val df = op.call("fs", "fs.lookupOnline")(store.lookupOnline("online", keys(i)))
        op.call("action", "action.collect")(df.collect())
      }
      val after = published.get()
      out.late.add((o.startNs - dueAt) / 1e6)
      o.result match {
        case Right(rows) =>
          out.rows.addAndGet(rows.length.toLong)
          // only the race variant republishes the table the lookups read
          val versions = if (race) before to after + 1 else 0 to 0
          if (rowsCorrect(ctx.seed, rows, keys(i), versions)) {
            val ms = (o.endNs - dueAt) / 1e6
            out.ok.add(Sample("lookup", ms, o.group))
            if (ms <= LookupLimitMs) out.good.incrementAndGet()
          } else { out.wrong.incrementAndGet(); out.failed.incrementAndGet() }
        case Left(_) => out.failed.incrementAndGet()
      }
      ()
    }
    val clients = math.max(1, ctx.cores - 1)
    val pool = Executors.newFixedThreadPool(clients + 1)
    try {
      val writer = pool.submit(new Runnable {
        def run(): Unit = (1 to cycles).foreach { c => sleepUntil(due((c - 1) * WriterEvery + 1)); cycle(c) }
      })
      val readers = (0 until clients).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < keys.size) { lookup(i); i = next.getAndIncrement() }
        }
      }))
      (writer +: readers).foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    out
  }

  /** Exactly the requested present keys, each at its version after one
    * of the writer cycles in `versions` (0: as set up).
    */
  def rowsCorrect(seed: Long, rows: Array[Row], keys: Seq[Long], versions: Range): Boolean = {
    val present = keys.filter(_ < OnlineKeys).toSet
    val ids = rows.map(_.getAs[Long]("id"))
    ids.length == present.size && ids.toSet == present && rows.forall { r =>
      val k = r.getAs[Long]("id")
      val v = r.getAs[Int]("v")
      versions.exists(c => versionAt(seed, k, c) == v) &&
      (0 until OnlineFeatures).forall(j => r.getAs[Double](s"f$j") == onlineValue(seed, k, v, j))
    }
  }
}
