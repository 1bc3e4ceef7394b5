package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fs.{FeatureStore, FeatureTableSpec, WriteMode}

/** Keyed writes alone, a closed loop with one writer: the first phase
  * of `train_serve`, whose last phase keeps merging small deltas beside
  * the lookups.
  *
  * Every merge full-outer-joins its delta onto the whole snapshot and
  * rewrites it, so the fs commit path, the parquet writer and the
  * shuffle do the work while nothing reads. The fixed schedule mixes
  * small deltas with CDC batches, a third-of-the-table refresh and a
  * compact; the table's end state is checked against the one derived
  * from the events without the store's merge.
  */
object Refresh {
  val Keys = 100000L
  private val Hot = Keys / 10
  val Table = "features"
  private val AddColOp = -1 // the set-up's warm-up merge adds the columns
  private val Stride = 7919L // prime, coprime with Keys and Hot: distinct keys per delta

  sealed trait Kind
  case object Small extends Kind
  case object Cdc extends Kind
  case object Large extends Kind
  case object Compact extends Kind

  /** The fixed schedule: a cycle of 6 commits, half of them small; the
    * phase always runs the first cycle, so every kind runs. The
    * add-column merge (FS:411-435) is the set-up's warm-up merge,
    * commit -1.
    */
  def kind(i: Int): Kind = i % 6 match {
    case 1 => Cdc
    case 2 => Compact
    case 3 => Large
    case _ => Small
  }

  private def baseCols(seed: Long, key: Column, tag: Column): Seq[Column] =
    (0 until 10).map(c => Data.cents(seed, s"f$c", xxhash64(key, tag), 0, 9999999).as(s"f$c")) ++
      (0 until 3).map(c => Data.oneOf(seed, s"s$c", xxhash64(key, tag),
        Seq("alpha", "beta", "gamma", "delta", "epsilon")).as(s"s$c"))

  // the two columns the add-column merge brings in (FS:411-435's
  // NumOptionalServices and AvgPriceIncrease)
  private def addedCols(seed: Long, key: Column, tag: Column): Seq[Column] = Seq(
    Data.pick(seed, "n_opt", xxhash64(key, tag), 7).cast("int").as("n_opt"),
    Data.cents(seed, "avg_inc", xxhash64(key, tag), -5000, 5000).as("avg_inc"))

  private def rows(ctx: Ctx, keys: DataFrame, tag: Column, withAdded: Boolean): DataFrame = {
    val k = col("id")
    keys.select(k +: (baseCols(ctx.seed, k, tag) ++
      (if (withAdded) addedCols(ctx.seed, k, tag) else Nil)) :+ col("_ord") :+ col("_delete"): _*)
  }

  def initial(ctx: Ctx): DataFrame =
    rows(ctx, ctx.spark.range(Keys).withColumn("_ord", lit(-1L)).withColumn("_delete", lit(false)),
      lit(-1L), withAdded = false)

  /** The change events of commit `i` (i = -1 is the set-up warm-up
    * merge): keys, all current columns, their order `_ord`, and whether
    * the event deletes the key.
    */
  def events(ctx: Ctx, i: Int, k: Kind): DataFrame = {
    val spark = ctx.spark
    val off = java.lang.Math.floorMod(ctx.seed * 31 + i * 104729L, Keys)
    val withAdded = i >= AddColOp
    val ord = (i + 1) * 10L // also the tag the values are drawn from
    k match {
      case Small | Compact =>
        val updates = spark.range(Keys / 100 * 4 / 5)
          .select(pmod(lit(off) + col("id") * Stride, lit(Hot)).as("id"))
        val inserts = spark.range(Keys / 100 / 5).select((lit(Keys + (i + 1) * 1000L) + col("id")).as("id"))
        rows(ctx, updates.union(inserts).withColumn("_ord", lit(ord)).withColumn("_delete", lit(false)),
          lit(ord), withAdded)
      case Large =>
        val keys = spark.range(Keys / 3).select((col("id") * 3 + (i / 6) % 3).as("id"))
        rows(ctx, keys.withColumn("_ord", lit(ord)).withColumn("_delete", lit(false)),
          lit(ord), withAdded)
      case Cdc =>
        // 1000 distinct keys; every fourth key gets a second event, and
        // the later event (by `_seq`) wins
        val ev = spark.range(2000).select(
          pmod(lit(off) + (col("id") / 2).cast("long") * Stride, lit(Keys)).as("id"),
          (col("id") % 2).as("_e"), col("id").as("_seq"))
          .filter(col("_e") === 0 || (col("id") / 2).cast("long") % 4 === 0)
        val tag = lit(ord) + col("_e")
        ev.select(col("id") +: (baseCols(ctx.seed, col("id"), tag) ++
          (if (withAdded) addedCols(ctx.seed, col("id"), tag) else Nil)) :+
          tag.as("_ord") :+
          (Data.pick(ctx.seed, "cdc_del", xxhash64(col("id"), tag), 4) === 0).as("_delete") :+
          col("_seq"): _*)
    }
  }

  /** The events of commit `i`, materialized so the commit reads ready
    * rows (as it would from an upstream job) and never re-generates them;
    * None for a compact.
    */
  def materialized(ctx: Ctx, i: Int, k: Kind): Option[DataFrame] =
    if (k == Compact) None else Some(events(ctx, i, k).localCheckpoint())

  /** What the commit call receives: the change rows without the event order. */
  private def input(ev: DataFrame): DataFrame =
    if (ev.columns.contains("_seq"))
      ev.withColumn("_op", when(col("_delete"), "delete").otherwise("upsert")).drop("_ord", "_delete")
    else ev.drop("_ord", "_delete")

  /** Run a commit of kind `k` against the store; returns the number of delta rows. */
  def commit(store: FeatureStore, op: Op, k: Kind, in: Option[DataFrame]): Long =
    (k, in) match {
      case (_, None) =>
        op.call("fs", "fs.compact")(store.compact(Table))
        0L
      case (Cdc, Some(ev)) =>
        op.call("fs", "fs.applyChanges")(store.applyChanges(Table, input(ev), "_op", Some("_seq")))
        2000L * 5 / 8
      case (k, Some(ev)) =>
        op.call("fs", "fs.writeTable")(store.writeTable(Table, input(ev), WriteMode.Merge))
        if (k == Large) Keys / 3 else Keys / 100
    }

  /** The table's expected content after the given events, derived from
    * the events alone: per key the last event wins, and a delete removes it.
    */
  def expected(ctx: Ctx, evs: Seq[DataFrame]): DataFrame = {
    val all = evs.map(_.drop("_seq"))
      .foldLeft(initial(ctx))((a, b) => a.unionByName(b, allowMissingColumns = true))
    val w = Window.partitionBy("id").orderBy(col("_ord").desc)
    all.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1 && !col("_delete"))
      .drop("_rn", "_ord", "_delete")
  }

  /** Register the table, write the snapshot, and warm the merge path
    * with commit -1 (`warm`, from [[materialized]]).
    */
  def setUp(ctx: Ctx, store: FeatureStore, op: Op, warm: Option[DataFrame]): Unit = {
    val init = initial(ctx).drop("_ord", "_delete")
    store.createTable(FeatureTableSpec(Table, Seq("id"), init.schema))
    op.call("fs", "fs.writeTable")(store.writeTable(Table, init, WriteMode.Overwrite))
    commit(store, op, Small, warm)
    ()
  }

  final case class Phase(samples: Seq[Sample], attempted: Long, failed: Long, deltaRows: Long,
      events: Seq[DataFrame])

  /** Commits 0, 1, ... until `seconds` have passed and the first cycle
    * of the schedule has run, one writer, each commit's input
    * materialized before it starts. A sample's kind is `commit.<kind>`.
    */
  def phase(ctx: Ctx, store: FeatureStore, seconds: Double, warm: Option[DataFrame]): Phase = {
    val t0 = System.nanoTime()
    val samples = Seq.newBuilder[Sample]
    val evs = Seq.newBuilder[DataFrame] ++= warm
    var i = 0
    var deltaRows, failed = 0L
    while (i < 6 || System.nanoTime() - t0 < seconds * 1e9) {
      val k = kind(i)
      val ev = materialized(ctx, i, k)
      evs ++= ev
      val o = ctx.probe.run("commit")(op => commit(store, op, k, ev))
      o.result match {
        case Right(d) => deltaRows += d; samples += Sample(s"commit.${k.toString.toLowerCase}", o)
        case Left(_) => failed += 1
      }
      i += 1
    }
    Phase(samples.result(), i.toLong, failed, deltaRows, evs.result())
  }

  /** The table's digest against the one derived from `events` alone. */
  def check(ctx: Ctx, store: FeatureStore, events: Seq[DataFrame]): Option[String] = {
    val got = Data.digest(store.readTable(Table))
    val want = Data.digest(expected(ctx, events))
    if (got == want) None else Some(s"refresh: table digest $got != expected $want after ${events.size} events")
  }
}
