package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** What every workload hands back to [[Main]]. */
final case class Result(
    /** One message per failed output check; empty when all outputs are correct. */
    checkFailures: Seq[String],
    /** Timed ops attempted and failed (a wrong answer counts as failed). */
    attempted: Long,
    failed: Long,
    /** Wall seconds of each set-up repetition. */
    setupReps: Seq[Double],
    /** Set-up work done once, beside the repetitions (input generation, warm-up). */
    setupOnceS: Double,
    /** Seconds spent checking outputs after the timed phase. */
    checkS: Double,
    /** Each successful timed op, by mix kind. */
    samples: Seq[Sample],
    /** The workload's fixed mix: (kind, ops of that kind in one mix). */
    mix: Seq[(String, Int)],
    /** Workload-specific end-to-end metrics for the report: (name, value, unit). */
    report: Seq[(String, Double, String)],
    /** Workload-specific per-layer values, by full metric name. */
    layers: Map[String, Double],
    /** Op kinds whose time counts as the timed phase. */
    timedKinds: Seq[String],
    timedSeconds: Double)

/** One successful timed op: its kind in the mix, its wall time and its
  * job group (which carries its executor CPU).
  */
final case class Sample(kind: String, ms: Double, group: String)

object Sample {
  def apply(kind: String, o: Outcome[_]): Sample = Sample(kind, o.ms, o.group)
}

final case class Ctx(spark: SparkSession, probe: Probe, seed: Long, work: String) {
  def stats: Stats = probe.stats
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): String = { val d = new File(work, name); d.mkdirs(); d.getPath }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")

    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val probe = new Probe(spark, new Stats, new Spans(trace))
    val ctx = Ctx(spark, probe, seed, work)
    val r = workload match {
      case "train_serve" => TrainServe.run(ctx, seconds, race = false)
      case "train_serve_race" => TrainServe.run(ctx, seconds, race = true)
      case "pipeline_gates" => Gates.run(ctx, seconds)
      case other => sys.error(s"unknown workload $other")
    }
    probe.flush()

    val st = probe.stats
    val byKind = r.samples.groupBy(_.kind)
    def cpuMs(x: Sample) = st.get("op", s"${x.group}.cpu_ms")
    // one fixed mix of the workload's ops, from each kind's median
    def mixOf(f: Sample => Double) =
      r.mix.map { case (k, n) => n * Report.median(byKind.getOrElse(k, Nil).map(f)) }.sum
    val checks = r.checkFailures ++
      (if (r.failed > 0) Seq(s"${r.failed} of ${r.attempted} timed ops failed") else Nil) ++
      r.mix.map(_._1).filterNot(byKind.contains).map(k => s"no successful $k op was timed")
    val cpuS = r.timedKinds.map(st.get(_, "executor_cpu_ms")).sum / 1000.0
    val common = Seq(
      ("setup_s", Report.median(r.setupReps), "s"),
      ("mix_ms", mixOf(_.ms), "ms"),
      ("mix_cpu_ms", mixOf(cpuMs), "ms"),
      ("session_s", sessionS, "s"),
      ("setup_once_s", r.setupOnceS, "s"),
      ("ops_per_s", (r.attempted - r.failed) / r.timedSeconds, "1/s"),
      ("cpu_ms_per_op", cpuS * 1000 / math.max(1L, r.attempted), "ms"),
      ("cpu_s", cpuS, "s"),
      ("failed_frac", r.failed.toDouble / math.max(1L, r.attempted), "ratio"),
      ("peak_rss_mb", Report.peakRssMb(), "MB"))
    val endToEnd = common ++ r.report
    val layers = Report.perLayer(st, r.layers)

    println(s"seed=$seed workload=$workload seconds=$seconds trace=$trace cores=${ctx.cores}")
    println("session conf: " + Report.conf(spark))
    println(f"setup: session ${sessionS}%.3f s, repetitions ${r.setupReps.map(x => f"$x%.3f").mkString(" ")} s, once ${r.setupOnceS}%.3f s; timed ${r.timedSeconds}%.3f s; checks ${r.checkS}%.3f s")
    r.mix.foreach { case (k, n) =>
      val xs = byKind.getOrElse(k, Nil)
      println(f"mix $k%-28s x$n%-2d samples ${xs.size}%3d  p50 ${Report.median(xs.map(_.ms))}%10.1f ms  cpu p50 ${Report.median(xs.map(cpuMs))}%9.1f ms")
    }
    endToEnd.foreach { case (n, v, u) => println(f"e2e $n%-24s $v%14.4f $u") }
    println(s"failures by class: " + r.timedKinds.flatMap(k =>
      st.named(k, "failed_class.").map { case (c, n) => s"$k.$c=${n.toLong}" }).mkString(" "))
    checks.foreach(f => println(s"CHECK FAILED: $f"))
    if (trace) {
      layers.foreach { case (n, v, u) => println(f"layer $n%-44s $v%14.4f $u") }
      val traceFile = new File(arg("trace-out"))
      val spans = probe.spans.resolved
      Report.writeSpans(spans, traceFile)
      Report.selfTimes(spans).foreach(println)
      println(s"spans written to $traceFile")
    }

    val metrics = if (trace) layers else endToEnd.filter { case (n, _, _) => Report.gated.contains(n) }
    println("RESULT " + Report.json(checks.isEmpty, r.attempted, r.failed, metrics))
    probe.close()
    spark.stop()
  }

  /** `graft.Bench`'s session shape, with every scratch path inside `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
  }
}
