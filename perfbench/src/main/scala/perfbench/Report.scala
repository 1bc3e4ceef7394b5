package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

object Report {

  /** End-to-end metrics in the result line: the ones BENCHMARK.json gates. */
  val gated: Seq[String] = Seq("setup_s", "mix_ms", "mix_cpu_ms")

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The p50, and the p90 when at least ten samples lie beyond it. */
  def latency(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    Seq((s"${name}_p50", median(xs), "ms")) ++
      (if (xs.size * 0.1 >= 10) Seq((s"${name}_p90", percentile(xs, 0.9), "ms")) else Nil)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def conf(spark: SparkSession): String =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.codegen.cache.maxEntries", "spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "spark.sql.extensions", "spark.sql.adaptive.enabled")
      .map(k => s"$k=${spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k)).getOrElse("<default>")}")
      .mkString(" ")

  private val engine = Seq(
    ("plan_ms", "ms"), ("codegen_ms", "ms"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"), ("empty_task_frac", "ratio"), ("task_wait_ms", "ms"),
    ("executor_cpu_ms", "ms"), ("gc_ms", "ms"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))
  private val storage = Seq(("read_ops", "count"), ("write_ops", "count"), ("bytes_written_mb", "MB"))
  private val ops = Seq("setup", "commit", "train", "score", "lookup", "publish", "gate")
  // short serving ops neither spill nor collect garbage worth a counter;
  // leaving them out keeps the list within 128 names
  private val light = Set("score", "lookup", "publish")

  val families: Seq[String] =
    Seq("fs", "sql", "sketch", "dedup", "ann", "lm", "crawl", "graph", "streaming")

  /** Names the workloads fill in themselves (0 where a workload has no such op). */
  val workloadLayers: Seq[(String, String)] = Seq(
    ("commit.fs.busy_ms", "ms"), ("commit.fs.rows_written_per_delta_row", "ratio"),
    ("commit.fs.files_written", "count"), ("commit.fs.meta_ops", "count"),
    ("commit.fs.conflicts", "count"),
    ("train.fs.build_ms", "ms"), ("train.fs.exec_ms", "ms"),
    ("score.fs.build_ms", "ms"), ("score.fs.exec_ms", "ms"),
    ("publish.fs.busy_ms", "ms"),
    ("lookup.fs.build_ms", "ms"), ("lookup.fs.exec_ms", "ms"), ("lookup.fs.queue_ms", "ms"),
    ("lookup.fs.files_scanned", "count"), ("lookup.fs.rows_scanned_per_row_returned", "ratio"),
    ("lookup.fs.failed", "count"), ("lookup.fs.wrong_rows", "count"),
    ("setup.etl.compute_and_write_ms", "ms")) ++
    families.flatMap(f => Seq((s"gate.$f.wall_s", "s"), (s"gate.$f.cpu_s", "s")))

  /** Every per-layer metric: engine and storage counters as means per op
    * of each kind, then the workload-specific values.
    */
  def perLayer(st: Stats, own: Map[String, Double]): Seq[(String, Double, String)] = {
    val generic = ops.flatMap { k =>
      val n = math.max(1.0, st.get(k, "ops"))
      val eng = engine.filterNot { case (c, _) => light(k) && (c == "gc_ms" || c == "spill_mb") }
        .map { case (c, u) =>
          val v =
            if (c == "empty_task_frac") st.get(k, "empty_tasks") / math.max(1.0, st.get(k, "tasks"))
            else st.get(k, c) / n
          (s"$k.engine.$c", v, u)
        }
      eng ++ storage.map { case (c, u) => (s"$k.storage.$c", st.get(k, c) / n, u) }
    }
    generic ++ workloadLayers.map { case (name, u) => (name, own.getOrElse(name, 0.0), u) }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def writeSpans(spans: Seq[Span], f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": "${s.layer}", """ +
        s""""name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    } finally w.close()
  }

  /** Per layer: span count, total time, and self time (duration minus the
    * part of it covered by child spans).
    */
  def selfTimes(spans: Seq[Span]): Seq[String] = {
    val children = spans.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      total + math.max(0L, curE - curS)
    }
    val rows = spans.groupBy(s => if (s.layer == "op") s"op.${s.name}" else s.layer).toSeq.map {
      case (layer, ss) =>
        val tot = ss.map(s => s.end - s.start).sum / 1e6
        val self = ss.map(s => (s.end - s.start) - covered(s)).sum / 1e6
        (layer, ss.size, tot, self)
    }.sortBy(-_._4)
    f"self ${"layer"}%-15s ${"spans"}%8s ${"total_ms"}%12s ${"self_ms"}%12s" +:
      rows.map { case (l, n, t, s) => f"self $l%-15s $n%8d $t%12.1f $s%12.1f" }
  }
}
