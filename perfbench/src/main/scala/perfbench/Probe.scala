package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Named sums per op kind: `stats.add("commit", "jobs", 1)`. */
final class Stats {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  def add(kind: String, name: String, v: Double): Unit =
    m.computeIfAbsent(s"$kind.$name", _ => new DoubleAdder).add(v)
  def get(kind: String, name: String): Double =
    Option(m.get(s"$kind.$name")).map(_.sum).getOrElse(0.0)
  /** Every `name` recorded under `kind` whose name starts with `prefix`. */
  def named(kind: String, prefix: String): Map[String, Double] =
    m.asScala.collect { case (k, v) if k.startsWith(s"$kind.$prefix") =>
      k.stripPrefix(s"$kind.$prefix") -> v.sum }.toMap
}

/** One span: a layer call, an action, or a Spark job or stage. Times are
  * `System.nanoTime` values; listener times (epoch ms) are mapped onto
  * that clock.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Long, end: Long)

/** Spans held in memory until the run ends. Jobs and stages are linked
  * to their op through the job group; their parent span is resolved in
  * [[Spans.resolved]].
  */
final class Spans(val enabled: Boolean) {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val jobs = new ConcurrentHashMap[Int, (Long, Long)]() // jobId -> (op, start)
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) { q.add(s); () }
  private def ns(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  def jobStart(jobId: Int, op: Long, epochMs: Long, stageIds: Seq[Int]): Unit = if (enabled) {
    jobs.put(jobId, (op, ns(epochMs)))
    stageIds.foreach(jobOfStage.putIfAbsent(_, jobId))
  }
  def jobEnd(jobId: Int, epochMs: Long): Unit = if (enabled) {
    Option(jobs.remove(jobId)).foreach { case (op, start) =>
      add(Span(-jobId.toLong - 1, 0, op, "spark.job", "job", start, ns(epochMs)))
    }
  }
  def stage(stageId: Int, op: Long, submittedMs: Long, completedMs: Long): Unit = if (enabled) {
    val job = Option(jobOfStage.get(stageId)).map(j => -j.toLong - 1).getOrElse(0L)
    add(Span(nextId(), job, op, "spark.stage", "stage", ns(submittedMs), ns(completedMs)))
  }

  /** All spans, each job parented to the innermost benchmark span of its
    * op that was open when the job started.
    */
  def resolved: Seq[Span] = {
    val all = q.asScala.toSeq
    val byOp = all.filter(s => !s.layer.startsWith("spark.")).groupBy(_.op)
    // a job's span id is its negative job id: Spark job ids are unique per
    // context, and benchmark span ids are positive
    all.map {
      case j if j.layer == "spark.job" =>
        val enclosing = byOp.getOrElse(j.op, Nil)
          .filter(s => s.start <= j.start && j.start <= s.end)
        val inner = if (enclosing.isEmpty) 0L else enclosing.maxBy(_.start).id
        j.copy(parent = inner)
      case s => s
    }
  }
}

/** Counters attributed to op kinds through the job group
  * (`<kind>#<op id>`): task, stage and job events give the engine
  * counters; each SQL execution's end event carries its
  * `QueryExecution`, which gives planning phases, files scanned and
  * files written.
  */
final class Probe(spark: SparkSession, val stats: Stats, val spans: Spans) {
  import Probe._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).filter(_.contains("#"))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties).foreach { g =>
      stats.add(kindOf(g), "jobs", 1)
      e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      spans.jobStart(e.jobId, opOf(g), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.jobEnd(e.jobId, e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      groupOf(e.properties).foreach { g =>
        stageGroup.put(e.stageInfo.stageId, g)
        stats.add(kindOf(g), "stages", 1)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (g <- Option(stageGroup.get(i.stageId)); s <- i.submissionTime; c <- i.completionTime)
        spans.stage(i.stageId, opOf(g), s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val k = kindOf(g)
        val info = e.taskInfo
        val empty = m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0
        val delay = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        stats.add(k, "tasks", 1)
        stats.add(k, "empty_tasks", if (empty) 1 else 0)
        stats.add(k, "task_wait_ms", math.max(0L, delay).toDouble)
        stats.add(k, "executor_cpu_ms", m.executorCpuTime / 1e6)
        stats.add("op", s"$g.cpu_ms", m.executorCpuTime / 1e6)
        stats.add(k, "gc_ms", m.jvmGCTime.toDouble)
        stats.add(k, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        stats.add(k, "spill_mb", m.diskBytesSpilled / MB)
        stats.add(k, "records_written", m.outputMetrics.recordsWritten.toDouble)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.contains("#")).foreach(execGroup.put(s.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        for (g <- Option(execGroup.remove(end.executionId));
             qe <- org.apache.spark.sql.perfbench.SqlEvents.queryExecution(end))
          measure(qe).foreach { case (n, v) => stats.add(kindOf(g), n, v) }
      case _ => ()
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Drain the listener bus, so every finished job's counters are in. */
  def flush(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
  }

  private val ops = new AtomicLong()

  /** Run one op of `kind`: tag its Spark jobs with the job group, cut the
    * process-wide counters around it, and record its span. A throw is
    * counted as a failed op with its exception class and returned, never
    * retried.
    */
  def run[T](kind: String)(body: Op => T): Outcome[T] = {
    val id = ops.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(s"$kind#$id", kind, interruptOnCancel = false)
    val op = new Op(id, kind, spans, stats)
    val before = Cut.now()
    val t0 = System.nanoTime()
    val res = try Right(body(op)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val after = Cut.now()
    sc.clearJobGroup()
    spans.add(Span(op.spanId, 0, id, "op", kind, t0, t1))
    stats.add(kind, "ops", 1)
    stats.add(kind, "wall_ms", (t1 - t0) / 1e6)
    after.minus(before).foreach { case (n, v) => stats.add(kind, n, v) }
    res.left.foreach { e =>
      stats.add(kind, "failed", 1)
      stats.add(kind, s"failed_class.${e.getClass.getSimpleName}", 1)
    }
    Outcome(res, s"$kind#$id", t0, t1)
  }
}

final case class Outcome[T](result: Either[Throwable, T], group: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = result.isRight
}

/** One op in flight. Each layer call is timed into `<kind>.call.<layer>_ms`
  * and, in a traced run, recorded as a span under the innermost open call.
  */
final class Op(val id: Long, val kind: String, spans: Spans, stats: Stats) {
  val spanId: Long = spans.nextId()
  private var parents = List(spanId)

  def call[T](layer: String, name: String)(body: => T): T = {
    val sid = spans.nextId()
    val parent = parents.head
    parents = sid :: parents
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      parents = parents.tail
      stats.add(kind, s"call.${layer}_ms", (t1 - t0) / 1e6)
      spans.add(Span(sid, parent, id, layer, name, t0, t1))
    }
  }

  /** Evaluate every column and discard the rows. */
  def noop(df: DataFrame): Unit =
    call("action", "action.noop")(df.write.mode("overwrite").format("noop").save())
}

/** Process-wide counters cut around each op: codegen compile time (the
  * compile count delta times the compile-time histogram mean), local
  * filesystem operations for all threads ([[CountingLocalFs]]) and bytes
  * written (Hadoop `file` statistics), and the op thread's own
  * filesystem operations (the driver-side metadata work of the layer
  * call). Where ops overlap in time (train_serve's serving phase), the
  * all-thread counters are charged to every overlapping op.
  */
final case class Cut(values: Map[String, Double]) {
  def minus(o: Cut): Map[String, Double] =
    values.collect { case (k, v) if k != "codegen_mean_ms" => k -> (v - o.values(k)) } +
      ("codegen_ms" -> (values("codegen_compiles") - o.values("codegen_compiles")) *
        values("codegen_mean_ms"))
}

object Cut {
  def now(): Cut = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val file = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Cut(Map(
      "codegen_compiles" -> h.getCount.toDouble,
      "codegen_mean_ms" -> h.getSnapshot.getMean,
      "read_ops" -> CountingLocalFs.readOps.get.toDouble,
      "write_ops" -> CountingLocalFs.writeOps.get.toDouble,
      "bytes_written_mb" -> file.map(_.getBytesWritten).sum / Probe.MB,
      "meta_ops" -> CountingLocalFs.threadCount.toDouble))
  }
}

object Probe {
  val MB: Double = 1024.0 * 1024.0
  def kindOf(group: String): String = group.takeWhile(_ != '#')
  def opOf(group: String): Long = group.dropWhile(_ != '#').drop(1).toLong

  /** Planning time, files and rows scanned, files written by one query
    * execution, walking through command results, adaptive plans and
    * query stages.
    */
  def measure(qe: org.apache.spark.sql.execution.QueryExecution): Seq[(String, Double)] = {
    var filesScanned, rowsScanned, filesWritten = 0L
    def metric(p: SparkPlan, n: String) = p.metrics.get(n).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case d: DataWritingCommandExec =>
          filesWritten += d.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case f: FileSourceScanExec =>
          filesScanned += metric(f, "numFiles")
          rowsScanned += metric(f, "numOutputRows")
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case NonFatal(_) => () }
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    Seq("plan_ms" -> planMs, "files_scanned" -> filesScanned.toDouble,
      "rows_scanned" -> rowsScanned.toDouble, "files_written" -> filesWritten.toDouble)
  }
}
