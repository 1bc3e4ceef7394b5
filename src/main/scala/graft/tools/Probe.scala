package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic probes over named gate queries (guide §1.1 / §7 — where
  * does a gate's wall go?). Every mode runs in the [[graft.GraftSession]]
  * shape after one warm-up count per table. The query modes run each
  * query twice — the first pass JIT/codegen-cold like Bench pass 1, the
  * second the steady state — and clear the feature-store memos, the
  * cached plans and the listener bus before each pass.
  *
  *   - `layers [q1,q2,...]` (default: every query) prints one CSV row
  *     per query for the second pass:
  *     - build_s: time INSIDE the query function before the final
  *       DataFrame returns (fixtures, sub-jobs, checkpoints, streaming
  *       runs — everything a multi-action gate does eagerly);
  *     - exec_s: the noop save of the returned frame;
  *     - stage_s: summed per-stage wall spans (task time);
  *     - njobs/nstages: scheduling volume;
  *     - cpu_s / gc_s: executor CPU and task GC time of the whole query.
  *
  *     exec_s − stage_s ≈ planning + codegen + job-submission latency
  *     of the final action.
  *   - `phases q1[,q2...]` forces analysis/optimization/planning and
  *     prints the tracker's phase durations plus the top rules by time.
  *   - `stages q1[,q2...]` prints, per completed stage (top 25 by CPU),
  *     task count, wall span, executor run/CPU/GC/deserialize time,
  *     shuffle read/write, records and the stage's callsite — the
  *     headless stand-in for the Stages tab.
  *   - `stream q1[,q2...]` prints every micro-batch's progress
  *     (durationMs breakdown, state operators) plus the query
  *     start/terminate stamps.
  *   - `plan <dir> <suffix> q1[,q2...]` writes `.explain("formatted")`
  *     to `<dir>/<query>_<suffix>.txt` (plan evidence files).
  *
  * Usage: sbt "runMain graft.tools.Probe layers q140_delta_cc"
  *
  * Env: SPARK_GRAFT_SF_DIR (default: Bench's sf0.1 dataset),
  * SPARK_GRAFT_CPUS. Diagnostic only — never part of a query path.
  */
object Probe {

  val Usage: String =
    """usage: Probe <mode> ...
      |  layers [q1,q2,...]
      |  phases q1[,q2...]
      |  stages q1[,q2...]
      |  stream q1[,q2...]
      |  plan <dir> <suffix> q1[,q2...]""".stripMargin

  /** A validated command line; `plan` is the plan mode's (dir, suffix). */
  final case class Cmd(mode: String, queries: Seq[String],
      plan: Option[(String, String)] = None)

  /** Checks the mode and every query name; any mistake throws an
    * `IllegalArgumentException` carrying [[Usage]], before a session
    * exists.
    */
  def parse(args: Array[String]): Cmd = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$Usage")
    val known = graft.SparkEntry.queries.keySet
    def names(csv: String): Seq[String] = {
      val ns = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (ns.isEmpty) fail("no query named")
      val unknown = ns.filterNot(known)
      if (unknown.nonEmpty) fail(s"unknown query: ${unknown.mkString(",")}")
      ns
    }
    args.toList match {
      case "layers" :: Nil => Cmd("layers", known.toSeq.sorted)
      case "layers" :: qs :: Nil => Cmd("layers", names(qs).sorted)
      case mode :: qs :: Nil if Set("phases", "stages", "stream")(mode) =>
        Cmd(mode, names(qs))
      case "plan" :: dir :: suffix :: qs :: Nil =>
        Cmd("plan", names(qs), Some((dir, suffix)))
      case mode :: _
          if Set("layers", "phases", "stages", "stream", "plan")(mode) =>
        fail(s"bad arguments for $mode")
      case mode :: _ => fail(s"unknown mode: $mode")
      case Nil => fail("no mode given")
    }
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(graft.GraftSession.defaultCores)
    try new Harness(spark, sfDir).run(cmd)
    finally spark.stop()
  }

  private final case class StageRec(name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuNs: Long, srB: Long, swB: Long, recs: Long, gcMs: Long,
      deserMs: Long, deserCpuNs: Long)

  /** The one job/stage listener: feeds the layers CSV and the stages
    * table.
    */
  private final class StageLog extends SparkListener {
    private val jobCount = new AtomicInteger
    private val done = mutable.ArrayBuffer.empty[StageRec]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobCount.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(i.name.linesIterator.nextOption().getOrElse("").take(120),
        i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
        m.jvmGCTime, m.executorDeserializeTime, m.executorDeserializeCpuTime)
      done.synchronized(done += rec)
    }
    def reset(): Unit = { jobCount.set(0); done.synchronized(done.clear()) }
    def jobs: Int = jobCount.get
    def stages: Vector[StageRec] = done.synchronized(done.toVector)
  }

  private final class Harness(spark: SparkSession, sfDir: String) {
    private val queries = graft.SparkEntry.queries
    private val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    graft.Tables.warmUp(spark, sfDir)

    private def drain(): Unit =
      org.apache.spark.graftmetrics.GraftTaskMetrics.flush(spark.sparkContext)

    /** Two passes over one query, each from dropped memos, an empty
      * plan cache and an empty stage log.
      */
    private def twice(body: Int => Unit): Unit = (1 to 2).foreach { pass =>
      graft.Pipelines.invalidateStoreCaches()
      spark.catalog.clearCache()
      drain()
      log.reset()
      body(pass)
    }

    private def attempt[A](name: String)(a: => A): Option[A] =
      try Some(a)
      catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: $e"); None
      }

    /** The query through the noop sink, (build_s, exec_s); the bus is
      * drained before returning so the stage log holds the whole pass.
      */
    private def noopRun(name: String): (Double, Double) = {
      val t0 = System.nanoTime()
      val df = attempt(name)(queries(name)(spark, sfDir))
      val t1 = System.nanoTime()
      df.foreach(d => attempt(name)(d.write.mode("overwrite").format("noop").save()))
      val t2 = System.nanoTime()
      drain()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }

    def run(cmd: Cmd): Unit = cmd.mode match {
      case "layers" =>
        println("query,build_s,exec_s,stage_s,njobs,nstages,cpu_s,gc_s")
        cmd.queries.foreach { name =>
          twice { pass =>
            val (build, exec) = noopRun(name)
            if (pass == 2) {
              val st = log.stages
              println(f"$name,$build%.3f,$exec%.3f," +
                f"${st.map(_.wallMs).sum / 1e3}%.3f,${log.jobs},${st.size}," +
                f"${st.map(_.cpuNs).sum / 1e9}%.3f,${st.map(_.gcMs).sum / 1e3}%.3f")
            }
          }
        }
      case "stages" =>
        cmd.queries.foreach { name =>
          twice { pass =>
            val (build, exec) = noopRun(name)
            val st = log.stages
            println(f"== $name pass $pass wall=${build + exec}%.3f s, ${st.size} stages, " +
              f"cpu=${st.map(_.cpuNs / 1000000).sum / 1e3}%.3f s ==")
            st.sortBy(-_.cpuNs).take(25).foreach { s =>
              println(f"  tasks=${s.tasks}%3d wall=${s.wallMs}%6d ms run=${s.runMs}%6d " +
                f"cpu=${s.cpuNs / 1000000}%6d ms gc=${s.gcMs}%5d deser=${s.deserMs}%5d/" +
                f"${s.deserCpuNs / 1000000}%5d sr=${s.srB / 1024}%7d KB sw=${s.swB / 1024}%7d KB " +
                f"recs=${s.recs}%9d  ${s.name}")
            }
          }
        }
      case "stream" =>
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit =
            println(s"[stream] started ${e.name} at ${System.nanoTime() / 1000000} ms")
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            println(s"[stream] batch ${p.batchId} rows=${p.numInputRows} " +
              s"durationMs=${p.durationMs} state=${p.stateOperators.mkString(";")}")
          }
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit =
            println(s"[stream] terminated at ${System.nanoTime() / 1000000} ms")
        })
        cmd.queries.foreach { name =>
          twice { pass =>
            val (build, exec) = noopRun(name)
            println(f"== $name pass $pass wall=${build + exec}%.3f s")
          }
        }
      case "phases" =>
        cmd.queries.foreach { name =>
          twice { pass =>
            val t0 = System.nanoTime()
            val df: DataFrame = queries(name)(spark, sfDir)
            val t1 = System.nanoTime()
            val qe = df.queryExecution
            qe.executedPlan // force analysis + optimization + planning
            val t2 = System.nanoTime()
            val phases = qe.tracker.phases.map { case (k, v) =>
              s"$k=${v.durationMs}ms"
            }.mkString(" ")
            println(f"== $name pass $pass build=${(t1 - t0) / 1e9}%.3f s " +
              f"plan=${(t2 - t1) / 1e9}%.3f s  $phases")
            qe.tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(12).foreach {
              case (rule, m) =>
                println(f"   ${m.totalTimeNs / 1e6}%8.1f ms  inv=${m.numInvocations}%5d " +
                  f"eff=${m.numEffectiveInvocations}%4d  ${rule.split('.').last}")
            }
            val nodes = qe.optimizedPlan.collect { case p =>
              p.expressions.map(_.collect { case e => e }.size).sum
            }.sum
            println(s"   optimizedPlan expr-node count ≈ $nodes")
          }
        }
      case "plan" =>
        cmd.plan.foreach { case (dirName, suffix) =>
          val dir = Paths.get(dirName)
          Files.createDirectories(dir)
          cmd.queries.foreach { name =>
            val plan = queries(name)(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(dir.resolve(s"${name}_$suffix.txt"), plan)
            println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
          }
        }
    }
  }
}
