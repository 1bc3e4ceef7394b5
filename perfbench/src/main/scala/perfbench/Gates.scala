package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** `pipeline_gates`: a fixed, family-stratified sample of the engine's
  * gate queries, each evaluated to the noop sink.
  *
  * The ext, functions, operators, plans and streaming layers work only
  * here; this pass is the repeatable stand-in for the full gate board.
  * Set-up generates the tables, three times. An untimed warm pass, which
  * also dumps every output for the DuckDB oracle check, runs once after
  * it; timed passes follow, each preceded by dropping the engine's cached
  * intermediates so every pass does the same work. The mix is one pass:
  * each gate once.
  */
object Gates {
  val Sf = 0.01
  private val SetupReps = 3

  /** (gate, family): one gate per family of the board, the cheapest that
    * still does the family's work, so the warm pass and two timed passes
    * fit the time budget.
    */
  val sample: Seq[(String, String)] = Seq(
    "q04_demographic_features" -> "fs", "q11_pricing_summary" -> "sql", "q42_percentiles" -> "sketch",
    "q21_dedup_exact_rows" -> "dedup", "q119_binary_ann" -> "ann", "q121_bpe_pairs" -> "lm",
    "q267_url_templates" -> "crawl", "q211_link_graph" -> "graph",
    "q265_stream_revisits" -> "streaming")

  def run(ctx: Ctx, seconds: Double): Result = {
    val spark = ctx.spark
    val st = ctx.stats
    val gates = graft.SparkEntry.queries
    val checks = Seq.newBuilder[String]

    // set-up: generate the tables; the warm pass below runs once
    val data = ctx.dir("data")
    val reps = (0 until SetupReps).map { _ =>
      val gen = ctx.probe.run("setup")(_ => Data.writeTables(spark, data, Sf, ctx.seed))
      gen.result.left.foreach(e => throw e)
      gen.ms / 1000
    }

    // warm pass: every output to parquet for the oracle check
    val out = ctx.dir("oracle_out")
    val tw = System.nanoTime()
    val warmMs = sample.map { case (g, _) =>
      val o = ctx.probe.run("setup") { op =>
        op.call("gate", s"gate.$g")(gates(g)(spark, data)).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$g")
      }
      o.result.left.foreach(e => checks += s"pipeline_gates: $g failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      g -> o.ms
    }.toMap
    val warmS = (System.nanoTime() - tw) / 1e9
    val oracle = graft.SparkEntry.oracleSql
    val json = sample.map { case (g, _) => s"${quote(g)}: ${quote(oracle(g))}" }.mkString("{", ", ", "}")
    Files.write(Paths.get(out, "oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))

    // timed passes, started while time remains
    val t0 = System.nanoTime()
    val samples = Seq.newBuilder[Sample]
    var passes, attempted, failed = 0L
    while (System.nanoTime() - t0 < seconds * 1e9) {
      graft.Pipelines.invalidateStoreCaches()
      spark.catalog.clearCache()
      sample.foreach { case (g, _) =>
        val o = ctx.probe.run("gate")(op => op.noop(op.call("gate", s"gate.$g")(gates(g)(spark, data))))
        if (o.ok) samples += Sample(s"gate.$g", o) else failed += 1
        attempted += 1
      }
      passes += 1
    }
    val timed = (System.nanoTime() - t0) / 1e9
    ctx.probe.flush()

    val got = samples.result()
    val family = sample.toMap
    def perFamily(f: Sample => Double) =
      got.groupMapReduce(x => family(x.kind.stripPrefix("gate.")))(f)(_ + _).withDefaultValue(0.0)
    val famWall = perFamily(_.ms / 1000)
    val famCpu = perFamily(x => st.get("op", s"${x.group}.cpu_ms") / 1000)
    sample.foreach { case (g, fam) =>
      val ms = got.filter(_.kind == s"gate.$g").map(_.ms)
      println(f"gate $g%-24s $fam%-10s warm ${warmMs(g)}%9.1f ms  timed p50 ${Report.median(ms)}%9.1f ms")
    }
    Result(
      checkFailures = checks.result(), attempted = attempted, failed = failed,
      setupReps = reps, setupOnceS = warmS, checkS = 0.0,
      samples = got, mix = sample.map { case (g, _) => s"gate.$g" -> 1 },
      report = Seq(("gates_wall_s", got.map(_.ms).sum / 1000 / passes, "s"), ("passes", passes.toDouble, "count")),
      layers = Report.families.flatMap(f => Seq(
        s"gate.$f.wall_s" -> famWall(f) / passes, s"gate.$f.cpu_s" -> famCpu(f) / passes)).toMap,
      timedKinds = Seq("gate"), timedSeconds = timed)
  }

  /** JSON string literal: quote, backslash and every control character escaped. */
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
