package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every graft main runs in — Bench, Verify
  * and the `tools.Probe` modes — so a benched, verified or probed
  * number always comes from the same planner and the same installed
  * rules.
  *
  * `SPARK_GRAFT_EXTRA_CONF` ("k=v;k2=v2") is the single A/B hook: its
  * entries apply last, over the shape below, and an unset env leaves
  * the shape untouched.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the machine's processor count. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // pin the zone Verify validated under: q54/q56/q57 derive epoch
      // micros from ntz columns, and a host-local zone would bench
      // different (unverified) work
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // r18 optimization: the generated-code cache (STATIC conf,
      // default 100 entries) evicts long before pass 2 re-plans the
      // same 294 queries, so every pass-2 stage re-ran Janino on an
      // identical source. 4096 entries keeps both passes' classes
      // resident — compiled-code reuse, never data reuse (results are
      // recomputed from parquet every pass; OPTIMIZATION_r18.md).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // r19: dynamic partition pruning searches every join for a
      // partitioned-scan side it could filter — this engine's tables
      // are UNPARTITIONED parquet files (TESTDATA.md layout), so the
      // rule can never fire (0 effective invocations board-wide) yet
      // costs real optimizer time on join-dense plans (q227: 0.56–0.71 s
      // per planning pass, measured). A deployment whose tables ARE
      // hive-partitioned turns it back on through SPARK_GRAFT_EXTRA_CONF.
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      // SQL functions + the range-join rewrite rule installed the
      // standard way: q205 gates the rule from naive SQL text, and every
      // main must time and verify that same plan
      .withExtensions(new graft.functions.GraftExtensions)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
