package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The board's gate families, a closed set. A gate that fits two takes
  * the first of [[Family.Streaming]], [[Family.Fs]], then its own
  * theme: a gate that runs a stream query is `streaming`, one that
  * writes or reads through the feature store is `fs`.
  */
sealed abstract class Family(val name: String)

object Family {
  /** stream queries: `readStream`/`writeStream`, triggers, state stores */
  case object Streaming extends Family("streaming")
  /** the feature-store surface: feature tables, training sets, PIT, online */
  case object Fs extends Family("fs")
  /** TPC-H shapes and the SQL surface: joins, windows, grouping sets */
  case object Sql extends Family("sql")
  /** sketches and distribution statistics */
  case object Sketch extends Family("sketch")
  /** exact/near dedup, set-similarity joins, contamination */
  case object Dedup extends Family("dedup")
  /** embeddings, ANN indexes, vector math, retrieval */
  case object Ann extends Family("ann")
  /** text analysis, tokenizers/BPE, language models, data mixing */
  case object Lm extends Family("lm")
  /** crawl, HTTP, WARC, URLs, HTML and Markdown */
  case object Crawl extends Family("crawl")
  /** connected components, PageRank, link graphs */
  case object Graph extends Family("graph")
}

/** One gate query: its name, its family, the Spark builder, and the
  * DuckDB oracle SQL for a dataset dir (the dir only matters to gates
  * that read a fixture they wrote next to it).
  *
  * Each gate is declared once, in the `gates` list of the trait that
  * holds its query; [[SparkEntry.gates]] collects them.
  */
final case class Gate(
    name: String,
    family: Family,
    build: (SparkSession, String) => DataFrame,
    oracle: String => String)

object Gate {
  /** `gates`, unchanged, once no name repeats. */
  def registry(gates: Seq[Gate]): Seq[Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty,
      s"gate names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates
  }
}
