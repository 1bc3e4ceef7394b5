package graft

import org.scalatest.funsuite.AnyFunSuite

class GateRegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates
  private val dirA = "/data/tpch/sf0.01"
  private val dirB = "/mnt/other data/sf0.1"

  test("the registry holds 294 gates with unique q<N>_<name> names") {
    assert(gates.size === 294)
    val names = gates.map(_.name)
    assert(names.distinct.size === names.size)
    val bad = names.filterNot(_.matches("""q\d+_[a-z0-9_]+"""))
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("every gate has a non-empty oracle and the views agree") {
    val empty = gates.filter(_.oracle(dirA).trim.isEmpty).map(_.name)
    assert(empty.isEmpty, empty.mkString(", "))
    assert(SparkEntry.oracleSqlFor(dirA).keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.queries.keySet === gates.map(_.name).toSet)
    assert(gates.forall(g => SparkEntry.queries(g.name) eq g.build))
    assert(gates.map(_.family.name).toSet === Set(
      "streaming", "fs", "sql", "sketch", "dedup", "ann", "lm", "crawl", "graph"))
  }

  test("q44 and q196 oracles read the fixtures of the dataset dir they are given") {
    for ((d, other) <- Seq(dirA -> dirB, dirB -> dirA)) {
      val sql = SparkEntry.oracleSqlFor(d)
      val csv = PipelinesExt.csvFixturePathFor(d)
      val jsonl = PipelinesRound12.jsonlFixturePathFor(d)
      assert(sql("q44_csv_ingest").contains(s"read_csv_auto('$csv/*.csv'"))
      assert(sql("q196_jsonl_ingest").contains(s"read_json('$jsonl/*.json'"))
      assert(!sql("q44_csv_ingest").contains(PipelinesExt.csvFixturePathFor(other)))
      assert(!sql("q196_jsonl_ingest").contains(PipelinesRound12.jsonlFixturePathFor(other)))
    }
    assert(PipelinesExt.csvFixturePathFor(dirA) !== PipelinesExt.csvFixturePathFor(dirB))
  }

  test("the benchmark's sample gates carry their board families") {
    val expected = Map(
      "q04_demographic_features" -> Family.Fs,
      "q11_pricing_summary" -> Family.Sql,
      "q42_percentiles" -> Family.Sketch,
      "q21_dedup_exact_rows" -> Family.Dedup,
      "q119_binary_ann" -> Family.Ann,
      "q121_bpe_pairs" -> Family.Lm,
      "q267_url_templates" -> Family.Crawl,
      "q211_link_graph" -> Family.Graph,
      "q265_stream_revisits" -> Family.Streaming)
    val byName = gates.map(g => g.name -> g.family).toMap
    for ((name, family) <- expected) assert(byName(name) === family, name)
  }

  test("a registry holding a repeated name is rejected") {
    val g = gates.head
    val e = intercept[IllegalArgumentException](
      Gate.registry(gates :+ g.copy(family = Family.Graph, oracle = _ => "SELECT 1")))
    assert(e.getMessage.contains(g.name))
    assert(Gate.registry(gates) eq gates)
  }
}
