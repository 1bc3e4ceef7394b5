package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  /** Every Scala source under `dir` as (path relative to `dir`, bytes). */
  private def sources(dir: String): List[(String, Array[Byte])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root (${root.toAbsolutePath})")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString, Files.readAllBytes(p)))
      .toList.sortBy(_._1)
    finally files.close()
  }

  private lazy val mainSources = sources("src/main/scala")

  private lazy val mainText: List[(String, String)] =
    mainSources.map { case (f, b) => (f, new String(b, "UTF-8")) }

  test("SparkSession.builder appears in main code only inside GraftSession") {
    val builders = mainText.collect {
      case (f, text) if text.contains("SparkSession.builder") => f
    }
    assert(builders === List("graft/GraftSession.scala"))
  }

  test("a schema-inferring parquet read appears in main code only inside ParquetFooters") {
    // any other one brings back the one-task schema job before the read
    val inferring = """\.read\s*\.(?:parquet\(|format\(\s*"parquet"\s*\))""".r
    val readers = mainText.collect {
      case (f, text) if inferring.findFirstIn(text).isDefined => f
    }
    assert(readers === List("graft/fs/ParquetFooters.scala"))
  }

  test("main code reads exactly the four deployment env vars") {
    val read = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]+)"""".r
    val names = mainText.flatMap { case (_, text) =>
      read.findAllMatchIn(text).map(_.group(1)) }.toSet
    assert(names === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_QUERIES", "SPARK_GRAFT_EXTRA_CONF"))
  }

  test("main code names exactly two spark.graft.* conf keys") {
    // the only knobs a spec sets: RangeJoinRewriteSpec's two rangejoin keys
    val key = """"(spark\.graft\.[A-Za-z0-9_.]+)"""".r
    val keys = mainText.flatMap { case (_, text) =>
      key.findAllMatchIn(text).map(_.group(1)) }.toSet
    assert(keys === Set("spark.graft.rangejoin.bucket.micros",
      "spark.graft.rangejoin.max.buckets"))
  }

  test(".writeStream appears in main code only in the two stream runners and q204") {
    // StreamingFeatures.eachBatch starts every feature-table maintainer,
    // PipelinesTextSim.runToMemory every memory-sink gate; q204 restarts
    // its own foreachBatch query from a checkpoint
    val starters = mainText.collect {
      case (f, text) if text.contains(".writeStream") => f
    }
    assert(starters === List("graft/QueriesRound14.scala",
      "graft/QueriesTextSim.scala", "graft/streaming/StreamingFeatures.scala"))
  }

  /** "file: byte 0x.. at line n" for every C0 control byte other than
    * tab, LF or CR: such a byte makes grep treat the file as binary,
    * so scans over the tree skip it.
    */
  private def controlBytes(srcs: List[(String, Array[Byte])]): List[String] =
    for {
      (f, bytes) <- srcs
      (b, i) <- bytes.zipWithIndex
      if b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r'
    } yield s"$f: byte 0x${"%02x".format(b.toInt)} at line " +
      (bytes.take(i).count(_ == '\n') + 1)

  test("no main source carries a C0 control byte other than tab, LF or CR") {
    val bad = controlBytes(mainSources)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("no test source carries a C0 control byte other than tab, LF or CR") {
    val bad = controlBytes(sources("src/test/scala"))
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("Probe rejects an unknown mode or query name with its usage") {
    for (args <- Seq(Array[String](), Array("bogus", "q66_cosine_lsh"),
        Array("layers", "q66_cosine_lsh,q66_cosine_lhs"), Array("stages"),
        Array("plan", "out", "q66_cosine_lsh"))) {
      // main validates before it builds a session: the throw must come
      // from the argument check, carrying the usage text
      val e = intercept[IllegalArgumentException](Probe.main(args))
      assert(e.getMessage.contains(Probe.Usage), args.mkString(" "))
    }
    val bad = intercept[IllegalArgumentException](
      Probe.parse(Array("layers", "q66_cosine_lsh,q66_cosine_lhs")))
    assert(bad.getMessage.startsWith("unknown query: q66_cosine_lhs"))
    assert(Probe.parse(Array("plan", "out", "after", "q66_cosine_lsh")) ===
      Probe.Cmd("plan", Seq("q66_cosine_lsh"), Some(("out", "after"))))
    assert(Probe.parse(Array("layers")).queries.size === graft.SparkEntry.queries.size)
  }
}
