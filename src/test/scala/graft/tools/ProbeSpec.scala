package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {

  test("SparkSession.builder appears in main code only inside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (${root.toAbsolutePath})")
    val files = Files.walk(root)
    val builders =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally files.close()
    assert(builders === List("graft/GraftSession.scala"))
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
