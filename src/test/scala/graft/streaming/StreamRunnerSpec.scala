package graft.streaming

import graft.{PipelinesTextSim, SparkEntry, SparkSpec}

/** The memory-sink runner behind the streaming gates: repeated runs in
  * one session agree and leave no query, sink view, checkpoint or
  * staged source behind.
  */
class StreamRunnerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  /** Names under the JVM temp dir that start with `prefix`. */
  private def tmpEntries(prefix: String): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith(prefix)).toSet

  private def leftovers(): Unit = {
    assert(spark.streams.active.isEmpty)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_")))
  }

  for ((name, tag) <- Seq("q265_stream_revisits" -> "q265", "q200_stream_dedup" -> "q200"))
    test(s"$name run twice gives equal rows and cleans up after itself") {
      val gate = SparkEntry.gates.find(_.name == name).get
      val before = tmpEntries(s"graft-$tag-")
      val runs = Seq.fill(2)(gate.build(spark, dir).collect().toSeq)
      assert(runs.head.nonEmpty)
      assert(runs(0) === runs(1))
      leftovers()
      assert(tmpEntries(s"graft-$tag-") === before)
    }

  test("runToMemory drops its view and temp dir when finish throws") {
    val before = tmpEntries("graft-spec-")
    var during = Set.empty[String]
    val frame = spark.range(5).toDF("id")
    val e = intercept[IllegalStateException](
      PipelinesTextSim.runToMemory(spark, "spec")(_.stage(frame)) { sink =>
        during = tmpEntries("graft-spec-")
        assert(sink.count() === 5L)
        throw new IllegalStateException("finish failed")
      })
    assert(e.getMessage === "finish failed")
    assert((during -- before).size === 1)
    leftovers()
    assert(tmpEntries("graft-spec-") === before)
  }
}
