package graft.ext

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.SparkSpec

class ParSpec extends SparkSpec {

  test("run: the first failure cancels the sibling's running job and rethrows its cause") {
    val sc = spark.sparkContext
    val siblingJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val siblingGroup = new java.util.concurrent.atomic.AtomicReference[String]
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    @volatile var endedOk = true
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "par-sibling") {
          siblingJob.set(e.jobId)
          siblingGroup.set(e.properties.getProperty("spark.jobGroup.id"))
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == siblingJob.get) {
          endedOk = e.jobResult == JobSucceeded
          ended.countDown()
        }
    }
    val SiblingMs = 30000L
    sc.addSparkListener(listener)
    sc.setJobGroup("par-caller", "caller's group", interruptOnCancel = false)
    try {
      val boom = new IllegalStateException("boom")
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException](Par.run(Seq(
        () => {
          sc.setJobDescription("par-sibling")
          // one task that runs SiblingMs unless its job is cancelled
          sc.parallelize(Seq(1), 1).map { x =>
            val ctx = TaskContext.get()
            val until = System.currentTimeMillis() + SiblingMs
            while (!ctx.isInterrupted() && System.currentTimeMillis() < until)
              Thread.sleep(20)
            x
          }.count()
        },
        () => {
          assert(started.await(20, TimeUnit.SECONDS), "sibling job never started")
          throw boom
        })))
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(thrown eq boom)
      assert(elapsedMs < SiblingMs / 2, s"Par.run threw after $elapsedMs ms")
      assert(ended.await(10, TimeUnit.SECONDS), "sibling job did not end")
      assert(!endedOk, "sibling job ended as succeeded, not cancelled")
      // the tag rides next to the caller's job group, never replaces it
      assert(siblingGroup.get === "par-caller")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("run: results come back in thunk order") {
    assert(Par.run(Seq(() => { Thread.sleep(200); 1 }, () => 2, () => 3)) === Seq(1, 2, 3))
  }
}
