package graft

import org.apache.spark.TaskContext
import org.apache.spark.graftspec.ListenerBus

/** `GraftSession.branches`: a failure anywhere in the call cancels the
  * work still running beside it, and the call ends with no active job.
  */
class BranchesSpec extends SparkSpec {

  // one task per core that runs until it is killed (capped at 60 s)
  private def longJob(): Long =
    spark.sparkContext.parallelize(1 to 4, 4).map { i =>
      val end = System.nanoTime() + 60000000000L
      while (!TaskContext.get().isInterrupted() && System.nanoTime() < end)
        Thread.sleep(10)
      i
    }.count()

  private def awaitActiveJob(): Unit = {
    val end = System.nanoTime() + 30000000000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty) {
      assert(System.nanoTime() < end, "the branch's job never started")
      Thread.sleep(10)
    }
  }

  private def assertNoActiveJob(): Unit = {
    ListenerBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }

  test("a failing body cancels a branch's running job and rethrows " +
    "within seconds") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      GraftSession.branches(spark) { br =>
        br.fork("spec: long job")(longJob())
        awaitActiveJob()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
    assertNoActiveJob()
  }

  test("a failing branch cancels its sibling and the body, and its " +
    "failure is the one rethrown") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      GraftSession.branches(spark) { br =>
        br.fork("spec: long sibling")(longJob())
        br.fork("spec: failing branch") {
          awaitActiveJob()
          throw new IllegalArgumentException("branch failed")
        }
        longJob()
      }
    }
    assert(e.getMessage == "branch failed")
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
    assertNoActiveJob()
  }

  test("a branch's await returns its value; the call returns the body's") {
    val got = GraftSession.branches(spark) { br =>
      val n = br.fork("spec: count")(spark.range(10).count())
      n() + 1
    }
    assert(got == 11L)
  }
}
