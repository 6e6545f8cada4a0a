package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.TaskContext

class ParSpec extends SparkSpecBase {

  test("Par.jobs: the first failure propagates and cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val slowMs = 60000L
    val siblingStarted = new AtomicBoolean(false)
    val siblingFailure = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Par.jobs(
        () => {
          // fail only once the sibling's job is really running
          val deadline = System.nanoTime() + 30000000000L
          while ((!siblingStarted.get() || sc.statusTracker.getActiveJobIds().isEmpty) &&
                 System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("first failure")
        },
        () => {
          siblingStarted.set(true)
          // a deliberately slow job: each task runs slowMs unless killed
          try sc.parallelize(1 to 2, 2).foreach { _ =>
            val end = System.currentTimeMillis() + slowMs
            while (System.currentTimeMillis() < end && !TaskContext.get().isInterrupted())
              Thread.sleep(20)
          } catch { case e: Throwable => siblingFailure.set(e); throw e }
        })
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(thrown.getMessage == "first failure")
    val sib = siblingFailure.get()
    assert(sib != null, "the sibling job must end in failure, not run to completion")
    assert(sib.getMessage.toLowerCase.contains("cancel"), s"sibling ended with: $sib")
    assert(elapsedMs < slowMs / 2, s"Par.jobs returned after $elapsedMs ms")
  }
}
