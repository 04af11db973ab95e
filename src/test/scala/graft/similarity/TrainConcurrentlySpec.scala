package graft.similarity

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.{SparkContext, TaskContext}

import graft.operators.Checkpoints

/** Holds the second chain's state where its tasks can reach it (same
  * JVM in local mode, and a closure over an object captures nothing). */
object TrainChain {
  @volatile var running = new CountDownLatch(1)
  val returned = new AtomicBoolean(false)

  /** One job whose tasks run until they are killed (bounded at 60 s). */
  def runUntilKilled(sc: SparkContext): Unit =
    sc.parallelize(0 until 2, 2).foreach { _ =>
      running.countDown()
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!ctx.isInterrupted() && System.nanoTime() < deadline)
        java.util.concurrent.locks.LockSupport.parkNanos(TimeUnit.MILLISECONDS.toNanos(5))
    }
}

class TrainConcurrentlySpec extends graft.SparkSpecBase {

  test("a throwing first chain cancels the second chain's jobs before rethrowing") {
    val sc = spark.sparkContext
    TrainChain.running = new CountDownLatch(1)
    TrainChain.returned.set(false)
    sc.setJobGroup("caller-group", "caller")
    try {
      val err = intercept[IllegalStateException] {
        PqAnn.trainConcurrently(sc)(
          {
            assert(TrainChain.running.await(60, TimeUnit.SECONDS), "second chain never started")
            throw new IllegalStateException("first chain failed")
          },
          try {
            Checkpoints.eager(spark.range(0, 100, 1, 2).toDF("id"))
            TrainChain.runUntilKilled(sc)
          } finally TrainChain.returned.set(true))
      }
      assert(err.getMessage === "first chain failed")
      // the second chain had returned before the failure surfaced
      assert(TrainChain.returned.get())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller-group")
    } finally sc.clearJobGroup()
    org.apache.spark.sql.graft.ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    // so the query boundary is safe: nothing still reads the blocks
    assert(Checkpoints.releaseAll() >= 1)
    assert(spark.range(0, 10).count() === 10L)
  }
}
