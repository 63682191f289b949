package graft

import graft.ops.Storage
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

class InParallelSpec extends SparkTestBase {

  test("both sides failing surface as one exception with the other suppressed") {
    val e = intercept[IllegalStateException] {
      Storage.inParallel[Int, Int](
        throw new IllegalStateException("a failed"),
        throw new IllegalArgumentException("b failed"))
    }
    assert(e.getMessage == "a failed")
    assert(e.getSuppressed.length == 1)
    assert(e.getSuppressed.head.getMessage == "b failed")
  }

  test("a fast failure still waits for the sibling to finish") {
    val bDone = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Storage.inParallel[Int, Int](
        throw new IllegalStateException("a failed"),
        { Thread.sleep(500); bDone.set(true); 1 })
    }
    assert(bDone.get, "inParallel returned while the sibling was still running")
  }

  test("both sides' Spark jobs carry the caller's job group and description") {
    val sc = spark.sparkContext
    // pool threads keep the local properties they were created with: run
    // once under another group first, so the checked call reuses threads
    // that inherited something else
    sc.setJobGroup("warm-up", "warm-up")
    Storage.inParallel(spark.range(10).count(), spark.range(10).count())
    sc.clearJobGroup()
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("caller-phase", "caller phase")
      Storage.inParallel(spark.range(100).count(), spark.range(200).count())
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    assert(jobs.size >= 2, s"expected a job from each side, saw $jobs")
    assert(jobs.forall(_ == ("caller-phase", "caller phase")), jobs.toString)
  }
}
