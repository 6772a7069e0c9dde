package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits — a host-independent cost
  * measure (wall time is not). The block runs under its own job group;
  * a listener counts the job starts tagged with it. Listener events are
  * asynchronous, so after the block a one-task sentinel job is run and
  * the count is read once the listener has seen the sentinel start:
  * events reach a listener in order, so every job of the block has been
  * counted by then.
  */
object JobCount {
  private val GroupKey = "spark.jobGroup.id"

  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(GroupKey)) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
