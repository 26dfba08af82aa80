package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session per suite (guide: one SparkSession per suite);
  * configuration lives in [[Sessions]]. */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session

  /** Spark jobs started by `f` on this thread (and the threads it hands
    * its local properties to, such as broadcast builds). */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = s"call-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag.drain" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try f finally sc.setLocalProperty(key, s"$tag.drain")
      // the bus delivers events in order: once this job's start arrives,
      // every job `f` started has been counted
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus stalled")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkFixture {
  lazy val session: SparkSession = Sessions.local("4", "graft-test")
}
