package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Release order of the [[Caches]] registry. */
class CachesSpec extends AnyFunSuite with SparkFixture {

  test("clear() unpersists a cached dependent before the parent it was " +
      "built from (newest-first release)") {
    Caches.clear()
    val parent = Caches.track(spark.range(0, 1000).toDF("id").persist())
    val child = Caches.track(parent.filter(col("id") % 2 === 0).persist())
    assert(parent.count() == 1000L && child.count() == 500L)
    val cacheManager = spark.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    def cachedRddId(ds: Dataset[_]): Int = cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .getOrElse(fail(s"not cached: $ds"))
      .cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    val ids = Seq(cachedRddId(child), cachedRddId(parent))
    val unpersisted = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (ids.contains(e.rddId)) unpersisted.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Caches.clear()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (unpersisted.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Caches.size == 0)
    assert(unpersisted.asScala.toSeq.distinct == ids,
      s"unpersist order ${unpersisted.asScala.toSeq}, want child then " +
        s"parent ${ids}")
  }
}
