package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.CacheEntries
import org.apache.spark.sql.graftbridge.CheckpointBridge.checkpoint
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, GraphOps, SimilarityOps}

/** The per-call intermediate stores: release order of the [[Caches]]
  * registry, the counted cut's statistics and its quiet release, and the
  * graph and k-NN ops storing only in cuts. */
class CachesSpec extends AnyFunSuite with GraphFixtures {

  import spark.implicits._

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

  test("a cut reports its exact rows and bytes as statistics, and a " +
      "self-join over it still analyzes") {
    val ck = checkpoint(spark.range(0, 1000).selectExpr("id", "id % 7 AS k"))
    val stats = ck.df.queryExecution.optimizedPlan.stats
    assert(ck.rows == 1000L)
    assert(stats.rowCount.contains(BigInt(1000)))
    // an UnsafeRow of two longs: an 8-byte null bitset and two 8-byte slots
    assert(stats.sizeInBytes == BigInt(1000 * 24))
    val pairs = ck.df.as("x").join(ck.df.as("y"),
      col("x.k") === col("y.k") && col("x.id") < col("y.id"))
    // ids 0..999 by id % 7: six classes of 143 and one of 142
    assert(pairs.count() == 6L * (143 * 142 / 2) + 142 * 141 / 2)
    ck.release()
  }

  test("every public GraphOps op stores its intermediates outside the " +
      "CacheManager and the Caches registry") {
    Caches.clear()
    spark.catalog.clearCache()
    val tracked = Caches.size
    val ids = (1L to 8L).toDF("id")
    val seeds = Seq(Tuple1(1L)).toDF("s")
    val sym = GraphOps.symmetrize(barbell, "id1", "id2")
    val comps = GraphOps.connectedComponents(barbell, "id1", "id2")
    Seq(
      GraphOps.connectedComponents(chainTrianglePair, "a", "b"),
      GraphOps.dupClusters(barbell, "id1", "id2"),
      GraphOps.pageRank(barbell, "id1", "id2"),
      GraphOps.personalizedPageRank(barbell, "id1", "id2", seeds, "s"),
      GraphOps.hits(bipartite, "c", "s"),
      GraphOps.dupClustersBy(barbell, "id1", "id2",
        ids.withColumn("q", -col("id")), "id", "q"),
      GraphOps.goldenRecord(barbell, "id1", "id2",
        ids.withColumn("f", col("id") % 2).withColumn("z", col("id")),
        "id", majorityFields = Seq("f"), maxFields = Seq("z")),
      GraphOps.labelPropagation(barbell, "id1", "id2"),
      GraphOps.labelPropagation(barbell, "id1", "id2", preSym = Some(sym)),
      GraphOps.louvainOneLevel(barbell, "id1", "id2"),
      GraphOps.louvainOneLevel(barbell, "id1", "id2", preSym = Some(sym)),
      GraphOps.louvainOneLevelWeighted(barbell.withColumn("w", lit(2L)),
        "id1", "id2", "w"),
      GraphOps.louvainLevels(barbell, "id1", "id2"),
      GraphOps.modularity(barbell, "id1", "id2", comps, "id", "comp"),
      GraphOps.assortativity(barbell, "id1", "id2"),
      GraphOps.kCore(trianglePendant, "s", "t", k = 2, rounds = 4),
      GraphOps.adamicAdar(barbell, "id1", "id2"),
      GraphOps.triangles(barbell, "id1", "id2"),
      GraphOps.localClustering(barbell, "id1", "id2"),
      GraphOps.dbscan(barbell, ids, "id", minPts = 3)
    ).foreach(_.collect())
    val labelings = Seq(("cc", comps, "id", "comp"))
    GraphOps.modularityQ(barbell, "id1", "id2", labelings)
    val edges = checkpoint(barbell)
    GraphOps.modularityQ(edges, "id1", "id2", labelings)
    edges.release()
    sym.release()
    assert(CacheEntries.count(spark) == 0)
    assert(Caches.size == tracked)
  }

  test("release() frees a cut's blocks without a WARN from " +
      "org.apache.spark.rdd") {
    val ck = checkpoint(spark.range(0, 100).toDF("id"))
    val id = ck.df.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }.getOrElse(fail("no LogicalRDD leaf"))
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    val warned = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cut-release", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val name = "org.apache.spark.rdd"
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val level = logger.getLevel
    Configurator.setLevel(name, Level.WARN) // WARNs reach the appender
    logger.addAppender(appender)
    try ck.release()
    finally {
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
    }
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    assert(warned.isEmpty, s"release logged: ${warned.asScala.toSeq}")
  }

  test("knnGraphBuild and embeddingNearDup store their vectors and " +
      "postings outside the CacheManager and the Caches registry") {
    Caches.clear()
    spark.catalog.clearCache()
    val tracked = Caches.size
    val rnd = new scala.util.Random(59L)
    val vecs = (0L until 60L).map(id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    for (keyedRows <- Seq(None, Some("0"))) {
      keyedRows.foreach(sys.props("graft.knnBroadcastRows") = _)
      try {
        SimilarityOps.knnGraphBuild(vecs, "vec_id", "embedding", m = 4,
          dim = 16).collect()
        DedupOps.embeddingNearDup(vecs, "vec_id", "embedding",
          threshold = 0.3, tables = 8, dim = 16).collect()
      } finally sys.props.remove("graft.knnBroadcastRows")
    }
    assert(CacheEntries.count(spark) == 0)
    assert(Caches.size == tracked)
  }
}
