package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Series
import graft.ops.{DedupOps, GraphOps, PipelineOps, TextOps}
import graft.sources.{Sources, VersionedTable}
import graft.streaming.StreamOps

import Main.{mat, rows}

/** LLM-data curation: a batch dedup pipeline over the base corpus, then
  * arriving waves that are screened against the ExactSubstr index the batch
  * built and upserted into the versioned corpus table. */
final class Curate extends Workload {
  private val K = 50
  private val ShardBudget = 2000L
  private var docs: DataFrame = _
  private var waves: IndexedSeq[Seq[(Long, String)]] = _
  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  @volatile private var waveOut: DataFrame = _
  private var version = 1

  /** The corpus is registered with a cache request (filled by the first
    * step); the arriving waves are held by the client. */
  def register(spark: SparkSession, data: String): Unit = {
    docs = Sources.parquet(spark, s"$data/docs.parquet").cache()
    // arriving docs are replayed from the client, as a crawler would send them
    waves = Sources.parquet(spark, s"$data/waves.parquet")
      .select("wave", "doc_id", "text").collect()
      .groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getString(2))).toSeq.sortBy(_._1))
  }

  private def idx(run: Run) = s"${run.work}/substr_idx"
  private def tbl(run: Run) = s"${run.work}/corpus_table"

  def batch(run: Run): Unit = {
    val normalized = run.step("ops.TextOps.normalizeText") {
      mat(docs.select(col("doc_id"), TextOps.normalizeText(col("text")).as("text")))
    }(d => Map("rows" -> d.count()))
    val scored = run.step("ops.TextOps.qualityScore") {
      mat(normalized.withColumn("quality", TextOps.qualityScore(col("text"))))
    }(d => Map("rows" -> d.count(),
      "quality_sum" -> d.agg(sum("quality")).head().getDouble(0)))
    run.step("core.Series.sum") {
      Series.fromExpr(scored, TextOps.tokenCount(col("text")), "n_tokens",
        col("doc_id"), "doc_id").sum()
    }(v => Map("tokens" -> v))
    val groups = run.step("ops.DedupOps.exactDedup") {
      mat(DedupOps.exactDedup(scored, "doc_id", "text"))
    }(g => Map("groups" -> g.count(),
      "dup_groups" -> rows(g.filter(col("dups") > 1), "survivor_id", "dups")))
    val exactKept = scored.join(
      groups.select(col("survivor_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = run.step("ops.DedupOps.minhashNearDup") {
      mat(DedupOps.minhashNearDup(exactKept, "doc_id", "text",
        n = 3, k = 32, bands = 8, threshold = 0.5))
    }(p => Map("pairs" -> rows(p, "id1", "id2", "jaccard")))
    val clusters = run.step("ops.GraphOps.dupClusters") {
      mat(GraphOps.dupClusters(pairs, "id1", "id2"))
    }(c => Map("clusters" -> rows(c, "id", "comp", "keep")))
    val survivors = exactKept.join(
      clusters.filter(!col("keep")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val cleaned = run.step("ops.DedupOps.exactSubstrIndex") {
      mat(DedupOps.exactSubstrIndex(survivors, "doc_id", "text", K, idx(run)))
    }(c => Map("rows" -> rows(c, "doc_id", "n_tokens", "kept")))
    // the indexed corpus's raw text, where StreamOps.exactSubstrIngest
    // reads prior waves from
    run.step("sources.Sources.writeParquet") {
      Sources.writeParquet(survivors.select("doc_id", "text"), s"${idx(run)}/corpus")
    }(_ => Map.empty)
    val packed = run.step("ops.PipelineOps.packShards") {
      mat(PipelineOps.packShards(cleaned, "doc_id", "kept", ShardBudget))
    }(p => Map("budget" -> ShardBudget, "rows" -> rows(p, "doc_id", "kept", "shard")))
    run.step("sources.VersionedTable.commitCreate") {
      VersionedTable.commitCreate(packed, tbl(run), "doc_id", buckets = 8)
    }(v => Map("version" -> v,
      "rows" -> VersionedTable.readVersion(run.spark, tbl(run), v).count()))
    run.step("streaming.StreamOps.exactSubstrIngest.start") {
      implicit val ctx = run.spark.sqlContext
      import run.spark.implicits._
      stream = MemoryStream[(Long, String)]
      query = StreamOps.exactSubstrIngest(stream.toDF().toDF("doc_id", "text"),
        idx(run), "doc_id", "text", K) { out => waveOut = out }
    }(_ => Map.empty)
  }

  def round: Int = 1

  /** One arriving wave: screened against the index and appended to it by
    * the streaming ingest, then upserted into the corpus table. */
  def op(run: Run, i: Int, traced: Boolean): Boolean = {
    if (i >= waves.size) return false
    run.unit("op", "wave", traced) {
      val out = run.step("streaming.StreamOps.exactSubstrIngest") {
        waveOut = null
        stream.addData(waves(i): _*)
        query.processAllAvailable()
        require(waveOut != null, "the wave produced no micro-batch")
        waveOut
      }(o => Map("wave" -> i, "rows" -> rows(o, "doc_id", "n_tokens", "kept")))
      version = run.step("sources.VersionedTable.commitUpsert") {
        VersionedTable.commitUpsert(run.spark, tbl(run),
          out.withColumn("shard", lit(-1L)), "doc_id")
      }(v => Map("wave" -> i, "version" -> v,
        "rows" -> VersionedTable.readVersion(run.spark, tbl(run), v).count()))
    }
    true
  }

  override def close(run: Run): Unit = if (query != null) query.stop()

  def kernelRows(spark: SparkSession, data: String): (DataFrame, DataFrame) =
    (docs, Sources.parquet(spark, s"$data/kernel_vecs.parquet"))
}
