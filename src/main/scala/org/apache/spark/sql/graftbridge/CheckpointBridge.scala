package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager local checkpoints rebuilt as FRESH `LogicalRDD` leaves.
  *
  * `Dataset.localCheckpoint()` wraps the checkpointed rows in a
  * `LogicalRDD` that carries its origin plan's statistics and
  * constraints. Two problems follow, and both helpers here share one fix:
  * rebuild the leaf over the same checkpointed RDD and output
  * attributes, with no origin stats or constraints and no ordering.
  *
  *  - The preserved origin constraints survive attribute-dedup
  *    un-remapped, so a frame read twice in one plan (a self-join, or a
  *    sink that unions it with a join against itself) fails analysis
  *    with `key not found: <attr>#…`. The fresh leaf carries none.
  *  - Under AQE the executed plan's final partitioning is not captured,
  *    so the leaf reports `UnknownPartitioning` even when the rows are
  *    clustered by key; [[localCheckpointHashPartitioned]] re-declares it.
  *
  * [[pin]] is the per-call intermediate store for operators whose
  * intermediates must not enter the `CacheManager` (see its Scaladoc).
  */
object CheckpointBridge {

  /** Eagerly materialize `df` into executor block storage and return it
    * as a fresh, constraint-free `LogicalRDD`.
    *
    * Unlike `persist`, the result registers NOTHING with the session's
    * `CacheManager`, so no later plan change can re-plan it: a write to
    * a path the origin plan read (`recacheByPath`), a non-cascading
    * unpersist of a cached frame it was built from, or AQE re-rendering
    * a downstream plan that would otherwise nest its cached subtree.
    * The pinned rows are a snapshot taken now; the blocks are freed when
    * the frame is garbage-collected (the ContextCleaner), like any
    * `localCheckpoint`. */
  def pin(df: DataFrame): DataFrame =
    fresh(df.localCheckpoint(), "pin")(_.outputPartitioning)

  /** `localCheckpoint` that keeps a hash partitioning visible to the
    * planner.
    *
    * An iterative op that cuts lineage every round otherwise loses its
    * build-time `repartition(key)` and every per-round keyed aggregation
    * re-shuffles — measured on kCore (graft.ops.GraphOps): one full
    * exchange of the surviving edge frame per peel round that the op's
    * pre-partitioning was supposed to remove. This helper checkpoints
    * eagerly and then re-declares `HashPartitioning(keys,
    * rdd.partitions)` on the fresh leaf — nothing about the data moves;
    * only the metadata the checkpoint dropped is restored.
    *
    * CALLER CONTRACT: the frame's rows must ACTUALLY be clustered by
    * `keys` (each key value entirely inside one partition), i.e. the
    * frame derives from a `repartition(keys)` (or a keyed shuffle) via
    * partition-PRESERVING ops only (projections, filters, broadcast-hash
    * joins, in-partition aggregations). The declaration is only ever
    * consumed as a ClusteredDistribution (keyed groupBy / window), and a
    * co-partition match against a DIFFERENT frame is impossible by
    * construction: the partitioning's attribute ids are unique to this
    * frame, so the planner can never pair it with some other relation's
    * hash partitioning.
    */
  def localCheckpointHashPartitioned(df: DataFrame,
                                     keys: Seq[String]): DataFrame = {
    val ck = df.localCheckpoint() // eager — the lineage cut
    // probe-only escape hatch: -Dgraft.noPartitionedCheckpoint=1 keeps
    // the plain checkpoint (UnknownPartitioning) so the BEFORE round
    // plans can be dumped from the identical code path
    if (sys.props.contains("graft.noPartitionedCheckpoint")) return ck
    fresh(ck, "localCheckpointHashPartitioned") { lr =>
      val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
        sys.error(s"localCheckpointHashPartitioned: no column $k in " +
          lr.output.map(_.name).mkString(", "))))
      HashPartitioning(attrs, lr.rdd.getNumPartitions)
    }
  }

  /** Rebuild a checkpointed frame's `LogicalRDD` over the same RDD and
    * attributes, declaring `partitioning(leaf)` and nothing else. */
  private def fresh(ck: DataFrame, caller: String)(
      partitioning: LogicalRDD => Partitioning): DataFrame =
    ck.queryExecution.logical match {
      case lr: LogicalRDD =>
        val session = ck.sparkSession.asInstanceOf[
          org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          LogicalRDD(lr.output, lr.rdd, partitioning(lr), Nil,
            lr.isStreaming, lr.stream)(session, None, None))
      case other => sys.error(
        s"$caller: expected LogicalRDD, got " + other.getClass.getName)
    }
}
