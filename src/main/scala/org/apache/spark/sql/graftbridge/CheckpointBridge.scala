package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Predicate,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  PartitioningCollection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The one lineage cut: an eager local checkpoint, counted by the job
  * that stores it, rebuilt as a FRESH `LogicalRDD` leaf.
  *
  * `Dataset.localCheckpoint` runs its plan, then a job that counts
  * every partition and drops the counts, and wraps the rows in a leaf
  * that carries its origin plan's statistics and constraints. Callers
  * that need the row count (a broadcast gate, a convergence test) then
  * pay one more job, and `Dataset.unpersist` on the result frees
  * nothing: no `CacheManager` entry owns the blocks. [[checkpoint]]
  * fixes all three:
  *
  *  - its one job over the checkpointed RDD both stores the blocks and
  *    returns per-partition `(rows, changed)` counts as the action's
  *    result — never an accumulator, which a retried task would apply
  *    twice;
  *  - the leaf is rebuilt over the same RDD and output attributes with
  *    no origin constraints or ordering. Preserved origin constraints
  *    survive attribute-dedup un-remapped, so a frame read twice in one
  *    plan (a self-join, or a sink that unions it with a join against
  *    itself) failed analysis with `key not found: <attr>#…`. Its
  *    statistics are what the same job measured: the exact row count
  *    and the summed `UnsafeRow` bytes, so the planner sizes joins over
  *    a cut as it sized them over a persisted frame (no attribute
  *    stats; an estimate from the schema would count an array column as
  *    one element);
  *  - [[Checkpoint.release]] frees the blocks through the RDD that owns
  *    them.
  *
  * Under AQE the executed plan's final partitioning is not captured, so
  * the leaf reports `UnknownPartitioning` even when the rows are
  * clustered by key; `keepPartitioning` keeps it. [[pin]] is the per-call
  * intermediate store for operators whose intermediates must not enter
  * the `CacheManager` (see its Scaladoc).
  *
  * Failure model: the blocks are a local checkpoint, stored once in the
  * executors' block managers with no replica and no lineage behind
  * them. An executor lost while a cut is live loses its blocks, and a
  * later read of them fails the query (there is nothing to recompute
  * them from); the query must be run again. Every cut takes this trade —
  * the graph ops' per-call intermediates and rounds, and the pinned
  * intermediates of the dedup and streaming ops — for a plan that never
  * re-analyzes its history and a store the `CacheManager` never sees.
  */
object CheckpointBridge {

  /** A lineage-cut frame, with the counts its checkpoint job returned. */
  final class Checkpoint private[CheckpointBridge] (val df: DataFrame,
      val rows: Long, val changed: Long, rdd: RDD[InternalRow]) {
    /** Free the stored blocks now rather than at the next driver GC. The
      * frame, and any frame still reading it lazily, must not run again.
      * Through the context, not `RDD.unpersist`: that warns, on every
      * locally checkpointed RDD, that its lineage cannot be recomputed —
      * which a release intends. */
    def release(): Unit =
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
  }

  /** Eagerly materialize `df` into executor block storage and return it
    * as a fresh, constraint-free `LogicalRDD` with its exact row count
    * and the number of rows satisfying `changed` (0 without one).
    *
    * The count job runs inside `df`'s own SQL execution, as
    * `Dataset.checkpoint` does, so AQE, the event log and listeners see
    * one execution: the plan's shuffle stages, then the one job.
    *
    * `keepPartitioning` declares the partitioning of the executed
    * plan's FINAL physical plan — the layout the rows really have (an
    * exact or AQE-coalesced hash, or whatever a shuffled join left).
    * An iterative op that cuts lineage every round otherwise loses its
    * build-time `repartition(key)` and every per-round keyed aggregation
    * re-shuffles (measured on kCore: one full exchange of the surviving
    * edge frame per peel round). Never declare a layout by hand: the
    * planner trusts it for keyed aggregations and may shuffle only the
    * OTHER side of a join to match it (observed: kCore above the
    * broadcast limit declared hash(w) on rows a shuffled semi-join had
    * laid out by `u`, and returned 0 rows at sf0.01). */
  def checkpoint(df: DataFrame, changed: Option[Column] = None,
                 keepPartitioning: Boolean = false): Checkpoint = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val output = qe.analyzed.output
    val test = changed.map(c =>
      ds.select(c).queryExecution.analyzed.expressions.head match {
        case a: Alias => a.child
        case e => e
      })
    val (rdd, counts, partitioning) =
      SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
        val plan = qe.executedPlan
        plan.resetMetrics()
        val rdd = plan.execute().map(_.copy())
        rdd.localCheckpoint()
        val attrs = plan.output
        // every partition is computed (and so stored) here; the
        // checkpoint SparkContext.runJob completes afterwards finds no
        // missing block and runs no job of its own
        val counts = session.sparkContext.runJob(rdd,
          (tc: TaskContext, it: Iterator[InternalRow]) => {
            val p = test.map { e =>
              val p = Predicate.create(e, attrs)
              p.initialize(tc.partitionId())
              p
            }
            lazy val unsafe = UnsafeProjection.create(attrs, attrs)
            var n, c, b = 0L
            it.foreach { r =>
              n += 1
              if (p.exists(_.eval(r))) c += 1
              b += (r match {
                case u: UnsafeRow => u
                case o => unsafe(o)
              }).getSizeInBytes
            }
            (n, c, b)
          })
        val layout = plan match {
          case a: AdaptiveSparkPlanExec if keepPartitioning => a.executedPlan
          case p => p
        }
        (rdd, counts, firstLeaf(layout.outputPartitioning))
      }
    val rows = counts.iterator.map(_._1).sum
    val leaf = LogicalRDD(output, rdd, partitioning, Nil, ds.isStreaming,
      None)(session, Some(Statistics(
        sizeInBytes = counts.iterator.map(_._3).sum, rowCount = Some(rows))),
      None)
    new Checkpoint(classic.Dataset.ofRows(session, leaf), rows,
      counts.iterator.map(_._2).sum, rdd)
  }

  /** Eagerly materialize `df` into executor block storage and return it
    * as a fresh, constraint-free `LogicalRDD`.
    *
    * Unlike `persist`, the result registers NOTHING with the session's
    * `CacheManager`, so no later plan change can re-plan it: a write to
    * a path the origin plan read (`recacheByPath`), a non-cascading
    * unpersist of a cached frame it was built from, or AQE re-rendering
    * a downstream plan that would otherwise nest its cached subtree.
    * The pinned rows are a snapshot taken now; the blocks are freed when
    * the frame is garbage-collected (the ContextCleaner). */
  def pin(df: DataFrame): DataFrame = checkpoint(df).df

  /** The partitioning `Dataset.checkpoint` declares: the first leaf of a
    * `PartitioningCollection`, which otherwise grows with join depth. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
