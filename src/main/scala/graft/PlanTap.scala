package graft

import org.apache.spark.sql.DataFrame

/** Test-only physical-plan tap for the iterative ops' ROUND frames.
  *
  * The iterative graph ops cut lineage every round
  * (`graft.ops.GraphOps.iterate`), so an `explain` on their RESULT shows
  * only a scan of the last checkpoint's RDD — the per-round plan (the
  * thing the zero-exchange-rounds claim is about) is invisible from
  * outside. This tap lets GraphOpsSpec check the exact plan each op is
  * about to execute for a round, from inside the loop, without changing
  * what runs: `tap` is a no-op unless a sink is installed, and nothing
  * on the bench/verify path ever installs one. */
object PlanTap {
  @volatile private var sink: Option[(String, DataFrame) => Unit] = None

  /** Install (or clear) the sink. Test-only. */
  def install(f: Option[(String, DataFrame) => Unit]): Unit = { sink = f }

  /** Offer a round's pre-checkpoint frame to the sink, if any. */
  def tap(label: String, df: => DataFrame): Unit =
    sink.foreach(f => f(label, df))
}
