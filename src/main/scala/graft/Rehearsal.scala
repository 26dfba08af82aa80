package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** SCALE-REHEARSAL runner: execute each named gate ONCE at the given
  * fixture dir with a task-level SKEW listener attached, so a 10×-data
  * run answers the two questions plan-shape audits can't — does each
  * gate's wall time scale ~linearly, and do any stages develop
  * straggler partitions (the Spark-UI "task summary" check, captured
  * programmatically: per stage, max successful-task duration over the
  * median, reported for the worst stage with ≥ 8 tasks; 2-4× is normal
  * scheduling noise on local[32], ≥ ~8× on a large stage is a skewed
  * key or a mis-sized partition).
  *
  * Usage: runMain graft.Rehearsal <sfDir> <name,name,...>
  * One JSON line per query + a final `{"rehearsal":...}` summary line
  * (same tail-parse discipline as Bench) with a `"failed"` list. */
object Rehearsal {
  private class SkewListener extends SparkListener {
    val stages = TrieMap.empty[Int, ArrayBuffer[Long]]
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null && te.taskInfo.successful)
        stages.getOrElseUpdate(te.stageId, ArrayBuffer.empty)
          .synchronized { stages(te.stageId) += te.taskInfo.duration }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gates = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(n => n -> SparkEntry.queries(n))
    Harness.report("graft-rehearsal", "32") { spark =>
      Harness.warm(spark, sfDir, Seq(SparkEntry.queries(Harness.warmUpGate)))
      rehearse(spark, sfDir, gates)
    }
  }

  /** Run each gate once with the skew listener attached, printing one line
    * per gate, and return the summary line. A gate that throws prints its
    * error and is listed under "failed", outside the total, so a rehearsal
    * with a failed gate cannot pass as a faster one. */
  private[graft] def rehearse(spark: SparkSession, sfDir: String,
      gates: Seq[(String, Harness.Gate)]): String = {
    import Harness.r3
    val listener = new SkewListener
    spark.sparkContext.addSparkListener(listener)
    val runs = try gates.map { case (n, gate) =>
      listener.stages.clear()
      n -> (Harness.run(spark, sfDir, gate) match {
        case Left(e) =>
          println(s"""{"q":"$n","error":"${e.getClass.getSimpleName}"}""")
          None
        case Right(sample) =>
          // worst straggler ratio over stages large enough to mean anything
          val sts = listener.stages.values.map(_.toSeq).filter(_.size >= 8)
          val maxTaskSec = listener.stages.values
            .flatMap(_.toSeq).foldLeft(0L)(math.max) / 1e3
          val (skew, skewTasks) =
            if (sts.isEmpty) (1.0, 0)
            else sts.map(d => (d.max.toDouble /
              math.max(1L, d.sorted.apply(d.size / 2)), d.size)).maxBy(_._1)
          println(s"""{"q":"$n","sec":${r3(sample.sec)},"rows":${sample.rows},""" +
            s""""skew":${r3(skew)},"skewStageTasks":$skewTasks,""" +
            s""""maxTaskSec":${r3(maxTaskSec)}}""")
          Some((sample.sec, skew))
      })
    } finally spark.sparkContext.removeSparkListener(listener)
    val timed = runs.collect { case (n, Some((sec, skew))) => (n, sec, skew) }
    val failed = runs.collect { case (n, None) => n }
    s"""{"rehearsal":"$sfDir","queries":""" +
      Harness.js(timed.map(t => t._1 -> t._2)) +
      s""","total":${r3(timed.map(_._2).sum)},""" +
      s""""worstSkew":${r3(timed.map(_._3).foldLeft(1.0)(math.max))},""" +
      s""""failed":${Harness.jsNames(failed)}}"""
  }
}
