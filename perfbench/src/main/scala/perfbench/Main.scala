package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A step whose call threw: the unit it belongs to is abandoned and the
  * step is recorded as failed, never timed. */
final class StepFailed(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** One benchmark process: the session, the span recorder and the record of
  * every unit and step. A unit is what the closed-loop client waits for (a
  * batch phase, a wave, a session step); a step is one call
  * into an engine layer inside it, timed together with the action that
  * materializes its result. Checks run after the unit, untimed: they only
  * collect the payload the checker (check.py) compares against ground
  * truth or an independent recomputation. */
final class Run(val spark: SparkSession, val rec: Recorder, val data: String,
                val work: String, val seed: Long) {
  val units = mutable.ArrayBuffer.empty[Map[String, Any]]
  val steps = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val pending = mutable.ArrayBuffer.empty[() => Unit]
  private var unitSteps = mutable.ArrayBuffer.empty[Int]
  private var unitTraced = rec.traced

  def step[T](name: String)(f: => T)(check: T => Map[String, Any]): T = {
    val r = mutable.Map[String, Any]("name" -> name)
    unitSteps += steps.size
    steps += r
    val t0 = System.nanoTime()
    // the result is materialized, so the caches the operator persisted
    // while building it are released, as the Caches contract asks callers
    val v = try rec.span(name, unitTraced)(try f finally graft.Caches.clear()) catch {
      case e: Throwable =>
        r("ok") = false
        r("error") = e.toString
        throw new StepFailed(s"$name: $e", e)
    }
    r("wall_s") = (System.nanoTime() - t0) / 1e9
    r("ok") = true
    pending += (() =>
      try r("payload") = check(v)
      catch { case e: Throwable => r("ok") = false; r("error") = s"check: $e" })
    v
  }

  /** Closed-loop round the next unit belongs to (-1: not in the loop). */
  var round = -1

  /** Run `body` as one timed unit, then the checks of its steps. */
  def unit(phase: String, kind: String, traced: Boolean = rec.traced)(
      body: => Unit): Unit = {
    unitSteps = mutable.ArrayBuffer.empty[Int]
    unitTraced = traced
    val spanId = rec.spans.size
    val t0 = System.nanoTime()
    val threw = try { rec.span(s"unit.$phase", traced)(body); false }
      catch { case _: StepFailed => true }
    val wall = (System.nanoTime() - t0) / 1e9
    unitTraced = rec.traced
    rec.span("check", on = false) { pending.foreach(_()) }
    pending.clear()
    units += Map("phase" -> phase, "kind" -> kind, "round" -> round, "wall_s" -> wall,
      "span" -> spanId, "traced" -> traced, "threw" -> threw, "steps" -> unitSteps.toSeq)
  }

  /** Work the client does not wait for (check-side reference queries). */
  def untimed[T](f: => T): T = rec.span("check", on = false)(f)
}

/** A benchmark workload: inputs registered at set-up, one batch phase, then
  * closed-loop operations in rounds of `round` until the run's time is up,
  * and an optional closing phase. */
trait Workload {
  def register(spark: SparkSession, data: String): Unit
  def batch(run: Run): Unit
  /** Operations per round; a run ends only on a round boundary, so every
    * run times the same mix of operations. */
  def round: Int
  /** Rounds every run makes at least, so the reported median rests on
    * more than one short sample where a round is short. */
  def rounds: Int = 1
  /** Run operation `i`; false when the workload has no more inputs. */
  def op(run: Run, i: Int, traced: Boolean): Boolean
  def close(run: Run): Unit = ()
  /** Rows the kernel table is measured over: (text rows, vector rows). */
  def kernelRows(spark: SparkSession, data: String): (DataFrame, DataFrame)
}

object Main {
  val Cores = "4"

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  /** The engine's own session builder (scratch space is placed by the
    * launcher through `spark.local.dir` and `java.io.tmpdir`). */
  def session(): SparkSession = {
    graft.Sessions.local(Cores, "perfbench")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--train")) return train(arg(args, "work"))
    val workload = arg(args, "workload")
    val data = arg(args, "data")
    val work = arg(args, "work")
    val out = arg(args, "out")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val w: Workload = workload match {
      case "curate" => new Curate
      case "session" => new Session
      case other => sys.error(s"unknown workload $other")
    }

    // set-up, timed from JVM start: JVM and class loading, session up,
    // extensions registered (Sessions.local), inputs registered
    val spark = session()
    w.register(spark, data)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(spark.sparkContext, traced)
    val epochNs = System.nanoTime()
    val epochMs = System.currentTimeMillis()
    val run = new Run(spark, rec, data, work, seed)

    run.unit("batch", "batch")(w.batch(run))
    val loopStart = System.nanoTime()
    var i = 0
    var more = true
    // closed loop: the next operation starts once the previous result has
    // arrived and been checked. In a traced run every other operation is
    // untraced, which measures the tracing overhead; it runs two rounds and
    // three operations at least, so every operation kind is seen both ways
    // after the first, cold one.
    val minRounds = if (traced) math.max(w.rounds, 2) else w.rounds
    val minOps = math.max(w.round * minRounds, if (traced) 3 else 1)
    def timeLeft = (System.nanoTime() - loopStart) / 1e9 < seconds
    while (more && (i < minOps || i % w.round != 0 || timeLeft)) {
      run.round = i / w.round
      more = w.op(run, i, traced && i % 2 == 1)
      i += 1
    }
    run.extra("loop_s") = (System.nanoTime() - loopStart) / 1e9
    run.round = -1
    w.close(run)
    if (traced) run.extra("kernels") = Kernels.table(run, w.kernelRows(spark, data))

    // the listener's view of each unit is complete once it has drained
    rec.drain()
    val units = run.units.map { u =>
      val id = u("span").asInstanceOf[Int]
      u ++ Map("shuffle_mb" -> rec.shuffleMbOf(id), "peak_exec_mb" -> rec.peakExecMbOf(id))
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "round" -> w.round,
      "setup_s" -> setupS,
      "units" -> units.toSeq,
      "steps" -> run.steps.map(_.toMap).toSeq,
      "extra" -> run.extra.toMap,
      "spans" -> (if (traced) rec.spanRows(epochNs, epochMs) else Nil),
      "peak_rss_mb" -> peakRssMb())
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(out), record)
    stopStreams(spark)
    spark.stop()
  }

  /** Exercise session start, parquet IO, shuffles, joins, windows and
    * checkpoints once, so the launcher can record the classes they load
    * into a class-data-sharing archive that every measured run starts
    * from. Not measured. */
  def train(work: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = session()
    val df = spark.range(20000).select(col("id"), (col("id") % 97).as("k"),
      concat_ws(" ", lit("a"), col("id").cast("string")).as("text"))
    df.write.mode("overwrite").parquet(s"$work/train")
    val back = spark.read.parquet(s"$work/train").cache()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    back.join(back.groupBy("k").agg(count(lit(1)).as("n")), "k")
      .withColumn("r", row_number().over(w)).localCheckpoint(true)
      .agg(sum("r"), max(length(col("text")))).collect()
    spark.stop()
  }

  def stopStreams(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Materialize a step's result where the next step will read it. */
  def mat(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      .map(_.toSeq).toSeq
}
