package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The gate runner the measurement mains (Bench, Canary, Rehearsal)
  * share. Each main keeps its own policy — which gates, how many passes,
  * what it prints — and this object owns the mechanisms: warm-up, timing
  * one gate, failure reporting, JSON rendering and the shutdown that must
  * precede the one stdout line a caller parses. */
object Harness {
  type Gate = (SparkSession, String) => DataFrame

  /** One completed gate run: wall seconds of materializing every output
    * column and the row count that same execution observed. */
  final case class Sample(sec: Double, rows: Long)

  /** The fixed warm-up gate of the single-pass mains: it absorbs first-
    * query JVM/codegen startup, which is not the signal they measure. */
  val warmUpGate = "f03_q1_agg"

  /** Run one gate once, writing every output column to the `noop` sink.
    * A `count()` would let Catalyst prune each column it does not need,
    * timing (say) a distinct of the key instead of the operator that
    * computes the rest; the row count is observed by the same execution,
    * not a second job. A gate that throws yields its failure, never a
    * time: the elapsed time of a failed gate is not a latency, and
    * keeping it would poison every median and total built on it. The
    * per-query persisted frames are released either way. */
  def run(spark: SparkSession, sfDir: String, gate: Gate): Either[Throwable, Sample] = {
    val t0 = System.nanoTime()
    val rows =
      try {
        val obs = Observation()
        gate(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        Right(obs.get("rows").asInstanceOf[Long])
      }
      catch { case e: Throwable => Left(e) }
      finally Caches.clear()
    rows.map(Sample((System.nanoTime() - t0) / 1e9, _))
  }

  /** Untimed pass over `gates` (JIT compilation, codegen caches, parquet
    * footer reads); failures here are reported by the timed runs. */
  def warm(spark: SparkSession, sfDir: String, gates: Seq[Gate]): Unit =
    gates.foreach(run(spark, sfDir, _))

  /** Locale.ROOT pins the decimal separator: the final JSON line is a
    * parse surface, and the default locale may print "0,472". */
  def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def js(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")

  def jsNames(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Build a local session, run `body`, then print the line it returns as
    * the LAST stdout line. Streaming gates start the JVM-wide StateStore
    * maintenance thread, which races `spark.stop()` and prints a stack
    * trace ("SparkEnv not active") after everything else — pushing the
    * parse line out of a short stdout tail. So straggler streams and the
    * maintenance task are stopped before the line is printed. */
  def report(app: String, defaultCpus: String)(body: SparkSession => String): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus), app)
    val line = body(spark)
    try {
      spark.streams.active.foreach(q => try q.stop() catch {
        case _: Throwable => () })
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
