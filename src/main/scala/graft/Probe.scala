package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Plan dumps of the real operators, the evidence committed under
  * `plans/r17/`. NOT part of the bench or verify surface:
  *
  *   sbt "runMain graft.Probe knn_plans <sfDir> plans/r17"
  *
  * The iterative graph ops' round plans are checked by GraphOpsSpec
  * instead. Gate wall time and stage skew come from `graft.Rehearsal`. */
object Probe {

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("knn_plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r17"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    what match {
      case "knn_plans" => knnPlans(spark, sfDir, outDir)
      case other => sys.error(s"unknown probe: $other")
    }
    Caches.clear()
    spark.stop()
  }

  private def write(outDir: String, file: String, plan: String): Unit = {
    Files.writeString(Paths.get(outDir, file), plan)
    println(s"[probe] wrote $outDir/$file")
  }

  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** v37/v38 knnGraphBuild BEFORE/AFTER plans: the default src-clustered
    * broadcast-scored plan vs the keyed-join plan it replaces
    * (prop-forced, the same fallback big corpora take). The build is
    * one lazy frame — explain works directly, no tap needed. */
  private def knnPlans(s: SparkSession, d: String, outDir: String): Unit = {
    import graft.ops.SimilarityOps
    def build() = SimilarityOps.knnGraphBuild(Tables.embeddings(s, d),
      "vec_id", "embedding", m = 4, tables = 8, bits = 4,
      planesFlat = Some(SimilarityOps.hyperplanesPortable(32, 64)))
    try write(outDir, "v38_knn_graph_build_after.txt", explain(build()))
    finally graft.Caches.clear()
    sys.props("graft.knnBroadcastRows") = "0" // force the keyed path
    try write(outDir, "v38_knn_graph_build_before.txt", explain(build()))
    finally { sys.props.remove("graft.knnBroadcastRows"); graft.Caches.clear() }
  }
}
