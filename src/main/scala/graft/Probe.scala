package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Plan dumps of the real operators, the evidence committed under
  * `plans/r17/`. NOT part of the bench or verify surface:
  *
  *   sbt "runMain graft.Probe round_plans /root/testdata/sf0.01 plans/r17"
  *   sbt "runMain graft.Probe knn_plans /root/testdata/sf0.01 plans/r17"
  *
  * Gate wall time and stage skew come from `graft.Rehearsal`. */
object Probe {

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("round_plans")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r17"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    what match {
      case "round_plans" => roundPlans(spark, sfDir, outDir)
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

  /** Dump the REAL per-round physical plans of the iterative graph ops
    * (via [[graft.PlanTap]] — the ops' own loops offer each round's
    * pre-checkpoint frame) to `<outDir>/<op>_round2_after.txt`, plus one
    * above-broadcast-limit louvain dump showing the keyed-shuffle
    * fallback engage. Round 2 is the representative round: round 1 of
    * louvain runs on the identity labeling (simplified joins) and every
    * later round plans identically to round 2. */
  private def roundPlans(s: SparkSession, d: String, outDir: String): Unit = {
    import graft.ops.{DedupOps, GraphOps}
    val plans = scala.collection.mutable.Map[String, String]()
    PlanTap.install(Some((label, df) => plans(label) = explain(df)))
    def dump(label: String, file: String): Unit =
      write(outDir, file, plans.getOrElse(label,
        sys.error(s"plan tap missed $label — op converged early?")))
    // d46/d53/d31 shape: lineitem co-purchase pair graph
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
    val pairs = graft.Caches.track(
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("id1"), col("b.l_partkey").as("id2"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    GraphOps.louvainOneLevel(pairs, "id1", "id2", iters = 4).count()
    dump("louvain_round2", "louvain_round2_after.txt")
    GraphOps.labelPropagation(pairs, "id1", "id2", iters = 4).count()
    dump("labelPropagation_round2", "lpa_round2_after.txt")
    GraphOps.kCore(pairs, "id1", "id2", k = 80, rounds = 8).count()
    dump("kCore_round2", "kcore_round2_after.txt")
    // d20 shape: jaccard pair graph over documents
    val jp = DedupOps.jaccardPairs(Tables.documents(s, d), "doc_id",
      "text", n = 3, threshold = 0.5)
    GraphOps.pageRank(jp, "id1", "id2").count()
    dump("pageRank_round2", "pagerank_round2_after.txt")
    // kCore BEFORE: the identical loop with the partitioned checkpoint
    // disabled — every round re-plans the Exchange the bridge removes
    sys.props("graft.noPartitionedCheckpoint") = "1"
    try {
      GraphOps.kCore(pairs, "id1", "id2", k = 80, rounds = 8).count()
      dump("kCore_round2", "kcore_round2_before.txt")
    } finally sys.props.remove("graft.noPartitionedCheckpoint")
    // fallback evidence: force the broadcast row gate shut — every
    // per-round join must fall back to the keyed shuffle, exactly the
    // big-graph path
    sys.props("graft.broadcastRowLimit") = "0"
    try {
      GraphOps.louvainOneLevel(pairs, "id1", "id2", iters = 4).count()
      dump("louvain_round2", "louvain_round2_nobroadcast.txt")
    } finally sys.props.remove("graft.broadcastRowLimit")
    PlanTap.install(None)
  }

  /** v37/v38 knnGraphBuild BEFORE/AFTER plans: the default blocked
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
