package graft

/** Cold-JVM bench CANARY — the falsifiability protocol for
  * round-over-round suite drift: BENCH_r12/r13 both read 10-20% slower
  * than the previous round with the worst "regressions" landing on
  * gates no commit touched, and the defense was ad-hoc same-session
  * re-measurement. This pins it: a FIXED set of 15 queries spanning
  * tiers, each run ONCE in a fresh JVM (after one fixed warm-up query
  * that absorbs first-query JVM/codegen startup), timings printed as
  * one JSON line. `tools/canary.sh` launches 3 cold JVMs and appends
  * the per-query MEDIAN to the cumulative CANARY.json.
  *
  * Reading it: if the 424-gate suite number creeps while the cold-JVM
  * canary stays flat, the creep is suite/JVM pressure (one JVM running
  * 424 gates × 4 passes — code-cache, GC, block-manager residency),
  * not plan regressions; if the canary creeps too, a real regression
  * exists and the moved query names it.
  *
  * The pinned set must NOT change across rounds — comparability is the
  * point. It spans: TPC-H joins/aggs (f16, f17), shingle dedup (d03,
  * d04), graph (d20, d46 — the priciest iterative gates), ANN build +
  * probe (v03, v13), streaming replays (e11, e27), global windows
  * (s50, s105), text (t04, t17), corpus packing (p06). */
object Canary {
  val pinned: Seq[String] = Seq(
    "f16_q3_shipping", "f17_q18_smj", "d03_jaccard_pairs",
    "d04_minhash_lsh", "d20_pagerank", "d46_louvain", "v03_ann_ivf",
    "v13_ivf_pq", "e11_stream_join", "e27_funnel", "s50_ewm",
    "s105_expanding_qtile_approx", "t04_tfidf", "t17_bm25",
    "p06_corpus_build")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Harness.report("graft-canary", "32") { spark =>
      Harness.warm(spark, sfDir, Seq(SparkEntry.queries(Harness.warmUpGate)))
      val runs = pinned.map(n =>
        n -> Harness.run(spark, sfDir, SparkEntry.queries(n)))
      val times = runs.collect { case (n, Right(s)) => n -> s.sec }
      // canary.sh refuses to append a median built on a failed gate
      val failed = runs.collect { case (n, Left(_)) => n }
      "{\"canary\":" + Harness.js(times) +
        ",\"total\":" + Harness.r3(times.map(_._2).sum) +
        ",\"failed\":" + Harness.jsNames(failed) +
        ",\"sf\":\"" + sfDir + "\"}"
    }
  }
}
