package graft

import org.apache.spark.sql.SparkSession

import Harness.{js, jsNames, r3}

object Bench {
  // Gates whose timed body is dominated by an index/table BUILD (bucketed
  // saveAsTable writes, persisted ANN index writes), not the query itself.
  // Their numbers are legitimate to track but are NOT query latencies —
  // emitted under "build_queries" in the JSON so regressions aren't chased
  // as query slowdowns.
  private val buildDominated =
    Set("f27_bucketed_join", "v04_ivf_persist", "v08_ivf_append",
      "v12_pq", "v13_ivf_pq", // PQ family: codebook training + encode
      "v14_pq_persist", "v15_ivfpq_persist", // train + write artifacts
      "v31_stream_ivf_append", // build + two streamed append epochs
      "v32_ivf_repair", // build + append + repair rewrite + two probes
      "v33_pq_refine", // PQ codebook training dominates the timed body
      "v34_ivf_delete", // build + touched-partition rewrite + probe
      "p27_time_travel", // versioned-table create + upsert commits + reads
      "p28_version_diff", // three commits + two manifest-pinned diffs
      "p30_vacuum", // three commits + manifest-pruned reclamation + reads
      "p31_incremental_read", // three commits + the changed-bucket diff
      "p32_cdc_commit", // create + CDC commit + two version reads
      "p33_schema_evolution", // create + evolving commit + merged read
      "p34_stream_cdc_commit", // create + 3 streamed CDC commits + reads
      "d50_exact_substr_incr", // index-artifact build + incremental wave
      "d51_exact_substr_stream", // artifact build + 2 streamed waves
      "p36_table_change_feed", // create + upsert commits + streamed read
      "p38_version_as_of", // create + upsert commits + two as-of reads
      "p39_feed_ivm", // create + upsert commits + streamed MV refresh
      "v37_knn_graph", // k-NN graph construction IS the timed body
      "v38_knn_graph_search", // graph build + the beam probe
      "v39_knn_graph_capped", // capped graph build + the beam probe
      "v40_knn_graph_append", // old build + wave append + the beam probe
      "p40_feed_restart") // create + commits + two consumer instances

  // Stable per-category representatives for the FINAL compact line. The
  // driver keeps only the last ~2000 chars of stdout (BENCH_r05/r06 both
  // failed to parse the former 200-query line), so the parseable line must
  // stay small; the full per-query map still goes to stdout (earlier
  // "detail" line) and to BENCH_DETAIL.json.
  private val headline = Seq(
    "f03_q1_agg", "f04_join_agg", "f16_q3_shipping", "f17_q18_smj",
    "f19_q5_sql", "f14_salted_join", "f07_window_rank", "f12_rollup",
    "f18_group_quantiles", "f28_group_nunique",
    "d01_exact_dedup", "d03_jaccard_pairs", "d04_minhash_lsh", "d05_simhash",
    "d06_embedding_neardup", "d08_dup_clusters", "d09_contamination",
    "d12_semdedup",
    "p01_hash_split", "p02_pack_shards", "p06_corpus_build",
    "t01_token_stats", "t04_tfidf", "t05_langid", "t08_lm_score",
    "v01_knn_bruteforce", "v02_ann_lsh", "v05_group_centroid",
    "e01_tumbling_hour", "e02_sessions", "e06_asof", "e09_stream_sessions",
    "e11_stream_join", "e18_asof_global",
    "s23_rank", "s24_rolling_mean", "s50_ewm",
    "s58_expanding", "s63_resample", "m02_decode_features",
    "d17_incremental_dedup", "d18_stream_ingest",
    "s101_winsorize", "p08_curriculum",
    "s97_monotonic_any", "s105_expanding_qtile_approx", "v03_ann_ivf",
    "p11_pack_sequences", "t12_bpe_pairs", "e27_funnel", "d19_seam_pairs",
    "v07_centroid_matrix", "m07_image_meta",
    "v09_sq_knn", "d20_pagerank", "t17_bm25", "e30_rfm", "p12_token_mixture",
    // round-9 tier representatives
    "d28_tfidf_cosine", "e41_auc", "e44_cusum", "v16_recall_eval",
    "p14_shard_manifest", "m09_wav_meta", "d29_label_prop",
    // round-12 tier representatives
    "d46_louvain", "e73_pr_auc", "f77_bad_records",
    // round-13 tier representatives
    "p26_cdc_compact",
    // round-14 tier representatives
    "d49_exact_substr", "t34_unigram_train", "t36_quality_clf_train",
    // round-15 tier representatives
    "d53_louvain_levels", "t39_clf_feature_compare", "p37_merge_matrix")

  // The driver parses the final stdout line from a ~2000-char tail; keep a
  // safety margin for the totals/sf framing and future value-width growth.
  private[graft] val finalLineBudget = 1850

  /** Render the FINAL compact metric line, pruning headline representatives
    * from the TAIL (newest additions go last) until the rendered line fits
    * the driver's parse budget — growth in the representative set can never
    * silently truncate the one parse surface. Pure, so the budget invariant
    * is spec-testable without running queries. */
  private[graft] def renderFinal(med: Seq[(String, Double)],
      build: Seq[(String, Double)], total: Double, sfDir: String): String = {
    def line(head: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${med.size},"queries":${js(head)},"build_queries":${js(build)},"sf":"$sfDir"}"""
    val byName = med.toMap
    var head = headline.flatMap(n => byName.get(n).map(n -> _))
    while (line(head).length > finalLineBudget && head.nonEmpty)
      head = head.init
    line(head)
  }

  /** Warm every gate, then time three INTERLEAVED passes (pass 1 runs every
    * gate, then pass 2, then pass 3) and keep each gate's median and
    * minimum. Back-to-back samples of one gate share any multi-second
    * machine-contention window, which poisoned whole medians in round 4
    * (e02 10.1 s measured vs 0.37 s quiet); interleaving decorrelates the
    * noise at the same total cost. A gate that throws in any pass is
    * listed under "failed" and left out of the medians, the total and
    * `n_queries`. Returns the per-gate detail line and the final line. */
  private[graft] def bench(spark: SparkSession, sfDir: String,
      gates: Seq[(String, Harness.Gate)]): (String, String) = {
    // without the warm-up pass per-gate numbers move ±3× between rounds on
    // map-iteration order (whichever gate ran first paid the JVM warm-up)
    Harness.warm(spark, sfDir, gates.map(_._2))
    val passes = Seq.fill(3)(gates.map { case (n, gate) =>
      n -> Harness.run(spark, sfDir, gate).toOption.map(_.sec) })
    val samples = passes.flatten.groupMap(_._1)(_._2)
    val (timed, failed) =
      gates.map(_._1).partition(n => samples(n).forall(_.isDefined))
    val sorted = timed.map(n => n -> samples(n).flatten.sorted)
    val med = sorted.map { case (n, s) => n -> s(s.size / 2) }
    val mins = sorted.map { case (n, s) => n -> s.head }
    val detail =
      s"""{"detail":"per_query","queries":${js(med)},"min_queries":${js(mins)},"failed":${jsNames(failed)},"sf":"$sfDir"}"""
    (detail, renderFinal(med, med.filter(kv => buildDominated(kv._1)),
      med.map(_._2).sum, sfDir))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration subset (comma-separated names); driver runs the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val gates = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter(q => names(q._1))).toSeq
    Harness.report("graft-bench", "4") { spark =>
      val (detail, last) = bench(spark, sfDir, gates)
      // Full per-query detail: one stdout line (scrollback) + a file the
      // repo keeps, since the driver's stdout tail is too small to hold it.
      println(detail)
      try {
        val w = new java.io.PrintWriter("BENCH_DETAIL.json")
        try w.println(detail) finally w.close()
      } catch { case _: Throwable => () }
      // FINAL line — the one the driver parses. Compact: totals + a stable
      // headline subset, 3 decimal places; renderFinal prunes tail
      // representatives if the line would outgrow the driver's parse budget.
      last
    }
  }
}
