package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-collect lint: every `collect()` / `head()` call site in MAIN
  * source must be on the allow-list below, each with a documented bound.
  * Every legitimate driver materialization in this engine is bounded BY
  * CONSTRUCTION (min/max bounds rows, `buckets`-row carry folds, k×dim
  * centroids, q−1 quantile cuts, 1-row aggregates) or is the streaming
  * gates' MemoryStream replay harness (the test feed — the production
  * side is readStream). A new collect site fails this suite until it is
  * added here WITH its bound — so an unbounded driver collect can't land
  * silently. Keyed by (file, exact trimmed line), so moving or editing a
  * site also forces re-review. */
class CollectLintSpec extends AnyFunSuite {

  /** file basename -> allowed trimmed call-site lines -> why bounded. */
  private val allowed: Map[String, Map[String, String]] = Map(
    "Ewm.scala" -> Map(
      ".collect().sortBy(_.getLong(0))" ->
        "per-bucket closing partials: `buckets` rows"),
    "GFrame.scala" -> Map(
      "val ra = rowAll.head()" -> "pivotTable All row: 1-row aggregate",
      "val rc = rowCells.head()" -> "pivotTable All row: 1-row aggregate",
      ".agg(max(col(\"__c\"))).head()" ->
        "merge validate max-dup probe: 1-row aggregate",
      "val total = base.agg(sum(col(\"__c\"))).head().getLong(0) // 1-row probe" ->
        "pareto grand total: 1-row aggregate",
      "org.apache.spark.sql.functions.count(lit(1))).head()" ->
        "anova totals: 1-row aggregate over the |groups| frame"),
    "GlobalWindows.scala" -> Map(
      ".collect() // ≤ carry × buckets rows — bounded driver state" ->
        "lag carry rows: carry × buckets",
      ".collect() // ≤ fcarry × buckets rows — bounded driver state" ->
        "lead carry rows: fcarry × buckets",
      "lazy val bounds = d.agg(min(idx), max(idx)).head()" ->
        "1-row min/max index bounds of every bucketed global-order plan",
      "val stats = statsDf.collect().sortBy(_.getLong(0))" ->
        "per-bucket offset stats: `buckets` rows",
      "typedlit(qs), lit(10000)).as(\"c\")).head()" ->
        "balanced bucket boundaries: buckets−1 quantile cuts, 1 row"),
    "Series.scala" -> Map(
      ".agg(F.corr(col(\"v\"), col(\"p\"))).head()" ->
        "autocorr: 1-row aggregate",
      ".collect().sortBy(_.getLong(0))" ->
        "rankAll/searchsorted value-bucket offsets: `buckets` rows",
      ".select(\"__v\").head(1).headOption" -> "getitem by label: 1 row",
      ".select(indexName).head(1).headOption" -> "idxmax/idxmin: 1 row",
      "F.max(indexExpr).as(\"hi\")).head()" ->
        "resampleFfill grid bounds: 1-row min/max",
      "F.max(valueExpr).cast(\"double\")).head()" ->
        "cut/binning bounds: 1-row min/max",
      "Series.F.max(s.indexExpr).cast(\"long\")).head()" ->
        "RangeIndex bounds: 1-row min/max",
      "base.agg(F.approx_count_distinct(valueExpr, rsd)).head().getLong(0)" ->
        "sketch nunique: 1-row aggregate",
      "if (other.base eq base) base.agg(f(valueExpr, other.valueExpr)).head()" ->
        "corr/cov scalar: 1-row aggregate",
      "l.join(r, Seq(IdxCol)).agg(f(col(LeftCol), col(RightCol))).head()" ->
        "corr/cov scalar (aligned): 1-row aggregate",
      "private def aggScalar(c: Column): Any = base.agg(c).head().get(0)" ->
        "scalar reductions (sum/mean/...): 1-row aggregate",
      "val row = base.agg(edges.as(\"qs\")).head()" ->
        "qcut cuts: q−1 quantiles (exact or sketch), 1 row",
      "val row = base.agg(bounds.as(\"qs\")).head()" ->
        "winsorize bounds: 2 quantiles (exact or sketch), 1 row",
      "coalesce(bool_and(allPred(col(\"__v\"))), lit(true))).head()" ->
        "monotonicStats fused probe: 1-row aggregate",
      "}.collect().toMap" ->
        ("expandingQuantileApprox per-partition sketches: `buckets` " +
          "compressed GK summaries (~(1/eps)·log(eps·N) tuples each)"),
      "val row = base.agg(F.avg(valueExpr), stddev_samp(valueExpr)).head()" ->
        "zscore stats: 1-row aggregate",
      "F.max(valueExpr).cast(\"double\")).head()" ->
        "minmax bounds: 1-row aggregate",
      "val totalRow = counts.agg(F.sum(\"count\")).head()" ->
        "value_counts(normalize) denominator: 1 row",
      "val counts = base.agg(F.count(lit(1)), F.count(valueExpr)).head()" ->
        "rankNa total/non-null counts: 1 row"),
    "RangeWindows.scala" -> Map(
      "private val bounds = d.agg(F.min(col(idxName)), F.max(col(idxName))).head()" ->
        "1-row min/max bounds"),
    "EvalOps.scala" -> Map(
      ".head() // 1-row totals probe over the bounded bin frame" ->
        "psi totals: 1-row aggregate over the |bins| frame",
      "val total = scored.agg(sum(col(\"__pu\"))).head().getLong(0) // 1-row" ->
        "psi closing total: 1-row aggregate over the |bins| frame",
      "sum(col(\"n_actual\") * col(\"n_pred\"))).head()" ->
        "classification totals: 1-row aggregate over the k-class margins",
      "val t = byVp.agg(sum(col(\"c1\")), sum(col(\"c2\"))).head()" ->
        "ks totals: 1-row aggregate over the distinct-value frame",
      "val gmax = gaps.agg(max(col(\"g\"))).head().getLong(0) // 1-row probe" ->
        "ks max gap: 1-row aggregate over the distinct-value frame",
      "val total = counts.agg(sum(col(\"n\"))).head().getLong(0) // 1-row, 9 bins" ->
        "benford total: 1-row aggregate over the 9-digit frame",
      "val sumu = scored.agg(sum(col(\"__du\"))).head().getLong(0) // 1-row, 9 bins" ->
        "benford MAD total: 1-row aggregate over the 9-digit frame",
      "countDistinct(col(\"b\")).as(\"kb\")).head() // 1-row probe, bounded" ->
        "cramers-v grand total / category counts: 1-row aggregate",
      "val chiTotal = cells.agg(sum(col(\"__cu\"))).head().getLong(0) // 1-row" ->
        "cramers-v closing statistic: 1-row aggregate over bounded cells"),
    "EventOps.scala" -> Map(
      ".collect().sortBy(_.getLong(0)) // ≤ buckets rows of driver state" ->
        "asofJoinGlobal latest/earliest right row per bucket: ≤ buckets rows",
      "val lastRow = df.agg(max(unix_micros(col(tsCol)))).head()" ->
        "rfm corpus-last bound: 1-row aggregate",
      ".collect() // |types|² rows — bounded driver state" ->
        "markov transition matrix: |types|² cells",
      ".collect() // |types|² rows — bounded driver state (e45 bound)" ->
        "absorbing-probability transition matrix: |types|² cells",
      "val g = cells.agg(sum(col(\"n\")), count(lit(1))).head() // 1-row grand" ->
        "seasonal grand mean: 1-row aggregate over the ≤7×24 cell frame",
      "countDistinct(col(\"b\")).as(\"kb\")).head()" ->
        "chi2 grand total / category counts: 1-row aggregate",
      "val chiTotal = cells.agg(sum(col(\"__cu\"))).head().getLong(0)" ->
        "chi2 closing statistic: 1-row aggregate over the bounded cells",
      "val t = bins.agg(sum(col(\"pos\")), sum(col(\"neg\"))).head() // 1-row" ->
        "woe/iv class totals: 1-row aggregate over the bounded bins",
      "val ivTotal = scored.agg(sum(col(\"__ivu\"))).head().getLong(0) // 1-row" ->
        "IV closing statistic: 1-row aggregate over the bounded bins",
      "percentile(col(\"monetary\"), qs).as(\"mq\")).head()" ->
        "rfm quartile cuts: 9 doubles, 1 row",
      "val lastRow = spans.agg(max(col(\"u1\"))).head() // 1-row horizon probe" ->
        "kaplan-meier horizon: 1-row aggregate",
      ".collect() // ≤ corpus-span units rows — calendar-bounded" ->
        "kaplan-meier per-duration frame: ≤ corpus-span units rows"),
    "TextOps.scala" -> Map(
      ".head() // 1-row arg-max: the round's merge pair" ->
        "bpeTrain per-round merge pick: 1-row aggregate (k rounds)",
      "val stats = staged.agg(count(lit(1)), sum(col(\"dl\"))).head()" ->
        "bm25 N/avgdl probe: 1-row aggregate",
      "sum(greatest(size(col(\"__ts\")) - 1, lit(0))).as(\"nb\")).head()" ->
        "pmi corpus token/bigram totals: 1-row aggregate",
      "sum(u6(x * x)).as(\"sxx\")).head()" ->
        "zipf regression sums: 1-row aggregate of exact integer units",
      ".collect() // ≤ |alphabet| rows — every single char joins the vocab" ->
        "unigram seed chars: ≤ |alphabet| rows",
      ".collect() // ≤ seedVocab rows — the heap cut" ->
        "unigram seed multi pieces: engine-side top-K, ≤ seedVocab rows",
      ".collect() // ≤ |vocab| rows — the loadCentroids bound" ->
        "unigram per-round piece usage: ≤ chars + seedVocab rows",
      ".collect() // ≤ 2·dim+2 rows — bounded driver state" ->
        "classifier per-iteration gradient: ≤ 2·dim+2 rows",
      ".head() // 1-row accuracy probe" ->
        "classifier datasheet accuracy: 1-row aggregate per variant",
      "val tot = freq.agg(sum(col(\"t75\"))).head().getDouble(0) // 1-row probe" ->
        "negative-sampling normalizer: 1-row aggregate over |vocab|",
      "val t75Total = freq.agg(sum(col(\"t75\"))).head().getDouble(0) // 1-row probe" ->
        "sgns noise normalizer: 1-row aggregate over |vocab|",
      "emb.collect() // ≤ |vocab|·dim rows — the trained model, bounded" ->
        "sgns trained matrices: |vocab|·dim rows (the kmeans-centroid contract)",
      ".collect() // ≤ |vocab| rows — the CDF build, same bound as the model collect" ->
        "sgns sampled-negative CDF: |vocab| rows, shipped back as a local relation",
      "val nw = pairs.agg(sum(col(\"cnt\"))).head().getLong(0).toDouble // 1-row" ->
        "sgns total positive weight: 1-row aggregate",
      "sum(col(\"freq\") * col(\"wlen\")).as(\"ct\")).head() // 1-row probe" ->
        "tokenizerCompare piece/char totals: 1-row aggregate",
      ".agg(count_distinct(norm(col(\"t\"))).as(\"vu\")).head() // 1-row probe" ->
        "tokenizerCompare used-vocab count: 1-row aggregate"),
    "ValidateOps.scala" -> Map(
      "val r = df.agg(aggs.head, aggs.tail: _*).head() // 1 row: rule sums" ->
        "fused row rules: 1-row aggregate",
      "countDistinct(col(cols.head), cols.tail.map(col): _*)).head()" ->
        "uniqueness rule: 1-row aggregate",
      "val bad = orphans.agg(count(lit(1))).head().getLong(0) // 1-row probe" ->
        "referential rule orphan count: 1-row aggregate",
      "val total = child.agg(count(lit(1))).head().getLong(0) // 1-row probe" ->
        "referential rule child total: 1-row aggregate"),
    "GraphOps.scala" -> Map(
      "sum(col(\"d_sum\") * col(\"d_sum\"))).head()" ->
        "modularity totals: 1-row aggregate over the |communities| frame",
      ".collect().map(r => r.getString(0) -> r.getLong(1)).toMap" ->
        ("modularityQ tagged one-pass totals: |labelings| rows per " +
          "collect (one (tag, count) row per scored labeling)"),
      "val m2 = deg.agg(sum(col(\"k\"))).head().getLong(0) // 1-row probe: 2m" ->
        "weighted louvain total degree: 1-row aggregate"),
    "DedupOps.scala" -> Map(
      "val one = flagged.agg(tierCols.head, tierCols.tail: _*).head()" ->
        "lshBandCurve all-tier score: 1-row aggregate (2 cols per tier)"),
    "StreamOps.scala" -> Map(
      ".collect() // ≤ |newly committed manifests| rows" ->
        ("change-feed version discovery: one file NAME per manifest the " +
          "micro-batch delivered — bounded by the commit rate, never data")),
    "SkewOps.scala" -> Map(
      "val t = counts.agg(sum(col(\"cnt\")), count(lit(1))).head()" ->
        "skew report totals: 1-row aggregate over the keyed counts"),
    "PipelineOps.scala" -> Map(
      ".orderBy(col(\"__bkt\")).collect().filterNot(_.isNullAt(0))" ->
        "shard prefix sums: `shards` rows",
      ".collect() // |strata| rows — bounded driver state" ->
        "token-budget mixture rates: |strata| rows",
      "max(col(idCol)).cast(\"double\")).head()" -> "1-row min/max bounds",
      "val sumW = w.agg(sum(col(\"wu\"))).head().getLong(0) // 1-row, k sources" ->
        "temperature-mixture weight total: 1-row aggregate over k sources"),
    "VersionedTable.scala" -> Map(
      ".collect().map(_.getLong(0)).sorted" ->
        "commitUpsert touched buckets: ≤ |buckets| distinct ids",
      ".collect().map(_.getLong(0)).sorted // ≤ |buckets| rows" ->
        "commitCdc touched buckets: ≤ |buckets| distinct ids"),
    "PipelineQueries.scala" -> Map(
      ".collect() // CDC replay log — ≤ 3 ops × |documents|/10 + 3 rows" ->
        ("MemoryStream replay feed (p29: the p26 change log, memoized " +
          "once per fixture dir; ~0.25·|documents| rows)")),
    "SimilarityOps.scala" -> Map(
      ".collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap" ->
        "IVF centroids: k × dim",
      ".agg(max(abs(col(\"v\")))).head() // 1-row bounded scale probe" ->
        "scalar-quantization scale: 1-row max aggregate",
      ".orderBy(\"cluster\").collect()" -> "IVF centroids reload: k × dim",
      ".collect() // k × dim driver state — the loadCentroids bound" ->
        "ivfRepair re-centered means: k × dim",
      ".collect().map(_.getInt(0)) // ≤ nClusters rows — bounded driver list" ->
        "ivfDelete touched-partition list: ≤ nClusters rows",
      "var centroids = v.orderBy(\"id\").limit(k).collect()" ->
        "k-means seeds: k × dim",
      ".collect() // ≤ entryK rows — the backstop entry set, bounded" ->
        "graph-ANN backstop entry points: entryK node ids",
      ".collect() // dim² rows — bounded driver state" ->
        "PCA Gram matrix: dim² cells",
      "val seedRows = v.orderBy(\"id\").limit(codebook).collect() // k × dim seeds" ->
        "PQ k-means seeds: codebook × dim, one collect for all subspaces",
      ".collect() // m × codebook rows — bounded driver state" ->
        "PQ fused per-round centroid means: m × codebook rows",
      ".head().getInt(0) // 1-row dim probe" ->
        "PQ dimension probe: 1 row",
      "val rows = spark.read.parquet(dir).orderBy(\"s\", \"code\").collect()" ->
        "PQ codebook artifact reload: m × codebook rows"),
    "FrameQueries.scala" -> Map(
      "val wrev = byNationP.agg(sum(col(\"rev\"))).head() // 1-row world total" ->
        "share-of-parent world total: 1-row aggregate over the |nations| frame",
      "val total = counts.agg(sum(col(\"n\"))).head().getLong(0) // 1-value digit total" ->
        "Benford total: 1-value aggregate over the 9-digit frame",
      "val b = base.agg(aggs.head, aggs.tail: _*).head() // ONE pass" ->
        ("f24 fused describe+band probe: 1-row aggregate (3 cols x " +
          "(8 describe stats + 6 band percentiles))")),
    "SparkEntry.scala" -> Map(
      "val maxI = o.agg(max(col(\"o_orderkey\"))).head().getLong(0) // 1-row probe" ->
        "s105 checkpoint width: 1-row max probe"),
    "SimilarityQueries.scala" -> Map(
      ".collect().map(_.getSeq[Double](1).toArray) // k x dim driver state" ->
        "v29 centroid artifact reload: k × dim",
      ".select(col(\"vec_id\"), col(\"embedding\")).collect()" ->
        "MemoryStream replay feed (v31 gate harness: the 10% batch, memoized)"),
    "TextQueries.scala" -> Map(
      ".collect() // replay fixture — |documents| rows, memoized" ->
        "MemoryStream replay feed (t44 gate harness, memoized)",
      "val b = docs.agg(min(col(\"doc_id\")), max(col(\"doc_id\"))).head() // 1-row id-range probe" ->
        "t29 tier cutoffs: 1-row min/max probe",
      "val voc = firsts.agg(vocAggs.head, vocAggs.tail: _*).head() // 1-row: |tiers| counts" ->
        "t29 vocabulary rollup: 1 row x 5 tier counts",
      "val tok = docs.agg(tokAggs.head, tokAggs.tail: _*).head() // 1-row: |tiers| sums" ->
        "t29 token rollup: 1 row x 10 tier sums"),
    // the streaming gates' MemoryStream replay harness — the TEST feed
    // (production side is readStream); bounded by the fixture only
    "DedupQueries.scala" -> Map(
      "fresh.select(\"doc_id\", \"text\").collect()" ->
        "MemoryStream replay feed (d18 gate harness, memoized)",
      "Tables.documents(s, d).select(\"source\", \"text\").collect()" ->
        "MemoryStream replay feed (d27 gate harness, memoized)",
      ".collect() // replay fixture — |documents| rows, memoized" ->
        "MemoryStream replay feed (d51 gate harness, memoized)"),
    // all memoized per (fixture dir, projection) in the replay-feed
    // helpers at the top of EventQueries — one collect per session
    "EventQueries.scala" -> Map(
      ".collect() // THE superset replay projection — |events| rows, once" ->
        ("MemoryStream replay feed (eventRows: the one superset " +
          "projection all replay gates derive their tuples from — " +
          "|events| rows, collected once per fixture dir)")))

  test("every driver collect/head call site in main is allow-listed with a bound") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"expected source root at $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    val callSite = """\.collect\(\)|\.head\(\)|\.head\(1\)""".r
    val violations = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      trimmed = line.trim
      if callSite.findFirstIn(trimmed).isDefined
      if !trimmed.startsWith("//") && !trimmed.startsWith("*")
      if !allowed.getOrElse(f.getFileName.toString, Map.empty)
        .contains(trimmed)
    } yield s"${f.getFileName}:${i + 1}: $trimmed"
    assert(violations.isEmpty,
      "un-allow-listed driver collect/head sites (add to CollectLintSpec " +
        "WITH a documented bound, or make the operator distributed):\n  " +
        violations.mkString("\n  "))
  }

  test("the allow-list itself stays in sync (no stale entries)") {
    val root = Paths.get("src/main/scala/graft")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        Files.readAllLines(p).asScala.map(_.trim).toSet)
      .toMap
    val stale = for {
      (file, entries) <- allowed.toSeq
      line <- entries.keys
      if !sources.getOrElse(file, Set.empty).contains(line)
    } yield s"$file: $line"
    assert(stale.isEmpty,
      s"stale allow-list entries (site moved or removed — update " +
        s"CollectLintSpec):\n  ${stale.mkString("\n  ")}")
  }
}
