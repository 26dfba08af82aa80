package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, SimilarityOps, TextOps}

/** Behavioral specs for the pipeline ops (dedup / similarity / text) on
  * hand-computed micro-corpora, plus an LSH-vs-exact recall check on the
  * real fixtures. */
class OpsSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different text about spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("topNgramShare: hand-counted bigram coverage, short docs drop") {
    val tiny = Seq(
      (1L, "a b a b a b"),     // bigrams: ab,ba,ab,ba,ab → top ab=3 of 5
      (2L, "x y z"),           // xy,yz → top 1 of 2
      (3L, "solo")             // no bigrams → drops
    ).toDF("doc_id", "text")
    val got = TextOps.topNgramShare(tiny, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    Caches.clear()
    assert(got.toSeq == Seq((1L, 5L, 3L, 0.6), (2L, 2L, 1L, 0.5)))
  }

  test("retentionCohorts: hand-built two-cohort triangle") {
    import java.sql.Timestamp
    def t(w: Int, dow: Int): Timestamp = // week w (Mon-aligned), day dow
      new Timestamp(Timestamp.valueOf("2024-01-01 12:00:00").getTime
        + (w * 7L + dow) * 86400000L)
    // users 1,2 first seen week 0; user 1 returns week 1; user 3 starts
    // week 1 and returns week 2
    val ev = Seq(
      (1L, t(0, 0)), (2L, t(0, 2)), (1L, t(1, 1)),
      (3L, t(1, 0)), (3L, t(2, 3))
    ).toDF("user_id", "ts")
    val got = graft.ops.EventOps.retentionCohorts(ev, "user_id", "ts")
      .orderBy("cohort_week", "week_no").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    Caches.clear()
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, 1.0),   // cohort w0: both active week 0
      (1L, 1L, 2L, 0.5),   // only user 1 back in week 1
      (0L, 1L, 1L, 1.0),   // cohort w1 = user 3
      (1L, 1L, 1L, 1.0)))
  }

  test("stickiness: hand DAU/MAU ratios") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-03-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-03-01 11:00:00")),
      (1L, Timestamp.valueOf("2024-03-02 10:00:00")),
      (3L, Timestamp.valueOf("2024-04-01 09:00:00"))
    ).toDF("user_id", "ts")
    val got = graft.ops.EventOps.stickiness(ev, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    Caches.clear()
    // March MAU = {1,2,3 minus 3} = {1,2} → 2; April MAU = {3} → 1
    assert(got.toSeq == Seq((2L, 2L, 1.0), (1L, 2L, 0.5), (1L, 1L, 1.0)))
  }

  test("snapshotDiff: added/removed/changed/unchanged classification") {
    val before = Seq((1L, "same"), (2L, "old"), (3L, "gone"))
      .toDF("doc_id", "text")
    val after = Seq((1L, "same"), (2L, "new"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = graft.ops.PipelineOps
      .snapshotDiff(before, after, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
  }

  test("volumeAutocorr: perfectly periodic volume scores acf 1, " +
    "anti-periodic scores -1") {
    import java.sql.Timestamp
    def h(i: Int): Timestamp =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime
        + i * 3600000L)
    // type p: volumes 1,2,1,2 at lag 2 → pairs (1,1),(2,2)… wait lag 1:
    // use lag 1 with volumes 1,2,1,2 → pairs (1,2),(2,1),(1,2): r = -1.
    // type q: volumes 1,2,3,4 at lag 1 → perfectly linear: r = 1.
    val rows =
      Seq.tabulate(4)(i => Seq.fill(i + 1)(("q", h(i)))).flatten ++
      Seq(("p", h(0)), ("p", h(1)), ("p", h(1)), ("p", h(2)),
        ("p", h(3)), ("p", h(3)))
    val ev = rows.toDF("event_type", "ts")
    val got = graft.ops.EventOps
      .volumeAutocorr(ev, "event_type", "ts", lagBuckets = 1)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("p", 3L, -1.0), ("q", 3L, 1.0)))
  }

  test("pqDistortion is exactly zero when every sub-slice is a codeword") {
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)), (1L, Array(0f, 1.0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1.0f, 0f)), (3L, Array(0f, 0f, 0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.pqDistortion(vecs, "vec_id", "embedding",
        m = 2, codebook = 4, kmeansIters = 2)
      .orderBy("s").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    Caches.clear()
    assert(got.toSeq == Seq((0, 4L, 0L, 0.0), (1, 4L, 0L, 0.0)))
  }

  test("ngramContamination reports shared-trigram containment vs a benchmark") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // doc 1 contains both benchmark trigrams; doc 3 shares none
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (3L, "completely different text entirely")).toDF("doc_id", "text")
    val got = DedupOps.ngramContamination(train, bench, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    Caches.clear()
    // benchmark has trigrams {a b g, b g d} (2); doc 1 shares both → 1.0
    assert(got.toSeq == Seq((1L, 100L, 2L, 1.0)))
  }

  test("ngramContamination broadcasts the benchmark side, not the corpus") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val plan = DedupOps.ngramContamination(train, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    Caches.clear()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bloomContamination == ngramContamination (no false negatives; " +
      "false positives die in the exact join)") {
    assume(new java.io.File(
      "/root/testdata/sf0.001/documents.parquet").exists)
    val full = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = full.filter(col("doc_id") < 25)
    val train = full.filter(col("doc_id") >= 25)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("train_id", "bench_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSeq
    val exact = key(DedupOps.ngramContamination(
      train, bench, "doc_id", "text", 3))
    val bloom = key(DedupOps.bloomContamination(
      train, bench, "doc_id", "text", 3))
    Caches.clear()
    assert(bloom == exact)
  }

  test("exactDedup groups identical content, survivor = min id") {
    val out = DedupOps.exactDedup(docs, "doc_id", "text")
      .orderBy("survivor_id").collect()
    assert(out.length == 3)
    val g = out.map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(g.contains((1L, 2L))) // docs 1+4 merged under survivor 1
  }

  test("jaccardPairs finds near-dups and exact dups, no false positives") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5)
      .orderBy("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("jaccard value matches hand computation") {
    // doc1: 7 shingles, doc2: 7 shingles, 6 shared -> 6/8
    val j = DedupOps.jaccardPairs(docs.filter(col("doc_id") < 3), "doc_id",
        "text", n = 3, threshold = 0.1)
      .collect().head.getDouble(2)
    assert(math.abs(j - 6.0 / 8.0) < 1e-12)
  }

  test("minhashNearDup reproduces the exact-jaccard answer on the micro corpus") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    val lsh = DedupOps.minhashNearDup(docs, "doc_id", "text", 3, 32, 8, 0.5)
      .select("id1", "id2").collect().map(_.toSeq).toSet
    assert(lsh == exact)
  }

  /** The children of an executed-plan node, walking through AQE stages,
    * reused exchanges and the cached plans of persisted frames. */
  private def planKids(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case o => o.children
    }
  }

  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: planKids(p).flatMap(planNodes)

  test("minhashNearDup and the contamination ops exchange no text and " +
    "no repartition at default properties") {
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ShuffleExchangeExec}
    val full = Tables.documents(spark, fixtureDir)
    val bench = full.filter(col("doc_id") < 25)
    val train = full.filter(col("doc_id") >= 25)
    val runs = Seq(
      "minhashNearDup" -> DedupOps.minhashNearDup(full, "doc_id", "text"),
      "ngramContamination" ->
        DedupOps.ngramContamination(train, bench, "doc_id", "text", 3),
      "bloomContamination" ->
        DedupOps.bloomContamination(train, bench, "doc_id", "text", 3))
    val bad = runs.flatMap { case (name, df) =>
      df.collect()
      planNodes(df.queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM ||
            e.child.output.exists(a => a.name == "text" || a.name == "__txt") =>
          s"$name: ${e.simpleString(200)} over ${e.child.output.mkString(", ")}"
      }.distinct
    }
    Caches.clear()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("minhashNearDup verifies only candidate docs: with broadcasts off " +
    "the shingle side of both id joins is under the candidate semi-join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val full = Tables.documents(spark, fixtureDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = rows(DedupOps.minhashNearDup(full, "doc_id", "text"))
    Caches.clear()
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val df = DedupOps.minhashNearDup(full, "doc_id", "text")
      val keyed = rows(df)
      // per scan of the persisted shingle arrays: under a semi-join?
      def scans(p: org.apache.spark.sql.execution.SparkPlan,
                underSemi: Boolean): Seq[Boolean] = p match {
        case m: InMemoryTableScanExec if m.output.exists(_.name == "shs") =>
          Seq(underSemi)
        case j: BaseJoinExec if j.joinType == LeftSemi =>
          j.children.flatMap(scans(_, underSemi = true))
        case o => planKids(o).flatMap(scans(_, underSemi))
      }
      val found = scans(df.queryExecution.executedPlan, underSemi = false)
      Caches.clear()
      assert(found.size >= 2, s"shingle scans: $found")
      assert(found.forall(identity),
        s"a shingle scan outside the semi-join:\n${df.queryExecution.executedPlan}")
      assert(keyed == default)
      assert(default.nonEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("simhash: identical docs collide, hamming pairs found") {
    val out = DedupOps.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out.exists { case (a, b, h) => a == 1L && b == 4L && h == 0 })
    // the 60-bit engine-portable config (d05's gate) agrees on the
    // identical-doc pair and stays within the signed-long range
    val p = DedupOps.simhashNearDup(docs, "doc_id", "text", maxHamming = 3,
        bits = 60, hash = DedupOps.portableHash60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(p.exists { case (a, b, h) => a == 1L && b == 4L && h == 0 })
    val hs = docs.select(DedupOps.portableHash60(col("text"))).collect()
      .map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("stop-shingle cap drops ubiquitous shingles but keeps rare signal") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, maxShingleDocFreq = Some(10))
      .collect()
    assert(pairs.nonEmpty)
  }

  test("capped jaccard uses the capped universe for BOTH inter and sizes") {
    // cap=2 drops the 6 shingles shared by docs 1,2,4 (df=3). Survivors:
    // docs 1,4 keep only "the lazy dog" -> inter=1, sizes 1,1 -> jaccard 1.
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.5, maxShingleDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((1L, 4L, 1.0)))
  }

  test("cosine matches hand computation, in double") {
    val df = Seq((1L, Array(1.0f, 0.0f), Array(1.0f, 1.0f)))
      .toDF("id", "a", "b")
    val sim = df.select(DedupOps.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(sim - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("knnBruteForce ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 0.01f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.knnBruteForce(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 2)
      .orderBy("rk").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(3L, 1L)) // closest first
  }

  test("annLsh finds planted near neighbors (the high-sim regime LSH is for)") {
    // 20 clusters of 10 vectors each: center + small noise -> intra-cluster
    // cosine ~0.98. Deterministic seed. LSH must recover same-cluster
    // neighbors as top-k.
    val rnd = new scala.util.Random(7L)
    val dim = 16
    val vecs = (0 until 20).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 10).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
        ((cl * 10 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 10 === 0) // one probe per cluster
    val exact = SimilarityOps.knnBruteForce(vecs, q, "vec_id", "embedding", 5,
      ).select("qid", "nid").collect().map(_.toSeq).toSet
    val ann = SimilarityOps.annLsh(vecs, q, "vec_id", "embedding", 5,
        tables = 8, bits = 4, dim = dim)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.95, s"LSH recall $recall below 0.95")
  }

  test("ivfSearch finds planted near neighbors with few probes") {
    val rnd = new scala.util.Random(11L)
    val dim = 16
    val vecs = (0 until 10).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 20).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
        ((cl * 20 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 20 === 0)
    val exact = SimilarityOps.knnBruteForce(vecs, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val ivf = SimilarityOps.ivfSearch(vecs, q, "vec_id", "embedding", 5,
        nClusters = 8, nProbe = 3, dim = dim)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9")
  }

  private val fixtureDir = "/root/testdata/sf0.001"
  private def haveFixture =
    new java.io.File(s"$fixtureDir/embeddings.parquet").exists

  test("v37/v38 graph-ANN: beam search recall >= IVF at matched probe " +
    "cost on planted clusters") {
    // Planted-cluster corpus (the d06/v17 recall-regime discipline: on
    // the uniform-random fixture NO sublinear index beats chance — ANN
    // recall evidence needs actual neighborhood structure). 20 clusters
    // x 25 members, sigma 0.5 around sigma-1 centers, deterministic.
    val rnd = new scala.util.Random(13L)
    val dim = 16
    val vecs = (0 until 20).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 25).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.5).toFloat)
        ((cl * 25 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") % 25 === 0) // one query per cluster
    val exact = SimilarityOps.knnBruteForce(vecs, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    // m=6 graph from 8x4 portable planes; LSH-seeded 8 entries, beam 8,
    // 3 undirected hops -> <= 2*8 + 3*8*12 scored nodes/query bound
    val g = SimilarityOps.knnGraphBuild(vecs, "vec_id", "embedding",
      m = 6, tables = 8, bits = 4, dim = dim,
      planesFlat = Some(SimilarityOps.hyperplanesPortable(32, dim)))
      .localCheckpoint(true)
    val graph = SimilarityOps.knnGraphSearch(g, vecs, q, "vec_id",
        "embedding", k = 5, entryK = 8, beam = 8, hops = 3,
        tables = 8, bits = 4, dim = dim,
        planesFlat = Some(SimilarityOps.hyperplanesPortable(32, dim)))
      .select("qid", "nid").collect().map(_.toSeq).toSet
    // IVF at matched probe cost: nprobe 4 of 16 clusters scans ~25% of
    // the 500-vector corpus (~125 scored) per query
    val ivf = SimilarityOps.ivfSearch(vecs, q, "vec_id", "embedding", 5,
        nClusters = 16, nProbe = 4, dim = dim)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    graft.Caches.clear()
    val graphRecall = (exact & graph).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    info(f"v38 graph-ANN planted recall: $graphRecall%.3f " +
      "(m=6, entryK=8, beam 8, 3 hops)")
    info(f"v03 IVF recall at matched probe cost: $ivfRecall%.3f")
    assert(graphRecall >= ivfRecall - 1e-9,
      f"graph recall $graphRecall%.3f below IVF's $ivfRecall%.3f")
    assert(graphRecall >= 0.95, f"graph recall $graphRecall%.3f < 0.95")
  }

  test("annLsh on uniform fixtures returns <= k rows per query (rows-only op)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 3)
    val ann = SimilarityOps.annLsh(e, q, "vec_id", "embedding", 5)
      .groupBy("qid").count().collect()
    assert(ann.forall(_.getLong(1) <= 5))
  }

  test("v02/v03 gate configs hold recall >= 0.8 vs exact v01 on the fixture") {
    // the driver can only rows-check the approximate queries, so THIS is the
    // recall evidence for the gate: run the exact same parameters as
    // SimilarityQueries v02 (24 tables x 4 bits) and v03 (16 clusters,
    // nprobe 4) on the sf0.001 embeddings fixture against the exact top-5,
    // and log the measured numbers each round.
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 10)
    val exact = SimilarityOps.knnBruteForce(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val lsh = SimilarityOps.annLsh(e, q, "vec_id", "embedding", 5,
        tables = 24, bits = 4)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val ivf = SimilarityOps.ivfSearch(e, q, "vec_id", "embedding", 5,
        nClusters = 16, nProbe = 4)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val ivfsq = SimilarityOps.ivfSqSearch(e, q, "vec_id", "embedding", 5,
        nClusters = 16, nProbe = 4)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val pq = SimilarityOps.pqSearch(e, q, "vec_id", "embedding", 5,
        m = 8, codebook = 16, kmeansIters = 3)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val ivfpq = SimilarityOps.ivfPqSearch(e, q, "vec_id", "embedding", 5,
        nClusters = 16, nProbe = 4, m = 8, codebook = 16, kmeansIters = 3)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val lshRecall = (exact & lsh).size.toDouble / exact.size
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    val sqRecall = (exact & ivfsq).size.toDouble / exact.size
    val pqRecall = (exact & pq).size.toDouble / exact.size
    info(f"v02 LSH fixture recall: $lshRecall%.3f (24 tables x 4 bits)")
    info(f"v03 IVF fixture recall: $ivfRecall%.3f (16 clusters, nprobe 4)")
    info(f"v10 IVF-SQ8 fixture recall: $sqRecall%.3f (same IVF + int8)")
    info(f"v12 PQ-ADC fixture recall: $pqRecall%.3f (8 x 16 codebooks; " +
      "4-byte codes - 64x compression, recall is the traded quantity " +
      "on these uniform-random vectors)")
    val ivfpqRecall = (exact & ivfpq).size.toDouble / exact.size
    info(f"v13 IVF-PQ fixture recall: $ivfpqRecall%.3f (16 clusters, " +
      "nprobe 4, same codebooks as v12 - bounded by both stages)")
    assert(lshRecall >= 0.8, s"v02 LSH recall $lshRecall below 0.8")
    assert(ivfRecall >= 0.8, s"v03 IVF recall $ivfRecall below 0.8")
    assert(sqRecall >= 0.8, s"v10 IVF-SQ8 recall $sqRecall below 0.8")
    assert(pqRecall >= 0.2, s"v12 PQ recall $pqRecall below 0.2")
    assert(ivfpqRecall >= 0.1, s"v13 IVF-PQ recall $ivfpqRecall below 0.1")
  }

  test("sq quantization: codes on-grid, reconstruction within step/2, " +
    "quantized kNN recall >= 0.8 vs exact (v09 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val sc = SimilarityOps.sqScale(e, "embedding")
    assert(sc > 0)
    val q = SimilarityOps.sqQuantize(e, "vec_id", "embedding",
      sc, "id", "qv")
    // every code is an integral double in [-127, 127]
    val codes = q.select(explode(col("qv"))).collect().map(_.getDouble(0))
    assert(codes.forall(c => c >= -127 && c <= 127 && c == math.floor(c)))
    // reconstruction error bounded by half a quantization step
    val orig = e.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    q.filter(col("id") < 10).collect().foreach { r =>
      val id = r.getLong(0); val qv = r.getSeq[Double](1)
      qv.zipWithIndex.foreach { case (c, i) =>
        val recon = c / 127.0 * sc
        assert(math.abs(recon - orig(id)(i)) <= sc / 127.0 / 2 + 1e-12,
          s"dim $i of vec $id off-grid")
      }
    }
    val exact = SimilarityOps.knnBruteForce(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val sq = SimilarityOps.sqKnn(q, q.filter(col("id") < 10), 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val recall = (exact & sq).size.toDouble / exact.size
    info(f"v09 SQ fixture recall: $recall%.3f (8-bit symmetric grid)")
    assert(recall >= 0.8, s"v09 SQ recall $recall below 0.8")
  }

  test("ivfBuild/ivfProbe round-trip the index through parquet (v04 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    SimilarityOps.ivfBuild(e, "vec_id", "embedding", nClusters = 16,
      outDir = idx)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val probe = key(SimilarityOps.ivfProbe(idx, q, "vec_id", "embedding",
      k = 5, nProbe = 4))
    // deterministic k-means → the reloaded index must reproduce the
    // in-process v03 results EXACTLY (build/probe adds no approximation)
    val inproc = key(SimilarityOps.ivfSearch(e, q, "vec_id", "embedding",
      k = 5, nClusters = 16, nProbe = 4))
    assert(probe == inproc, "persisted-index probe diverged from in-process IVF")
    val exact = SimilarityOps.knnBruteForce(e, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val got = probe.map(t => Seq[Any](t._1, t._3)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"v04 persisted-IVF recall $recall below 0.8")
  }

  test("ivfProbeFiltered pre-filters the postings scan (v27/v28 gates)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_flt").toString
    SimilarityOps.ivfBuild(e, "vec_id", "embedding", nClusters = 16,
      outDir = idx, meta = Seq("label"))
    val res = SimilarityOps.ivfProbeFiltered(idx, q, "vec_id", "embedding",
      k = 5, nProbe = 16, pred = col("label") === 2)
    // the predicate must reach the parquet postings scan, not sit above
    // the join (pre-filter, before any distance work)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(label,2)") &&
      plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,2)"),
      "label predicate not pushed to the postings scan")
    // and the probe join still prunes cluster partitions dynamically
    assert(plan.contains("dynamicpruningexpression(cluster"),
      "postings scan lost dynamic cluster-partition pruning")
    // nProbe = 16 probes EVERY cluster → filter-then-rank must equal the
    // exact brute-force answer over the filtered corpus (same vectors:
    // both sides rank unit-normalized cosines)
    val got = res.orderBy("qid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val exact = SimilarityOps.knnBruteForce(e.filter(col("label") === 2),
        q, "vec_id", "embedding", 5)
      .orderBy("qid", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == exact,
      "all-cluster filtered probe diverged from filtered brute force")
    // every returned neighbor satisfies the predicate
    val lbl2 = e.filter(col("label") === 2).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.forall { case (_, nid) => lbl2(nid) })
  }

  test("ivfRepair: no-op above max drift, full repair rewrites ONLY " +
      "postings partitions exactly (v32 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_rep").toString
    SimilarityOps.ivfBuild(
      e.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id", "embedding",
      nClusters = 16, outDir = idx)
    SimilarityOps.ivfAppend(idx,
      e.filter(pmod(col("vec_id"), lit(10)) === 0), "vec_id", "embedding")
    def partFiles(): Map[String, Set[String]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(s"$idx/postings")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => root.relativize(p).toString)
        .toSeq.groupBy(_.split('/').head)
        .map { case (k, v) => k -> v.toSet }
    }
    val before = partFiles()
    // drift = 1 − cos of unit vectors ∈ [0, 2]: τ = 2 can't trip —
    // the no-op repair must not touch a single postings file
    val none = SimilarityOps.ivfRepair(spark, idx, threshold = 2.0)
    assert(none.count() == 16 && none.filter(col("repaired")).count() == 0)
    assert(partFiles() == before, "no-op repair rewrote postings")
    // τ = −1 trips every cluster: all partitions rewrite (fresh part
    // files), the global row count is conserved (delete-then-append
    // loses nothing, duplicates nothing), and the index still probes
    val total = spark.read.parquet(s"$idx/postings").count()
    val all = SimilarityOps.ivfRepair(spark, idx, threshold = -1.0)
    assert(all.filter(!col("repaired")).count() == 0)
    val after = partFiles()
    assert(before.keys.forall(k =>
      !after.contains(k) || before(k).intersect(after(k)).isEmpty),
      "a repaired partition kept a stale part file")
    assert(spark.read.parquet(s"$idx/postings").count() == total)
    val probe = SimilarityOps.ivfProbe(idx,
      e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nProbe = 4)
    assert(probe.groupBy("qid").count()
      .filter(col("count") =!= 5).count() == 0)
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Caches.clear()
  }

  test("removeRepeatedSpans cuts exactly the cross-doc 5-gram positions, " +
      "keeps unique remainders and short docs whole (d47 gate)") {
    val tiny = Seq(
      (1L, "a b c d e f g h"),        // shares "a b c d e" with doc 2
      (2L, "x x a b c d e y"),        // covered p2..6 -> keeps "x x y"
      (3L, "unique words only here")  // < 5 tokens: no grams, untouched
    ).toDF("doc_id", "text")
    val got = DedupOps.removeRepeatedSpans(tiny, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    Caches.clear()
    assert(got.toSeq == Seq(
      (1L, 8L, 3L, "f g h"),
      (2L, 8L, 3L, "x x y"),
      (3L, 4L, 4L, "unique words only here")))
  }

  test("text classifier distills the quality heuristic (acc > 0.8) and " +
      "its snapped gradients are partitioning-invariant (t36/t37)") {
    // sf0.01 (the verify fixture): sf0.001's 50 docs are too few for
    // the distillation to clear a meaningful accuracy bar
    val clfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$clfDir/documents.parquet").exists)
    val docs = Tables.documents(spark, clfDir)
    val label = when(TextOps.qualityScore(col("text")) >= 0.5, 1L)
      .otherwise(0L)
    val scored = TextOps.textClassifierScore(docs, "doc_id", "text",
        label, dim = 16, iters = 8)
      .select(col("doc_id"), col("y"), col("pred")).collect()
    val acc = scored.count(r => r.getLong(1) == r.getLong(2)).toDouble /
      scored.length
    assert(acc > 0.8, s"distilled classifier should track the heuristic" +
      s", got acc=$acc")
    Caches.clear()
    // exactness: the dyadic-grid term snap makes every distributed sum
    // exact, so a differently-partitioned input yields IDENTICAL weights
    def weights(df: org.apache.spark.sql.DataFrame) = {
      val w = TextOps.textClassifierTrain(df, "doc_id", "text", label,
          dim = 16, iters = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      Caches.clear()
      w
    }
    assert(weights(docs.repartition(17)) == weights(docs.coalesce(1)),
      "grid-snapped gradient sums must be association-independent")
  }

  test("unigram-LM tokenizer: EM learns the productive bigram, apply " +
      "segments losslessly (t34/t35 gates)") {
    val tiny = Seq((1L, "ab ab c"), (2L, "ab abd c")).toDF("doc_id", "text")
    // seeds: a,b,c,d chars + ab/bd/abd/ab? multis; p(ab) > p(a)p(b), so
    // Viterbi keeps 'ab' whole from round 1
    val trace = TextOps.unigramTrain(tiny, "text", maxPiece = 3,
        seedVocab = 8, rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val r1 = trace.filter(_._1 == 1).map(t => t._2 -> t._3).toMap
    assert(r1.getOrElse("ab", 0L) >= 3L,
      s"'ab' must survive as a whole piece, got $r1")
    val seg = TextOps.unigramSegment(tiny, "doc_id", "text",
        maxPiece = 3, seedVocab = 8, rounds = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    Caches.clear()
    // lossless: dropping the piece separators reconstructs the tokens
    seg.zip(Seq("ab ab c", "ab abd c")).foreach { case ((_, nt, np, s), txt) =>
      assert(s.split(' ').mkString == txt.split(' ').mkString,
        s"segmentation must be lossless: $s vs $txt")
      assert(np >= nt)
    }
    assert(seg(0)._2 == 3 && seg(0)._3 == 3, // 'ab','ab','c' — no splits
      s"doc 1 should segment into whole pieces, got ${seg(0)}")
  }

  test("exactSubstrDedup cuts only tokens inside >=k-token shared " +
      "substrings; shorter shared phrases survive (d49 gate)") {
    // shared 6-token run "p q r s t u" (>= k=6) must cut from BOTH
    // docs; the shared 5-token phrase "a b c d e" (< k) must survive —
    // the granularity distinction vs removeRepeatedSpans at n=5
    val tiny = Seq(
      (1L, "a b c d e p q r s t u one"),
      (2L, "two p q r s t u a b c d e"),
      (3L, "p q r s t wholly unrelated doc") // 5 shared tokens only
    ).toDF("doc_id", "text")
    val got = DedupOps.exactSubstrDedup(tiny, "doc_id", "text", k = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    Caches.clear()
    assert(got.toSeq == Seq(
      (1L, 12L, 6L, "a b c d e one"),
      (2L, 12L, 6L, "two a b c d e"),
      (3L, 8L, 8L, "p q r s t wholly unrelated doc")))
  }

  test("mergeInto degrades exactly to upsert and applyCdc in the " +
      "unconditional limits (the special-case contract)") {
    import org.apache.spark.sql.Column
    val base = Seq((1L, "old1"), (2L, "old2"), (3L, "old3"))
      .toDF("id", "v")
    // upsert limit: always-update + always-insert, no deletes
    val updates = Seq((2L, "new2"), (9L, "new9")).toDF("id", "v")
    val viaMerge = graft.ops.PipelineOps.mergeInto(base, updates, Seq("id"),
        matchedUpdateWhen = Some((_: Column, _: Column) => lit(true)),
        insertWhen = Some((_: Column) => lit(true)))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val viaUpsert = graft.ops.PipelineOps.upsert(base, updates, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaMerge.toSeq == viaUpsert.toSeq)
    // applyCdc limit: delete on op='D', else update; always insert
    val chg = Seq((2L, "new2", "U"), (3L, "gone", "D"), (9L, "new9", "U"))
      .toDF("id", "v", "op")
    val viaMergeCdc = graft.ops.PipelineOps.mergeInto(
        base.withColumn("op", lit("U")), chg, Seq("id"),
        matchedDeleteWhen = Some((_: Column, s: Column) =>
          s.getField("op") === "D"),
        matchedUpdateWhen = Some((_: Column, _: Column) => lit(true)),
        insertWhen = Some((s: Column) => s.getField("op") =!= "D"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val viaApply = graft.ops.PipelineOps.applyCdc(base, chg, Seq("id"), "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(viaMergeCdc.toSeq == viaApply.toSeq)
  }

  test("exactSubstrIncremental: an arriving wave re-cuts the TOUCHED " +
      "indexed doc (archived + new coverage union) and equals batch " +
      "on the union (d50 gate, hand-sized)") {
    // wave 1: docs 1/2 share "p q r s t u" (cut at index-build time);
    // doc 1 ALSO carries "j k l m n o" which nothing in wave 1 shares.
    // wave 2: doc 9 shares that run with doc 1 — the incremental pass
    // must cut it from doc 9 AND re-cut doc 1 as archived ∪ new
    // coverage; untouched doc 2 must NOT be re-emitted.
    val (w1, w2) = (d50Wave1, d50Wave2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_esi").toString
    val prior = DedupOps.exactSubstrIndex(w1, "doc_id", "text", 6,
        s"$dir/idx")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(prior == Seq((1L, 6L, "j k l m n o"), (2L, 6L, "two a b c d e")),
      s"index-build dedup wrong: $prior")
    val inc = DedupOps.exactSubstrIncremental(w1, s"$dir/idx", w2,
        "doc_id", "text", 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    // doc 1 re-cut to NOTHING (both runs now shared); doc 2 untouched
    // (absent); doc 9 keeps its unique frame
    assert(inc == Seq((1L, 0L, ""), (9L, 4L, "nine ends here x")),
      s"incremental answer wrong: $inc")
    // equals batch on the union, doc for doc
    val batch = DedupOps.exactSubstrDedup(
        w1.unionByName(w2), "doc_id", "text", 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    val stitched = (prior.filterNot(p => inc.exists(_._1 == p._1)) ++ inc)
      .sortBy(_._1)
    assert(stitched == batch, s"stitched $stitched != batch $batch")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Caches.clear()
  }

  private lazy val d50Wave1 = Seq(
    (1L, "j k l m n o p q r s t u"),
    (2L, "two p q r s t u a b c d e")).toDF("doc_id", "text")
  private lazy val d50Wave2 = Seq(
    (9L, "nine j k l m n o ends here x")).toDF("doc_id", "text")

  test("exactSubstrIncremental leaves no cache behind: no CacheManager " +
      "entry, no Caches registration, no InMemoryRelation in its plan") {
    // a persisted intermediate reading the postings/corpus path is
    // re-planned by the CacheManager on every append and unpersist;
    // the wave must pin its intermediates instead
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val dir = java.nio.file.Files
      .createTempDirectory("graft_esi_nocache").toString
    DedupOps.exactSubstrIndex(d50Wave1, "doc_id", "text", 6, s"$dir/idx")
      .count()
    import org.apache.spark.sql.graftbridge.CacheEntries
    val (entries0, tracked0) = (CacheEntries.count(spark), Caches.size)
    val inc = DedupOps.exactSubstrIncremental(d50Wave1, s"$dir/idx",
      d50Wave2, "doc_id", "text", 6)
    val (entries1, tracked1) = (CacheEntries.count(spark), Caches.size)
    val cached = inc.queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r }
    val n = inc.count()
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Caches.clear()
    assert(n == 2L)
    assert(entries1 == entries0,
      s"CacheManager entries $entries0 -> $entries1")
    assert(tracked1 == tracked0, s"Caches.size $tracked0 -> $tracked1")
    assert(cached.isEmpty, s"returned plan reads cached relations: $cached")
  }

  test("rebuildWithoutCovered covered-side aggregation + graft_cut == " +
      "the posexplode/anti-join/collect_list shape (r17 rewrite proof)") {
    // the r17 rebuild aggregates the COVERED side and cuts the staged
    // token arrays with the codegen'd two-pointer merge; prove exact
    // row equality against the old shape on a corpus that exercises
    // every edge: no coverage, full coverage, scattered coverage,
    // duplicate (id, p) covered rows (the incremental union produces
    // them), empty token arrays, and ids present only in covered.
    val rnd = new scala.util.Random(20260820L)
    val fuzz = (10L to 40L).map { id =>
      val n = rnd.nextInt(30)
      (id, (0 until n).map(i => s"t${rnd.nextInt(9)}i$i").toArray)
    }
    val baseRows = Seq(
      (1L, Array("a", "b", "c", "d")), // scattered coverage
      (2L, Array("e", "f")),           // full coverage
      (3L, Array("g", "h", "i")),      // no coverage
      (4L, Array.empty[String])        // empty doc
    ) ++ fuzz
    val base = baseRows.toDF("id", "__ts")
    val covRows = Seq((1L, 1L), (1L, 3L), (1L, 3L), // dup (id,p)
        (2L, 0L), (2L, 1L), (9L, 0L)) ++             // id 9 not in base
      fuzz.flatMap { case (id, ts) =>
        ts.indices.filter(_ => rnd.nextBoolean()).map(p => (id, p.toLong))
      }
    val covered = covRows.toDF("id", "p")
    def oldShape(): Seq[(Long, Long, Long, String)] = {
      val toks = base.select(col("id"), posexplode(col("__ts")))
        .select(col("id"), col("pos").cast("long").as("p"),
          col("col").as("tok"))
      val kept = toks.join(covered, Seq("id", "p"), "left_anti")
        .groupBy("id")
        .agg(count(lit(1)).as("kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok")), " ").as("clean_text"))
      base.select(col("id"), size(col("__ts")).cast("long").as("n_tokens"))
        .join(kept, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("n_tokens"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSeq
    }
    val got = DedupOps.rebuildWithoutCovered(base, covered, "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == oldShape())
    // spot-check the hand cases
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L) == ((1L, 4L, 2L, "a c")))
    assert(byId(2L) == ((2L, 2L, 0L, "")))
    assert(byId(3L) == ((3L, 3L, 3L, "g h i")))
    assert(byId(4L) == ((4L, 0L, 0L, "")))
  }

  test("ivfRepair on a meta= index keeps the label column intact") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_repm").toString
    SimilarityOps.ivfBuild(e, "vec_id", "embedding", nClusters = 16,
      outDir = idx, meta = Seq("label"))
    val before = spark.read.parquet(s"$idx/postings")
      .select("nid", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    SimilarityOps.ivfRepair(spark, idx, threshold = -1.0) // repair all
    val after = spark.read.parquet(s"$idx/postings")
      .select("nid", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(after == before,
      "repair rewrite must carry posting meta columns unchanged")
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Caches.clear()
  }

  test("ivfDelete removes exactly the delete set, rewrites only touched " +
      "partitions (v34 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ivf_del").toString
    SimilarityOps.ivfBuild(e, "vec_id", "embedding", nClusters = 16,
      outDir = idx)
    def partFiles(): Map[String, Set[String]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(s"$idx/postings")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => root.relativize(p).toString)
        .toSeq.groupBy(_.split('/').head)
        .map { case (k, v) => k -> v.toSet }
    }
    val before = partFiles()
    val total = spark.read.parquet(s"$idx/postings").count()
    val delIds = e.filter(pmod(col("vec_id"), lit(20)) === 3)
      .select("vec_id")
    val nDel = delIds.count()
    // which partitions the delete set lives in (ground truth)
    val touched = spark.read.parquet(s"$idx/postings")
      .join(delIds.withColumnRenamed("vec_id", "nid"), Seq("nid"),
        "left_semi")
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    val nTouched = SimilarityOps.ivfDelete(spark, idx, delIds, "vec_id")
    assert(nTouched == touched.size)
    val after = partFiles()
    val post = spark.read.parquet(s"$idx/postings")
    assert(post.count() == total - nDel, "row count must drop exactly")
    assert(post.join(delIds.withColumnRenamed("vec_id", "nid"),
      Seq("nid"), "left_semi").count() == 0, "deleted ids survived")
    before.keys.foreach { k =>
      val c = k.stripPrefix("cluster=").toInt
      if (touched(c))
        assert(!after.contains(k) || before(k).intersect(after(k)).isEmpty,
          s"touched partition $k kept a stale part file")
      else assert(after(k) == before(k),
        s"untouched partition $k was rewritten")
    }
    val p = new org.apache.hadoop.fs.Path(idx)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Caches.clear()
  }

  test("refineExact over a FULL shortlist equals brute force (v33 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 5)
    val exact = SimilarityOps.knnBruteForce(e, q, "vec_id", "embedding", 5)
      .select("qid", "rk", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // shortlist = every (query, corpus) pair -> the refine IS brute
    // force (test-only all-pairs: 5 queries x corpus)
    val all = q.select(col("vec_id").as("qid"))
      .join(e.select(col("vec_id").as("nid")), col("qid") =!= col("nid"))
    val got = SimilarityOps.refineExact(e, q, all, "vec_id", "embedding",
        k = 5)
      .select("qid", "rk", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.sorted == exact.sorted,
      "full-shortlist refine diverged from brute force")
  }

  test("applyCdc: updates replace, deletes remove, inserts land " +
      "(p25 gate)") {
    val base = Seq((1L, "old1"), (2L, "old2"), (3L, "old3"))
      .toDF("id", "v")
    val chg = Seq((2L, "new2", "U"), (3L, "gone", "D"), (9L, "new9", "U"))
      .toDF("id", "v", "op")
    val got = graft.ops.PipelineOps.applyCdc(base, chg, Seq("id"), "op")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(1L -> "old1", 2L -> "new2", 9L -> "new9"))
  }

  test("upsert replaces matched keys, keeps unmatched base, inserts new " +
      "(p24 gate)") {
    val base = Seq((1L, "old1"), (2L, "old2"), (3L, "old3"))
      .toDF("id", "v")
    val updates = Seq((2L, "new2"), (9L, "new9")).toDF("id", "v")
    val got = graft.ops.PipelineOps.upsert(base, updates, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(1L -> "old1", 2L -> "new2", 3L -> "old3",
      9L -> "new9"))
  }

  test("mergeInto: every clause path of the conditional matrix — " +
      "matched delete/update/keep, purge, conditional insert (p37 gate)") {
    import org.apache.spark.sql.Column
    val base = Seq((1L, "keepme"), (2L, "short"), (3L, "vic"),
      (9L, "stale")).toDF("id", "v")
    val src = Seq((2L, "much longer"), (1L, "x"), (3L, "DELETE"),
      (20L, "fresh"), (21L, "NOINS")).toDF("id", "v")
    val got = graft.ops.PipelineOps.mergeInto(base, src, Seq("id"),
        matchedDeleteWhen = Some((_: Column, s: Column) =>
          s.getField("v") === "DELETE"),
        matchedUpdateWhen = Some((b: Column, s: Column) =>
          length(s.getField("v")) > length(b.getField("v"))),
        insertWhen = Some((s: Column) => s.getField("v") =!= "NOINS"),
        notMatchedBySourceDeleteWhen = Some((b: Column) =>
          b.getField("id") === 9L))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    // 1: matched, src shorter → keep base; 2: matched, longer → update;
    // 3: matched DELETE marker → gone (delete PRECEDES update — "DELETE"
    // is longer than "vic", the update cond holds, delete must still
    // win); 9: purged by the not-matched-by-source clause; 20: inserted;
    // 21: insert cond false → dropped.
    assert(got.toSeq == Seq(1L -> "keepme", 2L -> "much longer",
      20L -> "fresh"),
      s"merge matrix wrong: ${got.toSeq}")
    // no clauses at all: matched keeps base, base-only keeps, source-only
    // drops — mergeInto degrades to the identity on the base
    val ident = graft.ops.PipelineOps.mergeInto(base, src, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(ident.toSeq == Seq(1L -> "keepme", 2L -> "short",
      3L -> "vic", 9L -> "stale"))
  }

  test("averagePrecisionBy matches hand-computed AP, ties collapse, " +
      "no-positive group is null (e73 gate)") {
    // group 0, scores descending: (0.9 pos), (0.8 neg), (0.7 pos),
    // (0.6 neg) → AP = (1·1/1 + 1·2/3) / 2 = 5/6
    // group 1: one tied threshold (0.5 pos + 0.5 neg) → AP = 1·1/2 = 0.5
    // group 2: no positives → null
    val df = Seq(
      (0, true, 0.9), (0, false, 0.8), (0, true, 0.7), (0, false, 0.6),
      (1, true, 0.5), (1, false, 0.5),
      (2, false, 0.4), (2, false, 0.3)
    ).toDF("g", "lbl", "score")
    val got = graft.ops.EvalOps.averagePrecisionBy(df, "g", col("lbl"),
        col("score"))
      .orderBy("g").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else Double.box(r.getDouble(3))))
    assert(got(0) == ((0, 2L, 2L, Double.box(0.833333))))
    assert(got(1) == ((1, 1L, 1L, Double.box(0.5))))
    assert(got(2) == ((2, 0L, 2L, null)))
  }

  test("pqBuild/pqProbe and ivfPqBuild/ivfPqProbe reload without retraining " +
      "(v14/v15 gates)") {
    assume(haveFixture)
    val g = Some(1048576.0) // the gates' 2^20 dyadic grid
    val e = Tables.embeddings(spark, fixtureDir)
    val q = e.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rk").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    // deterministic training → the reloaded artifacts must reproduce the
    // in-process results EXACTLY (build/probe adds no approximation; the
    // grid-snapped doubles survive the parquet round-trip bit-for-bit)
    val pqIdx = java.nio.file.Files.createTempDirectory("graft_pq").toString
    SimilarityOps.pqBuild(e, "vec_id", "embedding", outDir = pqIdx, grid = g)
    assert(key(SimilarityOps.pqProbe(pqIdx, q, "vec_id", "embedding",
        k = 5, grid = g))
      == key(SimilarityOps.pqSearch(e, q, "vec_id", "embedding", k = 5,
        grid = g)),
      "persisted-PQ probe diverged from in-process pqSearch")
    val ipIdx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    SimilarityOps.ivfPqBuild(e, "vec_id", "embedding", outDir = ipIdx,
      grid = g)
    assert(key(SimilarityOps.ivfPqProbe(ipIdx, q, "vec_id", "embedding",
        k = 5, nProbe = 4, grid = g))
      == key(SimilarityOps.ivfPqSearch(e, q, "vec_id", "embedding", k = 5,
        grid = g)),
      "persisted-IVF-PQ probe diverged from in-process ivfPqSearch")
  }

  test("asofJoin attaches the latest right value at-or-before each left row") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    // left: (event_id, user_id, ts); right: (event_id, user_id, ts, value)
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(20)), (102L, 1L, ts(5)),
      (103L, 2L, ts(30))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts(10), 10.0),  // equal ts as left 100 -> inclusive match
      (2L, 1L, ts(10), 20.0),  // same ts, larger tie -> wins the tie
      (3L, 1L, ts(15), 30.0),  // latest before left 101
      (4L, 2L, ts(40), 99.0)   // after left 103 -> no match for user 2
    ).toDF("event_id", "user_id", "ts", "value")
    val out = graft.ops.EventOps.asofJoin(left, right, "user_id", "ts",
        "event_id", Seq("value"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(out.toSeq == Seq(
      (100L, 20.0), // inclusive + max-tie at equal ts
      (101L, 30.0), // strictly-before right wins over later rights
      (102L, null), // no right at-or-before
      (103L, null)  // user 2's only right is after
    ))
  }

  test("asofJoin forward/nearest directions (pandas merge_asof)") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(21)), (102L, 1L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts(10), 10.0), // equal ts -> inclusive both directions
      (2L, 1L, ts(20), 20.0),
      (3L, 1L, ts(22), 30.0)
    ).toDF("event_id", "user_id", "ts", "value")
    def run(dir: String) = graft.ops.EventOps.asofJoin(left, right,
        "user_id", "ts", "event_id", Seq("value"), direction = dir)
      .orderBy("event_id").collect()
      .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    // forward: earliest right at-or-after; none after ts(50)
    assert(run("forward") == Seq(10.0, 30.0, null))
    // nearest: 101 is 1s from ts(20) and 1s from ts(22) -> tie -> backward
    assert(run("nearest") == Seq(10.0, 20.0, 30.0))
  }

  test("asofJoin tolerance nulls matches beyond the bound (pandas tolerance=)") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val left = Seq((100L, 1L, ts(10)), (101L, 1L, ts(30)), (102L, 1L, ts(50)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts(8), 10.0),   // 2s before 100 — within a 5s bound
      (2L, 1L, ts(20), 20.0),  // 10s before 101 — beyond it
      (3L, 1L, ts(52), 30.0)   // 2s after 102 — nearest within bound
    ).toDF("event_id", "user_id", "ts", "value")
    def run(dir: String) = graft.ops.EventOps.asofJoin(left, right,
        "user_id", "ts", "event_id", Seq("value"), direction = dir,
        toleranceUs = Some(5000000L))
      .orderBy("event_id").collect()
      .map(r => if (r.isNullAt(3)) null else r.getDouble(3)).toSeq
    assert(run("backward") == Seq(10.0, null, null))
    assert(run("nearest") == Seq(10.0, null, 30.0))
  }

  test("lineDedup strips cross-doc boilerplate lines, keeps intra-doc repeats") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique one\nrepeat\nrepeat"),
      (2L, "COOKIE BANNER\nunique two"),
      (3L, "COOKIE BANNER")) // all lines boilerplate -> empty text survives
      .toDF("doc_id", "text")
    val out = graft.ops.DedupOps.lineDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq(
      (1L, "unique one\nrepeat\nrepeat"), // intra-doc repeat kept (df=1)
      (2L, "unique two"),
      (3L, "")))
  }

  test("semDedup keeps one survivor per embedding-near-dup component") {
    // a~b and b~c chain (all near-identical), d isolated: one component
    // {1,2,3}, survivor 1; d never appears (no pair)
    val dim = 64
    def vec(eps: Double): Seq[Float] =
      (0 until dim).map(i => (if (i == 0) 1.0 + eps else eps * (i % 3)).toFloat)
    val far = (0 until dim).map(i => (if (i % 2 == 0) 1.0f else -1.0f))
    val df = Seq((1L, vec(0.0)), (2L, vec(0.01)), (3L, vec(0.02)),
      (4L, far.toSeq)).toDF("vec_id", "embedding")
    val out = graft.ops.SimilarityOps.semDedup(df, "vec_id", "embedding",
        threshold = 0.9, dim = dim)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq((1L, 1L, 3L, true), (2L, 1L, 3L, false),
      (3L, 1L, 3L, false)))
  }

  test("asofJoin attaches a matched right row's null value as null") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val left = Seq((100L, 1L, ts(30))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, ts(10), Some(5.0)),
      (2L, 1L, ts(20), Option.empty[Double]) // matched row, null value
    ).toDF("event_id", "user_id", "ts", "value")
    val r = graft.ops.EventOps.asofJoin(left, right, "user_id", "ts",
      "event_id", Seq("value")).head()
    // the MATCH is the ts(20) row; its null must not be skipped in favor
    // of the older 5.0 (pandas merge_asof attaches the matched row as-is)
    assert(r.isNullAt(r.fieldIndex("asof_value")))
  }

  test("asofJoin plan is one keyed window — no range join, no broadcast") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val l = Seq((1L, 1L, ts(1))).toDF("event_id", "user_id", "ts")
    val r = Seq((2L, 1L, ts(0), 5.0)).toDF("event_id", "user_id", "ts", "value")
    val plan = graft.ops.EventOps.asofJoin(l, r, "user_id", "ts", "event_id",
      Seq("value")).queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("join"), plan)
    assert(plan.contains("windowspecdefinition(__key"), plan)
  }

  test("intervalJoin pairs points with containing intervals, per key") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val pts = Seq((1L, 1L, ts(5)), (2L, 1L, ts(30)), (3L, 2L, ts(5)))
      .toDF("pid", "user_id", "ts")
    val ivs = Seq(
      (10L, 1L, ts(0), ts(10)),   // contains pid 1 (user 1) but not pid 3 (user 2)
      (11L, 1L, ts(25), ts(59)),  // contains pid 2; spans two 30-min buckets
      (12L, 2L, ts(4), ts(6))     // contains pid 3
    ).toDF("iid", "user_id", "lo", "hi")
    val out = graft.ops.EventOps.intervalJoin(pts, ivs, "user_id", "ts",
        "lo", "hi", bucketSeconds = 1800L)
      .select("pid", "iv_iid").orderBy("pid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L), (2L, 11L), (3L, 12L)))
    // boundary inclusivity: a point exactly at hi matches
    val edge = graft.ops.EventOps.intervalJoin(
        Seq((9L, 1L, ts(10))).toDF("pid", "user_id", "ts"), ivs,
        "user_id", "ts", "lo", "hi", 1800L)
      .select("iv_iid").collect().map(_.getLong(0))
    assert(edge.toSeq == Seq(10L))
  }

  test("intervalJoin plan is an equi-join on (key, bucket) — no nested loop") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val pts = Seq((1L, 1L, ts(5))).toDF("pid", "user_id", "ts")
    val ivs = Seq((10L, 1L, ts(0), ts(10))).toDF("iid", "user_id", "lo", "hi")
    val plan = graft.ops.EventOps.intervalJoin(pts, ivs, "user_id", "ts",
      "lo", "hi", 1800L).queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("funnel plans no Window, and its one exchange writes at most one " +
    "state per (map partition, key)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val ev = Tables.events(spark, fixtureDir)
    val parts = 7
    val spread = spark.createDataFrame(
      spark.sparkContext.parallelize(ev.collect().toSeq, parts), ev.schema)
    val keys = ev.select("user_id").distinct().count()
    val df = graft.ops.EventOps.funnel(spread, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
    assert(df.collect().length == keys)
    val nodes = planNodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!nodes.exists(_.nodeName.contains("Window")), plan)
    val written = nodes.collect { case e: ShuffleExchangeExec =>
      e.metrics("shuffleRecordsWritten").value }
    assert(written.size == 1, plan)
    assert(written.head <= parts * keys,
      s"${written.head} rows exchanged for $keys keys over $parts partitions")
  }

  test("Caches.clear releases the projections operators persist") {
    Caches.clear() // drop anything earlier tests left behind
    val before = Caches.size
    assert(before == 0)
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5)
    pairs.count() // materialize -> the shingle posting cache fills
    assert(Caches.size == 1)
    Caches.clear()
    assert(Caches.size == 0)
    // the session-level cache manager no longer holds the projection
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("chunkPayload segments binary content; short tail; empty → one row") {
    import graft.ops.MultimodalOps
    val packed = MultimodalOps.packPayload(
      Seq((1L, "abcdef"), (2L, "")).toDF("doc_id", "text"),
      "doc_id", "text", "text/plain", Seq.empty)
    val out = MultimodalOps.chunkPayload(packed, "doc_id", chunkBytes = 4)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), new String(r.getAs[Array[Byte]](4), "UTF-8"))).toSeq
    assert(out == Seq((1L, 0, 0, 4, "abcd"), (1L, 1, 4, 2, "ef"),
      (2L, 0, 0, 0, "")))
  }

  test("packSequences: greedy atomic packing, mega-doc, zero-token docs") {
    import graft.ops.PipelineOps
    // one shard so the greedy order is fully deterministic in the assert
    val d = Seq((1L, 300L), (2L, 300L), (3L, 900L), (4L, 0L), (5L, 512L),
      (6L, 1L), (7L, 100L)).toDF("doc_id", "tok")
    val out = PipelineOps.packSequences(d, "doc_id", col("tok"),
        budget = 512L, shards = 1)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // doc1 (300) opens seq0; doc2 (300) overflows -> seq1; doc3 (900) is
    // a mega-doc -> its own seq2; doc4 (0 tok) lands after the mega-doc
    // -> seq3 at pos 0 with cum still 0; doc5 (512) exactly fills seq3
    // from pos 0; doc6 (1) overflows -> seq4; doc7 (100) joins seq4 at
    // pos 1 (the only row with a non-zero offset).
    assert(out == Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 2L, 0L),
      (4L, 3L, 0L), (5L, 3L, 0L), (6L, 4L, 0L), (7L, 4L, 1L)))
  }

  test("ImageCodec round-trips PNG/GIF/JPEG headers and payload sizes") {
    import graft.ops.MultimodalOps.ImageCodec
    val pl = Array.tabulate(700)(i => (i % 251).toByte) // spans >1 GIF block
    val png = ImageCodec.parse(ImageCodec.encodePng(321, 123, pl))
    assert(png.contains(ImageCodec.Parsed("png", 321, 123, 1, 700)))
    val gif = ImageCodec.parse(ImageCodec.encodeGif(640, 480, 7, pl))
    assert(gif.contains(ImageCodec.Parsed("gif", 640, 480, 7, 700)))
    val big = Array.fill(70000)(1.toByte) // spans >1 JPEG COM segment
    val jpg = ImageCodec.parse(ImageCodec.encodeJpeg(65535, 2, big))
    assert(jpg.contains(ImageCodec.Parsed("jpeg", 65535, 2, 1, 70000)))
    // empty payloads stay structurally valid
    assert(ImageCodec.parse(ImageCodec.encodePng(1, 1, Array.empty))
      .contains(ImageCodec.Parsed("png", 1, 1, 1, 0)))
    assert(ImageCodec.parse(ImageCodec.encodeGif(1, 1, 0, Array.empty))
      .contains(ImageCodec.Parsed("gif", 1, 1, 1, 0)))
    assert(ImageCodec.parse(ImageCodec.encodeJpeg(1, 1, Array.empty))
      .contains(ImageCodec.Parsed("jpeg", 1, 1, 1, 0)))
  }

  test("ImageCodec BMP round-trip; truncated and size-lying bytes reject") {
    import graft.ops.MultimodalOps.ImageCodec
    val pl = Array.tabulate(700)(i => (i % 251).toByte)
    assert(ImageCodec.parse(ImageCodec.encodeBmp(800, 600, pl))
      .contains(ImageCodec.Parsed("bmp", 800, 600, 1, 700)))
    assert(ImageCodec.parse(ImageCodec.encodeBmp(1, 1, Array.empty))
      .contains(ImageCodec.Parsed("bmp", 1, 1, 1, 0)))
    // truncation breaks the declared-file-size check
    assert(ImageCodec.parse(
      ImageCodec.encodeBmp(800, 600, pl).dropRight(1)).isEmpty)
    // a stray "BM" prefix without a coherent header is not a BMP
    assert(ImageCodec.parse(
      ("BM" + "x" * 60).getBytes("US-ASCII")).isEmpty)
  }

  test("ImageCodec WebP round-trip: VP8X dims, odd-payload RIFF padding, " +
    "WAVE stays out") {
    import graft.ops.MultimodalOps.{AudioCodec, ImageCodec}
    val even = Array.tabulate(700)(i => (i % 251).toByte)
    val odd = Array.tabulate(701)(i => (i % 251).toByte)
    assert(ImageCodec.parse(ImageCodec.encodeWebp(1920, 1080, even))
      .contains(ImageCodec.Parsed("webp", 1920, 1080, 1, 700)))
    // odd payload: the XMP chunk pads to even but declares 701
    assert(ImageCodec.parse(ImageCodec.encodeWebp(3, 5, odd))
      .contains(ImageCodec.Parsed("webp", 3, 5, 1, 701)))
    assert(ImageCodec.parse(ImageCodec.encodeWebp(1, 1, Array.empty))
      .contains(ImageCodec.Parsed("webp", 1, 1, 1, 0)))
    // 24-bit canvas ceiling round-trips
    assert(ImageCodec.parse(ImageCodec.encodeWebp(1 << 24, 1, Array.empty))
      .exists(_.width == (1 << 24)))
    // truncation breaks the declared RIFF size check
    assert(ImageCodec.parse(
      ImageCodec.encodeWebp(64, 64, even).dropRight(1)).isEmpty)
    // a RIFF/WAVE stream is NOT an image: ImageCodec rejects, the audio
    // walker still owns it (the m12 router dispatch stays unambiguous)
    val wav = AudioCodec.encodeWav(8000, 1, 16, even)
    assert(ImageCodec.parse(wav).isEmpty)
    assert(AudioCodec.parse(wav).nonEmpty)
  }

  test("FlacCodec round-trips the bit-packed STREAMINFO at field edges") {
    import graft.ops.MultimodalOps.FlacCodec
    val pl = Array.tabulate(700)(i => (i % 251).toByte)
    assert(FlacCodec.parse(FlacCodec.encodeFlac(44100, 2, 16, 123456L, pl))
      .contains(FlacCodec.FlacParsed(44100, 2, 16, 123456L, 700)))
    // field ceilings: 20-bit rate, 8 channels, 32 bits, 36-bit samples
    val top = FlacCodec.encodeFlac((1 << 20) - 1, 8, 32,
      (1L << 36) - 1, Array.empty)
    assert(FlacCodec.parse(top).contains(FlacCodec.FlacParsed(
      (1 << 20) - 1, 8, 32, (1L << 36) - 1, 0)))
    // floors: mono 1-bit at rate 1
    assert(FlacCodec.parse(FlacCodec.encodeFlac(1, 1, 1, 0L, Array.empty))
      .contains(FlacCodec.FlacParsed(1, 1, 1, 0L, 0)))
    // truncation mid-block rejects; wrong magic rejects
    assert(FlacCodec.parse(
      FlacCodec.encodeFlac(8000, 1, 16, 10L, pl).dropRight(1)).isEmpty)
    assert(FlacCodec.parse("fLaX1234".getBytes("US-ASCII")).isEmpty)
    // out-of-range encode inputs are refused, not silently wrapped
    intercept[IllegalArgumentException] {
      FlacCodec.encodeFlac(1 << 20, 1, 16, 0L, Array.empty)
    }
  }

  test("ImageCodec TIFF round-trip, big-endian + SHORT-dim variants") {
    import graft.ops.MultimodalOps.ImageCodec
    val pl = Array.tabulate(700)(i => (i % 251).toByte)
    assert(ImageCodec.parse(ImageCodec.encodeTiff(1920, 1080, pl))
      .contains(ImageCodec.Parsed("tiff", 1920, 1080, 1, 700)))
    assert(ImageCodec.parse(ImageCodec.encodeTiff(1, 1, Array.empty))
      .contains(ImageCodec.Parsed("tiff", 1, 1, 1, 0)))
    // hand-built big-endian MM header with SHORT dims: magic 42, IFD@8,
    // two entries (256/257, type 3, value in the FIRST two value bytes)
    def be16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val mm = "MM".getBytes("US-ASCII") ++ be16(42) ++ be32(8) ++
      be16(2) ++
      be16(256) ++ be16(3) ++ be32(1) ++ be16(640) ++ be16(0) ++
      be16(257) ++ be16(3) ++ be32(1) ++ be16(480) ++ be16(0) ++
      be32(0) ++ Array.fill(5)(7.toByte)
    assert(ImageCodec.parse(mm)
      .contains(ImageCodec.Parsed("tiff", 640, 480, 1, 5)))
    // wrong magic rejects
    assert(ImageCodec.parse(
      "II )   ".getBytes("ISO-8859-1"))
      .isEmpty)
  }

  test("cusumDrift includes the virtual P0=0 in the running min " +
      "(alarms on an all-positive prefix)") {
    import java.sql.Timestamp
    // one key, hourly counts [31, 10, 10] → mean 17 exact; deviations
    // +14, −7, −7 give P = 14, 7, 0 and S⁺ = P − min(0, min P) =
    // 14, 7, 0 — the first bucket MUST alarm at h = 10 (a running min
    // over P alone would yield S⁺ = 0, 0, 0 and never alarm)
    val rows = (0 until 31).map(i =>
      (Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"), "a")) ++
      (0 until 10).map(i =>
        (Timestamp.valueOf(f"2024-01-01 11:${i % 60}%02d:00"), "a")) ++
      (0 until 10).map(i =>
        (Timestamp.valueOf(f"2024-01-01 12:${i % 60}%02d:00"), "a"))
    val df = rows.toDF("ts", "k")
    val out = graft.ops.EventOps
      .cusumDrift(df, "ts", "k", "1 hour", h = 10.0)
      .orderBy("ws").collect()
      .map(r => (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toSeq
    assert(out == Seq((31L, 14.0, true), (10L, 7.0, false),
      (10L, 0.0, false)))
  }

  test("EvalOps.aucBy matches hand-computed AUC incl. ties + degenerates") {
    import graft.ops.EvalOps
    // group a: perfect separation (scores 1,2 neg; 3,4 pos) → AUC 1
    // group b: one tie across classes (pos@2 vs neg@2 → half credit):
    //   pairs: (pos2,neg1)=1, (pos2,neg2)=.5, (pos3,neg1)=1, (pos3,neg2)=1
    //   AUC = 3.5/4 = 0.875
    // group c: single-class → null
    val df = Seq(
      ("a", false, 1.0), ("a", false, 2.0), ("a", true, 3.0),
      ("a", true, 4.0),
      ("b", false, 1.0), ("b", false, 2.0), ("b", true, 2.0),
      ("b", true, 3.0),
      ("c", true, 1.0), ("c", true, 2.0)
    ).toDF("g", "lab", "score")
    val out = EvalOps.aucBy(df, "g", col("lab"), col("score"))
      .orderBy("g").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(out == Seq(("a", 1.0), ("b", 0.875), ("c", null)))
  }

  test("EventOps.holtSmooth: hand recurrence at binary-exact α=β=0.5; " +
      "seeds l=y1 b=0, forecast precedes the observation") {
    import graft.ops.EventOps
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(("a", ts(1), 4.0), ("a", ts(2), 8.0), ("a", ts(3), 8.0))
      .toDF("k", "ws", "y")
    val out = EventOps.holtSmooth(df, "k", "ws", "y", 0.5, 0.5)
      .collect().sortBy(_.ws.getTime)
      .map(r => (r.fc6, r.l6, r.b6)).toSeq
    // t2: fc=4, l=.5·8+.5·4=6, b=.5·2=1; t3: fc=7, l=7.5, b=1.25
    assert(out == Seq((None, 4.0, 0.0), (Some(4.0), 6.0, 1.0),
      (Some(7.0), 7.5, 1.25)))
  }

  test("EventOps.holtWinters: hand recurrence at α=β=γ=0.5, period=2; " +
      "seasonal ring lags exactly m and a periodic signal is learned") {
    import graft.ops.EventOps
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(("a", ts(1), 4.0), ("a", ts(2), 8.0), ("a", ts(3), 4.0),
      ("a", ts(4), 8.0)).toDF("k", "ws", "y")
    val out = EventOps.holtWinters(df, "k", "ws", "y", 0.5, 0.5, 0.5, 2)
      .collect().sortBy(_.ws.getTime)
      .map(r => (r.fc6, r.l6, r.b6, r.s6)).toSeq
    // t1: seeds l=4 b=0 s=0
    // t2: sPrev=0 → fc=4, l=.5·8+.5·4=6, b=.5·2=1, s=.5·(8−4)=2
    // t3: sPrev=0 → fc=7, l=.5·4+.5·7=5.5, b=.5·(−.5)+.5·1=.25,
    //     s=.5·(4−7)=−1.5
    // t4: sPrev=s(t2)=2 (the ring lag) → fc=5.75+2=7.75,
    //     l=.5·6+.5·5.75=5.875, b=.5·.375+.5·.25=.3125,
    //     s=.5·(8−5.75)+.5·2=2.125
    assert(out == Seq((None, 4.0, 0.0, 0.0), (Some(4.0), 6.0, 1.0, 2.0),
      (Some(7.0), 5.5, 0.25, -1.5),
      (Some(7.75), 5.875, 0.3125, 2.125)))
    // on a clean period-2 signal the one-step forecast converges: the
    // last forecasts must beat the naive level-only error
    val sig = (1 to 40).map(i =>
      ("p", ts(0).toInstant.plusSeconds(i * 3600L), // hourly
        if (i % 2 == 0) 10.0 else 2.0))
    val sdf = sig.map { case (k, t, y) =>
      (k, java.sql.Timestamp.from(t), y) }.toDF("k", "ws", "y")
    val rows = EventOps.holtWinters(sdf, "k", "ws", "y",
        0.25, 0.125, 0.5, 2)
      .collect().sortBy(_.ws.getTime)
    val tailErr = rows.takeRight(10)
      .map(r => math.abs(r.fc6.get - r.y)).max
    assert(tailErr < 1.0,
      s"seasonal forecast did not learn the period-2 signal: $tailErr")
  }

  test("EvalOps.classificationReport: hand confusion incl. a never-" +
      "predicted class; kappa = 11/35") {
    import graft.ops.EvalOps
    // cells: (a,a)x3 (a,b)x1 (b,b)x2 (b,a)x1 (c,a)x1 → n=8, Σtp=5,
    // ΣrC = 4·5 + 3·3 + 1·0 = 29, kappa = (8·5−29)/(64−29) = 11/35
    val df = Seq(("a","a"),("a","a"),("a","a"),("a","b"),("b","b"),
      ("b","b"),("b","a"),("c","a")).toDF("act", "prd")
    val out = EvalOps.classificationReport(df, col("act"), col("prd"))
      .orderBy("label").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        if (r.isNullAt(5)) null else r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6),
        r.getDouble(7), r.getDouble(8))).toSeq
    Caches.clear()
    assert(out == Seq(
      ("a", 3L, 2L, 1L, 0.6, 0.75, 0.666667, 0.625, 0.314286),
      ("b", 2L, 1L, 1L, 0.666667, 0.666667, 0.666667, 0.625, 0.314286),
      ("c", 0L, 0L, 1L, null, 0.0, 0.0, 0.625, 0.314286)))
  }

  test("EvalOps.ksTest: hand ECDF gap, tie at max breaks to smallest v") {
    import graft.ops.EvalOps
    // s1=[1,2,3] s2=[2,3,3,4]: gaps |c1·4−c2·3| over v = 4,5,3,0 →
    // D = 5/12 at v=2
    val s1 = Seq(1L, 2L, 3L).toDF("v")
    val s2 = Seq(2L, 3L, 3L, 4L).toDF("v")
    val r = EvalOps.ksTest(s1, s2, "v").collect().head
    Caches.clear()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)) ==
      (3L, 4L, 0.416667, 2L))
  }

  test("EvalOps.ndcgAtK: hand DCG with pinned integer discounts; " +
      "fully-missed query scores 0") {
    import graft.ops.EvalOps
    // q1 exact (3 results, rel 3/2/1): idcg_u = 3·1e6+2·630930+500000 =
    // 4761860; approx = [n20@1 (rel2), n99@2 (miss), n10@3 (rel3)] →
    // dcg_u = 2·1e6 + 0 + 3·500000 = 3500000. q2: approx empty → 0.
    val exact = Seq((1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L),
      (2L, 1, 50L)).toDF("qid", "rk", "nid")
    val approx = Seq((1L, 1, 20L), (1L, 2, 99L), (1L, 3, 10L))
      .toDF("qid", "rk", "nid")
    val out = EvalOps.ndcgAtK(approx, exact).orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    Caches.clear()
    assert(out == Seq((1L, 3500000L, 4761860L, 0.735007),
      (2L, 0L, 1000000L, 0.0)))
  }

  test("GraphOps.adamicAdar: path predicts its endpoints; hub cap " +
      "silences big centers; triangle predicts nothing") {
    import graft.ops.GraphOps
    // path 1-2-3: (1,3) share center 2 (deg 2) → aa = 1/ln2 = 1.442695
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = GraphOps.adamicAdar(path, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    Caches.clear()
    assert(got == Seq((1L, 3L, 1L, 1.442695)))
    // star 0-[1..5]: center deg 5 > maxDeg 3 → no predictions
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    assert(GraphOps.adamicAdar(star, "a", "b", maxDeg = 3).count() == 0L)
    Caches.clear()
    // triangle: all pairs adjacent → anti-join leaves nothing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(GraphOps.adamicAdar(tri, "a", "b").count() == 0L)
    Caches.clear()
  }

  test("EvalOps.benford: hand digits, absent digits still report, " +
      "MAD sums pinned-literal deviations") {
    import graft.ops.EvalOps
    // values 1,1,2,19 → d1:3 d2:1, others 0; mad over all 9 digits
    val df = Seq(1L, 1L, 2L, 19L).toDF("c")
    val out = EvalOps.benford(df, col("c")).orderBy("digit").collect()
    Caches.clear()
    assert(out.length == 9, "all 9 digits must report")
    val d1 = out.head
    assert((d1.getInt(0), d1.getLong(1), d1.getDouble(2)) == (1, 3L, 0.75))
    assert(out(2).getLong(1) == 0L, "digit 3 absent but present")
    assert(d1.getDouble(4) == 0.116195) // Σ|obs−exp| µunits 1045758 / 9
  }

  test("EvalOps.calibration folds score=1 into the last bin; psi nulls " +
      "one-sided bins") {
    import graft.ops.EvalOps
    val df = Seq((true, 1.0), (false, 0.95), (true, 0.0), (false, 0.04))
      .toDF("lab", "score")
    val cal = EvalOps.calibration(df, col("lab"), col("score"), bins = 10)
      .orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cal == Seq((0, 2L, 1L), (9, 2L, 1L)),
      "score=1.0 must land in bin 9, not a phantom bin 10")
    val exp = Seq(1, 1, 2, 2).toDF("v")
    val act = Seq(2, 2, 3).toDF("v")
    val p = EvalOps.psi(exp, act, col("v")).orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    // bin 1: actual-empty → null term; bin 3: expected-empty → null term;
    // bin 2: (0.5-2/3)·ln((2·3)/(2·4)) — present on both sides
    assert(p.map(t => (t._1, t._2, t._3)) ==
      Seq((1, 2L, 0L), (2, 2L, 2L), (3, 0L, 1L)))
    assert(p(0)._4 == null && p(2)._4 == null && p(1)._4 != null)
    graft.Caches.clear()
  }

  test("AudioCodec round-trips WAV headers, pads odd chunks, walks extras") {
    import graft.ops.MultimodalOps.AudioCodec
    val pcm = Array.tabulate(1001)(i => (i % 251).toByte) // odd → pad byte
    val wav = AudioCodec.encodeWav(44100, 2, 16, pcm)
    assert((wav.length & 1) == 0, "odd data chunk must be padded to even")
    val p = AudioCodec.parse(wav).get
    assert((p.sampleRate, p.channels, p.bits, p.blockAlign, p.dataBytes)
      == ((44100, 2, 16, 4, 1001)))
    assert(wav.slice(p.dataOffset, p.dataOffset + p.dataBytes)
      .sameElements(pcm), "data chunk bytes must round-trip")
    // empty PCM stays structurally valid
    assert(AudioCodec.parse(AudioCodec.encodeWav(8000, 1, 8, Array.empty))
      .map(_.dataBytes).contains(0))
    // an unknown chunk (LIST) between fmt and data is walked, not fatal
    val base = AudioCodec.encodeWav(16000, 1, 8, "abcd".getBytes("UTF-8"))
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val withList = base.take(36) ++ listChunk ++ base.drop(36)
    // patch the RIFF size field (bytes 4..7, LE) for the inserted chunk
    val riffLen = withList.length - 8
    (0 to 3).foreach(i =>
      withList(4 + i) = ((riffLen >> (8 * i)) & 0xFF).toByte)
    val p2 = AudioCodec.parse(withList).get
    assert((p2.sampleRate, p2.dataBytes) == ((16000, 4)))
    // rejects junk and truncation
    assert(AudioCodec.parse("RIFFxxxxNOPE".getBytes("US-ASCII")).isEmpty)
    assert(AudioCodec.parse(base.take(20)).isEmpty)
    assert(AudioCodec.parse(Array.empty[Byte]).isEmpty)
  }

  test("VideoCodec round-trips MP4 movie headers and mdat sizes") {
    import graft.ops.MultimodalOps.VideoCodec
    val pl = Array.tabulate(500)(i => (i % 251).toByte)
    val mp4 = VideoCodec.encodeMp4(90000L, 270000L, pl)
    val p = VideoCodec.parse(mp4).get
    assert((p.timescale, p.durationTicks, p.mdatBytes)
      == ((90000L, 270000L, 500)))
    // empty mdat stays structurally valid
    assert(VideoCodec.parse(VideoCodec.encodeMp4(600L, 0L, Array.empty))
      .contains(VideoCodec.Mp4Parsed(600L, 0L, 0)))
    // a version-1 mvhd (64-bit duration) parses too: patch one in
    val v1body = Array[Byte](1, 0, 0, 0) ++ new Array[Byte](16) ++
      Array[Byte](0, 0, 0x27, 0x10) ++ // timescale 10000 at offset 20
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 0) ++ // duration 2^32 (64-bit)
      new Array[Byte](80)
    def box(t: String, b: Array[Byte]) =
      Array(((b.length + 8) >> 24).toByte, ((b.length + 8) >> 16).toByte,
        ((b.length + 8) >> 8).toByte, (b.length + 8).toByte) ++
        t.getBytes("US-ASCII") ++ b
    val v1 = box("ftyp", "isomAAAAisom".getBytes("US-ASCII")) ++
      box("moov", box("mvhd", v1body))
    assert(VideoCodec.parse(v1)
      .contains(VideoCodec.Mp4Parsed(10000L, 1L << 32, 0)))
    // rejects junk and truncation
    assert(VideoCodec.parse("not an mp4 stream at all".getBytes).isEmpty)
    assert(VideoCodec.parse(mp4.take(40)).isEmpty)
    assert(VideoCodec.parse(Array.empty[Byte]).isEmpty)
  }

  test("ImageCodec.parse rejects junk, truncation, and a corrupt PNG CRC") {
    import graft.ops.MultimodalOps.ImageCodec
    assert(ImageCodec.parse("plain text bytes".getBytes("UTF-8")).isEmpty)
    assert(ImageCodec.parse(Array.empty[Byte]).isEmpty)
    val png = ImageCodec.encodePng(10, 10, Array.fill(40)(2.toByte))
    assert(ImageCodec.parse(png.take(20)).isEmpty) // truncated mid-IHDR
    val bad = png.clone(); bad(16) = (bad(16) ^ 1).toByte // flip a dim bit
    assert(ImageCodec.parse(bad).isEmpty) // IHDR CRC catches it
    val jfif = ImageCodec.encodeJpeg(8, 8, Array.empty)
    assert(ImageCodec.parse(jfif.dropRight(2)).isEmpty) // no EOI reached
  }

  test("encodeImages → decodeImageMeta distributed round-trip + fallback") {
    import graft.ops.MultimodalOps
    val specs = Seq(
      (1L, "png", 33, 44, 1, "alpha".getBytes("UTF-8")),
      (2L, "gif", 55, 66, 3, "beta!".getBytes("UTF-8")),
      (3L, "jpeg", 77, 88, 1, Array.empty[Byte]))
      .toDF("doc_id", "fmt", "width", "height", "frames", "payload")
    val metas = MultimodalOps.decodeImageMeta(
        MultimodalOps.encodeImages(specs), "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(metas == Seq(
      MultimodalOps.ImageMeta(1L, "png", 33, 44, 1, 5),
      MultimodalOps.ImageMeta(2L, "gif", 55, 66, 3, 5),
      MultimodalOps.ImageMeta(3L, "jpeg", 77, 88, 1, 0)))
    // unknown bytes degrade to the stub features, fmt='unknown'
    val raw = MultimodalOps.packPayload(
      Seq((9L, "not an image")).toDF("doc_id", "text"),
      "doc_id", "text", "application/octet-stream", Seq.empty)
    val m = MultimodalOps.decodeImageMeta(raw, "doc_id").head()
    assert(m.fmt == "unknown" && m.nbytes == 12)
  }

  test("graft_freq_items: exact when k covers the domain, MG bounds under " +
      "eviction, merge across partitions, SQL surface") {
    import graft.functions.FreqItems.freqItems
    // skewed stream: 'hot' x 400, 'warm' x 120, tail of 200 singletons
    val data = (Seq.fill(400)("hot") ++ Seq.fill(120)("warm") ++
      (0 until 200).map(i => s"tail$i"))
    val df = scala.util.Random.shuffle(data).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .repartition(7) // force real partial merges
    // exact regime: k well above the 202-value domain
    val exact = df.agg(freqItems(col("v"), 512).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact("hot") == 400L && exact("warm") == 120L &&
      exact.size == 202)
    // eviction regime: k=8 -> counts are lower bounds, under-count ≤
    // n/(k+1), and every item with true freq > n/(k+1) survives
    val n = data.size
    val sketched = df.agg(freqItems(col("v"), 8).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select("h.item", "h.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketched.size <= 8)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    sketched.foreach { case (item, c) =>
      assert(c <= truth(item), s"$item over-counted")
      assert(truth(item) - c <= n / (8 + 1) + 1, s"$item bound broken")
    }
    truth.filter(_._2 > n / (8 + 1)).keys.foreach { hh =>
      assert(sketched.contains(hh), s"heavy hitter $hh evicted")
    }
    // SQL front door
    df.createOrReplaceTempView("fi_in")
    val viaSql = spark.sql(
      "SELECT graft_freq_items(v, 512) AS hh FROM fi_in")
      .select(explode(col("hh")).as("h")).select("h.item", "h.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == exact)
  }

  test("graft_normalize: NFC/NFKC forms, null, fast path, SQL surface") {
    val d = Seq(
      (1L, "café"),      // decomposed -> NFC composes
      (2L, "\uFB01ne"),    // fi ligature -> NFKC expands, NFC keeps
      (3L, "plain ascii"),     // already normal: fast path returns as-is
      (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val out = d.select(col("id"),
        TextOps.normalizeText(col("t"), "NFC").as("nfc"),
        TextOps.normalizeText(col("t"), "NFKC").as("nfkc"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "caf\u00e9" &&
      out(0).getString(2) == "caf\u00e9")
    assert(out(1).getString(1) == "\uFB01ne" &&
      out(1).getString(2) == "fine")
    assert(out(2).getString(1) == "plain ascii")
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
    // SQL front door, same expression
    d.createOrReplaceTempView("norm_in")
    val sql = spark.sql(
      "SELECT id, graft_normalize(t, 'NFKC') AS n FROM norm_in WHERE id = 2")
      .head().getString(1)
    assert(sql == "fine")
    // a typo'd form fails at plan time
    intercept[Exception] {
      d.select(TextOps.normalizeText(col("t"), "NFX")).collect()
    }
  }

  test("sentences: punctuation runs, empties dropped, no-punct passthrough") {
    val d = Seq((1L, "One. Two!  Three?? Four... end."),
      (2L, "no punctuation here"), (3L, "")).toDF("id", "t")
    val out = d.select(col("id"),
        TextOps.sentences(col("t")).as("ss"))
      .orderBy("id").collect()
      .map(r => r.getSeq[String](1).toList).toList
    assert(out == List(
      List("One", "Two", "Three", "Four", "end"),
      List("no punctuation here"),
      Nil))
  }

  test("chunkTokens: overlap windows, short tail, no contained chunk") {
    // 10 tokens, size 4, overlap 2 (stride 2) → starts 1,3,5,7 (4 chunks;
    // a 5th at 9 would be contained in 7..10)
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(d, "doc_id", "text", 4, 2)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L), (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t5 t6 t7 t8", 4L), (1L, 3L, "t7 t8 t9 t10", 4L),
      (2L, 0L, "a b", 2L), (3L, 0L, "", 0L)))
  }

  test("dupSpanFraction scores cross-doc 3-gram overlap per position") {
    // doc1: 4 grams, 2 of them ("b c d", "c d e") shared with doc2 → 0.5;
    // doc2: both its grams shared → 1.0; doc3: disjoint → 0.0; doc4 too
    // short for any gram → 0.0
    val d = Seq((1L, "a b c d e f"), (2L, "b c d e"),
      (3L, "x y z w"), (4L, "q r")).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.dupSpanFraction(d, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Caches.clear()
    assert(out == Seq((1L, 0.5), (2L, 1.0), (3L, 0.0), (4L, 0.0)))
  }

  test("hopping windows: each event lands in duration/slide windows") {
    import java.sql.Timestamp
    val df = Seq((Timestamp.valueOf("2024-01-01 10:07:00"), 1.0))
      .toDF("ts", "value")
    val out = graft.ops.EventOps.hopping(df, "ts", "1 hour", "15 minutes",
        Seq.empty, Seq(count(lit(1)).as("n")))
      .select("ws", "n").orderBy("ws").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSeq
    assert(out == Seq( // four overlapping hour windows cover 10:07
      ("2024-01-01 09:15:00.0", 1L), ("2024-01-01 09:30:00.0", 1L),
      ("2024-01-01 09:45:00.0", 1L), ("2024-01-01 10:00:00.0", 1L)))
  }

  test("transitionMatrix counts per-key successors; probs sum to 1 per src") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2024-01-01 10:00:00"), "a", 1L),
      (1L, t("2024-01-01 10:01:00"), "b", 2L),
      (1L, t("2024-01-01 10:02:00"), "a", 3L),
      (2L, t("2024-01-01 10:00:00"), "a", 4L),
      (2L, t("2024-01-01 10:01:00"), "a", 5L),
      (3L, t("2024-01-01 10:00:00"), "c", 6L)) // lone event: no transition
      .toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ops.EventOps
      .transitionMatrix(df, "user_id", "ts", "event_type", "event_id")
      .orderBy("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(out == Seq(("a", "a", 1L, 0.5), ("a", "b", 1L, 0.5),
      ("b", "a", 1L, 1.0)))
  }

  test("rfm: quartile scores bounded 1..4, monetary snapped, recency inverts") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // 8 users with distinct frequency so the quartile edges are exercised
    val rows = (1L to 8L).flatMap { u =>
      (0L until u).map(i => (u, t(f"2024-01-${u}%02d 10:00:00"), 10.005))
    }
    val df = rows.toDF("user_id", "ts", "value")
    val out = graft.ops.EventOps.rfm(df, "user_id", "ts", "value")
      .orderBy("user_id").collect()
    assert(out.length == 8)
    out.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val v = r.getAs[Int](c); assert(v >= 1 && v <= 4, s"$c=$v")
      }
    }
    // user 8: most recent (recency 0), most frequent, highest monetary
    val u8 = out.last
    assert(u8.getAs[Long]("recency") == 0L)
    assert(u8.getAs[Int]("r_score") == 4 && u8.getAs[Int]("f_score") == 4
      && u8.getAs[Int]("m_score") == 4)
    // user 1: oldest and least valuable on every axis
    val u1 = out.head
    assert(u1.getAs[Int]("r_score") == 1 && u1.getAs[Int]("f_score") == 1
      && u1.getAs[Int]("m_score") == 1)
    // monetary is snapped to the 2dp grid (8 * 10.005 = 80.04 exactly)
    assert(u8.getAs[Double]("monetary") == 80.04)
  }

  test("gopherRules flags short, symbol-heavy, and stopword-poor docs") {
    val good = (Seq.fill(20)("the quick brown fox jumps with zeal") :+ "ok")
      .mkString(" ") // >50 words, stopwords present, no symbols
    val short = "tiny doc"
    val symb = (Seq.fill(60)("the word") :+ Seq.fill(30)("#").mkString(" "))
      .mkString(" ")
    val d = Seq((1L, good), (2L, short), (3L, symb)).toDF("doc_id", "tx")
    val staged = d.select(col("doc_id"), col("tx"),
      TextOps.tokens(col("tx")).as("ts"))
    val out = TextOps.gopherRules(staged, "doc_id", "tx", "ts")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("pass"))
    assert(!out(1).getAs[Boolean]("ok_words") && !out(1).getAs[Boolean]("pass"))
    assert(!out(2).getAs[Boolean]("ok_sym") && !out(2).getAs[Boolean]("pass"))
    assert(out(2).getAs[Boolean]("ok_words")) // 150 words — length is fine
  }

  test("GFrame.compare emits only differing cells, null-safe on nulls") {
    val l = Seq((1L, Some(1.0), "a"), (2L, None, "b"), (3L, Some(3.0), "c"))
      .toDF("k", "v", "s")
    val r = Seq((1L, Some(1.0), "a"), (2L, None, "B"), (3L, Some(9.0), "c"))
      .toDF("k", "v", "s")
    val out = graft.core.GFrame.fromDF(l, "k")
      .compare(graft.core.GFrame.fromDF(r, "k"), Seq("k"), Seq("v", "s"))
      .toDF.orderBy("k").collect()
    // row 1 equal everywhere -> dropped; row 2 differs on s only (null v
    // equal via null-safe compare); row 3 differs on v only
    assert(out.length == 2)
    assert(out(0).getLong(0) == 2L && out(0).isNullAt(1) && out(0).isNullAt(2)
      && out(0).getString(3) == "b" && out(0).getString(4) == "B")
    assert(out(1).getLong(0) == 3L && out(1).getDouble(1) == 3.0
      && out(1).getDouble(2) == 9.0 && out(1).isNullAt(3) && out(1).isNullAt(4))
  }

  test("bm25 matches the hand-computed Okapi score on a micro corpus") {
    val d = Seq(
      (1L, "spark join join hints"), // tf(join)=2, dl=4
      (2L, "broadcast join"),        // tf(join)=1, dl=2
      (3L, "scan only")              // no query terms -> absent
    ).toDF("doc_id", "text")
    val out = TextOps.bm25(d, "doc_id", "text", Seq("join"),
        k1 = 1.2, b = 0.75)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    Caches.clear()
    assert(!out.contains(3L))
    val n = 3.0; val dfq = 2.0; val avgdl = (4 + 2 + 2) / 3.0
    val idf = math.log((n - dfq + 0.5) / (dfq + 0.5) + 1)
    def s(tf: Double, dl: Double) =
      idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(out(1L) - s(2, 4)) < 1e-12)
    assert(math.abs(out(2L) - s(1, 2)) < 1e-12)
    // higher tf at equal length ranks higher
    assert(out(1L) > out(2L))
  }

  test("topPaths counts consecutive runs, drops incomplete tails") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2024-01-01 10:00:00"), "a", 1L),
      (1L, t("2024-01-01 10:01:00"), "b", 2L),
      (1L, t("2024-01-01 10:02:00"), "c", 3L),
      (1L, t("2024-01-01 10:03:00"), "b", 4L),
      (2L, t("2024-01-01 10:00:00"), "a", 5L),
      (2L, t("2024-01-01 10:01:00"), "b", 6L),
      (2L, t("2024-01-01 10:02:00"), "c", 7L),
      (3L, t("2024-01-01 10:00:00"), "a", 8L), // 2-event user: no trigram
      (3L, t("2024-01-01 10:01:00"), "b", 9L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ops.EventOps
      .topPaths(df, "user_id", "ts", "event_type", "event_id", len = 3, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a>b>c", 2L), ("b>c>b", 1L)))
  }

  test("lexicalDiversity: ttr/hapax hand values, repetition lowers ttr") {
    val d = Seq(
      (1L, "a b c d"),          // all distinct: ttr 1, hapax 1
      (2L, "a a a b"),          // 2 types / 4 tokens; hapax b only
      (3L, "x x x x x x")       // 1 type, 0 hapax
    ).toDF("doc_id", "text")
    val out = TextOps.lexicalDiversity(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(out == Seq(
      (1L, 4, 4L, 4L, 1.0, 1.0),
      (2L, 4, 2L, 1L, 0.5, 0.5),
      (3L, 6, 1L, 0L, 1.0 / 6, 0.0)))
  }

  test("frameWindows: overlap, short tail, every byte covered") {
    import org.apache.spark.sql.functions.{length => flen}
    val packed = Seq((1L, "abcdefghij")) // 10 bytes
      .toDF("doc_id", "txt")
      .select(col("doc_id"), struct(
        col("txt").cast("binary").as("content"),
        lit("audio/raw").as("mime"),
        map().cast("map<string,string>").as("meta")).as("payload"))
    val out = graft.ops.MultimodalOps
      .frameWindows(packed, "doc_id", frameBytes = 4, hopBytes = 2)
      .orderBy("frame_idx").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3),
        new String(r.getAs[Array[Byte]]("frame"))))
    // frames: 1 + ceil((10-4)/2) = 4; starts 0,2,4,6; last runs to byte 10
    assert(out.toSeq == Seq(
      (0, 0, 4, "abcd"), (1, 2, 4, "cdef"),
      (2, 4, 4, "efgh"), (3, 6, 4, "ghij")))
    // hop == frame degenerates to chunking (no overlap)
    val chunks = graft.ops.MultimodalOps
      .frameWindows(packed, "doc_id", frameBytes = 4, hopBytes = 4)
      .orderBy("frame_idx").collect()
      .map(r => new String(r.getAs[Array[Byte]]("frame"))).toSeq
    assert(chunks == Seq("abcd", "efgh", "ij"))
  }

  test("robustOutliers: planted outlier counted, tight group clean") {
    val rows = (1 to 20).map(i => ("a", 100.0 + (i % 5))) ++ // tight
      ((1 to 20).map(i => ("b", 100.0 + (i % 5))) :+ ("b", 10000.0))
    val out = graft.core.GFrame.fromDF(rows.toDF("g", "v"), "g")
      .robustOutliers("g", "v", k = 3.0)
      .toDF.orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    assert(out == Seq(("a", 20L, 0L), ("b", 21L, 1L)))
  }

  test("gapStats: per-type quartiles and exact-integer mean of µs gaps") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2024-01-01 10:00:00"), "a", 1L),
      (1L, t("2024-01-01 10:00:10"), "a", 2L), // gap 10 s
      (1L, t("2024-01-01 10:00:30"), "a", 3L), // gap 20 s
      (2L, t("2024-01-01 10:00:00"), "a", 4L), // other user: no cross-gap
      (1L, t("2024-01-01 10:05:00"), "b", 5L)) // lone b: no gap
      .toDF("user_id", "ts", "event_type", "event_id")
    val out = graft.ops.EventOps
      .gapStats(df, "user_id", "ts", "event_type", "event_id")
      .collect()
    assert(out.length == 1 && out(0).getString(0) == "a")
    assert(out(0).getLong(1) == 2L)
    assert(out(0).getDouble(2) == 15e6) // mean of 10 s, 20 s
    assert(out(0).getDouble(4) == 15e6) // p50 midpoint, exact
    assert(out(0).getDouble(3) == 12.5e6 && out(0).getDouble(5) == 17.5e6)
  }

  test("activeUsers splits per-hour actives into new vs returning") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, t("2024-01-01 10:05:00")), (1L, t("2024-01-01 10:45:00")),
      (2L, t("2024-01-01 10:30:00")), (1L, t("2024-01-01 11:05:00")),
      (3L, t("2024-01-01 11:30:00"))).toDF("user_id", "ts")
    val out = graft.ops.EventOps.activeUsers(df, "user_id", "ts")
      .orderBy("ws").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("2024-01-01 10:00:00.0", 2L, 2L),  // users 1,2 both first-seen
      ("2024-01-01 11:00:00.0", 2L, 1L))) // 1 returning, 3 new
  }

  test("corrwith: anti-correlated pair is -1, affine pair is +1") {
    val l = (1L to 50L).map(i => (i, i.toDouble, i.toDouble))
      .toDF("k", "x", "y")
    val r = (1L to 50L).map(i => (i, 2.0 * i + 7, 100.0 - i))
      .toDF("k", "x", "y")
    val out = graft.core.GFrame.fromDF(l, "k")
      .corrwith(graft.core.GFrame.fromDF(r, "k"), Seq("k"), Seq("x", "y"))
      .toDF.orderBy("colname").collect()
      .map(row => (row.getString(0), row.getDouble(1))).toMap
    assert(math.abs(out("x") - 1.0) < 1e-12)
    assert(math.abs(out("y") + 1.0) < 1e-12)
  }

  test("langId picks marker language deterministically") {
    val d = Seq((1L, "der hund und die katze ist das"),
      (2L, "the cat and the dog is here")).toDF("id", "text")
    val out = d.select(TextOps.langId(col("text"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("de", "en"))
  }

  test("shingles guard short docs (sequence counts down on negatives)") {
    val d = Seq((1L, "one two")).toDF("id", "text")
    assert(d.select(TextOps.shingles(col("text"), 3)).head().getSeq[String](0).isEmpty)
  }

  test("fuzzyNameMatch links within-distance pairs via blocking, no misses in-block") {
    val d = Seq((1L, "red widget"), (2L, "red widgot"), (3L, "blue widget"),
      (4L, "red bolt"), (5L, "red widgets")).toDF("id", "name")
    val out = DedupOps.fuzzyNameMatch(d, "id", "name", maxDist = 2)
      .orderBy("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
    // blocks by last token: widget={1,3}, widgot={2}, bolt={4}, widgets={5}.
    // The only in-block pair (1,3) is distance 3 > 2, and the distance-1/2
    // neighbors 2 and 5 sit in other blocks — the documented recall caveat
    // for edits inside the blocking token. Nothing qualifies.
    assert(out == Seq())
    // equal-last-token near-pair IS found
    val d2 = Seq((1L, "red widget"), (2L, "rad widget"), (3L, "green widget"))
      .toDF("id", "name")
    val out2 = DedupOps.fuzzyNameMatch(d2, "id", "name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
    assert(out2 == Seq((1L, 2L, 1)))
    // two-corpus join emits cross pairs with distinct ids
    val probe = Seq((10L, "red widget")).toDF("id", "name")
    val out3 = DedupOps.fuzzyNameJoin(probe, d2, "id", "name", 2)
      .orderBy("id2").collect().map(r => (r.getLong(1), r.getInt(4))).toSeq
    assert(out3 == Seq((1L, 0), (2L, 1)))
  }

  test("fuzzyNameMatchMulti recovers planted edits in EITHER token (d11)") {
    // planted perturbation set: one pair edited in the LAST token (the
    // class single-block fuzzyNameMatch documents as missed), one edited
    // in the FIRST token, decoys unrelated.
    val d = Seq(
      (1L, "amber rose"), (2L, "amber rosx"),   // last-token edit, dist 1
      (3L, "copper jade"), (4L, "coppex jade"), // first-token edit, dist 1
      (5L, "ivory pearl"), (6L, "slate onyx")   // decoys
    ).toDF("id", "name")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = pairs(DedupOps.fuzzyNameMatchMulti(d, "id", "name", 2))
    // full recall on the planted set: BOTH single-token-edit pairs found
    assert(multi == Set((1L, 2L), (3L, 4L)))
    // the single-block variant misses exactly the last-token-edit pair
    val single = pairs(DedupOps.fuzzyNameMatch(d, "id", "name", 2))
    assert(single == Set((3L, 4L)))
    // double-collision pairs (same first AND last token) score ONCE:
    // distinct runs before levenshtein, so the pair appears a single time
    val dup = Seq((7L, "teal fern moss"), (8L, "teal farn moss"))
      .toDF("id", "name")
    val rows = DedupOps.fuzzyNameMatchMulti(dup, "id", "name", 2).collect()
    assert(rows.length == 1 && rows.head.getInt(4) == 1)
  }

  test("redactPii scrubs emails, IPv4s, and phone runs with typed tags") {
    val d = Seq(
      (1L, "mail a.b+c@ex-ample.co.uk now"),
      (2L, "call +1 (555) 010-7788 twice"),
      (3L, "host 192.168.0.1 up"),
      (4L, "clean text stays")).toDF("id", "text")
    val out = d.select(TextOps.redactPii(col("text"))).collect()
      .map(_.getString(0)).toSeq
    assert(out == Seq(
      "mail <EMAIL> now",
      "call <PHONE> twice",
      "host <IP> up",
      "clean text stays"))
  }

  test("lmScore matches a hand-computed bigram LM; short docs get null") {
    // corpus: "a b" ×2, "a c", "z" → bigrams: "a b":2, "a c":1
    // unigrams: a:3, b:2, c:1, z:1 → V=4, k=0.5 ⇒ denom C(a)+2 = 5
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("id", "text")
    val out = TextOps.lmScore(d, "id", "text", addK = 0.5)
      .orderBy("id").collect()
    def lp(c: Double) = math.log((c + 0.5) / (3.0 + 0.5 * 4))
    val expect = Seq(Some(lp(2)), Some(lp(2)), Some(lp(1)), None)
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 0L))
    out.zip(expect).foreach { case (r, e) =>
      e match {
        case Some(v) => assert(math.abs(r.getDouble(2) - v) < 1e-12, r)
        case None    => assert(r.isNullAt(2), r)
      }
    }
    graft.Caches.clear()
  }

  test("groupCentroidSim scores cosine to the own-label centroid") {
    // label 1: [1,0] and [0,1] → centroid [.5,.5], sim = .5/√.5 = √.5;
    // label 2: a single vector is its own centroid → sim exactly 1.
    val d = Seq(
      (1L, 1, Seq(1.0f, 0.0f)),
      (2L, 1, Seq(0.0f, 1.0f)),
      (3L, 2, Seq(3.0f, 4.0f))).toDF("id", "label", "emb")
    val out = graft.ops.SimilarityOps
      .groupCentroidSim(d, "id", "emb", "label")
      .orderBy("id").collect().map(_.getDouble(2))
    assert(math.abs(out(0) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(out(1) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(out(2) - 1.0) < 1e-12)
  }

  test("prefixFilterPairs == jaccardPairs (exact, any threshold)") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("id1", "id2", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            math.floor(r.getDouble(2) * 1e6 + 0.5))).toSet
      val full = key(DedupOps.jaccardPairs(docs, "doc_id", "text", 3, t))
      val pref = key(DedupOps.prefixFilterPairs(docs, "doc_id", "text", 3, t))
      Caches.clear()
      assert(pref == full, s"prefix join diverged at t=$t")
    }
  }

  test("pcaPower recovers a planted dominant axis on a micro corpus") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (3L, Array(0.95f, 0.05f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.1f, 0.0f))
    ).toDF("id", "v")
    val (w, lam) = SimilarityOps.pcaPower(df, "id", "v", dim = 4,
      iters = 20)
    Caches.clear()
    // three of four (normalized) vectors point ~along axis 0
    assert(w(0) > 0.9, s"dominant component ${w.toSeq}")
    assert(lam > 0.5 && lam <= 1.0 + 1e-9, s"eigenvalue $lam")
  }

  test("pcaPower on the fixtures: unit component, dominant eigenvalue " +
    "(v11 gate)") {
    assume(haveFixture)
    val e = Tables.embeddings(spark, fixtureDir)
    val (w, lam) = SimilarityOps.pcaPower(e, "vec_id", "embedding",
      dim = 64, iters = 8, grid = Some(1048576.0))
    Caches.clear()
    val nrm = math.sqrt(w.map(x => x * x).sum)
    // snapped normalization stays within the 1e-9 grid of unit length
    assert(math.abs(nrm - 1.0) < 1e-6, s"component norm $nrm")
    // trace(G) = mean squared norm = 1 on normalized inputs, so the top
    // eigenvalue dominates the 1/dim average (strictly, for any spread)
    assert(lam >= 0.9 / 64, s"eigenvalue $lam below the trace/dim floor")
    info(f"v11 fixture top eigenvalue: $lam%.6f (trace/dim = ${1.0 / 64}%.6f)")
  }

  test("knnGraphBuild bucketCap: caps candidate volume without " +
    "orphaning nodes, and seeded search recall holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val dim = 16
    val vecs = (0 until 20).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 25).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.5).toFloat)
        ((cl * 25 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val planes = Some(SimilarityOps.hyperplanesPortable(32, dim))
    def build(cap: Option[Int]) = SimilarityOps.knnGraphBuild(vecs,
      "vec_id", "embedding", m = 6, tables = 8, bits = 4, dim = dim,
      planesFlat = planes, bucketCap = cap).localCheckpoint(true)
    val full = build(None)
    val capped = build(Some(8)) // clusters are 25 wide: cap bites hard
    val fullSrcs = full.select("src").distinct().count()
    val cappedSrcs = capped.select("src").distinct().count()
    assert(cappedSrcs == fullSrcs, // every node that had candidates still sources edges
      s"cap orphaned nodes: $cappedSrcs vs $fullSrcs sources")
    assert(capped.count() <= full.count())
    val q = vecs.filter(col("vec_id") % 25 === 0)
    val exact = SimilarityOps.knnBruteForce(vecs, q, "vec_id",
        "embedding", 5)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    val got = SimilarityOps.knnGraphSearch(capped, vecs, q, "vec_id",
        "embedding", k = 5, entryK = 8, beam = 8, hops = 3,
        tables = 8, bits = 4, dim = dim, planesFlat = planes)
      .select("qid", "nid").collect().map(_.toSeq).toSet
    graft.Caches.clear()
    val recall = (exact & got).size.toDouble / exact.size
    info(f"capped (8/bucket) planted recall: $recall%.3f")
    assert(recall >= 0.9, f"capped recall $recall%.3f < 0.9")
  }

  test("knnGraphAppend == fresh full-corpus rebuild, exactly") {
    // candidates coincide (old-old pairs are unchanged by the append;
    // wave pairs are exactly the new-involving collisions) and an
    // old-old candidate dropped by the old build's top-m cannot enter
    // the merged top-m (m better old-old edges are present) — so the
    // incremental result is BIT-IDENTICAL to a rebuild, at O(wave) cost
    import spark.implicits._
    val rnd = new scala.util.Random(29L)
    val dim = 16
    val vecs = (0 until 12).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 20).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.5).toFloat)
        ((cl * 20 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val pls = Some(SimilarityOps.hyperplanesPortable(32, dim))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rk", "dst").collect().map(_.toSeq).toSet
    val full = SimilarityOps.knnGraphBuild(vecs, "vec_id", "embedding",
      m = 5, tables = 8, bits = 4, dim = dim, planesFlat = pls)
    val old = vecs.filter(col("vec_id") >= 40)
    val batch = vecs.filter(col("vec_id") < 40)
    val g0 = SimilarityOps.knnGraphBuild(old, "vec_id", "embedding",
      m = 5, tables = 8, bits = 4, dim = dim, planesFlat = pls)
      .localCheckpoint(true)
    val g1 = SimilarityOps.knnGraphAppend(g0, old, batch, "vec_id",
      "embedding", m = 5, tables = 8, bits = 4, dim = dim,
      planesFlat = pls)
    val (f, a) = (rows(full), rows(g1))
    graft.Caches.clear()
    assert(f == a, s"append diverged from rebuild: ${(f diff a).size} " +
      s"missing, ${(a diff f).size} extra")
  }

  /** 15 planted clusters × 22 16-d vectors: bucket occupancies ~10-40
    * under 8 tables × 4 bits. */
  private lazy val knnClusters = {
    val rnd = new scala.util.Random(47L)
    (0 until 15).flatMap { cl =>
      val center = Array.fill(16)(rnd.nextGaussian())
      (0 until 22).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.5).toFloat)
        ((cl * 22 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
  }

  test("knnGraphBuild blocked pre-pruned scoring == keyed-join path, " +
    "exactly (capped and uncapped)") {
    // the default plan generates every pair of a src in that src's
    // task, once per shared table, and selects the top-m there, dropping
    // a pair's adjacent copies; the keyed plan dedups candidate ids
    // first. scoreBlockRows = 4 spreads the src postings over many tasks.
    val dim = 16
    val pls = Some(SimilarityOps.hyperplanesPortable(32, dim))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "rk", "dst", "sim").collect().map(_.toSeq).toSet
    def build(cap: Option[Int]) = SimilarityOps.knnGraphBuild(knnClusters,
      "vec_id", "embedding", m = 5, tables = 8, bits = 4, dim = dim,
      planesFlat = pls, bucketCap = cap, scoreBlockRows = 4)
      .localCheckpoint(true)
    def reference(cap: Option[Int]) = {
      sys.props("graft.knnBroadcastRows") = "0" // force the keyed path
      try build(cap) finally sys.props.remove("graft.knnBroadcastRows")
    }
    for (cap <- Seq(None, Some(6))) {
      val (blocked, keyed) = (rows(build(cap)), rows(reference(cap)))
      graft.Caches.clear()
      assert(blocked == keyed, s"cap=$cap diverged: " +
        s"${(keyed diff blocked).size} missing, " +
        s"${(blocked diff keyed).size} extra")
    }
  }

  test("knnGraphBuild shuffles no (src, dst) pair exchange at default " +
    "properties") {
    // the keyed plan's candidate distinct() hash-partitions every
    // occupancy-squared pair on (src, dst); the default plan shuffles
    // only the src postings, keyed by src
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val g = SimilarityOps.knnGraphBuild(knnClusters, "vec_id", "embedding",
      m = 5, tables = 8, bits = 4, dim = 16,
      planesFlat = Some(SimilarityOps.hyperplanesPortable(32, 16)))
    g.collect()
    val keys = new AdaptiveSparkPlanHelper {}.collect(
        g.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name }
        case _ => Nil
      }
    }
    Caches.clear()
    assert(keys.nonEmpty, "no shuffle exchange found in the build")
    assert(!keys.contains(Seq("src", "dst")),
      s"(src, dst) exchange in the build; exchange keys: $keys")
  }

  test("embeddingNearDup blocked threshold scoring == keyed-join path, " +
    "exactly") {
    // the d12 fix: same src-clustered plan as knnGraphBuild specialised
    // to a threshold filter — every colliding (id1 < id2) pair is
    // generated once per shared (table, bucket), sims are the identical
    // fixed-order dot, survivors dedup in the src's task.
    // scoreBlockRows = 4 spreads the src postings over many tasks.
    import spark.implicits._
    val rnd = new scala.util.Random(48L)
    val dim = 16
    val vecs = (0 until 12).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 25).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.4).toFloat)
        ((cl * 25 + i).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "sim").collect().map(_.toSeq).toSet
    def build() = DedupOps.embeddingNearDup(vecs, "vec_id", "embedding",
      threshold = 0.6, tables = 8, bits = 4, dim = dim,
      scoreBlockRows = 4).localCheckpoint(true)
    def reference() = {
      sys.props("graft.knnBroadcastRows") = "0" // force the keyed path
      try build() finally sys.props.remove("graft.knnBroadcastRows")
    }
    val (blocked, keyed) = (rows(build()), rows(reference()))
    graft.Caches.clear()
    assert(blocked == keyed, s"diverged: " +
      s"${(keyed diff blocked).size} missing, " +
      s"${(blocked diff keyed).size} extra")
  }

  test("knnGraphBuild at default properties shuffles once, by src: no " +
    "(table, bucket) and no block exchange") {
    // the src postings are the one exchange; the dst postings and the
    // vectors broadcast, and the per-src top-m rides hash(src)
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val g = SimilarityOps.knnGraphBuild(knnClusters, "vec_id", "embedding",
      m = 5, tables = 8, bits = 4, dim = 16,
      planesFlat = Some(SimilarityOps.hyperplanesPortable(32, 16)))
    g.collect()
    val keys = new AdaptiveSparkPlanHelper {}.collect(
        g.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.map {
            case a: Attribute => a.name
            case other => other.sql
          }
        case other => Seq(other.toString)
      }
    }
    Caches.clear()
    assert(keys == Seq(Seq("src")), s"exchange keys: $keys")
  }

  test("knnGraphBuild and embeddingNearDup over exact duplicates, a zero " +
    "vector and m above a node's candidate count == keyed plan, row for " +
    "row") {
    // duplicates share every bucket, so each of their pairs comes once
    // per table with tied sims (dst breaks the tie); the zero vector has
    // no cosine, so its sims are NULL, which sort last and pass no
    // threshold; m = 12 exceeds some nodes' candidate counts
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(53L)
    val dim = 16
    val clustered = (0 until 4).flatMap { cl =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 10).map { i =>
        ((cl * 10 + i).toLong,
          center.map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
      }
    }
    val dups = (1000L until 1004L).map(id => (id, clustered.head._2))
    val vecs = (clustered ++ dups :+ ((2000L, Array.fill(dim)(0f))))
      .toDF("vec_id", "embedding")
    val pls = Some(SimilarityOps.hyperplanesPortable(32, dim))
    def knn() = SimilarityOps.knnGraphBuild(vecs, "vec_id", "embedding",
      m = 12, tables = 8, bits = 4, dim = dim, planesFlat = pls).collect()
    def near() = DedupOps.embeddingNearDup(vecs, "vec_id", "embedding",
      threshold = 0.6, tables = 8, bits = 4, dim = dim).collect()
    def keyed[T](f: => T): T = {
      sys.props("graft.knnBroadcastRows") = "0" // force the keyed path
      try f finally sys.props.remove("graft.knnBroadcastRows")
    }
    def same(got: Array[Row], want: Array[Row], what: String): Unit = {
      assert(got.length == got.toSet.size, s"$what: repeated rows")
      assert(got.toSet == want.toSet, s"$what diverged: " +
        s"${(want.toSet diff got.toSet).size} missing, " +
        s"${(got.toSet diff want.toSet).size} extra")
    }
    val (g, gk) = (knn(), keyed(knn()))
    val (n, nk) = (near(), keyed(near()))
    Caches.clear()
    same(g, gk, "knnGraphBuild")
    same(n, nk, "embeddingNearDup")
    val degree = g.groupBy(_.getLong(0)).map { case (s, es) => s -> es.length }
    assert(degree.values.exists(_ < 12) && degree.values.exists(_ == 12),
      s"out-degrees $degree do not straddle m")
    assert(g.exists(r => r.getLong(0) == 2000L && r.isNullAt(3)),
      "no zero-vector edge")
    assert(!n.exists(r => r.getLong(0) == 2000L || r.getLong(1) == 2000L))
    assert(g.exists(r => r.getLong(0) == 1000L && r.getLong(2) == 1001L),
      "duplicates are not each other's neighbours")
    assert(n.exists(r => r.getLong(0) == 1000L && r.getLong(1) == 1003L))
  }

  test("triangles: rank-oriented compact-forward == id-ordered wedge " +
    "enumeration, exactly") {
    // the r17 rewrite orients edges by (degree, id) rank; each triangle
    // must still surface exactly once, as the (a<b<c by id) row the old
    // enumeration produced. Random graph dense enough for hubs.
    import graft.ops.GraphOps
    import spark.implicits._
    val rnd = new scala.util.Random(49L)
    val edges = (for {
      i <- 0 until 70; j <- (i + 1) until 70
      if rnd.nextDouble() < 0.12
    } yield (i.toLong, j.toLong)).toDF("s", "t")
    val e = edges.select(least(col("s"), col("t")).as("lo"),
        greatest(col("s"), col("t")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct().localCheckpoint(true)
    val old = e.as("ab").join(e.as("bc"), col("ab.hi") === col("bc.lo"))
      .select(col("ab.lo").as("a"), col("ab.hi").as("b"),
        col("bc.hi").as("c"))
      .join(e.as("ac"),
        col("a") === col("ac.lo") && col("c") === col("ac.hi"))
      .select(col("a"), col("b"), col("c"))
      .collect().map(_.toSeq).toSet
    val got = GraphOps.triangles(edges, "s", "t")
      .collect().map(_.toSeq).toSet
    graft.Caches.clear()
    assert(got == old, s"diverged: ${(old diff got).size} missing, " +
      s"${(got diff old).size} extra")
    assert(got.nonEmpty, "degenerate fixture: no triangles formed")
  }

  test("sgnsWwSampled: every draw lands exactly one word, and " +
    "expected-vs-sampled training converge to similar neighbor sets") {
    import spark.implicits._
    val corpus = (1L to 60L).map { id =>
      val ws = (0 until 10).map(p => s"w${(id * 7 + p * 3) % 12}")
      (id, ws.mkString(" "))
    }.toDF("doc_id", "text")
    // totality: the inverse-CDF lookup is a partition of [0, Σq) — each
    // of the floor(negK·n_c) draws matches exactly ONE vocab word
    val (pairs, freq) = TextOps.sgnsInputs(corpus, "doc_id", "text",
      window = 2, minCount = 1)
    val ww = TextOps.sgnsWwSampled(pairs, freq, negK = 2.0)
    val drawn = ww.filter(col("sign") === -1)
      .agg(sum(col("wgt"))).head().getDouble(0)
    val expected = pairs.groupBy("center")
      .agg(sum(col("cnt")).as("n_c"))
      .agg(sum(floor(lit(2.0) * col("n_c")))).head().getLong(0).toDouble
    assert(drawn == expected,
      s"draw accounting: $drawn matched vs $expected drawn")
    Caches.clear()
    // convergence: both variants optimize the same expected loss — the
    // trained spaces should mostly agree on nearest neighbors
    def nbrs(sampled: Boolean): Map[String, Set[String]] =
      TextOps.sgnsNeighbors(corpus, "doc_id", "text", window = 2,
          minCount = 1, dim = 4, negK = 2.0, eta = 0.5, iters = 3,
          topK = 3, sampled = sampled)
        .select("w", "neighbor").collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getString(1)).toSet).toMap
    val e = nbrs(sampled = false)
    val s = nbrs(sampled = true)
    Caches.clear()
    val overlaps = e.keySet.intersect(s.keySet).toSeq
      .map(w => (e(w) & s(w)).size.toDouble / (e(w) | s(w)).size)
    val mean = overlaps.sum / overlaps.size
    info(f"expected-vs-sampled mean top-3 neighbor Jaccard: $mean%.3f " +
      s"over ${overlaps.size} words")
    assert(mean >= 0.4, f"neighbor sets diverged: mean Jaccard $mean%.3f")
  }

  test("sgnsWw: expected-negative block is dense and its plan is " +
    "vocab-independent (the r15 literal-noise-table scale watch)") {
    import spark.implicits._
    def corpus(v: Int) = (1L to 40L).map { id =>
      val ws = (0 until 8).map(p => s"w${(id * 7 + p * 3) % v}")
      (id, ws.mkString(" "))
    }.toDF("doc_id", "text")
    def planAndCounts(v: Int): (Int, Long, Long, Long) = {
      val (pairs, freq) = TextOps.sgnsInputs(corpus(v), "doc_id", "text",
        window = 2, minCount = 1)
      val ww = TextOps.sgnsWw(pairs, freq, negK = 2.0)
      val planLen = ww.queryExecution.optimizedPlan.treeString.length
      val r = (planLen, ww.count(),
        pairs.count() + pairs.select("center").distinct().count() * freq.count(),
        freq.count())
      Caches.clear()
      r
    }
    val (smallPlan, smallRows, smallExpect, smallVocab) = planAndCounts(6)
    val (bigPlan, bigRows, bigExpect, bigVocab) = planAndCounts(48)
    // dense product: positives + centers×vocab expected-negative cells
    assert(smallRows == smallExpect && bigRows == bigExpect,
      s"ww rows $smallRows/$smallExpect, $bigRows/$bigExpect")
    assert(bigVocab > smallVocab * 4, "fixture vocabs must differ")
    // the old array(struct…) literal grew the plan ∝ vocab; the bucketed
    // equi-join keeps the serialized plan size flat across an 8× vocab
    assert(bigPlan <= smallPlan * 2,
      s"negative-block plan grew with vocab: $smallPlan -> $bigPlan chars")
  }
}
