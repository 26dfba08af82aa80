package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.ops.{GraphOps, PipelineOps}

/** Specs for connected components / dup clustering and the pipeline
  * assembly ops (hash split, shard packing). */
class GraphOpsSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  // shared graph fixtures
  private def chainTrianglePair = Seq((1L, 2L), (2L, 3L), (3L, 4L),
    (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a", "b")
  /** two K4 cliques {1..4} and {5..8} joined by the single bridge 4–5 */
  private def barbell = {
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    (k4a ++ k4b :+ (4L, 5L)).toDF("id1", "id2")
  }
  /** triangle 1-2-3 with the pendant 3-4: kCore(k = 2) peels 4 in round 1 */
  private def trianglePendant =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("s", "t")
  /** buyers 1..4 → suppliers 10..12 */
  private def bipartite = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L),
    (1L, 11L), (2L, 11L), (1L, 12L)).toDF("c", "s")

  /** The physical plan each iterative op offers [[PlanTap]] per round,
    * keyed `<op>_round<r>`, while `run` runs. */
  private def roundPlans(run: => Unit): Map[String, SparkPlan] = {
    val plans = mutable.Map[String, SparkPlan]()
    PlanTap.install(Some((label, df) =>
      plans(label) = df.queryExecution.executedPlan))
    try run finally PlanTap.install(None)
    Caches.clear()
    plans.toMap
  }

  /** The hash-partitioned shuffles of a plan, each flagged true when a
    * broadcast sits above it (it moves a frame the broadcast then ships). */
  private def keyedExchanges(p: SparkPlan,
                             inBroadcast: Boolean = false): Seq[Boolean] =
    p match {
      case a: AdaptiveSparkPlanExec => keyedExchanges(a.initialPlan, inBroadcast)
      case b: BroadcastExchangeExec => keyedExchanges(b.child, true)
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        inBroadcast +: keyedExchanges(e.child, inBroadcast)
      case other => other.children.flatMap(keyedExchanges(_, inBroadcast))
    }

  test("iterative ops plan round 2 with no keyed exchange below the " +
      "broadcast limit; louvain's keyed fallback engages above it") {
    val plans = roundPlans {
      GraphOps.connectedComponents(chainTrianglePair, "a", "b").count()
      GraphOps.labelPropagation(barbell, "id1", "id2", iters = 4).count()
      GraphOps.louvainOneLevel(barbell, "id1", "id2", iters = 4).count()
      GraphOps.kCore(trianglePendant, "s", "t", k = 2, rounds = 4).count()
      GraphOps.pageRank(barbell, "id1", "id2").count()
      GraphOps.hits(bipartite, "c", "s").count()
    }
    // keyed shuffles under a broadcast are allowed only where the op
    // aggregates a vertex-sized side frame by a new key: louvain's
    // per-community Σtot. Any other one re-shuffles the round's own
    // frame (kCore's degree count feeds the broadcast `keep` side, so a
    // lost hash(w) declaration on its cut would show up only there).
    val underBroadcast = Map("louvain" -> 2).withDefaultValue(0)
    for (op <- Seq("connectedComponents", "labelPropagation", "louvain",
        "kCore", "pageRank", "hits")) {
      val plan = plans.getOrElse(s"${op}_round2",
        fail(s"$op ran no round 2: ${plans.keys.toSeq.sorted}"))
      val (inside, outside) = keyedExchanges(plan).partition(identity)
      assert(outside.isEmpty && inside.size == underBroadcast(op),
        s"$op round 2 plans ${outside.size} keyed exchanges outside a " +
          s"broadcast and ${inside.size} under one:\n$plan")
    }
    sys.props("graft.broadcastRowLimit") = "0"
    val keyed = try roundPlans {
      GraphOps.louvainOneLevel(barbell, "id1", "id2", iters = 4).count()
    } finally sys.props.remove("graft.broadcastRowLimit")
    assert(keyedExchanges(keyed("louvain_round2")).exists(!_),
      "louvain above the broadcast limit planned no keyed exchange")
  }

  test("iterative ops stay under their job-count ceilings") {
    val got = Seq(
      "connectedComponents" -> jobsOf(
        GraphOps.connectedComponents(chainTrianglePair, "a", "b")),
      "labelPropagation" -> jobsOf(
        GraphOps.labelPropagation(barbell, "id1", "id2", iters = 4)),
      "louvainOneLevel" -> jobsOf(
        GraphOps.louvainOneLevel(barbell, "id1", "id2", iters = 4)),
      "kCore" -> jobsOf(
        GraphOps.kCore(trianglePendant, "s", "t", k = 2, rounds = 4)))
    Caches.clear()
    info(got.map { case (op, n) => s"$op=$n" }.mkString(" "))
    // one counted checkpoint per round: no separate count or isEmpty job
    // (before it: 13, 17, 33 and 12 jobs)
    val ceiling = Map("connectedComponents" -> 9, "labelPropagation" -> 12,
      "louvainOneLevel" -> 28, "kCore" -> 9)
    for ((op, n) <- got)
      assert(n <= ceiling(op), s"$op ran $n jobs, ceiling ${ceiling(op)}")
  }

  test("connectedComponents labels a chain, a triangle and a pair") {
    // components: {1..4} chain, {10,11,12} triangle, {20,21} pair
    val got = GraphOps.connectedComponents(chainTrianglePair, "a", "b")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    Caches.clear()
    assert(got.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("pointer jumping converges on a long chain (O(log d) not O(d))") {
    // a 40-node path: pure hash-to-min needs 39 rounds; with pointer
    // jumping maxIter = 10 suffices (2^10 >> 40) — this would throw on
    // non-convergence.
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = GraphOps.connectedComponents(edges, "a", "b", maxIter = 10)
      .select("comp").distinct().collect().map(_.getLong(0))
    Caches.clear()
    assert(comps.toSeq == Seq(1L))
  }

  test("pageRank: path-center ranks highest, mass conserved, hand value") {
    // path 1-2-3 (symmetrized): deg = (1, 2, 1), N = 3.
    // r0 = 1/3 each; r1: node1 gets r(2)/2, node2 gets r(1)+r(3), ...
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = GraphOps.pageRank(pairs, "id1", "id2", damping = 0.85,
        iters = 5)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    Caches.clear()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val Seq(r1, r2, r3) = got.map(_._2).toSeq
    assert(r1 == r3) // symmetric endpoints
    assert(r2 > r1)  // the hub outranks the leaves
    // total mass ≈ 1 (no dangling nodes; snap loses ≤ 1e-9 per entry)
    assert(math.abs((r1 + r2 + r3) - 1.0) < 1e-6)
    // hand iteration of the same snapped recurrence
    var (a, b, c) = (1.0 / 3, 1.0 / 3, 1.0 / 3)
    def snap(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val base = (1 - 0.85) / 3
    for (_ <- 1 to 5) {
      val (na, nb, nc) =
        (snap(base + 0.85 * (b / 2)), snap(base + 0.85 * (a / 1 + c / 1)),
          snap(base + 0.85 * (b / 2)))
      a = na; b = nb; c = nc
    }
    assert(r1 == a && r2 == b && r3 == c)
  }

  test("dupClusters keeps exactly the min id per component") {
    val pairs = Seq((5L, 6L), (6L, 7L), (30L, 31L)).toDF("id1", "id2")
    val got = GraphOps.dupClusters(pairs, "id1", "id2")
      .orderBy("id")
      .select("id", "comp", "csize", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    Caches.clear()
    assert(got.toSeq == Seq(
      (5L, 5L, 3L, true), (6L, 5L, 3L, false), (7L, 5L, 3L, false),
      (30L, 30L, 2L, true), (31L, 30L, 2L, false)))
  }

  test("hashSplit is deterministic, exhaustive, and roughly proportional") {
    val df = spark.range(2000).toDF("id")
    val s1 = PipelineOps.hashSplit(df, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1400 && counts("train") < 1800,
      s"train fraction off: $counts")
    // re-running yields the identical assignment (no runtime entropy)
    val s2 = PipelineOps.hashSplit(df, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0)
    // a different salt moves some rows
    val s3 = PipelineOps.hashSplit(df, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), salt = "epoch2")
    assert(s3.except(s1).count() > 0)
  }

  test("packShards chunks by exclusive prefix sum in id order") {
    val df = Seq((1L, 600), (2L, 600), (3L, 600), (4L, 600), (5L, 600))
      .toDF("id", "tok")
    // starts: 0, 600, 1200, 1800, 2400 → shards 0,0,1,1,2 at budget 1000
    val got = PipelineOps.packShards(df, "id", "tok", budget = 1000L,
        buckets = 2)
      .orderBy("id").select("shard").collect().map(_.getLong(0))
    Caches.clear()
    assert(got.toSeq == Seq(0L, 0L, 1L, 1L, 2L))
  }

  test("stratifiedTopK takes exactly k per stratum, deterministically") {
    val df = spark.range(300).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 3).cast("string")))
    val got = PipelineOps.stratifiedTopK(df, "id", "src", k = 7)
    val counts = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 7L, "s1" -> 7L, "s2" -> 7L))
    val again = PipelineOps.stratifiedTopK(df, "id", "src", k = 7)
    assert(got.except(again).count() == 0 && again.except(got).count() == 0)
  }

  test("mixtureSample keeps whole strata at rate 1 and none at rate 0") {
    val df = spark.range(1000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
    val kept = PipelineOps.mixtureSample(df, "id", "src",
      Map("s0" -> 1.0, "s1" -> 0.0), defaultRate = 0.5)
    val counts = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 500L)) // s1 fully dropped
    // default rate applies to unlisted strata, roughly proportionally
    val def50 = PipelineOps.mixtureSample(df, "id", "src",
      Map.empty, defaultRate = 0.5).count()
    assert(def50 > 400 && def50 < 600, s"default-rate keep count $def50")
  }

  test("tokenBudgetMixture: saturated stratum kept whole, thin stratum " +
    "near target, zero share drops, deterministic") {
    val df = spark.range(1000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
      .withColumn("tok", lit(10)) // s0: 5000 tokens, s1: 5000 tokens
    def run() = PipelineOps.tokenBudgetMixture(df, "id", "src", col("tok"),
      Map("s0" -> 0.6, "s1" -> 0.1), defaultShare = 0.0, budget = 10000L)
    val rep = run().orderBy("src").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // s0 target 6000 > avail 5000 -> rate 1, all 500 docs kept
    assert(rep("s0") == ((5000L, 6000L, 500L, 5000L)))
    // s1 target 1000 of 5000 -> rate 0.2, kept tokens ≈ 1000 (binomial)
    val (a1, t1, n1, k1) = rep("s1")
    assert(a1 == 5000L && t1 == 1000L && k1 == n1 * 10)
    assert(k1 > 600 && k1 < 1400, s"s1 kept $k1 of target 1000")
    // identical on rerun (pure md5 draw, no RNG state)
    assert(run().orderBy("src").collect().toSeq ==
      run().orderBy("src").collect().toSeq)
    // zero default share: an unlisted stratum disappears
    val rep2 = PipelineOps.tokenBudgetMixture(df, "id", "src", col("tok"),
      Map("s0" -> 0.5), defaultShare = 0.0, budget = 10000L)
      .collect().map(_.getString(0)).toSeq
    assert(rep2 == Seq("s0"))
  }

  test("personalizedPageRank: teleport mass lands only on the seed, " +
      "hand-iterated snapped recurrence, mass conserved (d52 gate)") {
    // path 1-2-3, seed = {1}: base mass (1-d)/1 only on node 1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val seeds = Seq(Tuple1(1L)).toDF("s")
    val got = GraphOps.personalizedPageRank(pairs, "id1", "id2",
        seeds, "s", damping = 0.85, iters = 5)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    Caches.clear()
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val Seq(r1, r2, r3) = got.map(_._2).toSeq
    // the degree-2 hub collects from both sides and can outrank the
    // seed (even/odd walk oscillation on a path); the robust proximity
    // claim is seed side >> far end
    assert(r1 > r3, s"seed side must outrank the far end: $r1 $r3")
    assert(math.abs((r1 + r2 + r3) - 1.0) < 1e-6, "walk mass not conserved")
    // hand iteration: r0 = (1, 0, 0); deg = (1, 2, 1)
    var (a, b, c) = (1.0, 0.0, 0.0)
    def snap(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    val base = (1 - 0.85) / 1
    for (_ <- 1 to 5) {
      val (na, nb, nc) = (snap(base + 0.85 * (b / 2)),
        snap(0.85 * (a / 1 + c / 1)), snap(0.85 * (b / 2)))
      a = na; b = nb; c = nc
    }
    assert(r1 == a && r2 == b && r3 == c,
      s"snapped recurrence mismatch: got ($r1,$r2,$r3) want ($a,$b,$c)")
    // an off-graph seed set fails loudly, never silently uniform
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(pairs, "id1", "id2",
        Seq(Tuple1(99L)).toDF("s"), "s")
    }
    Caches.clear()
  }

  test("louvainOneLevelWeighted == louvainOneLevel on a multigraph " +
      "collapsed to integer weights; louvainLevels maps back (d53 gate)") {
    // multigraph: two K3s {1,2,3} and {4,5,6}, the 2-3 edge tripled and
    // the bridge 3-4 doubled — weights must act exactly like parallel
    // edges act on the unweighted op
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L), (3L, 4L))
    val rawDf = raw.toDF("id1", "id2")
    val collapsed = rawDf.groupBy(least(col("id1"), col("id2")).as("lo"),
        greatest(col("id1"), col("id2")).as("hi"))
      .agg(count(lit(1)).as("w"))
    val un = GraphOps.louvainOneLevel(rawDf, "id1", "id2", iters = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.clear()
    val wt = GraphOps.louvainOneLevelWeighted(collapsed, "lo", "hi", "w",
        iters = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.clear()
    assert(un == wt, s"weighted generalization diverges: $un vs $wt")
    // levels plumbing on the barbell K4s: level 1 splits at the bridge;
    // the supergraph (two supernodes, self-loop 6 each, bridge 1) must
    // NOT merge (ΔQ numerator 2m·1 − 13·13 < 0 vs 0 for staying), so
    // lbl2 == lbl1 through the map-back join
    val lev = GraphOps.louvainLevels(barbell, "id1", "id2", iters = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    Caches.clear()
    assert(lev.map(t => (t._1, t._2)) == Seq(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 6L, 6L -> 6L, 7L -> 6L, 8L -> 6L))
    assert(lev.forall(t => t._2 == t._3),
      "level 2 must keep the two-clique partition (merging is ΔQ<0)")
  }

  test("louvainOneLevel: barbell K4s split at the bridge, deterministic " +
      "(d46 gate; cross-checked against the unrolled DuckDB replay)") {
    // expected labels computed by the d46 oracle's round unroll
    def run() = GraphOps.louvainOneLevel(barbell, "id1", "id2", iters = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = run()
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 6L, 6L -> 6L, 7L -> 6L, 8L -> 6L),
      "bridge absorbed or clique split")
    assert(run() == got, "louvain rounds are not deterministic")
    Caches.clear()
  }

  test("goldenRecord: majority ignores nulls, all-null field yields null, " +
      "ties break to the smallest value (d48 gate's null guard)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val recs = Seq(
      (1L, null.asInstanceOf[String], 5L), (2L, "b", 7L), (3L, "b", 6L),
      (10L, null.asInstanceOf[String], 1L),
      (11L, null.asInstanceOf[String], 2L),
      (20L, "b", 3L), (21L, "a", 4L))
      .toDF("id", "f", "sz")
    val got = GraphOps.goldenRecord(pairs, "id1", "id2", recs, "id",
        majorityFields = Seq("f"), maxFields = Seq("sz"))
      .orderBy("comp").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) null else r.getString(3), r.getLong(2)))
      .toSeq
    assert(got == Seq((1L, 3L, "b", 7L), (10L, 2L, null, 2L),
      (20L, 2L, "a", 4L)),
      s"golden-record merge wrong: $got")
    Caches.clear()
  }

  test("triangles enumerates each triangle once, any input orientation") {
    import graft.ops.GraphOps
    // K4 on {1,2,3,4} minus edge (1,4), plus a pendant 5 and a dup edge:
    // triangles are (1,2,3), (2,3,4) only.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 2L), (2L, 4L),
      (4L, 3L), (4L, 5L)).toDF("s", "t")
    val tri = GraphOps.triangles(edges, "s", "t")
      .orderBy("a", "b", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tri == Seq((1L, 2L, 3L), (2L, 3L, 4L)))
    // self-loops are dropped, empty graph is empty
    val loops = Seq((7L, 7L)).toDF("s", "t")
    assert(GraphOps.triangles(loops, "s", "t").count() == 0)
  }

  test("kCore peels a pendant then keeps the triangle; a path cascades " +
      "to empty") {
    import graft.ops.GraphOps
    // triangle 1-2-3 + pendant 3-4 at k=2: round 1 peels 4, the
    // triangle survives with in-core degree 2 each
    val core = GraphOps.kCore(trianglePendant, "s", "t", k = 2, rounds = 4)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.clear()
    assert(core == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // path 1-2-3-4 at k=2: ends peel, then the middle cascades → empty
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    assert(GraphOps.kCore(path, "s", "t", k = 2, rounds = 4).count() == 0L)
    Caches.clear()
  }

  test("kCore above the broadcast limit peels exactly as below it " +
      "(the shuffled semi-join re-lays the cut out by u, not w)") {
    // a ring of 60 K4 cliques, each bridged to the next, plus one pendant
    // per clique: k = 3 peels the pendants and keeps every clique
    val cliques = for (c <- 0L until 60L; i <- 0L until 4L;
                       j <- (i + 1) until 4L) yield (c * 4 + i, c * 4 + j)
    val bridges = (0L until 60L).map(c => (c * 4 + 3, (c + 1) % 60 * 4))
    val pendants = (0L until 60L).map(c => (c * 4 + 1, 1000L + c))
    val g = (cliques ++ bridges ++ pendants).toDF("s", "t")
    def run() = GraphOps.kCore(g, "s", "t", k = 3, rounds = 6)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val below = run()
    Caches.clear()
    assert(below.size == 240 && below.forall(_._1 < 1000L))
    // keep every shuffle partition, as at scale: AQE would merge this
    // fixture's into one, where any declared layout is trivially true
    val noCoalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(noCoalesce, "false")
    sys.props("graft.broadcastRowLimit") = "0"
    val above = try run() finally {
      sys.props.remove("graft.broadcastRowLimit")
      spark.conf.unset(noCoalesce)
      Caches.clear()
    }
    assert(above == below)
  }

  test("modularity: two bridged triangles under the natural split score " +
      "Q = 70/196") {
    import graft.ops.GraphOps
    // triangles {1,2,3}, {4,5,6}, bridge 3-4 → m=7, e_c=3 each,
    // d_c=7 each: Q = (4·7·6 − 98)/(4·49) = 70/196 = 0.357143
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "t")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"),
      (6L, "B")).toDF("id", "lbl")
    val out = GraphOps.modularity(g, "s", "t", lab, "id", "lbl")
      .orderBy("lbl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    Caches.clear()
    assert(out == Seq(("A", 3L, 3L, 7L, 0.357143),
      ("B", 3L, 3L, 7L, 0.357143)))
  }

  test("assortativity: a path graph is perfectly disassortative") {
    import graft.ops.GraphOps
    // 1-2-3: ends (1,2)(2,1)(2,1)(1,2) → r = (4·8−36)/4 = −1.0
    val g = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val r = GraphOps.assortativity(g, "s", "t").head()
    assert(r.getLong(0) == 4L && r.getDouble(1) == -1.0)
  }

  test("theilSen: low-median slope shrugs off the outlier point") {
    import graft.ops.EventOps
    // (0,0)(1,1)(2,2)(3,10): slopes 1,1,1,10/3,4.5,8 → low median 1.0
    val df = Seq(("a", 0L, 0.0), ("a", 1L, 1.0), ("a", 2L, 2.0),
      ("a", 3L, 10.0)).toDF("k", "x", "y")
    val out = EventOps.theilSen(df, "k", "x", "y").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    Caches.clear()
    assert(out == Seq(("a", 6L, 1.0)))
  }

  test("mmrRerank: redundancy penalty promotes the diverse candidate " +
      "over the higher-relevance near-dup") {
    import graft.ops.SimilarityOps
    // q=(1,0); c1=(.8,.6) rel .8; c2=(.6,.8) rel .6 but sim(c2,c1)=.96;
    // c3=(0,1) rel 0, sim(c3,c1)=.6. λ=.25: step2 scores c2 −.57 vs
    // c3 −.45 → diversity wins; greedy order 1, 3, 2.
    val corpus = Seq((1L, Array(0.8f, 0.6f)), (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.0f, 1.0f)), (10L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 10L)
    val out = SimilarityOps.mmrRerank(
        corpus.filter(col("vec_id") < 10L), q, "vec_id", "embedding",
        nCand = 3, k = 3, lambda = 0.25, grid = None)
      .orderBy("pos").collect()
      .map(r => (r.getInt(1), r.getLong(2))).toSeq
    Caches.clear()
    assert(out == Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("sortedNeighborhood pairs sort-adjacent records deterministically") {
    import graft.ops.DedupOps
    val df = Seq((10L, "acme corp"), (20L, "acme corpx"), (30L, "acme korp"),
      (40L, "zenith labs"), (50L, "zenith lab")).toDF("id", "nm")
    val out = DedupOps.sortedNeighborhood(df, "id", "nm",
        windowSize = 2, minSim = 0.9)
      .orderBy("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the acme cluster is sort-adjacent (all three pairs inside window 2);
    // zenith pair adjacent; no cross-cluster pair survives the threshold
    assert(out.contains((10L, 20L)) && out.contains((10L, 30L))
      && out.contains((20L, 30L)) && out.contains((40L, 50L)))
    assert(out.forall { case (a, b) =>
      a < b && (a >= 40L) == (b >= 40L) })
    // rerun is identical (unique synthetic sort key → total order)
    val again = DedupOps.sortedNeighborhood(df, "id", "nm", 2, 0.9)
      .orderBy("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == again)
    Caches.clear()
  }

  test("packShards matches a single-partition window on real ids") {
    val df = spark.range(1, 101).toDF("id")
      .withColumn("tok", (col("id") * 37 % 90 + 10).cast("int"))
    val dist = PipelineOps.packShards(df, "id", "tok", budget = 500L,
        buckets = 8)
      .select("id", "shard")
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      .rowsBetween(Long.MinValue, -1)
    val global = df.withColumn("shard",
        floor(coalesce(sum(col("tok")).over(w), lit(0L)) / lit(500L)).cast("long"))
      .select("id", "shard")
    assert(dist.except(global).count() == 0 && global.except(dist).count() == 0)
    Caches.clear()
  }

  test("dbscan: cores/borders/noise on a hand graph (minPts = 3)") {
    // 1-2-3-4 chain plus 2-4: {1,2,3,4} with degrees 1,3,2,3;
    // 5-6 isolated pair; 7 no edges at all.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (5L, 6L))
      .toDF("id1", "id2")
    val ids = (1L to 7L).toDF("id")
    val out = GraphOps.dbscan(pairs, ids, "id", minPts = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    Caches.clear()
    // cores: deg+1 >= 3 -> 2 (deg 3), 3 (deg 2), 4 (deg 3); component
    // min id = 2; border: 1 (neighbor of core 2); noise: 5, 6, 7.
    assert(out.toSeq == Seq(
      (1L, 2L, "border"), (2L, 2L, "core"), (3L, 2L, "core"),
      (4L, 2L, "core"), (5L, -1L, "noise"), (6L, -1L, "noise"),
      (7L, -1L, "noise")))
  }

  test("dbscan: isolated core (all-border neighborhood) roots itself") {
    // star: 10 connected to 11, 12 (degrees: 10 -> 2; 11, 12 -> 1).
    // minPts = 3: only 10 is core, with NO core neighbor.
    val pairs = Seq((10L, 11L), (10L, 12L)).toDF("id1", "id2")
    val ids = Seq(10L, 11L, 12L).toDF("id")
    val out = GraphOps.dbscan(pairs, ids, "id", minPts = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    Caches.clear()
    assert(out.toSeq == Seq((10L, 10L, "core"), (11L, 10L, "border"),
      (12L, 10L, "border")))
  }

  test("hits: the supplier bought by every hub dominates authorities; " +
      "the broadest buyer dominates hubs; max score = 1e9") {
    // bipartite: buyers 1..4 all buy from supplier 10; buyer 1 also buys
    // 11 and 12; buyer 2 buys 11 — 10 must top authorities, 1 must top
    // hubs, and each side's max normalizes to exactly 1e9
    val out = GraphOps.hits(bipartite, "c", "s", iters = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val auth = out.filter(_._1 == "authority").sortBy(-_._3)
    val hubs = out.filter(_._1 == "hub").sortBy(-_._3)
    assert(auth.head._2 == 10L && auth.head._3 == 1000000000L)
    assert(hubs.head._2 == 1L && hubs.head._3 == 1000000000L)
    // authority order follows in-link weight: 10 > 11 > 12
    assert(auth.map(_._2).toSeq == Seq(10L, 11L, 12L))
    // hub order: buyer 1 (3 authoritative sellers) > 2 > {3,4}
    assert(hubs.map(_._2).take(2).toSeq == Seq(1L, 2L))
    Caches.clear()
  }

  test("scd2Compress: runs compress, validity tiles the key's timeline") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val ev = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "a"), (1L, ts(3), 3L, "b"),
      (1L, ts(4), 4L, "b"), (1L, ts(5), 5L, "a"),
      (2L, ts(1), 6L, "x")
    ).toDF("k", "t", "tie", "attr")
    val out = graft.ops.EventOps.scd2Compress(ev, "k", "t", "attr", "tie")
      .orderBy("k", "version").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, 1, "a", ts(1), Some(ts(3)), false),
      (1L, 2, "b", ts(3), Some(ts(5)), false),
      (1L, 3, "a", ts(5), None, true),
      (2L, 1, "x", ts(1), None, true)))
  }
}
