package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.{Checkpoint,
  checkpoint}
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives for dedup pipelines.
  *
  * The one consumer shape that matters at 100 TB: near-dup PAIR generation
  * (Jaccard / MinHash / SimHash / embedding-LSH — see [[DedupOps]]) emits
  * edges, but a dedup decision needs CLUSTERS — "keep one doc per connected
  * component", not "drop the higher id of every pair" (pair-wise dropping
  * over-deletes chains: a~b, b~c drops b and c even though c may only
  * resemble b). Connected components is the standard bridge.
  */
object GraphOps {

  /** Measured-row broadcast gate for narrow key frames (~24 B/row): the
    * graph ops' label/σ/degree frames and the dedup ops' screens and
    * touched-id sets. These are SMALL on the gate fixtures (~20k rows —
    * broadcasting them measured faster than shuffling the edge or
    * posting frame) but grow linearly with the data — on a
    * 10⁸–10⁹-vertex pair graph a forced `broadcast()` collects gigabytes
    * to the driver and OOMs where a keyed shuffle join (pageRank's shape)
    * degrades gracefully. So the hint is applied only below a measured
    * row count: 4M rows ≈ ~100 MB broadcast, inside ordinary executor
    * budgets. The rows are an exact count bounding the frame, in the
    * iterative ops the one its checkpoint job took ([[checkpoint]]);
    * above the limit the frame is returned unhinted and AQE/stats pick
    * the join strategy. -Dgraft.broadcastRowLimit=N retunes it for a
    * cluster (and `=0` forces the keyed fallback for its checks). */
  private[ops] def hintIfSmall(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows <= sys.props.get("graft.broadcastRowLimit")
        .map(_.toLong).getOrElse(4L * 1024 * 1024)) broadcast(df)
    else df

  /** How [[iterate]] knows its last round. */
  private[ops] sealed trait Until
  private[ops] object Until {
    /** after a round in which no row satisfies `changed` */
    final case class NoneChanged(changed: Column) extends Until
    /** after a round that kept the previous round's row count */
    case object SameRows extends Until
    /** never: every round runs */
    case object Never extends Until
  }

  /** The round loop of every iterative graph op. Round r (from 1) builds
    * its frame from the previous round's checkpoint and that
    * checkpoint's exact row count; the loop offers the frame to
    * [[graft.PlanTap]] as `<op>_round<r>`, cuts its lineage with one
    * counted [[checkpoint]] (keeping the rows' partitioning when
    * `keepPartitioning`), frees the previous round's blocks and applies
    * the stop rule, whose counts come from the same job. Lineage MUST be
    * cut every round: persist alone keeps
    * the logical plan, each round reads the previous frame several
    * times, and an un-truncated plan grows geometrically until the
    * driver dies re-analyzing it (the d08 rationale). `mustConverge`
    * throws when `rounds` end before the stop rule fires (a silent
    * partial answer would be WRONG, not slow). Returns the last round's
    * frame. */
  private[ops] def iterate(op: String, init: Checkpoint, rounds: Int,
      until: Until = Until.Never, keepPartitioning: Boolean = false,
      mustConverge: Boolean = false)(
      round: (DataFrame, Long, Int) => DataFrame): DataFrame = {
    val changed = until match {
      case Until.NoneChanged(c) => Some(c)
      case _ => None
    }
    var cur = init
    var r = 0
    var done = false
    while (!done && r < rounds) {
      r += 1
      val pre = round(cur.df, cur.rows, r)
      graft.PlanTap.tap(s"${op}_round$r", pre)
      val next = checkpoint(pre, changed, keepPartitioning)
      done = until match {
        case Until.NoneChanged(_) => next.changed == 0
        case Until.SameRows => next.rows == cur.rows
        case Until.Never => false
      }
      cur.release()
      cur = next
    }
    require(done || !mustConverge,
      s"$op did not converge in $rounds iterations")
    cur.df
  }

  /** The iterative ops' shared symmetric edge frame: both orientations,
    * hash-partitioned by the scoring vertex `a` ONCE (guide §2.4 — the
    * per-round keyed aggregations all ride this one exchange), persisted.
    * Public so a gate running SEVERAL ops over one graph (d46: louvain +
    * LPA; d53: the level-1 pass) builds it once and passes it via the
    * ops' `preSym` parameter instead of paying the exchange per op. */
  def symmetrize(edges: DataFrame, srcCol: String,
                 dstCol: String): DataFrame = graft.Caches.track(
    edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** Connected components over an undirected edge list: returns
    * `(id, comp)` for every vertex incident to an edge, where `comp` is
    * the minimum vertex id in the component (a stable canonical
    * representative).
    *
    * Algorithm: min-label propagation with pointer jumping.
    * Each iteration
    *   1. pulls every neighbor's current label and keeps the min
    *      (one shuffle join keyed by vertex — hash-to-min);
    *   2. shortcuts label chains by joining labels against themselves
    *      (`comp := labels(comp)` — pointer jumping, halving chain depth),
    * so convergence is O(log diameter) iterations rather than
    * O(diameter); near-dup graphs are dense clusters with tiny diameter,
    * where this converges in 2–3 rounds. Every step is an equi-join or
    * keyed aggregation — no driver-side graph state, no all-pairs.
    * Each iteration is one [[iterate]] round: its label frame is
    * checkpointed, and the job that stores it also counts the changed
    * labels — the loop's only driver values.
    *
    * Throws if `maxIter` rounds don't reach a fixed point (a silent
    * partial merge would be a WRONG answer, not a slow one).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20): DataFrame = {
    // pre-partitioned by `a` once (r16, the louvainOneLevel shape): the
    // init aggregation and every round's hash-to-min group by `a` and
    // ride this one exchange; the label joins below are size-gated
    // broadcasts — zero exchanges per round below the limit
    val sym = symmetrize(edges, srcCol, dstCol)

    // Init fuses round 1's hash-to-min: comp₀ = min(self, neighbors) falls
    // out of ONE keyed aggregation over sym (the symmetrized edges already
    // carry every incident vertex as `a`), replacing the distinct() pass
    // AND the first join round — one whole iteration of joins + checkpoint
    // + convergence check gone. Its row count is |V|, which gates the
    // per-round broadcast hints (labels and neigh are |V|-bounded).
    val init = checkpoint(sym.groupBy("a")
      .agg(least(col("a"), min(col("b"))).as("comp"))
      .select(col("a").as("id"), col("comp")))
    iterate("connectedComponents", init, maxIter,
        Until.NoneChanged(col("comp") =!= col("__old")),
        mustConverge = true) { (labels, nV, _) =>
      // hash-to-min: min label over self + neighbors
      val neigh = sym
        .join(hintIfSmall(
          labels.select(col("id").as("b"), col("comp").as("bc")), nV), "b")
        .groupBy("a").agg(min("bc").as("nc"))
        .select(col("a").as("id"), col("nc"))
      val pulled = labels.join(hintIfSmall(neigh, nV), Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"))
      // pointer jumping ×2: comp := min(comp, labels(comp)), twice against
      // the round's label map — quarters chain depth per round instead of
      // halving it, one extra stage inside the SAME job (labels only ever
      // decrease within the component, so any composition of neighbor-min
      // and parent-jump stays correct). The previous label rides along as
      // __old so convergence is counted by the checkpoint job, not
      // another join.
      val jump1 = pulled
        .join(hintIfSmall(
          labels.select(col("id").as("comp"), col("comp").as("cc")), nV),
          Seq("comp"), "left")
        .select(col("id"), col("__old"),
          least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
      jump1
        .join(hintIfSmall(
          labels.select(col("id").as("comp"), col("comp").as("cc")), nV),
          Seq("comp"), "left")
        .select(col("id"), col("__old"),
          least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"))
    }.select("id", "comp")
  }

  /** Canonical-survivor selection over near-dup pairs: cluster the pairs,
    * keep the minimum id of each component. Returns
    * `(id, comp, csize, keep)` for every clustered vertex — the standard
    * post-pair dedup decision (pair-wise "drop id2" over-deletes chains).
    */
  def dupClusters(pairs: DataFrame, id1: String, id2: String): DataFrame = {
    val comps = connectedComponents(pairs, id1, id2)
    comps.withColumn("csize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("comp")))
      .withColumn("keep", col("id") === col("comp"))
  }

  /** PageRank over an undirected edge list (edges symmetrized, so every
    * incident vertex has out-degree ≥ 1 — no dangling-mass term), fixed
    * `iters` power iterations with `damping`:
    * `r ← (1−d)/N + d·Σ_{u→v} r(u)/deg(u)`.
    *
    * On a dedup pair graph this scores CENTRALITY of duplication — which
    * documents sit at the middle of big near-dup families (boilerplate
    * hubs a survivor picker should prefer, or templates worth excising).
    *
    * Scale shape: per iteration ONE vertex-keyed join (ranks onto
    * edges) + one partial+final aggregation keyed by the destination —
    * the d08 loop shape, one [[iterate]] round each.
    * Driver state: the vertex count (one scalar, counted by the
    * degree frame's checkpoint job). Determinism: each
    * iteration's rank snaps to the 1e-9 floor grid on BOTH engine
    * sides, so the parallel-sum association drift (~1e-17 on ~1e-2
    * ranks) can never compound across iterations; products of the
    * snapped ranks are then bit-identical everywhere. */
  def pageRank(pairs: DataFrame, id1: String, id2: String,
               damping: Double = 0.85, iters: Int = 5): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // pre-partitioned by the DESTINATION `b` once (r16, the
    // louvainOneLevel shape): the per-iteration mass aggregation groups
    // by `b` and rides this one exchange; rank/degree joins are
    // size-gated broadcasts — zero exchanges per iteration below the
    // limit. On a symmetric frame degree-by-b equals degree-by-a, so
    // the degree count rides the same partitioning too. [[symmetrize]]
    // partitions by `a`; swapping the columns of its symmetric frame
    // keeps the rows and turns that into hash(b).
    val sym = symmetrize(pairs, id1, id2)
      .select(col("b").as("a"), col("a").as("b"))
    val deg = checkpoint(sym.groupBy(col("b")).agg(count(lit(1)).as("deg"))
      .select(col("b").as("a"), col("deg")))
    val n = deg.rows // |vertices|
    require(n > 0, "pageRank needs at least one edge")
    val base = (1 - damping) / n
    val rank = iterate("pageRank",
        checkpoint(deg.df.select(col("a").as("id"), lit(1.0 / n).as("r"))),
        iters) { (rank, _, _) =>
      sym
        .join(hintIfSmall(rank.select(col("id").as("a"), col("r")), n), "a")
        .join(hintIfSmall(deg.df, n), "a")
        .groupBy(col("b"))
        .agg(sum(col("r") / col("deg")).as("__s"))
        .select(col("b").as("id"),
          (floor((lit(base) + lit(damping) * col("__s")) * 1e9 + 0.5)
            / 1e9).as("r"))
    }
    deg.release() // the last round's checkpoint no longer reads it
    rank.select(col("id"), col("r").as("rank"))
  }

  /** PERSONALIZED PageRank (random walk with restart to a SEED set —
    * Haveliwala 2002's topic-sensitive variant of [[pageRank]]): the
    * teleport mass (1−d) lands ONLY on the seeds,
    * `r ← (1−d)·p + d·Σ_{u→v} r(u)/deg(u)` with `p` uniform over the
    * in-graph seed vertices — so rank measures proximity TO THE SEEDS
    * through the graph. On a dedup pair graph seeded with a known-bad
    * cluster this ranks "how entangled is every doc with the bad
    * neighborhood" (expansion-by-similarity, the curation use); seeded
    * with gold docs it ranks trustworthiness.
    *
    * Same scale shape and determinism contract as [[pageRank]]: per
    * iteration one vertex-keyed join + one partial+final destination
    * aggregation, per-round 1e-9 floor snap so cross-engine sum
    * association cannot compound, lineage cut per round. Every vertex
    * is emitted every round (zero-mass rows ride along — the frame
    * stays |V|, and the oracle's LEFT JOIN spelling matches). Driver
    * state: the vertex and in-graph seed counts (two scalars, each
    * counted by its frame's checkpoint job). */
  def personalizedPageRank(pairs: DataFrame, id1: String, id2: String,
                           seeds: DataFrame, seedCol: String,
                           damping: Double = 0.85,
                           iters: Int = 5): DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    // same r16 pre-partitioned shape as [[pageRank]]: one exchange at
    // build (by destination `b`, via the same swap), size-gated
    // broadcast joins per round
    val sym = symmetrize(pairs, id1, id2)
      .select(col("b").as("a"), col("a").as("b"))
    val deg = checkpoint(sym.groupBy(col("b")).agg(count(lit(1)).as("deg"))
      .select(col("b").as("a"), col("deg")))
    val nV = deg.rows // |vertices| — gates the broadcast hints
    // in-graph seeds only: teleport mass must land on walkable vertices
    val seedFlag = checkpoint(deg.df.select(col("a").as("id"))
      .join(seeds.select(col(seedCol).as("id")).distinct(),
        Seq("id"), "left_semi")
      .withColumn("__seed", lit(1)))
    val ns = seedFlag.rows // |in-graph seeds|
    require(ns > 0, "personalizedPageRank needs at least one in-graph seed")
    val base = (1 - damping) / ns
    val init = checkpoint(deg.df.select(col("a").as("id"))
      .join(hintIfSmall(seedFlag.df, nV), Seq("id"), "left")
      .select(col("id"),
        when(col("__seed").isNotNull, lit(1.0 / ns)).otherwise(lit(0.0))
          .as("r")))
    val rank = iterate("personalizedPageRank", init, iters) { (rank, _, _) =>
      val in = sym
        .join(hintIfSmall(rank.select(col("id").as("a"), col("r")), nV),
          "a")
        .join(hintIfSmall(deg.df, nV), "a")
        .groupBy(col("b")) // rides sym's hash(b) — no exchange
        .agg(sum(col("r") / col("deg")).as("__s"))
        .select(col("b").as("id"), col("__s"))
      deg.df.select(col("a").as("id"))
        .join(hintIfSmall(in, nV), Seq("id"), "left")
        .join(hintIfSmall(seedFlag.df, nV), Seq("id"), "left")
        .select(col("id"),
          (floor((when(col("__seed").isNotNull, lit(base))
              .otherwise(lit(0.0))
            + lit(damping) * coalesce(col("__s"), lit(0.0))) * 1e9 + 0.5)
            / 1e9).as("r"))
    }
    deg.release()
    seedFlag.release()
    rank.select(col("id"), col("r").as("rank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge list
    * (src → dst; classically bipartite, e.g. buyer → seller): iterate
    * `authority(d) = Σ hub(s)` over in-edges and `hub(s) = Σ authority(d)`
    * over out-edges, L∞-normalizing each side every round.
    *
    * Determinism: scores are 1e-9-unit LONGS end to end — the neighbor
    * sums are exact integer aggregation (associative, no float-order
    * drift at all, a stronger contract than pageRank's 1e-9 grid floors)
    * and the per-round normalization is one per-row double division
    * snapped back to the integer grid. Scale shape: two keyed equi-joins
    * + two keyed sums per round, a counted [[checkpoint]] per half-round
    * (the hub half is the [[iterate]] round), and the per-round max
    * normalization inside the plan — no probe job.
    * Returns (role ∈ hub|authority, id, score_u) with max score = 1e9. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 4): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    // TWO pre-partitioned copies of the edge frame (r16, the
    // louvainOneLevel discipline applied to HITS' alternating keys):
    // the authority aggregation groups by `s` and reads eByS, the hub
    // aggregation groups by `c` and reads eByC — each rides its copy's
    // hash partitioning, and the score joins are size-gated broadcasts
    // (each gated on its checkpoint's row count), so a half-round plans
    // ZERO exchanges below the broadcast limit. 2× the edge storage;
    // the former per-half-round shuffle of the joined edge frame is
    // gone.
    val eByC = graft.Caches.track(
      edges.select(col(srcCol).as("c"), col(dstCol).as("s")).distinct()
        .repartition(col("c"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val eByS = graft.Caches.track(
      eByC.repartition(col("s"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val unit = 1000000000L
    // per-round L∞ normalization stays INSIDE the plan (the 1-row max
    // broadcast-joins back on a constant key; Catalyst folds the
    // constant predicate away and plans a broadcast loop over the
    // 1-ROW build side — cost-identical to a hash join here, and never
    // a driver probe job); each half-round then
    // cuts lineage with ONE checkpoint. Without the cut the
    // double consumption (max branch + join left, next round + output)
    // recomputes the chain exponentially — measured 97 s; with it the
    // round is one |vertices|-sized job (6.8 s with probe jobs → ~3 s).
    def normalized(raw: DataFrame): DataFrame = {
      // (the max branch and join left both read `raw` inside the one
      // checkpoint job; persisting it was measured SLOWER at sf0.1 —
      // 6.4 s vs 4.8 s — the frames are too small to out-earn the
      // persist bookkeeping, and ReuseExchange covers the shared agg)
      val mx = raw.agg(max(col("raw")).as("__mx"))
        .withColumn("__k", lit(1))
      raw.withColumn("__k", lit(1))
        .join(broadcast(mx), "__k")
        .select(col("id"),
          floor(col("raw").cast("double") / col("__mx") * 1e9 + 0.5)
            .as("u"))
    }
    var a = Option.empty[Checkpoint]
    val h = iterate("hits", checkpoint(eByC.select(col("c").as("id"))
        .distinct().withColumn("u", lit(unit))), iters) { (h, nH, _) =>
      // groupBy the RAW partition column (an alias in the grouping key
      // can defeat the distribution match), rename after
      val next = checkpoint(normalized(eByS
        .join(hintIfSmall(h.select(col("id").as("c"), col("u")), nH), "c")
        .groupBy(col("s")).agg(sum(col("u")).as("raw"))
        .select(col("s").as("id"), col("raw"))))
      a.foreach(_.release())
      a = Some(next)
      normalized(eByC
        .join(hintIfSmall(next.df.select(col("id").as("s"), col("u")),
          next.rows), "s")
        .groupBy(col("c")).agg(sum(col("u")).as("raw"))
        .select(col("c").as("id"), col("raw")))
    }
    h.select(lit("hub").as("role"), col("id"), col("u").as("score_u"))
      .unionByName(a.get.df.select(lit("authority").as("role"), col("id"),
        col("u").as("score_u")))
  }

  /** Cluster survivor by a caller-supplied PRIORITY instead of min-id:
    * the corpus-dedup rule "keep the highest-QUALITY duplicate of each
    * near-dup cluster". One keyed join pulls the per-vertex priority onto
    * the components, then a `max_by` window over the comp key (which the
    * components already shuffle on) marks the max-(priority, smallest
    * numeric id on ties) vertex. Returns `(id, comp, csize, prio, keep)`
    * for every clustered vertex; `id` must be numeric (the deterministic
    * tie-break negates it). */
  def dupClustersBy(pairs: DataFrame, id1: String, id2: String,
      priority: DataFrame, idCol: String, prioCol: String): DataFrame = {
    val comps = connectedComponents(pairs, id1, id2)
    val joined = comps.join(
      priority.select(col(idCol).as("id"), col(prioCol).as("prio")),
      Seq("id"), "left")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("comp")
    val best = max_by(col("id"), struct(col("prio"), -col("id"))).over(w)
    joined
      .withColumn("csize", count(lit(1)).over(w))
      .withColumn("keep", col("id") === best)
  }

  /** Field-wise GOLDEN RECORD per dup cluster — the merge step after
    * [[dupClusters]]/[[dupClustersBy]] pick a survivor ROW: instead of
    * keeping one member verbatim, synthesize the best value PER FIELD
    * across the cluster (classic MDM survivorship). `majorityFields`
    * take the cluster MAJORITY value, ties → smallest value
    * (deterministic, oracle-replayable); `maxFields` take the max (the
    * completeness rule for sizes/freshness timestamps). One row per
    * cluster: (comp, csize, fields…).
    *
    * Null rule: the majority is taken over NON-NULL values only (Spark
    * sorts nulls first ASC where DuckDB sorts them last — excluding
    * them keeps the pick engine-portable, and "most frequent non-null"
    * is the MDM survivorship intent anyway); a cluster with no non-null
    * value for a field yields null.
    *
    * Scale shape: one comp-keyed record join, then per majority field
    * one (comp, value) count aggregate collapsed by a `min_by`
    * partial+final arg-max (map-side partials shrink the count frame
    * to ≤|clusters| rows before the exchange — no rank-window sort) —
    * every shuffle rides the comp key the components already
    * produced; no windows over raw rows, no driver state. */
  def goldenRecord(pairs: DataFrame, id1: String, id2: String,
                   records: DataFrame, idCol: String,
                   majorityFields: Seq[String],
                   maxFields: Seq[String] = Nil): DataFrame = {
    val comps = connectedComponents(pairs, id1, id2)
    val joined = graft.Caches.track(comps.join(
        records.select(col(idCol).as("id") +:
          (majorityFields ++ maxFields).map(col): _*),
        Seq("id"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = joined.groupBy("comp").agg(
      count(lit(1)).as("csize"),
      maxFields.map(f => max(col(f)).as(f)): _*)
    majorityFields.foldLeft(sizes) { (acc, f) =>
      // min over (−count, value) == (count DESC, value ASC) rank 1 —
      // the keyed-arg-max doctrine: partial+final aggregation, never a
      // per-field rank window (min_by works for any orderable value
      // type where negating a string for max_by would not).
      val m = joined.filter(col(f).isNotNull)
        .groupBy(col("comp"), col(f))
        .agg(count(lit(1)).as("__c"))
        .groupBy("comp")
        .agg(min_by(col(f), struct(-col("__c"), col(f))).as(f))
      acc.join(m, Seq("comp"), "left")
    }
  }

  /** Triangle enumeration over an undirected edge list — the density
    * diagnostic for near-dup graphs (triangles ≈ tight dup cliques; a
    * pair graph whose components are triangle-free is chains, which
    * cluster-survivor dedup treats very differently from cliques).
    *
    * Input edges may be in either orientation; they canonicalize to
    * (lo < hi) and dedup first. Enumeration is the standard oriented
    * wedge join: edges (a,b) ⋈ (b,c) build wedges a<b<c through the
    * shared middle vertex b, and a second equi-join confirms the closing
    * (a,c) edge — every triangle emitted exactly once in (a<b<c) order.
    * All three steps are keyed equi-joins (shuffle keys: b, then (a,c));
    * nothing is ever all-pairs. At 100 TB the classic refinement is to
    * orient edges low-degree→high-degree before the wedge join, bounding
    * per-vertex wedge fan-out by arboricity instead of max degree — the
    * near-dup graphs here are stop-shingle-capped (bounded degree by
    * construction), so id orientation suffices and keeps the output
    * ordering deterministic. */
  /** Synchronous label propagation communities (LPA, Raghavan et al.
    * 2007) — the cheap modularity-style partitioner next to
    * [[connectedComponents]]'s reachability (components merge everything
    * connected; LPA splits dense regions from their bridges): every
    * vertex starts as its own label, then for `iters` rounds each vertex
    * adopts its neighbors' MOST FREQUENT label, ties broken to the
    * smallest label — fully deterministic (the classic random-order
    * update replaced by synchronous rounds + total tie order, so the
    * result is reproducible and ORACLE-REPLAYABLE).
    *
    * Scale shape: per round, ONE vertex-keyed equi-join pulls neighbor
    * labels, one (vertex, label) count aggregate, and one keyed
    * WindowGroupLimit picks the arg-max — one [[iterate]] round each.
    * Exact integer logic end-to-end: no floats anywhere. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 4,
                       preSym: Option[DataFrame] = None): DataFrame = {
    // pre-partitioned by `a` once (r16, the louvainOneLevel shape): the
    // init distinct, the per-round (a, label) count and the arg-max all
    // group by `a`, so they ride this ONE exchange; label joins are
    // size-gated broadcasts — zero exchanges per round below the limit.
    // `preSym` (r17): a gate running several ops over ONE graph shares
    // the symmetrize exchange + persist (see [[symmetrize]]) instead of
    // rebuilding it per op — d46 built the identical 2·|E| frame twice.
    val sym = preSym.getOrElse(symmetrize(edges, srcCol, dstCol))
    // the init frame's row count is |V| (the vertex set never changes
    // across rounds) — gates the per-round broadcast hint, see
    // [[hintIfSmall]].
    val init = checkpoint(sym.select(col("a")).distinct()
      .select(col("a").as("id"), col("a").as("lbl")))
    // convergence early-exit: a round with zero label changes is a fixed
    // point of the synchronous update (every later round replays it), so
    // the fixed-round oracle stays hash-identical while the engine stops
    // paying for post-convergence rounds. Detection = one |V|-keyed join
    // of the old labels (broadcast when small), counted by the round's
    // checkpoint job. NOTE: synchronous LPA can 2-CYCLE instead of
    // converging (label oscillation) — the exit then simply never fires
    // and all `iters` rounds run, as before.
    iterate("labelPropagation", init, iters,
        Until.NoneChanged(col("lbl") =!= col("__old"))) { (labels, nV, _) =>
      // label side is |vertices|-bounded → broadcast WHEN SMALL (the
      // edge frame then never shuffles; above the measured limit the
      // join falls back to a keyed shuffle, pageRank's shape); arg-max
      // as a max_by partial+final aggregation
      // instead of a rank window — map-side partials collapse the
      // (vertex, label) counts to ≤|vertices| rows before the exchange,
      // where the window sorted the full count frame. Tie rule
      // unchanged: max (cnt, −label) == (cnt DESC, label ASC) rank 1.
      sym.join(hintIfSmall(
          labels.select(col("id").as("b"), col("lbl").as("nl")), nV), "b")
        .groupBy("a", "nl").agg(count(lit(1)).as("cnt"))
        .groupBy(col("a")) // both groupBys ride sym's hash(a)
        .agg(max_by(col("nl"),
          struct(col("cnt"), -col("nl"))).as("lbl"))
        .join(hintIfSmall(
          labels.select(col("id"), col("lbl").as("__old")), nV),
          col("a") === col("id"))
        .select(col("id"), col("lbl"), col("__old"))
    }.select("id", "lbl")
  }

  /** One-level Louvain (Blondel et al. 2008 §2, first level) under the
    * same synchronous determinism contract as [[labelPropagation]]:
    * every vertex starts as its own community; each round every vertex
    * scores its NEIGHBOR communities plus staying put and adopts the
    * community with the maximum modularity gain, ties broken to the
    * smallest community label. The comparison uses the EXACT-INTEGER
    * ΔQ numerator (the 2m²-cleared Blondel gain, constant terms
    * dropped): for candidate community c,
    * `score(c) = 2m·k_{i→c} − k_i·Σtot(c∖i)` where k_{i→c} counts
    * edges from i into c and Σtot(c∖i) sums the degrees of c's members
    * excluding i itself — all BIGINTs, no floats, so rounds replay
    * bit-identically in any engine (the d29/d45 oracle doctrine).
    * Classic sequential Louvain moves vertices one at a time in visit
    * order; the synchronous variant trades that (irreproducible) order
    * for determinism, like our LPA. Climbs modularity strictly above
    * LPA's frequency rule because the degree-penalty term resists
    * absorbing hubs (d46 gates the improvement).
    *
    * Scale shape per round (r16): the symmetrized edge frame is
    * pre-partitioned by the scoring vertex `a` ONCE at build time
    * (guide §2.4 — operations keyed the same way share one exchange):
    * the (vertex, community) count groups by (a, c) and the arg-max by
    * `a`, both satisfied by HashPartitioning(a), and every label/σ/
    * degree join is a size-gated broadcast — so a round plans ZERO
    * exchanges below the broadcast limit (measured: the former
    * per-round 2·|E|-row kic shuffle + arg-max shuffle are gone; d46
    * Louvain step 7.3 → 4.1 s at sf0.1). The stay-put candidate folds
    * into a closing per-vertex compare instead of a unioned zero row
    * (the union broke the partitioning alignment).
    * Assumes 2m·max(k_i) < 2⁶³. */
  def louvainOneLevel(edges: DataFrame, srcCol: String, dstCol: String,
                      iters: Int = 3,
                      preSym: Option[DataFrame] = None): DataFrame = {
    val sym = preSym.getOrElse(symmetrize(edges, srcCol, dstCol))
    val deg = graft.Caches.track(
      sym.groupBy("a").agg(count(lit(1)).as("k")) // rides sym's hash(a)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val m2 = sym.count() // 1-value probe: 2m (each edge counted twice)
    require(m2 > 0, "louvain needs edges")
    // the label frame's row count is |V| (the vertex set is fixed across
    // rounds) — gates the per-round broadcast hints.
    val init = checkpoint(deg.select(col("a").as("id"), col("a").as("lbl")))
    // CONVERGENCE EARLY-EXIT (the monotone test components/k-core already
    // use): synchronous rounds are a pure function of the previous
    // labeling, so zero accepted moves in a round is a FIXED POINT —
    // every later round is a no-op and the fixed-round oracle replays the
    // identical labels. The own label already rides the move join, so
    // the round's checkpoint job counts the moves; no extra join or job.
    iterate("louvain", init, iters,
        Until.NoneChanged(col("lbl") =!= col("__old"))) { (labels, nV, r) =>
      // round 1 runs on the identity labeling — the label/degree joins
      // simplify away (lbl == id, Σtot(c) == k_c), saving three joins
      val idside = // (id, own, k) — the per-vertex broadcast frame
        if (r == 1) deg.select(col("a").as("id"), col("a").as("own"),
          col("k"))
        else labels.join(hintIfSmall(deg, nV), col("id") === col("a"))
          .select(col("id"), col("lbl").as("own"), col("k"))
      val sigma = // (c, sig) — per-community Σtot
        if (r == 1) deg.select(col("a").as("c"), col("k").as("sig"))
        else idside.groupBy(col("own").as("c")).agg(sum(col("k")).as("sig"))
      val nbr =
        if (r == 1) sym.select(col("a"), col("b").as("c"))
        else sym.join(
          hintIfSmall(
            labels.select(col("id").as("b"), col("lbl").as("c")), nV),
          "b").select(col("a"), col("c"))
      // neighbor-supported candidates (k_{i→c} ≥ 1), scored in place;
      // still hash(a)-partitioned — the groupBys below plan no exchange
      val scored = nbr.groupBy(col("a"), col("c"))
        .agg(count(lit(1)).as("kic"))
        .join(hintIfSmall(sigma, nV), Seq("c"))
        .join(hintIfSmall(idside, nV), col("a") === col("id"))
        .withColumn("score", lit(m2) * col("kic") - col("k")
          * (col("sig")
            - when(col("c") === col("own"), col("k")).otherwise(0L)))
      // arg-max over neighbor candidates, then fold in the stay-put
      // candidate (own community at k_{i→own} = 0, score =
      // −k·(Σtot(own)−k)) with the SAME (score, −c) tie key — when own
      // also has neighbor support its kic ≥ 1 row strictly outscores
      // the zero candidate (m2 > 0), so this equals the old unioned
      // zero-row argmax row for row.
      val best = scored.groupBy(col("a"))
        .agg(max_by(col("c"), struct(col("score"), -col("c"))).as("bc"),
          max(struct(col("score").as("s"), (-col("c")).as("n"))).as("bk"),
          first(col("own")).as("own"), first(col("k")).as("k"))
      best
        .join(hintIfSmall(sigma.select(col("c").as("own"),
          col("sig").as("sigo")), nV), Seq("own"))
        .select(col("a").as("id"),
          when(struct((-(col("k") * (col("sigo") - col("k")))).as("s"),
              (-col("own")).as("n")) > col("bk"),
            col("own")).otherwise(col("bc")).as("lbl"),
          col("own").as("__old"))
    }.select("id", "lbl")
  }

  /** WEIGHTED one-level Louvain — the engine [[louvainLevels]] runs on
    * the coarsened supergraph (Blondel et al. 2008 §2 phase 2 feeds
    * phase 1 a weighted graph with SELF-LOOPS): same synchronous
    * determinism contract and exact-integer ΔQ numerator as
    * [[louvainOneLevel]], generalized to integer edge weights —
    * `score(c) = 2m·k_{i→c} − k_i·Σtot(c∖i)` where k_{i→c} sums weights
    * to c's OTHER members, k_i is the weighted degree INCLUDING 2× any
    * self-loop weight (a self-loop stays with the vertex under every
    * move, so it cancels in comparisons except through k_i and Σtot),
    * and 2m = Σ k_i. Input: one row per undirected edge (either
    * orientation; self-loops as src==dst), integer weights. Same
    * convergence early-exit. Assumes 2m·max(k_i) < 2⁶³. */
  def louvainOneLevelWeighted(edges: DataFrame, srcCol: String,
                              dstCol: String, wCol: String,
                              iters: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(wCol).cast("long").as("w"))
    // neighbor-pull edges: non-self, both directions — pre-partitioned
    // by `a` once, the louvainOneLevel r16 shape (zero per-round
    // exchanges below the broadcast limit)
    val sym = graft.Caches.track(
      e.filter(col("a") =!= col("b"))
        .unionByName(e.filter(col("a") =!= col("b"))
          .select(col("b").as("a"), col("a").as("b"), col("w")))
        .repartition(col("a"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // weighted degree: neighbor weights + 2× self-loop weight
    val selfw = e.filter(col("a") === col("b"))
      .select(col("a").as("id"), (col("w") * 2).as("kw"))
    val deg = graft.Caches.track(
      sym.select(col("a").as("id"), col("w").as("kw"))
        .unionByName(selfw)
        .groupBy("id").agg(sum(col("kw")).as("k"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val m2 = deg.agg(sum(col("k"))).head().getLong(0) // 1-row probe: 2m
    require(m2 > 0, "weighted louvain needs edges")
    val init = checkpoint(deg.select(col("id"), col("id").as("lbl")))
    iterate("louvainWeighted", init, iters,
        Until.NoneChanged(col("lbl") =!= col("__old"))) { (labels, nV, r) =>
      val idside = // (id, own, k) — per-vertex broadcast frame
        if (r == 1) deg.select(col("id"), col("id").as("own"), col("k"))
        else labels.join(hintIfSmall(deg, nV), Seq("id"))
          .select(col("id"), col("lbl").as("own"), col("k"))
      val sigma = // (c, sig)
        if (r == 1) deg.select(col("id").as("c"), col("k").as("sig"))
        else idside.groupBy(col("own").as("c")).agg(sum(col("k")).as("sig"))
      val nbr =
        if (r == 1) sym.select(col("a"), col("b").as("c"), col("w"))
        else sym.join(
          hintIfSmall(
            labels.select(col("id").as("b"), col("lbl").as("c")), nV),
          "b").select(col("a"), col("c"), col("w"))
      val scored = nbr.groupBy(col("a"), col("c"))
        .agg(sum(col("w")).as("kic"))
        .join(hintIfSmall(sigma, nV), Seq("c"))
        .join(hintIfSmall(idside, nV), col("a") === col("id"))
        .withColumn("score", lit(m2) * col("kic") - col("k")
          * (col("sig")
            - when(col("c") === col("own"), col("k")).otherwise(0L)))
      val best = scored.groupBy(col("a"))
        .agg(max_by(col("c"), struct(col("score"), -col("c"))).as("bc"),
          max(struct(col("score").as("s"), (-col("c")).as("n"))).as("bk"),
          first(col("own")).as("own"), first(col("k")).as("k"))
      val moved = best
        .join(hintIfSmall(sigma.select(col("c").as("own"),
          col("sig").as("sigo")), nV), Seq("own"))
        .select(col("a").as("id"),
          when(struct((-(col("k") * (col("sigo") - col("k")))).as("s"),
              (-col("own")).as("n")) > col("bk"),
            col("own")).otherwise(col("bc")).as("mv"))
      // self-loop-only vertices never enter sym (self-edges are
      // filtered), so they have no neighbor candidates: re-attach them
      // with their own label — exactly the old zero-row union's single
      // stay-put candidate for such a vertex
      labels
        .select(col("id"), col("lbl").as("__old"))
        .join(hintIfSmall(moved, nV), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("mv"), col("__old")).as("lbl"), col("__old"))
    }.select("id", "lbl")
  }

  /** MULTI-LEVEL Louvain — the FULL Blondel et al. 2008 algorithm:
    * phase 1 ([[louvainOneLevel]]) partitions the vertex graph, phase 2
    * COARSENS it (communities become supernodes; parallel edges
    * collapse to integer weights; intra-community edges become
    * self-loops — exactly the weights that keep level-2 modularity
    * arithmetic equal to level-1's over the original graph), and phase
    * 1 re-runs WEIGHTED on the supergraph. Two levels — the depth after
    * which the fixture graphs stop moving; the coarsened pass merges
    * whole level-1 communities that the vertex-granular pass could only
    * move one vertex at a time. Returns (id, lbl1, lbl2) — lbl2 is the
    * final community of each ORIGINAL vertex (its level-1 community's
    * level-2 label). Like the one-level ops, the synchronous update
    * trades classic Louvain's strict per-move Q ascent for determinism:
    * consolidation is guaranteed, a Q climb is not (score both levels
    * with [[modularityQ]] and keep the better partition when that
    * matters).
    *
    * Scale shape: level 1 is [[louvainOneLevel]]'s loop; the coarsen is
    * two |labels|-keyed joins + one (c1, c2) count aggregate (the
    * supergraph is ≤|communities|² but really |inter-community edge
    * kinds| — tiny); level 2 runs on that tiny frame; the close is one
    * labels-keyed join mapping vertices through their community. */
  def louvainLevels(edges: DataFrame, srcCol: String, dstCol: String,
                    iters: Int = 3,
                    preSym: Option[DataFrame] = None): DataFrame = {
    val pairs = graft.Caches.track(
      edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val l1 = graft.Caches.track(
      louvainOneLevel(pairs, "s", "t", iters, preSym)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val superE = pairs
      .join(l1.select(col("id").as("s"), col("lbl").as("c1")), Seq("s"))
      .join(l1.select(col("id").as("t"), col("lbl").as("c2")), Seq("t"))
      .groupBy(least(col("c1"), col("c2")).as("lo"),
        greatest(col("c1"), col("c2")).as("hi"))
      .agg(count(lit(1)).as("w"))
    val l2 = louvainOneLevelWeighted(superE, "lo", "hi", "w", iters)
    l1.select(col("id"), col("lbl").as("lbl1"))
      .join(hintIfSmall(l2.select(col("id").as("lbl1"),
        col("lbl").as("lbl2")), l1.count()), Seq("lbl1"))
      .select(col("id"), col("lbl1"), col("lbl2"))
  }

  /** Newman modularity of a node partition over an undirected edge set:
    * per-community intra-edge counts, node counts and degree sums, plus
    * the closing `Q = Σ_c (e_c/m − (d_c/2m)²)` — the standard "are
    * these communities real" score for any clustering (LPA, components,
    * DBSCAN) on a pair graph.
    *
    * Determinism is TOTAL: Q clears its denominators to
    * `(4m·Σe_c − Σd_c²) / 4m²` — ONE division of exact BIGINTs on the
    * 6dp floor grid. Scale shape: two keyed label joins + bounded
    * per-community aggregates; the 1-row totals probe runs over the
    * |communities| frame. Assumes 4m² < 2⁶³ (m < 1.5·10⁹ edges — route
    * through DECIMAL beyond). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String, lblCol: String)
      : DataFrame = {
    val e = graft.Caches.track(edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val lab = graft.Caches.track(labels
      .select(col(idCol).as("id"), col(lblCol).as("lbl")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val m = e.count() // 1-value probe: the edge count scalar
    require(m > 0, "modularity needs edges")
    val ej = e
      .join(lab.select(col("id").as("lo"), col("lbl").as("lb1")), Seq("lo"))
      .join(lab.select(col("id").as("hi"), col("lbl").as("lb2")), Seq("hi"))
    val ec = ej.filter(col("lb1") === col("lb2"))
      .groupBy(col("lb1").as("lbl")).agg(count(lit(1)).as("e_in"))
    val dg = e.select(col("lo").as("nd"))
      .unionByName(e.select(col("hi").as("nd")))
      .groupBy("nd").agg(count(lit(1)).as("dg"))
    val ds = lab.join(dg, lab("id") === dg("nd"), "left")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("dg"), lit(0L))).as("d_sum"))
    val com = graft.Caches.track(ds.join(ec, Seq("lbl"), "left")
      .na.fill(0L, Seq("e_in"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // 1-row totals probe over the |communities| frame
    val t = com.agg(sum(col("e_in")),
      sum(col("d_sum") * col("d_sum"))).head()
    val se = t.getLong(0)
    val sd2 = t.getLong(1)
    val q6 = math.floor((4L * m * se - sd2).toDouble
      / (4L * m * m).toDouble * 1e6 + 0.5) / 1e6
    com.select(col("lbl"), col("n_nodes"), col("e_in"), col("d_sum"),
      lit(q6).as("q6"))
  }

  /** The closing Q of [[modularity]] for SEVERAL partitions of the SAME
    * edge set in one pass — the comparison harness (d46: Louvain vs
    * LPA) would otherwise rebuild the edge normalization (distinct
    * pairs, degree counts, m) once per partition. Edge build shared;
    * per labeling: one semi-filtered intra-edge count + one degree-sum
    * aggregate, both against BROADCAST labels. Returns (name, q6) as
    * driver doubles — same exact-BIGINT division as [[modularity]].
    * Driver actions are 1-row probes over bounded aggregates. */
  def modularityQ(edges: DataFrame, srcCol: String, dstCol: String,
                  labelings: Seq[(String, DataFrame, String, String)],
                  canonical: Boolean = false): Seq[(String, Double)] = {
    // `canonical` (r17): the caller vouches `edges` is already a DISTINCT
    // canonical-order (src < dst) simple-edge frame — d46/d53 pass their
    // persisted distinct pairs build — so the lo/hi canonicalization and
    // its full re-distinct shuffle are skipped and the scan rides the
    // caller's persisted frame directly. Identical rows either way.
    val e =
      if (canonical) edges.select(col(srcCol).as("lo"), col(dstCol).as("hi"))
      else graft.Caches.track(edges.select(
          least(col(srcCol), col(dstCol)).as("lo"),
          greatest(col(srcCol), col(dstCol)).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val m = e.count() // 1-value probe: the edge count scalar
    require(m > 0, "modularity needs edges")
    val dg = graft.Caches.track(e.select(col("lo").as("nd"))
      .unionByName(e.select(col("hi").as("nd")))
      .groupBy("nd").agg(count(lit(1)).as("dg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // |V| measured once over the persisted degree frame — gates the
    // per-labeling broadcast hints (label frames are vertex-keyed, so
    // the degree count bounds them within a distinct() of the input).
    val nV = dg.count()
    // ALL labelings score in ONE tagged pass (r16): union the label
    // frames under a tag column, join the edge frame once against the
    // tagged broadcast (per tag it is exactly the old per-labeling
    // join), and collect one |labelings|-row result per aggregate —
    // the edge frame is scanned once instead of once per labeling and
    // the 2·|labelings| single-row head() jobs become two collects.
    val labAll = labelings.map { case (name, labels, idCol, lblCol) =>
      labels.select(lit(name).as("tag"), col(idCol).as("id"),
        col(lblCol).as("lbl")).distinct()
    }.reduce(_.unionByName(_))
    val nLab = nV * labelings.size
    val seMap = e
      .join(hintIfSmall(labAll.select(col("tag"), col("id").as("lo"),
        col("lbl").as("lb1")), nLab), Seq("lo"))
      .join(hintIfSmall(labAll.select(col("tag"), col("id").as("hi"),
        col("lbl").as("lb2")), nLab), Seq("tag", "hi"))
      .filter(col("lb1") === col("lb2"))
      .groupBy("tag").agg(count(lit(1)).as("se"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sd2Map = labAll.join(dg, labAll("id") === dg("nd"), "left")
      .groupBy(col("tag"), col("lbl"))
      .agg(sum(coalesce(col("dg"), lit(0L))).as("d_sum"))
      .groupBy(col("tag"))
      .agg(sum(col("d_sum") * col("d_sum")).as("sd2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    labelings.map { case (name, _, _, _) =>
      val se = seMap.getOrElse(name, 0L)
      val sd2 = sd2Map.getOrElse(name, 0L)
      name -> math.floor((4L * m * se - sd2).toDouble
        / (4L * m * m).toDouble * 1e6 + 0.5) / 1e6
    }
  }

  /** Degree assortativity (Newman 2002) of an undirected edge set:
    * the Pearson correlation of endpoint degrees over all 2m directed
    * edge-ends — "do hubs link to hubs" (positive: social/citation
    * shape; negative: hub-and-spoke, the usual near-dup/boilerplate
    * shape). One row: (m_ends, r6).
    *
    * Determinism: degrees are exact ints, so all six sums (n, Σx, Σy,
    * Σxy, Σx², Σy²) are order-free BIGINTs; r closes as ONE
    * fixed-association double expression over their (deterministically
    * rounded) double casts — bit-identical in any engine before the 6dp
    * grid. Null when either variance term is zero (degree-regular
    * graph). Scale shape: two keyed degree joins + one partial+final
    * 1-row aggregate; no driver state beyond the closing row. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    val adj = e.select(col("lo").as("w"), col("hi").as("u"))
      .unionByName(e.select(col("hi").as("w"), col("lo").as("u")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    // every directed edge-end contributes (deg(from), deg(to)); the
    // canonical-undirected union of both orientations IS that multiset
    val ends = adj
      .join(deg.select(col("w"), col("deg").as("x")), Seq("w"))
      .join(deg.select(col("w").as("u"), col("deg").as("y")), Seq("u"))
    val s = ends.agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val m = col("m").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val vx = m * col("sxx").cast("double") - sx * sx
    val vy = m * col("syy").cast("double") - sy * sy
    s.select(col("m").as("m_ends"),
      when(vx > 0.0 && vy > 0.0,
        floor((m * col("sxy").cast("double") - sx * sy)
          / sqrt(vx * vy) * lit(1e6) + lit(0.5)) / lit(1e6))
        .as("r6"))
  }

  /** k-core decomposition by synchronous peeling: `rounds` rounds of
    * "drop every node whose degree within the surviving subgraph is
    * < k", then the surviving nodes with their final in-core degrees —
    * the standard dense-cluster extractor (boilerplate cliques, spam
    * rings) on any pair graph. Peeling is monotone, so once converged
    * extra rounds are no-ops: a `rounds` comfortably above the expected
    * peel depth yields the exact k-core; an unconverged replay is still
    * well-defined (the r-round partial peel) and both engines replay the
    * same fixed unrolling.
    *
    * Scale shape: per round TWO keyed semi-joins (edge liveness) + one
    * partial+final degree count, lineage cut per round (the d08/d20
    * iterative-on-Spark discipline). Never materializes neighbor sets. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
    // Iterate on the SYMMETRIZED shrinking frame, hash-partitioned by
    // the endpoint column `w` (r16, the louvainOneLevel discipline):
    // the per-round degree count groups by `w` — riding the
    // partitioning the checkpoint preserves, no exchange — and both
    // liveness filters are size-gated broadcast SEMI-joins, so a peel
    // round plans ZERO exchanges below the broadcast limit. Twice the
    // rows of the one-row-per-edge variant, but the former per-round
    // degree shuffle (2·|alive| union rows) is gone and each vertex's
    // count is identical (one row per incident edge either way).
    // Iteration stays on the SHRINKING frame; each round's checkpoint
    // job counts the surviving rows — peeling is monotone, so an
    // unchanged count means convergence.
    // The cut keeps the rows' real layout: below the broadcast limit
    // that is hash(w) (repartition, then broadcast semi-joins and
    // projections only), so the degree count rides it and a peel round
    // plans zero exchanges; above it the shuffled semi-join re-lays the
    // rows out by `u`, and the next degree count shuffles by `w` again.
    val init = checkpoint(
      e.select(col("lo").as("w"), col("hi").as("u"))
        .unionByName(e.select(col("hi").as("w"), col("lo").as("u")))
        .repartition(col("w")), keepPartitioning = true)
    iterate("kCore", init, rounds, Until.SameRows,
        keepPartitioning = true) { (alive, nAlive, _) =>
      val keep = alive.groupBy("w").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("w").as("v"))
      // |keep| ≤ |alive vertices| ≤ nAlive — gate on the previous count
      alive
        .join(hintIfSmall(keep.withColumnRenamed("v", "w"), nAlive),
          Seq("w"), "left_semi")
        .join(hintIfSmall(keep.withColumnRenamed("v", "u"), nAlive),
          Seq("u"), "left_semi")
        .select(col("w"), col("u")) // (w, u) order for the next round
    }.groupBy(col("w").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Adamic–Adar link prediction over an undirected edge set: for every
    * NON-adjacent pair (u, v) sharing at least one neighbor, the common-
    * neighbor count and the AA score `Σ_w 1/ln(deg(w))` — the classic
    * "which near-dup pairs did the threshold miss" / entity-linkage
    * candidate ranker.
    *
    * Scale shape: wedge fan-out is deg(w)² per center, so hubs with
    * deg > `maxDeg` are excluded from the CENTER role (the d03
    * stop-shingle discipline — a hub shared by everything carries no
    * linkage signal; its 1/ln(deg) term is also the smallest). Every
    * step is a keyed equi-join; the non-edge screen is one anti-join.
    *
    * Determinism: per-center terms floor to exact 1e-6-unit longs
    * (`floor(1e6/ln(deg) + 0.5)` — ONE division, same spelling in any
    * oracle); the score sums those longs order-free and divides once.
    * deg ≥ 2 for any wedge center, so ln > 0. The usual zipf-class ulp
    * exposure on ln() of small ints at grid-halfway points applies
    * (accepted + documented, see TextOps.zipfFit). */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDeg: Int = 64): DataFrame = {
    val e = graft.Caches.track(edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val adj = e.select(col("lo").as("w"), col("hi").as("u"))
      .unionByName(e.select(col("hi").as("w"), col("lo").as("u")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("deg"))
    // center-eligible adjacency feeds BOTH wedge sides — persist,
    // pre-partitioned by the wedge-center key `w` (r16): the self-join
    // below then reads two co-partitioned cache scans and plans no
    // exchange of its own
    val okAdj = graft.Caches.track(
      adj.join(deg.filter(col("deg") <= maxDeg), Seq("w"))
        .repartition(col("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val wedges = okAdj.as("a").join(okAdj.as("b"),
        col("a.w") === col("b.w") && col("a.u") < col("b.u"))
      .select(col("a.u").as("lo"), col("b.u").as("hi"),
        col("a.deg").as("deg"))
    wedges.join(e, Seq("lo", "hi"), "left_anti")
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("cn"),
        sum(floor(lit(1e6) / log(col("deg").cast("double")) + 0.5)
          .cast("long")).as("__aa"))
      .select(col("lo").as("id1"), col("hi").as("id2"), col("cn"),
        (col("__aa").cast("double") / lit(1e6)).as("aa6"))
  }

  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = graft.Caches.track(edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    // r17 (§2.5): orient every edge toward the HIGHER (degree, id) rank
    // and form wedges only at each edge pair's lowest-rank vertex (the
    // compact-forward scheme, Schank & Wagner 2005). The old id-ordered
    // wedge join put Σ |N<(b)|·|N>(b)| ≈ deg²/4 wedges on every hub
    // (measured at the sf1 rehearsal: d23 50 s wall, 15 s straggler
    // task); rank-orienting bounds each vertex's wedge count by its
    // OUT-degree choose 2, and out-degrees are O(√2m) on any graph.
    // Each triangle {p,q,r} with rank p<q<r is found exactly once (the
    // wedge at p over out-neighbors q,r closes iff the directed edge
    // q→r exists), so the output SET is identical; rows re-sort to the
    // (a<b<c by id) spelling via least/greatest (+ exact-long middle).
    val deg = e.select(col("lo").as("v"))
      .unionByName(e.select(col("hi").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dir = graft.Caches.track(e
      .join(deg.select(col("v").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dhi")), "hi")
      .select(
        when(col("dlo") < col("dhi")
            || (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("u"), col("hi").as("w"), col("dhi").as("dw")))
          .otherwise(
            struct(col("hi").as("u"), col("lo").as("w"), col("dlo").as("dw")))
          .as("__d"))
      .select(col("__d.u").as("u"), col("__d.w").as("w"),
        col("__d.dw").as("dw"))
      .repartition(col("u")) // the wedge self-join rides this exchange
      .persist(StorageLevel.MEMORY_AND_DISK))
    val wedges = dir.as("x").join(dir.as("y"),
        col("x.u") === col("y.u")
          && (col("x.dw") < col("y.dw")
            || (col("x.dw") === col("y.dw") && col("x.w") < col("y.w"))))
      .select(col("x.u").as("p"), col("x.w").as("q"), col("y.w").as("r"))
    wedges.join(dir.select(col("u").as("q"), col("w").as("r")),
        Seq("q", "r"), "left_semi")
      .select(array_sort(array(col("p"), col("q"), col("r"))).as("__t"))
      .select(element_at(col("__t"), 1).as("a"),
        element_at(col("__t"), 2).as("b"),
        element_at(col("__t"), 3).as("c"))
  }

  /** Local clustering coefficient per node: `C(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1))` with T(v) the triangles through v — the
    * per-node "are my neighbors each other's neighbors" density that
    * separates clique-like boilerplate clusters from chains
    * ([[triangles]]' global diagnostic, localized). Nodes of degree 1
    * get null (undefined, the degenerate-null convention).
    *
    * Scale shape: the oriented wedge join of [[triangles]] (every step
    * a keyed equi-join), one explode of the triangle list (3 rows per
    * triangle), one keyed count each for T and deg — edge/triangle
    * sized, never all-pairs. Exact integer counts close in ONE division
    * on the 6dp floor grid. */
  def localClustering(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val e = graft.Caches.track(edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK))
    val tri = triangles(e, "lo", "hi")
    val tcnt = tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("t"))
    val deg = e.select(col("lo").as("id"))
      .unionByName(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(tcnt, Seq("id"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("id"), col("deg"), col("t"),
        when(col("deg") >= 2,
          floor(lit(2.0) * col("t").cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double")
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("c6"))
  }

  /** DBSCAN over a precomputed ε-neighbor pair graph (Ester et al.
    * 1996): `pairs` holds one row per undirected neighbor pair within
    * the ε-ball (e.g. cosine ≥ τ from [[DedupOps.embeddingNearDup]] —
    * the bucketed candidate generator IS the ε-range query, so the
    * quadratic region-query step of textbook DBSCAN never happens).
    * A point is `core` when its ε-neighborhood (itself included) holds
    * ≥ `minPts` points; clusters are connected components over
    * core–core edges; a non-core point with a core neighbor is a
    * `border` of its minimum core-neighbor's cluster (deterministic
    * where the textbook says "any"); everything else is `noise`
    * (cluster −1). Returns one row per id in `ids`:
    * `(id, cluster, role)`.
    *
    * Scale shape: degree count, core filter, border attach are each one
    * keyed equi-join/aggregation over the pair graph (edge-sized, never
    * all-pairs); components run the O(log d) min-label machinery of
    * [[connectedComponents]]. Driver state: the CC loop counters only. */
  def dbscan(pairs: DataFrame, ids: DataFrame, idCol: String,
             minPts: Int): DataFrame = {
    require(minPts >= 2, "minPts must be >= 2")
    val sym = graft.Caches.track(
      pairs.select(col("id1").as("a"), col("id2").as("b"))
        .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val core = graft.Caches.track(
      sym.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") + 1 >= minPts)
        .select(col("a").as("id"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val coreEdges = sym
      .join(core.select(col("id").as("a")), "a")
      .join(core.select(col("id").as("b")), "b")
    val comps = connectedComponents(coreEdges, "a", "b")
    // isolated cores (all their neighbors are borders) form singleton
    // clusters rooted at themselves
    val coreComp = core.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val border = sym
      .join(core.select(col("id").as("b")), "b")
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .join(coreComp.select(col("id").as("b"), col("comp")), "b")
      .groupBy("a").agg(min(col("comp")).as("comp"))
      .select(col("a").as("id"), col("comp"))
    ids.select(col(idCol).as("id"))
      .join(coreComp.withColumn("role", lit("core"))
        .unionByName(border.withColumn("role", lit("border"))),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("comp"), lit(-1L)).as("cluster"),
        coalesce(col("role"), lit("noise")).as("role"))
  }
}
