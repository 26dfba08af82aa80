package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.checkpoint

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two tiers:
  *  - [[knnBruteForce]] — exact top-k: broadcast the (small) query set
  *    against the corpus, one pass, per-query heap via WindowGroupLimit.
  *    The corpus is never shuffled and never pairwise with itself; cost is
  *    |corpus| × |queries| dot products, embarrassingly parallel. This is
  *    the correctness baseline and is the right plan whenever the query set
  *    fits in a broadcast (the common "probe a trained index" shape).
  *  - [[annLsh]] — random-hyperplane LSH: bucket corpus and queries by a
  *    sign-bit signature, equi-join on bucket, exact cosine re-rank within
  *    candidates. At 100 TB the bucket join replaces the full scan per
  *    query; recall < 1 (tunable via planes/probes).
  *
  * All vector math is native expressions — the per-pair dot product is the
  * custom codegen'd [[graft.functions.DotProduct]] (higher-order folds are
  * interpreted; see its Scaladoc), bit-compatible with the DuckDB oracle.
  * Requires sessions built with GraftExtensions (all graft mains are).
  */
object SimilarityOps {

  /** Row-count gate between the two plans of [[lshPairs]], the pair
    * generator of [[knnGraphBuild]] and [[DedupOps.embeddingNearDup]]: up
    * to this many corpus vectors the normalized vector frame broadcasts
    * (~(dim·8+32) B/row — the 512k default is ~280 MB at dim 64) and the
    * src-clustered plan generates and scores each src's pairs in its own
    * task; above it the keyed plan runs, which degrades gracefully at any
    * size.
    * -Dgraft.knnBroadcastRows=N retunes it (0 forces the keyed plan). */
  private[graft] def knnBroadcastRows: Long =
    sys.props.get("graft.knnBroadcastRows").map(_.toLong)
      .getOrElse(512L * 1024)

  /** Exact cosine top-k of `queries` against `corpus` (self-matches
    * excluded when ids collide). Output: qid, rk (1..k), nid, sim. */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    // raw vectors + norms (zero interpreted per-element work); cosine =
    // dot/(cn*qn) — dot-then-divide, DuckDB's exact formula.
    val c = DedupOps.withNorm(corpus, idCol, vecCol, "nid", "ce", "cn")
    val q = DedupOps.withNorm(queries, idCol, vecCol, "qid", "qe", "qn")
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("sim",
        graft.functions.DotProduct.dotNative(col("ce"), col("qe"))
          / (col("cn") * col("qn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))
  }

  /** HARD-NEGATIVE MINING — contrastive-training data prep (the miner
    * every embedding-training pipeline runs before a triplet/InfoNCE
    * epoch: random negatives are too easy to teach a margin; the
    * negatives that matter are the MOST-similar vectors with a
    * DIFFERENT label). For each anchor: the top-`k` corpus vectors by
    * cosine whose label differs — the label inequality sits IN the join
    * condition, pruning pairs before any distance work ever runs (a
    * post-rank filter would under-fill k). Returns
    * (qid, rk, nid, q_label, n_label, sim).
    *
    * Shape: [[knnBruteForce]]'s broadcast-anchors × one-corpus-scan
    * plan with the label predicate pushed into the join and per-anchor
    * WindowGroupLimit heaps — no corpus shuffle; swap the candidate
    * source for [[ivfProbeFiltered]] postings when the corpus outgrows
    * a full scan per mining pass. */
  def hardNegatives(vecs: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchors: DataFrame,
                    k: Int): DataFrame = {
    import graft.functions.DotProduct.dotNative
    def proj(df: DataFrame, id: String, v: String, n: String,
             l: String): DataFrame =
      df.select(col(idCol).as(id),
          col(vecCol).cast("array<double>").as(v),
          col(labelCol).as(l))
        .select(col(id), col(v), col(l),
          sqrt(dotNative(col(v), col(v))).as(n))
    val c = proj(vecs, "nid", "ce", "cn", "n_label")
    val q = proj(anchors, "qid", "qe", "qn", "q_label")
    c.join(broadcast(q),
        col("nid") =!= col("qid") && col("n_label") =!= col("q_label"))
      .withColumn("sim",
        dotNative(col("ce"), col("qe")) / (col("cn") * col("qn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("q_label"),
        col("n_label"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplanes: `planes` × `dim` weights in
    * [-1, 1], from a fixed-seed PRNG (no runtime entropy — resumable and
    * reproducible across runs/executors). */
  private[graft] def hyperplanes(planes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(20260812L)
    Array.fill(planes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** ENGINE-PORTABLE pseudo-random hyperplanes (the d05 trick): weight
    * (p, j) = md5("hp:p:j") first-15-hex as a 60-bit int, divided by 2^59,
    * minus 1 → [-1, 1). Every step is spellable identically in DuckDB
    * (`CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT) / 2^59 - 1`) with
    * bit-identical doubles (the long→double cast rounds the same way in
    * both engines, and 2^59 is an exact power of two), so an LSH pipeline
    * seeded with these planes can be hash-compared end-to-end. Same
    * statistical quality as the PRNG planes — md5 is as uniform as any
    * seedable generator here. */
  private[graft] def hyperplanesPortable(planes: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](planes * dim)
    var p = 0
    while (p < planes) {
      var j = 0
      while (j < dim) {
        md.reset()
        val digest = md.digest(s"hp:$p:$j".getBytes("UTF-8"))
        val hex = digest.map("%02x".format(_)).mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16) // < 2^60, never negative
        out(p * dim + j) = h / 576460752303423488.0 - 1.0 // / 2^59
        j += 1
      }
      p += 1
    }
    out
  }

  /** Per-table sign-bit buckets: `tables` buckets, each packing `bits`
    * hyperplane signs. Returns array<long> of length `tables` (bucket
    * values are table-local; pair with the table index when joining), or
    * NULL when the vector length ≠ dim — inner joins then drop the row
    * rather than colliding every malformed vector in bucket 0 of every
    * table (which would degenerate the candidate join to all-pairs).
    *
    * One codegen'd [[graft.functions.LshBuckets]] node: the plane matrix
    * is a single flattened literal, not tables×bits per-plane literal
    * arrays — the composed-dots spelling made a ~10k-node tree whose
    * re-analysis cost ~4s PER ACTION at any data size. */
  private[graft] def lshBuckets(vec: Column, tables: Int, bits: Int,
                                dim: Int,
                                planesFlat: Option[Array[Double]] = None): Column =
    graft.functions.LshBuckets.bucketsNative(vec,
      planesFlat.getOrElse(
        hyperplanes(planes = tables * bits, dim = dim).flatten), bits, dim)

  /** Snap every component to the dyadic grid 1/`grid` (grid a power of
    * two): floor(x·g + 0.5)/g. On grid values, every later dot product and
    * cross-row sum in the IVF pipeline is EXACT in IEEE doubles — products
    * are multiples of 1/g² within 53 bits, sums stay within 53 bits — so
    * results are independent of summation order and bit-identical between
    * Spark and any other engine spelling the same floor (the v02/d05
    * md5-portability trick, extended from inputs to whole aggregates).
    * Semantically a ≤ 2^-21 perturbation of each unit vector. */
  private[graft] def quantize(c: Column, grid: Double): Column =
    transform(c, x => floor(x * lit(grid) + lit(0.5)) / lit(grid))

  private def quantizeArr(c: Array[Double], g: Double): Array[Double] =
    c.map(x => math.floor(x * g + 0.5) / g)

  /** Normalized (and, when `grid` is set, grid-quantized) projection. */
  private[graft] def normalizedQ(df: DataFrame, idCol: String,
                                 vecCol: String, outId: String,
                                 outVec: String,
                                 grid: Option[Double],
                                 meta: Seq[String] = Nil): DataFrame = {
    val n = DedupOps.normalized(df, idCol, vecCol, outId, outVec, meta)
    grid.fold(n)(g =>
      n.select(col(outId) +: quantize(col(outVec), g).as(outVec) +:
        meta.map(col): _*))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    * re-ranking: from each query's top-`nCand` brute-force candidates,
    * greedily select `k` balancing relevance against redundancy —
    * `argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`, ties → smaller id.
    * THE answer to "my near-dup corpus returns 5 copies of the same
    * page"; composes with any candidate generator.
    *
    * The greedy loop is RELATIONAL, not a typed loop: k−1 rounds of
    * [anti-join selected → max-sim-to-selected (keyed join + bounded
    * agg) → per-query rank-1 window], each round over the
    * queries×nCand frame only (the corpus is touched once, by the
    * candidate generator). The oracle unrolls the same rounds.
    *
    * Determinism: grid-snapped normalized vectors make every rel/sim an
    * exact engine-portable double (the v03 discipline); pass a
    * BINARY-EXACT λ (0.5, 0.25 …) so both λ and 1−λ are exact; ties
    * break on id; scores snap to the 6dp grid at output only. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, nCand: Int, k: Int, lambda: Double,
                grid: Option[Double]): DataFrame = {
    require(k >= 1 && nCand >= k, "need nCand >= k >= 1")
    import graft.functions.DotProduct.dotNative
    val c = normalizedQ(corpus, idCol, vecCol, "nid", "ce", grid)
    val q = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    val wRel = Window.partitionBy("qid")
      .orderBy(col("rel").desc, col("nid").asc)
    val cand = graft.Caches.track(
      c.join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("rel", dotNative(col("ce"), col("qe")))
        .withColumn("rk", row_number().over(wRel))
        .filter(col("rk") <= nCand)
        .select(col("qid"), col("nid"), col("rel"), col("ce"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairSims = graft.Caches.track(cand.as("x").join(cand.as("y"),
        col("x.qid") === col("y.qid") && col("x.nid") =!= col("y.nid"))
      .select(col("x.qid").as("qid"), col("x.nid").as("cn"),
        col("y.nid").as("sn"), dotNative(col("x.ce"), col("y.ce"))
          .as("psim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var selected = cand
      .withColumn("rk", row_number().over(wRel)).filter(col("rk") === 1)
      .select(col("qid"), col("nid"), lit(1).as("pos"),
        col("rel").as("score"))
      .localCheckpoint() // k bounded rounds — cut lineage per round
    for (i <- 2 to k) {
      val selIds = selected.select("qid", "nid")
      val mx = pairSims
        .join(selIds.withColumnRenamed("nid", "sn"), Seq("qid", "sn"))
        .groupBy(col("qid"), col("cn").as("nid"))
        .agg(max(col("psim")).as("mx"))
      val sc = lit(lambda) * col("rel") - lit(1.0 - lambda) * col("mx")
      val next = cand.join(selIds, Seq("qid", "nid"), "left_anti")
        .join(mx, Seq("qid", "nid"))
        .withColumn("sc", sc)
        .withColumn("rk", row_number().over(Window.partitionBy("qid")
          .orderBy(col("sc").desc, col("nid").asc)))
        .filter(col("rk") === 1)
        .select(col("qid"), col("nid"), lit(i).as("pos"),
          col("sc").as("score"))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected.select(col("qid"), col("pos"), col("nid"),
      (floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6)).as("score6"))
  }

  /** Deterministic Lloyd k-means over an embedding column: seeds are the
    * first k vectors by id (deterministic, no sampling), `iters` rounds of
    * assign (broadcast centroids, codegen'd graft_dot on normalized
    * vectors = cosine assignment) + recompute (groupBy avg). Each round is
    * one scan + one k-sized aggregation; centroids live on the driver
    * between rounds (k × dim doubles — the standard bounded state).
    *
    * `grid` (off by default) runs the ENGINE-PORTABLE variant: inputs and
    * every iteration's centroids are snapped to the dyadic grid (see
    * [[quantize]]), making all averages/dots exact and the whole recurrence
    * replayable bit-for-bit by a DuckDB oracle (the v03/v04 gates). */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int, dim: Int,
             grid: Option[Double] = None): Array[Array[Double]] = {
    // every iteration ends in an action, so an unpersisted projection
    // would re-scan + re-normalize the corpus iters+1 times.
    val v = graft.Caches.track(
      normalizedQ(df, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    kmeansFrom(v, k, iters, dim, grid)
  }

  /** [[kmeans]] over an already-normalized, already-persisted (id, e)
    * projection — callers that reuse the projection downstream (IVF
    * assignment) pass it here so the corpus is scanned once. */
  /** [[kmeansFrom]] behind the optional session memo — the ivfPqBuild
    * cacheKey contract extended to the plain-IVF family: rebuilds of
    * the same (corpus slice, params) reuse the deterministic training
    * (a hit is bit-identical to a fresh train). The key MUST encode the
    * corpus slice (the v19-vs-v15 lesson). */
  private def kmeansMemo(cacheKey: Option[String], v: DataFrame, k: Int,
                         iters: Int, dim: Int,
                         grid: Option[Double]): Array[Array[Double]] =
    cacheKey.fold(kmeansFrom(v, k, iters, dim, grid))(ck =>
      graft.Caches.memo(s"ivfcoarse:$ck:$k:$iters:$grid")(
        kmeansFrom(v, k, iters, dim, grid)))

  private[graft] def kmeansFrom(v: DataFrame, k: Int, iters: Int, dim: Int,
                                grid: Option[Double] = None): Array[Array[Double]] = {
    var centroids = v.orderBy("id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    (1 to iters).foreach { _ =>
      val assigned = assignToCentroids(v, centroids)
      val sums = assigned.groupBy("cluster")
        .agg(array((0 until dim).map(i =>
          avg(col("e")(i))): _*).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map(i => sums.getOrElse(i, centroids(i)))
        .map { c0 =>
          // portable path: quantize the (exact) mean BEFORE the norm so the
          // sum of squares is itself exact, then re-quantize after dividing
          // — the grid invariant the next iteration's dots rely on.
          val c = grid.fold(c0)(quantizeArr(c0, _))
          val n = math.sqrt(c.map(x => x * x).sum)
          val d = if (n == 0) c else c.map(_ / n) // re-normalize: cosine
          grid.fold(d)(quantizeArr(d, _))
        }.toArray
    }
    centroids
  }

  /** CLUSTER-CURATION DATASHEET — the "what is each embedding cluster
    * ABOUT" table a cluster-based curation pass reads before keeping,
    * down-weighting, or dropping whole clusters (the DataComp /
    * SemDeDup-adjacent workflow: cluster the corpus by embedding, then
    * decide per cluster): deterministic k-means over the vectors (the
    * [[kmeans]] dyadic-grid recurrence — memo-shared with the IVF
    * family via `cacheKey`), nearest-centroid assignment, then per
    * cluster its SIZE and top-`topTerms` characteristic terms by
    * cluster-TF × inverse cluster frequency (score = tf/df — one
    * correctly-rounded division per term; the (score DESC, term ASC)
    * rank is a total order, so ranks replay engine-identically).
    * Returns (cluster, n_docs, rank, term, tf, df).
    *
    * Scale shape: one normalized-vector scan feeds training +
    * assignment; tokens stage in a Project before the explode; tf is a
    * (cluster, term) partial+final count; df aggregates the tf frame
    * (≤ clusters × vocab rows), never the corpus; the rank is a keyed
    * WindowGroupLimit. Vector ids must match doc ids. */
  def clusterTerms(vecs: DataFrame, idCol: String, vecCol: String,
                   docs: DataFrame, docIdCol: String, textCol: String,
                   nClusters: Int, topTerms: Int, kmeansIters: Int = 3,
                   dim: Int = 64, grid: Option[Double] = None,
                   cacheKey: Option[String] = None): DataFrame = {
    val v = graft.Caches.track(
      normalizedQ(vecs, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val centroids = kmeansMemo(cacheKey, v, nClusters, kmeansIters, dim,
      grid)
    val asg = graft.Caches.track(
      assignToCentroids(v, centroids).select(col("id"), col("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val staged = docs.select(col(docIdCol).as("id"),
      graft.ops.TextOps.tokens(col(textCol)).as("__ts"))
    val tf = graft.Caches.track(
      staged.select(col("id"), explode(col("__ts")).as("t"))
        .join(asg, Seq("id"))
        .groupBy("cluster", "t").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfq, Seq("t"))
      .select(col("cluster"), col("t").as("term"), col("tf"), col("df"),
        (col("tf").cast("double") / col("df").cast("double")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topTerms)
      .join(sizes, Seq("cluster"))
      .select(col("cluster"), col("n_docs"), col("rank"), col("term"),
        col("tf"), col("df"))
  }

  /** Nearest-centroid assignment: greatest-of-k struct comparison over
    * codegen'd dots — one pass, no shuffle. Adds `cluster`. */
  private def assignToCentroids(vNorm: DataFrame,
                                centroids: Array[Array[Double]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.DotProduct.dotNative(col("e"),
          array(c.map(lit).toIndexedSeq: _*)).as("sim"),
        lit(i).as("cluster"))
    }
    vNorm.withColumn("cluster", greatest(scored.toIndexedSeq: _*)("cluster"))
  }

  /** Top-nprobe centroids per query via posexplode + rank over the
    * (bounded, literal) centroid array: (qid, qe, cluster). */
  private def probeClusters(q0: DataFrame, centroids: Array[Array[Double]],
                            nProbe: Int): DataFrame =
    q0.select(col("qid"), col("qe"),
        posexplode(array(centroids.map(cen =>
          graft.functions.DotProduct.dotNative(col("qe"),
            array(cen.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)))
      .toDF("qid", "qe", "cluster", "csim")
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("csim").desc, col("cluster").asc)))
      .filter(col("crk") <= nProbe)
      .select("qid", "qe", "cluster")

  /** Cluster equi-join + exact dot re-rank + per-query top-k heap.
    * No distinct needed: each corpus row has exactly one cluster and
    * probed clusters are unique per query, so (qid, nid) can't repeat. */
  private def ivfRerank(postings: DataFrame, probed: DataFrame,
                        k: Int): DataFrame =
    postings.join(broadcast(probed), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("sim", graft.functions.DotProduct.dotNative(col("ce"), col("qe")))
      .select(col("qid"), col("nid"), col("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))

  /** ANN top-k via IVF (inverted file): corpus rows are bucketed by their
    * nearest k-means centroid once; each query probes only its `nprobe`
    * closest centroids' buckets. The candidate join is an equi-join on the
    * cluster id — the query side (small) carries nprobe rows each, the
    * corpus side streams its bucket assignment. Approximate (recall grows
    * with nprobe) → rows-only in the driver contract. */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nClusters: Int, nProbe: Int,
                dim: Int = 64, kmeansIters: Int = 3,
                grid: Option[Double] = None,
                cacheKey: Option[String] = None): DataFrame = {
    // one persisted normalized projection feeds k-means (iters+1 actions)
    // AND the final bucket assignment — one corpus scan total.
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val centroids = kmeansMemo(cacheKey, v, nClusters, kmeansIters, dim, grid)
    val c = assignToCentroids(v, centroids)
      .select(col("id").as("nid"), col("e").as("ce"), col("cluster"))
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    ivfRerank(c, probeClusters(q0, centroids, nProbe), k)
  }

  /** Build an IVF index ONCE as parquet artifacts under `outDir`:
    * `centroids` (cluster → unit vector, nClusters rows) and `postings`
    * (nid, normalized vector), PARTITIONED BY cluster — the
    * build-once/probe-many deployment shape at 100 TB. Probing reads only
    * the probed clusters' partitions: the cluster id is a partition
    * column, so the broadcast probe join prunes the postings scan
    * (dynamic partition pruning) instead of re-scanning or re-clustering
    * the corpus per query batch. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               nClusters: Int, outDir: String, dim: Int = 64,
               kmeansIters: Int = 3, grid: Option[Double] = None,
               meta: Seq[String] = Nil,
               cacheKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid, meta)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val centroids = kmeansMemo(cacheKey, v, nClusters, kmeansIters, dim, grid)
    import spark.implicits._
    centroids.zipWithIndex.map { case (cen, i) => (i, cen.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    assignToCentroids(v, centroids)
      .select(col("id").as("nid") +: col("e").as("ce") +: col("cluster") +:
        meta.map(col): _*)
      // r17 (§6 file sizing): cluster-align the tasks before the
      // partitioned write — without this every input partition writes a
      // file into every cluster dir it touches (≤ width × nClusters tiny
      // files per build; one file per cluster after), and every probe
      // pays the footer count
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$outDir/postings")
  }

  /** Reload a persisted index's centroid artifact (bounded k × dim driver
    * state) — the one decoding both [[ivfAppend]] and [[ivfProbe]] use. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexDir/centroids")
      .orderBy("cluster").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Append a NEW batch of vectors to a prebuilt [[ivfBuild]] index
    * WITHOUT a rebuild — the index-maintenance path for a growing corpus:
    * reload the FROZEN centroids (bounded k × dim driver state), assign
    * only the batch to its nearest centroid (one batch-sized scan, no
    * shuffle), and append the new postings into the partitioned layout
    * (append mode adds files to the touched cluster partitions only; the
    * existing corpus is never rewritten or re-read). The quantizer stays
    * the build-time one, so recall on appended data degrades gracefully
    * as the corpus drifts — the standard IVF maintenance contract until
    * the next scheduled rebuild. */
  def ivfAppend(indexDir: String, batch: DataFrame, idCol: String,
                vecCol: String, grid: Option[Double] = None): Unit = {
    val spark = batch.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val v = normalizedQ(batch, idCol, vecCol, "id", "e", grid)
    assignToCentroids(v, centroids)
      .select(col("id").as("nid"), col("e").as("ce"), col("cluster"))
      .repartition(col("cluster")) // one appended file per touched cluster
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$indexDir/postings")
  }

  /** Probe a prebuilt [[ivfBuild]] index: reload centroids (bounded
    * k × dim driver state, exactly like the in-process path), rank the
    * query's nprobe nearest clusters, and equi-join the partitioned
    * postings — only the probed partitions are read. */
  def ivfProbe(indexDir: String, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, nProbe: Int,
               grid: Option[Double] = None): DataFrame = {
    val spark = queries.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val postings = spark.read.parquet(s"$indexDir/postings")
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    ivfRerank(postings, probeClusters(q0, centroids, nProbe), k)
  }

  /** Drift-triggered IVF repair — the decision operator that closes the
    * index lifecycle (build → probe → append → MONITOR → REPAIR):
    * [[ivfAppend]] assigns against FROZEN centroids, so a cluster whose
    * membership has drifted no longer sits at its members' mean and
    * probes route poorly there. Per cluster this measures
    * `drift = 1 − ⟨centroid, recenter(members)⟩` where `recenter` is
    * EXACTLY one Lloyd re-center step in [[kmeansFrom]]'s dyadic
    * arithmetic (grid-snapped per-coordinate mean, then snapped
    * re-normalization) — so the whole decision replays bit-identically
    * in a DuckDB oracle. Clusters with `drift6 > threshold` repair
    * LOCALLY: each re-centers on its current members, then ONLY the
    * drifted clusters' vectors reassign among the drifted clusters' NEW
    * centroids (membership may move between drifted clusters, never
    * leaves the region), and ONLY those partitions rewrite
    * ([[swapClusterPartitions]] — exact even when a cluster empties
    * out). Untouched clusters: one aggregate scan for the drift
    * report, zero writes. Returns the per-cluster report
    * (cluster, drift6, repaired).
    *
    * Scale shape: one postings scan feeding a k×dim-bounded mean
    * aggregate, drift decided on k-sized driver arrays, the rewrite
    * reads + writes only |drifted| partitions.
    *
    * Atomicity: stage-then-swap — the reassigned region lands in a
    * staging dir BEFORE any live partition is touched, then each
    * drifted partition swaps via delete + atomic rename; a crash
    * mid-swap leaves every cluster fully-old or fully-new (recoverable
    * from the staged copy), never duplicated or partial. The centroid
    * file swaps the same way. */
  def ivfRepair(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                threshold: Double, dim: Int = 64,
                grid: Option[Double] = None): DataFrame = {
    val centroids = loadCentroids(spark, indexDir)
    // keep EVERY posting column (meta= indexes carry label columns —
    // a projected rewrite would silently strip them from the repaired
    // partitions and break filtered probes)
    val postings = graft.Caches.track(
      spark.read.parquet(s"$indexDir/postings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // per-cluster re-centered mean — kmeansFrom's round arithmetic on
    // the CURRENT members (build slice + appends)
    val sums = postings.groupBy("cluster")
      .agg(array((0 until dim).map(i =>
        avg(col("ce")(i))): _*).as("centroid"))
      .collect() // k × dim driver state — the loadCentroids bound
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val recentered = centroids.indices.map { i =>
      sums.get(i).fold(centroids(i)) { c0 =>
        val c = grid.fold(c0)(quantizeArr(c0, _))
        val n = math.sqrt(c.map(x => x * x).sum)
        val dn = if (n == 0) c else c.map(_ / n)
        grid.fold(dn)(quantizeArr(dn, _))
      }
    }.toArray
    // grid-snapped unit vectors make the dot EXACT (every term is a
    // multiple of 1/grid², the sum fits 53 bits), so this driver fold
    // equals DuckDB's list_dot_product regardless of association
    val drift6 = centroids.indices.map { i =>
      val dot = centroids(i).zip(recentered(i))
        .map { case (a, b) => a * b }.sum
      math.floor((1.0 - dot) * 1e6 + 0.5) / 1e6
    }
    val drifted = centroids.indices.filter(i => drift6(i) > threshold)
    if (drifted.nonEmpty) {
      val newCents = centroids.indices.map(i =>
        if (drifted.contains(i)) recentered(i) else centroids(i)).toArray
      // local reassignment among the drifted clusters' NEW centroids
      val scored = drifted.map { i =>
        struct(
          graft.functions.DotProduct.dotNative(col("ce"),
            array(newCents(i).map(lit).toIndexedSeq: _*)).as("sim"),
          lit(i).as("cluster"))
      }
      val region = postings
        .filter(col("cluster").isin(drifted.map(Int.box): _*))
        .drop("cluster") // meta columns ride along untouched
        .withColumn("cluster",
          if (scored.size == 1) lit(drifted.head)
          else greatest(scored.toIndexedSeq: _*)("cluster"))
      // stage-then-swap (NOT dynamic partition overwrite: a drifted
      // cluster that receives zero rows after reassignment would keep
      // its stale partition under dynamic overwrite — silent duplicates)
      swapClusterPartitions(spark, indexDir, region, drifted)
      import spark.implicits._
      val stagedCents = s"$indexDir/.stage_cents_" +
        java.util.UUID.randomUUID()
      newCents.zipWithIndex.map { case (cen, i) => (i, cen.toSeq) }.toSeq
        .toDF("cluster", "centroid")
        .coalesce(1).write.parquet(stagedCents)
      val fs = new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/centroids"), true)
      fs.rename(new org.apache.hadoop.fs.Path(stagedCents),
        new org.apache.hadoop.fs.Path(s"$indexDir/centroids"))
      spark.catalog.refreshByPath(s"$indexDir/centroids")
    }
    import spark.implicits._
    centroids.indices
      .map(i => (i, drift6(i), drifted.contains(i)))
      .toDF("cluster", "drift6", "repaired")
  }

  /** FILTERED ANN — "top-k WHERE label = X", the query every production
    * vector store serves (predicate + vector search combined): probe a
    * prebuilt [[ivfBuild]] index whose postings carry metadata columns
    * (`meta = Seq(...)` at build time) and apply the predicate ON THE
    * POSTINGS SCAN, before any distance work. Pre-filtering, not
    * post-filtering: the predicate lands in the parquet scan's
    * PushedFilters (row-group stats skip non-matching postings), the
    * cluster partition pruning from the probe join still applies, and
    * top-k is taken over the SURVIVING candidates — so k results come
    * back (filter-then-rank), not "rank-then-filter" holes. Recall is
    * against the FILTERED brute-force answer; with very selective
    * predicates raise nProbe (the v28 acceptance gate measures this). */
  def ivfProbeFiltered(indexDir: String, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nProbe: Int, pred: Column,
                       grid: Option[Double] = None): DataFrame = {
    val spark = queries.sparkSession
    val centroids = loadCentroids(spark, indexDir)
    val postings = spark.read.parquet(s"$indexDir/postings").filter(pred)
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    ivfRerank(postings, probeClusters(q0, centroids, nProbe), k)
  }

  /** ANN top-k via multi-table hyperplane LSH (the classic L×b scheme):
    * each vector lands in one bucket per table; a pair is a candidate if
    * it collides in ANY table (OR across tables — recall 1−(1−p^b)^L for
    * per-plane agreement p). Candidates get exact cosine re-rank.
    *
    * Scale shape: the corpus explodes ×L into (table, bucket) postings and
    * equi-joins the (broadcast) query postings — shuffle keyed by bucket,
    * never all-pairs. `bits` trades candidate volume against recall;
    * `tables` buys recall linearly in postings. On uniform-random corpora
    * (no similarity structure, like the synthetic fixtures) no sublinear
    * method retains recall — see OpsSpec's planted-cluster recall test for
    * the regime LSH is for. Approximate → rows-only in the driver
    * contract. */
  def annLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, tables: Int = 8, bits: Int = 4,
             dim: Int = 64,
             planesFlat: Option[Array[Double]] = None): DataFrame = {
    // raw vectors + norms: positive scaling preserves hyperplane signs,
    // so buckets come straight from the raw vector and the re-rank is
    // dot/(n1*n2) — no per-element normalization pass anywhere. The
    // corpus projection persists: it feeds the postings AND the
    // post-distinct vector fetch.
    val c = graft.Caches.track(
      DedupOps.withNorm(corpus, idCol, vecCol, "nid", "nid_e", "nid_n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val q = DedupOps.withNorm(queries, idCol, vecCol, "qid", "qe", "qn")
    // buckets staged as a materialized column (codegen'd Project, not
    // interpreted inside Generate)
    def postings(v: DataFrame, id: String): DataFrame = v
      .select(col(id), lshBuckets(col(if (id == "nid") "nid_e" else "qe"),
        tables, bits, dim, planesFlat).as("__bkts"))
      .select(col(id), posexplode(col("__bkts")))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    // distinct over ids ONLY (a colliding pair appears once per shared
    // table): dedup shuffles 16-byte id pairs, not 2×dim-double vectors;
    // vectors rejoin after.
    val cand = postings(c, "nid")
      .join(broadcast(postings(q, "qid")), Seq("table", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
    cand
      .join(c, "nid")
      .join(broadcast(q), "qid")
      .withColumn("sim",
        graft.functions.DotProduct.dotNative(col("nid_e"), col("qe"))
          / (col("nid_n") * col("qn")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))
  }

  /** DETERMINISTIC k-NN GRAPH over an embedding corpus — the
    * construction half of graph-based ANN (the HNSW/NSW family, Malkov
    * & Yashunin 2018): every vector keeps directed edges to its top-`m`
    * cosine neighbors AMONG ITS LSH CANDIDATES. Construction is the
    * banded [[annLsh]] SELF-join — postings explode ×tables, candidate
    * pairs come from a (table, bucket) equi-join, NEVER all-pairs —
    * followed by the exact codegen'd cosine re-rank and a per-node
    * top-m. Ties break (sim DESC, dst ASC); with `planesFlat` from the
    * md5 generator the whole build replays in DuckDB (gate v37). Returns
    * (src, rk, dst, sim) edges.
    *
    * Scale shape: candidate volume per node is bucket occupancy ×
    * tables — tuned by `bits` (each +1 halves buckets' size); pairs come
    * from [[lshPairs]] clustered by src, so the per-node top-m is one
    * Sort and one Window in the task that generated the node's pairs,
    * with nothing shuffled after it. `scoreBlockRows` is about how many
    * src postings each pair-generating task takes. The long-range
    * navigability HNSW gets from its layer hierarchy comes here from
    * multi-table LSH diversity (independent tables collide
    * distant-but-still-similar pairs), which keeps construction one
    * bucketed pass instead of HNSW's inherently sequential inserts.
    *
    * At scale, size `bits` ≈ log2(n / targetOccupancy): the self-join
    * is QUADRATIC in bucket occupancy, so growing the corpus at pinned
    * `bits` grows candidate pairs ~quadratically (measured at the sf1
    * rehearsal: 10× vectors at bits=4 → a 55 s straggler task in the
    * candidate dedup). `bucketCap` is the straggler guard for corpora
    * whose occupancy can't be equalized by bits alone (exact-duplicate
    * vectors share every bucket at ANY bits): each node still SOURCES
    * edges from every bucket it lands in, but only the `cap` smallest
    * ids per (table, bucket) serve as candidate DESTINATIONS — pairs
    * per bucket drop from occ² to occ·cap, deterministic, at the cost
    * of candidate diversity inside oversized buckets (the beam walk's
    * undirected expansion recovers reachability). Default None leaves
    * the build exact (the v37 oracle replays it verbatim). */
  def knnGraphBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    m: Int, tables: Int = 8, bits: Int = 4, dim: Int = 64,
                    planesFlat: Option[Array[Double]] = None,
                    bucketCap: Option[Int] = None,
                    scoreBlockRows: Int = 1024): DataFrame = {
    // one window spec: a pair's copies (one per shared table) carry the
    // identical (sim, dst), so they rank alike and sit next to each
    // other — the first copy is kept, and dense_rank over the copies is
    // row_number over the distinct pairs
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    lshPairs(DedupOps.withNorm(corpus, idCol, vecCol, "id", "e", "n"),
        tables, bits, dim, planesFlat, bucketCap, scoreBlockRows)(_ =!= _)
      .select(col("src"), col("dst"), col("sim"),
        dense_rank().over(w).as("rk"), lag(col("dst"), 1).over(w).as("__pd"))
      .filter(col("rk") <= m
        && (col("__pd").isNull || col("__pd") =!= col("dst")))
      .select(col("src"), col("rk"), col("dst"), col("sim"))
  }

  /** The LSH candidate pairs of a vector frame `v` (id, e, n), scored:
    * every (src, dst) that shares at least one (table, bucket) and
    * satisfies `pair(src, dst)`, with its cosine `sim` (dot-then-divide,
    * DuckDB's formula; NULL for a zero vector). Returns (src, dst, sim).
    * The one pair generator of [[knnGraphBuild]] and
    * [[DedupOps.embeddingNearDup]]; each applies its own final selection
    * (per-src top-m, sim ≥ threshold) to the result and drops a pair's
    * copies.
    *
    * `bucketCap` keeps only the `cap` smallest ids per (table, bucket) as
    * destinations (every id still sources pairs).
    *
    * The vectors and their buckets are one cut: its job hashes the
    * buckets once and counts `nV`, and both posting sides explode from
    * it. The returned frame reads the cut lazily, so its blocks are
    * freed when the frame is garbage-collected, as a pin's are.
    * `nV <= knnBroadcastRows` picks the plan:
    *  - src-clustered (the vectors broadcast): the src postings shuffle
    *    once, by hash(src), about `scoreBlockRows` per task; each task
    *    pairs them with the broadcast dst postings and scores the pairs
    *    against the broadcast vectors. Every pair of a src is made in
    *    that src's task, so a per-src selection runs there and nothing
    *    after it moves (REPOSE's partition-local prune, with the src as
    *    the partition). A pair comes once per (table, bucket) it
    *    shares; every copy carries the identical fixed-order dot.
    *  - keyed (above the limit, where only this plan fits): the (table,
    *    bucket) self-join, candidate pairs deduplicated by id before the
    *    vectors rejoin by key, so each pair comes once. OpsSpec proves
    *    the src-clustered plan against it. */
  private[ops] def lshPairs(v: DataFrame, tables: Int, bits: Int, dim: Int,
                            planesFlat: Option[Array[Double]],
                            bucketCap: Option[Int], scoreBlockRows: Int)(
                            pair: (Column, Column) => Column): DataFrame = {
    // buckets staged as a materialized column (codegen'd Project, not
    // interpreted inside Generate)
    val cut = checkpoint(v.select(col("id"), col("e"), col("n"),
      lshBuckets(col("e"), tables, bits, dim, planesFlat).as("__bkts")))
    def posts(id: String): DataFrame = cut.df
      .select(col("id"), posexplode(col("__bkts")))
      .toDF(id, "table", "bucket")
    val dstPosts = bucketCap.fold(posts("dst"))(cap => posts("dst")
      .withColumn("__or", row_number().over(
        Window.partitionBy("table", "bucket").orderBy("dst")))
      .filter(col("__or") <= cap).drop("__or"))
    def vecs(id: String, e: String, n: String): DataFrame =
      cut.df.select(col("id").as(id), col("e").as(e), col("n").as(n))
    // a zero vector has no cosine: NULL (not an ANSI divide-by-zero
    // error), which sorts last and passes no threshold
    val sim = try_divide(graft.functions.DotProduct.dotNative(col("se"),
      col("de")), col("sn") * col("dn")).as("sim")
    if (cut.rows <= knnBroadcastRows) {
      val width = math.max(
        v.sparkSession.sessionState.conf.numShufflePartitions,
        math.ceil(cut.rows.toDouble * tables / scoreBlockRows).toInt)
      posts("src").repartition(width, col("src"))
        .join(broadcast(vecs("src", "se", "sn")), "src")
        .join(broadcast(dstPosts), Seq("table", "bucket"))
        .filter(pair(col("src"), col("dst")))
        .join(broadcast(vecs("dst", "de", "dn")), "dst")
        .select(col("src"), col("dst"), sim)
    } else {
      posts("src").join(dstPosts, Seq("table", "bucket"))
        .filter(pair(col("src"), col("dst")))
        .select(col("src"), col("dst"))
        .distinct()
        .join(vecs("src", "se", "sn"), "src")
        .join(vecs("dst", "de", "dn"), "dst")
        .select(col("src"), col("dst"), sim)
    }
  }

  /** INCREMENTAL k-NN-graph maintenance — [[ivfAppend]]'s contract for
    * the graph index: absorb a batch of NEW vectors into an existing
    * [[knnGraphBuild]] edge list without re-paying the old↔old
    * candidate work (at a crawl cadence the arriving wave is a sliver
    * of the corpus — rebuild cost must track the wave, the d50
    * argument applied to ANN). New candidate pairs are exactly the LSH
    * collisions INVOLVING a new vector (old→new, new→new, new→old):
    * the old corpus re-posts its buckets once (one codegen'd
    * projection — it never pairs with itself again), the batch posts
    * and joins both ways, and the merged edge list is ONE per-src
    * WindowGroupLimit over (kept old edges ∪ newly scored pairs) —
    * old edges carry their build-time sims, ties break (sim DESC,
    * dst ASC) as everywhere, so the whole append replays in DuckDB
    * (gate v40). `bucketCap` caps the dst side of the new joins the
    * same way the build caps its self-join. Returns the full updated
    * (src, rk, dst, sim) edge list. */
  def knnGraphAppend(edges: DataFrame, corpus: DataFrame,
                     batch: DataFrame, idCol: String, vecCol: String,
                     m: Int, tables: Int = 8, bits: Int = 4,
                     dim: Int = 64,
                     planesFlat: Option[Array[Double]] = None,
                     bucketCap: Option[Int] = None): DataFrame = {
    val all = graft.Caches.track(
      DedupOps.withNorm(corpus.unionByName(batch), idCol, vecCol,
          "id", "e", "n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val newIds = batch.select(col(idCol).as("id"))
    val posts = graft.Caches.track(all
      .select(col("id"),
        lshBuckets(col("e"), tables, bits, dim, planesFlat).as("__b"))
      .select(col("id"), posexplode(col("__b")))
      .toDF("id", "table", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val postsNew = posts.join(newIds, Seq("id"), "left_semi")
    val postsOld = posts.join(newIds, Seq("id"), "left_anti")
    def capped(df: DataFrame): DataFrame = bucketCap.fold(df)(cap => df
      .withColumn("__or", row_number().over(
        Window.partitionBy("table", "bucket").orderBy("id")))
      .filter(col("__or") <= cap).drop("__or"))
    def pairs(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(capped(b).as("b"),
          col("a.table") === col("b.table")
            && col("a.bucket") === col("b.bucket")
            && col("a.id") =!= col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst"))
    val fresh = pairs(posts, postsNew) // old→new ∪ new→new
      .unionByName(pairs(postsNew, postsOld)) // new→old (disjoint)
      .distinct()
    val scored = fresh
      .join(all.select(col("id").as("src"), col("e").as("se"),
        col("n").as("sn")), "src")
      .join(all.select(col("id").as("dst"), col("e").as("de"),
        col("n").as("dn")), "dst")
      .select(col("src"), col("dst"),
        (graft.functions.DotProduct.dotNative(col("se"), col("de"))
          / (col("sn") * col("dn"))).as("sim"))
    edges.select(col("src"), col("dst"), col("sim"))
      .unionByName(scored)
      .withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)))
      .filter(col("rk") <= m)
      .select(col("src"), col("rk"), col("dst"), col("sim"))
  }

  /** BEAM-SEARCH probe of a [[knnGraphBuild]] k-NN graph — the query
    * half of graph-based ANN. Entry points are LSH-SEEDED per query
    * (the NSW-with-seed-index hybrid): the query's bucket collisions
    * under the SAME planes as the build, ranked (collision count DESC,
    * nid ASC), top-`entryK` scored — so every walk starts inside the
    * query's own neighborhood and never depends on the k-NN graph
    * being globally connected (a pure top-m cosine graph over
    * clustered data is one component PER cluster; fixed global entries
    * strand every query outside the entry cluster). The `entryK`
    * smallest node ids are kept as a deterministic backstop for
    * queries with zero collisions. Then `hops` rounds of "expand the
    * current beam's out-edges, score the new nodes, keep the
    * top-`beam` per query" (the batched NSW walk: each hop is ONE
    * keyed join against the edge list + a per-query WindowGroupLimit —
    * no per-query sequential frontier, so the whole query batch
    * advances together). Self-matches are excluded (the v01 contract).
    * Ties break (sim DESC, nid ASC) everywhere, so the walk — and gate
    * v38 — replays in DuckDB hop-for-hop. Returns the final top-`k`:
    * (qid, rk, nid, sim).
    *
    * Scale shape: entry selection is the annLsh candidate join —
    * bucket-occupancy×tables 16-byte id-pair rows per query, counted
    * then pruned to `entryK` BEFORE any vector is touched; per hop the
    * beam frame is |queries|·beam rows, the expansion join is keyed by
    * node id against the (persisted) edge list, scoring joins vectors
    * by id with the query set broadcast. Scored vectors per query ≈
    * 2·entryK + hops·beam·2m (undirected degree ≤ 2m) — independent of
    * corpus size (the point of the graph index); lineage cuts per hop
    * keep the loop linear. */
  def knnGraphSearch(edges: DataFrame, corpus: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, entryK: Int = 4, beam: Int = 8,
                     hops: Int = 3, tables: Int = 8, bits: Int = 4,
                     dim: Int = 64,
                     planesFlat: Option[Array[Double]] = None): DataFrame = {
    val c = graft.Caches.track(
      DedupOps.withNorm(corpus, idCol, vecCol, "nid", "ne", "nn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val q = DedupOps.withNorm(queries, idCol, vecCol, "qid", "qe", "qn")
    // walk the graph UNDIRECTED (out-edges ∪ reversed in-edges — the
    // NSW convention): a directed top-m graph can reach a node's
    // neighbors without being reachable FROM them, stranding exactly
    // the queries whose true neighbors have low in-degree
    val e = graft.Caches.track(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val entryIds = c.select(col("nid")).orderBy("nid").limit(entryK)
      .collect() // ≤ entryK rows — the backstop entry set, bounded
      .map(_.getLong(0))
    // per-query LSH seeds: postings bucket-join (sign buckets are
    // scale-invariant, so the raw cast vectors bucket identically to
    // the corpus), collision-counted, top-entryK ids only — no vector
    // is scored until after the prune
    def posts(df: DataFrame, id: String, vec: String): DataFrame = df
      .select(col(id), lshBuckets(col(vec), tables, bits, dim,
        planesFlat).as("__b"))
      .select(col(id), posexplode(col("__b")))
      .toDF(id, "table", "bucket")
    val seeds = posts(c, "nid", "ne")
      .join(broadcast(posts(q, "qid", "qe")), Seq("table", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(count(lit(1)).as("__cnt"))
      .withColumn("__erk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("__cnt").desc, col("nid").asc)))
      .filter(col("__erk") <= entryK).select("qid", "nid")
    def topBeam(cand: DataFrame): DataFrame = cand
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= beam).drop("rk")
    def scored(ids: DataFrame): DataFrame = ids // (qid, nid) → + sim
      .join(c, "nid").join(broadcast(q), "qid")
      .filter(col("nid") =!= col("qid")) // the query's own corpus row
      .select(col("qid"), col("nid"),
        (graft.functions.DotProduct.dotNative(col("ne"), col("qe"))
          / (col("nn") * col("qn"))).as("sim"))
    var cur = topBeam(scored(q.select(col("qid"))
        .select(col("qid"),
          explode(array(entryIds.map(lit).toIndexedSeq: _*)).as("nid"))
        .unionByName(seeds).distinct()))
      .localCheckpoint(true)
    (1 to hops).foreach { _ =>
      // only NOT-yet-scored nodes score this hop (a node's sim never
      // changes, so cur ∪ scored(new) ≡ distinct-scored(cur ∪ expand))
      val fresh = cur.select(col("qid"), col("nid").as("src"))
        .join(e, "src")
        .select(col("qid"), col("dst").as("nid")).distinct()
        .join(cur.select("qid", "nid"), Seq("qid", "nid"), "left_anti")
      cur = topBeam(cur.unionByName(scored(fresh)))
        .localCheckpoint(true) // beam is |queries|·beam rows; cut per hop
    }
    cur.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))
  }

  /** Semantic dedup capstone (the SemDeDup shape: drop all but one of
    * every group of embedding-near-duplicate documents): candidate pairs
    * above the cosine threshold → connected components → canonical
    * min-id survivor per component. Returns dupClusters' full decision
    * frame `(id, comp, csize, keep)` so callers can either anti-join the
    * drops or audit cluster sizes.
    *
    * Pair generation is the hyperplane-LSH + exact-re-rank plan
    * ([[graft.ops.DedupOps.embeddingNearDup]]): like SemDeDup's
    * within-k-means-cell comparison it never goes all-pairs — candidates
    * come from sign-bucket equi-joins with known recall (≥ 1−9e-4 per
    * threshold-0.5 pair at the defaults) and exact precision, and unlike
    * the cell restriction it is oracle-able against a brute-force +
    * transitive-closure DuckDB query because no k-means state enters the
    * semantics. For the cell-restricted variant compose [[ivfSearch]]'s
    * assignment with a within-cluster pair join instead. Survivor
    * selection is min-label propagation + pointer jumping
    * ([[graft.ops.GraphOps.dupClusters]]) — O(log diameter) keyed joins,
    * no driver graph state. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, tables: Int = 32, bits: Int = 4,
               dim: Int = 64): DataFrame =
    graft.ops.GraphOps.dupClusters(
      DedupOps.embeddingNearDup(df, idCol, vecCol, threshold, tables, bits,
        dim), "id1", "id2")

  /** Per-group centroid + per-vector cosine to its own group centroid —
    * the embedding-space cluster-coherence / outlier score (low sim =
    * candidate mislabel or noise doc).
    *
    * Scale shape: the vector column explodes to (label, pos, v) component
    * rows — a per-partition Generate, no shuffle — and the centroid is ONE
    * partial+final avg keyed (label, pos), bounded by |labels| × dim rows.
    * That bounded frame broadcasts back onto the component rows, and the
    * cosine terms (dot, |v|², |c|²) reduce in a second partial+final agg
    * keyed by the vector id. No vector is ever pairwise with another; the
    * only full-data shuffle is the id-keyed reduction, whose partial
    * aggregation collapses each vector to one row per partition first. */
  def groupCentroidSim(df: DataFrame, idCol: String, vecCol: String,
                       labelCol: String): DataFrame = {
    val ex = df
      .select(col(idCol), col(labelCol),
        col(vecCol).cast("array<double>").as("__e"))
      .select(col(idCol), col(labelCol),
        posexplode(col("__e")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col(labelCol), col("pos"))
      .agg(avg(col("v")).as("c"))
    ex.join(broadcast(cent), Seq(labelCol, "pos"))
      .groupBy(col(idCol), col(labelCol))
      .agg(
        sum(col("v") * col("c")).as("__dot"),
        sum(col("v") * col("v")).as("__nv"),
        sum(col("c") * col("c")).as("__nc"))
      .select(col(idCol), col(labelCol),
        (col("__dot") / sqrt(col("__nv") * col("__nc"))).as("sim"))
  }

  /** Per-label embedding-centroid DRIFT between two deterministic
    * corpus halves (even vs odd ids — a snapshot-vs-snapshot proxy):
    * the cosine between each label's half-A and half-B centroids —
    * the embedding-space drift monitor (an embedder upgrade or a
    * corpus-mix shift shows up as drift_cos < 1 long before task
    * metrics move). Same bounded shape as [[centroidMatrix]]: one
    * partial+final component aggregation (|labels| × 2 × dim rows),
    * then label²-free arithmetic on that frame only. */
  def centroidDrift(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val ex = df
      .select(col(labelCol).as("__lbl"),
        pmod(col(idCol), lit(2)).as("half"),
        col(vecCol).cast("array<double>").as("__e"))
      .select(col("__lbl"), col("half"),
        posexplode(col("__e")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col("__lbl"), col("half"), col("pos"))
      .agg(avg(col("v")).as("c"))
    val a = cent.filter(col("half") === 0)
      .select(col("__lbl"), col("pos"), col("c").as("c1"))
    val b = cent.filter(col("half") === 1)
      .select(col("__lbl"), col("pos"), col("c").as("c2"))
    a.join(b, Seq("__lbl", "pos"))
      .groupBy(col("__lbl").as("label"))
      .agg(sum(col("c1") * col("c2")).as("__dot"),
        sum(col("c1") * col("c1")).as("__n1"),
        sum(col("c2") * col("c2")).as("__n2"))
      .select(col("label"),
        (floor(col("__dot") / sqrt(col("__n1") * col("__n2"))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("drift_cos6"))
  }

  /** Pairwise label-centroid cosine matrix — the "which groups sit close
    * in embedding space" map (topic/source drift monitoring, cluster
    * sanity checks). ONE bounded partial+final component aggregation
    * builds the centroids (|labels| × dim rows); the pairing then runs
    * entirely on that bounded frame (k labels → k(k+1)/2 upper-triangle
    * pairs incl. self, keyed by component position) — corpus vectors are
    * never pairwise joined, so the cost at 100 TB is one centroid
    * aggregation plus label²·dim arithmetic. */
  def centroidMatrix(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame = {
    val ex = df
      .select(col(labelCol).as("__lbl"),
        col(vecCol).cast("array<double>").as("__e"))
      .select(col("__lbl"), posexplode(col("__e")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col("__lbl"), col("pos"))
      .agg(avg(col("v")).as("c"))
    val a = cent.select(col("__lbl").as("l1"), col("pos"),
      col("c").as("c1"))
    val b = cent.select(col("__lbl").as("l2"), col("pos"),
      col("c").as("c2"))
    a.join(b, Seq("pos"))
      .filter(col("l1") <= col("l2"))
      .groupBy("l1", "l2")
      .agg(sum(col("c1") * col("c2")).as("__dot"),
        sum(col("c1") * col("c1")).as("__n1"),
        sum(col("c2") * col("c2")).as("__n2"))
      .select(col("l1"), col("l2"),
        (col("__dot") / sqrt(col("__n1") * col("__n2"))).as("cos"))
  }

  /** Symmetric scalar-quantization scale: the corpus-wide max |coordinate|
    * — ONE posexplode + 1-row max aggregate (order-free, exact in any
    * engine). Symmetric (zero-preserving) scaling is the right int8
    * scheme for dot/cosine search: an affine per-dim min-max grid shifts
    * the origin, and Σ(αx+β)(αy+β) is NOT monotone in Σxy (measured
    * recall 0.06 on the fixtures); q = x·127/s keeps the quantized dot
    * ≈ (127/s)²·dot — monotone up to quantization noise. */
  def sqScale(corpus: DataFrame, vecCol: String): Double =
    corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .agg(max(abs(col("v")))).head() // 1-row bounded scale probe
      .getDouble(0)

  /** int8-style symmetric scalar quantization: each coordinate maps to
    * the −127..127 grid, `floor(x/scale·127 + 0.5)` clamped. Codes are
    * stored as integral DOUBLES so the downstream dot product rides the
    * codegen'd graft_dot unchanged — products ≤ 127²·dim ≪ 2⁵³, so
    * quantized similarity is EXACT integer arithmetic in any IEEE engine
    * (unlike float cosine there is no accumulation drift at all). At
    * 100 TB this is the memory play: 1 byte/dim on the wire and in cache
    * vs 4-byte floats, at a recall cost bounded by the step `scale/127`.
    * The per-row transform is a plain element lambda over the STAGED
    * cast array — interpreted, but a one-time index-build pass
    * (search-side math stays codegen'd). */
  def sqQuantize(corpus: DataFrame, idCol: String, vecCol: String,
                 scale: Double, outId: String, outVec: String): DataFrame = {
    require(scale > 0, "sq scale must be positive")
    corpus
      .select(col(idCol).as(outId),
        col(vecCol).cast("array<double>").as("__e"))
      .select(col(outId), sqCode(col("__e"), scale).as(outVec))
  }

  /** The per-vector symmetric-quantization transform itself (the
    * [[sqQuantize]] body — [[ivfSqSearch]] applies it to already-staged
    * arrays that carry extra columns). */
  private[graft] def sqCode(e: Column, scale: Double): Column =
    transform(e, x =>
      least(lit(127.0), greatest(lit(-127.0),
        floor(x / scale * 127.0 + 0.5))))

  /** The composed 100 TB ANN plan: IVF candidate bounding (each query
    * meets only its nProbe probed clusters' postings) + int8 SQ re-rank
    * (candidates score by the EXACT integer dot of their symmetric
    * codes). This is the memory×compute play FAISS calls IVF-SQ8: the
    * candidate join is the v03 cluster equi-join, the per-pair math is
    * 1-byte-per-dim codes through codegen'd graft_dot, and nothing in
    * the whole pipeline is float-drift-sensitive after the (grid-
    * portable) k-means — so unlike classic ANN the composition stays
    * fully DuckDB-oracleable. One corpus scan (persisted normalized
    * projection feeds k-means, assignment, and the scale probe). */
  def ivfSqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nClusters: Int, nProbe: Int,
                  dim: Int = 64, kmeansIters: Int = 3,
                  grid: Option[Double] = None,
                  cacheKey: Option[String] = None): DataFrame = {
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val centroids = kmeansMemo(cacheKey, v, nClusters, kmeansIters, dim, grid)
    val scale = sqScale(v, "e")
    val posts = assignToCentroids(v, centroids)
      .select(col("id").as("nid"), sqCode(col("e"), scale).as("cq"),
        col("cluster"))
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    val probed = probeClusters(q0, centroids, nProbe)
      .select(col("qid"), sqCode(col("qe"), scale).as("qq"), col("cluster"))
    posts.join(broadcast(probed), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("qdot",
        graft.functions.DotProduct.dotNative(col("cq"), col("qq"))
          .cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("qdot").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("qdot"))
  }

  /** Top-k by quantized dot product: brute-force probe×corpus over the
    * int8 codes (the sanctioned exhaustive baseline, like v01 — compose
    * with IVF buckets for the candidate-bounded scale path). Output
    * `qdot` is the exact integer dot of the codes (long). */
  def sqKnn(qcorpus: DataFrame, qprobes: DataFrame, k: Int): DataFrame = {
    val c = qcorpus.select(col(qcorpus.columns.head).as("nid"),
      col(qcorpus.columns(1)).as("ce"))
    val q = qprobes.select(col(qprobes.columns.head).as("qid"),
      col(qprobes.columns(1)).as("qe"))
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .withColumn("qdot",
        graft.functions.DotProduct.dotNative(col("ce"), col("qe"))
          .cast("long"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("qdot").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("qdot"))
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the vector
    * splits into `m` subspaces of `subDim` dims; each subspace trains
    * its own EUCLIDEAN k-means (`codebook` centroids, plain means — no
    * re-normalization, unlike the spherical [[kmeansFrom]]) over the
    * corpus sub-vectors. Seeds are the first `codebook` vectors by id;
    * assignment maximizes `2·x·c − ‖c‖²` (≡ min distance, ‖x‖² common),
    * ties to the LARGER cluster (the `greatest` struct compare, mirrored
    * by the oracle). With `grid` set, inputs and every iteration's means
    * stay on the dyadic grid, so the whole recurrence is order-free
    * exact (the v03 discipline). Returns m × codebook × subDim. */
  private[graft] def pqTrain(v: DataFrame, m: Int, codebook: Int,
                             iters: Int, subDim: Int,
                             grid: Option[Double]): Array[Array[Array[Double]]] = {
    // seeds: the first `codebook` vectors by id, sliced per subspace —
    // ONE bounded collect serves all m codebooks
    val seedRows = v.orderBy("id").limit(codebook).collect() // k × dim seeds
      .map(_.getSeq[Double](1).toArray)
    var books = Array.tabulate(m)(s =>
      seedRows.map(r => r.slice(s * subDim, (s + 1) * subDim)))
    // each Lloyd round is ONE job: all m subspace assignments ride one
    // scan (m greatest-of-structs inside one staged explode), then ONE
    // partial+final mean aggregation keyed by (subspace, cluster) —
    // m·codebook driver rows per round, never a per-subspace job fleet
    // (the first cut trained the 8 subspaces sequentially: 3×8 tiny
    // jobs whose fixed overhead dominated the bench at 10 s)
    (1 to iters).foreach { _ =>
      val packed = (0 until m).map(s => struct(
        lit(s).as("s"),
        pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s))
          .as("cluster"),
        slice(col("e"), s * subDim + 1, subDim).as("sv")))
      val sums = v
        .select(explode(array(packed: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.cluster").as("cluster"),
          col("x.sv").as("sv"))
        .groupBy("s", "cluster")
        .agg(array((0 until subDim).map(i => avg(col("sv")(i))): _*)
          .as("c"))
        .collect() // m × codebook rows — bounded driver state
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      books = Array.tabulate(m)(s => books(s).indices.map(j =>
          sums.getOrElse((s, j), books(s)(j)))
        .map(c => grid.fold(c)(quantizeArr(c, _))) // plain mean, snapped
        .toArray)
    }
    books
  }

  /** The per-query ADC lookup table: one row per (query, subspace,
    * code) with `v = q_s · c_{s,code}` — |queries| × m × codebook rows,
    * broadcast by both PQ searchers. */
  private def pqLut(q0: DataFrame, books: Array[Array[Array[Double]]],
                    subDim: Int): DataFrame = {
    val lutStructs = for {
      s <- books.indices
      j <- books(s).indices
    } yield struct(lit(s).as("s"), lit(j).as("code"),
      graft.functions.DotProduct.dotNative(
        slice(col("qe"), s * subDim + 1, subDim),
        array(books(s)(j).map(lit).toIndexedSeq: _*)).as("v"))
    q0.select(col("qid"), explode(array(lutStructs: _*)).as("x"))
      .select(col("qid"), col("x.s").as("s"), col("x.code").as("code"),
        col("x.v").as("v"))
  }

  /** Nearest PQ centroid under L2: argmax of `2·x·c − ‖c‖²` (‖x‖² is
    * common) via the same greatest-of-structs compare as
    * [[assignToCentroids]] (ties → larger cluster). On grid values the
    * score is exact, so ties are deterministic and engine-portable. */
  private def pqAssign(sub: Column,
                       book: Array[Array[Double]]): Column = {
    val scored = book.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit).toIndexedSeq: _*)
      val cc = c.map(x => x * x).sum
      struct(
        (graft.functions.DotProduct.dotNative(sub, cl) * 2.0 - cc)
          .as("score"),
        lit(i).as("cluster"))
    }
    greatest(scored.toIndexedSeq: _*)("cluster")
  }

  /** PQ-ADC approximate kNN (the FAISS `PQ` index, asymmetric distance
    * computation): corpus vectors compress to `m` sub-codes (here
    * m × log₂(codebook) bits ≈ 4 bytes for 64 dims — a 64× memory cut
    * vs floats); a query scores a code WITHOUT decompressing, summing a
    * per-query lookup table `LUT[s][j] = q_s · c_{s,j}` over the code's
    * entries — approximate dot, exact given the codes.
    *
    * Plan: train (bounded driver codebooks) → one encode pass (per-row
    * greatest-of-structs per subspace) → codes EXPLODE to (nid, s,
    * code) and join the broadcast (|queries|·m·codebook)-row LUT on
    * (s, code) — a keyed equi-join, never probe×corpus on raw vectors —
    * then one partial+final sum per (qid, nid) and a per-query top-k
    * window. With `grid` set every LUT entry and every ADC sum is exact
    * on the dyadic grid, so the FULL pipeline (training included)
    * hash-matches a DuckDB replay — approximation with a bit-exact
    * oracle, like v03/v09/v10. */
  def pqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, m: Int = 8, codebook: Int = 16,
               kmeansIters: Int = 3, grid: Option[Double] = None,
               cacheKey: Option[String] = None): DataFrame = {
    val dim = corpus.select(size(col(vecCol).cast("array<double>")))
      .head().getInt(0) // 1-row dim probe
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // with a cacheKey, training runs once per (corpus, params) and repeat
    // searches reuse the codebooks — the index-once/probe-many
    // amortization; training is deterministic so hits are bit-identical
    val books = cacheKey.fold(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid))(ck =>
      graft.Caches.memo(s"pqbooks:$ck:$m:$codebook:$kmeansIters:$grid")(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid)))
    // encode: one pass, m greatest-of-structs over staged sub-slices
    val codeCols = (0 until m).map(s =>
      pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s)))
    val codes = v.select(col("id").as("nid"),
        posexplode(array(codeCols: _*)))
      .toDF("nid", "s", "code")
    // per-query LUT: |queries| × m × codebook rows, broadcast
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    pqAdcRank(codes, pqLut(q0, books, subDim), k)
  }

  /** Threshold RANGE search (FAISS `range_search`): every neighbor with
    * cosine ≥ τ, not a fixed top-k — the semantics dedup/recall jobs
    * actually want ("all matches above 0.9", however many). Same
    * sanctioned probe-broadcast × corpus-scan shape as [[knnBruteForce]]
    * but the close is a FILTER, not a heap — no per-query window at
    * all; at scale the same τ filter composes onto IVF candidates. */
  def rangeSearch(corpus: DataFrame, probes: DataFrame, idCol: String,
                  vecCol: String, minSim: Double,
                  grid: Option[Double] = None): DataFrame = {
    val c = normalizedQ(corpus, idCol, vecCol, "nid", "ce", grid)
    val q = normalizedQ(probes, idCol, vecCol, "qid", "qe", grid)
    c.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        graft.functions.DotProduct.dotNative(col("ce"), col("qe"))
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** 1-bit binary quantization (FAISS's binary-flat family): each
    * 64-dim vector compresses to TWO 32-bit sign masks packed in longs —
    * a 32× memory cut, and similarity becomes Hamming distance (xor +
    * popcount), the cheapest possible scan. Packing is exact integer
    * arithmetic over sign tests of identical doubles, so the WHOLE index
    * (codes and ranking) hash-matches a DuckDB replay with no grid. */
  def binaryCodes(df: DataFrame, idCol: String, vecCol: String,
                  idAs: String): DataFrame = {
    val e = col(vecCol).cast("array<double>")
    def pack(lo: Int): Column =
      (0 until 32).map(i =>
        when(element_at(e, lo + i + 1) > 0, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _)
    df.select(col(idCol).as(idAs), pack(0).as("b0"), pack(32).as("b1"))
  }

  /** Brute-force Hamming top-k over [[binaryCodes]] — v01's sanctioned
    * exhaustive shape (bounded probe broadcast × one corpus scan), but
    * each comparison is two xor+popcounts on 16 bytes instead of a
    * 64-dim float dot: the binary index IS the cheap brute force. Ties
    * break to the smaller neighbor id. */
  def hammingKnn(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = corpus.toDF("nid", "b0", "b1")
      .join(broadcast(probes.toDF("qid", "q0", "q1")),
        col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (bit_count(col("b0").bitwiseXOR(col("q0")))
          + bit_count(col("b1").bitwiseXOR(col("q1"))))
          .cast("int").as("ham"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ham").asc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("ham"))
  }

  /** PQ reconstruction distortion — the compression-quality acceptance
    * metric for the v12/v14 codes (FAISS reports it as index training
    * error): per subspace, the mean squared distance between each
    * vector's sub-slice and its assigned codeword. High per-subspace
    * MSE means that subspace's 4 bits are wasted and m/codebook need
    * retuning BEFORE anyone ships the index.
    *
    * Determinism: each per-row distance is x·x − 2·x·c + c·c over three
    * sequential-order [[graft.functions.DotProduct]] sums (bit-identical
    * to the oracle's list_dot_product), snapped to 1e-9-unit BIGINTs —
    * the per-subspace totals are order-free exact integer sums (the e37
    * discipline), so even the MEAN hash-matches. One corpus pass (m
    * staged sub-slices exploded), one broadcast join against the
    * m×codebook codeword table, one partial+final aggregate. */
  def pqDistortion(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int = 8, codebook: Int = 16, kmeansIters: Int = 3,
                   grid: Option[Double] = None,
                   cacheKey: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol).cast("array<double>")))
      .head().getInt(0) // 1-row dim probe
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // same memo key as pqSearch/pqBuild: auditing an index you already
    // trained is free
    val books = cacheKey.fold(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid))(ck =>
      graft.Caches.memo(s"pqbooks:$ck:$m:$codebook:$kmeansIters:$grid")(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid)))
    val packed = (0 until m).map { s =>
      val sub = slice(col("e"), s * subDim + 1, subDim)
      struct(lit(s).as("s"), sub.as("sv"),
        pqAssign(sub, books(s)).as("code"))
    }
    val rows = v.select(explode(array(packed: _*)).as("x"))
      .select(col("x.s").as("s"), col("x.code").as("code"),
        col("x.sv").as("sv"))
    val bookRows = for (s <- 0 until m; j <- books(s).indices)
      yield (s, j, books(s)(j).toSeq)
    val bdf = spark.createDataFrame(bookRows).toDF("s", "code", "cv")
    val dot = graft.functions.DotProduct.dotNative _
    rows.join(broadcast(bdf), Seq("s", "code"))
      .select(col("s"),
        floor((dot(col("sv"), col("sv"))
          - dot(col("sv"), col("cv")) * 2.0
          + dot(col("cv"), col("cv"))) * 1e9 + 0.5).as("d2u"))
      .groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("d2u")).as("sum_d2u"))
      .select(col("s"), col("n"), col("sum_d2u"),
        graft.ops.TextOps.round6(col("sum_d2u").cast("double")
          / col("n").cast("double") / lit(1e9)).as("mse6"))
      .orderBy("s")
  }

  /** The shared PQ-ADC scoring tail: (nid, s, code) rows equi-join the
    * broadcast LUT on (s, code), one partial+final sum closes each
    * (qid, nid) ADC score, a per-query WindowGroupLimit heap keeps k. */
  private def pqAdcRank(codes: DataFrame, lut: DataFrame,
                        k: Int): DataFrame =
    codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(sum(col("v")).as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("adc"))

  /** The shared IVF-PQ scoring tail: cluster-bounded candidates (the
    * broadcast probe join prunes first), THEN the per-subspace code
    * explode fans out only the survivors, LUT-joined per (qid, s, code)
    * and summed to ADC scores with the per-query top-k heap. */
  private def ivfPqRank(posts: DataFrame, probed: DataFrame,
                        lut: DataFrame, k: Int): DataFrame =
    posts.join(broadcast(probed.select("qid", "cluster")), Seq("cluster"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), posexplode(col("codes")))
      .toDF("qid", "nid", "s", "code")
      .join(broadcast(lut), Seq("qid", "s", "code"))
      .groupBy("qid", "nid").agg(sum(col("v")).as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("adc"))

  /** Serialize trained PQ codebooks as a parquet artifact (m × codebook
    * rows of (s, code, centroid) — bounded, single-file). */
  private def writeBooks(spark: org.apache.spark.sql.SparkSession,
                         books: Array[Array[Array[Double]]],
                         dir: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (bk, s) =>
      bk.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toSeq.toDF("s", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a codebook artifact (bounded m × codebook × subDim driver
    * state — the PQ sibling of [[loadCentroids]]). */
  private def loadBooks(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(dir).orderBy("s", "code").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m)(s => rows.filter(_._1 == s).map(_._2))
  }

  /** Build a PQ index ONCE as parquet artifacts under `outDir`: `books`
    * (the m × codebook trained centroids) and `codes` (nid → packed
    * m-entry code array, ~4 bytes of payload per vector at the default
    * 8×16 geometry — the 64× memory cut is what actually persists). A
    * real deployment indexes once and probes thousands of times;
    * [[pqProbe]] reloads the artifacts and never retrains — the
    * amortization [[pqSearch]]'s per-call training cannot offer. */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String,
              outDir: String, m: Int = 8, codebook: Int = 16,
              kmeansIters: Int = 3, grid: Option[Double] = None,
              cacheKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol).cast("array<double>")))
      .head().getInt(0) // 1-row dim probe
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // rebuilds of the same (corpus, params) reuse the trained codebooks
    // (deterministic → bit-identical); the artifacts still write fresh
    val books = cacheKey.fold(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid))(ck =>
      graft.Caches.memo(s"pqbooks:$ck:$m:$codebook:$kmeansIters:$grid")(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid)))
    writeBooks(spark, books, s"$outDir/books")
    val codeCols = (0 until m).map(s =>
      pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s)))
    v.select(col("id").as("nid"), array(codeCols: _*).as("codes"))
      .write.mode("overwrite").parquet(s"$outDir/codes")
  }

  /** Probe a prebuilt [[pqBuild]] index: reload the codebooks (bounded
    * driver state), build the per-query LUT, and score the persisted
    * codes — a broadcast equi-join over 4-byte payloads; the raw corpus
    * vectors are never read again. */
  def pqProbe(indexDir: String, queries: DataFrame, idCol: String,
              vecCol: String, k: Int,
              grid: Option[Double] = None): DataFrame = {
    val spark = queries.sparkSession
    val books = loadBooks(spark, s"$indexDir/books")
    val subDim = books(0)(0).length
    val codes = spark.read.parquet(s"$indexDir/codes")
      .select(col("nid"), posexplode(col("codes")))
      .toDF("nid", "s", "code")
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    pqAdcRank(codes, pqLut(q0, books, subDim), k)
  }

  /** DELETE vectors from a prebuilt [[ivfBuild]] index — the
    * right-to-be-forgotten path that completes the lifecycle (build →
    * probe → append → monitor → repair → DELETE): the delete set joins
    * the postings once to find the TOUCHED cluster partitions (bounded
    * driver list — one row per touched cluster), only those partitions
    * rewrite without the deleted ids (the v32 delete-then-append
    * discipline — exact even when a partition empties), and the
    * centroids stay frozen (deletion never degrades the quantizer; the
    * drift monitor decides re-centering separately). Returns the number
    * of touched cluster partitions. Same atomicity contract as
    * [[ivfRepair]]: the stage-then-swap rewrite — the replacement
    * region is durable on disk before any live partition is touched,
    * and each touched cluster swaps via delete + atomic rename, so a
    * crash mid-swap leaves every cluster either fully-old or fully-new
    * (never duplicated, never partial) with the staged copy available
    * for a re-drive. */
  def ivfDelete(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                deleteIds: DataFrame, idCol: String): Int = {
    val del = broadcast(deleteIds.select(col(idCol).as("nid")))
    val postings = spark.read.parquet(s"$indexDir/postings")
    val touched = postings.join(del, Seq("nid"), "left_semi")
      .select("cluster").distinct()
      .collect().map(_.getInt(0)) // ≤ nClusters rows — bounded driver list
    if (touched.nonEmpty) {
      val kept = postings
        .filter(col("cluster").isin(touched.map(Int.box): _*))
        .join(del, Seq("nid"), "left_anti")
      swapClusterPartitions(spark, indexDir, kept, touched.toIndexedSeq)
    }
    touched.length
  }

  /** Stage-then-swap partition rewrite shared by [[ivfRepair]] and
    * [[ivfDelete]]: write the replacement region to a STAGING dir
    * first (the replacement bytes are durable before any delete — the
    * write also materializes the plan, which reads the very files the
    * swap will remove), then swap each touched cluster partition via
    * delete + atomic rename. A crash mid-swap leaves every cluster
    * either fully-old or fully-new — never duplicated, never partial —
    * and the staging dir keeps the replacement copy for a re-drive;
    * the old delete-then-append window (crash after delete, before
    * append ⇒ region lost) is gone. A touched cluster with NO staged
    * rows (emptied by the rewrite) simply drops. */
  private def swapClusterPartitions(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, region: DataFrame, touched: Seq[Int]): Unit = {
    val stage = s"$indexDir/.stage_${java.util.UUID.randomUUID()}"
    region.write.mode(SaveMode.ErrorIfExists).partitionBy("cluster")
      .parquet(s"$stage/postings")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.foreach { c =>
      val live = new org.apache.hadoop.fs.Path(
        s"$indexDir/postings/cluster=$c")
      val staged = new org.apache.hadoop.fs.Path(
        s"$stage/postings/cluster=$c")
      fs.delete(live, true)
      if (fs.exists(staged)) fs.rename(staged, live)
    }
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    // the swap happened behind Spark's back (a write to the LIVE path
    // would auto-refresh; the staged write targets a different path),
    // so cached plans/persisted frames over the postings path must be
    // refreshed or they keep serving the pre-swap files
    spark.catalog.refreshByPath(s"$indexDir/postings")
  }

  /** Exact REFINE of an approximate shortlist (FAISS IndexRefineFlat —
    * the standard two-stage serving pattern: a compressed index
    * shortlists N candidates cheaply, then the raw vectors re-rank just
    * those N exactly and keep top-k; recall ≈ "is the true neighbor
    * anywhere in the shortlist" instead of "did ADC rank it first").
    * The shortlist frame is (qid, nid) — queries × N rows, tiny — so it
    * BROADCASTS into the corpus's nid equi-join: the corpus contributes
    * only the shortlisted rows, never a scan per query. */
  def refineExact(corpus: DataFrame, queries: DataFrame,
                  shortlist: DataFrame, idCol: String, vecCol: String,
                  k: Int, grid: Option[Double] = None): DataFrame = {
    val c = normalizedQ(corpus, idCol, vecCol, "nid", "ce", grid)
    val q = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    c.join(broadcast(shortlist.select(col("qid"), col("nid"))), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim",
        graft.functions.DotProduct.dotNative(col("ce"), col("qe")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("sim").desc, col("nid").asc)))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"), col("sim"))
  }

  /** Build an IVF-PQ index ONCE under `outDir`: `centroids` (coarse
    * quantizer), `books` (PQ codebooks), and `postings` (nid, codes)
    * PARTITIONED BY coarse cluster — [[ivfBuild]]'s deployment shape
    * with [[pqBuild]]'s compressed payload. Probing reads only the
    * probed clusters' partitions AND only 4-byte codes — the double
    * reduction (cluster bounding × PQ compression) that makes this the
    * FAISS workhorse at 100 TB. */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 outDir: String, nClusters: Int = 16, m: Int = 8,
                 codebook: Int = 16, kmeansIters: Int = 3,
                 grid: Option[Double] = None,
                 cacheKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol).cast("array<double>")))
      .head().getInt(0) // 1-row dim probe
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // rebuilds of the same (corpus, params) reuse both trainings
    val coarse = cacheKey.fold(
        kmeansFrom(v, nClusters, kmeansIters, dim, grid))(ck =>
      graft.Caches.memo(s"ivfcoarse:$ck:$nClusters:$kmeansIters:$grid")(
        kmeansFrom(v, nClusters, kmeansIters, dim, grid)))
    val books = cacheKey.fold(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid))(ck =>
      graft.Caches.memo(s"pqbooks:$ck:$m:$codebook:$kmeansIters:$grid")(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid)))
    import spark.implicits._
    coarse.zipWithIndex.map { case (cen, i) => (i, cen.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/centroids")
    writeBooks(spark, books, s"$outDir/books")
    val codeCols = (0 until m).map(s =>
      pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s)))
    assignToCentroids(v, coarse)
      .select(col("id").as("nid"), col("cluster"),
        array(codeCols: _*).as("codes"))
      .repartition(col("cluster")) // one file per cluster (the §6 rule)
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$outDir/postings")
  }

  /** Append a new vector batch to a prebuilt [[ivfPqBuild]] index
    * AGAINST THE FROZEN coarse centroids and codebooks — the
    * [[ivfAppend]] maintenance contract extended to the compressed
    * index: no retraining, no corpus rewrite, the new postings land in
    * their clusters' partitions (an appended parquet file each). The
    * appended codes quantize exactly like build-time codes, so a probe
    * cannot tell appended vectors from built ones. */
  def ivfPqAppend(indexDir: String, batch: DataFrame, idCol: String,
                  vecCol: String, grid: Option[Double] = None): Unit = {
    val spark = batch.sparkSession
    val coarse = loadCentroids(spark, indexDir)
    val books = loadBooks(spark, s"$indexDir/books")
    val subDim = books(0)(0).length
    val m = books.length
    val v = normalizedQ(batch, idCol, vecCol, "id", "e", grid)
    val codeCols = (0 until m).map(s =>
      pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s)))
    assignToCentroids(v, coarse)
      .select(col("id").as("nid"), col("cluster"),
        array(codeCols: _*).as("codes"))
      .repartition(col("cluster")) // one appended file per touched cluster
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$indexDir/postings")
  }

  /** Probe a prebuilt [[ivfPqBuild]] index: reload centroids + codebooks
    * (both bounded driver state), rank each query's nProbe nearest
    * coarse clusters, and ADC-score only the probed partitions' codes —
    * no retraining, no corpus re-read, partition-pruned scan. */
  def ivfPqProbe(indexDir: String, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, nProbe: Int = 4,
                 grid: Option[Double] = None): DataFrame = {
    val spark = queries.sparkSession
    val coarse = loadCentroids(spark, indexDir)
    val books = loadBooks(spark, s"$indexDir/books")
    val subDim = books(0)(0).length
    val posts = spark.read.parquet(s"$indexDir/postings")
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    ivfPqRank(posts, probeClusters(q0, coarse, nProbe),
      pqLut(q0, books, subDim), k)
  }

  /** IVF-PQ — the FAISS workhorse index, composed from the two pieces
    * this engine already carries: the coarse spherical-k-means cluster
    * bounding of [[ivfSearch]] (each query meets only its `nProbe`
    * probed clusters' postings) with [[pqSearch]]'s 4-byte codes +
    * per-query LUT scoring the survivors (candidates never touch raw
    * vectors). One corpus pass emits BOTH the coarse assignment and the
    * PQ codes; the candidate join is the v03 cluster equi-join; the ADC
    * explode runs AFTER candidate bounding, so it fans out nProbe-sized
    * candidate sets, not the corpus. With `grid` set the entire double
    * recurrence — coarse k-means, codebooks, LUT, ADC — is exact on the
    * dyadic grid and the composed index hash-matches its DuckDB
    * replay. */
  def ivfPqSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nClusters: Int = 16,
                  nProbe: Int = 4, m: Int = 8, codebook: Int = 16,
                  kmeansIters: Int = 3, grid: Option[Double] = None,
                  cacheKey: Option[String] = None): DataFrame = {
    val dim = corpus.select(size(col(vecCol).cast("array<double>")))
      .head().getInt(0) // 1-row dim probe
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val v = graft.Caches.track(
      normalizedQ(corpus, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // index-once/probe-many: with a cacheKey both training passes
    // (coarse centroids + PQ codebooks) memoize per (corpus, params)
    val coarse = cacheKey.fold(
        kmeansFrom(v, nClusters, kmeansIters, dim, grid))(ck =>
      graft.Caches.memo(s"ivfcoarse:$ck:$nClusters:$kmeansIters:$grid")(
        kmeansFrom(v, nClusters, kmeansIters, dim, grid)))
    val books = cacheKey.fold(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid))(ck =>
      graft.Caches.memo(s"pqbooks:$ck:$m:$codebook:$kmeansIters:$grid")(
        pqTrain(v, m, codebook, kmeansIters, subDim, grid)))
    val codeCols = (0 until m).map(s =>
      pqAssign(slice(col("e"), s * subDim + 1, subDim), books(s)))
    // ONE corpus pass: coarse cluster + all m codes
    val posts = assignToCentroids(v, coarse)
      .select(col("id").as("nid"), col("cluster"),
        array(codeCols: _*).as("codes"))
    val q0 = normalizedQ(queries, idCol, vecCol, "qid", "qe", grid)
    ivfPqRank(posts, probeClusters(q0, coarse, nProbe),
      pqLut(q0, books, subDim), k)
  }

  /** Uncentered top principal component (dominant eigenvector of the
    * second-moment matrix G = (1/n)·Σ x xᵀ) by power iteration — the
    * embedding-space "main axis" a corpus datasheet or whitening pass
    * wants. Returns (component, Rayleigh eigenvalue).
    *
    * Scale shape: the ONLY data-sized work is one pass building G — a
    * double posexplode fan-out (dim² products per row, purely
    * per-partition) into a partial+final aggregate keyed by (i, j), so
    * the shuffle and the driver state are dim²-bounded (64-dim → 4096
    * cells) regardless of corpus size. The `iters` power steps then run
    * on the driver over that bounded matrix — O(dim²) each, no cluster
    * round-trips — and projection back onto the corpus is one codegen'd
    * dot per row. 100 TB costs exactly one shuffle of ≤ dim² rows per
    * partition.
    *
    * Determinism (the d20/v03 discipline, composed): with `grid` set the
    * normalized inputs sit on the dyadic grid, so every Gram cell is an
    * ORDER-FREE exact sum (products are multiples of 1/g² within 53
    * bits); each power step snaps its matvec and its normalized vector
    * to the 1e-9 floor grid, so the ≤1e-13 association drift between
    * this driver loop and an external engine's aggregate ordering
    * cannot compound across iterations. */
  def pcaPower(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               iters: Int,
               grid: Option[Double] = None): (Array[Double], Double) = {
    def snap9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    val v = graft.Caches.track(
      normalizedQ(df, idCol, vecCol, "id", "e", grid)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nRows = v.count().toDouble
    val cells = v
      .select(col("e"), posexplode(col("e")))
      .toDF("e", "i", "xi")
      .select(col("i"), col("xi"), posexplode(col("e")))
      .toDF("i", "xi", "j", "xj")
      .groupBy("i", "j")
      .agg(sum(col("xi") * col("xj")).as("s"))
      .collect() // dim² rows — bounded driver state
    val G = Array.ofDim[Double](dim, dim)
    cells.foreach(r => G(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / nRows)
    def matvecSnapped(w: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += G(i)(j) * w(j); j += 1 }
        snap9(s)
      }
    var w = Array.fill(dim)(1.0 / dim)
    (1 to iters).foreach { _ =>
      val t = matvecSnapped(w)
      val nrm = math.sqrt(t.map(x => x * x).sum)
      w = if (nrm == 0) t else t.map(x => snap9(x / nrm))
    }
    val gw = matvecSnapped(w)
    val lambda = (0 until dim).map(i => w(i) * gw(i)).sum
    (w, lambda)
  }
}
