package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import GraphOps.hintIfSmall
import org.apache.spark.sql.graftbridge.CheckpointBridge.{checkpoint, pin}

/** Deduplication for large-scale training-data pipelines: exact (hash
  * groupBy), n-gram Jaccard near-dup (inverted shingle index), MinHash+LSH
  * banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design (the point — these must survive 100 TB):
  *  - NOTHING is ever pairwise over the whole corpus. Candidate pairs come
  *    from equi-joins on shingles / LSH bands / simhash bands, so the only
  *    shuffles are keyed by those buckets and skew is bounded by
  *    [[maxShingleDocFreq]]-style stop-shingle capping.
  *  - Exact dedup is one hash aggregation (partial+final) on a fingerprint;
  *    survivors are min(id) per group — no window, no sort.
  *  - MinHash signatures are computed per-row from the shingle array with
  *    pure expressions (xxhash64 + affine rehash), so signature generation
  *    is a projected scan.
  */
object DedupOps {

  /** Spread a narrow (id, text) projection across the session's shuffle
    * width, hash-partitioned by `key`: compacted/small files give the
    * heavy per-row Generate stages (tokenize / shingle / hash explodes)
    * only as many tasks as input SPLITS — observed locally as a whole
    * corpus shingled on one task. Unconditional keyed repartition (no
    * `.rdd` partition-count probe — materializing the RDD finalizes
    * physical planning and, on a post-shuffle frame, eagerly executes the
    * upstream stages under AQE).
    *
    * The rule for using it: the exchange moves the raw text of every
    * document, so keep it only where a downstream id-keyed operator
    * reuses its hash(id) layout — the ExactSubstr rebuild join, or an
    * explode + aggregate keyed by id. Where nothing downstream is keyed
    * by id (per-row signature projections, postings joined on a gram or
    * band key), or the frame is pinned (a pin drops the layout), it is a
    * corpus-sized exchange for nothing: project the narrow columns and
    * let the scan's own splits carry the work. */
  private[graft] def spread(df: DataFrame, key: String): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(width, col(key))
  }

  /** Survivor (min id) + group size per exact-content group, keyed by the
    * normalized-text md5 fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dups"))

  /** Exact dedup on arbitrary key columns: survivor id + duplicate count. */
  def exactDedupBy(df: DataFrame, idCol: String, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("dups"))

  /** Benchmark decontamination: training docs sharing ≥ `minShared`
    * distinct word-`n`-grams with a benchmark doc, with the containment
    * ratio shared/|benchmark n-grams| (the standard "is this eval question
    * in the training set" test).
    *
    * Scale shape — the asymmetry is the whole design: the corpus is 100 TB
    * but a benchmark suite is thousands of docs, so the benchmark's
    * exploded n-gram postings BROADCAST and the corpus side is a single
    * projected scan + map-side join + partial aggregation. The corpus is
    * never shuffled by n-gram; the only exchange carries (train_id,
    * bench_id) partial counts. */
  def ngramContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         minShared: Int = 1): DataFrame = {
    // hashed-gram postings (graft_shingle_hashes): the output never exposes
    // the gram text, so the join key is an 8-byte long, not the gram string
    def postings(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol).as(out),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("__shs"))
      .select(col(out), explode(col("__shs")).as("sh"))
    val b = graft.Caches.track(postings(benchmark, "bench_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bsizes = b.groupBy("bench_id").agg(count(lit(1)).as("bn"))
    postings(corpus, "train_id")
      .join(broadcast(b), "sh")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(bsizes), "bench_id")
      .withColumn("containment",
        col("n_shared").cast("double") / col("bn").cast("double"))
      .select(col("train_id"), col("bench_id"), col("n_shared"),
        col("containment"))
  }

  /** ASYMMETRIC n-gram containment pairs: ordered (contained,
    * container) doc pairs where `|A ∩ B| / |A| ≥ tau` — the
    * partial-copy detector Jaccard structurally misses (a paragraph
    * quoted inside a much longer doc has tiny Jaccard but containment
    * ≈ 1). Both directions of every intersecting pair are screened, so
    * A⊂B and B⊂A are distinct rows. Same postings discipline as
    * [[jaccardPairs]]: one shingle pass, keyed equi-join on 8-byte
    * gram hashes, never all-pairs; containment is one exact-integer
    * division on the 6dp floor grid. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, tau: Double): DataFrame = {
    val sh = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"), explode(
          graft.functions.ShingleHashes.shingleHashes(col("__txt"), n))
          .as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_in"), col("b.id").as("id_of"))
      .agg(count(lit(1)).as("i"))
    val cont = col("i").cast("double") / col("nsh").cast("double")
    inter
      .join(sizes.withColumnRenamed("id", "id_in"), "id_in")
      .filter(cont >= tau)
      .select(col("id_in"), col("id_of"), col("i").as("n_shared"),
        col("nsh"), TextOps.round6(cont).as("containment6"))
  }

  /** MinHash ESTIMATOR CALIBRATION — the d04 acceptance metric (what
    * v16's recall is to the IVF index): for every exact near-dup pair,
    * the k-lane minhash Jaccard estimate (agreeing lanes / k) next to
    * the exact Jaccard and the absolute error — how much banding-side
    * resolution the chosen k actually buys. Lanes here use the
    * ENGINE-PORTABLE md5 hash ([[portableHash60]] over "shingle_lane"),
    * so the whole estimator replays in DuckDB (production signatures
    * keep the faster xxhash64 in the compiled per-row
    * [[graft.functions.MinHash]] kernel — [[minHashSigsFrom]]; the
    * estimator algebra is identical).
    *
    * Scale shape: one shingle pass, spread by id so the k md5
    * min-aggregates fold in ONE HashAggregate keyed by id on that layout
    * (md5 lanes have no per-row kernel), the exact pair generator is
    * [[jaccardPairs]] (inverted index, never all-pairs), and the
    * signature join fans out only the pair frame. */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         n: Int, k: Int,
                         threshold: Double): DataFrame = {
    val sh = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"),
          // codegen'd gram-TEXT extractor (bit-identical to the
          // declarative shingle chain; the md5 lanes need gram strings)
          graft.functions.ShingleText.shingleText(col("__txt"), n)
            .as("shs"))
        .filter(size(col("shs")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ex = sh.select(col("id"), explode(col("shs")).as("s"))
    val lanes = (0 until k).map(i =>
      min(portableHash60(concat_ws("_", col("s"), lit(i.toString))))
        .as(s"__m$i"))
    val sig = ex.groupBy("id").agg(lanes.head, lanes.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
    val pairs = jaccardPairs(df, idCol, textCol, n, threshold)
    val est = col("agree").cast("double") / lit(k.toDouble)
    pairs
      .join(sig.select(col("id").as("id1"), col("sig").as("g1")), "id1")
      .join(sig.select(col("id").as("id2"), col("sig").as("g2")), "id2")
      .withColumn("agree",
        size(filter(zip_with(col("g1"), col("g2"), (a, b) => a === b),
          x => x)))
      .select(col("id1"), col("id2"),
        TextOps.round6(col("jaccard")).as("exact6"),
        TextOps.round6(est).as("est6"),
        TextOps.round6(abs(est - col("jaccard"))).as("err6"))
  }

  /** LSH banding tuning curve — [[minhashNearDup]]'s (bands, rows) knob
    * swept over one shared signature set: per band count, how many
    * candidate pairs the banding generates (the verification cost) and
    * what fraction of the TRUE ≥τ pairs it reaches (the recall — the
    * s-curve every LSH deployment is tuned on; more bands = more
    * candidates = higher recall). Candidates join on the band SLICE
    * value itself (portable — no bandhash), signatures are the
    * md5-portable lanes of [[minhashCalibration]], so the whole sweep
    * is DuckDB-oracled.
    *
    * Scale shape: ONE signature aggregation (k conditional mins in one
    * HashAggregate), per-tier band equi-joins (never all-pairs), true
    * pairs from the persisted [[jaccardPairs]] postings; per-tier
    * totals are bounded driver scalars. */
  def lshBandCurve(df: DataFrame, idCol: String, textCol: String,
                   n: Int, k: Int, bandCounts: Seq[Int],
                   threshold: Double): DataFrame = {
    require(bandCounts.nonEmpty && bandCounts.forall(b => b >= 1 && k % b == 0),
      s"every band count must divide k=$k")
    val sh = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"),
          // codegen'd gram-TEXT extractor (bit-identical to the
          // declarative shingle chain; the md5 lanes need gram strings)
          graft.functions.ShingleText.shingleText(col("__txt"), n)
            .as("shs"))
        .filter(size(col("shs")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ex = sh.select(col("id"), explode(col("shs")).as("s"))
    val lanes = (0 until k).map(i =>
      min(portableHash60(concat_ws("_", col("s"), lit(i.toString))))
        .as(s"__m$i"))
    val sig = graft.Caches.track(ex.groupBy("id")
      .agg(lanes.head, lanes.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val truePairs = graft.Caches.track(
      jaccardPairs(df, idCol, textCol, n, threshold)
        .select("id1", "id2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nTrue = truePairs.count() // bounded: the ≥τ pair set
    // recall = nHit/nTrue: with an empty true-pair corpus the Scala
    // division yields NaN while DuckDB's yields NULL — fail loudly
    // instead of diverging from the oracle.
    require(nTrue > 0,
      s"lshBandCurve: no true pairs at threshold=$threshold — " +
        "recall is undefined; lower the threshold or widen the corpus")
    // ALL tiers from ONE candidate join (r16): a pair agreeing on a
    // full r-lane band slice agrees on each constituent lane, so the
    // single-lane (b = k) candidate set is a SUPERSET of every coarser
    // tier's — generate it once (the k-band join was already the most
    // expensive tier of the old per-tier loop), attach both signatures
    // and the true-pair flag, and score every tier's band agreement as
    // ONE aggregation row of slice-equality sums (per tier it counts
    // exactly the pairs the old per-tier band join surfaced).
    val banded16 = sig.select(col("id"), posexplode(col("sig")))
      .toDF("id", "band", "bs")
    val flagged = banded16.as("a").join(banded16.as("b"),
        col("a.band") === col("b.band") && col("a.bs") === col("b.bs")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
      .join(sig.select(col("id").as("id1"), col("sig").as("g1")), "id1")
      .join(sig.select(col("id").as("id2"), col("sig").as("g2")), "id2")
      .join(truePairs.withColumn("__t", lit(1)), Seq("id1", "id2"), "left")
    val tierCols = bandCounts.flatMap { b =>
      val r = k / b
      val hit = (0 until b).map(i =>
          slice(col("g1"), i * r + 1, r) === slice(col("g2"), i * r + 1, r))
        .reduce(_ || _)
      Seq(sum(when(hit, 1L).otherwise(0L)).as(s"__c$b"),
        sum(when(hit && col("__t").isNotNull, 1L).otherwise(0L))
          .as(s"__h$b"))
    }
    val one = flagged.agg(tierCols.head, tierCols.tail: _*).head()
    val rows = bandCounts.zipWithIndex.map { case (b, ix) =>
      val nCand = if (one.isNullAt(2 * ix)) 0L else one.getLong(2 * ix)
      val nHit =
        if (one.isNullAt(2 * ix + 1)) 0L else one.getLong(2 * ix + 1)
      (b, nCand, nHit, nTrue,
        math.floor(nHit.toDouble / nTrue.toDouble * 1e6 + 0.5) / 1e6)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("bands", "n_candidates", "n_hits", "n_true", "recall6")
  }

  /** Per-document n-gram NOVELTY against the id-ordered corpus: the
    * fraction of a doc's distinct n-grams whose FIRST occurrence
    * (minimum doc id) is the doc itself — the "does this doc add
    * anything" score an incremental-crawl curator ranks by (1 = all
    * fresh content, 0 = pure recombination of earlier grams).
    *
    * Scale shape: hashed-gram postings (8-byte longs, never gram text),
    * one min-id aggregation keyed by gram, one join back keyed by gram,
    * one per-doc count aggregation — the d03/d09 posting discipline;
    * the corpus is never shuffled by anything wider than the gram hash.
    * Novelty is one exact-integer division on the 6dp grid. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val posts = graft.Caches.track(
      spread(df.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("id"),
          graft.functions.ShingleHashes.shingleHashes(col(textCol), n)
            .as("__shs"))
        .select(col("id"), explode(col("__shs")).as("sh"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val firsts = posts.groupBy("sh").agg(min(col("id")).as("fid"))
    posts.join(firsts, "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fid") === col("id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("id").as(idCol), col("n_grams"), col("n_novel"),
        TextOps.round6(col("n_novel").cast("double")
          / col("n_grams").cast("double")).as("novelty6"))
  }

  /** Cross-document REPEATED n-gram COVERAGE — the position-level
    * boilerplate signal behind substring-granular training-data dedup
    * (ref: "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, at gram granularity): per document, the fraction
    * of token positions covered by at least one n-gram that also occurs
    * in ANOTHER document. 0 = fully original text, 1 = every token
    * inside cross-doc template material — the curation knob pair mining
    * (d03) can't see, because coverage is per-position, not per-pair.
    *
    * NOT [[dupSpanFraction]] (d15): that statistic is the share of gram
    * OCCURRENCES whose gram is shared (overlapping grams each count, so
    * one shared sentence inflates it n-fold); this one merges the
    * overlapping windows with an interval-union sweep and reports the
    * fraction of TEXT inside any shared window — Lee et al.'s "fraction
    * of tokens in duplicated substrings", the number you act on when
    * deciding how much of a doc to cut.
    *
    * Scale shape: positional gram postings keyed by the md5-portable
    * 60-bit gram hash (the grams come from the codegen'd
    * `graft_ngram_text` pass; the hash stays md5 so the DuckDB oracle
    * replays it — xxhash64 keys would break cross-engine equality), one
    * hash-keyed distinct-doc aggregate, one hash-keyed semi-join back,
    * then a per-doc interval-union sweep as ONE keyed window (running
    * max of exclusive ends). Nothing shuffles wider than (hash) or
    * (doc); never all-pairs. */
  def repeatedNgramCoverage(df: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"),
          graft.functions.NgramText.ngramText(col("__txt"), n).as("__gs"),
          size(TextOps.tokens(col("__txt"))).as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val posts = graft.Caches.track(base
      .select(col("id"), posexplode(col("__gs")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        portableHash60(col("col")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val shared = posts.groupBy("h")
      .agg(count_distinct(col("id")).as("__cd"))
      .filter(col("__cd") >= 2)
      .select("h")
    val prevEnd = max(col("e")).over(
      W.partitionBy("id").orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1))
    val cov = posts.join(shared, Seq("h"), "left_semi")
      .withColumn("e", col("pos") + n)
      .withColumn("__pme", prevEnd)
      .withColumn("__c", greatest(lit(0L),
        col("e") - greatest(col("pos"), coalesce(col("__pme"), lit(0L)))))
      .groupBy("id").agg(sum(col("__c")).as("covered"))
    base.select(col("id"), col("n_tokens"))
      .join(cov, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        TextOps.round6(coalesce(col("covered"), lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1)).cast("double")).as("cov6"))
  }

  /** Surgical cross-doc repeated-SPAN removal — the curation ACTION on
    * [[repeatedNgramCoverage]]'s metric (Lee et al. 2022: dedup the
    * substring, keep the document — where p23's trim drops whole docs,
    * this cuts only the template material): every token position inside
    * an n-gram that also occurs in ANOTHER doc is removed; the doc
    * survives as its unique remainder. Returns
    * (id, n_tokens, kept, clean_text).
    *
    * Same scale shape as the coverage metric: hash-keyed positional
    * postings (codegen'd gram extraction + the md5-portable 60-bit
    * hash), one distinct-doc count per gram, covered positions by a
    * bounded ×n explode (never per-pair work), and reassembly as ONE
    * keyed sort+join aggregate — no windows, no self-joins. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame = {
    val base = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"),
          graft.functions.NgramText.ngramText(col("__txt"), n).as("__gs"),
          TextOps.tokens(col("__txt")).as("__ts"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val posts = graft.Caches.track(base
      .select(col("id"), posexplode(col("__gs")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        portableHash60(col("col")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val shared = posts.groupBy("h")
      .agg(count_distinct(col("id")).as("__cd"))
      .filter(col("__cd") >= 2)
      .select("h")
    val covered = posts.join(shared, Seq("h"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    rebuildWithoutCovered(base, covered, idCol)
  }

  /** Shared reassembly tail of [[removeRepeatedSpans]] and
    * [[exactSubstrDedup]]: drop every (id, p) token position in
    * `covered` and rebuild each doc's surviving text. `base` carries
    * (id, __ts tokens). Returns (id→idCol, n_tokens, kept, clean_text).
    *
    * r17 shape (§2.3 shuffle the proxy, §4 compiled kernel): the old
    * body posexploded EVERY token (×|tokens| rows), anti-joined the
    * covered positions by (id, p) and re-assembled each doc with
    * `array_sort(collect_list(struct))` — two token-count-sized
    * exchanges plus a per-doc sort, per call, when the token arrays are
    * ALREADY staged in `base`. Aggregate the covered set instead: one
    * |covered|-row exchange builds each touched doc's sorted
    * covered-position array, an id-keyed join attaches it to `base`
    * (shuffle-hash hinted — the build side is ≤ |touched docs| rows, and
    * an SMJ would sort the heavy token arrays), and the codegen'd
    * [[graft.functions.CutTokens]] walks tokens + positions once per doc.
    * Bit-identical output (OpsSpec proves it against the old shape):
    * same tokens in the same order under the same " " join, and
    * kept = |tokens| − |covered| because every covered position is a
    * real token position (window starts ≤ T−k, spans end at T−1) and
    * `collect_set` dedups the (id, p) multiset the old anti-join was
    * insensitive to. Docs with no covered rows keep their full text
    * (coalesce to the empty covered array). */
  private[graft] def rebuildWithoutCovered(base: DataFrame, covered: DataFrame,
                                    idCol: String): DataFrame = {
    val covAgg = covered.groupBy("id")
      .agg(sort_array(collect_set(col("p"))).as("__cov"))
    base.join(covAgg.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("__ts"),
        coalesce(col("__cov"), lit(Array.empty[Long])).as("__cov2"))
      .select(col("id").as(idCol),
        size(col("__ts")).cast("long").as("n_tokens"),
        coalesce((size(col("__ts")) - size(col("__cov2"))).cast("long"),
          lit(0L)).as("kept"),
        coalesce(graft.functions.CutTokens.cut(col("__ts"), col("__cov2")),
          lit("")).as("clean_text"))
  }

  /** EXACT-SUBSTRING dedup at suffix-array granularity — the heavy
    * curation pass of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better", §4.1 ExactSubstr; ref: the paper,
    * not the repo — pontem has no dedup at all): remove every token
    * that sits inside a ≥`k`-token substring occurring VERBATIM in
    * another document. A shared substring of length L ≥ k contains
    * exactly L−k+1 shared k-token windows whose positional union IS the
    * substring, so sorted-window fingerprinting reproduces the
    * suffix-array answer without building one: hash every k-token
    * window, group by hash, VERIFY candidate groups by re-comparing the
    * actual window text (the suffix-array's lexicographic neighbors
    * become hash-group members; collisions die in the verify), take the
    * per-doc interval union of verified windows, cut those positions
    * ([[removeRepeatedSpans]]' surgical tail — the doc survives as its
    * unique remainder). Returns (id, n_tokens, kept, clean_text).
    *
    * Distributed shape (never all-pairs, no suffix array's global
    * sort): pass 1 shuffles ONLY 8-byte window hashes keyed by hash —
    * the corpus-wide screen; pass 2 re-derives window TEXT on a second
    * codegen'd scan and semi-joins it down to the candidate sliver
    * BEFORE any string shuffles, then verifies groups by grouping on
    * the text itself (re-comparison within groups, never across);
    * coverage is a bounded ×k explode of the verified sliver. At
    * 100 TB: screen cost ≈ one shuffle of |corpus|·(tokens/doc) longs,
    * verify cost ∝ the duplicated sliver only. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val base = substrBase(df, idCol, textCol, k)
    rebuildWithoutCovered(base, substrCovered(base, substrPosts(base), k),
      idCol)
  }

  /** Staged (id, k-token windows, tokens) frame of [[exactSubstrDedup]]
    * and its incremental siblings — heavy arrays materialized in a
    * Project before any Generate consumes them. Persisted for the batch
    * callers, spread by id: their rebuild join is keyed by id and reuses
    * the layout. [[exactSubstrIncremental]] pins the bare plan instead
    * (a pin drops any layout, so a spread there would be a wasted
    * exchange). */
  private def substrBase(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = graft.Caches.track(
    substrBasePlan(spread(substrDocs(df, idCol, textCol), "id"), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The (id, __txt) projection [[substrBasePlan]] reads. */
  private def substrDocs(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("__txt"))

  private def substrBasePlan(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("id"),
      graft.functions.NgramText.ngramText(col("__txt"), k).as("__gs"),
      TextOps.tokens(col("__txt")).as("__ts"))

  /** (id, pos, h) window-hash postings — 8-byte fingerprints only, the
    * screen-pass payload (and the INDEX artifact's rows). */
  private def substrPosts(base: DataFrame): DataFrame = base
    .select(col("id"), posexplode(col("__gs")))
    .select(col("id"), col("pos").cast("long").as("pos"),
      portableHash60(col("col")).as("h"))

  /** Screen + verify over one corpus: candidate hashes by distinct-doc
    * count ≥ 2, text re-verification WITHIN candidate groups, covered
    * positions as the bounded ×k explode of the verified sliver. */
  private def substrCovered(base: DataFrame, posts: DataFrame,
                            k: Int): DataFrame = {
    // pass 1 — hash screen: shared window hashes by distinct-doc count
    val cand = posts.groupBy("h")
      .agg(count_distinct(col("id")).as("__cd"))
      .filter(col("__cd") >= 2)
      .select("h")
    // pass 2 — verify: re-derive window text (staged Project before the
    // explode — the Generate lesson), keep only candidate-hash rows,
    // then require the TEXT itself to span ≥2 docs
    val grams = substrGrams(base, cand) // ONE persisted sliver, read twice
    val verified = grams.groupBy("h", "g")
      .agg(count_distinct(col("id")).as("__cd"))
      .filter(col("__cd") >= 2)
      .select("h", "g")
    substrCoverage(grams, verified, k)
  }

  /** Candidate-sliver (id, pos, g, h) gram rows: window TEXT re-derived
    * on a second codegen'd scan and semi-joined down BEFORE any string
    * shuffles. Persisted — the verify pass reads it twice (group + semi). */
  private def substrGrams(base: DataFrame, cand: DataFrame): DataFrame =
    graft.Caches.track(substrGramsPlan(base, cand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def substrGramsPlan(base: DataFrame, cand: DataFrame): DataFrame =
    base
      .select(col("id"), posexplode(col("__gs")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        col("col").as("g"), portableHash60(col("col")).as("h"))
      .join(cand, Seq("h"), "left_semi")

  /** Verified-window positional union: every token position inside a
    * verified window, as a bounded ×k explode + distinct. */
  private def substrCoverage(grams: DataFrame, verified: DataFrame,
                             k: Int): DataFrame =
    grams.join(verified, Seq("h", "g"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .distinct()

  /** Build the ExactSubstr INDEX artifact under `dir` AND dedup the
    * indexed corpus in the same pass — the snapshot-zero step of the
    * incremental discipline ([[exactSubstrIncremental]] consumes the
    * artifact per arriving shard, the way [[incrementalDedup]]'s
    * postings serve d17). Writes:
    * {{{
    *   dir/postings   (id, pos, h)  8-byte window-hash postings
    *   dir/covered    (id, p)       the corpus's verified covered set
    * }}}
    * and returns the indexed corpus's cleaned rows — exactly
    * [[exactSubstrDedup]]'s answer on `df`. At 100 TB the postings
    * artifact is the corpus's token count × 8-byte rows: write it
    * bucketed/partitioned by `h` so each shard's screen probe
    * co-locates instead of reshuffling the index. */
  def exactSubstrIndex(df: DataFrame, idCol: String, textCol: String,
                       k: Int, dir: String): DataFrame = {
    val base = substrBase(df, idCol, textCol, k)
    substrPosts(base).write
      .mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .parquet(s"$dir/postings")
    val covered = substrCovered(base, substrPosts(base), k)
    covered.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .parquet(s"$dir/covered")
    rebuildWithoutCovered(base, covered, idCol)
  }

  /** INCREMENTAL ExactSubstr — dedup an ARRIVING shard against the
    * index without rescreening the indexed corpus (the d17 sibling of
    * batch [[exactSubstrDedup]]; Lee et al.'s heavy pass is the one a
    * crawl pipeline re-runs per snapshot, and batch d49 rescreens the
    * world every time):
    *
    *  1. SCREEN sized to the NEW WAVE: candidate hashes = (window
    *     hashes shared WITHIN the shard) ∪ (shard hashes ∩ index
    *     hashes) — one groupBy of the shard's postings + one keyed
    *     semi-join against the postings artifact; the indexed corpus's
    *     text is never rescanned wholesale.
    *  2. VERIFY only new collision groups: gram text re-derives for the
    *     shard plus ONLY the indexed docs the semi-join surfaced (the
    *     artifact's job); groups re-compare on the text itself, within
    *     groups, never across.
    *  3. EMIT the shard's cleaned rows plus the REBUILT rows of every
    *     indexed doc the new collisions touched (their total coverage =
    *     archived covered set ∪ new positions), and APPEND the shard's
    *     postings + the new covered positions to the artifact — the
    *     index is ready for the next wave.
    *
    * EXACTNESS (the union contract): a union-verified group either has
    * ≥2 indexed members — its indexed positions are already in the
    * archived covered set — or has ≥1 shard member, in which case its
    * hash is in the shard's candidate set and the group re-verifies
    * here over BOTH waves' members; so archived ∪ new coverage equals
    * the batch coverage on the union, doc for doc, position for
    * position. Output anti-joined into the prior cleaned answer
    * therefore hash-matches batch [[exactSubstrDedup]] on the union
    * (gate d50 proves it against d49's own oracle).
    *
    * `indexed` supplies the archived docs' raw text; only the touched
    * sliver of it is ever tokenized (column-pruned id scan + semi-join
    * BEFORE the heavy arrays). Returns (id, n_tokens, kept, clean_text)
    * for shard docs ∪ touched indexed docs.
    *
    * A wave leaves NO `CacheManager` entries and no [[graft.Caches]]
    * registrations: every intermediate, and the returned frame, is an
    * eager bridge checkpoint ([[org.apache.spark.sql.graftbridge.CheckpointBridge.pin]])
    * sized by the shard or its touched docs. The returned rows are
    * fixed before the artifact append, so the caller may read them
    * after it and more than once.
    *
    * Caller contract (the applyCdc discipline): shard ids are NEW —
    * disjoint from the indexed ids. A re-crawled doc (same id, new
    * text) must be retired from the artifact first (drop its postings
    * and covered rows by id, remove it from `indexed`) and re-ingested
    * as a fresh arrival; blindly appending would union two texts'
    * positions under one id. */
  def exactSubstrIncremental(indexed: DataFrame, indexDir: String,
                             arriving: DataFrame, idCol: String,
                             textCol: String, k: Int): DataFrame = {
    val spark = arriving.sparkSession
    // Every intermediate below is PINNED (eager, constraint-free local
    // checkpoint), never persisted: each is consumed before this call
    // returns, and cand/touchedScan/base1/grams/coveredNew read the
    // `postings` or `corpus` path this wave appends to, so a persisted
    // copy would be re-planned by the CacheManager on every append,
    // on every unpersist of a frame it was built from, and nested into
    // every downstream plan AQE re-renders. Each pinned frame is
    // shard-sized or touched-docs-sized, never index-sized.
    val base2 = pin(substrBasePlan(substrDocs(arriving, idCol, textCol), k))
    val posts2Ck = checkpoint(substrPosts(base2))
    val posts2 = posts2Ck.df
    // r17: every screen-side semi-join below builds against a frame
    // that is SHARD-sized (shard hashes, candidate hashes, touched doc
    // ids) while its probe side is index/corpus-sized. Size-gate each
    // build side through a measured-row broadcast hint (the GraphOps
    // hintIfSmall doctrine): below the limit the artifact and the
    // indexed corpus are SCANNED IN PLACE instead of shuffled by h/id —
    // the per-wave shuffle payload drops to the verified sliver only.
    // Above the limit everything falls back to the keyed joins
    // unchanged. Counts come from the jobs that pinned the frames.
    val nPosts2 = posts2Ck.rows
    val idxPosts = spark.read.parquet(s"$indexDir/postings")
    // 1 — screen: intra-shard collisions + shard∩index hash hits, from
    // ONE shard aggregation (r17 §1.2 — the old shape aggregated posts2
    // twice: the intra groupBy plus a separate h-distinct for the cross
    // probe; hagg now feeds both, and its row bound |hagg| ≤ nPosts2
    // lets the one measured count gate every downstream broadcast —
    // cand ⊆ shard hashes too, so the nCand/nT1 probe jobs are gone).
    // The shuffle payload is the SHARD's 8-byte postings; the index
    // side stays a keyed semi-join (bucketed-by-h artifact co-locates
    // it at scale).
    val hagg = pin(posts2.groupBy("h")
      .agg(count_distinct(col("id")).as("__cd")))
    val intra = hagg.filter(col("__cd") >= 2).select("h")
    val cross = idxPosts
      .join(hintIfSmall(hagg.select("h"), nPosts2), Seq("h"), "left_semi")
      .select("h").distinct()
    val cand = pin(intra.unionByName(cross).distinct())
    // 2 — verify over the union sliver: indexed docs surface via the
    // artifact (never a corpus scan), and only THEIR text re-tokenizes.
    // Probe by the SHARD hashes directly, not by cand: an index row
    // colliding with any cand hash collides with a shard hash (cand ⊆
    // shard hashes ∪ intra and intra ⊆ shard hashes), so the two probes
    // are row-identical and this one needs neither cand's
    // materialization nor a second aggregation first. (Persisting the
    // matched rows once for both projections was tried and measured
    // SLOWER at sf0.1 — on a near-dup-heavy corpus the matched set is
    // nearly the whole postings artifact, so the cache write dwarfed
    // the saved scan; two map-only broadcast-probe scans are cheaper.)
    val touchedCk = checkpoint(
      idxPosts.join(hintIfSmall(hagg.select("h"), nPosts2), Seq("h"), "left_semi")
        .select(col("id")).distinct())
    val touchedScan = touchedCk.df
    val nTouched = touchedCk.rows // |touched indexed docs|
    val base1 = pin(substrBasePlan(substrDocs(
      indexed.join(
        hintIfSmall(touchedScan.withColumnRenamed("id", idCol), nTouched),
        Seq(idCol), "left_semi"), idCol, textCol), k))
    // read twice below (verify group + coverage semi-join)
    val grams = pin(
      substrGramsPlan(base2, hintIfSmall(cand, nPosts2))
        .unionByName(substrGramsPlan(base1, hintIfSmall(cand, nPosts2))))
    val verified = grams.groupBy("h", "g")
      .agg(count_distinct(col("id")).as("__cd"))
      .filter(col("__cd") >= 2)
      .select("h", "g")
    val coveredNew = pin(substrCoverage(grams, verified, k))
    // 3 — rebuild: shard docs under their new coverage; touched indexed
    // docs under archived ∪ new coverage.
    // rebuild ONLY verified-touched indexed docs: a doc the scan pulled
    // but no group verified keeps its prior cleaned row (rebuilding it
    // here would MISS its archived intra-index coverage).
    // ONE fused rebuild over both waves (r16): shard ids and indexed ids
    // are disjoint (caller contract), so rebuilding the unioned base
    // against the unioned covered set row-for-row equals the two
    // per-wave rebuilds — one covered aggregation, one id-keyed join,
    // one compiled cut pass. The covered side needs NO per-wave
    // semi-joins or distinct: coveredNew's ids are exactly
    // (covered shard docs ∪ touched1) ⊆ the rebuilt id set, archived
    // coverage restricted to touched1 supplies the indexed docs' old
    // positions, and the anti-join is insensitive to duplicate (id, p)
    // rows — so coveredNew ∪ (coveredOld ⋉ touched1) is the whole set.
    val shardIds = base2.select(col("id"))
    // touched1 feeds TWO semi-joins below; its broadcast gates ride
    // nTouched (touched1 = verified-touched indexed docs ⊆ touchedScan,
    // so the already-measured count is a sound bound and no extra count
    // job is needed — r17 §1.2)
    val touched1 = pin(
      coveredNew.join(shardIds, Seq("id"), "left_anti")
        .select("id").distinct())
    val coveredOld = spark.read.parquet(s"$indexDir/covered")
    val out = pin(rebuildWithoutCovered(
      base2.unionByName(
        base1.join(hintIfSmall(touched1, nTouched), Seq("id"), "left_semi")),
      coveredNew.unionByName(
        coveredOld.join(hintIfSmall(touched1, nTouched), Seq("id"), "left_semi")),
      idCol))
    // postings/covered delta → the artifact absorbs the shard. Nothing
    // above is cached, so neither append re-plans anything and their
    // order is free.
    coveredNew.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$indexDir/covered")
    posts2.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$indexDir/postings")
    spark.catalog.refreshByPath(s"$indexDir/postings")
    spark.catalog.refreshByPath(s"$indexDir/covered")
    out
  }

  /** Bloom-prefiltered decontamination — the shape [[ngramContamination]]
    * takes when the benchmark SUITE is itself too large to broadcast its
    * exploded postings (many benchmarks × many n-grams): build ONE
    * fixed-size mergeable Bloom bitset over the benchmark's n-grams
    * (partial+final aggregation; ~1.2 MB at 2^20 items / 1% fpp no matter
    * the corpus size), broadcast THAT, and drop every corpus posting whose
    * n-gram cannot be in the benchmark BEFORE any join. Survivors — the
    * contaminated sliver — then confirm through the exact n-gram
    * equi-join, which no longer needs the benchmark postings to fit in a
    * broadcast because its probe side has already collapsed. Bloom filters
    * have no false negatives and the false positives die in the exact
    * join, so the output is bit-identical to [[ngramContamination]].
    *
    * The membership probe is the codegen'd
    * [[graft.functions.BloomContains]] expression over the broadcast
    * bitset: each call is a handful of hash probes replacing a join of
    * the full corpus posting volume, and it stays inside the
    * whole-stage-codegen span (the former Scala udf ended the span and
    * boxed every hash). */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         minShared: Int = 1,
                         expectedNgrams: Long = 1L << 20,
                         fpp: Double = 0.01): DataFrame = {
    def postings(df: DataFrame, out: String): DataFrame = df
      .select(col(idCol).as(out),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("__shs"))
      .select(col(out), explode(col("__shs")).as("sh"))
    val b = graft.Caches.track(postings(benchmark, "bench_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // bounded driver action: the aggregated bitset, not the postings
    val bf = b.stat.bloomFilter("sh", expectedNgrams, fpp)
    val bcast = corpus.sparkSession.sparkContext.broadcast(bf)
    val bsizes = b.groupBy("bench_id").agg(count(lit(1)).as("bn"))
    postings(corpus, "train_id")
      .filter(graft.functions.BloomContains.contains(col("sh"), bcast))
      .join(b, "sh")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(bsizes), "bench_id")
      .withColumn("containment",
        col("n_shared").cast("double") / col("bn").cast("double"))
      .select(col("train_id"), col("bench_id"), col("n_shared"),
        col("containment"))
  }

  /** All pairs with word-`n`-gram Jaccard ≥ `threshold`, found via an
    * inverted shingle index: explode distinct shingles, self-equi-join on
    * the shingle (id1 < id2), count shared shingles per pair, then
    * |A∩B| / (|A|+|B|−|A∩B|). Since threshold > 0 implies ≥1 shared
    * shingle, this is EXACT — identical to all-pairs — without the O(n²)
    * cross join.
    *
    * `maxShingleDocFreq`: drop shingles appearing in more than K docs
    * before pairing (stop-shingle cap). At 100 TB this bounds the posting
    * lists and therefore join skew. With the cap on, BOTH intersections and
    * set sizes use the capped shingle universe — i.e. the result is exact
    * Jaccard over non-ubiquitous shingles (mixing capped intersections with
    * uncapped sizes would bias scores downward). None = exact over all
    * shingles.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double,
                   maxShingleDocFreq: Option[Int] = None): DataFrame = {
    // The posting list feeds three consumers (self-join both sides + per-doc
    // sizes); persist it so tokenize+shingle runs once. MEMORY_AND_DISK:
    // spills instead of recomputing at scale; LRU-evicted when cold.
    val sh = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
      .select(col("id"), explode(
        graft.functions.ShingleHashes.shingleHashes(col("__txt"), n)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val posted = maxShingleDocFreq match {
      case Some(k) =>
        // anti-join against the HOT set (df > k): that set is bounded by
        // |postings|/k, so it broadcasts safely at any corpus size — the
        // kept set is nearly all shingles and must never be broadcast.
        val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > k).select("sh")
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      case None => sh
    }
    // sizes from the SAME (possibly capped) posting list as the
    // intersections — mixing capped inter with uncapped sizes biases
    // Jaccard downward and silently drops true near-dups.
    val sizes = posted.groupBy("id").agg(count(lit(1)).as("nsh"))
    // r17 NOTE (measured, left alone): the self-join's sf1 growth is
    // AGGREGATE candidate volume, not key skew — the sf1 probe shows a
    // max shingle occupancy of 250 (zero shingles over a 1024 block
    // size) with output pairs growing 256 → 250 600, so the Σocc²
    // joined rows are genuinely needed and the both-sides chunking that
    // fixed d12's 338 s straggler only added a second postings exchange
    // here (the self-join reuses ONE exchange) — tried, measured slower
    // at both SFs, reverted.
    val inter = posted.as("a")
      .join(posted.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("nsh", "n1"), "id1")
      .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("nsh", "n2"), "id2")
      .withColumn("jaccard",
        col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** TF-IDF weighted cosine record linkage — the "fuzzy join at scale"
    * classic (soft-TFIDF family): pairs whose token-weight vectors are
    * cosine-close, with rare tokens (high IDF) dominating the match —
    * robust to word reorder and boilerplate in a way [[jaccardPairs]]'s
    * unweighted set overlap is not. Inverted-index equi-join on the
    * token, never all-pairs; `maxDf` drops stopword-frequency tokens
    * (the d03 stop-shingle discipline — they'd pair everything with
    * everything and add ~no weight).
    *
    * Determinism (engine-portable by construction): idf = ln(N/df) is a
    * ratio of exact integers (the accepted ulp class documented at
    * zipfFit's u6); per-pair dot terms w₁·w₂ and per-doc norm terms w²
    * floor to exact 1e-6-unit longs, so BOTH reductions are order-free
    * BIGINT sums; cos closes in one fixed-association double expression
    * on the 6dp grid. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxDf: Long): DataFrame = {
    // term frequencies feed the df counts, the norms, AND both join
    // sides — persist so tokenize+count runs once
    val tf = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"), explode(TextOps.tokens(col("__txt"))).as("t"))
        .groupBy("id", "t").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nd = df.count() // corpus size: one scalar action
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    def u6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)).cast("long")
    // weights feed norms + both self-join sides — persist the bounded
    // (doc, kept-token) frame
    val w = graft.Caches.track(
      tf.join(dfreq, Seq("t"))
        .select(col("id"), col("t"), (col("tf").cast("double")
          * log(lit(nd.toDouble) / col("df").cast("double"))).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val norms = w.groupBy("id").agg(sum(u6(col("w") * col("w"))).as("n2"))
    val dots = w.select(col("t"), col("id").as("id1"), col("w").as("w1"))
      .join(w.select(col("t"), col("id").as("id2"), col("w").as("w2")),
        Seq("t"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(sum(u6(col("w1") * col("w2"))).as("dotu"))
    dots
      .join(norms.select(col("id").as("id1"), col("n2").as("na")), "id1")
      .join(norms.select(col("id").as("id2"), col("n2").as("nb")), "id2")
      .withColumn("cos", (col("dotu").cast("double") / lit(1e6))
        / sqrt((col("na").cast("double") / lit(1e6))
          * (col("nb").cast("double") / lit(1e6))))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"),
        TextOps.round6(col("cos")).as("cos6"))
  }

  /** Two-corpus near-dup join — incremental dedup's core: a NEW batch of
    * docs against the EXISTING corpus, all cross pairs with word-`n`-gram
    * Jaccard ≥ `threshold`, via the same hashed inverted-index equi-join
    * as [[jaccardPairs]] (graft_shingle_hashes long keys; exact, never
    * all-pairs). Asymmetry is the scale story: the incoming batch is
    * small next to a 100 TB corpus, so its postings side broadcasts (or
    * AQE picks the keyed shuffle) and the corpus is ONE projected scan —
    * re-shingling only what the batch's grams touch. Ids may repeat
    * across corpora (a re-submitted doc): pairs emit as (new_id, old_id)
    * without an ordering constraint. */
  def jaccardJoin(fresh: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String, n: Int, threshold: Double): DataFrame = {
    def post(df: DataFrame, out: String) = graft.Caches.track(
      crossPostings(df, idCol, out, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    jaccardFromPostings(post(fresh, "new_id"), post(corpus, "old_id"),
      threshold)
  }

  /** Hashed shingle posting list (`out`, sh LONG) for one corpus side of a
    * cross-corpus near-dup join — the projection [[jaccardJoin]] persists
    * per side. Exposed so long-lived callers (streaming ingestion) can
    * build+persist the STATIC corpus postings once per run and manage the
    * per-batch side's lifetime themselves. */
  def crossPostings(df: DataFrame, idCol: String, out: String,
                    textCol: String, n: Int): DataFrame =
    spread(df.select(col(idCol).as(out), col(textCol).as("__txt")), out)
      .select(col(out), explode(
        graft.functions.ShingleHashes.shingleHashes(col("__txt"), n))
        .as("sh"))

  /** Cross-corpus Jaccard core over pre-built posting lists
    * (`new_id`/`old_id`, sh): each side feeds its size aggregate plus the
    * shared-shingle equi-join, so callers should persist sides they pass
    * in (both feed two plan branches). */
  def jaccardFromPostings(lp: DataFrame, rp: DataFrame,
                          threshold: Double): DataFrame = {
    val lsz = lp.groupBy("new_id").agg(count(lit(1)).as("n1"))
    val rsz = rp.groupBy("old_id").agg(count(lit(1)).as("n2"))
    lp.join(rp, "sh")
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("inter"))
      .join(lsz, "new_id")
      .join(rsz, "old_id")
      .withColumn("jaccard",
        col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** Split-document seam detection — the scraper-cut-a-doc-in-half
    * diagnostic: pairs (left_id, right_id) where LEFT's last `k` tokens
    * equal RIGHT's first `k` tokens exactly (the seam a re-join would
    * close). ONE tokenize pass feeds both key projections; candidates
    * come from an equi-join on the seam string — keyed shuffle bounded by
    * seam frequency, never all-pairs. Docs shorter than `k` tokens carry
    * no seam and drop out before the join. */
  def seamPairs(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 1, "seam length must be >= 1")
    val toks = graft.Caches.track(df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val heads = toks.select(col("id").as("right_id"),
      concat_ws(" ", slice(col("__ts"), 1, k)).as("seam"))
    val tails = toks.select(col("id").as("left_id"),
      concat_ws(" ", slice(col("__ts"), -k, k)).as("seam"))
    tails.join(heads, "seam")
      .filter(col("left_id") =!= col("right_id"))
      .select(col("left_id"), col("right_id"), col("seam"))
  }

  /** Blocked fuzzy record linkage: pairs of rows whose `nameCol` values are
    * within Levenshtein distance `maxDist`, found WITHOUT an all-pairs
    * cross join. Blocking key = last whitespace token (for "adjective
    * noun"-shaped names the head noun; swap in any domain key) — candidates
    * come from an equi-join on that key, so the shuffle is keyed and
    * bounded by block size, never O(n²). Two exact pre-filters cut the
    * candidate set before the O(len²) levenshtein runs: edit distance is
    * ≥ the length difference, and identical strings are the trivial match.
    *
    * Recall caveat (documented, not hidden): an edit inside the LAST token
    * changes the blocking key, so such pairs are missed —
    * [[fuzzyNameMatchMulti]] is the multi-pass fix (union over first +
    * last token blocks). */
  def fuzzyNameMatch(df: DataFrame, idCol: String, nameCol: String,
                     maxDist: Int): DataFrame =
    fuzzyCore(df, df, idCol, nameCol, maxDist,
      (a, b) => a < b) // each unordered pair once

  /** Two-corpus variant (entity resolution: probe records vs a reference
    * corpus). Same blocked plan; emits every cross pair with distinct ids.
    * When the probe side is small (the usual case — new records against a
    * 100 TB reference), AQE broadcasts it and the reference is one scan. */
  def fuzzyNameJoin(left: DataFrame, right: DataFrame, idCol: String,
                    nameCol: String, maxDist: Int): DataFrame =
    fuzzyCore(left, right, idCol, nameCol, maxDist, (a, b) => a =!= b)

  /** Multi-block fuzzy linkage: candidates come from a UNION of blocking
    * keys — the FIRST and LAST whitespace token — closing
    * [[fuzzyNameMatch]]'s documented missed-pair class (an edit inside the
    * single blocking token changes the block and hides the pair; with two
    * independent blocks, a ≤ maxDist edit can only fall inside ONE of
    * them, so the other still collides — full recall for single-token
    * edits, and misses only pairs edited in BOTH tokens at once).
    *
    * Scale shape: each row posts ≤ 2 (block, row) postings (explode is
    * per-partition fan-out, no shuffle), the candidate join stays a keyed
    * equi-join on the block, and the BANDED threshold levenshtein
    * (O(len·maxDist) per pair, not O(len²)) runs map-side straight off the
    * join — pairs colliding in both blocks score twice, which measures
    * ~6% extra compute on dense blocks versus a pre-score distinct that
    * shuffles EVERY candidate (id, id, name, name) row; dedup happens
    * after the ≤ maxDist filter, on the (small) match set. */
  def fuzzyNameMatchMulti(df: DataFrame, idCol: String, nameCol: String,
                          maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    def side(d: DataFrame) =
      d.select(col(idCol).as("id"), col(nameCol).as("nm"),
          length(col(nameCol)).as("__len"),
          explode(array_distinct(array(
            element_at(split(col(nameCol), " +"), 1),
            element_at(split(col(nameCol), " +"), -1)))).as("__blk"))
    // The build side broadcasts, so scoring parallelism = the streamed
    // side's partition count — which for a small/compact input is its file
    // SPLIT count (observed: one split → every candidate pair scored on
    // one task). An id-keyed repartition of the narrow postings (pinned
    // width, so AQE can't coalesce it back) spreads the per-pair work;
    // with the build side broadcast, any streamed-side partitioning is
    // join-correct.
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    side(df).repartition(width, col("id")).as("a").join(side(df).as("b"),
        col("a.__blk") === col("b.__blk")
          && (col("a.id") < col("b.id"))
          && abs(col("a.__len") - col("b.__len")) <= maxDist)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.nm").as("name1"), col("b.nm").as("name2"),
        levenshtein(col("a.nm"), col("b.nm"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // banded form returns -1 past the threshold
      .distinct()
  }

  private def fuzzyCore(left: DataFrame, right: DataFrame, idCol: String,
                        nameCol: String, maxDist: Int,
                        pairPred: (Column, Column) => Column): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    def side(df: DataFrame) =
      df.select(col(idCol).as("id"), col(nameCol).as("nm"),
        element_at(split(col(nameCol), " +"), -1).as("__blk"),
        length(col(nameCol)).as("__len"))
    side(left).as("a").join(side(right).as("b"),
        col("a.__blk") === col("b.__blk")
          && pairPred(col("a.id"), col("b.id"))
          && abs(col("a.__len") - col("b.__len")) <= maxDist)
      // banded threshold levenshtein: O(len·maxDist) per pair, -1 beyond
      .withColumn("dist", levenshtein(col("a.nm"), col("b.nm"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.nm").as("name1"), col("b.nm").as("name2"), col("dist"))
  }

  /** (id, shs) projection: distinct word-n-gram shingle array per doc,
    * empty-shingle docs dropped. A narrow scan with no exchange: every
    * consumer downstream is keyed by band or by candidate id, never by
    * this frame's id, so hash-partitioning the raw text first (`spread`)
    * would move the whole corpus for no reuse. */
  private def shingleProj(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("shs"))
      .filter(size(col("shs")) > 0)

  /** LSH candidate pairs: split the `k`-wide signature into `bands` bands,
    * hash each band, equi-join on (band index, band hash). Pairs sharing ≥1
    * band emerge; each pair appears once (id1 < id2, distinct). The join is
    * keyed by band hash → shuffle partitions by bucket, never all-pairs. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    n: Int, k: Int, bands: Int): DataFrame =
    lshCandidatesFrom(shingleProj(df, idCol, textCol, n), k, bands)

  /** (id, sig) MinHash signatures from a (id, shs) projection: ONE
    * projection through the compiled [[graft.functions.MinHash]] kernel,
    * which folds all `k` lanes (`xxhash64(pmod(h, P), lane)`, lane
    * decorrelation by rehash) in a single pass over each row's shingle
    * hashes — no explode, no aggregate, no exchange. */
  private def minHashSigsFrom(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("id"),
      graft.functions.MinHash.signature(col("shs"), k).as("sig"))

  /** [[lshCandidates]] from a pre-staged (id, shs) projection — callers that
    * also need the shingles downstream (verification) persist the projection
    * and pass it here so tokenize+shingle runs once per row, not twice.
    * Signatures are one projection ([[minHashSigsFrom]]), so the only
    * exchanges are the band join's (id, band, bandhash) rows and the
    * candidate-pair distinct. */
  private[graft] def lshCandidatesFrom(sh: DataFrame, k: Int,
                                       bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    val sig = minHashSigsFrom(sh, k)
    val banded = sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_",
          transform(slice(col("sig"), b * r + 1, lit(r)), x => x.cast("string")))))))
      .toDF("id", "band", "bandhash")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band")
          && col("a.bandhash") === col("b.bandhash")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      // near-dup pairs agree in SEVERAL bands (that's the point of banding),
      // so without this dedup each would be verified once per colliding
      // band; the shuffle is narrow (two ids), far cheaper than the extra
      // array_intersect calls it prevents.
      .distinct()
  }

  /** MinHash+LSH near-dup: candidates from banding, then EXACT Jaccard
    * verification on the candidate set only (the standard
    * filter-then-verify shape: banding prunes, verification keeps
    * precision at 1). The shingle projection is persisted and shared by
    * signature generation AND verification — one tokenize+shingle pass.
    *
    * Nothing corpus-sized is exchanged: signatures are a per-row
    * projection, the band join shuffles (id, band, bandhash) triples, and
    * the verification joins read the shingle arrays only after a
    * semi-join on the candidate ids, so above the broadcast size their id
    * exchange carries the candidate sliver, not every document. The
    * candidate pairs are cut once ([[checkpoint]]); its count gates the
    * id broadcast ([[hintIfSmall]]). */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, k: Int = 32, bands: Int = 8,
                     threshold: Double = 0.5): DataFrame = {
    val sh = graft.Caches.track(shingleProj(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candCk = checkpoint(lshCandidatesFrom(sh, k, bands))
    val cand = candCk.df
    val ids = cand.select(col("id1").as("id"))
      .unionByName(cand.select(col("id2").as("id")))
    val shc = sh.join(hintIfSmall(ids, 2 * candCk.rows), Seq("id"), "left_semi")
    cand
      .join(shc.select(col("id").as("id1"), col("shs").as("sh1")), "id1")
      .join(shc.select(col("id").as("id2"), col("shs").as("sh2")), "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("sh1")) + size(col("sh2")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** 64-bit SimHash from a PRE-MATERIALIZED token-hash array column: per
    * bit, sum ±1 over token hashes and take the sign. 64 array-folds per
    * row — `hashArr` must be an attribute reference, not a subtree:
    * Catalyst expressions are trees, not DAGs, so a tokenize→hash subtree
    * here would be re-evaluated once per fold. */
  def simHash(hashArr: Column): Column = {
    val bits = (0 until 64).map { j =>
      val vote = aggregate(hashArr, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (id, sh) SimHash signatures via ONE exploded pass: per-token hashes
    * feed 64 codegen'd conditional-sum aggregates in a single
    * HashAggregate (partial+final, one shuffle keyed by id) — versus
    * [[simHash]]'s 64 interpreted array folds PER ROW, which re-walk the
    * token array 64 times through lambda dispatch (3.3s → sub-second on
    * the 5k-doc fixture). Tokenless docs keep signature 0 via
    * explode_outer, matching the fold's all-zero-votes result. */
  /** Engine-portable 60-bit per-token hash: the leading 15 hex chars of
    * md5, parsed base-16 (< 2^60, so the signed long never overflows).
    * Slower than xxhash64 — the library default — but bit-identical to
    * DuckDB's `CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)`,
    * which puts the FULL simhash pipeline under the cross-engine oracle
    * (d05). */
  def portableHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  private def simHashSigs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int, hash: Column => Column): DataFrame = {
    val toks = spread(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
      .select(col("id"),
        explode_outer(TextOps.tokens(col("__txt"))).as("t"))
      .select(col("id"),
        when(col("t").isNotNull, hash(col("t"))).as("h"))
    val votes = (0 until bits).map(j =>
      sum(when(col("h").isNull, 0)
        .when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1)
        .otherwise(-1)).as(s"__v$j"))
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(j => when(col(s"__v$j") > 0, lit(1L << j))
          .otherwise(lit(0L))).reduce(_ + _).as("sh"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, via
    * 4-band blocking (bits/4 bits per band): any pair within Hamming ≤ 3
    * differs in at most 3 bands, so by pigeonhole it shares ≥1 exact
    * band — blocking is lossless for maxHamming ≤ 3, any band width. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, bits: Int = 64,
                     hash: Column => Column = xxhash64(_)): DataFrame = {
    // pigeonhole over 4 bands only guarantees a shared band for <= 3
    // differing bits; beyond that the blocking silently loses pairs.
    require(maxHamming <= 3, "4-band blocking is lossless only for maxHamming <= 3")
    require(bits % 4 == 0 && bits <= 64, "bits must be a multiple of 4, <= 64")
    val bandBits = bits / 4
    val bandMask = (1L << bandBits) - 1
    val sigs = simHashSigs(df, idCol, textCol, bits, hash)
    // persist: the self-join consumes the banded signatures twice, and
    // ReuseExchange only saves the map side — the bit-vote final aggregate
    // and band explode would still run per join side (Caches-tracked).
    val banded = graft.Caches.track(sigs.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sh"), b * bandBits).bitwiseAND(lit(bandMask))): _*)))
      .toDF("id", "sh", "band", "bandval")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band")
          && col("a.bandval") === col("b.bandval")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.sh").as("sh1"), col("b.sh").as("sh2"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  /** In-order sum fold of a double array (sequential accumulation — same
    * order as DuckDB's, which the oracles rely on). */
  def fold(arr: Column): Column = aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two double-array columns: one zip_with pass + in-order
    * fold. (A flat element_at product chain for fixed dims was tried and is
    * ~2× SLOWER — the 64-deep Add tree drops out of codegen and pays 64
    * interpreted tree-walks per pair vs one array traversal here.) */
  def dot(a: Column, b: Column): Column = fold(zip_with(a, b, (x, y) => x * y))

  /** Cosine similarity of two float-array embedding columns, computed in
    * double. Self-contained (3 folds per call) — for PAIRWISE workloads
    * precompute [[normalized]] vectors per row and use [[dot]] instead
    * (3× less per-pair work; measured 85s → ~25s on the sf0.1 brute-force
    * near-dup). */
  def cosine(a: Column, b: Column): Column = {
    val d = fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = sqrt(fold(transform(a, x => x.cast("double") * x.cast("double"))))
    val nb = sqrt(fold(transform(b, x => x.cast("double") * x.cast("double"))))
    d / (na * nb)
  }

  /** Project (id, vec) with the vector L2-normalized in double. Staged
    * projections so each fold evaluates its input attribute once. */
  def normalized(df: DataFrame, idCol: String, vecCol: String,
                 outId: String, outVec: String,
                 meta: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as(outId) +:
        // native array Cast (codegen'd), not a per-element transform
        col(vecCol).cast("array<double>").as("__e") +:
        meta.map(col): _*)
      .select(col(outId) +: col("__e") +:
        // codegen'd self-dot for the sum of squares — sequential
        // accumulation, bit-identical to fold(transform(x*x)) but one
        // compiled pass instead of two interpreted lambda walks (the
        // interpreted HOFs were the slowest stage of every vector op).
        sqrt(graft.functions.DotProduct.dotNative(col("__e"), col("__e")))
          .as("__n") +: meta.map(col): _*)
      .select(col(outId) +:
        transform(col("__e"), x => x / col("__n")).as(outVec) +:
        meta.map(col): _*)

  /** Corpus-level exact LINE dedup (the RefinedWeb/C4-style pass that
    * strips boilerplate lines — headers, cookie banners, nav text —
    * appearing across many documents): split each doc on newlines, drop
    * every line whose exact value occurs in more than `maxDocFreq`
    * DISTINCT documents, reassemble the survivors in original order
    * (docs whose lines all drop come back as empty text, still one row
    * per input doc).
    *
    * Scale shape: the line table is a per-partition Generate off a spread
    * projection; doc-frequency is one partial+final distinct + one count,
    * both keyed by the line; the decision joins back by line and the
    * reassembly is one groupBy(doc) with an in-group sort of (pos, line)
    * structs — collect_list here is per-DOC state (bounded by doc length,
    * the same bound the input row already carries), never corpus state.
    * Repeats WITHIN one doc count once toward doc-frequency and are kept
    * (cross-doc boilerplate is the target, intra-doc repetition is t07's
    * signal). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Long = 1): DataFrame = {
    val lines = spread(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val freq = lines.select(col(idCol), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
    lines.join(freq, Seq("line"), "left")
      .groupBy(col(idCol))
      .agg(array_join(transform(array_sort(collect_list(
        when(col("df") <= maxDocFreq, struct(col("pos"), col("line"))))),
        x => x.getField("line")), "\n").as("text"))
  }

  /** Cross-document duplicate-span signal (the "Deduplicating Training
    * Data Makes Language Models Better" diagnostic, scaled down to word
    * n-grams): per document, the fraction of its n-gram POSITIONS whose
    * n-gram also appears in at least one OTHER document. 0 for docs
    * shorter than n tokens; intra-doc repeats only count as duplicated
    * when some other doc shares the gram (within-doc repetition is t07's
    * separate signal).
    *
    * Scale shape: ONE tokenize+n-gram pass (the gram array is staged in a
    * Project before the Generate); per-(doc, gram) occurrence counts are
    * a map-side-combinable partial+final aggregate, persisted once and
    * consumed three times (doc-frequency, duplicated-position sum, total
    * positions — so the corpus text is never re-scanned); doc-frequency
    * is a count over that already-distinct pair frame keyed by the gram.
    * No all-pairs join anywhere; gram skew is absorbed by the partial
    * aggregate exactly like [[lineDedup]]'s line counts. */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val staged = spread(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__ws"))
      .select(col(idCol), TextOps.ngramsOfTokens(col("__ws"), n).as("__gs"))
    val occ = graft.Caches.track(
      staged.select(col(idCol), explode(col("__gs")).as("gram"))
        .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("occ"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val docFreq = occ.groupBy("gram").agg(count(lit(1)).as("df"))
    val dup = occ.join(docFreq.filter(col("df") >= 2), Seq("gram"))
      .groupBy(col(idCol)).agg(sum("occ").as("dp"))
    val totals = occ.groupBy(col(idCol)).agg(sum("occ").as("tp"))
    df.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol),
        when(col("tp").isNull || col("tp") === 0, lit(0.0))
          .otherwise(TextOps.round6(
            coalesce(col("dp"), lit(0L)).cast("double")
              / col("tp").cast("double"))).as("dup_frac"))
  }

  /** (id, vec, norm) projection — the zero-HOF alternative to
    * [[normalized]] for dot-product workloads: native array cast +
    * codegen'd self-dot, NO per-element interpreted pass at all.
    * Downstream cosine is `dot(a, b) / (na * nb)` — dot-then-divide,
    * exactly DuckDB's list_cosine_similarity formula (the
    * normalize-then-dot path differs from it by ~1 ulp). Hyperplane
    * bucketing works on the raw vector unchanged: positive scaling
    * preserves every sign bit. */
  def withNorm(df: DataFrame, idCol: String, vecCol: String, outId: String,
               outVec: String, outNorm: String): DataFrame =
    df.select(col(idCol).as(outId),
        col(vecCol).cast("array<double>").as(outVec))
      .select(col(outId), col(outVec),
        sqrt(graft.functions.DotProduct.dotNative(col(outVec), col(outVec)))
          .as(outNorm))

  /** Embedding near-dup: pairs with cosine ≥ threshold, via hyperplane-LSH
    * band candidates + exact re-rank (no driver state; the corpus is never
    * collected to the driver, which OOMs at scale). Each vector lands in
    * one sign-bit bucket per table ([[SimilarityOps.lshBuckets]],
    * deterministic hyperplanes); candidate pairs (id1 < id2) come from
    * [[SimilarityOps.lshPairs]], the (table, bucket) pair generator it
    * shares with [[SimilarityOps.knnGraphBuild]] — never all-pairs. Up to
    * `knnBroadcastRows` vectors the normalized vectors broadcast and each
    * id1's pairs are generated, scored, filtered and deduplicated in one
    * task (the src postings are the only exchange, about `scoreBlockRows`
    * of them per task); above it the keyed plan dedups candidate ids and
    * rejoins vectors by key. The re-rank is an exact codegen'd dot
    * product, so precision is 1.
    *
    * Recall: a pair at cosine t collides per table with prob p^bits where
    * p = 1 − arccos(t)/π; overall 1 − (1 − p^bits)^tables. At the defaults
    * (32 tables × 4 bits) a threshold-0.5 pair (p = 2/3) is missed with
    * prob ≈ 9e-4; hyperplanes are fixed-seed so results are reproducible.
    * At larger corpus sizes raise `bits` (bounds bucket occupancy and
    * candidate volume) and `tables` (buys recall back linearly in postings).
    *
    * Precision note: cosine is computed dot-then-divide over the raw
    * vectors — the same association as DuckDB's list_cosine_similarity,
    * so the oracle compare is not exposed to ulp-level drift. */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, tables: Int = 32, bits: Int = 4,
                       dim: Int = 64, scoreBlockRows: Int = 1024): DataFrame = {
    // each colliding (id1 < id2) pair is scored once per shared (table,
    // bucket) with the identical fixed-order dot, so filtering before the
    // dedup keeps exactly the pairs filtering after it would; the dedup
    // rides the pairs' hash(src) layout
    SimilarityOps.lshPairs(withNorm(df, idCol, vecCol, "id", "e", "n"),
        tables, bits, dim, planesFlat = None, bucketCap = None,
        scoreBlockRows)(_ < _)
      .filter(col("sim") >= threshold)
      .dropDuplicates("src", "dst")
      .select(col("src").as("id1"), col("dst").as("id2"), col("sim"))
  }

  /** Jaro–Winkler blocked linkage: probe records against a reference
    * corpus, candidates from a UNION of first+last-token blocks (the
    * [[fuzzyNameMatchMulti]] recall argument), scored by the codegen'd
    * [[graft.functions.JaroWinkler]] expression instead of edit distance —
    * the measure of choice when transposed/abbreviated name parts matter
    * more than raw edits (ref: pontem has no fuzzy matching at all; its
    * corpus joins are exact, series.py:206-214).
    *
    * Sound length prefilter (cuts candidates, never results): the Winkler
    * boost is capped at ℓ·p = 0.4, so `jw ≥ s` forces
    * `jaro ≥ (s−0.4)/0.6`; and since matches ≤ min(n, m), jaro over
    * lengths (n, m) is at most `(m/n + m/m₂ + 1)/3 ≤ (1 + min/max + 1)/3`.
    * So any qualifying pair has `min/max ≥ 3·(s−0.4)/0.6 − 2` (clamped
    * at 0) — for s = 0.92 that is 0.6, shedding the short-vs-long junk
    * pairs before any JW runs. The threshold compares on the ROUND6 similarity so a ±1-ulp
    * engine drift at the boundary cannot flip membership (boundary
    * compares always run on the shared floor grid, never on raw
    * doubles).
    *
    * Scale: ≤ 2 postings per row, keyed equi-join on the block token,
    * JW map-side off the join — never all-pairs. */
  def jaroLinkage(probe: DataFrame, reference: DataFrame, idCol: String,
                  nameCol: String, minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim must be in (0, 1]")
    val jaroMin = math.max(0.0, (minSim - 0.4) / 0.6)
    val ratioMin = math.max(0.0, 3.0 * jaroMin - 2.0)
    def side(d: DataFrame) =
      d.select(col(idCol).as("id"), col(nameCol).as("nm"),
        length(col(nameCol)).as("__len"),
        explode(array_distinct(array(
          element_at(split(col(nameCol), " +"), 1),
          element_at(split(col(nameCol), " +"), -1)))).as("__blk"))
    val width = probe.sparkSession.sessionState.conf.numShufflePartitions
    side(probe).repartition(width, col("id")).as("a")
      .join(side(reference).as("b"),
        col("a.__blk") === col("b.__blk")
          && col("a.id") =!= col("b.id")
          && least(col("a.__len"), col("b.__len")).cast("double")
             >= greatest(col("a.__len"), col("b.__len")) * lit(ratioMin))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.nm").as("name1"), col("b.nm").as("name2"),
        TextOps.round6(graft.functions.JaroWinkler.jaroWinkler(
          col("a.nm"), col("b.nm"))).as("sim6"))
      .filter(col("sim6") >= minSim)
      .distinct()
  }

  /** Sorted-neighborhood linkage — the classic alternative to token
    * blocking: records sort by a (domain-chosen) key and each record is
    * compared only with its `windowSize` successors in that global order,
    * so candidate count is exactly `windowSize · n` regardless of block
    * skew (token blocking degrades to block² on a hot block; SNM cannot).
    *
    * The global order is the [[graft.core.GlobalWindows]] range-bucket
    * plan — ONE shuffle keyed by bucket with `windowSize` forward-carry
    * rows per boundary — NOT a single-task `Window.orderBy` (the
    * PlanLintSpec scale rule). The sort key is `name ‖ '|' ‖ zero-padded
    * id`: unique (deterministic neighbor sets under duplicate names) yet
    * name-ordered, so near-identical names are adjacent. Pairs score with
    * codegen'd Jaro–Winkler; the ROUND6 threshold rule as
    * [[jaroLinkage]]. Output: canonical (least, greatest) id pairs with
    * their names and similarity. */
  def sortedNeighborhood(df: DataFrame, idCol: String, nameCol: String,
                         windowSize: Int, minSim: Double): DataFrame = {
    require(windowSize >= 1, "windowSize must be >= 1")
    val keyed = df.select(
      concat(col(nameCol), lit("|"),
        lpad(col(idCol).cast("string"), 12, "0")).as("__sk"),
      struct(col(idCol).cast("long").as("id"),
        col(nameCol).as("nm")).as("__rec"))
    val ser = graft.core.Series.fromExpr(keyed, col("__rec"), "__rec",
      col("__sk"), "__sk")
    val gw = ser.globalWindows(fcarry = windowSize)
    val nbCols = (1 to windowSize).map(k => s"__nb$k" -> gw.lead(k))
    val base = gw.result((("__rec" -> gw.value)) +: nbCols: _*)
    base
      .select(col("__rec"), explode(array(
        (1 to windowSize).map(k => col(s"__nb$k")): _*)).as("__nb"))
      .filter(col("__nb").isNotNull)
      .select(
        least(col("__rec.id"), col("__nb.id")).as("id1"),
        greatest(col("__rec.id"), col("__nb.id")).as("id2"),
        when(col("__rec.id") <= col("__nb.id"), col("__rec.nm"))
          .otherwise(col("__nb.nm")).as("name1"),
        when(col("__rec.id") <= col("__nb.id"), col("__nb.nm"))
          .otherwise(col("__rec.nm")).as("name2"),
        TextOps.round6(graft.functions.JaroWinkler.jaroWinkler(
          col("__rec.nm"), col("__nb.nm"))).as("sim6"))
      .filter(col("sim6") >= minSim)
  }

  /** Exact Jaccard pair join by PREFIX FILTERING (the AllPairs/PPJoin
    * family; the distributed formulation is Vernica, Carey & Li,
    * SIGMOD'10): order every document's distinct shingle hashes by a
    * GLOBAL total order (document frequency ascending, hash ascending —
    * rarest first), keep only each document's first
    * `|x| − ⌈t·|x|⌉ + 1` shingles as its PREFIX, and generate candidate
    * pairs from prefix-posting collisions only. Complete by the prefix
    * principle: for any pair with J ≥ t, the first common shingle in the
    * global order lies inside BOTH prefixes (at most `|x| − ⌈t·|x|⌉`
    * exclusive elements can precede it on each side). Candidates then
    * verify with the exact intersection over the full shingle sets.
    *
    * Same answer as [[jaccardPairs]], different scale lever: the
    * self-join runs over the RAREST ~(1−t) fraction of each document's
    * postings instead of all of them — at t = 0.8 that is 5× fewer join
    * rows and quadratically fewer collisions, with zero recall risk
    * (the stop-shingle cap trades exactness for cost; this trades
    * nothing). Verification carries each candidate's two sorted hash
    * arrays — per-pair state bounded by document length.
    *
    * Plan: one posting build (persisted), one df aggregation, a keyed
    * rank window (per-doc, never global), the prefix self-join, and one
    * set-verify projection. */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    val sh = graft.Caches.track(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
        .select(col("id"), explode(
          graft.functions.ShingleHashes.shingleHashes(col("__txt"), n))
          .as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // ONE per-doc aggregation serves both the prefix-length filter (nsh)
    // and the verification arrays
    val sets = graft.Caches.track(
      sh.groupBy("id")
        .agg(sort_array(collect_list(col("sh"))).as("set"),
          count(lit(1)).as("nsh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = sets.select(col("id"), col("nsh"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val prefix = sh.join(dfreq, "sh")
      .withColumn("__rk", row_number().over(wOrd))
      .join(sizes, "id")
      .filter(col("__rk") <=
        col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
      .select(col("id"), col("sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(sets.select(col("id").as("id1"), col("set").as("s1"),
        col("nsh").as("n1")), "id1")
      .join(sets.select(col("id").as("id2"), col("set").as("s2"),
        col("nsh").as("n2")), "id2")
      .withColumn("__i", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jaccard",
        col("__i").cast("double")
          / (col("n1") + col("n2") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct-cardinality sketch per
    * group, with the exact count alongside: hash every set element,
    * keep each group's k smallest DISTINCT hashes, and estimate
    * `D ≈ (k−1)·2⁶⁰ / h₍ₖ₎` from the k-th order statistic (Bar-Yossef
    * et al. 2002). The sketch the dedup tier wants for cheap per-shard
    * shingle-cardinality datasheets: bottom-k sets are union-mergeable
    * (the bottom-k of a union is the bottom-k of the merged bottom-ks),
    * so shard sketches combine without re-reading data.
    *
    * Plan shape: explode → hash → (group, hash) distinct (one shuffle),
    * then a per-group bottom-k window (WindowGroupLimit per-partition
    * heaps) and a per-group count — both over the deduped frame, which
    * persists once. Groups with fewer than k distinct hashes have no
    * k-th order statistic and drop (the sketch isn't full — report the
    * exact count instead at call sites that need them).
    *
    * Determinism: [[portableHash60]] hashes are engine-portable; the
    * estimate is one double division of exact integers, so even the
    * APPROXIMATE estimate hash-matches a DuckDB replay (the d05/v02
    * portability discipline). */
  def kmvDistinct(df: DataFrame, groupCol: String, setCol: Column,
                  k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val hs = graft.Caches.track(df
      .select(col(groupCol).as("g"), explode(setCol).as("t"))
      .select(col("g"), portableHash60(col("t")).as("h"))
      .dropDuplicates("g", "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h").asc)
    val kth = hs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === k)
      .select(col("g"), col("h").as("hk"))
    val exact = hs.groupBy("g").agg(count(lit(1)).as("n_exact"))
    val est = (lit((k - 1).toDouble) * lit((1L << 60).toDouble)) /
      col("hk").cast("double")
    exact.join(kth, "g")
      .select(col("g"), col("n_exact"),
        TextOps.round2(est).as("kmv_est"),
        TextOps.round6((est - col("n_exact").cast("double")) /
          col("n_exact").cast("double")).as("rel_err"))
  }
}
