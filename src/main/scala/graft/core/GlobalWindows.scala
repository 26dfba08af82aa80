package graft.core

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Distributed global-order window engine: the shared range-bucket two-pass
  * machinery behind the pandas-parity global window family (cumsum / cummax /
  * cummin / shift / diff / pctChange / rolling* / positional slicing /
  * ffill / bfill).
  *
  * The problem: `Window.orderBy(index)` with no partition spec executes the
  * whole frame on ONE task — correct, but a scale-killer. The fix, shared by
  * every op here (generalized from the original cumsum-only two-pass):
  *
  *   1. one min/max agg job derives the index range (parquet footer stats
  *      make this near-free on a plain scan);
  *   2. rows are bucketed by equal-width index ranges — buckets are
  *      range-ordered by construction (floor((idx−lo)/width) is monotone in
  *      idx), so every row in bucket b sorts before every row in bucket b+1
  *      and all windows become `Window.partitionBy(__bkt).orderBy(idx)`:
  *      ONE shuffle keyed by bucket, each bucket an independent task;
  *   3. cross-bucket context is bounded carry-over:
  *      - prefix aggregates (cumsum/cummax/cummin/position/ffill/bfill):
  *        per-bucket partial aggregates — exactly `buckets` rows of driver
  *        state (like IVF centroids) — accumulate sequentially into
  *        EXCLUSIVE offsets and rejoin as a broadcast of `buckets` rows;
  *      - offset windows (shift/diff/pctChange/rolling n): the global last
  *        `carry` rows before each bucket's range start are replayed into
  *        that bucket as flagged carry rows (≤ carry × buckets rows,
  *        collected once), so `lag`/trailing frames see their true global
  *        predecessors; symmetrically, the global FIRST `fcarry` rows
  *        after each bucket's range end are replayed backward so `lead`
  *        (negative shift) sees its true global successors; carry rows are
  *        dropped after the window.
  *
  * Multiple window expressions over one builder share the bucketed frame,
  * the persisted scan, and a single Window stage — the same one-scan
  * composition the lazy single-task ops had (see s22/s32 gates).
  *
  * Orderable-index bucketing: equal-width bucketing needs a MONOTONE
  * NUMERIC COORDINATE of the index, not a numeric index. Numeric indexes
  * use their own value; date/timestamp use epoch days/seconds; strings and
  * binary map through the first 8 bytes AFTER the corpus-wide common
  * prefix read as a big-endian unsigned integer (byte-wise monotone, so
  * bucket order agrees with UTF8_BINARY string order and Spark's unsigned
  * binary order; the common prefix comes free from the same min/max agg
  * that numeric bounds use — "Customer#000..." fixtures would otherwise
  * collapse into one bucket). Null index labels ride in bucket 0 where
  * ascending nulls-first ordering puts them exactly where the global
  * window had them. Any other index dtype (boolean, …) has no coordinate
  * and runs as ONE bucket — the single-task ordered window, so every
  * global-order op has this one plan for every index dtype. A skewed
  * index degrades bucket balance, not correctness.
  * Association of parallel-summed doubles differs from the sequential
  * window in the last ulps — round money results (the DuckDB-oracle
  * tolerance, same as s18/s29).
  */
final class GlobalWindows private[graft] (
    s: Series, buckets: Int, carry: Int, extra: Seq[(String, Column)],
    fcarry: Int = 0, balanced: Boolean = false) {

  require(buckets >= 1, "buckets must be >= 1")
  require(carry >= 0, "carry must be >= 0")
  require(fcarry >= 0, "fcarry must be >= 0")

  import GlobalWindows._

  private val F = org.apache.spark.sql.functions
  private val idxName = s.indexName
  private val valName = s.name

  /** Two-column (+ passthrough extras) projection over the Series base. */
  private val d: DataFrame = s.base.select(
    s.index.as(idxName) +: s.values.as(valName) +:
      extra.map { case (n, c) => c.as(n) }: _*)

  /** Bucket id per row and the index coordinate ([[bucketing]]). */
  private val (bktExpr, coordExpr): (Column, Option[Column]) =
    bucketing(d, idxName, buckets, balanced)

  /** Real rows, bucketed; persisted — consumed by the stats/carry jobs AND
    * the returned windowed plan (tracked in [[graft.Caches]]). */
  private val keyed: DataFrame = graft.Caches.track(
    d.withColumn(Bkt, bktExpr).persist(StorageLevel.MEMORY_AND_DISK))

  /** keyed ∪ carry rows. Carry construction: per-bucket last `carry` rows
    * (a bounded row_number top-k per bucket) collect to the driver; a
    * single forward walk over buckets maintains the ring of the global
    * last-`carry` rows and replays the ring state at each bucket boundary
    * as that bucket's carries. Forward carries (`fcarry` — lead support)
    * are the mirror image: per-bucket FIRST `fcarry` rows, one BACKWARD
    * walk maintaining the ring of the global next-`fcarry` rows. */
  private val frame: DataFrame = {
    val tagged = keyed.withColumn(CarryCol, lit(false))
    if (carry == 0 && fcarry == 0) tagged
    else {
      val bktPos = keyed.schema.fieldIndex(Bkt)
      val idxPos = keyed.schema.fieldIndex(idxName)
      val out = mutable.Buffer.empty[Row]
      if (carry > 0) {
        val wdesc = Window.partitionBy(col(Bkt))
          .orderBy(col(idxName).desc_nulls_last)
        val tails = keyed
          .withColumn("__gw_rn", row_number().over(wdesc))
          .filter(col("__gw_rn") <= carry).drop("__gw_rn")
          .collect() // ≤ carry × buckets rows — bounded driver state
        val byBucket = tails.groupBy(_.getLong(bktPos))
        val ring = mutable.ArrayDeque.empty[Row] // oldest..newest, ≤ carry
        byBucket.keys.toSeq.sorted.foreach { b =>
          ring.foreach { r =>
            out += Row.fromSeq(r.toSeq.updated(bktPos, b) :+ true)
          }
          byBucket(b).sortBy(_.get(idxPos))(AnyOrd).foreach { r =>
            ring.append(r)
            if (ring.size > carry) ring.removeHead()
          }
        }
      }
      if (fcarry > 0) {
        val wasc = Window.partitionBy(col(Bkt))
          .orderBy(col(idxName).asc_nulls_first)
        val heads = keyed
          .withColumn("__gw_rn", row_number().over(wasc))
          .filter(col("__gw_rn") <= fcarry).drop("__gw_rn")
          .collect() // ≤ fcarry × buckets rows — bounded driver state
        val byBucket = heads.groupBy(_.getLong(bktPos))
        // nearest..farthest global successors, ≤ fcarry
        var ring = List.empty[Row]
        byBucket.keys.toSeq.sorted.reverse.foreach { b =>
          ring.foreach { r =>
            out += Row.fromSeq(r.toSeq.updated(bktPos, b) :+ true)
          }
          ring = (byBucket(b).sortBy(_.get(idxPos))(AnyOrd).toList ++ ring)
            .take(fcarry)
        }
      }
      val schema = StructType(keyed.schema.fields :+
        StructField(CarryCol, BooleanType, nullable = false))
      if (out.isEmpty) tagged
      else tagged.unionByName(
        d.sparkSession.createDataFrame(out.asJava, schema))
    }
  }

  private val w = Window.partitionBy(col(Bkt)).orderBy(col(idxName).asc)
  private val cumw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  def idx: Column = col(idxName)
  def value: Column = col(valName)
  /** Carry rows nulled out — prefix aggregates must not double-count them. */
  private def realValue: Column = when(!col(CarryCol), col(valName))

  // ---------------------------------------------------- cross-bucket offsets

  private var needOffsets = false
  private def off(c: String): Column = { needOffsets = true; col(c) }
  /** Extra columns whose exclusive per-bucket running SUM must also ride in
    * [[offsetsDF]] (registered by [[cumsumExtra]] before result() forces
    * the lazy offsets job). */
  private val sumExtras = mutable.LinkedHashSet.empty[String]

  /** Interpolation coordinates whose prev/next NON-NULL-value offsets must
    * ride in [[offsetsDF]] (registered by [[interpolate]] before result()
    * forces the lazy offsets job). Key = coordinate name ([[IdxCoordKey]]
    * for the index coordinate); value = the double coordinate column. */
  private val interpCoords = mutable.LinkedHashMap.empty[String, Column]

  private lazy val valueDt = d.schema(valName).dataType
  private lazy val numericValue = valueDt.isInstanceOf[NumericType]

  /** Per-bucket EXCLUSIVE running aggregates as a `buckets`-row frame,
    * broadcast-joined back on __bkt. One stats job serves every
    * offset-needing op on this builder; dtype-generic (the driver scan
    * compares via Comparable and sums in the aggregate's own type). */
  private lazy val offsetsDF: DataFrame = {
    val aggs = mutable.Buffer[Column](
      F.count(lit(1)).as("__gw_cnt"),
      F.max(col(valName)).as("__gw_mx"),
      F.min(col(valName)).as("__gw_mn"),
      // last/first NON-NULL value by index order (ffill/bfill carry state);
      // rows with a null ordering expr are skipped by max_by/min_by
      F.max_by(col(valName), when(col(valName).isNotNull, col(idxName)))
        .as("__gw_lastnn"),
      F.min_by(col(valName), when(col(valName).isNotNull, col(idxName)))
        .as("__gw_firstnn"))
    if (numericValue) aggs += F.sum(col(valName)).as("__gw_sm")
    val exNames = sumExtras.toSeq
    exNames.foreach { e => aggs += F.sum(col(e)).as(s"__gw_xs_$e") }
    val ipNames = interpCoords.keys.toSeq
    ipNames.foreach { k =>
      val c = interpCoords(k)
      // coordinate of the bucket's last/first non-null-VALUE row: the
      // coordinate is monotone in the index, so max/min over non-null
      // rows IS the boundary row's coordinate — no max_by tie hazard
      aggs += F.max(when(col(valName).isNotNull, c)).as(s"__gw_ipl_$k")
      aggs += F.min(when(col(valName).isNotNull, c)).as(s"__gw_ipf_$k")
    }
    val statsDf = keyed.groupBy(col(Bkt))
      .agg(aggs.head, aggs.tail.toSeq: _*)
    val sumDt =
      if (numericValue) statsDf.schema("__gw_sm").dataType else valueDt
    val exDts = exNames.map(e => statsDf.schema(s"__gw_xs_$e").dataType)
    val stats = statsDf.collect().sortBy(_.getLong(0))

    val n = stats.length
    val iCnt = statsDf.schema.fieldIndex("__gw_cnt")
    val iMx = statsDf.schema.fieldIndex("__gw_mx")
    val iMn = statsDf.schema.fieldIndex("__gw_mn")
    val iFf = statsDf.schema.fieldIndex("__gw_lastnn")
    val iBf = statsDf.schema.fieldIndex("__gw_firstnn")
    val iSm = if (numericValue) statsDf.schema.fieldIndex("__gw_sm") else -1
    val iEx = exNames.map(e => statsDf.schema.fieldIndex(s"__gw_xs_$e"))
    val iIpl = ipNames.map(k => statsDf.schema.fieldIndex(s"__gw_ipl_$k"))
    val iIpf = ipNames.map(k => statsDf.schema.fieldIndex(s"__gw_ipf_$k"))

    // backward pass first: first non-null value of any FOLLOWING bucket
    val bfOff = new Array[Any](n)
    var bf: Any = null
    for (i <- stats.indices.reverse) {
      bfOff(i) = bf
      val fn = stats(i).get(iBf)
      if (fn != null) bf = fn
    }
    // backward pass: next non-null-value COORDINATE per registered
    // interpolation coordinate (mirrors bfOff)
    val ncOff = Array.ofDim[Any](n, ipNames.length)
    val ncCur = Array.fill[Any](ipNames.length)(null)
    for (i <- stats.indices.reverse; j <- ipNames.indices) {
      ncOff(i)(j) = ncCur(j)
      val f = stats(i).get(iIpf(j))
      if (f != null) ncCur(j) = f
    }
    // forward pass: exclusive count / max / min / sum / last-non-null
    var cnt = 0L
    var mx: Any = null
    var mn: Any = null
    var ff: Any = null
    var sm: Any = null
    val exSm = Array.fill[Any](exNames.length)(null)
    val pcCur = Array.fill[Any](ipNames.length)(null)
    val rows = stats.zipWithIndex.map { case (r, i) =>
      val out = Row.fromSeq(Seq(r.getLong(0), cnt, mx, mn, sm, ff,
        bfOff(i)) ++ pcCur.toSeq ++ ncOff(i).toSeq ++ exSm.toSeq)
      cnt += r.getLong(iCnt)
      mx = pickBy(mx, r.get(iMx), gtr = true)
      mn = pickBy(mn, r.get(iMn), gtr = false)
      if (r.get(iFf) != null) ff = r.get(iFf)
      if (numericValue) sm = addAny(sm, r.get(iSm), sumDt)
      for (j <- ipNames.indices)
        if (r.get(iIpl(j)) != null) pcCur(j) = r.get(iIpl(j))
      for (j <- exNames.indices)
        exSm(j) = addAny(exSm(j), r.get(iEx(j)), exDts(j))
      out
    }
    val schema = StructType(Seq(
      StructField(Bkt, LongType, nullable = false),
      StructField(CntOff, LongType, nullable = false),
      StructField(MaxOff, valueDt, nullable = true),
      StructField(MinOff, valueDt, nullable = true),
      StructField(SumOff, sumDt, nullable = true),
      StructField(FfOff, valueDt, nullable = true),
      StructField(BfOff, valueDt, nullable = true)) ++
      ipNames.map(k => StructField(ipOffP(k), DoubleType, nullable = true)) ++
      ipNames.map(k => StructField(ipOffN(k), DoubleType, nullable = true)) ++
      exNames.zip(exDts).map { case (e, dt) =>
        StructField(exOff(e), dt, nullable = true) })
    d.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
  }

  // -------------------------------------------------------------- operators

  /** Global cumulative sum: within-bucket prefix + exclusive sum offset. */
  def cumsum(): Column = {
    val c = F.sum(realValue).over(cumw)
    val o = off(SumOff)
    when(o.isNull, c).when(c.isNull, o).otherwise(c + o)
  }

  /** Global cumulative sum of a passthrough `extra` column (same plan shape
    * as [[cumsum]]; several extras share the one stats job + broadcast).
    * Register-before-result: must be called before [[result]] forces the
    * lazy offsets job. */
  def cumsumExtra(n: String): Column = {
    require(extra.exists(_._1 == n),
      s"cumsumExtra('$n') is not a declared extra column")
    sumExtras += n
    val c = F.sum(when(!col(CarryCol), col(n))).over(cumw)
    val o = off(exOff(n))
    when(o.isNull, c).when(c.isNull, o).otherwise(c + o)
  }

  /** Global cumulative max (greatest skips the null first-bucket offset). */
  def cummax(): Column = greatest(F.max(realValue).over(cumw), off(MaxOff))

  /** Global cumulative min. */
  def cummin(): Column = least(F.min(realValue).over(cumw), off(MinOff))

  /** EXCLUSIVE global prefix max — the running max of all STRICTLY
    * preceding rows (null on the very first row). Same offset machinery as
    * [[cummax]] with the in-bucket frame ending at the previous row; the
    * null-skipping `greatest` merges the bucket-exclusive offset. Powers
    * dominance tests (2-D skyline: a point survives iff its y exceeds the
    * prefix max over smaller x — see [[GFrame.skyline]]). */
  def cummaxExclusive(): Column = greatest(
    F.max(realValue).over(w.rowsBetween(Window.unboundedPreceding, -1)),
    off(MaxOff))

  /** Global lag(n) — needs `n <= carry` so every bucket holds its true
    * global predecessors as carry rows. */
  def shift(n: Int = 1): Column = {
    require(n >= 0 && n <= carry,
      s"shift($n) needs a builder with carry >= $n (have $carry)")
    lag(col(valName), n).over(w)
  }

  /** Global discrete difference v − v.shift(n). */
  def diff(n: Int = 1): Column = col(valName) - shift(n)

  /** Global lead(n) (pandas shift(-n)) — needs `n <= fcarry` so every
    * bucket holds its true global successors as forward carry rows. */
  def lead(n: Int = 1): Column = {
    require(n >= 1 && n <= fcarry,
      s"lead($n) needs a builder with fcarry >= $n (have $fcarry)")
    F.lead(col(valName), n).over(w)
  }

  /** Global backward difference v − v.shift(-n) (pandas diff(-n)). */
  def diffLead(n: Int = 1): Column = col(valName) - lead(n)

  /** Global fractional change; try_divide → null on a zero previous value
    * (not an ANSI abort). */
  def pctChange(periods: Int = 1): Column = {
    val prev = shift(periods)
    try_divide(col(valName) - prev, prev)
  }

  /** Global fractional change against the FOLLOWING value (pandas
    * pct_change(-n): v / v.shift(-n) − 1) — the lead-carry sibling. */
  def pctChangeLead(n: Int = 1): Column = {
    val nxt = lead(n)
    try_divide(col(valName) - nxt, nxt)
  }

  private def rolling(n: Int)(f: Column => Column): Column = {
    require(n >= 1, "rolling window size must be >= 1")
    require(n - 1 <= carry,
      s"rolling($n) needs a builder with carry >= ${n - 1} (have $carry)")
    val rw = w.rowsBetween(-(n - 1), 0)
    when(F.count(col(valName)).over(rw) === n, f(col(valName)).over(rw))
  }

  /** Trailing-n rolling aggregates, pandas min_periods = n (null until the
    * frame holds n non-null observations — carry rows count, they ARE the
    * true global predecessors). */
  def rollingMean(n: Int): Column = rolling(n)(avg)
  def rollingSum(n: Int): Column = rolling(n)(F.sum(_))
  def rollingMin(n: Int): Column = rolling(n)(F.min(_))
  def rollingMax(n: Int): Column = rolling(n)(F.max(_))
  def rollingStd(n: Int): Column = rolling(n)(stddev_samp)
  /** Exact trailing-n quantile (pandas rolling(n).quantile(q),
    * interpolation='linear' — SQL percentile_cont): the sort-based
    * percentile aggregate evaluated over the carry-complete frame. */
  def rollingQuantile(n: Int, q: Double): Column =
    rolling(n)(c => percentile(c, lit(q)))
  def rollingMedian(n: Int): Column = rollingQuantile(n, 0.5)

  /** Trailing-n WEIGHTED mean (pandas rolling(n, win_type=...).mean()):
    * Σ wᵢ·v[t−n+1+i] / Σ wᵢ spelled as a fixed left-to-right chain of n
    * lag terms — per-row arithmetic with one deterministic association
    * order (no frame aggregate, no parallel reduction), so an oracle
    * spelling the identical chain is bit-identical. A null or missing
    * value anywhere in the frame nulls the result through `+`'s null
    * propagation — exactly pandas' weighted-window semantics (win_type
    * aggregations don't skip NaN; min_periods = n). */
  def rollingWeightedMean(weights: Seq[Double]): Column = {
    val n = weights.length
    require(n >= 1, "rolling window size must be >= 1")
    require(n - 1 <= carry,
      s"rollingWeighted($n) needs a builder with carry >= ${n - 1} (have $carry)")
    val terms = weights.zipWithIndex.map { case (wt, i) =>
      F.lag(col(valName), n - 1 - i).over(w) * lit(wt)
    }
    terms.reduceLeft(_ + _) / lit(weights.sum)
  }

  /** pandas rolling(n).skew() — SAMPLE skewness (bias-corrected G1, the
    * pandas/DuckDB convention) converted from Spark's population
    * skewness over the carry-complete frame: G1 = g1·√(n(n−1))/(n−2). */
  def rollingSkew(n: Int): Column = {
    require(n >= 3, "rolling skew needs a window of >= 3")
    rolling(n)(c => F.skewness(c.cast("double"))) *
      lit(Series.skewFactor(n))
  }

  /** pandas rolling(n).kurt() — sample EXCESS kurtosis (G2) from Spark's
    * population excess kurtosis: G2 = ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3)). */
  def rollingKurt(n: Int): Column = {
    require(n >= 4, "rolling kurt needs a window of >= 4")
    (rolling(n)(c => F.kurtosis(c.cast("double"))) * lit(n + 1.0) +
      lit(6.0)) * lit(Series.kurtFactor(n))
  }

  /** Trailing-`n` PAIRWISE aggregate (rolling corr/cov) over the value and
    * a declared `extra` column: null until the frame holds `n` complete
    * pairs (both sides non-null — pandas drops incomplete pairs
    * pairwise). Carry rows participate as the true global predecessors,
    * exactly like the single-column rolling family. */
  def rollingPair(n: Int, other: String, f: Series.PairAgg): Column = {
    require(extra.exists(_._1 == other),
      s"rollingPair('$other') is not a declared extra column")
    require(n >= 1, "rolling window size must be >= 1")
    require(n - 1 <= carry,
      s"rollingPair($n) needs a builder with carry >= ${n - 1} (have $carry)")
    val rw = w.rowsBetween(-(n - 1), 0)
    val pairs = F.count(
      when(col(valName).isNotNull && col(other).isNotNull, 1)).over(rw)
    when(pairs === n, f(col(valName), col(other), _.over(rw)))
  }

  /** CENTERED rolling mean (pandas rolling(n, center=True).mean(): the
    * label sits mid-window — frame [−⌊n/2⌋, +⌊(n−1)/2⌋]); needs
    * carry ≥ ⌊n/2⌋ AND fcarry ≥ ⌊(n−1)/2⌋ so both edges of every bucket
    * see their true global neighbors (the lag carries feed the trailing
    * half, the new lead carries the leading half). pandas
    * min_periods = n: null until the full frame is present. */
  def rollingMeanCentered(n: Int): Column = {
    require(n >= 1, "rolling window size must be >= 1")
    val lo = n / 2
    val hi = (n - 1) / 2
    require(lo <= carry,
      s"rollingCentered($n) needs a builder with carry >= $lo (have $carry)")
    require(hi <= fcarry,
      s"rollingCentered($n) needs a builder with fcarry >= $hi (have $fcarry)")
    val rw = w.rowsBetween(-lo, hi)
    when(F.count(col(valName)).over(rw) === n, avg(col(valName)).over(rw))
  }

  /** 1-based global ordinal position: within-bucket real-row count +
    * exclusive bucket count offset. */
  def position(): Column =
    F.sum(when(!col(CarryCol), lit(1L))).over(cumw) + off(CntOff)

  /** Global forward-fill: within-bucket last non-null, else the last
    * non-null of any preceding bucket. */
  def ffill(): Column = coalesce(
    F.last(realValue, ignoreNulls = true).over(cumw), off(FfOff))

  /** Global backward-fill (offsets run bucket-reversed). */
  def bfill(): Column = coalesce(
    F.first(realValue, ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)),
    off(BfOff))

  /** Global interpolation (pandas s.interpolate()): interior nulls take
    * the line between their non-null neighbors along a monotone DOUBLE
    * coordinate — the index coordinate (`coordName = None`, pandas
    * method='index') or a declared extra column (e.g. a staged global row
    * position for pandas method='linear'). Cross-bucket context is four
    * bounded offsets: the prev/next non-null VALUE (the ffill/bfill
    * offsets) plus the prev/next non-null COORDINATE (two new per-bucket
    * scalars registered here — [[offsetsDF]] walks them exactly like
    * ffill's). Edge runs follow pandas limit_direction: forward carries
    * the last observation into trailing gaps, backward back-fills leading
    * gaps, both does both. `limit` caps how many rows of a null run are
    * filled, counted from the run's anchor on the fill side along
    * `posName` (a declared extra holding the global row position).
    * Register-before-result, like [[cumsumExtra]]. */
  def interpolate(coordName: Option[String] = None,
      direction: String = "forward", limit: Option[Int] = None,
      posName: Option[String] = None,
      method: String = "linear"): Column = {
    require(Set("forward", "backward", "both")(direction),
      s"limit_direction must be forward|backward|both, got '$direction'")
    require(Set("linear", "nearest")(method),
      s"interior method must be linear|nearest, got '$method'")
    limit.foreach(l => require(l >= 1, s"limit must be >= 1, got $l"))
    def reg(n: Option[String]): (String, Column) = {
      val key = n.getOrElse(IdxCoordKey)
      n.foreach(e => require(extra.exists(_._1 == e),
        s"interpolate coordinate '$e' is not a declared extra column"))
      require(n.isDefined || coordExpr.isDefined,
        "method='index'/'nearest' needs an orderable (numeric/date/string) index")
      val c = n.map(col).getOrElse(coordExpr.get).cast("double")
      interpCoords(key) = c
      (key, c)
    }
    val (ck, coordC) = reg(coordName)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val pv = ffill()
    val nv = bfill()
    val nnCoord = when(!col(CarryCol) && col(valName).isNotNull, coordC)
    val pc = coalesce(
      F.last(nnCoord, ignoreNulls = true).over(cumw), off(ipOffP(ck)))
    val nc = coalesce(
      F.first(nnCoord, ignoreNulls = true).over(fwd), off(ipOffN(ck)))
    // nearest: snap to the closer anchor, ties -> previous (the <=)
    // linear: guard the degenerate gap where both anchors share a
    // coordinate (duplicate index labels under method='index') — the
    // divisor is 0 and Spark's non-ANSI division would yield NULL,
    // silently leaving the interior unfilled; fall back to the previous
    // anchor deterministically instead
    val interior =
      if (method == "nearest")
        when(coordC - pc <= nc - coordC, pv).otherwise(nv)
      else when(nc =!= pc,
        pv + (nv - pv) * (coordC - pc) / (nc - pc)).otherwise(pv)
    val fillVal = direction match {
      case "forward" =>
        when(pv.isNull, lit(null)).when(nv.isNull, pv).otherwise(interior)
      case "backward" =>
        when(nv.isNull, lit(null)).when(pv.isNull, nv).otherwise(interior)
      case _ =>
        when(pv.isNull && nv.isNull, lit(null))
          .when(pv.isNull, nv).when(nv.isNull, pv).otherwise(interior)
    }
    val allowed = limit match {
      case None => lit(true)
      case Some(l) =>
        val (pk, posC) = reg(Some(posName.getOrElse(throw
          new IllegalArgumentException(
            "limit requires posName (a staged row-position extra)"))))
        val nnPos = when(!col(CarryCol) && col(valName).isNotNull, posC)
        val pPos = coalesce(
          F.last(nnPos, ignoreNulls = true).over(cumw), off(ipOffP(pk)))
        val nPos = coalesce(
          F.first(nnPos, ignoreNulls = true).over(fwd), off(ipOffN(pk)))
        // row distances to the run's anchors; an absent anchor (edge run)
        // leaves its distance null — null comparisons are false, so the
        // other side of an OR still applies for 'both'
        val dprev = posC - pPos
        val dnext = nPos - posC
        direction match {
          case "forward"  => dprev <= l
          case "backward" => dnext <= l
          case _          => dprev <= l || dnext <= l
        }
    }
    when(col(valName).isNotNull, col(valName))
      .otherwise(when(allowed, fillVal))
  }

  // ---------------------------------------------------------------- results

  /** Materialize named expressions alongside the index: join the bucket
    * offsets (broadcast, `buckets` rows) if any op needs them, compute the
    * windows, then drop carry rows. The carry filter cannot push below the
    * Window (it is not a partition key), so windows see the carries and the
    * output does not. */
  def result(cols: (String, Column)*): DataFrame = {
    val f0 =
      if (needOffsets) frame.join(broadcast(offsetsDF), Seq(Bkt), "left")
      else frame
    f0.select(col(idxName) +: col(CarryCol) +:
        cols.map { case (n, c) => c.as(n) }: _*)
      .filter(!col(CarryCol))
      .drop(CarryCol)
  }

  /** Single-expression convenience → Series. */
  private[graft] def series(expr: Column, n: String = valName): Series =
    Series.fromKeyed(result(n -> expr), n, idxName)
}

private[graft] object GlobalWindows {
  val Bkt = "__bkt"
  val CarryCol = "__gw_carry"
  val CntOff = "__gw_cnt_off"
  val MaxOff = "__gw_max_off"
  val MinOff = "__gw_min_off"
  val SumOff = "__gw_sum_off"
  val FfOff = "__gw_ff_off"
  val BfOff = "__gw_bf_off"
  val IdxCoordKey = "__gwidx"
  def exOff(n: String): String = s"__gw_xsum_${n}_off"
  def ipOffP(k: String): String = s"__gw_ipp_${k}_off"
  def ipOffN(k: String): String = s"__gw_ipn_${k}_off"

  /** External numeric value → double (driver-side bounds conversion). */
  private def numAsDouble(a: Any): Double =
    a.asInstanceOf[java.lang.Number].doubleValue()

  /** Range-bucket id of every row of `d` by its index column `idxName`,
    * and the index's per-row monotone double coordinate (None for a dtype
    * with none) — the prologue of every bucketed global-order plan: the
    * window builder, the ewm recurrence ([[Ewm.plan]]), the value-bucketed
    * rank family and searchsorted ([[Series.rankAll]]) and the global
    * as-of join. Pass 1 is one min/max job over the RAW column
    * (near-free off parquet footer stats, which prune on it); the two
    * bounds convert to coordinates once, each row by expression. A
    * degenerate range — one distinct label, an all-null index, or a dtype
    * with no coordinate (boolean, …) — is ONE bucket: the same
    * single-task ordered window, with empty carries and offsets. */
  private[graft] def bucketing(d: DataFrame, idxName: String, buckets: Int,
      balanced: Boolean = false): (Column, Option[Column]) = {
    val idx = col(idxName)
    lazy val bounds = d.agg(min(idx), max(idx)).head()
    indexCoord(d.schema(idxName).dataType, idx, bounds) match {
      case Some((coord, lo, hi)) if lo < hi => // NaN compares false
        val bkt =
          if (!balanced) bucketExpr(idx, coord, lo, hi, buckets)
          else {
            // BALANCED bucketing for skewed indexes: equal-width buckets
            // are balance-only-under-uniformity (a power-law index
            // collapses ~all rows into one bucket = one straggler task).
            // Opt-in alternative: bucket boundaries are the coordinate's
            // approximate quantiles — `buckets − 1` bounded doubles collected
            // from ONE percentile_approx agg — and the bucket id is the
            // count of boundaries strictly below the coordinate (a
            // codegen'd when-fold, monotone in the coordinate, so range
            // order and every carry/offset invariant hold unchanged).
            // Sketch error skews bucket SIZES a little, never correctness.
            // Duplicate cuts (a heavy single value) just leave some bucket
            // ids empty.
            val qs = (1 until buckets).map(_.toDouble / buckets)
            val cuts =
              if (qs.isEmpty) Seq.empty[Double]
              else {
                val row = d.select(percentile_approx(coord.cast("double"),
                  typedlit(qs), lit(10000)).as("c")).head()
                if (row.isNullAt(0)) Seq.empty[Double]
                else row.getSeq[Double](0).distinct.sorted
              }
            when(idx.isNull, lit(0L)).otherwise(
              cuts.foldLeft(lit(0L)) { (acc, c) =>
                acc + when(coord > lit(c), 1L).otherwise(0L)
              })
          }
        (bkt, Some(coord))
      case c => (lit(0L), c.map(_._1))
    }
  }

  /** (per-row monotone double coordinate, lo, hi) of an index dtype that
    * has one, from the raw min/max `bounds` row (read only for such
    * dtypes). NaN lo/hi signals an all-null index. */
  private def indexCoord(dt: DataType, idxCol: Column,
      bounds: => Row): Option[(Column, Double, Double)] = {
    def range(coord: Column)(toDouble: Any => Double) = {
      def at(i: Int) =
        if (bounds.isNullAt(i)) Double.NaN else toDouble(bounds.get(i))
      Some((coord, at(0), at(1)))
    }
    dt match {
      case _: NumericType => range(idxCol.cast("double"))(numAsDouble)
      case DateType => range(unix_date(idxCol).cast("double")) {
        case dt: java.sql.Date => dt.toLocalDate.toEpochDay.toDouble
        case ld: java.time.LocalDate => ld.toEpochDay.toDouble
      }
      // cast timestamp→double = epoch seconds; sub-second drift vs the
      // ms conversion of the bounds is absorbed by the [0, buckets-1] clamp
      case TimestampType | TimestampNTZType => range(idxCol.cast("double")) {
        case ts: java.sql.Timestamp =>
          ts.getTime / 1000.0 // ms precision is plenty for BUCKETING
        case i: java.time.Instant => i.toEpochMilli / 1000.0
        case l: java.time.LocalDateTime =>
          l.toEpochSecond(java.time.ZoneOffset.UTC).toDouble
      }
      case StringType | BinaryType =>
        if (bounds.isNullAt(0)) Some((lit(0.0), Double.NaN, Double.NaN))
        else {
          def bytes(i: Int): Array[Byte] = bounds.get(i) match {
            case b: Array[Byte] => b
            case str: String => str.getBytes("UTF-8")
          }
          val mn = bytes(0)
          val mx = bytes(1)
          // common byte prefix of min&max == common prefix of ALL values
          // under byte-wise (UTF8_BINARY / unsigned binary) ordering
          var p = 0
          while (p < mn.length && p < mx.length && mn(p) == mx(p)) p += 1
          def coordOf(b: Array[Byte]): Double = {
            val sub = java.util.Arrays.copyOfRange(b, math.min(p, b.length),
              math.min(p + 8, b.length))
            // big-endian unsigned, right-padded with 0x00 to 8 bytes;
            // BigInt→double is correctly rounded, matching Spark's
            // string→double cast of conv()'s exact decimal rendering
            BigInt(1, sub ++ Array.fill(8 - sub.length)(0.toByte)).toDouble
          }
          // first 8 bytes after the common prefix, big-endian unsigned —
          // byte-wise monotone, so range buckets agree with string order
          Some((conv(rpad(hex(substring(idxCol.cast("binary"),
            p + 1, 8)), 16, "0"), 16, 10).cast("double"),
            coordOf(mn), coordOf(mx)))
        }
      case _ => None
    }
  }

  /** Equal-width range-bucket id over a monotone coordinate, clamped to
    * [0, buckets-1]; null index labels ride in bucket 0. */
  private def bucketExpr(idxCol: Column, coord: Column, lo: Double,
      hi: Double, buckets: Int): Column = {
    val width = (hi - lo) / buckets
    when(idxCol.isNull, lit(0L)).otherwise(
      greatest(least(floor((coord - lit(lo)) / lit(width)),
        lit(buckets - 1.0)), lit(0.0)).cast("long"))
  }

  /** Null-first ordering over Spark external atomic values, agreeing with
    * Spark's own: strings by UTF-8 byte (`UTF8String`; java.lang.String
    * compares UTF-16 code units, which disagrees past the BMP) and binary
    * as unsigned lexicographic bytes (`Array[Byte]` is not Comparable). */
  val AnyOrd: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Array[Byte], y: Array[Byte]) =>
        java.util.Arrays.compareUnsigned(x, y)
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
  }

  private def pickBy(acc: Any, v: Any, gtr: Boolean): Any =
    if (v == null) acc
    else if (acc == null) v
    else {
      val c = AnyOrd.compare(v, acc)
      if ((gtr && c > 0) || (!gtr && c < 0)) v else acc
    }

  /** Accumulate in the Spark sum-aggregate's own result type. */
  private def addAny(acc: Any, v: Any, dt: DataType): Any =
    if (v == null) acc
    else if (acc == null) v
    else dt match {
      case LongType => acc.asInstanceOf[Long] + v.asInstanceOf[Long]
      case DoubleType => acc.asInstanceOf[Double] + v.asInstanceOf[Double]
      case _: DecimalType =>
        acc.asInstanceOf[java.math.BigDecimal]
          .add(v.asInstanceOf[java.math.BigDecimal])
      case other =>
        throw new IllegalArgumentException(s"unsupported sum type $other")
    }
}
