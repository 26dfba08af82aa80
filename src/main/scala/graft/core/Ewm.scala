package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Distributed exponentially-weighted moving aggregates
  * (pandas `ewm(alpha=..., adjust=..., ignore_na=...).mean()` /
  * `.var(bias=False)`), global index order.
  *
  * The recurrence `y_t = x_t + (1−α)·y_(t−1)` is irreducibly sequential —
  * it has no partial+final Spark aggregate, and the textbook scaled-prefix
  * rewrite (Σ x_i·w^(−i), then multiply by w^t) overflows doubles past a
  * few thousand rows. But it FACTORIZES across range buckets exactly like
  * cumsum: each bucket's decayed partial sums depend only on its own rows,
  * and the cross-bucket carry is the previous total decayed by w^count —
  * all factors ≤ 1, numerically stable at any depth. So:
  *
  *   1. bucket rows by the shared [[GlobalWindows]] index coordinate
  *      (numeric / string / binary / date / timestamp all work);
  *   2. ONE keyed exchange + per-partition external sort, then a
  *      streaming per-bucket scan (mapPartitions with O(1) state — the
  *      sanctioned imperative-per-partition case: nothing declarative
  *      expresses a first-order recurrence) emits per-row within-bucket
  *      decayed partials (Σw, Σw², Σwx, Σwx²) and the decay counter;
  *   3. per-bucket last partials (one small agg) fold SEQUENTIALLY on the
  *      driver — `buckets` rows of state, like every offsets job here —
  *      into exclusive carries, scaled by w^decays per fold step;
  *   4. carries broadcast-join back; each row adds carry·w^dec to its
  *      partials and closes the pandas formulas.
  *
  * Weight parameterization (pandas): `adjust=True` normalizes by Σw_i with
  * every observation entering at weight 1; `adjust=False` gives the FIRST
  * observation weight (1−α)^elapsed and every later one α·(1−α)^elapsed —
  * algebraically `numF = α·num + (1−α)·first`, where `first` is the
  * first observation's decayed contribution, so the adjust=False closing
  * formulas reuse the SAME adjust=True partials plus four first-observation
  * partials (fw/fw2/fx/fx2) that ride the identical bucket-carry fold.
  * `ignore_na=False` (default) decays on EVERY row so gaps widen the
  * effective distance; `ignore_na=True` decays only at observations (the
  * decay counter simply stops ticking on null rows — the per-row carry
  * exponent and the fold exponent both read the counter, so the same
  * machinery serves both). var debiased by (Σw)²/((Σw)²−Σw²); null rows
  * output the running value unchanged, leading rows before any observation
  * are null, and a single observation has null variance.
  *
  * The plan is [[Ewm.plan]], shared with [[EwmPair]] and the keyed
  * [[Ewm.statsBy]] / [[Ewm.pairStatsBy]].
  */
final class Ewm private[graft] (s: Series, alpha: Double, buckets: Int,
    adjust: Boolean = true, ignoreNa: Boolean = false) {
  require(buckets >= 1, "buckets must be >= 1")

  import Ewm._

  /** One-pass (idx, ewm_mean, ewm_var) frame — the plan behind
    * [[mean]]. */
  lazy val stats: DataFrame =
    plan(s, None, None, alpha, buckets, adjust, ignoreNa)(meanVar(alpha, adjust))

  def mean(): Series = Series.fromKeyed(
    stats.select(col(s.indexName), col(MeanCol).as(s.name)), s.name,
    s.indexName)
}

/** Distributed exponentially-weighted PAIRWISE moving aggregates
  * (pandas `ewm(alpha=...).cov(other, bias=False)` / `.corr(other)`),
  * global index order — the bucketed partial + driver-folded carry plan
  * of [[Ewm]] with the pair's three partials added to its four (Σw, Σw²,
  * Σwx, Σwx², Σwy, Σwxy, Σwy²), which is all a decayed co-moment needs:
  *
  *   cov  = (Σwxy·Σw − Σwx·Σwy) / ((Σw)² − Σw²)        (bias=False)
  *   corr = (Σwxy·Σw − Σwx·Σwy) /
  *          √((Σwx²·Σw − Σwx²̄)·(Σwy²·Σw − Σwy²̄))      (debias cancels)
  *
  * A row contributes only when BOTH sides are non-null (pandas' pairwise
  * dropping); `ignore_na=False` (default) decays on every row,
  * `ignore_na=True` only at complete pairs. adjust=True weights
  * (pandas' default; the ewm cov/corr literature rarely uses
  * adjust=False — documented non-goal). Null until the debias
  * denominator is positive (≥ 2 distinct-weight pairs), zero-variance
  * prefixes null via the guarded corr denominator.
  */
final class EwmPair private[graft] (s: Series, y0: Column, alpha: Double,
    buckets: Int, ignoreNa: Boolean = false) {
  require(buckets >= 1, "buckets must be >= 1")

  import Ewm._

  /** One-pass (idx, ewm_cov, ewm_corr) frame. */
  lazy val stats: DataFrame =
    plan(s, Some(y0), None, alpha, buckets, adjust = true, ignoreNa)(covCorr)

  def cov(): Series = Series.fromKeyed(
    stats.select(col(s.indexName), col(CovCol).as(s.name)), s.name,
    s.indexName)
  def corr(): Series = Series.fromKeyed(
    stats.select(col(s.indexName), col(CorrCol).as(s.name)), s.name,
    s.indexName)
}

private[graft] object Ewm {
  /** pandas ewm(span=): α = 2/(span+1) — span=20 is the canonical EMA. */
  def alphaOfSpan(span: Double): Double = {
    require(span >= 1.0, s"span must be >= 1, got $span")
    2.0 / (span + 1.0)
  }

  /** pandas ewm(com=): α = 1/(1+com). */
  def alphaOfCom(com: Double): Double = {
    require(com >= 0.0, s"com must be >= 0, got $com")
    1.0 / (1.0 + com)
  }

  /** pandas ewm(halflife=): α = 1 − exp(−ln2 / halflife). */
  def alphaOfHalflife(halflife: Double): Double = {
    require(halflife > 0.0, s"halflife must be > 0, got $halflife")
    1.0 - math.exp(-math.log(2.0) / halflife)
  }

  /** Keyed ewm (pandas groupby(by).ewm(...).mean()/.var(bias=False)):
    * each group is an independent recurrence — a bucket that gets no
    * carry — so [[plan]] runs ONE hash exchange on the key, a
    * per-partition (key, idx) external sort and the streaming scan, and
    * closes each row from its own group's partials. Output: (idx, key,
    * ewm_mean, ewm_var). Same pandas weight semantics as the global
    * [[Ewm]], adjust=False included. */
  def statsBy(s: Series, by: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false): DataFrame =
    plan(s, None, Some(by), alpha, 1, adjust, ignoreNa)(meanVar(alpha, adjust))

  /** Keyed ewm cov/corr (pandas groupby(by).ewm(alpha).cov(other,
    * bias=False)/.corr(other)): independent per-key recurrences through
    * [[plan]] — adjust=True weights, pairwise dropping, same closing
    * algebra as [[EwmPair]]. Output: (idx, key, ewm_cov, ewm_corr). */
  def pairStatsBy(s: Series, y0: Column, by: Column, alpha: Double,
      ignoreNa: Boolean = false): DataFrame =
    plan(s, Some(y0), Some(by), alpha, 1, adjust = true, ignoreNa)(covCorr)

  /** The one ewm plan. Rows group by `by` (keyed) or by the
    * [[GlobalWindows.bucketing]] bucket of the index (global); ONE hash
    * exchange on the group and a per-partition (group, idx) sort feed a
    * streaming O(1)-state scan that emits, per row, its group's decayed
    * partials ([[Partials]]: the first four for a single Series, all
    * seven with `y`) plus the four [[Firsts]] when `adjust` is false.
    * Keyed: `close` reads those partials as they are. Global: the
    * per-bucket last partials fold on the driver into exclusive carries
    * (broadcast back), and `close` reads partial + carry·w^dec. Output:
    * (idx, [key,] the `close` columns). */
  private[core] def plan(s: Series, y: Option[Column], by: Option[Column],
      alpha: Double, buckets: Int, adjust: Boolean, ignoreNa: Boolean)(
      close: (String => Column) => Seq[Column]): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val w = 1.0 - alpha
    val idxName = s.indexName
    // input layout: (idx, x, [y,] group)
    val d0 = s.base.select(Seq(s.index.as(idxName),
      s.values.cast("double").as(XCol)) ++ y.map(_.cast("double").as(YCol)) ++
      by.map(_.as(KeyCol)): _*)
    val grp = if (by.isDefined) KeyCol else BktCol
    val d = if (by.isDefined) d0
      else d0.withColumn(BktCol, GlobalWindows.bucketing(d0, idxName, buckets)._1)
    val width = d.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = d.repartition(width, col(grp))
      .sortWithinPartitions(col(grp).asc, col(idxName).asc_nulls_first)

    val nMain = if (y.isDefined) 7 else 4
    val names = Partials.take(nMain) ++ (if (adjust) Nil else Firsts)
    val outSchema = StructType(Seq(d.schema(idxName), d.schema(grp),
      StructField(PosCol, LongType, nullable = false),
      StructField(DecCol, LongType, nullable = false)) ++
      names.map(StructField(_, DoubleType, nullable = false)))
    // locals only: the task closure must not capture the enclosing object
    val decay = names.map(p => if (Squared(p)) w * w else w).toArray
    val pair = y.isDefined
    val grpPos = d.schema.fieldIndex(grp)
    val scanned = sorted.mapPartitions { it =>
      // a hash partition can hold SEVERAL groups (sorted contiguously);
      // state resets at each group change — O(1) memory, streaming
      var started = false
      var cur: Any = null
      var pos = -1L
      var dec = 0L
      val acc = new Array[Double](decay.length)
      var seen = false
      it.map { r =>
        val g = r.get(grpPos)
        if (!started || g != cur) {
          started = true; cur = g; pos = -1L; dec = 0L
          java.util.Arrays.fill(acc, 0.0); seen = false
        }
        pos += 1
        val valid = !r.isNullAt(1) && !(pair && r.isNullAt(2))
        if (!ignoreNa || valid) {
          dec += 1
          for (j <- acc.indices) acc(j) *= decay(j)
        }
        if (valid) {
          val x = r.getDouble(1)
          acc(0) += 1.0; acc(1) += 1.0; acc(2) += x; acc(3) += x * x
          if (pair) {
            val yv = r.getDouble(2)
            acc(4) += yv; acc(5) += x * yv; acc(6) += yv * yv
          }
          if (!adjust && !seen) {
            acc(nMain) = 1.0; acc(nMain + 1) = 1.0
            acc(nMain + 2) = x; acc(nMain + 3) = x * x
          }
          seen = true
        }
        Row.fromSeq(Seq(r.get(0), g, pos, dec) ++ acc)
      }
    }(Encoders.row(outSchema))

    if (by.isDefined)
      return scanned.select(col(idxName) +: col(KeyCol) +: close(col): _*)

    // per-bucket closing partials (`buckets` rows of driver state), folded
    // sequentially into EXCLUSIVE carries — the previous total decayed by
    // w^(bucket decay count), every factor <= 1
    val parts = graft.Caches.track(
      scanned.persist(StorageLevel.MEMORY_AND_DISK))
    val lastRows = parts.groupBy(col(BktCol))
      .agg(max_by(struct(col(DecCol) +: names.map(col): _*), col(PosCol)))
      .collect().sortBy(_.getLong(0))
    val c = new Array[Double](names.length)
    val carryRows = lastRows.map { r =>
      val out = Row.fromSeq(r.getLong(0) +: c.toSeq)
      val last = r.getStruct(1)
      val decs = last.getLong(0).toDouble
      val dk = math.pow(w, decs)
      val dk2 = math.pow(w * w, decs)
      def step(j: Int): Double = if (Squared(names(j))) dk2 else dk
      // the global FIRST observation lives in the earliest bucket that
      // has one: once the carry holds it, later buckets only decay it
      val prior = !adjust && c(nMain) > 0
      for (j <- c.indices)
        c(j) =
          if (j < nMain) last.getDouble(j + 1) + step(j) * c(j)
          else if (prior) step(j) * c(j)
          else last.getDouble(j + 1)
      out
    }
    val carrySchema = StructType(StructField(BktCol, LongType,
      nullable = false) +: names.map(p => StructField(carryOf(p), DoubleType,
      nullable = false)))
    val carries = d.sparkSession.createDataFrame(
      java.util.Arrays.asList(carryRows: _*), carrySchema)

    val dk = pow(lit(w), col(DecCol))
    val dk2 = pow(lit(w * w), col(DecCol))
    def total(p: String): Column = {
      val carried = col(carryOf(p)) * (if (Squared(p)) dk2 else dk)
      // first-observation partials, globally resolved: the carry's if
      // any earlier bucket observed, else this bucket's own
      if (Firsts.contains(p))
        when(col(carryOf(Fw)) > 0.0, carried).otherwise(col(p))
      else col(p) + carried
    }
    parts.join(broadcast(carries), Seq(BktCol), "left")
      .select(col(idxName) +: close(total): _*)
  }

  /** (ewm_mean, ewm_var) closing from the partial totals `t`: pandas'
    * mean and debiased var. adjust=False first reweights the partials
    * by the first observation (Σ·F = α·Σ· + (1−α)·first; Σw²
    * reweights by α² and 1−α²). */
  private[core] def meanVar(alpha: Double, adjust: Boolean)(
      t: String => Column): Seq[Column] = {
    val w = 1.0 - alpha
    val (sw, sw2, sx, sx2) =
      if (adjust) (t(Sw), t(Sw2), t(Sx), t(Sx2))
      else (lit(alpha) * t(Sw) + lit(w) * t(Fw),
        lit(alpha * alpha) * t(Sw2) + lit(1.0 - alpha * alpha) * t(Fw2),
        lit(alpha) * t(Sx) + lit(w) * t(Fx),
        lit(alpha) * t(Sx2) + lit(w) * t(Fx2))
    val mean = sx / sw
    val denom = sw * sw - sw2
    Seq(when(sw > 0.0, mean).as(MeanCol),
      when(sw > 0.0 && denom > 0.0,
        (sx2 / sw - mean * mean) * sw * sw / denom).as(VarCol))
  }

  /** (ewm_cov, ewm_corr) closing from the seven pairwise totals `t`. */
  private[core] def covCorr(t: String => Column): Seq[Column] = {
    val (tw, tx, ty) = (t(Sw), t(Sx), t(Sy))
    val num = t(Sxy) * tw - tx * ty
    val covDen = tw * tw - t(Sw2)
    val corrDen = sqrt(greatest(t(Sx2) * tw - tx * tx, lit(0.0)) *
      greatest(t(Sy2) * tw - ty * ty, lit(0.0)))
    Seq(when(covDen > 0.0, num / covDen).as(CovCol),
      when(covDen > 0.0, try_divide(num, corrDen)).as(CorrCol))
  }

  val Sw = "__ew_sw"
  val Sw2 = "__ew_sw2"
  val Sx = "__ew_sx"
  val Sx2 = "__ew_sx2"
  val Sy = "__ew_sy"
  val Sxy = "__ew_sxy"
  val Sy2 = "__ew_sy2"
  /** Decayed partial columns in scan and fold order: a single Series
    * uses the first four, a pair all seven. */
  val Partials = Seq(Sw, Sw2, Sx, Sx2, Sy, Sxy, Sy2)
  val Fw = "__ew_fw"
  val Fw2 = "__ew_fw2"
  val Fx = "__ew_fx"
  val Fx2 = "__ew_fx2"
  /** adjust=False first-observation partials: the first observation's own
    * (Σw, Σw², Σwx, Σwx²), decayed like them. */
  val Firsts = Seq(Fw, Fw2, Fx, Fx2)
  /** The partials that decay by w² per step (the rest decay by w). */
  val Squared = Set(Sw2, Fw2)
  private def carryOf(p: String): String = s"${p}_c"

  val XCol = "__ew_x"
  val YCol = "__ew_y"
  val KeyCol = "key"
  val BktCol = "__ew_bkt"
  val PosCol = "__ew_pos"
  val DecCol = "__ew_dec"
  val MeanCol = "ewm_mean"
  val VarCol = "ewm_var"
  val CovCol = "ewm_cov"
  val CorrCol = "ewm_corr"
}
