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
  *      (numeric / string / date / timestamp all work);
  *   2. ONE keyed exchange + per-partition external sort, then a
  *      streaming per-bucket scan (mapPartitions with O(1) state — the
  *      sanctioned imperative-per-partition case: nothing declarative
  *      expresses a first-order recurrence) emits per-row within-bucket
  *      decayed partials (num, den, num², Σw²) and the decay counter;
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
  * partials (fn/fd/fn²/fd²) that ride the identical bucket-carry fold.
  * `ignore_na=False` (default) decays on EVERY row so gaps widen the
  * effective distance; `ignore_na=True` decays only at observations (the
  * decay counter simply stops ticking on null rows — the per-row carry
  * exponent and the fold exponent both read the counter, so the same
  * machinery serves both). var debiased by (Σw)²/((Σw)²−Σw²); null rows
  * output the running value unchanged, leading rows before any observation
  * are null, and a single observation has null variance.
  */
final class Ewm private[graft] (s: Series, alpha: Double, buckets: Int,
    adjust: Boolean = true, ignoreNa: Boolean = false) {
  require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
  require(buckets >= 1, "buckets must be >= 1")

  private val w = 1.0 - alpha
  private val idxName = s.indexName
  private val valName = s.name

  import Ewm._

  /** One-pass (idx, ewm_mean, ewm_var) frame — the plan behind
    * [[mean]]. */
  lazy val stats: DataFrame = {
    val d = s.base.select(s.index.as(idxName),
      s.values.cast("double").as(valName))
    val idxDt = d.schema(idxName).dataType
    val keyed = d.withColumn(BktCol,
      GlobalWindows.bucketing(d, idxName, buckets)._1)

    // one keyed exchange; each bucket lands whole in one partition, rows
    // stream through the external sort in (bucket, index) order
    val width = d.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = keyed.repartition(width, col(BktCol))
      .sortWithinPartitions(col(BktCol).asc, col(idxName).asc_nulls_first)

    val firstFields =
      if (adjust) Nil
      else Seq(
        StructField(FnCol, DoubleType, nullable = false),
        StructField(FdCol, DoubleType, nullable = false),
        StructField(Fn2Col, DoubleType, nullable = false),
        StructField(Fd2Col, DoubleType, nullable = false))
    val outSchema = StructType(Seq(
      StructField(idxName, idxDt, nullable = true),
      StructField(BktCol, LongType, nullable = false),
      StructField(PosCol, LongType, nullable = false),
      StructField(DecCol, LongType, nullable = false),
      StructField(NumCol, DoubleType, nullable = false),
      StructField(DenCol, DoubleType, nullable = false),
      StructField(Num2Col, DoubleType, nullable = false),
      StructField(Den2Col, DoubleType, nullable = false)) ++ firstFields)
    val wLoc = w // avoid capturing `this` in the task closure
    val w2Loc = w * w
    val adjLoc = adjust
    val inaLoc = ignoreNa
    val parts = graft.Caches.track(sorted.mapPartitions { it =>
      // a hash partition can hold SEVERAL buckets (sorted contiguously);
      // state resets at each bucket change — O(1) memory, streaming
      var cur = Long.MinValue
      var pos = -1L
      var dec = 0L
      var pn, pd, pn2, pd2 = 0.0
      var fn, fd, fn2, fd2 = 0.0
      var seen = false
      it.map { r =>
        // input layout: (idx, value, bkt) — the select order above
        val b = r.getLong(2)
        if (b != cur) {
          cur = b; pos = -1L; dec = 0L
          pn = 0; pd = 0; pn2 = 0; pd2 = 0
          fn = 0; fd = 0; fn2 = 0; fd2 = 0
          seen = false
        }
        pos += 1
        val isNull = r.isNullAt(1)
        if (!inaLoc || !isNull) {
          dec += 1
          pn *= wLoc; pd *= wLoc; pn2 *= wLoc; pd2 *= w2Loc
          if (!adjLoc) { fn *= wLoc; fd *= wLoc; fn2 *= wLoc; fd2 *= w2Loc }
        }
        if (!isNull) {
          val x = r.getDouble(1)
          pn += x; pd += 1.0; pn2 += x * x; pd2 += 1.0
          if (!adjLoc && !seen) { fn = x; fd = 1.0; fn2 = x * x; fd2 = 1.0 }
          seen = true
        }
        if (adjLoc) Row(r.get(0), b, pos, dec, pn, pd, pn2, pd2)
        else Row(r.get(0), b, pos, dec, pn, pd, pn2, pd2, fn, fd, fn2, fd2)
      }
    }(Encoders.row(outSchema)).persist(StorageLevel.MEMORY_AND_DISK))

    // per-bucket closing partials (`buckets` rows of driver state), folded
    // sequentially into EXCLUSIVE carries — the previous total decayed by
    // w^(bucket decay count), every factor <= 1
    val lastStruct =
      if (adjust) struct(col(DecCol), col(NumCol), col(DenCol),
        col(Num2Col), col(Den2Col))
      else struct(col(DecCol), col(NumCol), col(DenCol), col(Num2Col),
        col(Den2Col), col(FnCol), col(FdCol), col(Fn2Col), col(Fd2Col))
    val lastRows = parts.groupBy(col(BktCol))
      .agg(max_by(lastStruct, col(PosCol)).as("__last"))
      .collect().sortBy(_.getLong(0))
    var cN, cD, cN2, cD2 = 0.0
    var cFN, cFD, cFN2, cFD2 = 0.0
    val carryRows = lastRows.map { r =>
      val out = Row(r.getLong(0), cN, cD, cN2, cD2, cFN, cFD, cFN2, cFD2)
      val lastS = r.getStruct(1)
      val decs = lastS.getLong(0)
      val dk = math.pow(w, decs.toDouble)
      val dk2 = math.pow(w * w, decs.toDouble)
      cN = lastS.getDouble(1) + dk * cN
      cD = lastS.getDouble(2) + dk * cD
      cN2 = lastS.getDouble(3) + dk * cN2
      cD2 = lastS.getDouble(4) + dk2 * cD2
      if (!adjust) {
        // the global FIRST observation lives in the earliest bucket that
        // has one: once the carry holds it, later buckets only decay it
        if (cFD > 0) { cFN *= dk; cFD *= dk; cFN2 *= dk; cFD2 *= dk2 }
        else {
          cFN = lastS.getDouble(5); cFD = lastS.getDouble(6)
          cFN2 = lastS.getDouble(7); cFD2 = lastS.getDouble(8)
        }
      }
      out
    }
    val carrySchema = StructType(Seq(
      StructField(BktCol, LongType, nullable = false),
      StructField("__ew_cn", DoubleType, nullable = false),
      StructField("__ew_cd", DoubleType, nullable = false),
      StructField("__ew_cn2", DoubleType, nullable = false),
      StructField("__ew_cd2", DoubleType, nullable = false),
      StructField("__ew_cfn", DoubleType, nullable = false),
      StructField("__ew_cfd", DoubleType, nullable = false),
      StructField("__ew_cfn2", DoubleType, nullable = false),
      StructField("__ew_cfd2", DoubleType, nullable = false)))
    val carries = d.sparkSession.createDataFrame(
      java.util.Arrays.asList(carryRows: _*), carrySchema)

    val dk = pow(lit(w), col(DecCol))
    val dk2 = pow(lit(w * w), col(DecCol))
    val num = col(NumCol) + col("__ew_cn") * dk
    val den = col(DenCol) + col("__ew_cd") * dk
    val num2 = col(Num2Col) + col("__ew_cn2") * dk
    val den2 = col(Den2Col) + col("__ew_cd2") * dk2
    val (meanE, varE) =
      if (adjust) {
        val mean = when(den > 0.0, num / den)
        val denom = den * den - den2
        (mean, when(den > 0.0 && denom > 0.0,
          (num2 / den - (num / den) * (num / den)) * den * den / denom))
      } else {
        // first-observation decayed contribution, globally resolved: the
        // carry's if any earlier bucket observed, else this bucket's own
        val hasPrior = col("__ew_cfd") > 0.0
        val fG = when(hasPrior, col("__ew_cfn") * dk).otherwise(col(FnCol))
        val gG = when(hasPrior, col("__ew_cfd") * dk).otherwise(col(FdCol))
        val f2G = when(hasPrior, col("__ew_cfn2") * dk).otherwise(col(Fn2Col))
        val g2G = when(hasPrior, col("__ew_cfd2") * dk2).otherwise(col(Fd2Col))
        val numF = lit(alpha) * num + lit(w) * fG
        val denF = lit(alpha) * den + lit(w) * gG
        val num2F = lit(alpha) * num2 + lit(w) * f2G
        val den2F = lit(alpha * alpha) * den2 + lit(1.0 - alpha * alpha) * g2G
        val mean = when(denF > 0.0, numF / denF)
        val denom = denF * denF - den2F
        (mean, when(denF > 0.0 && denom > 0.0,
          (num2F / denF - (numF / denF) * (numF / denF))
            * denF * denF / denom))
      }
    parts.join(broadcast(carries), Seq(BktCol), "left")
      .select(col(idxName), meanE.as(MeanCol), varE.as(VarCol))
  }

  def mean(): Series = Series.fromKeyed(
    stats.select(col(idxName), col(MeanCol).as(valName)), valName, idxName)
}

/** Distributed exponentially-weighted PAIRWISE moving aggregates
  * (pandas `ewm(alpha=...).cov(other, bias=False)` / `.corr(other)`),
  * global index order — the bucketed partial + driver-folded carry plan
  * of [[Ewm]] extended from four decayed partials to seven (Σw, Σw²,
  * Σwx, Σwy, Σwxy, Σwx², Σwy²), which is all a decayed co-moment needs:
  *
  *   cov  = (Σwxy·Σw − Σwx·Σwy) / ((Σw)² − Σw²)        (bias=False)
  *   corr = (Σwxy·Σw − Σwx·Σwy) /
  *          √((Σwx²·Σw − Σwx²̄)·(Σwy²·Σw − Σwy²̄))      (debias cancels)
  *
  * A row contributes only when BOTH sides are non-null (pandas' pairwise
  * dropping); `ignore_na=False` (default) decays on every row,
  * `ignore_na=True` only at complete pairs. adjust=True weights
  * (pandas' default; the ewm cov/corr literature rarely uses
  * adjust=False, and the first-observation decomposition would add four
  * more partials — documented non-goal). Null until the debias
  * denominator is positive (≥ 2 distinct-weight pairs), zero-variance
  * prefixes null via the guarded corr denominator.
  */
final class EwmPair private[graft] (s: Series, y0: Column, alpha: Double,
    buckets: Int, ignoreNa: Boolean = false) {
  require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
  require(buckets >= 1, "buckets must be >= 1")

  private val w = 1.0 - alpha
  private val idxName = s.indexName

  import Ewm._

  /** One-pass (idx, ewm_cov, ewm_corr) frame. */
  lazy val stats: DataFrame = {
    val d = s.base.select(s.index.as(idxName),
      s.values.cast("double").as("__ew_x"), y0.cast("double").as("__ew_y"))
    val idxDt = d.schema(idxName).dataType
    val keyed = d.withColumn(BktCol,
      GlobalWindows.bucketing(d, idxName, buckets)._1)
    val width = d.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = keyed.repartition(width, col(BktCol))
      .sortWithinPartitions(col(BktCol).asc, col(idxName).asc_nulls_first)

    // (idx, bkt, pos, dec, sw, sw2, sx, sy, sxy, sx2, sy2)
    val outSchema = StructType(Seq(
      StructField(idxName, idxDt, nullable = true),
      StructField(BktCol, LongType, nullable = false),
      StructField(PosCol, LongType, nullable = false),
      StructField(DecCol, LongType, nullable = false)) ++
      PairPartials.map(StructField(_, DoubleType, nullable = false)))
    val wLoc = w
    val w2Loc = w * w
    val inaLoc = ignoreNa
    val parts = graft.Caches.track(sorted.mapPartitions { it =>
      var cur = Long.MinValue
      var pos = -1L
      var dec = 0L
      var sw, sw2, sx, sy, sxy, sx2, sy2 = 0.0
      it.map { r =>
        // input layout: (idx, x, y, bkt)
        val b = r.getLong(3)
        if (b != cur) {
          cur = b; pos = -1L; dec = 0L
          sw = 0; sw2 = 0; sx = 0; sy = 0; sxy = 0; sx2 = 0; sy2 = 0
        }
        pos += 1
        val valid = !r.isNullAt(1) && !r.isNullAt(2)
        if (!inaLoc || valid) {
          dec += 1
          sw *= wLoc; sw2 *= w2Loc
          sx *= wLoc; sy *= wLoc; sxy *= wLoc; sx2 *= wLoc; sy2 *= wLoc
        }
        if (valid) {
          val x = r.getDouble(1); val y = r.getDouble(2)
          sw += 1.0; sw2 += 1.0
          sx += x; sy += y; sxy += x * y; sx2 += x * x; sy2 += y * y
        }
        Row(r.get(0), b, pos, dec, sw, sw2, sx, sy, sxy, sx2, sy2)
      }
    }(Encoders.row(outSchema)).persist(StorageLevel.MEMORY_AND_DISK))

    // per-bucket closing partials → exclusive carries (`buckets` rows of
    // driver state; Σw² folds by (w²)^dec, the rest by w^dec)
    val lastRows = parts.groupBy(col(BktCol))
      .agg(max_by(struct(col(DecCol) +: PairPartials.map(col): _*),
        col(PosCol)).as("__last"))
      .collect().sortBy(_.getLong(0))
    val c = Array.fill(7)(0.0)
    val carryRows = lastRows.map { r =>
      val out = Row.fromSeq(r.getLong(0) +: c.toSeq)
      val lastS = r.getStruct(1)
      val dk = math.pow(w, lastS.getLong(0).toDouble)
      val dk2 = dk * dk
      for (j <- 0 until 7)
        c(j) = lastS.getDouble(j + 1) + (if (j == 1) dk2 else dk) * c(j)
      out
    }
    val carrySchema = StructType(
      StructField(BktCol, LongType, nullable = false) +:
        PairPartials.map(p => StructField(s"__c$p", DoubleType,
          nullable = false)))
    val carries = d.sparkSession.createDataFrame(
      java.util.Arrays.asList(carryRows: _*), carrySchema)

    val dk = pow(lit(w), col(DecCol))
    val dk2 = pow(lit(w * w), col(DecCol))
    def tot(p: String): Column =
      col(p) + col(s"__c$p") * (if (p == "__ew_sw2") dk2 else dk)
    val tw = tot("__ew_sw"); val tw2 = tot("__ew_sw2")
    val tx = tot("__ew_sx"); val ty = tot("__ew_sy")
    val txy = tot("__ew_sxy")
    val tx2 = tot("__ew_sx2"); val ty2 = tot("__ew_sy2")
    val num = txy * tw - tx * ty
    val covDen = tw * tw - tw2
    val corrDen = sqrt(greatest(tx2 * tw - tx * tx, lit(0.0)) *
      greatest(ty2 * tw - ty * ty, lit(0.0)))
    parts.join(broadcast(carries), Seq(BktCol), "left")
      .select(col(idxName),
        when(covDen > 0.0, num / covDen).as(CovCol),
        when(covDen > 0.0, try_divide(num, corrDen)).as(CorrCol))
  }

  def cov(): Series = Series.fromKeyed(
    stats.select(col(idxName), col(CovCol).as(s.name)), s.name, idxName)
  def corr(): Series = Series.fromKeyed(
    stats.select(col(idxName), col(CorrCol).as(s.name)), s.name, idxName)
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
    * each group is an independent recurrence, so no bucket fold or carry
    * is needed at all — ONE hash exchange on the key, a per-partition
    * (key, idx) external sort, and a streaming scan that resets state at
    * every key change (several keys share a partition; each key's rows
    * are contiguous after the sort). Output: (idx, key, ewm_mean,
    * ewm_var). Sequential per key, so adjust=False is just the entering
    * weight (1 for the group's first observation, α after); ignore_na=True
    * skips the decay step on null rows. Same pandas weight semantics as
    * the global [[Ewm]]. */
  def statsBy(s: Series, by: Column, alpha: Double,
      adjust: Boolean = true, ignoreNa: Boolean = false): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val w = 1.0 - alpha
    val idxName = s.indexName
    val d = s.base.select(s.index.as(idxName),
      s.values.cast("double").as("__ew_x"), by.as("key"))
    val width = d.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = d.repartition(width, org.apache.spark.sql.functions.col("key"))
      .sortWithinPartitions(
        org.apache.spark.sql.functions.col("key"),
        org.apache.spark.sql.functions.col(idxName).asc_nulls_first)
    val outSchema = StructType(Seq(
      StructField(idxName, d.schema(idxName).dataType, nullable = true),
      StructField("key", d.schema("key").dataType, nullable = true),
      StructField(MeanCol, DoubleType, nullable = true),
      StructField(VarCol, DoubleType, nullable = true)))
    val wL = w
    val w2L = w * w
    val aL = alpha
    val adjL = adjust
    val inaL = ignoreNa
    sorted.mapPartitions { it =>
      var started = false
      var cur: Any = null
      var pn, pd, pn2, pd2 = 0.0
      var seen = false
      it.map { r =>
        // input layout: (idx, x, key)
        val k = r.get(2)
        if (!started || k != cur) {
          started = true; cur = k
          pn = 0; pd = 0; pn2 = 0; pd2 = 0; seen = false
        }
        val isNull = r.isNullAt(1)
        if (!inaL || !isNull) {
          pn *= wL; pd *= wL; pn2 *= wL; pd2 *= w2L
        }
        if (!isNull) {
          val x = r.getDouble(1)
          val ew = if (adjL || !seen) 1.0 else aL // entering weight
          pn += ew * x; pd += ew; pn2 += ew * x * x; pd2 += ew * ew
          seen = true
        }
        val m: Any = if (pd > 0) pn / pd else null
        val dd = pd * pd - pd2
        val v: Any =
          if (pd > 0 && dd > 0) (pn2 / pd - (pn / pd) * (pn / pd)) * pd * pd / dd
          else null
        Row(r.get(0), k, m, v)
      }
    }(Encoders.row(outSchema))
  }

  /** Pairwise decayed partial column names, in fold order. */
  val PairPartials = Seq("__ew_sw", "__ew_sw2", "__ew_sx", "__ew_sy",
    "__ew_sxy", "__ew_sx2", "__ew_sy2")
  val CovCol = "ewm_cov"
  val CorrCol = "ewm_corr"

  /** Keyed ewm cov/corr (pandas groupby(by).ewm(alpha).cov(other,
    * bias=False)/.corr(other)): independent per-key recurrences — ONE
    * hash exchange on the key, per-partition (key, idx) external sort,
    * streaming scan carrying the seven pairwise decayed partials (reset
    * at each key change). adjust=True weights, pairwise dropping, same
    * closing algebra as [[EwmPair]]. Output: (idx, key, ewm_cov,
    * ewm_corr). */
  def pairStatsBy(s: Series, y0: Column, by: Column, alpha: Double,
      ignoreNa: Boolean = false): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val w = 1.0 - alpha
    val idxName = s.indexName
    val d = s.base.select(s.index.as(idxName),
      s.values.cast("double").as("__ew_x"), y0.cast("double").as("__ew_y"),
      by.as("key"))
    val width = d.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = d.repartition(width, col("key"))
      .sortWithinPartitions(col("key"), col(idxName).asc_nulls_first)
    val outSchema = StructType(Seq(
      StructField(idxName, d.schema(idxName).dataType, nullable = true),
      StructField("key", d.schema("key").dataType, nullable = true),
      StructField(CovCol, DoubleType, nullable = true),
      StructField(CorrCol, DoubleType, nullable = true)))
    val wL = w
    val w2L = w * w
    val inaL = ignoreNa
    sorted.mapPartitions { it =>
      var started = false
      var cur: Any = null
      var sw, sw2, sx, sy, sxy, sx2, sy2 = 0.0
      it.map { r =>
        // input layout: (idx, x, y, key)
        val k = r.get(3)
        if (!started || k != cur) {
          started = true; cur = k
          sw = 0; sw2 = 0; sx = 0; sy = 0; sxy = 0; sx2 = 0; sy2 = 0
        }
        val valid = !r.isNullAt(1) && !r.isNullAt(2)
        if (!inaL || valid) {
          sw *= wL; sw2 *= w2L
          sx *= wL; sy *= wL; sxy *= wL; sx2 *= wL; sy2 *= wL
        }
        if (valid) {
          val x = r.getDouble(1); val y = r.getDouble(2)
          sw += 1.0; sw2 += 1.0
          sx += x; sy += y; sxy += x * y; sx2 += x * x; sy2 += y * y
        }
        val num = sxy * sw - sx * sy
        val covDen = sw * sw - sw2
        val d2 = (sx2 * sw - sx * sx) * (sy2 * sw - sy * sy)
        val cov: Any = if (covDen > 0) num / covDen else null
        val corr: Any =
          if (covDen > 0 && d2 > 0) num / math.sqrt(d2) else null
        Row(r.get(0), k, cov, corr)
      }
    }(Encoders.row(outSchema))
  }

  val BktCol = "__ew_bkt"
  val PosCol = "__ew_pos"
  val DecCol = "__ew_dec"
  val NumCol = "__ew_num"
  val DenCol = "__ew_den"
  val Num2Col = "__ew_num2"
  val Den2Col = "__ew_den2"
  val FnCol = "__ew_fn"
  val FdCol = "__ew_fd"
  val Fn2Col = "__ew_fn2"
  val Fd2Col = "__ew_fd2"
  val MeanCol = "ewm_mean"
  val VarCol = "ewm_var"
}
