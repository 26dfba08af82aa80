package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A 1-D labeled array over Spark: logically a pair of columns
  * `(index, value)` over a shared base DataFrame.
  *
  * Spark-native re-expression of the reference's `Series`
  * (ref: pontem/series/series.py:18-76, which subclasses the PySpark
  * DataFrame via a Py4J hack and physically materializes a two-column frame
  * per operation). Here a Series is `(base, indexExpr, valueExpr)` —
  * operators compose lazy Catalyst `Column` expressions and nothing
  * materializes until an action. Two Series over the SAME base frame combine
  * by pure expression composition (zero joins, one scan, whole-stage
  * codegen); Series over different frames align via an index equi-join
  * (pandas semantics — the reference instead mixes columns positionally,
  * ref: series.py:206-214, and re-ingests through RDDs per op,
  * ref: series.py:226 → data_prep.py:67,81).
  *
  * Scale notes: colinear arithmetic is a single projected scan; alignment
  * joins shuffle on the index or broadcast the small side (AQE decides);
  * aggregations are partial+final HashAggregate; no driver collection except
  * explicit scalar results.
  */
final class Series private[graft] (
    private[graft] val base: DataFrame,
    val name: String,
    val indexName: String,
    private[graft] val indexExpr: Column,
    private[graft] val valueExpr: Column) extends Serializable {

  import Series._

  /** Materialize as the canonical two-column DataFrame [indexName, name].
    * lazy val so repeated access shares one resolved plan (fresh selects
    * would carry distinct attribute ids and break cross-references). */
  lazy val df: DataFrame = base.select(indexExpr.as(indexName), valueExpr.as(name))
  /** Escape hatch (the reference leaks the whole DataFrame surface through
    * inheritance, ref: series.py:18; we expose it explicitly). */
  def toDF: DataFrame = df

  /** Index metadata handle (ref: pontem/indexes/range_index.py:7-31). */
  def indexHandle: RangeIndex = new RangeIndex(this)

  /** The value expression (resolvable against [[base]]). */
  def values: Column = valueExpr
  /** The index expression (resolvable against [[base]]). */
  def index: Column = indexExpr

  private def withValue(v: Column, n: String = name): Series =
    new Series(base, n, indexName, indexExpr, v)

  // ---------------------------------------------------------------- metadata

  /** Rename the value column (ref: series.py:136-143). */
  def rename(newName: String): Series = withValue(valueExpr, newName)

  /** Rename the index column (ref: range_index.py:19-25). */
  def renameIndex(newName: String): Series =
    new Series(base, name, newName, indexExpr, valueExpr)

  /** Number of elements (ref: series.py:254-255). */
  def length: Long = base.count()
  /** (length,) (ref: series.py:145-147). */
  def shape: Tuple1[Long] = Tuple1(length)

  override def toString: String =
    s"graft.Series[name: $name, index: $indexName]" // lazy — the reference
    // eagerly count()s on every repr (ref: series.py:248-252); we don't.

  // ------------------------------------------------------------ aggregations

  private def aggScalar(c: Column): Any = base.agg(c).head().get(0)

  /** ref: series.py:149-150 — native HashAggregate, not an RDD scan. */
  def sum(): Any = aggScalar(F.sum(valueExpr))
  def mean(): Any = aggScalar(avg(valueExpr))
  /** Sample stddev (ddof=1) — matches pandas and actual PySpark behavior
    * (the reference's docstring claims population, ref: series.py:159-165). */
  def std(): Any = aggScalar(stddev_samp(valueExpr))
  /** ref: series.py:167-169 degrades to rdd.max(); ours is agg(max) so
    * partial agg + parquet footer stats apply. */
  def max(): Any = aggScalar(F.max(valueExpr))
  def min(): Any = aggScalar(F.min(valueExpr))

  /** count/mean/stddev/min/max (ref: series.py:152-153). */
  def describe(): DataFrame = df.describe(name)

  /** Exact interpolated quantile (pandas quantile / SQL percentile_cont).
    * Exact — uses the sort-based percentile aggregate, not the sketch
    * (percentile_approx), so results match other engines bit-for-bit. */
  def quantile(p: Double): Any =
    aggScalar(percentile(valueExpr, lit(p)))
  def median(): Any = quantile(0.5)

  /** Fused higher-moment statistics — pandas count/mean/std/sem/skew/
    * kurt in ONE partial+final aggregate (the s97 fused-probe lesson:
    * never issue serial scalar jobs over one column). Spark's skewness/
    * kurtosis are POPULATION g1/g2; the sample G1/G2 conversions (the
    * rolling-moment factors, data-dependent n here) close from the same
    * aggregate row, so the whole surface costs one scan + one exchange
    * at any data size. Null moments (n below the defined threshold)
    * follow pandas: skew needs n ≥ 3, kurt n ≥ 4. */
  def momentStats(): DataFrame = {
    val v = valueExpr.cast("double")
    val n = col("n").cast("double")
    base.agg(
        count(v).as("n"), avg(v).as("mean"), stddev_samp(v).as("std"),
        skewness(v).as("__g1"), kurtosis(v).as("__g2"))
      .select(col("n"), col("mean"), col("std"),
        (col("std") / F.sqrt(n)).as("sem"),
        when(col("n") >= 3, col("__g1") * F.sqrt(n * (n - 1)) / (n - 2))
          .as("skew"),
        when(col("n") >= 4,
          (col("__g2") * (n + 1) + 6) * (n - 1) / ((n - 2) * (n - 3)))
          .as("kurt"))
  }

  /** Mean absolute deviation around the mean (the retired pandas
    * Series.mad): two passes by nature — a 1-row mean probe, then one
    * |x − mean| aggregate. Both passes are partial+final; the only
    * driver value is the mean scalar. */
  def mad(): Any = {
    val m = aggScalar(avg(valueExpr.cast("double")))
      .asInstanceOf[Double]
    aggScalar(avg(F.abs(valueExpr.cast("double") - lit(m))))
  }

  // ----------------------------------------------------------------- slicing

  /** First n elements in index order, as a Series (the reference's head only
    * show()s, ref: series.py:175-177; pandas returns a Series). */
  def head(n: Int = 5): Series = Series.fromKeyed(
    df.orderBy(col(indexName).asc).limit(n), name, indexName)

  /** Label lookup (the reference stubs this with NotImplementedError,
    * ref: series.py:257-262). */
  def apply(label: Any): Series =
    new Series(base.filter(indexExpr === lit(label)), name, indexName,
      indexExpr, valueExpr)

  /** Label-range slice (inclusive both ends, pandas .loc semantics). */
  def slice(from: Any, to: Any): Series =
    new Series(base.filter(indexExpr.between(lit(from), lit(to))), name,
      indexName, indexExpr, valueExpr)

  /** Boolean mask by predicate over the values: s.where(_ > 5). Pushed to
    * the scan by Catalyst. */
  def where(pred: Column => Column): Series =
    new Series(base.filter(pred(valueExpr)), name, indexName, indexExpr,
      valueExpr)

  /** Boolean mask by an aligned boolean Series: s(mask). Same-base masks
    * filter in place (no join); cross-frame masks join on index. */
  def mask(m: Series): Series =
    if (m.base eq base)
      new Series(base.filter(m.valueExpr), name, indexName, indexExpr, valueExpr)
    else {
      val md = m.df.select(col(m.indexName).as(IdxCol), col(m.name).as(MaskCol))
      val joined = df.join(md, df(indexName) === md(IdxCol))
        .filter(col(MaskCol)).select(df(indexName), df(name))
      Series.fromKeyed(joined, name, indexName)
    }

  // ------------------------------------------------------------------ dtypes

  /** Cast across the full type lattice (the reference supports only int,
    * ref: series.py:179-188, `# TODO: implement other dtypes`). */
  def astype(dt: DataType): Series = withValue(valueExpr.cast(dt))
  def astype(dt: String): Series = astype(parseDataType(dt))

  /** Spark DataType of the value column. */
  def dtype: DataType = df.schema(name).dataType

  // -------------------------------------------------------------- arithmetic

  /** Apply a native Column expression over the values, keeping the index —
    * the codegen'd alternative to closure `apply`. */
  def transform(f: Column => Column, newName: String = null): Series =
    withValue(f(valueExpr), Option(newName).getOrElse(name))

  private def scalarOp(f: (Column, Column) => Column, n: Any): Series =
    transform(v => f(v, lit(n)))

  // Scalar ops: pure Catalyst expressions, type-preserving (the reference
  // wraps a Python UDF returning FloatType, ref: series.py:217-224).
  def +(n: Double): Series = scalarOp(_ + _, n)
  def -(n: Double): Series = scalarOp(_ - _, n)
  def *(n: Double): Series = scalarOp(_ * _, n)
  def /(n: Double): Series = scalarOp(try_divide, n)
  def +(n: Long): Series = scalarOp(_ + _, n)
  def -(n: Long): Series = scalarOp(_ - _, n)
  def *(n: Long): Series = scalarOp(_ * _, n)
  def /(n: Long): Series = scalarOp(try_divide, n)
  /** Floor division with floor-toward(-∞) semantics (pandas); the reference
    * truncates via cast-to-int (ref: series.py:203-209, zero-divisor TODO at
    * :204). Zero divisor yields null via try_divide. NOTE: DuckDB double
    * division by zero yields ±inf/nan (NOT null) — any zero-divisor oracle
    * must wrap the divisor in nullif(divisor, 0) to mirror try_divide. */
  def floorDiv(n: Double): Series = transform(v => floor(try_divide(v, lit(n))))

  /** Aligned binary op with another Series. Same-base operands compose
    * expressions directly (one scan, no shuffle — the 100 TB fast path);
    * cross-frame operands equi-join on index (outer, like pandas alignment —
    * mismatched labels produce nulls). Result name follows pandas' collision
    * rule: equal names survive, else "None" (ref: series.py:201).
    *
    * NOTE: the same-base fast path is detected by REFERENCE equality
    * (`other.base eq base`) — two Series must share the same DataFrame
    * instance to compose without a join. Series built from two separate
    * `Tables.lineitem()` calls over the same parquet are logically colinear
    * but take the join path; callers wanting the fast path must share the
    * instance (`val li = Tables.lineitem(...)` once). */
  def zipOp(other: Series, f: (Column, Column) => Column,
            joinType: String = "full_outer"): Series = {
    val outName = if (name == other.name) name else "None"
    if (other.base eq base)
      withValue(f(valueExpr, other.valueExpr), outName)
    else {
      val l = df.select(col(indexName).as(IdxCol), col(name).as(LeftCol))
      val r = other.df.select(col(other.indexName).as(IdxCol),
        col(other.name).as(RightCol))
      val joined = l.join(r, Seq(IdxCol), joinType)
        .select(col(IdxCol).as(indexName),
          f(col(LeftCol), col(RightCol)).as(outName))
      Series.fromKeyed(joined, outName, indexName)
    }
  }

  def +(o: Series): Series = zipOp(o, _ + _)
  def -(o: Series): Series = zipOp(o, _ - _)
  def *(o: Series): Series = zipOp(o, _ * _)
  def /(o: Series): Series = zipOp(o, try_divide)
  def floorDiv(o: Series): Series = zipOp(o, (a, b) => floor(try_divide(a, b)))

  /** pandas combine_first: this Series' values patched with `other`'s
    * where this one is null or the label is absent — the union of both
    * indexes (full-outer index alignment), `coalesce` per label. The
    * classic "overlay the correction file on the base table" op; one
    * keyed join, same alignment machinery as the arithmetic operators. */
  def combineFirst(other: Series): Series = zipOp(other, coalesce(_, _))

  /** pandas Series.update(other): overwrite with `other`'s non-null
    * values where labels align; THIS Series' label set is preserved
    * (update never adds labels — the label-union sibling is
    * [[combineFirst]]). Same-base pairs compose on one scan; cross-frame
    * pairs are one left index-align join. */
  def update(other: Series): Series = {
    if (other.base eq base)
      return withValue(coalesce(other.valueExpr, valueExpr))
    val rhs = other.df.select(col(other.indexName).as("__u_idx"),
      col(other.name).as("__u_val"))
    val j = df.join(rhs, col(indexName) === col("__u_idx"), "left")
    Series.fromKeyed(
      j.select(col(indexName),
        coalesce(col("__u_val"), col(name)).as(name)),
      name, indexName)
  }

  /** pandas Series.where(cond, other): keep the value where the
    * per-value predicate holds, else `other` (default null — pandas NaN).
    * Pure projection — the row set is unchanged (the row-FILTERING
    * spelling is [[where]]). */
  def whereValue(pred: Column => Column, other: Any = null): Series =
    withValue(when(pred(valueExpr), valueExpr).otherwise(lit(other)))

  /** pandas Series.mask(cond, other): inverse of [[whereValue]] —
    * replace where the predicate HOLDS. */
  def maskValue(pred: Column => Column, other: Any = null): Series =
    withValue(when(pred(valueExpr), lit(other)).otherwise(valueExpr))

  // Comparison ops → boolean Series (for masks).
  def >(n: Double): Series = scalarOp(_ > _, n)
  def <(n: Double): Series = scalarOp(_ < _, n)
  def >=(n: Double): Series = scalarOp(_ >= _, n)
  def <=(n: Double): Series = scalarOp(_ <= _, n)
  def ===(n: Any): Series = transform(_ === lit(n))

  // Series-vs-Series comparisons → boolean Series (pandas s1 > s2):
  // same-base pairs compose on one scan; cross-frame pairs align by index
  // (nulls where labels don't match, like pandas).
  def >(o: Series): Series = zipOp(o, _ > _)
  def <(o: Series): Series = zipOp(o, _ < _)
  def >=(o: Series): Series = zipOp(o, _ >= _)
  def <=(o: Series): Series = zipOp(o, _ <= _)
  def ===(o: Series): Series = zipOp(o, _ === _)

  // ------------------------------------------------- pandas-surface extras

  /** Distinct values with occurrence counts, descending (pandas
    * value_counts). One partial+final HashAggregate; output is
    * (value, count) keyed by the value. */
  /** Value histogram (pandas value_counts). `normalize = true` returns the
    * share of rows per value instead of the count — the denominator is ONE
    * driver scalar aggregated from the persisted counts frame (the same
    * bounded-driver-state pattern as cut/qcut boundaries), NOT an
    * everything-into-one-task empty-partition window: the counts frame is
    * bounded by value cardinality, which for a high-cardinality column is
    * not tiny. */
  def valueCounts(normalize: Boolean = false): DataFrame = {
    if (!normalize) {
      val counts = base.groupBy(valueExpr.as(name))
        .agg(count(lit(1)).as("count"))
      return counts.orderBy(col("count").desc, col(name).asc)
    }
    // two consumers (total + share projection): persist one aggregation
    val counts = graft.Caches.track(
      base.groupBy(valueExpr.as(name)).agg(count(lit(1)).as("count"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totalRow = counts.agg(F.sum("count")).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    counts.select(col(name),
        (col("count").cast("double") / lit(total.toDouble)).as("share"))
      .orderBy(col("share").desc, col(name).asc)
  }

  /** pandas value_counts(bins=n): fixed-width histogram of a numeric
    * Series — [[cut]]'s bucket assignment + one partial+final count,
    * zero-filled over a `spark.range(bins)` grid (bins is a bounded user
    * parameter) so empty bins appear with count 0 like pandas' interval
    * categories. Two bounded driver scalars (min/max), one shuffle; the
    * bin→count join is a broadcast of the bins-row grid. Output
    * (bin, count) sorted count-descending like pandas. */
  /** pandas `Series.mode()` as a FRAME: every value whose count reaches
    * the maximum, ascending (pandas keeps ALL ties; the scalar [[mode]]
    * surfaces only the deterministic first). Two partial+final
    * aggregates; the 1-row max joins back by EQUI-key on the count
    * (broadcast — never a nested-loop against the bounded counts
    * frame). */
  def modes(): DataFrame = {
    val counts = graft.Caches.track(
      base.groupBy(valueExpr.as(name)).agg(count(lit(1)).as("__c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val top = counts.groupBy().agg(F.max(col("__c")).as("__c"))
    counts.join(F.broadcast(top), Seq("__c"))
      .select(col(name)).orderBy(name)
  }

  def valueCountsBins(bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val r = base.agg(F.min(valueExpr).cast("double"),
      F.max(valueExpr).cast("double")).head()
    val grid = df.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    if (r.isNullAt(0))
      return grid.select(col("bin"), lit(0L).as("count")).orderBy("bin")
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val width = (hi - lo) / bins
    val bucket =
      if (width <= 0.0) when(valueExpr.isNotNull, lit(0))
      else when(valueExpr.isNotNull,
        least(floor((valueExpr.cast("double") - lit(lo)) / lit(width)),
          lit(bins - 1.0)).cast("int"))
    val counts = base.groupBy(bucket.as("bin"))
      .agg(count(lit(1)).as("count")).filter(col("bin").isNotNull)
    // the aggregated counts frame is bounded by bins rows → broadcast it
    // as the build side of the zero-fill left join
    grid.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("count"), lit(0L)).as("count"))
      .orderBy(col("count").desc, col("bin").asc)
  }

  /** Distinct values (pandas unique), as a 1-column frame. */
  def unique(): DataFrame = base.select(valueExpr.as(name)).distinct()

  /** Count of distinct non-null values (pandas nunique, dropna=true —
    * and SQL count(DISTINCT) semantics; unique() by contrast keeps null,
    * like pandas unique()). */
  def nunique(): Long =
    base.filter(valueExpr.isNotNull).select(valueExpr).distinct().count()

  /** Pearson correlation with another Series (pandas Series.corr):
    * same-base → one aggregate over the shared scan; cross-frame → inner
    * index-join alignment first (pandas pairs values by label). NaN when
    * fewer than two aligned pairs, like pandas. */
  def corr(other: Series): Double = pairAgg(other, F.corr(_, _))

  /** Sample covariance (pandas Series.cov); alignment as in [[corr]]. */
  def cov(other: Series): Double = pairAgg(other, covar_samp(_, _))

  /** Lag-`n` autocorrelation (pandas Series.autocorr): Pearson corr of the
    * series with itself shifted by `n` labels in index order. The shift
    * rides the range-bucket two-pass machinery ([[GlobalWindows]] with
    * carry = n) — no single-task global window; `corr` skips the n
    * unmatched leading pairs exactly like pandas. NaN when fewer than two
    * pairs remain. */
  def autocorr(n: Int = 1): Double = {
    require(n >= 1, "autocorr lag must be >= 1")
    val gw = globalWindows(carry = n)
    val row = gw.result("v" -> gw.value, "p" -> gw.shift(n))
      .agg(F.corr(col("v"), col("p"))).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  private def pairAgg(other: Series,
                      f: (Column, Column) => Column): Double = {
    val row =
      if (other.base eq base) base.agg(f(valueExpr, other.valueExpr)).head()
      else {
        val l = df.select(col(indexName).as(IdxCol), col(name).as(LeftCol))
        val r = other.df.select(col(other.indexName).as(IdxCol),
          col(other.name).as(RightCol))
        l.join(r, Seq(IdxCol)).agg(f(col(LeftCol), col(RightCol))).head()
      }
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** Smallest most-frequent value (pandas `mode()[0]` — pandas returns all
    * tied modes; this surfaces the deterministic first). Partial+final
    * count per value, then a single ordered take. */
  def mode(): Any = base.filter(valueExpr.isNotNull)
    .groupBy(valueExpr.as("__v")).agg(F.count(lit(1)).as("__c"))
    .orderBy(col("__c").desc, col("__v").asc)
    .select("__v").head(1).headOption
    .map(_.get(0))
    .getOrElse(throw new IllegalArgumentException(
      s"mode() on empty or all-null Series '$name'"))

  /** Approximate distinct count via HyperLogLog++ (`rsd` = target relative
    * standard deviation). The 100 TB sibling of [[nunique]]: the sketch is
    * a fixed few-KB mergeable partial aggregate, so the shuffle carries one
    * sketch per partition instead of every distinct value. */
  def approxNunique(rsd: Double = 0.05): Long =
    base.agg(F.approx_count_distinct(valueExpr, rsd)).head().getLong(0)

  /** Approximate quantile via the Greenwald–Khanna-style sketch
    * (percentile_approx): fixed-size mergeable state, the scale path when
    * [[quantile]]'s exact sort-based aggregate is too expensive. Returns an
    * actual element of the column (no interpolation); rank error shrinks as
    * `accuracy` grows (~1/accuracy of the row count). */
  def approxQuantile(p: Double, accuracy: Int = 10000): Any =
    aggScalar(percentile_approx(valueExpr, lit(p), lit(accuracy)))

  /** Replace nulls with a constant (pandas fillna). */
  def fillna(v: Any): Series = withValue(coalesce(valueExpr, lit(v)))

  /** pandas between_time(start, end): rows whose timestamp-index
    * TIME-OF-DAY lies in [start, end] (both inclusive, pandas defaults;
    * `start > end` selects the overnight wrap). Times are "HH:mm" or
    * "HH:mm:ss". Compared in µs-of-day off `unix_micros` — session-tz
    * independent, and sub-second timestamps compare like pandas Time
    * objects (17:00:00.000001 is OUTSIDE an end of 17:00). A pure per-row
    * predicate — pushdown-friendly, no shuffle. */
  def betweenTime(start: String, end: String): Series = {
    def us(t: String): Long = {
      val p = t.split(":").map(_.toInt)
      require(p.length == 2 || p.length == 3,
        s"time must be HH:mm or HH:mm:ss, got '$t'")
      require(p(0) >= 0 && p(0) < 24 && p(1) >= 0 && p(1) < 60,
        s"bad time '$t'")
      (p(0) * 3600L + p(1) * 60L + (if (p.length == 3) p(2) else 0)) *
        1000000L
    }
    val s0 = us(start); val e0 = us(end)
    val tod = unix_micros(indexExpr) % 86400000000L
    val pred =
      if (s0 <= e0) tod >= s0 && tod <= e0
      else tod >= s0 || tod <= e0 // overnight wrap
    new Series(base.filter(pred), name, indexName, indexExpr, valueExpr)
  }

  /** pandas at_time(t): rows at exactly that time of day. */
  def atTime(t: String): Series = betweenTime(t, t)

  /** Drop rows whose value is null (pandas dropna). */
  def dropna(): Series =
    new Series(base.filter(valueExpr.isNotNull), name, indexName, indexExpr,
      valueExpr)

  /** Clip values into [lo, hi] (pandas clip). */
  def clip(lo: Double, hi: Double): Series =
    withValue(least(greatest(valueExpr, lit(lo)), lit(hi)))

  /** Absolute value. */
  def abs(): Series = withValue(F.abs(valueExpr))

  /** Membership test → boolean Series (pandas isin). */
  def isin(vals: Any*): Series = withValue(valueExpr.isin(vals: _*))

  /** Deterministic Bernoulli sample (pandas `sample(frac, random_state)`
    * re-expressed scale-first): keep rows whose salted md5 hex-prefix draw
    * on the index label falls below `frac` — a pure per-row predicate, no
    * shuffle, no sampling pass, reproducible, and stable under data growth
    * (a row's fate never depends on other rows; same rule as
    * [[graft.ops.PipelineOps.mixtureSample]]). Granularity 1/65536. */
  def sample(frac: Double, salt: String = "s"): Series = {
    require(frac >= 0.0 && frac <= 1.0, "frac must be in [0, 1]")
    if (frac >= 1.0) this
    else {
      val h = F.substring(
        F.md5(F.concat(lit(salt), indexExpr.cast("string"))), 1, 4)
      val th = f"${math.min((frac * 65536).toLong, 65535L)}%04x"
      new Series(base.filter(h < lit(th)), name, indexName, indexExpr,
        valueExpr)
    }
  }

  /** pandas `Series.duplicated(keep='first')`: true for every row whose
    * value already appeared at a smaller index label. One UNORDERED keyed
    * window (min label per value partition) — a single shuffle on the
    * value, no sort, no self-join. */
  def duplicated(): Series = withValue(indexExpr >
    F.min(indexExpr).over(
      org.apache.spark.sql.expressions.Window.partitionBy(valueExpr)))

  /** pandas `Series.duplicated(keep=)` — all three pandas spellings:
    * 'first' flags rows whose value appeared at a smaller label, 'last'
    * at a larger label, "false" (pandas keep=False) flags EVERY row of a
    * value that occurs more than once. Each is ONE unordered keyed window
    * over the value partition — a single shuffle, no sort, no self-join. */
  def duplicated(keep: String): Series = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(valueExpr)
    keep match {
      case "first" => duplicated()
      case "last"  => withValue(indexExpr < F.max(indexExpr).over(w))
      case "false" => withValue(F.count(lit(1)).over(w) > 1)
      case other => throw new IllegalArgumentException(
        s"keep must be first|last|false, got $other")
    }
  }

  /** All three [[duplicated]] flags beside the index from ONE Window node
    * (the min/max/count frames share the value partition, so Spark plans
    * a single exchange + a single window operator). */
  def duplicatedFlags(): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(valueExpr)
    base.select(indexExpr.as(indexName), valueExpr.as(name),
      (indexExpr > F.min(indexExpr).over(w)).as("dup_first"),
      (indexExpr < F.max(indexExpr).over(w)).as("dup_last"),
      (F.count(lit(1)).over(w) > 1).as("dup_all"))
  }

  /** pandas `Series.drop_duplicates(keep='first')`: the first-labeled row
    * of every value survives. Same single-shuffle plan as [[duplicated]]
    * (the window flag must materialize in a subframe before filtering). */
  def dropDuplicates(): Series = {
    val flagged = df.withColumn("__dup", col(indexName) >
      F.min(col(indexName)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(name))))
    Series.fromKeyed(flagged.filter(!col("__dup")).drop("__dup"), name,
      indexName)
  }

  /** pandas `Series.drop_duplicates(keep=)`: survivors under any of the
    * three [[duplicated]] keep policies (keep="false" drops every row of
    * any repeated value, like pandas keep=False). Same single-shuffle
    * window-flag plan as the keep='first' overload — no self-join. */
  def dropDuplicates(keep: String): Series = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(name))
    val flag = keep match {
      case "first" => col(indexName) > F.min(col(indexName)).over(w)
      case "last"  => col(indexName) < F.max(col(indexName)).over(w)
      case "false" => F.count(lit(1)).over(w) > 1
      case other => throw new IllegalArgumentException(
        s"keep must be first|last|false, got $other")
    }
    val flagged = df.withColumn("__dup", flag)
    Series.fromKeyed(flagged.filter(!col("__dup")).drop("__dup"), name,
      indexName)
  }

  /** Inclusive range test → boolean Series (pandas between). */
  def between(lo: Any, hi: Any): Series =
    withValue(valueExpr.between(lit(lo), lit(hi)))

  /** Positional half-open slice [from, until) in index order (pandas
    * iloc[a:b]). Ordinal position = exclusive bucket-count offset +
    * within-bucket row_number over the range-bucketed index (see
    * [[GlobalWindows]]) — no single-task global sort. */
  def iloc(from: Long, until: Long): Series = {
    require(from >= 0 && until >= from, "invalid positional range")
    val g = globalWindows()
    val out = g.result(name -> g.value, "__pos" -> (g.position() - 1L))
      .filter(col("__pos") >= from && col("__pos") < until)
      .drop("__pos")
    Series.fromKeyed(out, name, indexName)
  }

  /** Explode an array-valued Series into one row per element, repeating
    * the index label (pandas Series.explode, which keeps the original
    * index). Empty and null arrays produce one null-valued row — pandas
    * emits NaN there, and `explode_outer` is the exact Spark twin. Row
    * count grows but nothing shuffles: Generate is per-partition fan-out. */
  def explode(): Series = {
    val out = base.select(indexExpr.as(indexName),
      explode_outer(valueExpr).as(name))
    new Series(out, name, indexName, col(indexName), col(name))
  }

  /** Fixed-width binning (pandas cut with an int bin count): bucket =
    * floor((v − min) / width), top edge clamped into the last bin (pandas
    * includes the max in the rightmost interval). Null values → null
    * bucket. Two bounded driver scalars (min/max — near-free off parquet
    * footer stats), then a pure per-row expression; no shuffle. */
  /** pandas cut(bins=[e0, e1, …], labels=): explicit monotone bin edges,
    * right-closed intervals (e0, e1] … (pandas right=True); values at or
    * below e0, above the last edge, or null → null (pandas NaN). With
    * `labels` empty the bin ORDINAL is returned. Edges are caller
    * literals (bounded, never data-derived), so assignment is a pure
    * per-row when-chain — no driver scan, no shuffle. */
  def cut(edges: Seq[Double], labels: Seq[String]): Series = {
    require(edges.size >= 2, "need at least two edges")
    require(edges == edges.sorted && edges.distinct == edges,
      "edges must be strictly increasing")
    require(labels.isEmpty || labels.size == edges.size - 1,
      "labels must match bin count")
    val v = valueExpr.cast("double")
    val out = (0 until edges.size - 1).foldRight(
      lit(null).cast(if (labels.nonEmpty) "string" else "int"): Column) {
      case (i, acc) =>
        when(v > edges(i) && v <= edges(i + 1),
          if (labels.nonEmpty) lit(labels(i)) else lit(i)).otherwise(acc)
    }
    withValue(out)
  }

  def cut(bins: Int): Series = {
    require(bins >= 1, "bins must be >= 1")
    val r = base.agg(F.min(valueExpr).cast("double"),
      F.max(valueExpr).cast("double")).head()
    if (r.isNullAt(0)) return withValue(lit(null).cast("int"))
    val (lo, hi) = (r.getDouble(0), r.getDouble(1))
    val width = (hi - lo) / bins
    // least() skips nulls (returns the smallest NON-null arg), so guard
    // null inputs explicitly or they'd land in the last bin.
    val bucket =
      if (width <= 0.0) when(valueExpr.isNotNull, lit(0))
      else when(valueExpr.isNotNull,
        least(floor((valueExpr.cast("double") - lit(lo)) / lit(width)),
          lit(bins - 1.0)).cast("int"))
    withValue(bucket)
  }

  /** Quantile binning (pandas qcut): bucket = #{interior quantile
    * boundaries strictly below v} over exact interpolated quantiles, so
    * bucket i is (q_i, q_{i+1}] except the first, which is closed on the
    * left — pandas' convention. The q−1 boundaries are bounded driver
    * state (like IVF centroids / prefix-sum offsets); assignment is a
    * per-row expression chain, no shuffle. */
  def qcut(q: Int): Series = qcut(q, "raise")

  /** pandas qcut(duplicates=): 'raise' (default) errors when quantile
    * edges collide (heavy mass on one value — pandas' exact behavior);
    * 'drop' dedups the edges, yielding contiguous but fewer bins. */
  def qcut(q: Int, duplicates: String): Series =
    qcut(q, duplicates, approx = false)

  /** [[qcut]] with a scale switch: `approx = true` derives the bin edges
    * from the percentile_approx sketch (fixed-size mergeable state — the
    * 100 TB default) instead of the exact sort-based percentile, whose
    * aggregation state is the DISTINCT-VALUE MULTISET: bounded on gridded
    * domains (2dp money), unbounded on continuous doubles. Approx edges
    * are actual column elements within `1/accuracy` rank error; the
    * assignment expression is identical. */
  def qcut(q: Int, duplicates: String, approx: Boolean,
           accuracy: Int = 10000): Series = {
    require(q >= 1, "q must be >= 1")
    require(Set("raise", "drop")(duplicates),
      s"duplicates must be 'raise' or 'drop', got '$duplicates'")
    val ps = typedlit((1 until q).map(_.toDouble / q))
    val edges =
      if (approx) percentile_approx(valueExpr, ps, lit(accuracy))
        .cast("array<double>")
      else percentile(valueExpr, ps)
    val row = base.agg(edges.as("qs")).head()
    if (row.isNullAt(0)) return withValue(lit(null).cast("int"))
    val raw = row.getSeq[Double](0)
    val cuts =
      if (duplicates == "drop") raw.distinct
      else {
        require(raw.distinct.size == raw.size,
          s"Bin edges must be unique: $raw (pass duplicates='drop')")
        raw
      }
    val bucket = cuts.foldLeft(lit(0)) { (acc, b) =>
      acc + when(valueExpr.cast("double") > lit(b), 1).otherwise(0)
    }
    withValue(when(valueExpr.isNotNull, bucket))
  }

  /** Winsorize: clip at the [qLo, qHi] exact-percentile bounds — the
    * outlier guard quality pipelines apply before scaling. ONE bounded
    * 1-row percentile aggregate yields both bounds; they are grid-snapped
    * (floor(x·1e6 + 0.5)/1e6, the engine-portable round6) so an
    * engine-replicated clip compares against the identical double, and
    * the clip itself is a per-row least/greatest projection.
    *
    * CAUTION at scale: the exact percentile's aggregation state is the
    * distinct-value multiset — bounded on gridded domains like 2dp money
    * (the oracle gates), unbounded on continuous doubles. Production
    * default for 100 TB continuous data is `approx = true`. */
  def winsorize(qLo: Double, qHi: Double): Series =
    winsorize(qLo, qHi, approx = false)

  /** [[winsorize]] with the scale switch: `approx = true` takes both clip
    * bounds from ONE percentile_approx sketch (fixed-size mergeable
    * state); bounds are actual column elements within `1/accuracy` rank
    * error of the exact quantiles (bound asserted in SeriesSpec). */
  def winsorize(qLo: Double, qHi: Double, approx: Boolean,
                accuracy: Int = 10000): Series = {
    require(0.0 <= qLo && qLo < qHi && qHi <= 1.0,
      s"need 0 <= qLo < qHi <= 1, got ($qLo, $qHi)")
    val ps = typedlit(Seq(qLo, qHi))
    val bounds =
      if (approx) percentile_approx(valueExpr, ps, lit(accuracy))
        .cast("array<double>")
      else percentile(valueExpr, ps)
    val row = base.agg(bounds.as("qs")).head()
    if (row.isNullAt(0)) return this
    val qs = row.getSeq[Double](0)
    def snap(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    withValue(when(valueExpr.isNotNull,
      least(greatest(valueExpr.cast("double"), lit(snap(qs.head))),
        lit(snap(qs(1))))))
  }

  /** Shared range-bucket two-pass window builder over this Series — compose
    * several global-order window expressions on one bucketed scan (see
    * [[GlobalWindows]]). `carry` = max lag / rolling-width−1 needed;
    * `fcarry` = max lead (negative shift) needed; `extra` = passthrough
    * columns (resolved against the base frame); `balanced` swaps the
    * equal-width bucket boundaries for approximate-quantile ones — the
    * opt-in for HEAVILY SKEWED indexes, where equal-width would collapse
    * most rows into one straggler bucket. */
  def globalWindows(buckets: Int = 32, carry: Int = 0,
      extra: Seq[(String, Column)] = Nil, fcarry: Int = 0,
      balanced: Boolean = false): GlobalWindows =
    new GlobalWindows(this, buckets, carry, extra, fcarry, balanced)

  /** Cumulative sum in index order (pandas cumsum) on the distributed
    * two-pass bucket plan ([[GlobalWindows]]). [[cumsumBy]] is the keyed
    * sibling. */
  def cumsum(): Series = cumsumDistributed()

  /** [[cumsum]] with an explicit bucket count (s29 gate). See
    * [[GlobalWindows]] for the plan shape and float-association caveat. */
  def cumsumDistributed(buckets: Int = 32): Series = {
    val g = globalWindows(buckets)
    g.series(g.cumsum(), name)
  }

  /** Stack another Series under this one (pandas pd.concat axis=0):
    * keeps both index columns as-is — duplicate labels allowed, exactly
    * like pandas. Plain union: no shuffle, no dedup. */
  def concat(other: Series): Series =
    Series.fromKeyed(df.union(other.df.toDF(indexName, name)), name, indexName)

  /** Index label of the maximum value (pandas idxmax; ties → smallest
    * label, pandas' first-occurrence rule; nulls skipped; empty or
    * all-null Series → null, pandas' NaN). One TakeOrderedAndProject
    * job — per-partition heaps, no global sort. */
  def idxmax(): Any = df.filter(col(name).isNotNull)
    .orderBy(col(name).desc, col(indexName).asc)
    .select(indexName).head(1).headOption
    .map(_.get(0)).orNull

  /** Index label of the minimum value (pandas idxmin; empty or all-null
    * Series → null, pandas' NaN). */
  def idxmin(): Any = df.filter(col(name).isNotNull)
    .orderBy(col(name).asc, col(indexName).asc)
    .select(indexName).head(1).headOption
    .map(_.get(0)).orNull

  /** pandas groupby(by).idxmax(): per group, the index label of the
    * maximum value (ties → smallest label, pandas' first occurrence).
    * The rank predicate sits directly on the staged row_number →
    * WindowGroupLimit per-partition top-1 heaps before the shuffle (the
    * grouped sibling of [[idxmax]]'s TakeOrderedAndProject). All-null
    * groups drop (pandas raises there; dropping is the distributed
    * convention used by [[idxmax]] too). */
  def idxmaxBy(by: Column, keyName: String = "key"): DataFrame =
    argExtremeBy(by, keyName, valueExpr.desc_nulls_last)

  /** pandas groupby(by).idxmin(): per-group label of the minimum. */
  def idxminBy(by: Column, keyName: String = "key"): DataFrame =
    argExtremeBy(by, keyName, valueExpr.asc_nulls_last)

  private def argExtremeBy(by: Column, keyName: String,
      order: Column): DataFrame = {
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(by)
        .orderBy(order, indexExpr.asc))
    base.select(by.as(keyName), indexExpr.as(indexName),
        valueExpr.as(name), rn.as("__rn"))
      .filter(col("__rn") === 1 && col(name).isNotNull)
      .select(col(keyName), col(indexName))
  }

  /** Top-n rows by value (pandas nlargest): TakeOrderedAndProject —
    * per-partition heaps, no global sort. */
  def nlargest(n: Int): Series = Series.fromKeyed(
    df.orderBy(col(name).desc, col(indexName).asc).limit(n), name, indexName)

  /** Bottom-n rows by value (pandas nsmallest). */
  def nsmallest(n: Int): Series = Series.fromKeyed(
    df.orderBy(col(name).asc, col(indexName).asc).limit(n), name, indexName)

  /** Cumulative max in index order (pandas cummax) on the bucketed
    * two-pass plan ([[GlobalWindows]]: within-bucket prefix max +
    * exclusive bucket-max offsets). */
  def cummax(): Series = { val g = globalWindows(); g.series(g.cummax(), name) }

  /** Cumulative min in index order (pandas cummin). */
  def cummin(): Series = { val g = globalWindows(); g.series(g.cummin(), name) }

  /** Cumulative product in index order (pandas cumprod), distributed in
    * the LOG DOMAIN: a product has no partial+final Spark aggregate, but
    * `exp(Σ log|x|)` rides the same bucketed prefix-sum machinery as
    * cumsum, with two more prefix sums carrying what the log loses —
    * sign parity (count of negative factors, odd → −1) and the zero
    * short-circuit (any preceding zero → 0). All three prefixes share ONE
    * bucketed scan, one stats job, and one Window stage
    * ([[GlobalWindows.cumsumExtra]]).
    *
    * Output is always double; exp∘Σ∘log loses the last ~2 ulps vs an
    * exact sequential product (the same float-association tolerance as
    * the parallel cumsum — round results you compare across engines).
    * Null values yield null at their own row and are skipped by later
    * products, exactly like pandas. */
  def cumprod(): Series = {
    val neg = "__cp_neg"; val zer = "__cp_zero"; val lg = "__cp_log"
    val g = globalWindows(extra = Seq(
      neg -> when(valueExpr.isNotNull, when(valueExpr < 0, 1L).otherwise(0L)),
      zer -> when(valueExpr.isNotNull, when(valueExpr === 0, 1L).otherwise(0L)),
      lg -> when(valueExpr =!= 0, log(F.abs(valueExpr.cast("double"))))))
    val negs = g.cumsumExtra(neg)
    val zeros = g.cumsumExtra(zer)
    val logs = g.cumsumExtra(lg)
    val out = when(g.value.isNull, lit(null).cast("double"))
      .when(coalesce(zeros, lit(0L)) > 0L, lit(0.0))
      .otherwise(
        when(coalesce(negs, lit(0L)) % 2 === 1L, lit(-1.0)).otherwise(lit(1.0))
          * exp(logs))
    g.series(out, name)
  }

  /** Value shifted by `n` positions in index order (pandas shift) —
    * null-padded. The bucketed plan carries the global last-n (or, for
    * negative n, FIRST-n-of-following) rows per bucket boundary as bounded
    * carry rows ([[GlobalWindows]]). [[shiftBy]] is the keyed sibling. */
  def shift(n: Int = 1): Series =
    if (n >= 0) {
      val g = globalWindows(carry = n)
      g.series(g.shift(n), name)
    } else {
      val g = globalWindows(fcarry = -n)
      g.series(g.lead(-n), name)
    }

  /** First discrete difference v - v.shift(n) (pandas diff). */
  def diff(n: Int = 1): Series =
    if (n >= 0) {
      val g = globalWindows(carry = n)
      g.series(g.diff(n), name)
    } else {
      val g = globalWindows(fcarry = -n)
      g.series(g.diffLead(-n), name)
    }

  /** pandas Series.is_monotonic_increasing: non-strict (equal neighbors
    * allowed), any null value → false (pandas NaN behavior). Read from
    * [[monotonicStats]]. */
  def isMonotonicIncreasing: Boolean = monotonicStats().increasing

  /** pandas Series.is_monotonic_decreasing. */
  def isMonotonicDecreasing: Boolean = monotonicStats().decreasing

  /** FUSED scalar probes — is_monotonic_increasing, is_monotonic_decreasing,
    * any(anyPred), all(allPred) — closed from ONE shared diff pass and ONE
    * 1-row aggregate. Issuing the four pandas probes separately costs
    * ≈ 2 jobs each (a null-count agg + a bucketed diff agg per direction);
    * this collapses a whole probe bundle to a single scan + aggregate with
    * identical semantics (null value ⇒ both monotonic flags false; length
    * ≤ 1 ⇒ both true; any() false / all() true on empty). */
  def monotonicStats(anyPred: Column => Column = _ => lit(false),
                     allPred: Column => Column = _ => lit(true))
      : Series.MonotonicStats = {
    // one frame carrying BOTH the raw value and its global diff(1)
    val g = globalWindows(carry = 1)
    val d = g.result("__d" -> g.diff(1), "__v" -> col(name))
    val r = d.agg(
      F.count(lit(1)), F.count(col("__v")),
      F.min(when(col("__d").isNull || col("__d") >= 0, 1L).otherwise(0L)),
      F.min(when(col("__d").isNull || col("__d") <= 0, 1L).otherwise(0L)),
      coalesce(bool_or(anyPred(col("__v"))), lit(false)),
      coalesce(bool_and(allPred(col("__v"))), lit(true))).head()
    val n = r.getLong(0)
    val nonNull = r.getLong(1) == n // any null value → both flags false
    Series.MonotonicStats(
      increasing = nonNull && (n <= 1 || r.getLong(2) == 1L),
      decreasing = nonNull && (n <= 1 || r.getLong(3) == 1L),
      anyTrue = r.getBoolean(4),
      allTrue = r.getBoolean(5))
  }

  /** pandas (s `op` x).any(): does ANY value satisfy the predicate. */
  def any(pred: Column => Column): Boolean =
    aggScalar(coalesce(bool_or(pred(valueExpr)), lit(false))) match {
      case b: Boolean => b
    }

  /** pandas (s `op` x).all(): do ALL values satisfy it (true on empty). */
  def all(pred: Column => Column): Boolean =
    aggScalar(coalesce(bool_and(pred(valueExpr)), lit(true))) match {
      case b: Boolean => b
    }

  /** Fractional change from the previous value (pandas pct_change).
    * try_divide: a zero previous value yields null, not a DIVIDE_BY_ZERO
    * abort under Spark 4's default ANSI mode. */
  def pctChange(periods: Int = 1): Series = {
    require(periods != 0, "pct_change periods must be non-zero")
    if (periods >= 1) {
      val g = globalWindows(carry = periods)
      g.series(g.pctChange(periods), name)
    } else { // pandas pct_change(-n): change vs the FOLLOWING value
      val g = globalWindows(fcarry = -periods)
      g.series(g.pctChangeLead(-periods), name)
    }
  }

  /** Rank of each value (pandas rank(method=)): ties resolve by `method` —
    * 'average' (pandas default: ties share the mean of their positions),
    * 'min', 'max', 'first' (order of appearance = index order; needs
    * unique index labels to be deterministic), 'dense' (no gaps after
    * ties). Null values rank as null and never shift real ranks. Output
    * is double (pandas rank is float64).
    *
    * Distributed for every orderable value dtype (see [[rankAll]]). */
  def rank(buckets: Int = 32): Series = rank("average", buckets)

  def rank(method: String, buckets: Int): Series = {
    val d = rankAll(Seq(method), buckets)
    Series.fromKeyed(
      d.select(col(indexName), col(s"rank_$method").as(name)),
      name, indexName)
  }
  def rank(method: String): Series = rank(method, 32)

  /** pandas rank(na_option='top'/'bottom', method='average'): nulls rank
    * as a block BEFORE ('top') or AFTER ('bottom') every real value —
    * the same distributed rankAll plan plus ONE bounded (total,
    * non-null) count row; the null block's average-method rank and the
    * non-null shift are pure per-row arithmetic on those two scalars.
    * (na_option='keep' is [[rank]] itself: nulls stay null.) */
  def rankNa(naOption: String, method: String = "average",
             buckets: Int = 32): Series = {
    require(naOption == "top" || naOption == "bottom",
      s"na_option must be 'top' or 'bottom', got '$naOption'")
    require(method == "average",
      "rankNa currently supports method='average'")
    val counts = base.agg(F.count(lit(1)), F.count(valueExpr)).head()
    val total = counts.getLong(0); val nonNull = counts.getLong(1)
    val nNull = total - nonNull
    val nullBlock = (nNull + 1) / 2.0
    rank(method, buckets).transform(v =>
      if (naOption == "top")
        when(v.isNull, lit(nullBlock)).otherwise(v + lit(nNull.toDouble))
      else
        when(v.isNull, lit(nonNull + nullBlock)).otherwise(v))
  }

  /** Feature scaling — z-score standardization (x−μ)/σ, the
    * normalize-before-training step: ONE bounded 1-row (μ, σ) aggregate,
    * then a pure projection. Degenerate σ (0 or a single row) yields
    * null via try_divide rather than an ANSI abort. */
  def zscore(): Series = {
    val row = base.agg(F.avg(valueExpr), stddev_samp(valueExpr)).head()
    if (row.isNullAt(0) || row.isNullAt(1)) return withValue(lit(null))
    withValue(try_divide(valueExpr.cast("double") - lit(row.getDouble(0)),
      lit(row.getDouble(1))))
  }

  /** Feature scaling — min-max to [0, 1]: (x−min)/(max−min) from one
    * bounded 1-row bounds aggregate; constant series yield null. */
  def minmaxScale(): Series = {
    val row = base.agg(F.min(valueExpr).cast("double"),
      F.max(valueExpr).cast("double")).head()
    if (row.isNullAt(0)) return withValue(lit(null))
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    withValue(try_divide(valueExpr.cast("double") - lit(lo), lit(hi - lo)))
  }

  /** pandas factorize(): integer codes in order of FIRST APPEARANCE.
    * Distributed shape: first-appearance index per value is one keyed
    * min aggregate (partial+final, |distinct values| rows), the code is
    * the distributed DENSE rank of that first index (the same
    * value-bucketed rankAll machinery — no global-order window), and the
    * codes join back keyed by value. Nulls code −1 (pandas). */
  def factorize(buckets: Int = 32): Series = {
    val firsts = base.filter(valueExpr.isNotNull)
      .groupBy(valueExpr.as("__fv")).agg(F.min(indexExpr).as("__fi"))
    val codes = Series.fromExpr(firsts, col("__fi"), "v", col("__fv"), "idx")
      .rank("dense", buckets).df
      .select(col("idx").as("__fv"), (col("v") - 1).cast("int").as("__code"))
    val joined = base.select(indexExpr.as(indexName), valueExpr.as("__v"))
      .join(codes, col("__v") === col("__fv"), "left")
    Series.fromKeyed(joined.select(col(indexName),
      coalesce(col("__code"), lit(-1)).as(name)), name, indexName)
  }

  /** pandas rank(pct=True): the rank scaled by the non-null count — the
    * same distributed rankAll plan plus ONE bounded count scalar. */
  def rankPct(method: String = "average", buckets: Int = 32): Series = {
    val n = aggScalar(F.count(valueExpr)).asInstanceOf[Long]
    val r = rank(method, buckets)
    Series.fromKeyed(
      r.df.select(col(indexName), (col(name) / n.toDouble).as(name)),
      name, indexName)
  }

  /** SQL NTILE(k) over the global (value, index) order — DISTRIBUTED:
    * rides the value-bucketed rank_first machinery (no single-task
    * global window anywhere), then tiles are a pure expression over the
    * rank and two driver scalars (n, n % k). Remainder-first semantics
    * (the SQL standard): the first n % k tiles carry one extra row.
    * Null values keep a null tile (the pandas-qcut convention; SQL
    * NTILE would rank them — filter first for that behavior). */
  def ntile(k: Int, buckets: Int = 32): Series = {
    require(k >= 1, "ntile needs k >= 1")
    val ranked = rankAll(Seq("first"), buckets)
    val n = aggScalar(F.count(valueExpr)).asInstanceOf[Long]
    val quot = n / k
    val rem = n % k
    val r0 = col("rank_first").cast("long") - 1
    // quot == 0 (k > n): every row is alone in its tile — spell without
    // the second branch, whose /quot would divide by zero under ANSI.
    val tile =
      if (quot == 0) r0 + 1
      else
        when(r0 < lit(rem * (quot + 1)),
          floor(r0 / lit((quot + 1).toDouble)).cast("long") + 1)
          .otherwise(lit(rem)
            + floor((r0 - lit(rem * (quot + 1))) / lit(quot.toDouble))
              .cast("long") + 1)
    Series.fromKeyed(
      ranked.select(col(indexName),
        when(col("rank_first").isNotNull, tile).cast("int").as(name)),
      name, indexName)
  }

  /** All requested rank methods over ONE bucketed scan / one stats job —
    * columns `rank_<method>` beside the index. The value column buckets
    * through [[GlobalWindows.bucketing]], the index coordinate of every
    * global-order plan (numeric, string, binary, date and timestamp
    * values spread over buckets; a dtype with no coordinate, such as
    * boolean, is one bucket). Identical values always land in one bucket,
    * so ties never split; null values are in no bucket and rank null.
    * rank = within-bucket rank + exclusive non-null count of lower buckets
    * ([[bucketOffsets]]; dense uses the exclusive DISTINCT count) + the
    * per-method tie shift from an unordered partitionBy(bucket, value)
    * count. Every window is partitioned by the bucket first, so the plan
    * has one hash exchange of the bucketed rows; no Window without a
    * partitionBy anywhere in the plan. */
  def rankAll(methods: Seq[String], buckets: Int = 32): DataFrame = {
    val known = Set("average", "min", "max", "first", "dense")
    methods.foreach(m => require(known(m), s"unknown rank method '$m'"))
    val W = org.apache.spark.sql.expressions.Window
    val d = base.select(indexExpr.as(indexName), valueExpr.as(name))
    val v = col(name)
    // two consumers (count stats + the ranked plan): persist one scan;
    // null values stay out of every bucket
    val keyed = graft.Caches.track(d.withColumn(BktCol,
        when(v.isNotNull, GlobalWindows.bucketing(d, name, buckets)._1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val Seq(cntOff, dstOff) = bucketOffsets(
      keyed.filter(col(BktCol).isNotNull), BktCol,
      F.count(lit(1)), F.count_distinct(v))
    val rkWin = W.partitionBy(col(BktCol)).orderBy(col(name).asc)
    val firstWin =
      W.partitionBy(col(BktCol)).orderBy(col(name).asc, col(indexName).asc)
    // ties never span buckets, so the tie count rides the bucket layout
    val tieCnt = F.count(lit(1)).over(W.partitionBy(col(BktCol), col(name)))
    val minRk = F.rank().over(rkWin) + cntOff
    def expr(m: String): Column = when(v.isNotNull, m match {
      case "min" => minRk.cast("double")
      case "max" => (minRk + tieCnt - 1).cast("double")
      case "average" =>
        minRk.cast("double") + (tieCnt - 1).cast("double") / 2.0
      case "first" => (row_number().over(firstWin) + cntOff).cast("double")
      case "dense" => (dense_rank().over(rkWin) + dstOff).cast("double")
    })
    keyed.select(col(indexName) +:
      methods.map(m => expr(m).as(s"rank_$m")): _*)
  }

  /** Exclusive per-bucket prefix offsets: the long aggregates `aggs` of
    * `df` grouped by its bucket column `bkt` (`buckets` rows of driver
    * state), each summed over every LOWER bucket and read back per row
    * from a `buckets`-entry literal map (a bucket with no group reads 0). */
  private def bucketOffsets(df: DataFrame, bkt: String,
      aggs: Column*): Seq[Column] = {
    val rows = df.groupBy(col(bkt)).agg(aggs.head, aggs.tail: _*)
      .collect().sortBy(_.getLong(0))
    aggs.indices.map { i =>
      val offs = rows.map(_.getLong(0))
        .zip(rows.scanLeft(0L)(_ + _.getLong(i + 1))).toMap
      if (offs.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offs), col(bkt)), lit(0L))
    }
  }

  /** pandas ewm(alpha=, adjust=, ignore_na=): exponentially weighted
    * mean / var / std in global index order, distributed through range
    * buckets + a sequential per-bucket scan (see [[Ewm]] for the
    * factorization and why a recurrence can't be a window aggregate). */
  def ewm(alpha: Double, buckets: Int = 32, adjust: Boolean = true,
      ignoreNa: Boolean = false): Ewm =
    new Ewm(this, alpha, buckets, adjust, ignoreNa)

  /** pandas ewm(span=): α = 2/(span+1) — span=20 is the canonical EMA
    * spelling. */
  def ewmSpan(span: Double, buckets: Int = 32, adjust: Boolean = true,
      ignoreNa: Boolean = false): Ewm =
    ewm(Ewm.alphaOfSpan(span), buckets, adjust, ignoreNa)

  /** pandas ewm(halflife=): α = 1 − exp(−ln2/halflife). */
  def ewmHalflife(halflife: Double, buckets: Int = 32,
      adjust: Boolean = true, ignoreNa: Boolean = false): Ewm =
    ewm(Ewm.alphaOfHalflife(halflife), buckets, adjust, ignoreNa)

  /** pandas ewm(com=): α = 1/(1+com). */
  def ewmCom(com: Double, buckets: Int = 32, adjust: Boolean = true,
      ignoreNa: Boolean = false): Ewm =
    ewm(Ewm.alphaOfCom(com), buckets, adjust, ignoreNa)

  /** pandas s.ewm(alpha).cov(other, bias=False) / .corr(other) —
    * `(index, ewm_cov, ewm_corr)` from ONE pass of the bucketed decayed-
    * partial plan extended to seven pairwise co-moments (see
    * [[EwmPair]]). Same-base pairs compose on one scan; cross-frame
    * pairs index-align first. adjust=True weights (pandas default). */
  def ewmPairStats(other: Series, alpha: Double, buckets: Int = 32,
      ignoreNa: Boolean = false): DataFrame =
    withPair(other) { (b, _, y) =>
      new EwmPair(b, y, alpha, buckets, ignoreNa).stats
    }

  /** pandas s.ewm(alpha).cov(other) as a Series. */
  def ewmCov(other: Series, alpha: Double, buckets: Int = 32,
      ignoreNa: Boolean = false): Series =
    withPair(other) { (b, _, y) =>
      new EwmPair(b, y, alpha, buckets, ignoreNa).cov()
    }

  /** pandas s.ewm(alpha).corr(other) as a Series. */
  def ewmCorr(other: Series, alpha: Double, buckets: Int = 32,
      ignoreNa: Boolean = false): Series =
    withPair(other) { (b, _, y) =>
      new EwmPair(b, y, alpha, buckets, ignoreNa).corr()
    }

  /** Keyed sibling (pandas groupby(k).ewm(alpha).cov(other)/.corr):
    * same-base only (two columns of one table); independent per-key
    * recurrences, one shuffle on the key — no bucket fold needed.
    * Output: (index, key, ewm_cov, ewm_corr). */
  def ewmPairStatsBy(by: Column, other: Series, alpha: Double,
      ignoreNa: Boolean = false): DataFrame = {
    require(other.base eq base,
      "keyed ewm cov/corr needs both Series on one base frame")
    Ewm.pairStatsBy(this, other.valueExpr, by, alpha, ignoreNa)
  }

  /** pandas expanding().mean()/.std() — (idx, emean, estd): cumulative
    * observation count, sum, and sum-of-squares are three prefix sums on
    * ONE bucketed scan ([[GlobalWindows.cumsumExtra]]); mean = Σx/n and
    * std = √((Σx² − (Σx)²/n)/(n−1)) close them per row. The sum-of-squares
    * spelling (not Welford) is deliberate: it is reproducible across
    * engines under the same prefix order, which is what the oracle
    * compares; the (clamped-at-0) cancellation costs ~1 ulp of Σx² —
    * round results you compare across engines, as with cumsum. Null
    * values join pandas semantics: they don't advance n, Σx, or Σx². */
  def expandingStats(): DataFrame = {
    val ind = "__ex_n"; val x2 = "__ex_x2"
    val xd = valueExpr.cast("double")
    val g = globalWindows(extra = Seq(
      ind -> when(valueExpr.isNotNull, 1L),
      x2 -> (xd * xd)))
    val n = g.cumsumExtra(ind)
    val s1 = g.cumsum().cast("double")
    val s2 = g.cumsumExtra(x2)
    val mean = when(n >= 1L, s1 / n)
    val varE = greatest((s2 - s1 * s1 / n) / (n - 1L), lit(0.0))
    g.result("emean" -> mean, "estd" -> when(n >= 2L, sqrt(varE)))
  }

  /** pandas groupby(by).expanding().mean()/.std(): the keyed sibling —
    * per-group cumulative n/Σx/Σx² are plain keyed-window sums, one
    * shuffle on the key, no bucket machinery. Output
    * (idx, key, emean, estd). */
  def expandingStatsBy(by: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cw = keyedWindow(by).rowsBetween(W.unboundedPreceding, W.currentRow)
    val xd = valueExpr.cast("double")
    val n = F.count(valueExpr).over(cw)
    val s1 = F.sum(xd).over(cw)
    val s2 = F.sum(xd * xd).over(cw)
    val mean = when(n >= 1L, s1 / n)
    val varE = greatest((s2 - s1 * s1 / n) / (n - 1L), lit(0.0))
    base.select(indexExpr.as(indexName), by.as("key"),
      mean.as("emean"), when(n >= 2L, sqrt(varE)).as("estd"))
  }

  /** pandas groupby(by).expanding().quantile(q): EXACT percentile over
    * the cumulative per-group frame — one shuffle on the key, per-group
    * ordered scan; the sort-based percentile re-evaluates per row (an
    * exact expanding order statistic has no incremental form — unlike
    * mean/std it needs the whole prefix multiset, which is also why no
    * exact GLOBAL expanding quantile rides the bucketed carry plan: a
    * bounded carry cannot represent an unbounded prefix of values; see
    * [[expandingQuantileApprox]]). */
  def expandingQuantileBy(by: Column, q: Double): Series = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    val W = org.apache.spark.sql.expressions.Window
    val cw = keyedWindow(by).rowsBetween(W.unboundedPreceding, W.currentRow)
    withValue(percentile(valueExpr, lit(q)).over(cw))
  }

  /** pandas groupby(by).expanding().median(). */
  def expandingMedianBy(by: Column): Series = expandingQuantileBy(by, 0.5)

  /** pandas expanding().quantile(q), global index order, APPROXIMATE:
    * fully distributed, bounded state, via
    * mergeable Greenwald–Khanna sketches (the percentile_approx summary):
    *
    *   1. rows range-repartition + sort by index (`buckets` ordered
    *      partitions — the [[GlobalWindows]] shape);
    *   2. one pass per partition builds its value sketch — `buckets`
    *      compressed sketches (~KBs each, ~(1/ε)·log(εN) tuples) collect
    *      to the driver, the only driver state;
    *   3. exclusive prefix-merges broadcast back; a second pass per
    *      partition seeds its running sketch with the prefix and emits
    *      `query(q)` after each ordered insert.
    *
    * Per-row rank error ≤ ε·n over each row's own prefix (spec-asserted).
    * This is genuine per-partition sequential-state logic, so it uses
    * mapPartitions deliberately — no SQL window exposes partial-sketch
    * merge. An exact global expanding quantile cannot distribute (an
    * unbounded prefix multiset does not factorize into bounded carry);
    * [[expandingQuantileBy]] is the exact keyed sibling. */
  def expandingQuantileApprox(q: Double, relativeError: Double = 0.01,
                              buckets: Int = 32): Series = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    require(relativeError > 0.0 && relativeError < 1.0,
      s"relativeError must be in (0, 1), got $relativeError")
    import org.apache.spark.sql.catalyst.util.QuantileSummaries
    import org.apache.spark.sql.Row
    val spark = base.sparkSession
    def fresh() = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, relativeError,
      Array.empty, 0L, false)
    // one persisted range-partitioned ordered projection feeds BOTH passes
    // with identical partitioning (repartitionByRange re-samples per job).
    val parted = graft.Caches.track(
      df.select(col(indexName), col(name).cast("double").as("__v"))
        .repartitionByRange(buckets, col(indexName).asc_nulls_first)
        .sortWithinPartitions(col(indexName).asc_nulls_first)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nParts = parted.rdd.getNumPartitions
    val perPart = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = fresh()
      it.foreach(r => if (!r.isNullAt(1)) s = s.insert(r.getDouble(1)))
      Iterator(pid -> s.compress())
    }.collect().toMap
    // exclusive prefix merge: partition p's seed = sketches of 0..p-1
    val prefixes = new Array[QuantileSummaries](nParts)
    var acc = fresh().compress()
    (0 until nParts).foreach { p =>
      prefixes(p) = acc
      acc = acc.merge(perPart.getOrElse(p, fresh().compress()))
    }
    val bc = spark.sparkContext.broadcast(prefixes)
    val outRdd = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      // Seed from a DEFENSIVE COPY: insert() mutates the sketch's internal
      // head buffer in place, and in local mode bc.value returns the
      // driver's own object — seeding directly would corrupt the prefix
      // for re-evaluations (the orderBy alone evaluates this RDD twice)
      // and task retries. The sampled array itself is never mutated in
      // place (inserts build new arrays), so sharing it is safe.
      val pre = bc.value(pid)
      var s = new QuantileSummaries(
        QuantileSummaries.defaultCompressThreshold, relativeError,
        pre.sampled, pre.count, pre.compressed)
      it.map { r =>
        if (!r.isNullAt(1)) s = s.insert(r.getDouble(1)).compress()
        Row(r.get(0), s.query(q).map(Double.box).orNull)
      }
    }
    val schema = StructType(Seq(
      StructField(indexName, df.schema(indexName).dataType,
        df.schema(indexName).nullable),
      StructField(name, DoubleType, nullable = true)))
    Series.fromKeyed(spark.createDataFrame(outRdd, schema), name, indexName)
  }

  /** pandas groupby(by).ewm(alpha, adjust=, ignore_na=): (idx, key,
    * ewm_mean, ewm_var) — one keyed exchange + per-group streaming
    * recurrence ([[Ewm.statsBy]]). */
  def ewmStatsBy(by: Column, alpha: Double, adjust: Boolean = true,
      ignoreNa: Boolean = false): DataFrame =
    Ewm.statsBy(this, by, alpha, adjust, ignoreNa)

  /** Cumulative product within each `by` group (pandas
    * groupby(by).cumprod()) — the keyed sibling of [[cumprod]]: the same
    * log-domain decomposition (exp Σ log|x|, sign parity, zero
    * short-circuit) but all three prefixes are plain keyed-window sums,
    * one shuffle on the key, no bucket machinery needed. Output double. */
  def cumprodBy(by: Column): Series = {
    val W = org.apache.spark.sql.expressions.Window
    val cw = keyedWindow(by).rowsBetween(W.unboundedPreceding, W.currentRow)
    val negs = F.sum(when(valueExpr.isNotNull,
      when(valueExpr < 0, 1L).otherwise(0L))).over(cw)
    val zeros = F.sum(when(valueExpr.isNotNull,
      when(valueExpr === 0, 1L).otherwise(0L))).over(cw)
    val logs = F.sum(when(valueExpr =!= 0,
      log(F.abs(valueExpr.cast("double"))))).over(cw)
    withValue(
      when(valueExpr.isNull, lit(null).cast("double"))
        .when(coalesce(zeros, lit(0L)) > 0L, lit(0.0))
        .otherwise(
          when(coalesce(negs, lit(0L)) % 2 === 1L, lit(-1.0))
            .otherwise(lit(1.0)) * exp(logs)))
  }

  /** Rolling mean over the trailing `n` values in index order (pandas
    * rolling(n).mean() with min_periods=n → null until the window fills)
    * on the bucketed carry plan ([[GlobalWindows]]). */
  def rollingMean(n: Int): Series = rollingGlobal(n, _.rollingMean(n))
  def rollingSum(n: Int): Series = rollingGlobal(n, _.rollingSum(n))
  def rollingMin(n: Int): Series = rollingGlobal(n, _.rollingMin(n))
  def rollingMax(n: Int): Series = rollingGlobal(n, _.rollingMax(n))
  def rollingStd(n: Int): Series = rollingGlobal(n, _.rollingStd(n))
  /** pandas rolling(n).quantile(q) / .median() — exact linear
    * interpolation (percentile_cont), same carry-complete trailing frame
    * as the other rolling aggregates. */
  def rollingQuantile(n: Int, q: Double): Series =
    rollingGlobal(n, _.rollingQuantile(n, q))
  def rollingMedian(n: Int): Series = rollingQuantile(n, 0.5)

  /** pandas rolling(n, win_type=...).mean() — weighted trailing window:
    * Σ wᵢ·v[t−n+1+i] / Σ wᵢ as a chain of n lag terms (deterministic
    * association order; null/missing values in the frame null the result,
    * pandas' weighted-window semantics) on the bucketed carry plan.
    * Weight shapes: [[Series.triangWeights]] (win_type='triang'),
    * [[Series.gaussianWeights]] (win_type='gaussian'). */
  def rollingWeightedMean(weights: Seq[Double]): Series =
    rollingGlobal(weights.length, _.rollingWeightedMean(weights))

  /** Keyed sibling (pandas groupby(k).rolling(n, win_type=...).mean()):
    * the key partitions the frame — one shuffle, no bucket machinery. */
  def rollingWeightedMeanBy(by: Column, weights: Seq[Double]): Series =
    withValue(Series.weightedLagChain(weights, valueExpr, keyedWindow(by)))

  /** pandas rolling(n).skew() — SAMPLE skewness (bias-corrected G1, the
    * pandas/DuckDB convention), converted from Spark's population
    * skewness by the frame count; null until the frame fills (n ≥ 3). */
  def rollingSkew(n: Int): Series = rollingGlobal(n, _.rollingSkew(n))

  /** pandas rolling(n).kurt() — sample EXCESS kurtosis (G2); n ≥ 4. */
  def rollingKurt(n: Int): Series = rollingGlobal(n, _.rollingKurt(n))

  /** BOTH rolling sample moments — `(index, skew, kurt)` — one scan. */
  def rollingMomentStats(n: Int): DataFrame = {
    require(n >= 4, "rolling moment stats need a window of >= 4")
    val g = globalWindows(carry = n - 1)
    g.result("skew" -> g.rollingSkew(n), "kurt" -> g.rollingKurt(n))
  }

  /** Keyed siblings (pandas groupby(k).rolling(n).skew()/.kurt()). */
  def rollingSkewBy(by: Column, n: Int): Series = {
    require(n >= 3, "rolling skew needs a window of >= 3")
    val w = keyedWindow(by).rowsBetween(-(n - 1), 0)
    withValue(when(F.count(valueExpr).over(w) === n,
      skewness(valueExpr.cast("double")).over(w) *
        lit(Series.skewFactor(n))))
  }
  def rollingKurtBy(by: Column, n: Int): Series = {
    require(n >= 4, "rolling kurt needs a window of >= 4")
    val w = keyedWindow(by).rowsBetween(-(n - 1), 0)
    withValue(when(F.count(valueExpr).over(w) === n,
      (kurtosis(valueExpr.cast("double")).over(w) * lit(n + 1.0) +
        lit(6.0)) * lit(Series.kurtFactor(n))))
  }

  /** pandas groupby(k).rolling('1h').mean()/… — the keyed sibling of
    * [[rangeWindows]]: the key already partitions the frame, so this is a
    * plain keyed RANGE window over the index coordinate (µs for
    * timestamps, days for dates, the value itself for integral indexes) —
    * one shuffle on the key, no bucketing machinery needed. pandas
    * closed='right' / min_periods=1; null index labels yield null. */
  def rollingRangeMeanBy(by: Column, span: Long): Series = {
    require(span >= 1, s"span must be >= 1 coordinate unit, got $span")
    val coord = RangeWindows.coordOf(df.schema(indexName).dataType,
      indexExpr)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(by)
      .orderBy(coord.asc).rangeBetween(-(span - 1L), 0L)
    withValue(when(indexExpr.isNull, lit(null))
      .otherwise(avg(valueExpr).over(w)))
  }

  private def rollingGlobal(n: Int,
      distributed: GlobalWindows => Column): Series = {
    require(n >= 1, "rolling window size must be >= 1")
    val g = globalWindows(carry = n - 1)
    g.series(distributed(g), name)
  }

  /** pandas rolling(n, center=True).mean() — the label mid-window: frame
    * [−⌊n/2⌋, +⌊(n−1)/2⌋] on the bucketed plan with BOTH carry
    * directions (lag rows feed the trailing half, the forward carries the
    * leading half). */
  def rollingMeanCentered(n: Int): Series = {
    require(n >= 1, "rolling window size must be >= 1")
    val g = globalWindows(carry = n / 2, fcarry = (n - 1) / 2)
    g.series(g.rollingMeanCentered(n), name)
  }

  /** Range-window builder (pandas rolling('1h') on a datetime index):
    * trailing aggregates over a COORDINATE SPAN in global index order —
    * span in index units (µs for a timestamp index, days for a date
    * index, the value itself for an integral index), pandas
    * closed='right' / min_periods=1. Runs the replication-carry bucket
    * plan ([[RangeWindows]]): carries are generated by expression
    * (explode into the following buckets the span can reach), so unlike
    * [[GlobalWindows]] there is NO driver-collected carry state —
    * the reach of a range frame is data-dependent, which no bounded row
    * carry can serve. */
  def rangeWindows(span: Long, buckets: Int = 32): RangeWindows =
    new RangeWindows(this, span, buckets)

  /** pandas s.rolling(n).corr(other) — trailing-`n` Pearson correlation
    * of two Series. Same-base pairs compose on one scan; cross-frame
    * pairs align by index first (full-outer, pandas label alignment).
    * Null until the frame holds `n` complete pairs (both sides non-null —
    * pandas drops incomplete pairs pairwise). Runs on the bucketed carry
    * plan ([[GlobalWindows]] with the other Series as a passthrough
    * extra). */
  def rollingCorr(other: Series, n: Int): Series =
    rollingPairGlobal(other, n, Series.safeCorr, "corr")

  /** pandas s.rolling(n).cov(other) — trailing-`n` sample covariance;
    * same alignment/completeness rules as [[rollingCorr]]. */
  def rollingCov(other: Series, n: Int): Series =
    rollingPairGlobal(other, n, Series.sampCov, "cov")

  /** Align `other` with this Series for a pairwise op, then apply `f` to
    * (aligned base, x, y): same-base pairs compose on one scan; cross-
    * frame pairs full-outer index-join first (pandas label alignment). */
  private def withPair[T](other: Series)(
      f: (Series, Column, Column) => T): T =
    if (other.base eq base) f(this, valueExpr, other.valueExpr)
    else {
      val l = df.select(col(indexName).as(IdxCol), col(name).as(LeftCol))
      val r = other.df.select(col(other.indexName).as(IdxCol),
        col(other.name).as(RightCol))
      val joined = l.join(r, Seq(IdxCol), "full_outer")
        .select(col(IdxCol).as(indexName), col(LeftCol), col(RightCol))
      val aligned = new Series(joined, LeftCol, indexName,
        col(indexName), col(LeftCol))
      f(aligned, col(LeftCol), col(RightCol))
    }

  private def rollingPairGlobal(other: Series, n: Int,
      f: Series.PairAgg, outName: String): Series = {
    require(n >= 1, "rolling window size must be >= 1")
    withPair(other) { (b, _, y) =>
      val g = b.globalWindows(carry = n - 1, extra = Seq(PairCol -> y))
      g.series(g.rollingPair(n, PairCol, f), outName)
    }
  }

  /** BOTH rolling pairwise stats — `(index, corr, cov)` — over ONE
    * carry-complete scan and Window pass. */
  def rollingPairStats(other: Series, n: Int): DataFrame = {
    require(n >= 1, "rolling window size must be >= 1")
    withPair(other) { (b, _, y) =>
      val g = b.globalWindows(carry = n - 1, extra = Seq(PairCol -> y))
      g.result("corr" -> g.rollingPair(n, PairCol, Series.safeCorr),
        "cov" -> g.rollingPair(n, PairCol, Series.sampCov))
    }
  }

  /** pandas s.expanding().corr(other): cumulative pairwise Pearson
    * correlation assembled from SIX global prefix sums (pair count, Σx,
    * Σy, Σxy, Σx², Σy² — a row contributes only when BOTH sides are
    * non-null, pandas' pairwise dropping) sharing ONE bucketed scan and
    * one stats job ([[GlobalWindows]] passthrough extras); null until 2
    * complete pairs; zero-variance prefixes null via try_divide (DuckDB
    * corr NULL, pandas NaN). Cross-frame inputs index-align first. */
  def expandingCorr(other: Series): Series =
    expandingPair(other, isCorr = true, "corr")

  /** pandas s.expanding().cov(other) — cumulative sample covariance;
    * same alignment and completeness rules as [[expandingCorr]]. */
  def expandingCov(other: Series): Series =
    expandingPair(other, isCorr = false, "cov")

  private def expandingPair(other: Series, isCorr: Boolean,
      outName: String): Series = withPair(other) { (b, x0, y0) =>
    val (g, exprs) = b.expandingPairOver(x0, y0, Seq(outName -> isCorr))
    g.series(exprs.head._2, outName)
  }

  /** BOTH expanding pairwise stats — `(index, corr, cov)` — from the six
    * shared prefix sums on ONE bucketed scan (the two results reuse the
    * identical cumulative sums, so this costs exactly one corr). */
  def expandingPairStats(other: Series): DataFrame =
    withPair(other) { (b, x0, y0) =>
      val (g, exprs) = b.expandingPairOver(x0, y0,
        Seq("corr" -> true, "cov" -> false))
      g.result(exprs: _*)
    }

  /** Build the requested expanding pairwise stats over this base on the
    * bucketed plan: the builder and one expression per output. */
  private def expandingPairOver(x0: Column, y0: Column,
      outs: Seq[(String, Boolean)])
      : (GlobalWindows, Seq[(String, Column)]) = {
    val x = x0.cast("double"); val y = y0.cast("double")
    val both = x.isNotNull && y.isNotNull
    val ex = Seq(
      "__ep_n" -> when(both, 1L).otherwise(0L),
      "__ep_sx" -> when(both, x).otherwise(0.0),
      "__ep_sy" -> when(both, y).otherwise(0.0),
      "__ep_sxy" -> when(both, x * y).otherwise(0.0),
      "__ep_sx2" -> when(both, x * x).otherwise(0.0),
      "__ep_sy2" -> when(both, y * y).otherwise(0.0))
    val g = globalWindows(extra = ex)
    val c = ex.map { case (n, _) => g.cumsumExtra(n) }
    g -> outs.map { case (n, isCorr) =>
      n -> Series.pairFromSums(isCorr, c(0), c(1), c(2), c(3), c(4), c(5)) }
  }

  /** Keyed sibling (pandas groupby(k).expanding().corr()): same-base
    * only (two columns of one table), one shuffle on the key. */
  def expandingCorrBy(by: Column, other: Series): Series =
    expandingPairBy(by, other, isCorr = true, "corr")

  private def expandingPairBy(by: Column, other: Series, isCorr: Boolean,
      outName: String): Series = {
    require(other.base eq base,
      "keyed expanding corr/cov needs both Series on one base frame")
    val x = valueExpr.cast("double"); val y = other.valueExpr.cast("double")
    val both = x.isNotNull && y.isNotNull
    val w = keyedWindow(by).rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def ps(c: Column): Column = F.sum(when(both, c)).over(w)
    withValue(Series.pairFromSums(isCorr,
      F.count(when(both, 1)).over(w), ps(x), ps(y), ps(x * y),
      ps(x * x), ps(y * y)), outName)
  }

  /** Keyed sibling (pandas groupby(k).rolling(n).corr()): both Series
    * must share a base frame (the common case — two columns of one
    * table); one shuffle on the key. */
  def rollingCorrBy(by: Column, other: Series, n: Int): Series =
    rollingPairBy(by, other, n, Series.safeCorr, "corr")

  private def rollingPairBy(by: Column, other: Series, n: Int,
      f: Series.PairAgg, outName: String): Series = {
    require(other.base eq base,
      "keyed rolling corr/cov needs both Series on one base frame")
    require(n >= 1, "rolling window size must be >= 1")
    val w = keyedWindow(by).rowsBetween(-(n - 1), 0)
    val pairs = F.count(
      when(valueExpr.isNotNull && other.valueExpr.isNotNull, 1)).over(w)
    withValue(when(pairs === n, f(valueExpr, other.valueExpr, _.over(w))),
      outName)
  }

  /** Trailing-`n` rolling aggregate with pandas min_periods = n semantics:
    * null until the frame holds n non-null observations (pandas counts
    * non-NaN toward min_periods). Shared by the mean/sum/min/max/std
    * family and their keyed `*By` variants. */
  private def rollingOver(w0: org.apache.spark.sql.expressions.WindowSpec,
                          n: Int, aggExpr: Column): Series = {
    require(n >= 1, "rolling window size must be >= 1")
    val w = w0.rowsBetween(-(n - 1), 0)
    withValue(when(F.count(valueExpr).over(w) === n, aggExpr.over(w)))
  }

  // --------------------------------------- partitioned (keyed) window ops
  //
  // The 100 TB-safe siblings of the global-order ops above: `by` is any
  // expression over the base frame (a grouping key); every window shuffles
  // ONCE on the key and sorts per partition — no single-task global sort.
  // pandas equivalent: s.groupby(key).cumsum() / shift / diff / rank / ...

  private def keyedWindow(by: Column) =
    org.apache.spark.sql.expressions.Window.partitionBy(by).orderBy(indexExpr)

  /** Forward-fill nulls in index order (pandas ffill) on the bucketed
    * plan (within-bucket last non-null + exclusive last-non-null bucket
    * offsets, [[GlobalWindows]]); [[ffillBy]] is the keyed sibling. */
  def ffill(): Series = { val g = globalWindows(); g.series(g.ffill(), name) }

  /** Backward-fill nulls in index order (pandas bfill). */
  def bfill(): Series = { val g = globalWindows(); g.series(g.bfill(), name) }

  /** Global un-keyed interpolation in index order — the pandas DEFAULT
    * call shape `s.interpolate(method=, limit=, limit_direction=)`
    * ([[interpolateBy]] is the keyed sibling; closes the §2.1 #4/#5
    * elementwise surface, ref: series.py:78-130). Interior nulls take the
    * line between their non-null neighbors; edge runs follow
    * `limitDirection` (forward, the pandas default: trailing gaps carry
    * the last observation, leading gaps stay null). Methods:
    *  - `"linear"` (pandas default): rows equally spaced — the gap
    *    fraction is positional over the global row order;
    *  - `"index"`: fraction weights by index-label distance.
    *
    * Scale shape: the range-bucketed two-pass plan —
    * method='index' without a limit is ONE bucketed window pass whose
    * cross-bucket context is four bounded offsets (prev/next non-null
    * value + coordinate, [[GlobalWindows.interpolate]]); linear (or any
    * limit) first stages the global row position (itself the bucketed
    * position plan), then interpolates over the staged coordinate — two
    * keyed shuffles, no single-task window, no join. */
  def interpolate(method: String = "linear", limit: Option[Int] = None,
      limitDirection: String = "forward"): Series = {
    require(Set("forward", "backward", "both")(limitDirection),
      s"limit_direction must be forward|backward|both, got '$limitDirection'")
    limit.foreach(l => require(l >= 1, s"limit must be >= 1, got $l"))
    require(Set("linear", "index", "nearest")(method),
      s"interpolate method must be linear|index|nearest, got '$method'")
    if (method != "linear" && limit.isEmpty) {
      // 'index'/'nearest': the index IS the coordinate — one bucketed pass
      val g = globalWindows()
      g.series(g.interpolate(None, limitDirection,
        method = if (method == "nearest") "nearest" else "linear"), name)
    } else {
      val posN = "__ip_pos"
      val g1 = globalWindows()
      val staged = g1.result(name -> g1.value,
        posN -> g1.position().cast("double"))
      val s2 = Series.fromKeyed(staged, name, indexName)
      val g2 = s2.globalWindows(extra = Seq(posN -> col(posN)))
      val coordName = if (method == "linear") Some(posN) else None
      g2.series(
        g2.interpolate(coordName, limitDirection, limit, Some(posN),
          method = if (method == "nearest") "nearest" else "linear"), name)
    }
  }

  /** Forward-fill within each `by` group (pandas groupby(by).ffill()):
    * one shuffle on the key, per-group ordered frames — the scale shape. */
  def ffillBy(by: Column): Series =
    withValue(last(valueExpr, ignoreNulls = true)
      .over(keyedWindow(by).rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))

  /** Backward-fill within each `by` group (pandas groupby(by).bfill()). */
  def bfillBy(by: Column): Series =
    withValue(first(valueExpr, ignoreNulls = true)
      .over(keyedWindow(by).rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)))

  /** Interpolation within each `by` group, index-ordered (pandas
    * groupby(by).apply(lambda g: g.interpolate(method=))): interior nulls
    * take the line between their non-null neighbors, leading nulls stay
    * null, trailing nulls carry the last observation — pandas' default
    * limit_direction='forward' behavior. Two methods, matching pandas:
    *  - `"linear"` (pandas default): rows are treated as EQUALLY spaced —
    *    the gap fraction is positional, `(pos − prev_pos)/(next_pos −
    *    prev_pos)` over the group's row positions, ignoring index values;
    *  - `"index"` (pandas method='index'/'values'): the fraction weights by
    *    index-label distance, `(idx − prev_idx)/(next_idx − prev_idx)` —
    *    the right choice when the index is a meaningful coordinate (time).
    * The two differ exactly when a group's index labels are non-consecutive
    * (e.g. other users' event_ids interleave). Four last/first-ignore-nulls
    * expressions over the SAME keyed frame pair: one shuffle on the key,
    * two per-group window passes, no join. */
  def interpolateBy(by: Column, method: String = "linear",
      limit: Option[Int] = None,
      limitDirection: String = "forward"): Series = {
    require(Set("forward", "backward", "both")(limitDirection),
      s"limit_direction must be forward|backward|both, got '$limitDirection'")
    limit.foreach(l => require(l >= 1, s"limit must be >= 1, got $l"))
    val plain = limit.isEmpty && limitDirection == "forward"
    method match {
      case "index" if plain =>
        // pure expression composition over the existing base: the index IS
        // the coordinate, so no staging is needed and the result column
        // stays resolvable against the caller's frame
        withValue(interpolateExpr(keyedWindow(by), valueExpr,
          indexExpr.cast("double"), None, None, "forward"))
      case "linear" | "index" =>
        // the positional coordinate (and the row position the limit
        // counts in) is itself a window (row_number), and a window cannot
        // nest inside another window expression — stage the group key +
        // position in a projection, then interpolate over it
        val W = org.apache.spark.sql.expressions.Window
        val byN = "__ip_by"
        val posN = "__ip_pos"
        val staged = base
          .select(indexExpr.as(indexName), valueExpr.as(name), by.as(byN))
          .withColumn(posN, row_number().over(
            W.partitionBy(col(byN)).orderBy(col(indexName))).cast("double"))
        val kw = W.partitionBy(col(byN)).orderBy(col(indexName))
        val coord =
          if (method == "linear") col(posN) else col(indexName).cast("double")
        new Series(staged, name, indexName, col(indexName),
          interpolateExpr(kw, col(name), coord, Some(col(posN)), limit,
            limitDirection))
      case other => throw new IllegalArgumentException(
        s"interpolateBy method must be 'linear' or 'index', got '$other'")
    }
  }

  /** The shared four-window interpolation body: previous/next non-null
    * value and coordinate over one keyed frame pair. pandas limit
    * semantics: `limit` caps how many CONSECUTIVE nulls of a run are
    * filled, counted in rows from the run's anchor on the fill side
    * (`pos` supplies the row coordinate; only needed when a limit is
    * set); `direction` decides which edge runs extrapolate — forward
    * carries the last observation into a trailing gap (leading gaps stay
    * null), backward back-fills leading gaps (trailing stay null), both
    * does both. Interior gaps always take the interpolated line — the
    * direction only gates edges and where the limit counts from. */
  private def interpolateExpr(
      kw: org.apache.spark.sql.expressions.WindowSpec,
      v: Column, coord: Column, pos: Option[Column],
      limit: Option[Int], direction: String): Column = {
    val W = org.apache.spark.sql.expressions.Window
    val back = kw.rowsBetween(W.unboundedPreceding, 0)
    val fwd = kw.rowsBetween(0, W.unboundedFollowing)
    val pv = last(v, ignoreNulls = true).over(back)
    val pc = last(when(v.isNotNull, coord), ignoreNulls = true).over(back)
    val nv = first(v, ignoreNulls = true).over(fwd)
    val nc = first(when(v.isNotNull, coord), ignoreNulls = true).over(fwd)
    val interior = pv + (nv - pv) * (coord - pc) / (nc - pc)
    val fillVal =
      if (direction == "forward")
        when(pv.isNull, lit(null)).when(nv.isNull, pv).otherwise(interior)
      else if (direction == "backward")
        when(nv.isNull, lit(null)).when(pv.isNull, nv).otherwise(interior)
      else
        when(pv.isNull && nv.isNull, lit(null))
          .when(pv.isNull, nv).when(nv.isNull, pv).otherwise(interior)
    val allowed = limit match {
      case None => lit(true)
      case Some(l) =>
        val p = pos.getOrElse(throw new IllegalStateException(
          "limit requires a staged row position"))
        val pPos = last(when(v.isNotNull, p), ignoreNulls = true).over(back)
        val nPos = first(when(v.isNotNull, p), ignoreNulls = true).over(fwd)
        // distances in rows to the run's anchors; an absent anchor (edge
        // run) leaves its distance null — null comparisons are false, so
        // the other side of an OR still applies for 'both'
        val dprev = p - pPos
        val dnext = nPos - p
        direction match {
          case "forward" => dprev <= l
          case "backward" => dnext <= l
          case _ => dprev <= l || dnext <= l
        }
    }
    when(v.isNotNull, v).otherwise(when(allowed, fillVal))
  }

  /** Cumulative sum within each `by` group, index-ordered (pandas
    * groupby(by).cumsum()). */
  def cumsumBy(by: Column): Series = withValue(F.sum(valueExpr).over(
    keyedWindow(by)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))

  /** Shift within each `by` group (pandas groupby(by).shift(n)). */
  def shiftBy(by: Column, n: Int = 1): Series =
    withValue(lag(valueExpr, n).over(keyedWindow(by)))

  /** Discrete difference within each `by` group. */
  def diffBy(by: Column, n: Int = 1): Series =
    withValue(valueExpr - lag(valueExpr, n).over(keyedWindow(by)))

  /** Fractional change within each `by` group (try_divide: zero previous →
    * null, not an ANSI abort). */
  def pctChangeBy(by: Column, periods: Int = 1): Series = {
    require(periods >= 1, "pct_change periods must be >= 1")
    val prev = lag(valueExpr, periods).over(keyedWindow(by))
    withValue(try_divide(valueExpr - prev, prev))
  }

  /** Rank of values within each `by` group (pandas groupby(by).rank
    * (method=)) — all five pandas tie methods, nulls rank null, one
    * shuffle on the key, per-group sorts only. */
  def rankBy(by: Column, method: String = "average"): Series = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(by).orderBy(valueExpr.asc_nulls_last)
    val wf = W.partitionBy(by).orderBy(valueExpr.asc_nulls_last,
      indexExpr.asc)
    val tieCnt = F.count(lit(1)).over(W.partitionBy(by, valueExpr))
    withValue(when(valueExpr.isNotNull, method match {
      case "average" => F.rank().over(w).cast("double") +
        (tieCnt - 1).cast("double") / 2.0
      case "min" => F.rank().over(w).cast("double")
      case "max" => (F.rank().over(w) + tieCnt - 1).cast("double")
      case "first" => row_number().over(wf).cast("double")
      case "dense" => dense_rank().over(w).cast("double")
      case other => throw new IllegalArgumentException(
        s"unknown rank method '$other'")
    }))
  }

  /** pandas Series.searchsorted(probes, side): for each probe value, the
    * insertion position that keeps the VALUES sorted — side='left' is
    * the count of values strictly below the probe, 'right' also counts
    * ties. Fully distributed, probes never driver-collected: per-
    * distinct-value counts (one partial+final aggregate) → the bucketed
    * distributed cumsum over the value coordinate → a global as-of
    * lookup of each probe against the cumulative counts ('left' = strict
    * backward match via allow_exact_matches=false, 'right' = inclusive).
    * Null data values are ignored (pandas sorts them out of range);
    * probes must be non-null. Output: (probe-column, pos). */
  def searchsorted(probes: DataFrame, side: String = "left",
      buckets: Int = 32): DataFrame = {
    require(side == "left" || side == "right", "side must be left|right")
    val pCol = probes.columns.head
    val W = org.apache.spark.sql.expressions.Window
    val data = base.filter(valueExpr.isNotNull)
      .select(lit(null).cast(probes.schema(pCol).dataType).as("__p"),
        valueExpr.cast("double").as("__v"), lit(1L).as("__w"))
    val pr = probes.select(col(pCol).as("__p"),
      col(pCol).cast("double").as("__v"), lit(0L).as("__w"))
    // buckets span the data range; probes outside it clamp into the end
    // buckets. Offsets count data rows (w = 1) of every bucket any row
    // lands in, so a probe in a bucket with no data reads its true offset
    val bu = data.unionByName(pr)
      .withColumn("__b", GlobalWindows.bucketing(data, "__v", buckets)._1)
    val Seq(offCol) = bucketOffsets(bu, "__b", F.sum(col("__w")))
    // side='left': probes sort BEFORE equal data values (w asc) so the
    // inclusive running sum of w counts strictly-smaller data only;
    // 'right' flips the tie order so equal data counts too
    val tie = if (side == "left") col("__w").asc else col("__w").desc
    val w = W.partitionBy(col("__b")).orderBy(col("__v").asc, tie)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    bu.select(col("__p"), col("__w"),
        (F.sum(col("__w")).over(w) + offCol).as("pos"))
      .filter(col("__w") === 0)
      .select(col("__p").as(pCol), col("pos"))
  }

  /** pandas groupby(by).ohlc() / resample(freq).ohlc(): open/high/low/
    * close per group — open is the value at the group's smallest label,
    * close at its largest (`min_by`/`max_by`), high/low are plain
    * extrema. ONE partial+final aggregation (all four are mergeable
    * DeclarativeAggregates — the map side keeps 4 scalars per group), so
    * the candlestick query costs a single keyed exchange at any scale.
    * Label ties resolve by Spark's min_by/max_by first-wins; use a
    * unique label (timestamps) for determinism like pandas. */
  def ohlcBy(by: Column, keyName: String = "key"): DataFrame =
    base.groupBy(by.as(keyName)).agg(
      min_by(valueExpr, indexExpr).as("open"),
      F.max(valueExpr).as("high"),
      F.min(valueExpr).as("low"),
      max_by(valueExpr, indexExpr).as("close"))

  /** pandas groupby(by).cumcount(): 0-based arrival position of each row
    * within its group, in index order. One keyed window (a single shuffle
    * on the group key), no global sort. */
  def cumcountBy(by: Column): Series = withValue(
    (row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(by).orderBy(indexExpr.asc)) - 1).cast("long"))

  /** pandas groupby(by).ngroup() (sort=True, the default): each row gets
    * its group's ordinal among all groups sorted by key. Implemented as
    * the dense rank of the KEY VALUE through the value-bucketed
    * distributed rank machinery ([[rankAll]]) — no global-order window
    * node for any orderable key dtype (string keys bucket by their
    * coordinate too), no driver-side group list (group cardinality can be
    * huge at corpus scale). */
  def ngroupBy(by: Column, buckets: Int = 32): Series = {
    val keyed = base.select(indexExpr.as(indexName), by.as("__gkey"))
    val r = Series.fromColumn(keyed, "__gkey", indexName)
      .rank("dense", buckets)
    Series.fromKeyed(
      r.df.select(col(indexName),
        (col("__gkey") - 1.0).cast("long").as(name)),
      name, indexName)
  }

  /** pandas resample(freq).agg(...) — time-bucket downsampling of a
    * timestamp-indexed Series: the index truncates to its bucket start
    * (`unit` = Spark date_trunc format: "HOUR", "DAY", "WEEK", "MONTH",
    * ...), values aggregate per bucket. ONE partial+final aggregation
    * keyed by the bucket — the canonical time-series downsample shape. */
  /** pandas resample(freq).ffill() — UPSAMPLING to a regular grid: the
    * output index is every `stepSeconds`-spaced instant from the
    * `unit`-truncated min to the max of the original index, and each grid
    * point takes the last ORIGINAL observation at-or-before it (pandas
    * Resampler.ffill ≡ reindex(grid, method='ffill')). The grid generates
    * DISTRIBUTED — `spark.range` over the bounded count derived from one
    * min/max agg (two driver scalars) — and the fill is the un-keyed
    * as-of machinery ([[graft.ops.EventOps.asofJoinGlobal]]):
    * range-bucketed by time with one extremal carry row per bucket, no
    * single-task window anywhere. Duplicate source timestamps resolve to
    * the max (ts, value) pair, deterministically. */
  /** pandas reindex(labels, method=None/'ffill'/'bfill'): conform the
    * Series to a caller-supplied NEW label set (the first column of
    * `labels`, cast to the index dtype). method=None takes exact-label
    * matches only (plain left equi-join — absent labels null, pandas).
    * 'ffill' ('bfill') takes the last (next) observation at-or-before
    * (at-or-after) each new label — the un-keyed as-of machinery
    * ([[graft.ops.EventOps.asofJoinGlobal]]): labels stay DISTRIBUTED
    * (never driver-collected), one range-bucketed exchange of the tagged
    * union with ≤ 2·buckets extremal carry rows, no single-task window.
    * Works for any numeric/date/timestamp index coordinate. Duplicate
    * source labels resolve deterministically to the max (label, value)
    * pair ('ffill'; min for 'bfill') — pandas raises on duplicate source
    * labels, we pick a canonical one instead. */
  def reindex(labels: DataFrame, method: Option[String] = None,
      buckets: Int = 32): Series = {
    val idxDt = df.schema(indexName).dataType
    val lcol = labels.columns.head
    val grid = labels.select(col(lcol).cast(idxDt).as(indexName))
    method match {
      case None =>
        Series.fromKeyed(grid.join(df, Seq(indexName), "left"),
          name, indexName)
      case Some(dir) if dir == "ffill" || dir == "bfill" =>
        val g = grid.withColumn("__rs_tie", lit(0.0))
        val obs = base.select(indexExpr.as(indexName), valueExpr.as(name),
          valueExpr.cast("double").as("__rs_tie"))
        val filled = graft.ops.EventOps.asofJoinGlobal(
          g, obs, indexName, "__rs_tie", Seq(name), prefix = "__rs_",
          direction = if (dir == "ffill") "backward" else "forward",
          buckets = buckets)
        Series.fromKeyed(
          filled.select(col(indexName), col(s"__rs_$name").as(name)),
          name, indexName)
      case Some(other) => throw new IllegalArgumentException(
        s"reindex method must be ffill|bfill, got $other")
    }
  }

  def resampleFfill(unit: String, stepSeconds: Long,
      buckets: Int = 32): Series = {
    require(stepSeconds >= 1, s"stepSeconds must be >= 1, got $stepSeconds")
    val spark = df.sparkSession
    val idxDt = df.schema(indexName).dataType
    val b = base.select(date_trunc(unit, F.min(indexExpr)).as("lo"),
      F.max(indexExpr).as("hi")).head()
    require(!b.isNullAt(0),
      s"resampleFfill on an empty or all-null index Series '$name'")
    val stepUs = Math.multiplyExact(stepSeconds, 1000000L)
    val loUs = Series.epochUs(b.get(0))
    val n = (Series.epochUs(b.get(1)) - loUs) / stepUs + 1
    val grid = spark.range(n).select(
      timestamp_micros(lit(loUs) + col("id") * stepUs).cast(idxDt)
        .as(indexName), lit(0.0).as("__rs_tie"))
    val obs = base.select(indexExpr.as(indexName), valueExpr.as(name),
      valueExpr.cast("double").as("__rs_tie"))
    val filled = graft.ops.EventOps.asofJoinGlobal(
      grid, obs, indexName, "__rs_tie", Seq(name), prefix = "__rs_",
      direction = "backward", buckets = buckets)
    Series.fromKeyed(
      filled.select(col(indexName), col(s"__rs_$name").as(name)),
      name, indexName)
  }

  /** pandas asfreq(freq): the value AT each regular grid point — exact
    * index match or null, NO filling (the contrast with
    * [[resampleFfill]]). Grid = [date_trunc(unit, min), max] step
    * `stepSeconds`; bounds are the same 1-row min/max driver probe as
    * [[resampleFfill]]; the lookup is a plain keyed LEFT equi-join of the
    * generated grid against the observations (Catalyst
    * broadcasts/shuffles by size) — no global sort, no window. Duplicate
    * index labels would duplicate grid rows (pandas raises there;
    * pre-aggregate first, e.g. [[resample]]). */
  def asfreq(unit: String, stepSeconds: Long): Series = {
    require(stepSeconds >= 1, s"stepSeconds must be >= 1, got $stepSeconds")
    val spark = df.sparkSession
    val idxDt = df.schema(indexName).dataType
    val b = base.select(date_trunc(unit, F.min(indexExpr)).as("lo"),
      F.max(indexExpr).as("hi")).head()
    require(!b.isNullAt(0),
      s"asfreq on an empty or all-null index Series '$name'")
    val stepUs = Math.multiplyExact(stepSeconds, 1000000L)
    val loUs = Series.epochUs(b.get(0))
    val n = (Series.epochUs(b.get(1)) - loUs) / stepUs + 1
    val grid = spark.range(n).select(
      timestamp_micros(lit(loUs) + col("id") * stepUs).cast(idxDt)
        .as(indexName))
    val obs = base.select(indexExpr.as(indexName), valueExpr.as(name))
    Series.fromKeyed(grid.join(obs, Seq(indexName), "left"),
      name, indexName)
  }

  /** pandas groupby(by).resample(freq).agg(...) — per-key time-bucket
    * downsampling: ONE partial+final aggregation keyed by (key, bucket).
    * Output (idx = bucket start, key, value). */
  def resampleBy(by: Column, unit: String, agg: Column => Column): DataFrame =
    base.groupBy(by.as("key"), date_trunc(unit, indexExpr).as(indexName))
      .agg(agg(valueExpr).as(name))
      .select(col(indexName), col("key"), col(name))

  def resample(unit: String, agg: Column => Column): Series =
    Series.fromKeyed(
      base.groupBy(date_trunc(unit, indexExpr).as(indexName))
        .agg(agg(valueExpr).as(name)),
      name, indexName)

  /** Trailing-`n` rolling mean within each `by` group (min_periods = n). */
  def rollingMeanBy(by: Column, n: Int): Series =
    rollingOver(keyedWindow(by), n, avg(valueExpr))
  def rollingSumBy(by: Column, n: Int): Series =
    rollingOver(keyedWindow(by), n, F.sum(valueExpr))
  def rollingMinBy(by: Column, n: Int): Series =
    rollingOver(keyedWindow(by), n, F.min(valueExpr))
  def rollingMaxBy(by: Column, n: Int): Series =
    rollingOver(keyedWindow(by), n, F.max(valueExpr))

  /** Top-k values within each `by` group (pandas groupby(by).nlargest(k)),
    * ties broken by index label. The rank predicate sits directly on the
    * staged row_number, so Spark's WindowGroupLimit rewrite turns the
    * full per-group sort into a per-partition top-k heap BEFORE the
    * shuffle — the per-group sibling of nlargest's
    * TakeOrderedAndProject. */
  def nlargestBy(by: Column, k: Int): Series = {
    require(k >= 1, "k must be >= 1")
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(by)
        .orderBy(valueExpr.desc_nulls_last, indexExpr.asc))
    Series.fromKeyed(
      base.select(indexExpr.as(indexName), valueExpr.as(name), rn.as("__rn"))
        .filter(col("__rn") <= k)
        .select(col(indexName), col(name)),
      name, indexName)
  }

  /** Bottom-k values within each `by` group (pandas groupby(by).nsmallest). */
  def nsmallestBy(by: Column, k: Int): Series = {
    require(k >= 1, "k must be >= 1")
    val rn = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(by)
        .orderBy(valueExpr.asc_nulls_last, indexExpr.asc))
    Series.fromKeyed(
      base.select(indexExpr.as(indexName), valueExpr.as(name), rn.as("__rn"))
        .filter(col("__rn") <= k)
        .select(col(indexName), col(name)),
      name, indexName)
  }

  /** Sort by value (pandas sort_values). */
  def sortValues(ascending: Boolean = true): Series = Series.fromKeyed(
    df.orderBy(if (ascending) col(name).asc else col(name).desc), name,
    indexName)

  // --------------------------------------------------------------- apply/map

  /** Elementwise arbitrary Scala function (ref: series.py:78-100 pickles a
    * Python closure through rdd.map). Typed Dataset.map with Encoders —
    * still an optimization barrier, so prefer [[transform]] when the function
    * is expressible as a Column. Index is carried through. */
  def applyF[I, O](f: I => O)(
      implicit ie: Encoder[(Long, I)], oe: Encoder[(Long, O)]): Series =
    applyIx[Long, I, O](f)

  /** [[applyF]] with an explicit index type — use for non-numeric (e.g.
    * string) indexes; the 2-param applyF fixes Ix = Long and would fail at
    * runtime casting a string index. */
  def applyIx[Ix, I, O](f: I => O)(
      implicit ie: Encoder[(Ix, I)], oe: Encoder[(Ix, O)]): Series = {
    val ixType = ie.schema.fields(0).dataType
    val ds = base.select(indexExpr.cast(ixType), valueExpr).as[(Ix, I)]
    val mapped = ds.map { case (i, v) => (i, f(v)) }.toDF(indexName, name)
    Series.fromKeyed(mapped, name, indexName)
  }

  /** Dict-style map via a literal lookup map (broadcast as part of the plan).
    * Implements the reference's NotImplementedError hole
    * (ref: series.py:125-130). Missing keys → null (pandas NaN).
    *
    * `naAction`: pandas' map(arg, na_action=) kwarg — the reference parses
    * it then raises (ref: series.py:103-130). None and "ignore" coincide for
    * dict maps (a null key never matches a map entry either way), but the
    * parameter is validated like pandas does so bad values fail loudly. */
  def mapValues(lookup: Map[String, String],
                naAction: Option[String] = None): Series = {
    require(naAction.forall(_ == "ignore"),
      s"na_action must be None or 'ignore', got ${naAction.get}")
    transform(v => element_at(typedlit(lookup), v.cast(StringType)))
  }

  /** Dict-map via broadcast join against a lookup DataFrame — the scale path
    * when the mapping itself is a table. */
  def mapJoin(lookup: DataFrame, keyCol: String, valCol: String): Series = {
    val joined = df.join(broadcast(lookup), df(name) === lookup(keyCol), "left")
      .select(df(indexName), lookup(valCol).as(name))
    Series.fromKeyed(joined, name, indexName)
  }

  // ------------------------------------------------------------- accessors

  /** pandas `.str` accessor: vectorized string methods as pure `Column`
    * expressions (no UDFs — each method is a projected-scan transform). */
  def str: StrAccessor = new StrAccessor(this)

  /** pandas `.dt` accessor: datetime parts as native expressions. */
  def dt: DtAccessor = new DtAccessor(this)
}

/** pandas Series.str — every method composes onto the owning Series'
  * value expression, so chained calls stay one projected scan. */
final class StrAccessor private[core] (s: Series) {
  import Series.F
  private def t(f: Column => Column): Series = s.transform(f)
  def upper: Series = t(F.upper(_))
  def lower: Series = t(F.lower(_))
  /** Character count (pandas str.len). */
  def len: Series = t(F.length(_))
  def contains(sub: String): Series = t(_.contains(sub))
  def startswith(prefix: String): Series = t(_.startsWith(prefix))
  /** LITERAL replacement (pandas ≥ 2 str.replace default, regex=False). */
  def replace(search: String, repl: String): Series =
    t(v => F.replace(v, lit(search), lit(repl)))
  /** Python slice semantics: 0-based start, exclusive stop. */
  def slice(start: Int, stop: Int): Series = {
    require(start >= 0 && stop >= start, "slice needs 0 <= start <= stop")
    t(F.substring(_, start + 1, stop - start))
  }
  /** pandas str.extract(pat) with ONE capture group: the group's match,
    * null when the pattern doesn't match (regexp_extract returns '' there
    * — nulled to match pandas NaN). */
  def extract(pattern: String): Series =
    t(v => when(v.rlike(pattern),
      F.regexp_extract(v, pattern, 1)))
  /** pandas str.split(pat): regex split into an array Series (feed to
    * [[get]] or Series.explode). */
  def split(pattern: String): Series = t(F.split(_, pattern))
  /** pandas str.get(i) over an ARRAY Series (e.g. from [[split]]):
    * 0-based, negative counts from the end, null when out of range
    * (try_element_at — never an ANSI error). */
  def get(i: Int): Series =
    t(v => F.try_element_at(v, F.lit(if (i >= 0) i + 1 else i)))
  /** pandas str.count(pat): non-overlapping regex match count. */
  def count(pattern: String): Series =
    t(F.regexp_count(_, F.lit(pattern)))
  /** pandas str.pad(width, side, fillchar) for side='left'/'right'
    * (lpad/rpad semantics: longer inputs truncate to `width`, like both
    * engines' pad builtins). */
  def pad(width: Int, side: String = "left",
          fillchar: String = " "): Series = side match {
    case "left"  => t(F.lpad(_, width, fillchar))
    case "right" => t(F.rpad(_, width, fillchar))
    case other => throw new IllegalArgumentException(
      s"side must be left|right, got $other")
  }
  /** pandas str.repeat(n). */
  def repeat(n: Int): Series = t(F.repeat(_, n))
  /** pandas str.get_dummies(sep) over DECLARED categories (the 100 TB
    * rule — label sets are declared, not discovered): one indicator
    * column per category, pure projection, no shuffle. Returns
    * (index, <one int column per category named `<prefix><cat>`>). */
  def getDummies(sep: String, categories: Seq[String],
                 prefix: String = ""): DataFrame = {
    require(categories.nonEmpty, "get_dummies needs declared categories")
    val toks = F.split(s.valueExpr, java.util.regex.Pattern.quote(sep))
    s.df.select(s.indexExpr.as(s.indexName) +:
      categories.map(c => when(F.array_contains(toks, c), 1).otherwise(0)
        .as(s"$prefix$c")): _*)
  }
  /** pandas str.title() (initcap: every word's first letter upper). */
  def title: Series = t(F.initcap(_))
}

/** pandas Series.dt — calendar parts in the session time zone; dayofweek
  * uses the pandas convention (Monday = 0). */
final class DtAccessor private[core] (s: Series) {
  import Series.F
  private def t(f: Column => Column): Series = s.transform(f)
  def year: Series = t(F.year(_))
  def month: Series = t(F.month(_))
  def day: Series = t(F.dayofmonth(_))
  def hour: Series = t(F.hour(_))
  def minute: Series = t(F.minute(_))
  def second: Series = t(F.second(_))
  /** Monday = 0 (pandas); Spark's dayofweek is Sunday = 1. */
  def dayofweek: Series = t(v => (F.dayofweek(v) + 5) % 7)
  def date: Series = t(_.cast(DateType))

  def quarter: Series = t(F.quarter(_))
  def dayofyear: Series = t(F.dayofyear(_))
  /** ISO week number (pandas dt.isocalendar().week). */
  def weekofyear: Series = t(F.weekofyear(_))
  /** pandas dt.days_in_month. */
  def daysinmonth: Series = t(v => F.dayofmonth(F.last_day(v)))
  def isMonthStart: Series = t(F.dayofmonth(_) === 1)
  def isMonthEnd: Series = t(v => v.cast(DateType) === F.last_day(v))
  def isQuarterStart: Series =
    t(v => F.dayofmonth(v) === 1 && F.pmod(F.month(v), F.lit(3)) === 1)
  def isYearStart: Series = t(F.dayofyear(_) === 1)

  /** pandas dt.floor(freq): truncate to the frequency boundary. Exact
    * epoch-µs integer arithmetic (`us − us mod step`) — engine-portable,
    * no timezone dependence for the sub-day frequencies this supports. */
  def floor(stepSeconds: Long): Series = usArith(stepSeconds) {
    (us, r, _) => us - r
  }

  /** pandas dt.ceil(freq): round UP to the next boundary (already-aligned
    * instants stay put). */
  def ceil(stepSeconds: Long): Series = usArith(stepSeconds) {
    (us, r, step) => us - r + F.when(r > 0, step).otherwise(F.lit(0L))
  }

  /** pandas dt.round(freq): round to the NEAREST boundary, ties to the
    * EVEN multiple (pandas/numpy banker's rounding at exact half-steps). */
  def round(stepSeconds: Long): Series = usArith(stepSeconds) {
    (us, r, step) =>
      val f = us - r
      val half = step / 2
      val qOdd = F.pmod((f / step).cast("long"), F.lit(2L)) === 1L
      F.when(r > half || (r === half && qOdd), f + step).otherwise(f)
  }

  private def usArith(stepSeconds: Long)
      (body: (Column, Column, Column) => Column): Series = {
    require(stepSeconds >= 1 && 86400L % stepSeconds == 0,
      "step must divide a day (sub-day frequencies only)")
    val step = F.lit(stepSeconds * 1000000L)
    s.transform { v =>
      val us = F.unix_micros(v)
      F.timestamp_micros(body(us, F.pmod(us, step), step))
    }
  }
}

object Series {
  /** Result bundle of [[Series.monotonicStats]] — four pandas scalar
    * probes answered by one fused aggregate. */
  final case class MonotonicStats(increasing: Boolean, decreasing: Boolean,
                                  anyTrue: Boolean, allTrue: Boolean)

  private[core] val IdxCol = "__graft_idx"
  private[core] val BktCol = "__graft_bkt"
  private[core] val LeftCol = "__graft_l"
  private[core] val RightCol = "__graft_r"
  private[core] val PairCol = "__graft_pair"

  /** Pairwise window aggregate: (x, y, over) → windowed expression, where
    * `over` applies the frame to ONE aggregate (a compound like corr's
    * ratio must window each constituent aggregate separately — `.over` on
    * the compound is not an aggregate and fails analysis). */
  private[core] type PairAgg = (Column, Column, Column => Column) => Column

  /** ANSI-safe Pearson correlation for WINDOW frames: Spark's native
    * `corr` divides by the frame's variance product inside the aggregate,
    * which ABORTS under Spark 4's default ANSI mode whenever a frame is
    * degenerate (single row, or zero variance) — and a window evaluates
    * every partial frame even when a `when` gate discards the result.
    * covar_samp / stddev_samp return null on those frames instead, and
    * try_divide nulls the zero-variance case (DuckDB's corr() NULL
    * behavior, so oracles line up). Same quantity mathematically. */
  private[core] val safeCorr: PairAgg = (x, y, ov) =>
    try_divide(ov(covar_samp(x, y)), ov(stddev_samp(x)) * ov(stddev_samp(y)))

  /** Sample covariance over the frame. */
  private[core] val sampCov: PairAgg = (x, y, ov) => ov(covar_samp(x, y))

  /** Assemble expanding corr/cov from the six pairwise prefix sums;
    * null until 2 complete pairs, zero-variance → null (try_divide). */
  private[core] def pairFromSums(isCorr: Boolean, n0: Column, sx: Column,
      sy: Column, sxy: Column, sx2: Column, sy2: Column): Column = {
    val n = n0.cast("double")
    val cxy = sxy - sx * sy / n
    val e =
      if (isCorr) try_divide(cxy,
        sqrt(greatest(sx2 - sx * sx / n, lit(0.0))) *
          sqrt(greatest(sy2 - sy * sy / n, lit(0.0))))
      else cxy / (n - 1)
    when(n0 >= 2L, e)
  }

  /** Epoch microseconds of a driver-side timestamp value (whatever JVM
    * type the collected row carries — java.sql, Instant, or NTZ
    * LocalDateTime read in the UTC sessions this engine always builds). */
  private[core] def epochUs(a: Any): Long = a match {
    case t: java.sql.Timestamp =>
      Math.multiplyExact(t.getTime / 1000, 1000000L) +
        t.getNanos.toLong / 1000
    case i: java.time.Instant =>
      Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000
    case l: java.time.LocalDateTime =>
      Math.multiplyExact(l.toEpochSecond(java.time.ZoneOffset.UTC),
        1000000L) + l.getNano / 1000
    case other => throw new IllegalArgumentException(
      s"needs a timestamp index, got $other")
  }

  /** scipy.signal.windows.triang(n) (pandas win_type='triang'): symmetric
    * triangle; odd n peaks at 1, even n at (n−1)/n. Scale cancels in the
    * weighted MEAN, but the ratios are pandas'. */
  def triangWeights(n: Int): Seq[Double] = {
    require(n >= 1, "window size must be >= 1")
    if (n % 2 == 1)
      (0 until n).map(k => 1.0 - math.abs(k - (n - 1) / 2.0) / ((n + 1) / 2.0))
    else
      (0 until n).map { k =>
        val h = math.min(k, n - 1 - k); (2.0 * h + 1.0) / n
      }
  }

  /** scipy.signal.windows.gaussian(n, std) (pandas win_type='gaussian'). */
  def gaussianWeights(n: Int, std: Double): Seq[Double] = {
    require(n >= 1 && std > 0.0, "need n >= 1 and std > 0")
    (0 until n).map { k =>
      val x = (k - (n - 1) / 2.0) / std; math.exp(-0.5 * x * x)
    }
  }

  /** Weighted trailing-window mean as a lag chain over `w` — shared by the
    * global bucketed plan's fallback and the keyed sibling. */
  private[core] def weightedLagChain(weights: Seq[Double], v: Column,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val n = weights.length
    require(n >= 1, "rolling window size must be >= 1")
    val terms = weights.zipWithIndex.map { case (wt, i) =>
      F.lag(v, n - 1 - i).over(w) * F.lit(wt)
    }
    terms.reduceLeft(_ + _) / F.lit(weights.sum)
  }

  /** Population→sample (bias-corrected) moment conversion factors:
    * G1 = g1·√(n(n−1))/(n−2); G2 = ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3)). */
  private[core] def skewFactor(n: Int): Double =
    math.sqrt(n.toDouble * (n - 1)) / (n - 2)
  private[core] def kurtFactor(n: Int): Double =
    (n - 1.0) / ((n - 2.0) * (n - 3.0))
  private[core] val MaskCol = "__graft_mask"
  private[core] val F = org.apache.spark.sql.functions

  val DefaultIndexName = "index"
  val DefaultName = "None" // the reference's string-'None' default, series.py:52

  /** Wrap an already-materialized two-column frame. */
  private[graft] def fromKeyed(df: DataFrame, name: String,
      indexName: String): Series =
    new Series(df, name, indexName, col(indexName), col(name))

  /** Construct from a local sequence with a 0-based ordinal RangeIndex
    * (ref: data_prep.py:46-64 parallelize+zipWithIndex; ours zips locally
    * before createDataset — no extra Spark job). */
  def fromSeq[T](spark: SparkSession, data: Seq[T],
      name: String = DefaultName, indexName: String = DefaultIndexName)(
      implicit pe: Encoder[(Long, T)]): Series = {
    val ds = spark.createDataset(data.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    fromKeyed(ds.toDF(indexName, name), name, indexName)
  }

  /** Construct with an explicit index (ref: data_prep.py:46-55 zip path). */
  def fromPairs[I, T](spark: SparkSession, data: Seq[(I, T)],
      name: String = DefaultName, indexName: String = DefaultIndexName)(
      implicit pe: Encoder[(I, T)]): Series = {
    val ds = spark.createDataset(data)
    fromKeyed(ds.toDF(indexName, name), name, indexName)
  }

  /** Series from an existing DataFrame column keyed by an index column —
    * the scale-path constructor (the index is data, not row position; row
    * order carries no meaning at 100 TB). */
  def fromColumn(df: DataFrame, valueCol: String, indexCol: String): Series =
    new Series(df, valueCol, indexCol, col(indexCol), col(valueCol))

  /** Series from arbitrary index/value expressions over a frame. */
  def fromExpr(df: DataFrame, value: Column, name: String,
      indexCol: Column, indexName: String = DefaultIndexName): Series =
    new Series(df, name, indexName, indexCol, value)

  /** Series from a DataFrame column with a generated ordinal index.
    * zipWithIndex semantics (exact, deterministic for a fixed partitioning;
    * costs one extra job — ref: data_prep.py:57,81 uses the same primitive).
    * Prefer [[fromColumn]] with a real key at scale. */
  def withOrdinalIndex(df: DataFrame, valueCol: String,
      indexName: String = DefaultIndexName): Series = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(indexName, LongType, nullable = false),
      df.schema(valueCol)))
    val rdd = df.select(valueCol).rdd.zipWithIndex().map {
      case (row, i) => org.apache.spark.sql.Row(i, row.get(0))
    }
    fromKeyed(spark.createDataFrame(rdd, schema), valueCol, indexName)
  }

  private[core] def parseDataType(s: String): DataType = s.toLowerCase match {
    case "int" | "integer" => IntegerType
    case "long" | "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" | "str" => StringType
    case "bool" | "boolean" => BooleanType
    case "date" => DateType
    case "timestamp" => TimestampType
    case other => DataType.fromDDL(other)
  }
}

/** Virtual range-index handle: the index is physically a column; this is
  * metadata + rename (ref: pontem/indexes/range_index.py:7-31, where repr
  * derives start/stop from min/max — i.e., also virtual).
  *
  * start/stop/step are derived from the data like the reference's repr
  * (`range_index.py:28`): start = min(index), stop = max(index) + 1
  * (pandas-style exclusive stop), step fixed at 1. One distributed
  * min/max agg per call — parquet footer stats make it near-free on a
  * plain scan; `bounds` fetches both in a single job. toString stays
  * lazy (the reference's repr triggers two actions — deliberately not
  * copied; see SURVEY §4 "eager actions in hot paths"). */
final class RangeIndex(private val s: Series) {
  def name: String = s.indexName

  /** (start, stop) in one agg job; (0, 0) for an empty Series. */
  def bounds: (Long, Long) = {
    val r = s.base.agg(
      Series.F.min(s.indexExpr).cast("long"),
      Series.F.max(s.indexExpr).cast("long")).head()
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1) + 1L)
  }
  def start: Long = bounds._1
  /** Exclusive, pandas-style: max(index) + 1. */
  def stop: Long = bounds._2
  def step: Long = 1L

  override def toString: String = s"RangeIndex(name=${s.indexName})"
}
