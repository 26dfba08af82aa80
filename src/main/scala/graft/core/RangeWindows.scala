package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed global RANGE-window engine: pandas' offset-window rolling
  * (`s.rolling('1h').mean()` on a datetime index) without a `by` key — the
  * trailing window is a COORDINATE SPAN, not a row count.
  *
  * Why [[GlobalWindows]] can't serve this: its cross-bucket context is a
  * bounded ROW carry (the global last-n rows before each bucket), but a
  * range frame's reach is data-dependent — any number of rows may fall
  * inside the trailing span, so no fixed row count is safe to carry and a
  * driver-side collect would be unbounded. The fix inverts the carry
  * direction and generates it BY EXPRESSION, with zero driver-collected
  * carry state:
  *
  *   1. one min/max agg derives the integer coordinate range (epoch µs for
  *      timestamps, epoch days for dates, the value itself for integral
  *      indexes);
  *   2. the bucket count is capped at `floor(range/span)` so the bucket
  *      width never drops below the span — each row's window then overlaps
  *      at most one bucket boundary;
  *   3. each row explodes into `sequence(bucketOf(c), bucketOf(c+span−1))`
  *      — its own bucket as a real row plus a flagged CARRY copy in every
  *      following bucket its span can still influence (≤ 2× row inflation
  *      by the width cap; as the span approaches the whole index range the
  *      plan degrades gracefully toward fewer buckets, which exact
  *      semantics force — every row then genuinely influences every
  *      other);
  *   4. ONE shuffle keyed by target bucket; per-bucket
  *      `Window.partitionBy(bucket).orderBy(coord).rangeBetween(−(span−1), 0)`
  *      — pandas' default `closed='right'` frame `(t−span, t]` on integer
  *      coordinates; carry rows participate as the true global
  *      predecessors and are dropped after the window.
  *
  * pandas offset-window semantics: `min_periods=1` (an offset rolling
  * yields a value as soon as the frame holds one observation — unlike
  * count-window rolling's min_periods=n), NaN values don't contribute,
  * rows with identical coordinates are peers (each sees all of its peers
  * in-frame). Null index labels ride bucket 0 and yield a null result
  * without contributing to any real frame.
  */
final class RangeWindows private[graft] (
    s: Series, span: Long, buckets: Int) {

  require(span >= 1, s"span must be >= 1 coordinate unit, got $span")
  require(buckets >= 1, "buckets must be >= 1")

  import RangeWindows._

  private val F = org.apache.spark.sql.functions
  private val idxName = s.indexName
  private val valName = s.name

  private val d: DataFrame =
    s.base.select(s.index.as(idxName), s.values.as(valName))

  /** Integer coordinate of the index (µs / days / own value). */
  private val coordExpr: Column = coordOf(d.schema(idxName).dataType,
    col(idxName))

  // one bounds agg on the RAW index column (parquet footer min/max apply)
  private val bounds = d.agg(F.min(col(idxName)), F.max(col(idxName))).head()
  private val (lo, hi) = coordBounds(d.schema(idxName).dataType, bounds)

  /** Width cap: never below `span`, so a row replicates into ≤ 2 buckets. */
  private val nb: Int =
    if (lo == Long.MinValue || hi <= lo) 1
    else math.max(1L, math.min(buckets.toLong, (hi - lo) / span)).toInt

  private val width: Double = if (hi > lo) (hi - lo).toDouble / nb else 1.0

  private def bucketOf(c: Column): Column =
    when(col(idxName).isNull, lit(0L)).otherwise(
      greatest(least(floor((c.cast("double") - lit(lo.toDouble)) / lit(width)),
        lit(nb - 1.0)), lit(0.0)).cast("long"))

  /** Carry-complete frame: every row exploded into the buckets its span
    * can influence; `__rw_carry` = not the row's own bucket. Staged so the
    * Generate's input is a plain attribute, not a re-evaluated subtree. */
  private val frame: DataFrame = {
    val staged = d
      .select(col(idxName), col(valName), coordExpr.as(Coord))
      .select(col(idxName), col(valName), col(Coord),
        bucketOf(col(Coord)).as(BktOrig),
        bucketOf(col(Coord) + lit(span - 1L)).as(BktEnd))
    staged
      .select(col(idxName), col(valName), col(Coord), col(BktOrig),
        explode(sequence(col(BktOrig), col(BktEnd))).as(Bkt))
      .withColumn(CarryCol, col(Bkt) =!= col(BktOrig))
  }

  private val w = Window.partitionBy(col(Bkt))
    .orderBy(col(Coord).asc)
    .rangeBetween(-(span - 1L), 0L)

  private def ranged(agg: Column): Column =
    when(col(idxName).isNull, lit(null)).otherwise(agg.over(w))

  def mean(): Column = ranged(avg(col(valName)))
  def sum(): Column = ranged(F.sum(col(valName)))
  def min(): Column = ranged(F.min(col(valName)))
  def max(): Column = ranged(F.max(col(valName)))
  def std(): Column = ranged(stddev_samp(col(valName)))
  /** Observations (non-null values) inside the trailing span. */
  def count(): Column = ranged(F.count(col(valName)))

  /** Materialize named window expressions alongside the index; carry rows
    * feed the frames and are dropped from the output. */
  def result(cols: (String, Column)*): DataFrame =
    frame
      .select(col(idxName) +: col(CarryCol) +:
        cols.map { case (n, c) => c.as(n) }: _*)
      .filter(!col(CarryCol))
      .drop(CarryCol)
}

private[graft] object RangeWindows {
  val Bkt = "__rw_bkt"
  val BktOrig = "__rw_bkt0"
  val BktEnd = "__rw_bkt1"
  val Coord = "__rw_coord"
  val CarryCol = "__rw_carry"

  /** Integer coordinate column for a range-orderable index dtype. */
  private[graft] def coordOf(dt: DataType, idxCol: Column): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => idxCol.cast("long")
    case DateType => unix_date(idxCol).cast("long")
    case TimestampType | TimestampNTZType => unix_micros(idxCol)
    case other => throw new IllegalArgumentException(
      s"range windows need an integral, date, or timestamp index; got $other")
  }

  /** Driver-side (lo, hi) coordinate bounds from the raw min/max row;
    * (Long.MinValue, _) signals an empty/all-null index → one bucket. */
  private def coordBounds(dt: DataType, bounds: Row): (Long, Long) = {
    def conv(a: Any): Long = a match {
      case n: java.lang.Number => n.longValue()
      case dte: java.sql.Date => dte.toLocalDate.toEpochDay
      case ld: java.time.LocalDate => ld.toEpochDay
      case ts: java.sql.Timestamp =>
        ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: java.time.LocalDateTime =>
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          l.getNano / 1000L
      case other => throw new IllegalArgumentException(
        s"unsupported index bound $other")
    }
    if (bounds.isNullAt(0)) (Long.MinValue, Long.MinValue)
    else (conv(bounds.get(0)), conv(bounds.get(1)))
  }
}
