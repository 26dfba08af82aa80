package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Ordered conversion funnel as a native mergeable AGGREGATE: per group,
  * the first time each of `k` stages is reached at or after the previous
  * stage's —
  * t₀ = min S₀, tᵢ = min{x ∈ Sᵢ : x ≥ tᵢ₋₁}, where Sᵢ is the set of times
  * of the group's rows whose `stageMask` has bit i set. A stage never
  * reached in order is null, and so is every later stage.
  *
  * Input: `ts` ordered by its physical long (timestamp and timestamp_ntz
  * µs, date days, tinyint/smallint/int/bigint), `stageMask` an integral
  * column whose bit i means "this row is a stage-i event" (one row can
  * set several bits: a stage name repeated in the funnel). Rows with a
  * null `ts` or mask are ignored; bits at or above `k` are ignored.
  * Output: `array<ts type>` of length `k`, element i = tᵢ or null.
  *
  * State and exactness. Per stage the state is a sorted set of distinct
  * times. A partial (any subset of the group's rows) has its own chain
  * m₀ = min S₀, mᵢ = min{x ∈ Sᵢ : x ≥ mᵢ₋₁}.
  *  - By induction the global tᵢ ≤ mᵢ: t₀ ≤ m₀ since S₀ only grows; and
  *    mᵢ ≥ mᵢ₋₁ ≥ tᵢ₋₁ makes mᵢ a candidate for tᵢ. So an Sᵢ entry
  *    above mᵢ can never be tᵢ and is dropped — in `update`, in `merge`.
  *  - Dropping it changes no mᵢ, and adding rows only lowers the chain,
  *    so a dropped entry stays droppable: it never comes back.
  *  - Where the chain breaks (S₀ empty, or no x ≥ mᵢ₋₁ in Sᵢ), Sᵢ and
  *    every later stage are kept whole: another partial's smaller tᵢ₋₁
  *    may still reach any of them.
  *  - Each global tᵢ therefore survives in the partial that holds it, and
  *    `eval` walks the chain of the merged state to the exact answer.
  * Ties at equal times complete both stages (`≥`).
  *
  * Shuffle shape: map-side partial aggregation leaves one pruned state
  * per (map partition, group) — in practice a few candidate times per
  * stage — where the window spelling it replaced exchanged every row.
  * The buffer is an object (ObjectHashAggregate), so its memory does not
  * show in Spark's execution-memory metrics.
  *
  * Registered as SQL aggregate `graft_funnel(ts, stageMask, k)` by
  * [[GraftExtensions]]. */
case class Funnel(ts: Expression, stageMask: Expression, k: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Funnel.State]
    with BinaryLike[Expression] {

  require(k >= 1 && k <= 64, s"graft_funnel needs 1 <= k <= 64, got $k")

  override def left: Expression = ts
  override def right: Expression = stageMask

  override def dataType: DataType = ArrayType(ts.dataType, containsNull = true)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Funnel.timeTypes.contains(ts.dataType)) TypeCheckResult.TypeCheckFailure(
      "graft_funnel orders by timestamp, timestamp_ntz, date, tinyint, " +
        s"smallint, int or bigint; got ${ts.dataType.simpleString}")
    else if (!Funnel.integral.contains(stageMask.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_funnel stage mask must be integral, got ${stageMask.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_funnel"

  /** Physical long back to the time column's physical value. */
  @transient private lazy val unbox: Long => Any = ts.dataType match {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType | DateType => _.toInt
    case _ => identity
  }

  override def createAggregationBuffer(): Funnel.State = new Funnel.State(k)

  override def update(buf: Funnel.State, input: InternalRow): Funnel.State = {
    val t = ts.eval(input)
    if (t != null) {
      val m = stageMask.eval(input)
      if (m != null) buf.add(t.asInstanceOf[Number].longValue,
        m.asInstanceOf[Number].longValue)
    }
    buf
  }

  override def merge(buf: Funnel.State, other: Funnel.State): Funnel.State =
    buf.merge(other)

  override def eval(buf: Funnel.State): Any = {
    val chain = buf.chain()
    new GenericArrayData(Array.tabulate[Any](k)(i =>
      if (i < chain.length) unbox(chain(i)) else null))
  }

  override def serialize(buf: Funnel.State): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): Funnel.State =
    Funnel.State.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): Funnel =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): Funnel =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Funnel =
    copy(ts = newLeft, stageMask = newRight)
}

object Funnel {

  private val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
  private val timeTypes: Set[DataType] =
    integral ++ Set(TimestampType, TimestampNTZType, DateType)

  /** The per-group buffer: stage i's candidate times are
    * `sets(i)(0 until sizes(i))`, ascending and distinct, pruned after
    * every change (see [[Funnel]] for why pruning is exact). */
  final class State(k: Int) {
    private val sets = Array.fill(k)(new Array[Long](4))
    private val sizes = new Array[Int](k)

    /** First index of stage i whose time is >= t. */
    private def lowerBound(i: Int, t: Long): Int = {
      val s = sets(i)
      var lo = 0
      var hi = sizes(i)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (s(mid) < t) lo = mid + 1 else hi = mid
      }
      lo
    }

    private def insert(i: Int, t: Long): Unit = {
      val j = lowerBound(i, t)
      val n = sizes(i)
      if (j == n || sets(i)(j) != t) {
        if (n == sets(i).length) sets(i) = java.util.Arrays.copyOf(sets(i), n * 2)
        System.arraycopy(sets(i), j, sets(i), j + 1, n - j)
        sets(i)(j) = t
        sizes(i) = n + 1
      }
    }

    /** Walk the chain, dropping every entry above its stage's link; the
      * number of stages the chain reaches. Stage i's link is then its
      * last entry. */
    private def prune(): Int = {
      var prev = Long.MinValue
      var i = 0
      while (i < k) {
        val j = lowerBound(i, prev)
        if (j == sizes(i)) return i
        sizes(i) = j + 1
        prev = sets(i)(j)
        i += 1
      }
      k
    }

    def add(t: Long, mask: Long): Unit = {
      var m = if (k == 64) mask else mask & ((1L << k) - 1)
      if (m != 0) {
        while (m != 0) {
          insert(java.lang.Long.numberOfTrailingZeros(m), t)
          m &= m - 1
        }
        prune()
      }
    }

    def merge(other: State): State = {
      var i = 0
      while (i < k) {
        val a = sets(i)
        val b = other.sets(i)
        val na = sizes(i)
        val nb = other.sizes(i)
        if (nb > 0) {
          val out = new Array[Long](na + nb)
          var x = 0
          var y = 0
          var n = 0
          while (x < na || y < nb) {
            val v = if (y == nb || (x < na && a(x) <= b(y))) a(x) else b(y)
            if (x < na && a(x) == v) x += 1
            if (y < nb && b(y) == v) y += 1
            out(n) = v
            n += 1
          }
          sets(i) = out
          sizes(i) = n
        }
        i += 1
      }
      prune()
      this
    }

    /** t₀ … tₙ₋₁ for the n stages the chain reaches. */
    def chain(): Array[Long] = Array.tabulate(prune())(i => sets(i)(sizes(i) - 1))

    def toBytes: Array[Byte] = {
      val buf = ByteBuffer.allocate(4 * k + 8 * sizes.sum)
      var i = 0
      while (i < k) {
        buf.putInt(sizes(i))
        var j = 0
        while (j < sizes(i)) { buf.putLong(sets(i)(j)); j += 1 }
        i += 1
      }
      buf.array()
    }
  }

  object State {
    def fromBytes(k: Int, bytes: Array[Byte]): State = {
      val in = ByteBuffer.wrap(bytes)
      val st = new State(k)
      var i = 0
      while (i < k) {
        val n = in.getInt()
        st.sets(i) = new Array[Long](math.max(n, 4))
        var j = 0
        while (j < n) { st.sets(i)(j) = in.getLong(); j += 1 }
        st.sizes(i) = n
        i += 1
      }
      st
    }
  }

  /** Column wrapper via the SQL registry (sessions built with
    * [[GraftExtensions]] — all graft session builders are). */
  def funnel(ts: Column, stageMask: Column, k: Int): Column =
    call_function("graft_funnel", ts, stageMask, lit(k))
}
