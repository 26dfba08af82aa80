package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst MinHash signature: the `k`-lane signature of one row's
  * shingle-hash array (a [[ShingleHashes]] `array<long>`) in ONE compiled
  * pass over the array. Lane `i` is
  * `min over h of pmod(xxhash64(pmod(h, P), i), P)` with `P = 2³¹−1` —
  * bit-identical to exploding the array and folding `k`
  * `min(pmod(xxhash64(pmod(h, P), lit(i)), P))` aggregates per row (the
  * spelling it replaces, which needed a HashAggregate keyed by id and so a
  * shuffle of every shingle row).
  *
  * Lane independence: each lane rehashes the base hash with Spark's own
  * XXH64 seed chaining (seed 42 over the long, then the lane index as an
  * int) rather than an affine family, whose small multipliers barely
  * permute hash ORDER — documents sharing one hot low-hash shingle would
  * take the same minimum in most lanes at once, and band collisions grow
  * quadratically.
  *
  * Null semantics: null array → null; an array with no non-null element
  * (empty, or all null) → null, there is no minimum; null elements are
  * skipped, as the aggregate skips them. `k` must be a foldable positive
  * integer.
  *
  * Registered as SQL function `graft_minhash` by [[GraftExtensions]].
  */
case class MinHash(hashes: Expression, lanes: Expression)
    extends BinaryExpression {

  override def left: Expression = hashes
  override def right: Expression = lanes

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = hashes.dataType match {
    case ArrayType(LongType, _) if lanes.dataType == IntegerType && lanes.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(
        "graft_minhash requires a foldable integer lane count")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash requires an array<bigint> column, got ${other.simpleString}")
  }

  override def prettyName: String = "graft_minhash"

  override def nullSafeEval(h: Any, k: Any): Any =
    MinHash.compute(h.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, k) =>
      s"""${ev.value} = graft.functions.MinHash.compute($h, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHash =
    copy(hashes = newLeft, lanes = newRight)
}

object MinHash {

  /** Mersenne prime 2³¹−1: the base-hash and lane modulus. */
  val P = 2147483647L

  /** Spark's `pmod` on longs. */
  private def pmod(a: Long): Long = {
    val r = a % P
    if (r < 0) (r + P) % P else r
  }

  /** One pass over the array: per element, the base hash `pmod(h, P)` is
    * XXH64-hashed once with seed 42 (what `xxhash64(col, lit(i))` hashes
    * its first column with), then each lane chains the lane index as an
    * int onto that state and keeps the running minimum. */
  def compute(hs: ArrayData, k: Int): ArrayData = {
    require(k >= 1, "minhash lane count must be >= 1")
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var any = false
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      if (!hs.isNullAt(j)) {
        any = true
        val s = XXH64.hashLong(pmod(hs.getLong(j)), 42L)
        var i = 0
        while (i < k) {
          val v = pmod(XXH64.hashInt(i, s))
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      j += 1
    }
    if (any) new GenericArrayData(out) else null
  }

  /** Column wrapper via the SQL registry (sessions built with
    * [[GraftExtensions]] — all graft session builders are). */
  def signature(hashes: Column, k: Int): Column =
    call_function("graft_minhash", hashes,
      org.apache.spark.sql.functions.lit(k))
}
