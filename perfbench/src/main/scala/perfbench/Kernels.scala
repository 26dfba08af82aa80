package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CutTokens, DotProduct, JaroWinkler, LshBuckets, ShingleHashes}
import graft.ops.{DedupOps, TextOps}

/** The compiled-kernel table: ns per row of each `graft.functions` kernel
  * against the spelling it replaces, over the workload's own rows. The
  * alternative is the interpreted higher-order-function composition, except
  * for Jaro-Winkler, which has none (its two data-dependent loops cannot be
  * written as SQL folds): there it is a Scala UDF around the same function.
  *
  * Both spellings are evaluated the same way, on one thread over the same
  * rows held in memory: the expression Spark plans for the column, in the
  * projection Spark generates for it (an interpreted spelling runs through
  * its `eval` inside it, as it does in a query). No Spark job is timed, so
  * the figure holds no per-job or per-task cost and its jitter. */
object Kernels {
  /** untimed passes over the rows first, so the JIT has compiled the code */
  private val WarmNs = 500L * 1000 * 1000
  /** each of three timed windows lasts at least this long */
  private val WindowNs = 100L * 1000 * 1000
  private val Tables = 8
  private val Bits = 4
  private val Dim = 64

  /** Evaluation of `c` over `rows`, the rows of `df`: called with a time
    * in ns, it makes whole passes over the rows until that time has passed
    * and returns (elapsed ns, rows evaluated). */
  private def evaluator(df: DataFrame, rows: Array[InternalRow], c: Column): Long => (Long, Long) = {
    val (expr, input) = df.select(c.as("v")).queryExecution.optimizedPlan match {
      case Project(Seq(e), child) => (e, child.output)
      case p => sys.error(s"expected a projection for $c, got $p")
    }
    val proj = UnsafeProjection.create(Seq(expr), input)
    proj.initialize(0)
    var sink = 0L
    ns => {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < ns) {
        var i = 0
        while (i < rows.length) { sink += proj(rows(i)).getSizeInBytes; i += 1 }
        n += rows.length
      }
      require(sink > 0)
      (System.nanoTime() - t0, n)
    }
  }

  /** (ns per row, rows evaluated) of each spelling: both warm for
    * `WarmNs`, then three windows of `WindowNs` each, taken in turn so
    * both see the same machine; the median window is reported. */
  private def perRow(df: DataFrame, rows: Array[InternalRow],
                     spellings: Seq[Column]): Seq[(Double, Long)] = {
    val evals = spellings.map(evaluator(df, rows, _))
    evals.foreach(_(WarmNs))
    Seq.fill(3)(evals.map(_(WindowNs))).transpose.map { windows =>
      (windows.map { case (ns, n) => ns.toDouble / n }.sorted.apply(1), windows.map(_._2).sum)
    }
  }

  def table(run: Run, inputs: (DataFrame, DataFrame)): Map[String, Any] = {
    val (textRows, vecRows) = inputs
    def held(df: DataFrame): (DataFrame, Array[InternalRow]) = run.untimed {
      val c = df.cache()
      (c, c.queryExecution.toRdd.map(_.copy()).collect())
    }
    val text = held(textRows.select(col("text"))
      .select(col("text"), TextOps.tokens(col("text")).as("ts"),
        substring(col("text"), 1, 24).as("a"), substring(col("text"), 7, 24).as("b"))
      .withColumn("cov", transform(sequence(lit(0), size(col("ts")) - 1, lit(3)),
        _.cast("long"))))
    val vecs = held(vecRows.select(col("embedding").cast("array<double>").as("e")))
    val rnd = new scala.util.Random(run.seed)
    val planes = Array.fill(Tables * Bits * Dim)(rnd.nextDouble() * 2 - 1)
    val planesLit = typedlit(planes.grouped(Dim).map(_.toSeq).toSeq)
    val lshHof = transform(sequence(lit(0), lit(Tables - 1)), t =>
      aggregate(sequence(lit(0), lit(Bits - 1)), lit(0L), (acc, b) =>
        acc + when(DedupOps.dot(col("e"), element_at(planesLit, t * Bits + b + 1)) >= 0,
          pow(lit(2.0), b).cast("long")).otherwise(lit(0L))))
    val jwUdf = udf((a: String, b: String) =>
      JaroWinkler.similarity(UTF8String.fromString(a), UTF8String.fromString(b), true))
    // (name, rows, compiled, alternative)
    val kernels: Seq[(String, (DataFrame, Array[InternalRow]), Column, Column)] = Seq(
      ("graft_dot", vecs, DotProduct.dotNative(col("e"), col("e")),
        DedupOps.dot(col("e"), col("e"))),
      ("graft_cut", text, CutTokens.cut(col("ts"), col("cov")),
        array_join(filter(col("ts"), (t, i) => !array_contains(col("cov"), i.cast("long"))),
          " ")),
      ("graft_shingle_hashes", text, ShingleHashes.shingleHashes(col("text"), 3),
        transform(TextOps.shingles(col("text"), 3), s => xxhash64(s))),
      ("graft_lsh_buckets", vecs,
        LshBuckets.bucketsNative(col("e"), planes, Bits, Dim), lshHof),
      ("graft_jaro_winkler", text, JaroWinkler.jaroWinkler(col("a"), col("b")),
        jwUdf(col("a"), col("b"))))
    val out = kernels.map { case (name, (df, rows), native, alt) =>
      val Seq((nativeNs, nativeRows), (altNs, altRows)) =
        run.rec.span(s"functions.$name")(perRow(df, rows, Seq(native, alt)))
      // both spellings must agree row for row, on the values themselves
      val differ = run.untimed(df.filter(not(native <=> alt)).count())
      name -> Map("rows" -> nativeRows, "alt_rows" -> altRows, "ns_per_row" -> nativeNs,
        "alt_ns_per_row" -> altNs, "rows_differ" -> differ)
    }.toMap
    text._1.unpersist()
    vecs._1.unpersist()
    out
  }
}
