package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hookup: registers graft's native functions into
  * the SQL function registry, so `spark.sql("... graft_dot(a, b) ...")`
  * works wherever the session is built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or .withExtensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Register a 1-arg Column-composed operator under `name`: the SQL
    * function IS the Column API function (one definition, two front
    * doors — see [[org.apache.spark.sql.graftbridge.ColumnBridge]]). */
  private def unary(ext: SparkSessionExtensions, name: String)(
      f: Column => Column): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo("graft.ops.TextOps", name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name takes exactly 1 argument")
        ColumnBridge.expression(f(ColumnBridge.column(children.head)))
      }))

  /** The value of an aggregate's integer-literal parameter `k`. */
  private def intLiteral(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
        if v != null => v.toString.toInt
    case other => throw new IllegalArgumentException(
      s"$name k must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // runtime all-pairs guard (armed per session by
    // spark.graft.blockAllPairs=true; inspect-only, default off)
    ext.injectOptimizerRule(graft.plans.AllPairsGuard)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "graft_lsh_buckets takes (vec, planes, bits, dim)")
        LshBuckets(children(0), children(1), children(2), children(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_shingle_hashes takes (text, n)")
        ShingleHashes(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHash].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_minhash takes (shs, k)")
        MinHash(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_text"),
      new ExpressionInfo(classOf[ShingleText].getName, "graft_shingle_text"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_shingle_text takes (text, n)")
        ShingleText(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ngram_text"),
      new ExpressionInfo(classOf[NgramText].getName, "graft_ngram_text"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_ngram_text takes (text, n)")
        NgramText(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cut"),
      new ExpressionInfo(classOf[CutTokens].getName, "graft_cut"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_cut takes (tokens, covered_positions)")
        CutTokens(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_entropy"),
      new ExpressionInfo(classOf[ByteEntropy].getName, "graft_entropy"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "graft_entropy takes (text)")
        ByteEntropy(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_freq_items"),
      new ExpressionInfo(classOf[FreqItems].getName, "graft_freq_items"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_freq_items takes (col, k) with a literal k")
        FreqItems(children.head, intLiteral("graft_freq_items", children(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_funnel"),
      new ExpressionInfo(classOf[Funnel].getName, "graft_funnel"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_funnel takes (ts, stageMask, k) with a literal k")
        Funnel(children.head, children(1), intLiteral("graft_funnel", children(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_normalize takes (text, form) with a literal form")
        val form = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_normalize form must be a string literal, got $other")
        }
        UnicodeNormalize(children.head, form)
      }))
    Seq("graft_jaro" -> false, "graft_jaro_winkler" -> true).foreach {
      case (name, wink) =>
        ext.injectFunction((
          new FunctionIdentifier(name),
          new ExpressionInfo(classOf[JaroWinkler].getName, name),
          (children: Seq[Expression]) => {
            require(children.length == 2, s"$name takes exactly 2 arguments")
            JaroWinkler(children.head, children(1), wink)
          }))
    }
    // text-analysis surface for spark.sql users — same expressions the
    // Column API composes (TextOps), so results are bit-identical
    unary(ext, "graft_tokens")(graft.ops.TextOps.tokens)
    unary(ext, "graft_token_count")(graft.ops.TextOps.tokenCount)
    unary(ext, "graft_quality")(graft.ops.TextOps.qualityScore)
    unary(ext, "graft_fingerprint")(graft.ops.TextOps.fingerprint)
    unary(ext, "graft_lang_id")(graft.ops.TextOps.langId)
    unary(ext, "graft_redact_pii")(graft.ops.TextOps.redactPii)
  }
}
