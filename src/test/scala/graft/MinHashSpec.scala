package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.MinHash.signature
import graft.functions.ShingleHashes.shingleHashes

/** Specs for the native codegen'd MinHash expression: the one-pass k-lane
  * signature must be bit-identical to the explode + k-min aggregate
  * spelling it replaces inside [[graft.ops.DedupOps.minhashNearDup]]. */
class MinHashSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private val P = 2147483647L
  private val fixtureDir = "/root/testdata/sf0.001"

  /** (id, sig) by the aggregate spelling: explode the shingle hashes,
    * fold lane i as min(pmod(xxhash64(pmod(h, P), i), P)) keyed by id. */
  private def aggregated(sh: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(pmod(xxhash64(col("h"), lit(i)), lit(P))).as(s"__m$i"))
    sh.select(col("id"), explode(col("shs")).as("s"))
      .select(col("id"), pmod(col("s"), lit(P)).as("h"))
      .groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  private def kernel(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("id"), signature(col("shs"), k).as("sig"))

  private def sigs(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("bit-identical to the explode + k-min aggregate on fixture docs") {
    val sh = Tables.documents(spark, fixtureDir)
      .select(col("doc_id").as("id"), shingleHashes(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
    for (k <- Seq(16, 32)) {
      val agg = sigs(aggregated(sh, k))
      val ker = sigs(kernel(sh, k))
      assert(agg.nonEmpty)
      assert(ker == agg, s"k=$k")
    }
  }

  test("edge cases: null, one shingle, repeated hashes, negative hashes") {
    val sh = Seq(
      (1L, Option.empty[Seq[Long]]),          // null array -> null
      (2L, Some(Seq.empty[Long])),            // no minimum -> null
      (3L, Some(Seq(42L))),                   // one shingle
      (4L, Some(Seq(7L, 7L, 7L, -3L, 7L))),   // repeats fold as one
      (5L, Some(Seq(-1L, Long.MinValue, -P, -(P + 1)))), // pmod sign
      (6L, Some(Seq(Long.MaxValue, 0L, P, P - 1)))
    ).toDF("id", "shs")
    val got = sigs(kernel(sh, 8).filter(col("sig").isNotNull))
    val agg = sigs(aggregated(sh, 8))
    assert(got == agg)
    assert(got.keySet == Set(3L, 4L, 5L, 6L))
    assert(got(4L) == sigs(kernel(Seq((4L, Seq(-3L, 7L))).toDF("id", "shs"), 8))(4L))
    assert(got.values.flatten.forall(v => v >= 0 && v < P))
    // the interpreted path agrees with the compiled one
    val interp = sh.collect().map { r =>
      r.getLong(0) -> Option(r.getSeq[Long](1)).flatMap(s =>
        Option(graft.functions.MinHash.compute(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(s.toArray), 8))
          .map(_.toLongArray().toSeq))
    }.collect { case (id, Some(s)) => id -> s }.toMap
    assert(interp == got)
    val nulls = kernel(sh, 8).filter(col("sig").isNull)
      .select("id").as[Long].collect().toSet
    assert(nulls == Set(1L, 2L))
  }

  test("registered in the SQL function registry") {
    Tables.documents(spark, fixtureDir).limit(10)
      .createOrReplaceTempView("__mhdocs")
    val out = spark.sql(
      "SELECT size(graft_minhash(graft_shingle_hashes(text, 3), 16)) AS k " +
        "FROM __mhdocs WHERE size(graft_shingle_hashes(text, 3)) > 0")
      .collect()
    assert(out.nonEmpty && out.forall(_.getInt(0) == 16))
  }
}
