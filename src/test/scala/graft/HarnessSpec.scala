package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Guards on the measurement/memo harness itself: the bench final-line
  * parse budget (the driver reads one ~2000-char stdout tail), failed
  * gates never counted as samples, and the session-lifetime training memo
  * semantics. */
class HarnessSpec extends AnyFunSuite with SparkFixture {

  test("Bench final line stays under the driver parse budget even with " +
    "every representative at worst-case width") {
    // worst case: every headline key present, 4-digit seconds (9999.999),
    // every build key present, a long sf path
    val med = (SparkEntry.queries.keys.toSeq :+ "zzz_pad").map(_ -> 9999.999)
    val build = Seq("f27_bucketed_join", "v04_ivf_persist", "v08_ivf_append",
      "v12_pq", "v13_ivf_pq", "v14_pq_persist", "v15_ivfpq_persist")
      .map(_ -> 9999.999)
    val line = Bench.renderFinal(med, build, 99999.999, "/root/testdata/sf0.1")
    assert(line.length <= Bench.finalLineBudget,
      s"final line ${line.length} chars exceeds budget ${Bench.finalLineBudget}")
    // the line must remain parseable JSON with the headline fields intact
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""n_queries":"""))
    assert(line.endsWith("""}"""))
  }

  test("Bench renderFinal keeps all representatives when they fit") {
    val med = Seq("f03_q1_agg" -> 0.5, "d01_exact_dedup" -> 1.25)
    val line = Bench.renderFinal(med, Seq.empty, 1.75, "/tmp/sf")
    assert(line.contains(""""f03_q1_agg":0.500"""))
    assert(line.contains(""""d01_exact_dedup":1.250"""))
  }

  private val ok: Harness.Gate = (s, _) => s.range(10).toDF()
  private val boom: Harness.Gate =
    (_, _) => throw new IllegalStateException("gate failed")
  private def field(line: String, key: String): String =
    ("\"" + key + "\":([0-9.]+)").r.findFirstMatchIn(line).get.group(1)

  test("a gate that throws yields its failure, not a sample") {
    assert(Harness.run(spark, "/tmp/sf", boom).isLeft)
    assert(Harness.run(spark, "/tmp/sf", ok).map(_.rows) == Right(10L))
  }

  test("a gate is run over every output column: one whose only non-key " +
      "column throws is failed, not timed") {
    val boomColumn = udf((v: Long) =>
      if (v >= 0L) throw new IllegalStateException("column failed") else v)
    val lazyBoom: Harness.Gate = (s, _) =>
      s.range(10).toDF("id").withColumn("x", boomColumn(col("id")))
    assert(Harness.run(spark, "/tmp/sf", lazyBoom).isLeft)
  }

  test("Bench lists a throwing gate as failed, outside medians, total " +
    "and n_queries") {
    val (detail, last) =
      Bench.bench(spark, "/tmp/sf", Seq("ok_gate" -> ok, "boom_gate" -> boom))
    assert(detail.contains(""""failed":["boom_gate"]"""))
    assert(!detail.contains(""""boom_gate":"""))
    assert(last.startsWith("""{"metric":"total","value":"""))
    assert(last.contains(""""n_queries":1,"""))
    assert(field(last, "value") == field(detail, "ok_gate"))
  }

  test("Rehearsal lists a throwing gate as failed, outside its total") {
    val line = Rehearsal.rehearse(spark, "/tmp/sf",
      Seq("ok_gate" -> ok, "boom_gate" -> boom))
    assert(line.contains(""""failed":["boom_gate"]"""))
    assert(!line.contains(""""boom_gate":"""))
    assert(field(line, "total") == field(line, "ok_gate"))
  }

  test("Caches.memo computes once per key and isolates keys") {
    Caches.clearMemos()
    var calls = 0
    def train(): Seq[Double] = { calls += 1; Seq(1.0, 2.0) }
    val a1 = Caches.memo("harness-spec/a")(train())
    val a2 = Caches.memo("harness-spec/a")(train())
    assert(calls == 1, "memo hit must not recompute")
    assert(a1 eq a2, "memo hit returns the cached instance")
    Caches.memo("harness-spec/b")(train())
    assert(calls == 2, "distinct keys compute independently")
    Caches.clearMemos()
  }

  test("Caches.memo does not hold the lock while computing") {
    Caches.clearMemos()
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() =>
      Caches.memo("harness-spec/slow") {
        started.countDown()
        release.await(10, java.util.concurrent.TimeUnit.SECONDS)
        42
      })
    slow.start()
    assert(started.await(5, java.util.concurrent.TimeUnit.SECONDS))
    // while the slow training is in flight, an unrelated memo call must
    // complete immediately (pre-fix it blocked on the global lock)
    val t0 = System.nanoTime()
    val fast = Caches.memo("harness-spec/fast")(7)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(fast == 7)
    assert(elapsedMs < 2000, s"fast memo blocked ${elapsedMs}ms behind training")
    release.countDown()
    slow.join(10000)
    assert(Caches.memo("harness-spec/slow")(0) == 42)
    Caches.clearMemos()
  }

  test("ndcgAtK: ranks beyond the pinned table contribute an explicit 0") {
    import spark.implicits._
    // exact top-12 for one query; approximate returns the same ids but
    // ranks 11/12 must not null-poison (nor ANSI-throw) the DCG sums
    val exact = (1 to 12).map(i => (1L, i.toLong, 100L + i))
      .toDF("qid", "rk", "nid")
    val approx = exact
    val out = ops.EvalOps.ndcgAtK(approx, exact)
      .select("qid", "dcg_u", "idcg_u", "ndcg6").collect()
    Caches.clear()
    assert(out.length == 1)
    val r = out.head
    assert(!r.isNullAt(1) && !r.isNullAt(2), "DCG sums must be non-null")
    assert(r.getLong(1) == r.getLong(2), "identical rankings: dcg == idcg")
    assert(r.getDouble(3) == 1.0)
  }
}
