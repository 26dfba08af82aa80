package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Series

/** Differential tests mirroring the reference suite's patterns
  * (ref: pontem/tests/test_series.py): hand-computed oracles over
  * range(10, 1000), the op×operand matrix, construction matrix, and
  * rename-schema-propagation — plus the semantics we deliberately fixed
  * (floor division, alignment, zero divisors, negative values). */
class SeriesSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  // ref: tests/test_series.py:15 — DATA = list(range(10, 1e3))
  private val data: Seq[Long] = (10L until 1000L)
  private lazy val s = Series.fromSeq(spark, data, name = "some_name")

  private def valuesOf(ser: Series): Seq[Any] =
    ser.df.orderBy(col(ser.indexName)).collect().map(_.get(1)).toSeq

  test("shape and length match pandas semantics (test_series.py:27-31)") {
    assert(s.length == data.length.toLong)
    assert(s.shape == Tuple1(data.length.toLong))
  }

  test("aggregations match hand-computed oracle (test_series.py:96-114)") {
    assert(s.sum() == data.sum)
    assert(s.min() == 10L)
    assert(s.max() == 999L)
    assert(s.mean() == data.sum.toDouble / data.length)
    // sample stddev, ddof=1 (pandas default)
    val m = data.sum.toDouble / data.length
    val expStd = math.sqrt(data.map(v => (v - m) * (v - m)).sum / (data.length - 1))
    assert(math.abs(s.std().asInstanceOf[Double] - expStd) < 1e-9)
  }

  test("construction matrix: fromSeq / fromPairs / fromColumn (test_series.py:117-139)") {
    assert(Series.fromSeq(spark, Seq(1L, 2L, 3L)).length == 3)
    assert(Series.fromSeq(spark, Seq(1.5, 2.5)).length == 2)
    assert(Series.fromSeq(spark, Seq("a", "b")).length == 2)
    val p = Series.fromPairs(spark, Seq((2L, "x"), (4L, "y"), (6L, "z")))
    assert(valuesOf(p) == Seq("x", "y", "z"))
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    assert(valuesOf(Series.fromColumn(df, "v", "k")) == Seq(10.0, 20.0))
  }

  test("default name is the string 'None' (series.py:52)") {
    assert(Series.fromSeq(spark, Seq(1L)).name == "None")
  }

  test("rename propagates to physical schema (test_series.py:34-52)") {
    val r = s.rename("new_name")
    assert(r.name == "new_name")
    assert(r.df.schema.names.contains("new_name"))
    assert(!r.df.schema.names.contains("some_name"))
  }

  test("index rename propagates (test_series.py:55-72)") {
    val r = s.renameIndex("new_index")
    assert(r.indexHandle.name == "new_index")
    assert(r.df.schema.names.toSeq == Seq("new_index", "some_name"))
  }

  test("scalar op matrix (test_series.py:75-94) — type preserved, no float coercion") {
    assert(valuesOf(s + 2L).asInstanceOf[Seq[Long]] == data.map(_ + 2))
    assert(valuesOf(s - 2L).asInstanceOf[Seq[Long]] == data.map(_ - 2))
    assert(valuesOf(s * 2L).asInstanceOf[Seq[Long]] == data.map(_ * 2))
    // truediv promotes to double (pandas semantics)
    assert(valuesOf(s / 2L).asInstanceOf[Seq[Double]] == data.map(_ / 2.0))
  }

  test("self op matrix — same-base composes without a join") {
    val sum2 = s + s
    assert(valuesOf(sum2).asInstanceOf[Seq[Long]] == data.map(_ * 2))
    // physical plan must not contain a join
    assert(!sum2.df.queryExecution.executedPlan.toString.toLowerCase.contains("join"))
  }

  test("floorDiv floors toward -inf (pandas), not trunc (ref TODO series.py:204)") {
    val neg = Series.fromSeq(spark, Seq(-7.0, -1.0, 1.0, 7.0))
    assert(valuesOf(neg.floorDiv(2.0)) == Seq(-4L, -1L, 0L, 3L))
  }

  test("division by zero yields null, not an error (ref bug test_series.py:14)") {
    val z = Series.fromSeq(spark, Seq(1.0, 2.0))
    assert(valuesOf(z.floorDiv(0.0)) == Seq(null, null))
  }

  test("cross-frame alignment joins on index with outer nulls (pandas), not positional") {
    val a = Series.fromPairs(spark, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)), name = "v")
    val b = Series.fromPairs(spark, Seq((2L, 1.0), (3L, 2.0), (4L, 3.0)), name = "v")
    val out = (a + b).df.orderBy(col("index")).collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    assert(out == Seq((1L, null), (2L, 21.0), (3L, 32.0), (4L, null)))
  }

  test("name collision rule: mismatched names -> 'None' (series.py:201)") {
    val a = Series.fromPairs(spark, Seq((1L, 1.0)), name = "a")
    val b = Series.fromPairs(spark, Seq((1L, 2.0)), name = "b")
    assert((a + b).name == "None")
    assert((a.rename("x") + b.rename("x")).name == "x")
  }

  test("label lookup / slice / mask (series.py:257-262 NotImplementedError hole)") {
    assert(valuesOf(s(11L)) == Seq(21L)) // label 11 -> data(11) = 21
    assert(valuesOf(s.slice(0L, 4L)).size == 5)
    assert(valuesOf(s.mask(s > 997.0)).asInstanceOf[Seq[Long]] == Seq(998L, 999L))
    assert(valuesOf(s.where(_ > 997)).asInstanceOf[Seq[Long]] == Seq(998L, 999L))
  }

  test("astype across the lattice (ref int-only, series.py:179-188)") {
    val d = Series.fromSeq(spark, Seq(1.7, 2.2))
    assert(d.astype("int").dtype == IntegerType)
    assert(valuesOf(d.astype("int")) == Seq(1, 2))
    assert(d.astype("string").dtype == StringType)
    assert(d.astype("long").dtype == LongType)
    assert(Series.fromSeq(spark, Seq(1L)).astype("double").dtype == DoubleType)
  }

  test("applyF runs arbitrary closures with index carried (series.py:78-100)") {
    val out = s.applyF[Long, Long](v => v * v)
    assert(valuesOf(out).asInstanceOf[Seq[Long]] == data.map(v => v * v))
  }

  test("mapValues dict lookup; missing keys -> null (series.py:125-130 hole)") {
    val v = Series.fromSeq(spark, Seq("a", "b", "c"))
    val mapped = v.mapValues(Map("a" -> "A", "b" -> "B"))
    assert(valuesOf(mapped) == Seq("A", "B", null))
  }

  test("head returns a Series of the first n by index (series.py:175-177 divergence)") {
    val h = s.head(3)
    assert(valuesOf(h).asInstanceOf[Seq[Long]] == Seq(10L, 11L, 12L))
  }

  test("ordinal index assignment via zipWithIndex (data_prep.py:57,81)") {
    val df = Seq("x", "y", "z").toDF("v")
    val ser = Series.withOrdinalIndex(df, "v")
    assert(valuesOf(ser) == Seq("x", "y", "z"))
  }

  test("repr is lazy — no count (series.py:248-252 divergence)") {
    assert(s.toString == "graft.Series[name: some_name, index: index]")
  }

  test("shift/diff/pctChange null-pad the head (pandas)") {
    val v = Series.fromSeq(spark, Seq(10.0, 20.0, 25.0))
    assert(valuesOf(v.shift(1)) == Seq(null, 10.0, 20.0))
    assert(valuesOf(v.diff(1)) == Seq(null, 10.0, 5.0))
    assert(valuesOf(v.pctChange()) == Seq(null, 1.0, 0.25))
  }

  test("negative shift/diff (lead) null-pad the tail via forward carry") {
    val v = Series.fromSeq(spark, Seq(10.0, 20.0, 25.0, 40.0))
    assert(valuesOf(v.shift(-1)) == Seq(20.0, 25.0, 40.0, null))
    assert(valuesOf(v.shift(-2)) == Seq(25.0, 40.0, null, null))
    assert(valuesOf(v.diff(-1)) == Seq(-10.0, -5.0, -15.0, null))
  }

  test("rank uses the average method for ties (pandas rank())") {
    val v = Series.fromSeq(spark, Seq(30.0, 10.0, 10.0, 20.0))
    // sorted: 10,10,20,30 -> positions 1,2,3,4; ties 10 share (1+2)/2=1.5
    assert(valuesOf(v.rank()) == Seq(4.0, 1.5, 1.5, 3.0))
  }

  test("rank leaves nulls null and does not shift real ranks (pandas)") {
    val v = Series.fromPairs(spark,
      Seq((1L, java.lang.Double.valueOf(2.0)), (2L, null.asInstanceOf[java.lang.Double]),
        (3L, java.lang.Double.valueOf(1.0))))
    assert(valuesOf(v.rank()) == Seq(2.0, null, 1.0))
  }

  test("pctChange yields null on a zero previous value (ANSI-safe)") {
    val v = Series.fromSeq(spark, Seq(0.0, 5.0, 10.0))
    assert(valuesOf(v.pctChange()) == Seq(null, null, 1.0))
  }

  test("quantile/median use exact interpolation (pandas linear)") {
    val v = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0))
    assert(v.median() == 2.5)
    assert(v.quantile(0.25) == 1.75)
    assert(s.median() == 504.5) // range(10, 1000)
  }

  test("rollingMean is null until the window fills (min_periods=n)") {
    val v = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0))
    assert(valuesOf(v.rollingMean(3)) == Seq(null, null, 2.0, 3.0))
  }

  test("rollingWeightedMean: triang/gaussian ratios, nulls gate the chain") {
    val v = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0))
    // triang(3) = [0.5, 1, 0.5]: (0.5·1 + 1·2 + 0.5·3)/2 = 2, then 3
    assert(Series.triangWeights(3) == Seq(0.5, 1.0, 0.5))
    assert(Series.triangWeights(4) == Seq(0.25, 0.75, 0.75, 0.25))
    assert(valuesOf(v.rollingWeightedMean(Series.triangWeights(3)))
      == Seq(null, null, 2.0, 3.0))
    // gaussian peak is centered and symmetric; mean of a LINEAR ramp under
    // ANY symmetric weights is the window midpoint
    assert(valuesOf(v.rollingWeightedMean(Series.gaussianWeights(3, 1.0)))
      == Seq(null, null, 2.0, 3.0))
    // a null inside the frame nulls the result (pandas weighted semantics)
    val n = Series.fromSeq(spark, Seq[java.lang.Double](1.0, null, 3.0, 4.0))
    assert(valuesOf(n.rollingWeightedMean(Series.triangWeights(3)))
      == Seq(null, null, null, null))
  }

  test("asfreq: value at exact grid points only, no filling") {
    import java.sql.Timestamp
    val df = Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      (Timestamp.valueOf("2024-01-01 00:25:00"), 3.0)).toDF("ts", "v")
    val got = Series.fromColumn(df, "v", "ts").asfreq("hour", 600L)
      .df.orderBy("ts").collect()
      .map(r => (r.getTimestamp(0).toString, r.get(1))).toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00.0", 1.0),
      ("2024-01-01 00:10:00.0", 2.0),
      ("2024-01-01 00:20:00.0", null))) // 00:25 is off-grid: NOT carried
  }

  test("qcut duplicates: raise on colliding edges, drop dedups them") {
    // heavy mass at one value → interior quantile edges collide
    val v = Series.fromSeq(spark,
      Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 2.0), name = "v")
    intercept[IllegalArgumentException] { v.qcut(4).df.count() }
    val bins = valuesOf(v.qcut(4, "drop"))
    assert(bins.take(6).forall(_ == 0) && bins.drop(6).forall(_ != 0))
  }

  test("winsorize clips at the snapped percentile bounds") {
    val v = Series.fromSeq(spark, (1 to 100).map(_.toDouble), name = "v")
    val w = valuesOf(v.winsorize(0.05, 0.95)).map(_.asInstanceOf[Double])
    // p05 of 1..100 = 5.95, p95 = 95.05 (linear interpolation)
    assert(w.min == 5.95 && w.max == 95.05)
    assert(w(49) == 50.0) // interior values untouched
  }

  test("winsorize/qcut approx: sketch bounds within rank error of exact") {
    // continuous-looking values where the exact percentile's state would
    // be the full distinct multiset — the regime approx=true is for
    val n = 2000
    val vals = (1 to n).map(i => (i * 2654435761L % 1000003L).toDouble)
    val v = Series.fromSeq(spark, vals, name = "v")
    val w = valuesOf(v.winsorize(0.05, 0.95, approx = true))
      .map(_.asInstanceOf[Double])
    val sorted = vals.sorted
    // f24-style bound: each approx clip bound is an actual element whose
    // RANK is within eps*n (= n/10000, so here ±1 rank + interpolation
    // slack) of the exact quantile rank
    def rankOf(x: Double) = sorted.count(_ <= x)
    assert(math.abs(rankOf(w.min) - 0.05 * n) <= 2,
      s"lo bound rank ${rankOf(w.min)} vs ${0.05 * n}")
    assert(math.abs(rankOf(w.max) - 0.95 * n) <= 2,
      s"hi bound rank ${rankOf(w.max)} vs ${0.95 * n}")
    assert(w(49) == vals(49)) // interior values untouched
    // qcut approx: every bin holds n/q rows within the same rank slack
    val bins = valuesOf(v.qcut(4, "raise", approx = true))
      .map(_.asInstanceOf[Int])
    val sizes = bins.groupBy(identity).view.mapValues(_.size)
    assert(sizes.keys.toSet == Set(0, 1, 2, 3))
    assert(sizes.values.forall(s => math.abs(s - n / 4) <= 2), sizes.toMap)
  }

  test("factorize codes by first appearance; nulls code -1") {
    val v = Series.fromSeq(spark,
      Seq("b", "a", null, "b", "c", "a"), name = "code")
    assert(valuesOf(v.factorize()) == Seq(0, 1, -1, 0, 2, 1))
  }

  test("byte entropy: uniform/empty/null edge cases match the formula") {
    import graft.functions.ByteEntropy
    val d = Seq(Some("aab"), Some("aaaa"), Some(""), None).toDF("t")
    val got = d.select(ByteEntropy.entropy(col("t"))).collect().map(r =>
      if (r.isNullAt(0)) null else r.getDouble(0)).toSeq
    assert(math.abs(got(0).asInstanceOf[Double] - 0.9182958340544893) < 1e-15)
    assert(got(1) == 0.0 && got(2) == 0.0 && got(3) == null)
  }

  test("rankNa places the null block top/bottom with average ranks") {
    val v = Series.fromSeq(spark,
      Seq[java.lang.Double](3.0, null, 1.0, 3.0), name = "v")
    // keep-ranks: 1.0 -> 1, {3.0, 3.0} -> 2.5; one null
    assert(valuesOf(v.rankNa("top")) == Seq(3.5, 1.0, 2.0, 3.5))
    assert(valuesOf(v.rankNa("bottom")) == Seq(2.5, 4.0, 1.0, 2.5))
  }

  test("nunique drops nulls; unique keeps them (pandas split semantics)") {
    val v = Series.fromPairs(spark,
      Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a")))
    assert(v.nunique() == 1L)
    assert(v.unique().count() == 2L)
  }

  // ---- partitioned (keyed) window variants: groupby(key).cumsum() & co ----

  private lazy val keyedDf = Seq(
    // (idx, key, value) — two groups interleaved by index
    (1L, "a", 10.0), (2L, "b", 100.0), (3L, "a", 20.0),
    (4L, "b", 200.0), (5L, "a", 30.0)).toDF("idx", "k", "v")
  private lazy val keyedSeries = Series.fromColumn(keyedDf, "v", "idx")

  test("cumsumBy accumulates within each group in index order") {
    assert(valuesOf(keyedSeries.cumsumBy(col("k")))
      == Seq(10.0, 100.0, 30.0, 300.0, 60.0))
  }

  test("shiftBy / diffBy lag within the group, null at group heads") {
    assert(valuesOf(keyedSeries.shiftBy(col("k")))
      == Seq(null, null, 10.0, 100.0, 20.0))
    assert(valuesOf(keyedSeries.diffBy(col("k")))
      == Seq(null, null, 10.0, 100.0, 10.0))
  }

  test("pctChangeBy divides within the group; rankBy ranks within the group") {
    assert(valuesOf(keyedSeries.pctChangeBy(col("k")))
      == Seq(null, null, 1.0, 1.0, 0.5))
    assert(valuesOf(keyedSeries.rankBy(col("k")))
      == Seq(1.0, 1.0, 2.0, 2.0, 3.0))
  }

  test("rollingMeanBy fills per group (min_periods=n within the group)") {
    assert(valuesOf(keyedSeries.rollingMeanBy(col("k"), 2))
      == Seq(null, null, 15.0, 150.0, 25.0))
    // equal weights == unweighted mean; keyed sibling fills per group
    assert(valuesOf(keyedSeries.rollingWeightedMeanBy(col("k"),
      Series.triangWeights(2))) == Seq(null, null, 15.0, 150.0, 25.0))
  }

  test("keyed windows partition, not globally order (plan has partitionBy)") {
    val plan = keyedSeries.cumsumBy(col("k")).df
      .queryExecution.optimizedPlan.toString
    // Window node must carry the partition spec — a global window would
    // execute on a single task at scale.
    assert(plan.contains("windowspecdefinition(k"), plan)
  }

  // -------------------- Series-vs-Series comparison masks --------------------

  test("same-base Series comparison masks filter without a join") {
    val df = Seq((1L, 5.0, 3.0), (2L, 1.0, 4.0), (3L, 7.0, 7.0))
      .toDF("idx", "x", "y")
    val x = Series.fromColumn(df, "x", "idx")
    val y = Series.fromColumn(df, "y", "idx")
    assert(valuesOf(x.mask(x > y)) == Seq(5.0))
    assert(valuesOf(x.mask(x <= y)) == Seq(1.0, 7.0))
    assert(valuesOf(x.mask(x === y)) == Seq(7.0))
    // no join in the plan: same-base comparisons compose into one scan
    val plan = x.mask(x > y).df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("cross-frame Series comparison aligns by index (pandas alignment)") {
    val a = Series.fromPairs(spark, Seq((1L, 5.0), (2L, 1.0)))
    val b = Series.fromPairs(spark, Seq((1L, 3.0), (3L, 9.0)))
    // full-outer alignment: idx 2 and 3 compare against null -> null mask
    val cmp = a > b
    assert(valuesOf(cmp) == Seq(true, null, null))
  }

  test("cumsumDistributed matches cumsum (two-pass prefix sum, no global window)") {
    val vals = (1 to 100).map(_.toDouble * 1.5)
    val s = Series.fromSeq(spark, vals, name = "v")
    val expect = vals.scanLeft(0.0)(_ + _).tail
    // more buckets than rows, exactly one bucket, and a mid value
    for (b <- Seq(1, 7, 256)) {
      val got = s.cumsumDistributed(buckets = b).df.orderBy("index")
        .collect().map(_.getDouble(1)).toSeq
      assert(got.zip(expect).forall { case (g, e) => math.abs(g - e) < 1e-9 },
        s"buckets=$b")
    }
    // integral values stay integral (Spark sum typing)
    val i = Series.fromSeq(spark, Seq(1L, 2L, 3L), name = "n")
    assert(i.cumsumDistributed(4).df.orderBy("index")
      .collect().map(_.getLong(1)).toSeq == Seq(1L, 3L, 6L))
    // plan has NO global-order window: every window carries the bucket key
    val plan = s.cumsumDistributed(8).df.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(__bkt"), plan)
  }

  test("idxmax/idxmin pick the smallest label on ties and skip nulls") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0))
      .toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    assert(s.idxmax() == 2L) // tie 9.0 at idx 2,3 -> first label
    assert(s.idxmin() == 4L)
    val withNull = Series.fromColumn(
      Seq((1L, Some(3.0)), (2L, None), (3L, Some(7.0)))
        .toDF("idx", "v"), "v", "idx")
    assert(withNull.idxmax() == 3L)
    assert(withNull.idxmin() == 1L) // null at idx 2 skipped
  }

  test("idxmax/idxmin return null on an empty or all-null Series (pandas NaN)") {
    val allNull = Series.fromPairs(spark, Seq(
      (1L, null.asInstanceOf[java.lang.Double]),
      (2L, null.asInstanceOf[java.lang.Double])))
    assert(allNull.idxmax() == null)
    assert(allNull.idxmin() == null)
  }

  test("RangeIndex derives start/stop/step from the index data (virtual)") {
    // ref: range_index.py:28 — repr computes start/stop from min/max
    val s = Series.fromSeq(spark, Seq(10.0, 20.0, 30.0))
    val ix = s.indexHandle
    assert(ix.start == 0L)
    assert(ix.stop == 3L) // exclusive, pandas-style
    assert(ix.step == 1L)
    // explicit (non-ordinal) index: bounds follow the data
    val p = Series.fromPairs(spark, Seq((5L, "a"), (9L, "b")))
    assert(p.indexHandle.bounds == (5L, 10L))
    // toString stays lazy — no action triggered
    assert(ix.toString == "RangeIndex(name=index)")
  }

  test("mapValues validates na_action like pandas") {
    val v = Series.fromSeq(spark, Seq("a", "b"))
    v.mapValues(Map("a" -> "x"), naAction = Some("ignore")) // fine
    intercept[IllegalArgumentException] {
      v.mapValues(Map("a" -> "x"), naAction = Some("bogus"))
    }
  }

  test("cut bins fixed-width, max lands in last bin, nulls stay null") {
    val df = Seq((0L, Some(0.0)), (1L, Some(2.5)), (2L, Some(5.0)),
      (3L, Some(7.5)), (4L, Some(10.0)), (5L, None))
      .toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val got = s.cut(4).df.orderBy("idx")
      .collect().map(r => if (r.isNullAt(1)) null else r.getInt(1)).toSeq
    // pandas cut(4) over [0,10]: edges 0,2.5,5,7.5,10 → right-closed bins
    // differ at interior edges; our floor convention puts 2.5 in bin 1,
    // 5.0 in bin 2 (left-closed), max clamped into bin 3. Null → null.
    assert(got == Seq(0, 1, 2, 3, 3, null))
    // constant column: everything in bin 0 (width 0 guard)
    val const = Series.fromSeq(spark, Seq(4.0, 4.0, 4.0))
    assert(const.cut(3).df.collect().map(_.getInt(1)).toSeq == Seq(0, 0, 0))
  }

  test("iloc slices by position; valueCounts(normalize) gives shares") {
    val s = Series.fromColumn(
      Seq((10L, "a"), (20L, "b"), (30L, "a"), (40L, "a")).toDF("idx", "v"),
      "v", "idx")
    assert(s.iloc(1, 3).df.orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((20L, "b"), (30L, "a")))
    assert(s.iloc(3, 99).df.count() == 1) // until past the end clips
    val shares = s.valueCounts(normalize = true).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(shares == Seq(("a", 0.75), ("b", 0.25)))
  }

  test("rolling sum/min/max/std honor min_periods like pandas (nulls gate)") {
    val df = Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, None),
      (4L, Some(4.0)), (5L, Some(5.0))).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    def vals(x: Series) = x.df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    // window of 2: frame with the null has only 1 observation → null
    assert(vals(s.rollingSum(2)) == Seq(null, 3.0, null, null, 9.0))
    assert(vals(s.rollingMax(2)) == Seq(null, 2.0, null, null, 5.0))
    assert(vals(s.rollingMin(2)) == Seq(null, 1.0, null, null, 4.0))
    val st = vals(s.rollingStd(2))
    assert(st(1) != null &&
      math.abs(st(1).asInstanceOf[Double] - math.sqrt(0.5)) < 1e-12)
  }

  test("ffill/bfill fill from last/next observation; keyed variants per group") {
    val df = Seq((1L, "a", Some(1.0)), (2L, "a", None), (3L, "a", Some(3.0)),
      (4L, "b", None), (5L, "b", Some(5.0)), (6L, "b", None))
      .toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    def vals(x: Series) = x.df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    assert(vals(s.ffill()) == Seq(1.0, 1.0, 3.0, 3.0, 5.0, 5.0))
    assert(vals(s.bfill()) == Seq(1.0, 3.0, 3.0, 5.0, 5.0, null))
    // keyed: fills never cross the group boundary
    assert(vals(s.ffillBy(col("g"))) == Seq(1.0, 1.0, 3.0, null, 5.0, 5.0))
    assert(vals(s.bfillBy(col("g"))) == Seq(1.0, 3.0, 3.0, 5.0, 5.0, null))
    // keyed plan shuffles on the key, not a single global sort
    val plan = s.ffillBy(col("g")).df.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(g"), plan)
  }

  test("corr/cov/mode: same-base exact, cross-frame aligns by label") {
    val df = Seq((1L, 1.0, 2.0), (2L, 2.0, 4.0), (3L, 3.0, 6.0),
      (4L, 4.0, 7.0)).toDF("idx", "x", "y")
    val x = Series.fromColumn(df, "x", "idx")
    val y = Series.fromColumn(df, "y", "idx")
    assert(math.abs(x.corr(y) - 0.9897782665572893) < 1e-12)
    assert(math.abs(x.cov(y) - 2.8333333333333335) < 1e-12)
    // cross-frame: shuffled labels — alignment must pair by label, not
    // position; aligned pairs are identical → corr 1
    val other = Seq((4L, 4.0), (2L, 2.0), (1L, 1.0), (3L, 3.0))
      .toDF("k", "v")
    val z = Series.fromColumn(other, "v", "k")
    assert(math.abs(x.corr(z) - 1.0) < 1e-12)
    // single pair → NaN like pandas
    val one = Series.fromColumn(Seq((1L, 5.0)).toDF("k", "v"), "v", "k")
    assert(x.corr(one).isNaN)
    // mode: smallest most-frequent
    val m = Series.fromSeq(spark, Seq(3.0, 1.0, 3.0, 1.0, 2.0))
    assert(m.mode() == 1.0)
  }

  test("explode fans out array values, keeps the index, nulls empties") {
    val df = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]),
      (3L, Seq("c"))).toDF("idx", "arr")
    val s = Series.fromColumn(df, "arr", "idx")
    val got = s.explode().df.orderBy("idx", "arr")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    // pandas: empty list explodes to one NaN row under the same label
    assert(got.toSeq == Seq((1L, "a"), (1L, "b"), (2L, null), (3L, "c")))
  }

  test("qcut quartiles match pandas labels on a permutation") {
    val vals = Seq(7.0, 1.0, 5.0, 3.0, 8.0, 2.0, 6.0, 4.0)
    val s = Series.fromSeq(spark, vals, name = "v")
    val got = s.qcut(4).df.orderBy("index")
      .collect().map(_.getInt(1)).toSeq
    // pandas qcut(vals, 4).codes for this permutation
    assert(got == Seq(3, 0, 2, 1, 3, 0, 2, 1))
  }

  test("duplicated flags later labels; dropDuplicates keeps the first") {
    val s = Series.fromPairs(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 10.0), (4L, 20.0), (5L, 30.0)),
      name = "v")
    val dup = s.duplicated().df.orderBy("index")
      .collect().map(_.getBoolean(1)).toSeq
    assert(dup == Seq(false, false, true, true, false))
    val kept = s.dropDuplicates().df.orderBy("index")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(kept == Seq((1L, 10.0), (2L, 20.0), (5L, 30.0)))
  }

  test("interpolateBy: linear interior, null leading, carried trailing") {
    // pandas: [nan, 1, nan, nan, 4, nan].interpolate() == [nan,1,2,3,4,4]
    val df = Seq[(Long, Long, Option[Double])](
      (0L, 1L, None), (1L, 1L, Some(1.0)), (2L, 1L, None),
      (3L, 1L, None), (4L, 1L, Some(4.0)), (5L, 1L, None))
      .toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val got = s.interpolateBy(df("g")).df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    assert(got == Seq(null, 1.0, 2.0, 3.0, 4.0, 4.0))
  }

  test("interpolateBy method='linear' is positional; 'index' weights by labels") {
    // one group, labels 0,1,10: the interior null at label 1 sits at
    // positional midpoint (linear -> 5.5) but only 1/10 along the label
    // gap (index -> 1.9) — pandas' two methods, exactly
    val df = Seq[(Long, Long, Option[Double])](
      (0L, 1L, Some(1.0)), (1L, 1L, None), (10L, 1L, Some(10.0)))
      .toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    def got(method: String) = s.interpolateBy(df("g"), method).df
      .orderBy("idx").collect().map(_.getDouble(1)).toSeq
    assert(got("linear") == Seq(1.0, 5.5, 10.0))
    assert(got("index") == Seq(1.0, 1.9, 10.0))
  }

  test("interpolate (global): linear interior, null leading, carried trailing") {
    // pandas: [nan, 1, nan, nan, 4, nan].interpolate() == [nan,1,2,3,4,4];
    // 6 labels over 32 buckets → every gap crosses bucket boundaries, so
    // this exercises the prev/next value+coordinate offset walks directly
    val df = Seq[(Long, Option[Double])](
      (0L, None), (1L, Some(1.0)), (2L, None),
      (3L, None), (4L, Some(4.0)), (5L, None)).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val got = s.interpolate().df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    assert(got == Seq(null, 1.0, 2.0, 3.0, 4.0, 4.0))
  }

  test("interpolate (global): method='linear' positional vs 'index' labels") {
    // labels 0,1,10 — linear: positional midpoint 5.5; index: 1/10 along
    // the label gap = 1.9 (pandas' two methods)
    val df = Seq[(Long, Option[Double])](
      (0L, Some(1.0)), (1L, None), (10L, Some(10.0))).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    def got(method: String) = s.interpolate(method).df
      .orderBy("idx").collect().map(_.getDouble(1)).toSeq
    assert(got("linear") == Seq(1.0, 5.5, 10.0))
    assert(got("index") == Seq(1.0, 1.9, 10.0))
  }

  test("interpolate (global): method='nearest' snaps to the closer " +
      "anchor, midpoint ties take the previous") {
    val df = Seq[(Long, Option[Double])](
      (0L, Some(1.0)), (1L, None), (5L, None), (10L, Some(10.0)),
      (12L, None)).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val got = s.interpolate("nearest").df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    // idx 1: |1-0|=1 < |10-1|=9 -> 1.0; idx 5: |5-0|=5 = |10-5|=5 tie ->
    // previous 1.0; idx 12: trailing -> forward carry 10.0
    assert(got == Seq(1.0, 1.0, 1.0, 10.0, 10.0))
  }

  test("interpolate (global): limit=1 + limit_direction='both' (pandas)") {
    // pandas [nan,nan,1,nan,nan,nan,5,nan,nan]
    //   .interpolate(limit=1, limit_direction='both')
    //   == [nan, 1, 1, 2, nan, 4, 5, 5, nan]
    val df = (0L to 8L).map(i => (i, i match {
      case 2L => Some(1.0); case 6L => Some(5.0); case _ => None
    })).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val got = s.interpolate("linear", Some(1), "both").df.orderBy("idx")
      .collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    assert(got == Seq(null, 1.0, 1.0, 2.0, null, 4.0, 5.0, 5.0, null))
  }

  test("interpolate (global) matches the sequential reference on 200 rows") {
    val rng = new scala.util.Random(7)
    val data = (0 until 200).map { i =>
      (i.toLong * 3, if (rng.nextDouble() < 0.3) None
        else Some(math.rint(rng.nextDouble() * 1000) / 10.0))
    }
    val s = Series.fromColumn(data.toDF("idx", "v"), "v", "idx")
    val got = s.interpolate().df.orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    // sequential reference: positional linear, forward edges
    val vs = data.map(_._2)
    val exp = vs.zipWithIndex.map {
      case (Some(v), _) => v: Any
      case (None, i) =>
        val p = (i - 1 to 0 by -1).find(j => vs(j).isDefined)
        val n = (i + 1 until vs.length).find(j => vs(j).isDefined)
        (p, n) match {
          case (Some(pi), Some(ni)) =>
            val pv = vs(pi).get; val nv = vs(ni).get
            pv + (nv - pv) * (i - pi).toDouble / (ni - pi).toDouble
          case (Some(pi), None) => vs(pi).get
          case _ => null
        }
    }
    got.zip(exp).foreach {
      case (null, e) => assert(e == null)
      case (g: Double, e: Double) => assert(math.abs(g - e) < 1e-9)
      case other => fail(s"unexpected $other")
    }
    // and the plan must be bucket-partitioned, never a single-task window
    val plan = s.interpolate().df.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(") ||
      plan.contains("windowspecdefinition(__bkt"))
  }

  test("cumprod: sign parity, zero short-circuit, null passthrough (pandas)") {
    // pandas [2,-3,nan,4,0,5,-1].cumprod() == [2,-6,nan,-24,0,0,0]
    val v = Series.fromPairs(spark,
      Seq((0L, java.lang.Double.valueOf(2.0)), (1L, java.lang.Double.valueOf(-3.0)),
        (2L, null.asInstanceOf[java.lang.Double]), (3L, java.lang.Double.valueOf(4.0)),
        (4L, java.lang.Double.valueOf(0.0)), (5L, java.lang.Double.valueOf(5.0)),
        (6L, java.lang.Double.valueOf(-1.0))))
    val got = v.cumprod().df.orderBy("index").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    val exp = Seq(2.0, -6.0, null, -24.0, 0.0, 0.0, 0.0)
    got.zip(exp).foreach {
      case (null, e) => assert(e == null)
      case (g: Double, e: Double) => assert(math.abs(g - e) < 1e-9)
      case other => fail(s"unexpected $other")
    }
  }

  test("cumprod distributes exactly across bucket boundaries") {
    // 100 rows over many buckets: log-domain fold + parity offsets must
    // reproduce the sequential product to float tolerance
    val data = (1 to 100).map(i => (if (i % 3 == 0) -1.0 else 1.0) * (1.0 + i / 1e4))
    val s = Series.fromSeq(spark, data, name = "v")
    val got = s.cumprod().df.orderBy("index").collect().map(_.getDouble(1))
    var p = 1.0
    val exp = data.map { x => p *= x; p }
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("string-indexed global windows run bucketed and match sequential") {
    // shared prefix stresses the common-prefix-stripping coordinate; the
    // plan must contain no single-task global window (also enforced
    // suite-wide by PlanLintSpec for the s52 gate)
    val rows = (1 to 500).map(i => (f"user#$i%04d", i.toDouble))
    val df = rows.toDF("k", "v")
    val s = Series.fromColumn(df, "v", "k")
    val cs = s.cumsum().df.orderBy("k").collect().map(_.getDouble(1)).toSeq
    val exp = rows.sortBy(_._1).map(_._2).scanLeft(0.0)(_ + _).tail
    cs.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-6) }
    val plan = s.cumsum().df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(__bkt"))
    // carry rows must cross string-bucket boundaries too
    val sh = s.shift(1).df.orderBy("k").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    val expSh = null +: rows.sortBy(_._1).map(_._2).init.map(v => v: Any)
    assert(sh == expSh)
  }

  test("cummax/cummin fold strings across buckets in Spark's UTF-8 order") {
    // U+FF21 sorts after U+1F600 by UTF-16 code unit (java.lang.String)
    // but before it by UTF-8 byte (Spark's UTF8String); every value sits
    // in its own bucket, so only the cross-bucket fold of the per-bucket
    // maxima and minima compares them
    val wide = "\uFF21"; val emoji = "\uD83D\uDE00"
    val upTo = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
      .rowsBetween(Long.MinValue, 0L)
    def check(vals: Seq[String], op: Series => Series,
        ref: Column => Column): Unit = {
      val df = vals.zipWithIndex.map { case (v, i) => (i * 10L, v) }
        .toDF("k", "v")
      val got = op(Series.fromColumn(df, "v", "k")).df.orderBy("k")
        .collect().map(_.getString(1)).toSeq
      val exp = df.select(col("k"), ref(col("v")).over(upTo)).orderBy("k")
        .collect().map(_.getString(1)).toSeq
      assert(got == exp)
    }
    check(Seq(emoji, wide, "a"), _.cummax(), max(_))
    check(Seq(wide, emoji, emoji + "x"), _.cummin(), min(_))
    Caches.clear()
  }

  /** (index as text, value) rows, sorted: a multiset compare that also
    * holds for repeated index labels whose rows share one value. */
  private def renderKey(k: Any): String = k match {
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => String.valueOf(other)
  }
  private def keyedDoubles(rows: Seq[(Any, Option[Double])])
      : Seq[(String, Option[Double])] =
    rows.map { case (k, v) => renderKey(k) -> v }
      .sortBy { case (k, v) => (k, v.map(_.toString).getOrElse("")) }
  private def keyedDoubles(df: org.apache.spark.sql.DataFrame)
      : Seq[(String, Option[Double])] =
    keyedDoubles(df.collect().toSeq.map(r => r.get(0) ->
      (if (r.isNullAt(1)) None else Some(r.getAs[Number](1).doubleValue))))
  private def assertClose(got: Seq[(String, Option[Double])],
      exp: Seq[(String, Option[Double])], what: String): Unit = {
    assert(got.map(_._1) == exp.map(_._1), what)
    got.zip(exp).foreach { case ((_, g), (_, e)) => (g, e) match {
      case (None, None) =>
      case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"$what: $a vs $b")
      case _ => fail(s"$what: $g vs $e")
    } }
  }

  /** The global-order window family over `df`'s (k, v) matches Spark's
    * plain ordered window over k. `coordinate`: whether k's dtype has a
    * bucketing coordinate, which 'index'/'nearest' interpolation needs. */
  private def checkOrderedWindowOps(kind: String,
      df: org.apache.spark.sql.DataFrame, coordinate: Boolean): Unit = {
    import org.apache.spark.sql.expressions.Window
    val W = Window.orderBy(col("k"))
    val upTo = W.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = Series.fromColumn(df, "v", "k")
    val v = col("v")
    def check(op: String, got: Series, exp: Column): Unit =
      assertClose(keyedDoubles(got.df), keyedDoubles(df.select(col("k"), exp)),
        s"$kind $op")
    val prev = lag(v, 1).over(W)
    val r3 = W.rowsBetween(-2, 0)
    val c3 = W.rowsBetween(-1, 1)
    check("cumsum", s.cumsum(), sum(v).over(upTo))
    check("cummax", s.cummax(), max(v).over(upTo))
    check("shift(2)", s.shift(2), lag(v, 2).over(W))
    check("shift(-1)", s.shift(-1), lead(v, 1).over(W))
    check("diff(1)", s.diff(1), v - prev)
    check("pctChange(1)", s.pctChange(1), try_divide(v - prev, prev))
    check("rollingMean(3)", s.rollingMean(3),
      when(count(v).over(r3) === 3, avg(v).over(r3)))
    check("rollingMeanCentered(3)", s.rollingMeanCentered(3),
      when(count(v).over(c3) === 3, avg(v).over(c3)))
    check("ffill", s.ffill(), last(v, ignoreNulls = true).over(upTo))
    check("bfill", s.bfill(), first(v, ignoreNulls = true)
      .over(W.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    assertClose(keyedDoubles(s.iloc(1, 4).df),
      keyedDoubles(df.withColumn("p", row_number().over(W) - 1)
        .filter(col("p") >= 1 && col("p") < 4).select("k", "v")),
      s"$kind iloc(1, 4)")
    // linear interpolation over row positions, computed sequentially
    val ordered = df.orderBy("k").collect().toSeq
      .map(r => r.get(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    val vs = ordered.map(_._2)
    val lin = vs.indices.map { i =>
      vs(i).orElse {
        val p = (i - 1 to 0 by -1).find(vs(_).isDefined)
        val n = (i + 1 until vs.length).find(vs(_).isDefined)
        (p, n) match {
          case (Some(a), Some(b)) =>
            Some(vs(a).get + (vs(b).get - vs(a).get) * (i - a) / (b - a))
          case (Some(a), None) => vs(a)
          case _ => None
        }
      }
    }
    assertClose(keyedDoubles(s.interpolate("linear").df),
      keyedDoubles(ordered.map(_._1).zip(lin)), s"$kind interpolate")
    // 'index'/'nearest' interpolate along the index coordinate
    if (!coordinate)
      for (m <- Seq("index", "nearest"))
        intercept[IllegalArgumentException](s.interpolate(method = m))
    Caches.clear()
  }

  test("indexes with no bucketing coordinate run as one ordered bucket") {
    // boolean labels repeat, so each label's rows share one value and any
    // order of the ties gives the same rows
    val boolDf = Seq[(Option[Boolean], Option[Double])](
      (None, Some(1.0)), (None, Some(1.0)), (Some(false), None),
      (Some(false), None), (Some(false), None), (Some(true), Some(4.0)),
      (Some(true), Some(4.0)), (Some(true), Some(4.0))).toDF("k", "v")
    checkOrderedWindowOps("boolean", boolDf, coordinate = false)
  }

  test("binary indexes bucket by the byte coordinate and match the ordered window") {
    // unique labels with bytes >= 0x80 (Spark orders binary as unsigned
    // bytes), spread over many buckets
    val binDf = (0 until 40).map { i =>
      (Array(((i * 37) % 256).toByte, i.toByte),
        if (i % 5 == 2) None else Some(i * 1.5))
    }.toDF("k", "v")
    val bkts = binDf.select(graft.core.GlobalWindows.bucketing(binDf, "k", 32)._1)
      .distinct().count()
    assert(bkts > 1, s"binary labels spread over $bkts bucket(s)")
    checkOrderedWindowOps("binary", binDf, coordinate = true)
  }

  test("global-order window ops stay under their job-count ceilings") {
    val df = (0 until 2000).map(i => (i.toLong, (i % 97).toDouble))
      .toDF("k", "v")
    val s = Series.fromColumn(df, "v", "k")
    val got = Seq(
      "cumsum" -> jobsOf(s.cumsum().sum()),
      "shift(2)" -> jobsOf(s.shift(2).sum()),
      "shift(-1)" -> jobsOf(s.shift(-1).sum()),
      "rollingMean(5)" -> jobsOf(s.rollingMean(5).sum()),
      "ewm(0.3).mean()" -> jobsOf(s.ewm(0.3).mean().sum()))
    Caches.clear()
    info(got.map { case (op, n) => s"$op=$n" }.mkString(" "))
    // each op's measured count on this fixture: one more job fails here
    val ceiling = Map("cumsum" -> 9, "shift(2)" -> 7, "shift(-1)" -> 7,
      "rollingMean(5)" -> 7, "ewm(0.3).mean()" -> 9)
    for ((op, n) <- got)
      assert(n <= ceiling(op), s"$op ran $n jobs, ceiling ${ceiling(op)}")
  }

  test("rank methods match pandas tie semantics") {
    // values [3,1,3,2,1,3]: min [4,1,4,3,1,4] max [6,2,6,3,2,6]
    // average [5,1.5,5,3,1.5,5] dense [3,1,3,2,1,3] first [4,1,5,3,2,6]
    val v = Series.fromPairs(spark,
      Seq((0L, 3.0), (1L, 1.0), (2L, 3.0), (3L, 2.0), (4L, 1.0), (5L, 3.0)))
    def got(m: String) = valuesOf(v.rank(m))
    assert(got("min") == Seq(4.0, 1.0, 4.0, 3.0, 1.0, 4.0))
    assert(got("max") == Seq(6.0, 2.0, 6.0, 3.0, 2.0, 6.0))
    assert(got("average") == Seq(5.0, 1.5, 5.0, 3.0, 1.5, 5.0))
    assert(got("dense") == Seq(3.0, 1.0, 3.0, 2.0, 1.0, 3.0))
    assert(got("first") == Seq(4.0, 1.0, 5.0, 3.0, 2.0, 6.0))
  }

  test("ewm mean/var match the sequential pandas recurrence, nulls included") {
    // 200 rows across many buckets, a null every 13th: the bucketed
    // carry fold must reproduce the exact sequential recurrence
    // (adjust=True, ignore_na=False: decay counts every row)
    val alpha = 0.2; val w = 1 - alpha
    val data: Seq[Option[Double]] = (0 until 200).map(i =>
      if (i % 13 == 5) None else Some(math.sin(i) * 10 + i / 7.0))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v")
    val got = Series.fromColumn(df, "v", "idx").ewm(alpha).stats
      .orderBy("idx").collect()
      .map(r => (if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    var num = 0.0; var den = 0.0; var num2 = 0.0; var den2 = 0.0
    val exp = data.map { v =>
      num *= w; den *= w; num2 *= w; den2 *= w * w
      v.foreach { x => num += x; den += 1; num2 += x * x; den2 += 1 }
      val m = if (den > 0) num / den else Double.NaN
      val dd = den * den - den2
      val vr = if (den > 0 && dd > 0) (num2 / den - m * m) * den * den / dd
        else Double.NaN
      (m, vr)
    }
    got.zip(exp).foreach { case ((gm, gv), (em, ev)) =>
      assert(math.abs(gm.asInstanceOf[Double] - em) < 1e-9)
      if (ev.isNaN) assert(gv == null)
      else assert(math.abs(gv.asInstanceOf[Double] - ev) < 1e-9)
    }
  }

  test("ewm: leading nulls stay null until the first observation") {
    val df = Seq[(Long, Option[Double])](
      (0L, None), (1L, None), (2L, Some(3.0)), (3L, None), (4L, Some(5.0)))
      .toDF("idx", "v")
    val got = Series.fromColumn(df, "v", "idx").ewm(0.5).mean().df
      .orderBy("idx").collect()
      .map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
    // at idx 3 the running mean carries (num and den scale equally);
    // idx 4: (5 + 0.25*3)/(1 + 0.25) = 4.6
    assert(got == Seq(null, null, 3.0, 3.0, 4.6))
  }

  test("ewmStatsBy runs each group's recurrence independently") {
    // two interleaved groups; each must match its own sequential fold
    val alpha = 0.3; val w = 1 - alpha
    val rows = (0 until 60).map(i => (i.toLong, i % 2L, math.cos(i) * 5 + i))
    val df = rows.toDF("idx", "g", "v")
    val got = Series.fromColumn(df, "v", "idx").ewmStatsBy(df("g"), alpha)
      .orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    Seq(0L, 1L).foreach { g =>
      var num = 0.0; var den = 0.0
      rows.filter(_._2 == g).foreach { case (i, _, x) =>
        num = x + w * num; den = 1 + w * den
        assert(math.abs(got(i) - num / den) < 1e-9, s"idx $i group $g")
      }
    }
  }

  // sequential pandas ewm reference: general (adjust, ignore_na) weights —
  // first observation enters at weight 1 always; later ones at α when
  // adjust=False; decay skips null rows when ignore_na=True
  private def ewmRef(data: Seq[Option[Double]], alpha: Double,
      adjust: Boolean, ignoreNa: Boolean): Seq[(Double, Double)] = {
    val w = 1 - alpha
    var num = 0.0; var den = 0.0; var num2 = 0.0; var den2 = 0.0
    var seen = false
    data.map { v =>
      if (!ignoreNa || v.isDefined) {
        num *= w; den *= w; num2 *= w; den2 *= w * w
      }
      v.foreach { x =>
        val ew = if (adjust || !seen) 1.0 else alpha
        num += ew * x; den += ew; num2 += ew * x * x; den2 += ew * ew
        seen = true
      }
      val m = if (den > 0) num / den else Double.NaN
      val dd = den * den - den2
      val vr = if (den > 0 && dd > 0) (num2 / den - m * m) * den * den / dd
        else Double.NaN
      (m, vr)
    }
  }

  test("ewm adjust=False / ignore_na=True variants match the pandas recurrence") {
    val alpha = 0.2
    val data: Seq[Option[Double]] = (0 until 200).map(i =>
      if (i % 13 == 5) None else Some(math.sin(i) * 10 + i / 7.0))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    for ((adj, ina) <- Seq((false, false), (true, true), (false, true))) {
      val got = s.ewm(alpha, adjust = adj, ignoreNa = ina).stats
        .orderBy("idx").collect()
        .map(r => (if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
      got.zip(ewmRef(data, alpha, adj, ina)).zipWithIndex.foreach {
        case (((gm, gv), (em, ev)), i) =>
          assert(math.abs(gm.asInstanceOf[Double] - em) < 1e-9,
            s"mean@$i adjust=$adj ignoreNa=$ina")
          if (ev.isNaN) assert(gv == null, s"var-null@$i")
          else assert(math.abs(gv.asInstanceOf[Double] - ev) < 1e-9,
            s"var@$i adjust=$adj ignoreNa=$ina")
      }
    }
  }

  test("ewm adjust=False hand case: pandas doc example weights") {
    // [1, None, 2] α=0.5: adjust=False ignore_na=False →
    // ((1-α)² · 1 + α · 2)/((1-α)² + α) = (0.25 + 1)/0.75... = 5/3? no:
    // (0.25·1 + 0.5·2)/(0.25 + 0.5) = 1.25/0.75 = 5/3; ignore_na=True →
    // ((1-α)·1 + α·2)/1 = 1.5
    val df = Seq[(Long, Option[Double])](
      (0L, Some(1.0)), (1L, None), (2L, Some(2.0))).toDF("idx", "v")
    val s = Series.fromColumn(df, "v", "idx")
    def meanAt2(adj: Boolean, ina: Boolean): Double =
      s.ewm(0.5, adjust = adj, ignoreNa = ina).mean().df
        .orderBy("idx").collect().last.getDouble(1)
    assert(math.abs(meanAt2(adj = false, ina = false) - 5.0 / 3.0) < 1e-12)
    assert(math.abs(meanAt2(adj = false, ina = true) - 1.5) < 1e-12)
    assert(math.abs(meanAt2(adj = true, ina = true) - 5.0 / 3.0) < 1e-12)
  }

  test("ewm span/com/halflife map to pandas alphas") {
    val s = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0))
    // span=9 → α=0.2; com=4 → α=0.2; halflife → α=1−exp(−ln2/h)
    val bySpan = s.ewmSpan(9.0).mean().df.orderBy("index").collect()
      .map(_.getDouble(1)).toSeq
    val byCom = s.ewmCom(4.0).mean().df.orderBy("index").collect()
      .map(_.getDouble(1)).toSeq
    val byAlpha = s.ewm(0.2).mean().df.orderBy("index").collect()
      .map(_.getDouble(1)).toSeq
    assert(bySpan == byAlpha && byCom == byAlpha)
    val hl = s.ewmHalflife(1.0).mean().df.orderBy("index").collect()
      .map(_.getDouble(1)).toSeq
    val byHalf = s.ewm(0.5).mean().df.orderBy("index").collect()
      .map(_.getDouble(1)).toSeq
    hl.zip(byHalf).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("ewmStatsBy adjust=False runs the keyed recurrence per group") {
    val alpha = 0.3
    val rows = (0 until 60).map(i =>
      (i.toLong, i % 2L,
        if (i % 11 == 7) None else Some(math.cos(i) * 5 + i)))
    val df = rows.map { case (i, g, v) => (i, g, v) }.toDF("idx", "g", "v")
    val got = Series.fromColumn(df, "v", "idx")
      .ewmStatsBy(df("g"), alpha, adjust = false)
      .orderBy("idx").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getDouble(2)))
      .toMap
    Seq(0L, 1L).foreach { g =>
      val series = rows.filter(_._2 == g)
      val ref = ewmRef(series.map(_._3), alpha, adjust = false,
        ignoreNa = false)
      series.zip(ref).foreach { case ((i, _, _), (em, _)) =>
        assert(math.abs(got(i).asInstanceOf[Double] - em) < 1e-9,
          s"idx $i group $g")
      }
    }
  }

  // 200 rows, x null every 13th and y null every 11th: the null-bearing
  // fixture of the keyed-vs-global ewm identity tests
  private def ewmNullFixture: org.apache.spark.sql.DataFrame =
    (0 until 200).map { i =>
      (i.toLong, if (i % 13 == 5) None else Some(math.sin(i) * 10 + i / 7.0),
        if (i % 11 == 4) None else Some(math.cos(i * 0.7) * 3 - i / 50.0))
    }.toDF("idx", "x", "y")

  private def doublesOf(d: org.apache.spark.sql.DataFrame,
      cols: String*): Seq[Seq[Option[Double]]] =
    d.orderBy("idx").select(cols.map(col): _*).collect().toSeq.map(r =>
      cols.indices.map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))

  private def assertWithin(got: Seq[Seq[Option[Double]]],
      exp: Seq[Seq[Option[Double]]], what: String): Unit = {
    assert(got.length == exp.length, what)
    for (((g, e), i) <- got.zip(exp).zipWithIndex; (gv, ev) <- g.zip(e))
      (gv, ev) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) < 1e-9, s"$what@$i: $a vs $b")
        case _ => assert(gv == ev, s"$what@$i: $gv vs $ev")
      }
  }

  test("keyed ewm mean/var on one key is the bucketed global ewm") {
    val df = ewmNullFixture
    val s = Series.fromColumn(df, "x", "idx")
    for (adj <- Seq(true, false); ina <- Seq(false, true)) {
      val keyed = s.ewmStatsBy(lit(0), 0.2, adjust = adj, ignoreNa = ina)
      val global = s.ewm(0.2, buckets = 8, adjust = adj, ignoreNa = ina).stats
      assertWithin(doublesOf(keyed, "ewm_mean", "ewm_var"),
        doublesOf(global, "ewm_mean", "ewm_var"),
        s"adjust=$adj ignoreNa=$ina")
    }
    Caches.clear()
  }

  test("keyed ewm cov/corr on one key is the bucketed global ewm") {
    val df = ewmNullFixture
    val x = Series.fromColumn(df, "x", "idx")
    val y = Series.fromColumn(df, "y", "idx")
    for (ina <- Seq(false, true)) {
      val keyed = x.ewmPairStatsBy(lit(0), y, 0.2, ignoreNa = ina)
      val global = x.ewmPairStats(y, 0.2, ignoreNa = ina)
      assertWithin(doublesOf(keyed, "ewm_cov", "ewm_corr"),
        doublesOf(global, "ewm_cov", "ewm_corr"), s"ignoreNa=$ina")
    }
    Caches.clear()
  }

  test("rollingMeanCentered centers the frame (pandas center=True)") {
    val v = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // n=3: frame [-1, +1]; edges lack a neighbor -> null (min_periods=n)
    assert(valuesOf(v.rollingMeanCentered(3)) ==
      Seq(null, 2.0, 3.0, 4.0, null))
  }

  test("combineFirst patches nulls and unions absent labels (pandas)") {
    val a = Series.fromPairs(spark, Seq(
      (1L, java.lang.Double.valueOf(10.0)),
      (2L, null.asInstanceOf[java.lang.Double])))
    val b = Series.fromPairs(spark, Seq(
      (2L, java.lang.Double.valueOf(20.0)),
      (3L, java.lang.Double.valueOf(30.0))))
    val got = a.combineFirst(b).df.orderBy("index").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("betweenTime wraps overnight and atTime matches exactly (pandas)") {
    val df = Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 08:30:00"), 1.0),
      (java.sql.Timestamp.valueOf("2026-01-01 12:00:00"), 2.0),
      (java.sql.Timestamp.valueOf("2026-01-01 23:30:00"), 3.0),
      (java.sql.Timestamp.valueOf("2026-01-02 01:00:00"), 4.0))
      .toDF("ts", "v")
    val s = Series.fromColumn(df, "v", "ts")
    assert(s.betweenTime("09:00", "13:00").df.collect().map(_.getDouble(1))
      .toSeq == Seq(2.0))
    // overnight wrap: 22:00 -> 02:00 keeps the two night rows
    assert(s.betweenTime("22:00", "02:00").df.orderBy("ts").collect()
      .map(_.getDouble(1)).toSeq == Seq(3.0, 4.0))
    assert(s.atTime("12:00").df.collect().map(_.getDouble(1)).toSeq
      == Seq(2.0))
  }

  test("rankPct scales ranks by the non-null count (pandas pct=True)") {
    val v = Series.fromSeq(spark, Seq(30.0, 10.0, 20.0, 40.0))
    assert(valuesOf(v.rankPct()) == Seq(0.75, 0.25, 0.5, 1.0))
  }

  test("asofJoin allowExactMatches=false excludes equal timestamps") {
    val left = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"),
      100L)).toDF("k", "ts", "id")
    val right = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), 200L, 9.0),
      (1L, java.sql.Timestamp.valueOf("2026-01-01 09:00:00"), 201L, 7.0))
      .toDF("k", "ts", "id", "x")
    import graft.ops.EventOps
    val strict = EventOps.asofJoin(left, right, "k", "ts", "id", Seq("x"),
      allowExactMatches = false).select("asof_x").head()
    assert(strict.getDouble(0) == 7.0) // equal-ts 9.0 excluded
    val incl = EventOps.asofJoin(left, right, "k", "ts", "id", Seq("x"))
      .select("asof_x").head()
    assert(incl.getDouble(0) == 9.0)
  }

  test("cumprodBy multiplies within each group, zero pins the tail") {
    // group 1: [2, -3, 4] -> [2, -6, -24]; group 2: [5, 0, 7] -> [5, 0, 0]
    val df = Seq((0L, 1L, 2.0), (1L, 2L, 5.0), (2L, 1L, -3.0),
      (3L, 2L, 0.0), (4L, 1L, 4.0), (5L, 2L, 7.0)).toDF("idx", "g", "v")
    val got = Series.fromColumn(df, "v", "idx").cumprodBy(df("g")).df
      .orderBy("idx").collect().map(_.getDouble(1)).toSeq
    val exp = Seq(2.0, 5.0, -6.0, 0.0, -24.0, 0.0)
    got.zip(exp).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("rollingMedian/quantile interpolate like pandas, null until filled") {
    val v = Series.fromSeq(spark, Seq(5.0, 1.0, 4.0, 2.0, 3.0))
    val med = valuesOf(v.rollingMedian(3))
    assert(med == Seq(null, null, 4.0, 2.0, 3.0))
    // rolling(2).quantile(0.5) = midpoint of each adjacent pair
    val q = valuesOf(v.rollingQuantile(2, 0.5))
    assert(q == Seq(null, 3.0, 2.5, 3.0, 2.5))
  }

  test("expandingStats match sequential mean/std, nulls skipped") {
    val data: Seq[Option[Double]] =
      Seq(Some(2.0), None, Some(4.0), Some(6.0), Some(8.0))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("idx", "v")
    val got = Series.fromColumn(df, "v", "idx").expandingStats()
      .orderBy("idx").collect()
      .map(r => (if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    def near(a: Any, b: Double) = math.abs(a.asInstanceOf[Double] - b) < 1e-9
    assert(near(got(0)._1, 2.0) && got(0)._2 == null)
    assert(near(got(1)._1, 2.0) && got(1)._2 == null) // null row: unchanged
    assert(near(got(2)._1, 3.0) && near(got(2)._2, math.sqrt(2.0)))
    assert(near(got(3)._1, 4.0) && near(got(3)._2, 2.0))
    assert(near(got(4)._1, 5.0) && near(got(4)._2, math.sqrt(20.0 / 3)))
  }

  test("expandingQuantileApprox: per-row rank error within eps of exact") {
    // deterministic pseudo-random walk across many distinct doubles, with
    // enough rows that the 32 range buckets are all non-trivial and the
    // cross-bucket prefix sketch merge actually engages
    val n = 3000
    val vals = (1 to n).map(i => (i * 48271L % 99991L).toDouble)
    val s = Series.fromSeq(spark, vals, name = "v")
    val eps = 0.01
    val got = s.expandingQuantileApprox(0.5, relativeError = eps)
      .df.orderBy("index").collect().map(_.getDouble(1))
    assert(got.length == n)
    // GK guarantee, per row over that row's own prefix: the returned
    // element's rank in the prefix is within eps * prefixLen of the
    // target rank (plus 1 for discreteness)
    var worst = 0.0
    (1 to n).foreach { i =>
      val prefix = vals.take(i).sorted
      val target = 0.5 * i
      val lo = prefix.count(_ < got(i - 1))   // rank range of the element
      val hi = prefix.count(_ <= got(i - 1))
      val err = // distance from target rank to the element's rank interval
        if (target < lo) lo - target else if (target > hi) target - hi
        else 0.0
      worst = math.max(worst, err / i)
      assert(err <= eps * i + 1,
        s"row $i: rank err $err > ${eps * i + 1} (got ${got(i - 1)})")
    }
    info(f"expandingQuantileApprox worst relative rank error: $worst%.4f")
    // the sketch answers are actual prefix ELEMENTS (GK returns samples)
    assert((1 to n).forall(i => vals.take(i).contains(got(i - 1))))
  }

  test("str.extract captures group 1, null on no match (pandas NaN)") {
    val v = Series.fromSeq(spark, Seq("id=42", "id=7x", "nope"))
    assert(valuesOf(v.str.extract("id=(\\d+)")) == Seq("42", "7", null))
  }

  test("rankBy methods rank within groups with pandas tie semantics") {
    // group 1 values [3,1,3]: min [2,1,2] max [3,1,3] dense [2,1,2]
    val v = Series.fromPairs(spark,
      Seq((0L, 3.0), (1L, 1.0), (2L, 3.0), (3L, 5.0)))
    val g = when(col("index") < 3, 1L).otherwise(2L)
    assert(valuesOf(v.rankBy(g, "min")) == Seq(2.0, 1.0, 2.0, 1.0))
    assert(valuesOf(v.rankBy(g, "max")) == Seq(3.0, 1.0, 3.0, 1.0))
    assert(valuesOf(v.rankBy(g, "dense")) == Seq(2.0, 1.0, 2.0, 1.0))
    assert(valuesOf(v.rankBy(g, "first")) == Seq(2.0, 1.0, 3.0, 1.0))
    assert(valuesOf(v.rankBy(g)) == Seq(2.5, 1.0, 2.5, 1.0))
  }

  test("resample truncates the index to bucket starts and aggregates") {
    import java.sql.Timestamp
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val df = Seq((ts(1, 10), 1.0), (ts(1, 50), 2.0), (ts(3, 5), 4.0))
      .toDF("t", "v")
    val r = Series.fromColumn(df, "v", "t")
      .resample("HOUR", org.apache.spark.sql.functions.sum(_))
    val got = r.df.orderBy("t").collect()
      .map(x => (x.getTimestamp(0), x.getDouble(1))).toSeq
    assert(got == Seq((ts(1, 0), 3.0), (ts(3, 0), 4.0)))
  }

  test("nlargestBy takes per-group top-k through a WindowGroupLimit heap") {
    val df = Seq((0L, 1L, 5.0), (1L, 1L, 9.0), (2L, 1L, 7.0), (3L, 1L, 1.0),
      (4L, 2L, 3.0), (5L, 2L, 8.0)).toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val top = s.nlargestBy(df("g"), 2)
    val got = top.df.orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 9.0), (2L, 7.0), (4L, 3.0), (5L, 8.0)))
    assert(valuesOf(s.nsmallestBy(df("g"), 1)) == Seq(1.0, 3.0))
    // the rank predicate must trigger the per-partition top-k rewrite
    val plan = top.df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("cumcountBy / ngroupBy: arrival ordinal and sorted-group ordinal") {
    val df = Seq((0L, 20L, 1.0), (1L, 10L, 2.0), (2L, 20L, 3.0),
      (3L, 10L, 4.0), (4L, 30L, 5.0)).toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val cc = s.cumcountBy(df("g")).df.orderBy("idx").collect()
      .map(_.getLong(1)).toSeq
    assert(cc == Seq(0L, 0L, 1L, 1L, 0L))
    val ng = s.ngroupBy(df("g")).df.orderBy("idx").collect()
      .map(_.getLong(1)).toSeq
    assert(ng == Seq(1L, 0L, 1L, 0L, 2L)) // groups sorted by key: 10,20,30
  }

  /** Window nodes with no partitionBy in `d`'s optimized plan: each runs
    * the whole frame on one task. */
  private def unpartitionedWindows(d: org.apache.spark.sql.DataFrame): Int =
    d.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.size

  test("string-valued rank buckets and ranks like the ordered window") {
    import org.apache.spark.sql.expressions.Window
    // 60 distinct labels behind a shared prefix, each tied five times,
    // plus null values, which rank null and shift no real rank
    val df = (0 until 300).map { i =>
      (i.toLong, if (i % 37 == 3) None else Some(f"user#${(i * 7) % 60}%03d"))
    }.toDF("idx", "v")
    val bkts = df.filter(col("v").isNotNull)
      .select(graft.core.GlobalWindows.bucketing(df, "v", 32)._1)
      .distinct().count()
    assert(bkts >= 3, s"string values spread over $bkts bucket(s)")
    val v = col("v")
    val w = Window.orderBy(v.asc_nulls_last)
    val wf = Window.orderBy(v.asc_nulls_last, col("idx"))
    val tie = count(lit(1)).over(Window.partitionBy(v))
    val exp = Map(
      "min" -> rank().over(w).cast("double"),
      "max" -> (rank().over(w) + tie - 1).cast("double"),
      "average" -> (rank().over(w).cast("double") +
        (tie - 1).cast("double") / 2.0),
      "first" -> row_number().over(wf).cast("double"),
      "dense" -> dense_rank().over(w).cast("double"))
    val methods = exp.keys.toSeq.sorted
    val got = Series.fromColumn(df, "v", "idx").rankAll(methods)
    assert(unpartitionedWindows(got) == 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("idx").collect().toSeq.map(_.toSeq)
    assert(rows(got.select("idx", methods.map(m => s"rank_$m"): _*)) ==
      rows(df.select(col("idx") +: methods.map(m =>
        when(v.isNotNull, exp(m)).as(s"rank_$m")): _*)))
    Caches.clear()
  }

  test("rankAll shuffles the bucketed rows once: one hash exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // ties within and across rows; the tie count is keyed by (bucket,
    // value), which the bucket exchange already satisfies
    val df = (0 until 2000).map(i => (i.toLong, ((i * 7919) % 613) / 3.0))
      .toDF("idx", "v")
    val got = Series.fromColumn(df, "v", "idx")
      .rankAll(Seq("average", "first", "dense"))
    got.collect()
    val hashed = new AdaptiveSparkPlanHelper {}.collect(
        got.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    Caches.clear()
    assert(hashed.size == 1,
      s"${hashed.size} hash exchanges:\n${got.queryExecution.executedPlan}")
  }

  test("ngroupBy over a string key plans no un-partitioned window") {
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 200).map(i => (i.toLong, f"g${(i * 13) % 41}%02d", i * 0.5))
      .toDF("idx", "g", "v")
    val ng = Series.fromColumn(df, "v", "idx").ngroupBy(col("g"))
    assert(unpartitionedWindows(ng.df) == 0)
    val got = ng.df.orderBy("idx").collect().map(_.getLong(1)).toSeq
    val exp = df.select(col("idx"),
        (dense_rank().over(Window.orderBy("g")) - 1).cast("long"))
      .orderBy("idx").collect().map(_.getLong(1)).toSeq
    assert(got == exp)
    Caches.clear()
  }

  test("duplicated(keep=) and dropDuplicates(keep=) — all three policies") {
    val df = Seq((0L, "a"), (1L, "b"), (2L, "a"), (3L, "a")).toDF("i", "v")
    val s = Series.fromColumn(df, "v", "i")
    def flags(keep: String) = s.duplicated(keep).df.orderBy("i").collect()
      .map(_.getBoolean(1)).toSeq
    assert(flags("first") == Seq(false, false, true, true))
    assert(flags("last") == Seq(true, false, true, false))
    assert(flags("false") == Seq(true, false, true, true))
    def surv(keep: String) = s.dropDuplicates(keep).df.collect()
      .map(_.getLong(0)).toSet
    assert(surv("first") == Set(0L, 1L))
    assert(surv("last") == Set(1L, 3L))
    assert(surv("false") == Set(1L))
    // all three flags from one Window node (shared value partition)
    val plan = s.duplicatedFlags().queryExecution.executedPlan.toString
    assert(plan.split("Window \\[").length == 2, plan)
  }

  test("valueCountsBins: fixed-width histogram with zero-filled bins") {
    val df = Seq(0.0, 0.5, 1.0, 9.0, 10.0).toDF("v")
      .withColumn("i", monotonically_increasing_id())
    val s = Series.fromColumn(df, "v", "i")
    val got = s.valueCountsBins(5).orderBy("bin").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // width 2: [0,2)->3, [2,4)->0, [4,6)->0, [6,8)->0, [8,10]->2
    assert(got == Seq((0, 3L), (1, 0L), (2, 0L), (3, 0L), (4, 2L)))
  }

  test("idxmaxBy/idxminBy: per-group arg-extrema, first-label ties") {
    val df = Seq((0L, 1L, 5.0), (1L, 1L, 9.0), (2L, 1L, 9.0), (3L, 2L, 3.0),
      (4L, 2L, 3.0)).toDF("idx", "g", "v")
    val s = Series.fromColumn(df, "v", "idx")
    val mx = s.idxmaxBy(df("g")).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mx == Seq((1L, 1L), (2L, 3L))) // ties -> smallest label
    val mn = s.idxminBy(df("g")).orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mn == Seq((1L, 0L), (2L, 3L)))
  }

  test("update keeps own labels; where/mask replace by predicate") {
    val a = Series.fromPairs(spark, Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      name = "v")
    val b = Series.fromPairs(spark, Seq((2L, 20.0), (9L, 90.0)), name = "u")
    val got = a.update(b).df.orderBy(a.indexName).collect()
      .map(_.getDouble(1)).toSeq
    assert(got == Seq(1.0, 20.0, 3.0)) // label 9 NOT added
    assert(valuesOf(a.whereValue(_ > 1.5)) == Seq(null, 2.0, 3.0))
    assert(valuesOf(a.maskValue(_ > 1.5, 0.0)) == Seq(1.0, 0.0, 0.0))
  }

  test("cut with explicit edges: right-closed bins, out-of-range null") {
    val s = Series.fromSeq(spark, Seq(0.0, 0.5, 1.0, 2.5, 99.0), name = "v")
    val bins = s.cut(Seq(0.0, 1.0, 3.0), Seq("lo", "hi")).df
      .orderBy(s.indexName).collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
    assert(bins == Seq(null, "lo", "lo", "hi", null)) // 0.0 excluded (e0, e1]
    val ord = s.cut(Seq(0.0, 1.0, 3.0), Nil).df.orderBy(s.indexName)
      .collect().map(r => if (r.isNullAt(1)) null else r.getInt(1)).toSeq
    assert(ord == Seq(null, 0, 0, 1, null))
  }

  test("dt.floor/ceil/round: µs arithmetic, round ties to even") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq((1L, ts("2024-01-01 10:10:00")),
      (2L, ts("2024-01-01 10:50:00")),
      (3L, ts("2024-01-01 10:30:00")),   // half of an EVEN hour-slot
      (4L, ts("2024-01-01 11:30:00")),   // half of an ODD hour-slot
      (5L, ts("2024-01-01 11:00:00"))).toDF("i", "t")
    val s = Series.fromColumn(df, "t", "i")
    def col1(x: Series) = x.df.orderBy("i").collect()
      .map(_.getTimestamp(1).toString).toSeq
    assert(col1(s.dt.floor(3600L)) == Seq("2024-01-01 10:00:00.0",
      "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0",
      "2024-01-01 11:00:00.0", "2024-01-01 11:00:00.0"))
    assert(col1(s.dt.ceil(3600L)) == Seq("2024-01-01 11:00:00.0",
      "2024-01-01 11:00:00.0", "2024-01-01 11:00:00.0",
      "2024-01-01 12:00:00.0", "2024-01-01 11:00:00.0"))
    // round: nearest hour, exact half-ties go to the EVEN hour slot
    // (pandas/numpy convention). Expected values computed independently
    // from the epoch instant so the test is timezone-robust.
    def expectRound(t: Timestamp): String = {
      val ms = t.getTime
      val r = Math.floorMod(ms, 3600000L)
      val f = ms - r
      val up = r > 1800000L || (r == 1800000L && (f / 3600000L) % 2 == 1)
      new Timestamp(if (up) f + 3600000L else f).toString
    }
    val exp = Seq(ts("2024-01-01 10:10:00"), ts("2024-01-01 10:50:00"),
      ts("2024-01-01 10:30:00"), ts("2024-01-01 11:30:00"),
      ts("2024-01-01 11:00:00")).map(expectRound)
    assert(col1(s.dt.round(3600L)) == exp)
  }

  test("searchsorted: left/right insertion positions, distributed probes") {
    val s = Series.fromSeq(spark, Seq(1.0, 3.0, 3.0, 5.0), name = "v")
    val probes = Seq(0.0, 1.0, 3.0, 4.0, 9.0).toDF("p")
    def pos(side: String) = s.searchsorted(probes, side).orderBy("p")
      .collect().map(_.getLong(1)).toSeq
    assert(pos("left") == Seq(0L, 0L, 1L, 3L, 4L))
    assert(pos("right") == Seq(0L, 1L, 3L, 3L, 4L))
  }

  test("is_monotonic / any / all: pandas scalar semantics") {
    def ser(vs: Seq[java.lang.Double]) =
      Series.fromSeq(spark, vs, name = "v")
    assert(ser(Seq(1.0, 2.0, 2.0, 5.0)).isMonotonicIncreasing)
    assert(!ser(Seq(1.0, 2.0, 1.5)).isMonotonicIncreasing)
    assert(ser(Seq(5.0, 3.0, 3.0, 1.0)).isMonotonicDecreasing)
    assert(!ser(Seq(1.0, null, 3.0)).isMonotonicIncreasing) // NaN → false
    assert(ser(Seq(7.0)).isMonotonicIncreasing) // single non-null → true
    assert(!ser(Seq(null)).isMonotonicIncreasing) // single null → false
    val s = ser(Seq(1.0, -2.0, 3.0))
    assert(s.any(_ > 2.5) && !s.any(_ > 5.0))
    assert(s.all(_ > -3.0) && !s.all(_ > 0.0))
  }

  test("monotonicStats fuses both directions + any/all into one probe") {
    def ser(vs: Seq[java.lang.Double]) =
      Series.fromSeq(spark, vs, name = "v")
    val inc = ser(Seq(1.0, 2.0, 2.0, 5.0)).monotonicStats(
      anyPred = _ > 4.0, allPred = _ > 0.0)
    assert(inc == Series.MonotonicStats(true, false, true, true))
    val dec = ser(Seq(5.0, 3.0, 3.0, 1.0)).monotonicStats()
    assert(dec.decreasing && !dec.increasing)
    assert(!dec.anyTrue && dec.allTrue) // defaults: any=false, all=true
    // null value → both monotonic flags false (pandas NaN behavior), but
    // any/all still evaluate over the non-null values
    val withNull = ser(Seq(1.0, null, 3.0)).monotonicStats(
      anyPred = _ > 2.0, allPred = _ > 2.0)
    assert(withNull == Series.MonotonicStats(false, false, true, false))
    // single / empty edge cases match the unfused probes
    val single = ser(Seq(7.0)).monotonicStats()
    assert(single.increasing && single.decreasing)
    val flat = ser(Seq(2.0, 2.0, 2.0)).monotonicStats()
    assert(flat.increasing && flat.decreasing)
  }

  test("str extras: split/get/count/pad/repeat/title") {
    val s = Series.fromSeq(spark, Seq("alpha beta gamma", "solo"), name = "t")
    val toks = s.str.split(" ")
    assert(valuesOf(toks.str.get(0)) == Seq("alpha", "solo"))
    assert(valuesOf(toks.str.get(-1)) == Seq("gamma", "solo"))
    assert(valuesOf(toks.str.get(5)) == Seq(null, null))
    assert(valuesOf(s.str.count("a")) == Seq(5, 0))
    assert(valuesOf(s.str.pad(6, "right", ".")) == Seq("alpha ", "solo.."))
    assert(valuesOf(s.str.repeat(2)) == Seq(
      "alpha beta gammaalpha beta gamma", "solosolo"))
    assert(valuesOf(s.str.title) == Seq("Alpha Beta Gamma", "Solo"))
  }

  test("dt extras: quarter/dayofyear/weekofyear/daysinmonth/month edges") {
    val s = Series.fromSeq(spark, Seq(
      java.sql.Timestamp.valueOf("2024-02-01 12:00:00"),
      java.sql.Timestamp.valueOf("2024-02-29 23:00:00"),
      java.sql.Timestamp.valueOf("2023-10-01 00:00:00")), name = "ts")
    assert(valuesOf(s.dt.quarter) == Seq(1, 1, 4))
    assert(valuesOf(s.dt.dayofyear) == Seq(32, 60, 274))
    assert(valuesOf(s.dt.daysinmonth) == Seq(29, 29, 31))
    assert(valuesOf(s.dt.isMonthStart) == Seq(true, false, true))
    assert(valuesOf(s.dt.isMonthEnd) == Seq(false, true, false))
    assert(valuesOf(s.dt.isQuarterStart) == Seq(false, false, true))
    assert(valuesOf(s.dt.isYearStart) == Seq(false, false, false))
  }

  test("ohlcBy: open/high/low/close from one aggregation") {
    val df = Seq((1L, "g1", 5.0), (2L, "g1", 9.0), (3L, "g1", 2.0),
      (4L, "g1", 7.0), (5L, "g2", 1.0)).toDF("i", "g", "v")
    val got = Series.fromColumn(df, "v", "i").ohlcBy(df("g"), "g")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == Seq(("g1", 5.0, 9.0, 2.0, 7.0),
      ("g2", 1.0, 1.0, 1.0, 1.0)))
  }

  test("pctChange with negative periods compares against the FUTURE value") {
    val s = Series.fromSeq(spark, Seq(2.0, 4.0, 8.0), name = "v")
    val got = valuesOf(s.pctChange(-1))
    assert(got == Seq(-0.5, -0.5, null)) // 2/4-1, 4/8-1, no successor
  }

  test("ntile: remainder-first sizes, k>n degenerate, null keeps null") {
    // n=10, k=3 -> sizes 4,3,3 over the (value, index) order
    val s = Series.fromSeq(spark, (1 to 10).map(i => (11 - i).toDouble),
      name = "v")
    val tiles = s.ntile(3).df.orderBy("index").collect()
      .map(_.getInt(1)).toSeq
    // values descend with index, so index order = reverse value order
    assert(tiles == Seq(3, 3, 3, 2, 2, 2, 1, 1, 1, 1))
    assert(tiles.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(1 -> 4, 2 -> 3, 3 -> 3))
    // k > n: each row alone, tiles 1..n
    val tiny = Series.fromSeq(spark, Seq(5.0, 1.0, 3.0), name = "v")
    assert(tiny.ntile(7).df.orderBy("v").collect().map(_.getInt(1)).toSeq
      == Seq(1, 2, 3))
    // null value -> null tile
    val withNull = Series.fromSeq(spark,
      Seq(Some(1.0), None, Some(2.0)), name = "v")
    val nt = withNull.ntile(2).df.orderBy("index").collect()
    assert(!nt(0).isNullAt(1) && nt(1).isNullAt(1) && !nt(2).isNullAt(1))
    Caches.clear()
  }

  test("momentStats: hand values, symmetric skew 0, small-n nulls; mad") {
    // 1..5: mean 3, std sqrt(2.5), skew 0 (symmetric), G2 kurt -1.2
    val s = Series.fromSeq(spark, Seq(1.0, 2.0, 3.0, 4.0, 5.0), name = "v")
    val r = s.momentStats().head()
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("mean") == 3.0)
    assert(math.abs(r.getAs[Double]("std") - math.sqrt(2.5)) < 1e-12)
    assert(math.abs(r.getAs[Double]("sem")
      - math.sqrt(2.5) / math.sqrt(5)) < 1e-12)
    assert(math.abs(r.getAs[Double]("skew")) < 1e-12)
    assert(math.abs(r.getAs[Double]("kurt") - (-1.2)) < 1e-9)
    // pandas mad of 1..5 = mean(|x-3|) = 1.2
    assert(math.abs(s.mad().asInstanceOf[Double] - 1.2) < 1e-12)
    // below the defined-n thresholds the sample moments are null
    val t3 = Series.fromSeq(spark, Seq(1.0, 2.0, 4.0), name = "v")
      .momentStats().head()
    assert(!t3.isNullAt(t3.fieldIndex("skew")))
    assert(t3.isNullAt(t3.fieldIndex("kurt"))) // kurt needs n >= 4
    val t2 = Series.fromSeq(spark, Seq(1.0, 2.0), name = "v")
      .momentStats().head()
    assert(t2.isNullAt(t2.fieldIndex("skew"))) // skew needs n >= 3
  }

  test("sample is a deterministic, salt-dependent subset near frac") {
    val s = Series.fromSeq(spark, (1 to 2000).map(_.toDouble), name = "v")
    def ids(salt: String) = s.sample(0.3, salt).df
      .collect().map(_.getLong(0)).toSet
    val a = ids("a")
    assert(a == ids("a"))               // reproducible
    assert(a != ids("b"))               // salt rotates the draw
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05) // near the target rate
    assert(s.sample(1.0).df.count() == 2000)
  }
}
