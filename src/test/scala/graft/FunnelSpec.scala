package graft

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Funnel
import graft.ops.EventOps

/** Specs for the mergeable funnel aggregate: [[EventOps.funnel]] on
  * `graft_funnel` must equal the stacked conditional-min window spelling
  * it replaced, row for row, however the events are partitioned. */
class FunnelSpec extends AnyFunSuite with SparkFixture {

  import spark.implicits._

  private val fixtureDir = "/root/testdata/sf0.01"

  /** The reference: one conditional-min window per stage over hash(key),
    * then a per-key min (the spelling `funnel` used before the
    * aggregate). */
  private def windowed(df: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, stages: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    var cur = df.select(col(keyCol), col(tsCol), col(typeCol))
    var prev: Option[String] = None
    stages.foreach { st =>
      val cName = s"t_$st"
      val cond = prev match {
        case None    => col(typeCol) === st
        case Some(p) => col(typeCol) === st && col(tsCol) >= col(p)
      }
      cur = cur.withColumn(cName, min(when(cond, col(tsCol))).over(w))
      prev = Some(cName)
    }
    cur.groupBy(col(keyCol))
      .agg(min(s"t_${stages.head}").as(s"t_${stages.head}"),
        stages.tail.map(st => min(s"t_$st").as(s"t_$st")): _*)
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what schema")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$what rows differ:\n${got.exceptAll(want).collect().take(5).mkString("\n")}")
  }

  /** Rows in a fixed spread over `n` partitions (parallelize keeps order:
    * slice i holds the i-th contiguous run). */
  private def spread(df: DataFrame, n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, n),
      df.schema)

  /** Equal-ts ties (a copy of every 7th event as the next stage type),
    * null ts, null type, a null key, and a key with only non-stage
    * events. */
  private def injected(ev: DataFrame): DataFrame = {
    val next = Map("view" -> "click", "click" -> "purchase",
      "purchase" -> "view", "signup" -> "view", "error" -> "click")
    val nextType = next.foldLeft(lit(null).cast("string")) { case (m, (a, b)) =>
      when(col("event_type") === a, b).otherwise(m) }
    val base = ev.select(
      col("event_id"), col("user_id"),
      when(col("event_id") % 11 === 0, lit(null)).otherwise(col("ts")).as("ts"),
      when(col("event_id") % 13 === 0, lit(null)).otherwise(col("event_type"))
        .as("event_type"))
    val ties = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id") + 1000000, col("user_id"), col("ts"), nextType)
    val extra = Seq(
      (2000001L, Option(900001L), Option(Timestamp.valueOf("2024-01-02 00:00:00")), "error"),
      (2000002L, Option(900001L), Option(Timestamp.valueOf("2024-01-03 00:00:00")), "signup"),
      (2000003L, Option.empty[Long], Option(Timestamp.valueOf("2024-01-04 00:00:00")), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .select(col("event_id"), col("user_id"), col("ts").cast(ev.schema("ts").dataType),
        col("event_type"))
    base.unionAll(ties).unionAll(extra).orderBy("event_id")
  }

  private val stageLists = Seq(
    Seq("view", "click", "purchase"), Seq("purchase"), Seq("view", "view", "click"),
    Seq("signup", "view", "click", "purchase", "error"), Seq("nope", "view"))

  test("equals the stacked-window spelling on the events fixture at 1, 5 " +
    "and 7 partitions, plain and tie/null-injected") {
    val ev = Tables.events(spark, fixtureDir)
      .select("event_id", "user_id", "ts", "event_type").orderBy("event_id")
    for ((label, data) <- Seq("plain" -> ev, "injected" -> injected(ev));
         parts <- Seq(1, 5, 7)) {
      val df = spread(data, parts)
      assert(df.rdd.getNumPartitions == parts)
      val keys = df.select("user_id").distinct().count()
      for (stages <- stageLists) {
        val got = EventOps.funnel(df, "user_id", "ts", "event_type", stages)
        assertSame(got, windowed(df, "user_id", "ts", "event_type", stages),
          s"$label/$parts/${stages.mkString(">")}")
        assert(got.count() == keys, "every key keeps its row")
      }
    }
  }

  test("date and long time columns, and a key with no stage event") {
    val ev = Tables.events(spark, fixtureDir).orderBy("event_id")
    val df = spread(ev.select(col("user_id"), col("event_type"),
      to_date(col("ts")).as("d"), unix_micros(col("ts")).as("us")), 8)
    for (tsCol <- Seq("d", "us"); stages <- stageLists.take(3)) {
      val got = EventOps.funnel(df, "user_id", tsCol, "event_type", stages)
      assertSame(got, windowed(df, "user_id", tsCol, "event_type", stages),
        s"$tsCol/${stages.mkString(">")}")
    }
    val none = EventOps.funnel(df, "user_id", "us", "event_type", Seq("nope"))
    assert(none.filter(col("t_nope").isNotNull).isEmpty)
    assert(none.count() == df.select("user_id").distinct().count())
  }

  test("a key's early stage-1 events in one partition survive its first " +
    "stage-0 event arriving from another (the pruning edge)") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // partition 0 alone chains view 10:05 -> click 10:07 and drops 10:09;
    // it must keep click 10:03, below its own view, for partition 1's
    // earlier view 10:01
    val p0 = Seq((1L, ts(5), "view"), (1L, ts(3), "click"), (1L, ts(7), "click"),
      (1L, ts(9), "click"), (1L, ts(8), "purchase"), (1L, ts(4), "purchase"))
    val p1 = Seq((1L, ts(1), "view"), (1L, ts(6), "purchase"))
    val p2 = Seq((2L, ts(2), "click"), (2L, ts(2), "view"), (2L, ts(2), "purchase"))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(p0, p1, p2), 3)
        .flatMap(_.map { case (u, t, e) => Row(u, t, e) }), schema)
    assert(df.rdd.glom().map(_.length).collect().toSeq == Seq(6, 2, 3))
    val stages = Seq("view", "click", "purchase")
    val got = EventOps.funnel(df, "user_id", "ts", "event_type", stages)
    assert(got.collect().map(r => r.getLong(0) -> (1 to 3).map(r.getTimestamp)).toMap ==
      Map(1L -> Seq(ts(1), ts(3), ts(4)), 2L -> Seq(ts(2), ts(2), ts(2))))
    assertSame(got, windowed(df, "user_id", "ts", "event_type", stages), "edge")
  }

  test("a stage name repeated apart from its first use reports each stage " +
    "in its own column") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = Seq((1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "view"))
      .toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(df, "user_id", "ts", "event_type",
      Seq("view", "click", "view")).head()
    assert(got.schema.fieldNames.toSeq == Seq("user_id", "t_view", "t_click", "t_view"))
    assert((1 to 3).map(got.getTimestamp) == Seq(ts(1), ts(2), ts(3)))
  }

  private def state(rows: Seq[(Long, Long)]): (Funnel, Funnel.State) = {
    val f = Funnel(BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true), 3)
    val buf = f.createAggregationBuffer()
    rows.foreach { case (t, m) => f.update(buf, InternalRow(t, m)) }
    (f, buf)
  }

  private def evalOf(f: Funnel, buf: Funnel.State): Seq[Any] =
    f.eval(buf).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toSeq[Any](LongType)

  test("serialize/deserialize round trip, and merge order does not change eval") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 200) {
      val rows = Seq.fill(1 + rnd.nextInt(40))(
        rnd.nextInt(30).toLong -> (rnd.nextInt(8).toLong))
      val chunks = rows.grouped(1 + rnd.nextInt(6)).toSeq
      val (f, whole) = state(rows)
      val want = evalOf(f, whole)
      val parts = chunks.map(c => state(c)._2)
      val back = parts.map(p => f.deserialize(f.serialize(p)))
      for (order <- Seq(back, back.reverse, rnd.shuffle(back))) {
        val acc = f.createAggregationBuffer()
        order.foreach(f.merge(acc, _))
        assert(evalOf(f, acc) == want, s"$rows in ${chunks.size} chunks")
      }
      // a brute-force chain over the raw rows
      val brute = (0 until 3).foldLeft((Option(Long.MinValue), Seq.empty[Any])) {
        case ((prev, acc), i) =>
          val t = prev.flatMap(p => rows.collect {
            case (t, m) if (m >> i & 1) == 1 && t >= p => t }.minOption)
          (t, acc :+ t.map(Long.box).orNull)
      }._2
      assert(want == brute, s"$rows")
    }
  }

  test("registered in the SQL function registry; double and string times " +
    "are rejected with the supported types named") {
    Seq((1L, Date.valueOf("2024-01-02"), 1L, 2.5, "x"),
        (1L, Date.valueOf("2024-01-03"), 2L, 3.5, "y"))
      .toDF("k", "d", "m", "dbl", "str").createOrReplaceTempView("__funnel_in")
    val out = spark.sql(
      "SELECT k, graft_funnel(d, m, 2) AS t FROM __funnel_in GROUP BY k").head()
    assert(out.getSeq[Date](1) == Seq(Date.valueOf("2024-01-02"), Date.valueOf("2024-01-03")))
    for (c <- Seq("dbl", "str")) {
      val e = intercept[AnalysisException](spark.sql(
        s"SELECT graft_funnel($c, m, 2) FROM __funnel_in").collect())
      assert(e.getMessage.contains("timestamp, timestamp_ntz, date"), e.getMessage)
    }
  }
}
