package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GFrame, Series}
import graft.ops.{EventOps, GraphOps, SimilarityOps}
import graft.sources.Sources

import Main.{mat, rows}

/** pontem's own use case: pandas-style interactive steps over the sf0.1
  * tables, each ending in a small result on the client. Every step kind
  * runs once per round with parameters drawn from the seed. The batch
  * phase is round 0: each step's first, cold call, plus a below-floor
  * k-NN graph build and a small dup-cluster pass; later rounds (the loop)
  * repeat the interactive steps only, which keeps a run inside the
  * benchmark's time budget. */
final class Session extends Workload {
  private var li: DataFrame = _
  private var orders: DataFrame = _
  private var events: DataFrame = _
  private var emb: DataFrame = _
  private var docs: DataFrame = _

  /** Inputs are registered with a cache request; the first step that
    * reads a table fills its cache. */
  def register(spark: SparkSession, data: String): Unit = {
    def load(t: String) = Sources.parquet(spark, s"$data/$t.parquet").cache()
    li = load("lineitem")
    orders = load("orders")
    events = load("events")
    emb = load("embeddings")
    docs = Sources.parquet(spark, s"$data/documents.parquet")
  }

  private type Kind = (String, (Run, Random) => Unit)

  private def scalar(run: Run, name: String, params: Map[String, Any])(
      f: => Any): Unit = run.step(name)(f)(v => params + ("value" -> v))

  private def table(run: Run, name: String, params: Map[String, Any])(
      f: => Seq[Seq[Any]]): Unit = run.step(name)(f)(v => params + ("rows" -> v))

  private val kinds: Seq[Kind] = Seq(
    "core.Series.sum" -> { (run, r) =>
      val y = 1995 + r.nextInt(7)
      scalar(run, "core.Series.sum", Map("year" -> y)) {
        Series.fromExpr(li.filter(year(col("l_shipdate")) === y),
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), "revenue",
          col("l_orderkey"), "l_orderkey").sum()
      }
    },
    "core.Series.astype" -> { (run, r) =>
      val flag = Seq("A", "N", "R")(r.nextInt(3))
      scalar(run, "core.Series.astype", Map("flag" -> flag)) {
        Series.fromColumn(li.filter(col("l_returnflag") === flag), "l_quantity",
          "l_orderkey").astype("int").sum()
      }
    },
    "core.Series.std" -> { (run, r) =>
      val ln = 1 + r.nextInt(4)
      scalar(run, "core.Series.std", Map("linenumber" -> ln)) {
        (Series.fromColumn(li.filter(col("l_linenumber") === ln),
          "l_extendedprice", "l_orderkey") * 0.001).std()
      }
    },
    "core.GFrame.groupBy" -> { (run, r) =>
      val d = r.nextInt(8) / 100.0
      table(run, "core.GFrame.groupBy", Map("discount" -> d)) {
        rows(GFrame.fromDF(li.filter(col("l_discount") >= d), "l_orderkey")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n")).toDF,
          "l_returnflag", "l_linestatus", "qty", "n")
      }
    },
    "core.GFrame.merge" -> { (run, r) =>
      val q = 1 + r.nextInt(10)
      table(run, "core.GFrame.merge", Map("quantity" -> q)) {
        val o = GFrame.fromDF(orders.withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey")
        rows(GFrame.fromDF(li.filter(col("l_quantity") <= q), "l_orderkey")
          .merge(o, Seq("l_orderkey")).groupBy("o_orderpriority").count().toDF,
          "o_orderpriority", "count")
      }
    },
    "core.GFrame.nlargest" -> { (run, r) =>
      val flag = Seq("A", "N", "R")(r.nextInt(3))
      table(run, "core.GFrame.nlargest", Map("flag" -> flag)) {
        rows(GFrame.fromDF(li.filter(col("l_returnflag") === flag), "l_orderkey")
          .nlargest(5, Seq("l_extendedprice"),
            Seq(col("l_orderkey"), col("l_linenumber"))).toDF,
          "l_orderkey", "l_linenumber", "l_extendedprice")
      }
    },
    "core.GlobalWindows.rollingMean" -> { (run, r) =>
      val t = Seq("signup", "click", "error", "view", "purchase")(r.nextInt(5))
      val n = 3 + r.nextInt(8)
      scalar(run, "core.GlobalWindows.rollingMean", Map("type" -> t, "n" -> n)) {
        Series.fromColumn(events.filter(col("event_type") === t), "value", "event_id")
          .rollingMean(n).sum()
      }
    },
    "core.Ewm.mean" -> { (run, r) =>
      val t = Seq("signup", "click", "error", "view", "purchase")(r.nextInt(5))
      val alpha = 0.05 + r.nextInt(10) * 0.05
      scalar(run, "core.Ewm.mean", Map("type" -> t, "alpha" -> alpha)) {
        Series.fromColumn(events.filter(col("event_type") === t), "value", "event_id")
          .ewm(alpha).mean().sum()
      }
    },
    "core.GlobalWindows.shift" -> { (run, r) =>
      val t = Seq("signup", "click", "error", "view", "purchase")(r.nextInt(5))
      val k = 1 + r.nextInt(5)
      scalar(run, "core.GlobalWindows.shift", Map("type" -> t, "k" -> k)) {
        Series.fromColumn(events.filter(col("event_type") === t), "value", "event_id")
          .shift(k).sum()
      }
    },
    "ops.EventOps.sessionize" -> { (run, r) =>
      val mod = 4
      val rem = r.nextInt(mod)
      val gap = 1800L * (1 + r.nextInt(4))
      scalar(run, "ops.EventOps.sessionize",
          Map("mod" -> mod, "rem" -> rem, "gap" -> gap)) {
        EventOps.sessionize(events.filter(pmod(col("user_id"), lit(mod)) === rem),
          "user_id", "ts", "event_id", gap)
          .select("user_id", "session_id").distinct().count()
      }
    },
    "ops.EventOps.funnel" -> { (run, r) =>
      val stages = r.shuffle(Seq("view", "click", "purchase", "signup")).take(3)
      table(run, "ops.EventOps.funnel", Map("stages" -> stages)) {
        val f = EventOps.funnel(events, "user_id", "ts", "event_type", stages)
        Seq(f.agg(count(col(s"t_${stages(0)}")), stages.tail.map(st =>
          count(col(s"t_$st"))): _*).head().toSeq)
      }
    },
  )

  private val graphKinds: Seq[Kind] = Seq(
    "ops.SimilarityOps.knnGraphBuild" -> { (run, r) =>
      val m = 4 + r.nextInt(4)
      val salt = r.nextInt(1000)
      run.step("ops.SimilarityOps.knnGraphBuild") {
        mat(SimilarityOps.knnGraphBuild(emb, "vec_id", "embedding", m))
      } { e =>
        Map("m" -> m, "salt" -> salt, "edges" -> e.count(),
          "sample" -> rows(e.filter(pmod(col("src") + lit(salt), lit(100)) === 0),
            "src", "rk", "dst"))
      }
    },
    "ops.GraphOps.dupClusters" -> { (run, r) =>
      // part-order pairs of a window of orders: mostly small stars, some
      // joined by a shared part — the shape of near-dup pair graphs
      val lo = r.nextInt(140000).toLong
      val hi = lo + 400
      run.step("ops.GraphOps.dupClusters") {
        mat(GraphOps.dupClusters(li.filter(col("l_orderkey").between(lo, hi - 1))
          .select(col("l_partkey").as("a"), (col("l_orderkey") + lit(1000000L)).as("b")),
          "a", "b"))
      }(c => Map("lo" -> lo, "hi" -> hi, "rows" -> rows(c, "id", "comp")))
    })

  /** A step's parameters depend only on (seed, round, kind). */
  private def rng(run: Run, round: Int, kind: Int) =
    new Random(new java.util.SplittableRandom(
      run.seed * 7919L + round * 101L + kind).nextLong())

  def batch(run: Run): Unit =
    (kinds ++ graphKinds).zipWithIndex.foreach { case ((_, f), k) =>
      try f(run, rng(run, 0, k)) catch { case _: StepFailed => () }
    }

  def round: Int = kinds.size
  override def rounds: Int = 2

  def op(run: Run, i: Int, traced: Boolean): Boolean = {
    val k = i % kinds.size
    val (name, f) = kinds(k)
    run.unit("op", name, traced)(f(run, rng(run, 1 + i / kinds.size, k)))
    true
  }

  def kernelRows(spark: SparkSession, data: String): (DataFrame, DataFrame) =
    (docs, emb)
}
