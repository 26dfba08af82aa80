package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.EventOps

/** Event-time queries over the `events` fixture (10k–100k rows, 30 days),
  * each with a DuckDB oracle. */
object EventQueries {

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  /** ONE memoized SUPERSET replay feed for all MemoryStream gates:
    * (ts, user_id, event_id, event_type, value) collected ONCE per
    * fixture dir (immutable Vector; the key encodes slice + projection
    * per the Caches.memo ownership rule). Every per-gate feed below
    * DERIVES its tuple shape from this one vector with a driver-side
    * map/filter (≤ |events| in-memory work, single-digit ms at sf0.1) —
    * bounding session-lifetime driver residency at ONE projection
    * instead of eleven overlapping ones, while the Spark collect (the
    * actual per-repetition cost the memo exists to kill) still happens
    * exactly once. Production side is spark.readStream — these collects
    * are pure replay-harness cost. */
  private def eventRows(s: SparkSession, d: String)
      : Vector[(java.sql.Timestamp, Long, Long, String, Double)] =
    graft.Caches.memo(s"replay:events5:$d") {
      Tables.events(s, d)
        .select("ts", "user_id", "event_id", "event_type", "value")
        .collect() // THE superset replay projection — |events| rows, once
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4))).toVector
    }

  /** Replay feed for the stream-stream join gates (e11/e42/e66). */
  private def clickBuyRows(s: SparkSession, d: String)
      : Seq[(java.sql.Timestamp, Long, String)] =
    eventRows(s, d).collect {
      case (ts, u, _, t, _) if t == "click" || t == "purchase" =>
        (ts, u, t)
    }

  private def tsUserRows(s: SparkSession, d: String)
      : Seq[(java.sql.Timestamp, Long)] =
    eventRows(s, d).map { case (ts, u, _, _, _) => (ts, u) }

  private def userEvTsTypeRows(s: SparkSession, d: String)
      : Seq[(Long, Long, java.sql.Timestamp, String)] =
    eventRows(s, d).map { case (ts, u, e, t, _) => (u, e, ts, t) }

  private def idTypeValRows(s: SparkSession, d: String)
      : Seq[(Long, String, Double)] =
    eventRows(s, d).map { case (_, _, e, t, v) => (e, t, v) }

  private def purchaseValues(s: SparkSession, d: String): Seq[Double] =
    eventRows(s, d).collect {
      case (_, _, _, t, v) if t == "purchase" => v
    }

  private def userEvTsValRows(s: SparkSession, d: String)
      : Seq[(Long, Long, java.sql.Timestamp, Double)] =
    eventRows(s, d).map { case (ts, u, e, _, v) => (u, e, ts, v) }

  private def asofSideRows(s: SparkSession, d: String)
      : Seq[(Long, Long, java.sql.Timestamp, Double, Int)] =
    eventRows(s, d).map { case (ts, u, e, t, v) =>
      (u, e, ts, v, if (t == "purchase") 0 else 1)
    }

  private def tsTypeValRows(s: SparkSession, d: String)
      : Seq[(java.sql.Timestamp, String, Double)] =
    eventRows(s, d).map { case (ts, _, _, t, v) => (ts, t, v) }

  private def tsUserTypeRows(s: SparkSession, d: String)
      : Seq[(java.sql.Timestamp, Long, String)] =
    eventRows(s, d).map { case (ts, u, _, t, _) => (ts, u, t) }

  private def idUserValRows(s: SparkSession, d: String)
      : Seq[(Long, Long, Double)] =
    eventRows(s, d).map { case (_, u, e, _, v) => (e, u, v) }

  private def idUserRows(s: SparkSession, d: String): Seq[(Long, Long)] =
    eventRows(s, d).map { case (_, u, e, _, _) => (e, u) }

  /** Run `body` with spark.sql.shuffle.partitions temporarily set to `n`
    * (a streaming query locks its state-partition count from this conf at
    * start). Restores the previous value afterwards. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows per event type: count + value sum. Epoch-
    // aligned buckets == date_trunc('hour') for hour-divisible durations.
    "e01_tumbling_hour" -> ((s, d) =>
      EventOps.tumbling(ev(s, d), "ts", "1 hour",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")))
        .select("ws", "event_type", "n", "total")
        .orderBy("ws", "event_type")),

    // Hopping (sliding) event-time windows: 1-hour windows every 15 min —
    // each event replicates into 4 windows via the native window() Expand
    // BEFORE the aggregation shuffle (map-side partials absorb the
    // fan-out).
    "e21_hopping" -> ((s, d) =>
      EventOps.hopping(ev(s, d), "ts", "1 hour", "15 minutes",
          Seq(col("event_type")),
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")))
        .select("ws", "event_type", "n", "total")
        .orderBy("ws", "event_type")),

    // Trending: top-3 event types per tumbling hour — the rank predicate
    // sits on the staged row_number so WindowGroupLimit runs per-
    // partition top-k heaps before the shuffle.
    "e25_trending" -> ((s, d) =>
      EventOps.topKPerWindow(ev(s, d), "ts", "event_type", "1 hour", k = 3)
        .orderBy("ws", "rk")),

    // Time-weighted average value per user (TWAP): keyed lead window for
    // the holding time + one aggregation; single-event users null.
    "e26_twap" -> ((s, d) =>
      EventOps.timeWeightedAvg(ev(s, d), "user_id", "ts", "value",
          tieCol = "event_id")
        .select(col("user_id"),
          graft.ops.TextOps.round6(col("twavg")).as("twavg"))
        .orderBy("user_id")),

    // Cohort retention matrix: users bucketed by first-activity week,
    // distinct-user counts per (cohort, week offset) — bounded |weeks|²
    // output regardless of corpus size.
    "e28_retention" -> ((s, d) =>
      EventOps.retentionMatrix(ev(s, d), "user_id", "ts")
        .orderBy("cohort", "week_offset")),

    // First-order Markov transition matrix: src -> dst event-type counts
    // and conditional probabilities; one keyed lead window + one bounded
    // (|types|^2) aggregation. Integer/integer division — exact IEEE on
    // both engines, no rounding grid.
    "e29_transitions" -> ((s, d) =>
      EventOps.transitionMatrix(ev(s, d), "user_id", "ts", "event_type",
          tieCol = "event_id")
        .orderBy("src", "dst")),

    // Inter-event gap distribution per type: count/mean/exact quartiles
    // of µs gaps (quartiles are bit-exact across engines on integer
    // gaps at dyadic weights — see EventOps.gapStats).
    "e33_gap_stats" -> ((s, d) =>
      EventOps.gapStats(ev(s, d), "user_id", "ts", "event_type",
          tieCol = "event_id")
        .orderBy("event_type")),

    // Active vs first-seen users per hour (the DAU/new split): two
    // bounded aggregations over the distinct (user, hour) frame.
    "e34_active_users" -> ((s, d) =>
      EventOps.activeUsers(ev(s, d), "user_id", "ts")
        .orderBy("ws")),

    // A/B two-proportion z-test: even/odd user cohorts, conversion =
    // at-least-one purchase above 150 (non-degenerate at every fixture
    // scale: a rate of exactly 0 or 1 in either cohort makes the pooled
    // standard error 0 and the z undefined); one per-user aggregate,
    // one closing aggregate, z/lift as pure projections over exact
    // integer counts.
    "e40_ab_test" -> ((s, d) => {
      val perUser = ev(s, d).groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
            && col("value") > 150.0, 1L)
          .otherwise(0L)).as("conv"))
      EventOps.abTest(perUser,
        pmod(col("user_id"), lit(2)) === 0, col("conv") === 1L)
    }),

    // STREAMING SCD2 under the hash gate: the full fixture replays
    // through scd2Stream (events buffer per user under the watermark;
    // each advance finalizes the strictly-older prefix in (ts, id)
    // order, closing runs exactly like the batch operator); output =
    // the batch e36 answer restricted to CLOSED versions (the open
    // tails live in state, unemittable by an append stream).
    // STREAMING funnel: e27's ordered-stage journey computed under
    // out-of-order arrival — per-user state folds watermark-finalized
    // events in event-time order (ties complete stages in stage order,
    // matching the batch min-window semantics) and emits on the
    // end-of-data horizon. Hash-gated against e27's batch oracle.
    "e57_stream_funnel" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = userEvTsTypeRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp, String)]
      val name = s"graft_e57_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .funnelStream(input.toDF()
            .toDF("user_id", "event_id", "ts", "event_type"),
            Seq("view", "click", "purchase"), "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          input.addData(rows: _*)
          input.addData((-1L, -1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "x"),
            (-1L, -2L,
            java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), "x"))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name).filter(col("user_id") >= 0)
        .groupBy("user_id")
        .agg(min(when(col("stage") === "view", col("t"))).as("t_view"),
          min(when(col("stage") === "click", col("t"))).as("t_click"),
          min(when(col("stage") === "purchase", col("t")))
            .as("t_purchase"))
        .orderBy("user_id")
    }),

    "e39_stream_scd2" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = userEvTsTypeRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp, String)]
      val name = s"graft_e39_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .scd2Stream(input.toDF()
            .toDF("user_id", "event_id", "ts", "event_type"), "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          input.addData(rows: _*)
          input.addData((-1L, -1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "x"),
            (-1L, -2L,
            java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), "x"))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name).filter(col("user_id") >= 0)
        .select(col("user_id"), col("version"),
          col("attr").as("event_type"), col("valid_from"), col("valid_to"))
        .orderBy("user_id", "version")
    }),

    // STREAMING data-quality monitor: per-micro-batch fused rule counts
    // (the f52 row-rule shape through foreachBatch); row-rule counters
    // are ADDITIVE, so the two-epoch log summed per rule hash-matches
    // the batch report over all ingested data — the f52/d27 additivity
    // proof for quality monitoring.
    "e38_stream_expectations" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = idTypeValRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Double)]
      val (q, read) = graft.streaming.StreamOps.ruleMonitor(
        input.toDF().toDF("event_id", "event_type", "value"),
        Seq("value_negative" -> (col("value") < 0.0),
          "value_below_one" -> (col("value") < 1.0),
          "type_is_error" -> (col("event_type") === "error"),
          "value_null" -> col("value").isNull))
      try {
        val (a, b) = rows.splitAt(rows.length / 2)
        input.addData(a: _*); q.processAllAvailable()
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      read().toDF("epoch", "rule", "violations", "total")
        .groupBy("rule")
        .agg(sum(col("violations")).as("violations"),
          sum(col("total")).as("total"))
        .withColumn("pass", col("violations") === 0L)
        .orderBy("rule")
    }),

    // SCD2 change-compression: per-user event_type runs → Type-2
    // dimension history rows with [valid_from, valid_to) validity and
    // the open is_current tail. ONE user-keyed exchange carries all
    // three windows.
    // The open tail's null valid_to is surfaced as an end-of-time
    // sentinel — typed null timestamps have no portable equality in the
    // compare harness. 2200-01-01, not the idiomatic 9999-12-31: the
    // latter exceeds the datetime64[ns] ceiling (2262-04-11) and the
    // harness's typed hasher diverges per side on beyond-ns timestamps
    // (round-8's only red gate).
    "e36_scd2" -> ((s, d) =>
      EventOps.scd2Compress(ev(s, d), "user_id", "ts", "event_type",
        tieCol = "event_id")
        .withColumn("valid_to", coalesce(col("valid_to"),
          lit("2200-01-01 00:00:00").cast("timestamp")))
        .orderBy("user_id", "version")),

    // Volume-anomaly screen: hourly per-type counts z-scored against the
    // trailing 24 observed buckets (current excluded) — the ingestion-
    // rate alarm. Bounded bucket frame + keyed rolling window; exact
    // integer Σn/Σn² baselines, never Welford.
    "e43_rate_anomaly" -> ((s, d) =>
      EventOps.rateAnomalies(ev(s, d), "ts", "event_type", "1 hour",
          lookback = 24, zThresh = 3.0)
        .orderBy("ws", "event_type")),

    // STREAMING PSI drift monitor: purchase values replay in TWO
    // micro-batch epochs, per-bin counts accumulate additively
    // (histogramIngest), and the final PSI against the static click
    // histogram must hash-match the BATCH PSI over everything ingested
    // — the d27 mergeability discipline composed with the f57 drift op.
    "e48_stream_psi" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val evd = Tables.events(s, d)
      val expCounts = evd.filter(col("event_type") === "click")
        .groupBy(floor(col("value") / 50).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_expected"))
      val rows = purchaseValues(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Double]
      // clamp BEFORE start(): StreamExecution clones the session at
      // start, so conf set afterwards never reaches micro-batch planning
      val read = withStatePartitions(s, 4) {
        val (q, read) = graft.streaming.StreamOps.histogramIngest(
          input.toDF().toDF("value"), floor(col("value") / 50), "n_actual")
        try {
          val (a, b) = rows.splitAt(rows.length / 2)
          input.addData(a: _*); q.processAllAvailable()
          input.addData(b: _*); q.processAllAvailable()
        } finally q.stop()
        read
      }
      graft.ops.EvalOps.psiFromCounts(expCounts, read()).orderBy("bin")
    }),

    // Time-in-state attribution: each event owns the interval to its
    // user's next event — where user time actually goes (exact µs
    // integer gaps; open tails drop).
    "e46_dwell" -> ((s, d) =>
      EventOps.dwellTimes(ev(s, d), "user_id", "ts", "event_type",
          tieCol = "event_id")
        .orderBy("state")),

    // Hour-of-day × day-of-week additive seasonality profile: the
    // expected volume e43/e44 should alarm AGAINST; ≤ 7×24 cells from
    // one aggregate, marginal means joined back over the bounded frame.
    "e47_seasonal" -> ((s, d) =>
      EventOps.seasonalProfile(ev(s, d), "ts")
        .orderBy("dow", "hr")),

    // Stationary distribution of the event-type Markov chain: e29's
    // transition matrix closed by fixed dyadic-grid power iterations
    // (exact 2⁻⁴⁰ products, order-free sums — zero ulp exposure); the
    // oracle unrolls the identical 12 steps.
    "e45_markov_stationary" -> ((s, d) =>
      EventOps.markovStationary(ev(s, d), "user_id", "ts", "event_type",
          tieCol = "event_id", iters = 12)
        .orderBy("event_type")),

    // Next-action entropy per state: −Σ p·ln p over each transition
    // row — µ-unit exact term sums over |types|²-bounded counts.
    "e67_transition_entropy" -> ((s, d) =>
      EventOps.transitionEntropy(ev(s, d), "user_id", "ts",
          "event_type", tieCol = "event_id")
        .orderBy("event_type")),

    // Absorption probability: from each state, the chance the chain
    // reaches 'purchase' within 12 steps — e45's dyadic value
    // iteration with the absorbing column pinned at 1.
    "e64_absorbing_prob" -> ((s, d) =>
      EventOps.absorbingProbability(ev(s, d), "user_id", "ts",
          "event_type", tieCol = "event_id", absorb = "purchase",
          iters = 12)
        .orderBy("event_type")),

    // One-sided CUSUM drift detector: e43's sibling for SLOW rate
    // drifts (individually-normal buckets whose small excesses
    // accumulate). S⁺ = prefix-sum − running-min via two keyed
    // cumulative windows; ALL arithmetic is exact BIGINT µ-units.
    "e44_cusum" -> ((s, d) =>
      EventOps.cusumDrift(ev(s, d), "ts", "event_type", "1 hour",
          h = 20.0)
        .orderBy("ws", "event_type")),

    // Event-type association rules across user "baskets" — which
    // behaviors co-occur in the same user's history (signup→purchase
    // lift); BasketOps reused verbatim on (user, type) incidence.
    "e58_behavior_rules" -> ((s, d) =>
      graft.ops.BasketOps.associationRules(ev(s, d), "user_id",
          "event_type", minPairs = 2L)
        .orderBy("ante", "cons")),

    // Click-to-purchase latency per conversion: whole minutes since the
    // user's most recent PRIOR click (exclusive window — a purchase
    // can't trigger itself); null = organic. One keyed exchange.
    "e56_time_to_convert" -> ((s, d) =>
      EventOps.timeToConvert(ev(s, d), "user_id", "ts", "event_type",
          "event_id", triggerType = "click", conversionType = "purchase")
        .orderBy("user_id", "conv_id")),

    // First/last-touch revenue attribution of purchases: which event
    // type opened the user's journey vs which immediately preceded the
    // conversion. One keyed exchange carries both windows; money sums
    // through DECIMAL.
    "e55_attribution" -> ((s, d) =>
      EventOps.attribution(ev(s, d), "user_id", "ts", "event_type",
          "value", "event_id", conversionType = "purchase")
        .orderBy("model", "touch")),

    // Matthews correlation of the cheap screen (value > 140) against
    // the expensive label (purchase ∧ value > 150) — the imbalance-
    // honest confusion summary; four exact BIGINT counts, one
    // fixed-association close.
    "e53_mcc" -> ((s, d) =>
      graft.ops.EvalOps.mcc(ev(s, d),
        col("event_type") === "purchase"
          && col("value") > lit(150.0).cast("double"),
        col("value") > lit(140.0).cast("double"))),

    // Cramér's V effect size of event type × day-of-week — is the
    // weekly mix shift REAL and how strong (χ² alone grows with N);
    // e37's micro-unit cell discipline, one extra closing division.
    "e54_cramers_v" -> ((s, d) =>
      graft.ops.EvalOps.cramersV(
        ev(s, d).select(col("event_type").as("et"),
          dayofweek(col("ts")).as("dow")), "et", "dow")),

    // Kaplan–Meier survival of per-(user, event_type) engagement-stream
    // lifetimes (elapsed hours), right-censored: churn observed only
    // when the stream's last event clears the 72-hour corpus horizon
    // (naive retention curves miss the censoring). Per-duration frame
    // is calendar-bounded; the sequential product associates in
    // ascending-t order, replayed by the oracle's recursive CTE.
    "e52_kaplan_meier" -> ((s, d) =>
      EventOps.kaplanMeier(ev(s, d), Seq("user_id", "event_type"), "ts",
          gapUnits = 72, unitUs = 3600000000L)
        .orderBy("t")),

    // Theil–Sen robust hourly volume trend per event type: median of
    // pairwise slopes, LOW median by rank (no interpolating builtin),
    // (slope, x1, x2) total order — outlier-immune vs f35's linfit.
    "e51_theilsen" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).cast("double").as("y"))
        .select(col("event_type"),
          expr("unix_millis(window.start) div 3600000").as("x"), col("y"))
      EventOps.theilSen(hourly, "event_type", "x", "y")
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    }),

    // Holt double exponential smoothing (level + linear trend) of the
    // hourly value volume per event type, with the one-step-ahead
    // forecast — the baseline the rate alarms compare against. Per-key
    // sequential recurrence (typed one-pass, key-bounded state); α/β
    // binary-exact so the DuckDB recursive-CTE replay is bit-identical.
    "e50_holt" -> ((s, d) => {
      val hourly = EventOps.tumbling(ev(s, d), "ts", "1 hour",
        Seq(col("event_type")),
        Seq(round(sum(col("value")), 2).as("y")))
      EventOps.holtSmooth(hourly, "event_type", "ws", "y",
          alpha = 0.25, beta = 0.125)
        .toDF().withColumnRenamed("k", "event_type")
        .orderBy("event_type", "ws")
    }),

    // SEASONAL Holt-Winters (additive, period = 24 hourly buckets):
    // e50's level+trend recurrence plus the seasonal ring against the
    // hour-of-day structure e47 profiles — the real traffic forecaster.
    // Binary-exact α/β/γ (0.25/0.125/0.5); the oracle replays the
    // identical float sequence as a recursive CTE whose state carries
    // the 24-list of live seasonals.
    "e70_holt_winters" -> ((s, d) => {
      val hourly = EventOps.tumbling(ev(s, d), "ts", "1 hour",
        Seq(col("event_type")),
        Seq(round(sum(col("value")), 2).as("y")))
      EventOps.holtWinters(hourly, "event_type", "ws", "y",
          alpha = 0.25, beta = 0.125, gamma = 0.5, period = 24)
        .toDF().withColumnRenamed("k", "event_type")
        .orderBy("event_type", "ws")
    }),

    // STL-lite seasonal DECOMPOSITION: hourly volume = trend (centered
    // 25-hour moving average) + hour-of-day seasonal (mean detrended
    // value per hour slot) + residual — the "what is actually growing"
    // decomposition behind e47/e70, EXACT end to end: values in integer
    // cents, trend_u = Σcents×400 (25 divides 10⁴, so the centered mean
    // needs no rounding at all), seasonal = one deterministic division
    // per (type, hour) slot, residual = integer subtraction. Edge rows
    // without the full ±12 h window stay null, like pandas rolling
    // center=True min_periods.
    "e72_stl_decompose" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val hourly = EventOps.tumbling(ev(s, d), "ts", "1 hour",
          Seq(col("event_type")),
          Seq(round(sum(col("value")), 2).as("y")))
        .withColumn("yc", floor(col("y") * 100 + 0.5).cast("long"))
      val w = W.partitionBy("event_type").orderBy("ws")
        .rowsBetween(-12, 12)
      val t = hourly
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("trend_u",
          when(col("__n") === 25, sum(col("yc")).over(w) * 400L))
        .withColumn("d_u",
          when(col("trend_u").isNotNull,
            col("yc") * 10000L - col("trend_u")))
        .withColumn("hod", hour(col("ws")))
      val seas = t.filter(col("d_u").isNotNull)
        .groupBy("event_type", "hod")
        .agg(floor(sum(col("d_u")).cast("double")
          / count(lit(1)).cast("double") + 0.5).cast("long").as("seas_u"))
      t.join(seas, Seq("event_type", "hod"), "left")
        .select(col("event_type"), col("ws"), col("y"),
          col("trend_u"),
          when(col("d_u").isNotNull, col("seas_u")).as("seas_u"),
          when(col("d_u").isNotNull, col("d_u") - col("seas_u"))
            .as("resid_u"))
        .orderBy("event_type", "ws")
    }),

    // FORECAST-BASED anomaly detection: hours whose |observed − HW
    // forecast| exceeds 3× the expanding mean absolute residual of all
    // PRIOR hours (causal, ≥24-residual warm-up) — the alerting layer
    // e43/e44's fixed thresholds can't give a seasonal series. The
    // threshold compare is EXACT integer cross-multiplication on
    // 1e-6-unit residuals (r_u·n > 3·Σr_u), so the boolean can never
    // ulp-flip between engines.
    "e71_hw_anomalies" -> ((s, d) => {
      val hourly = EventOps.tumbling(ev(s, d), "ts", "1 hour",
        Seq(col("event_type")),
        Seq(round(sum(col("value")), 2).as("y")))
      val hw = EventOps.holtWinters(hourly, "event_type", "ws", "y",
          alpha = 0.25, beta = 0.125, gamma = 0.5, period = 24)
        .toDF().withColumnRenamed("k", "event_type")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ws")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      hw.withColumn("resid_u", when(col("fc6").isNotNull,
          floor(abs(col("y") - col("fc6")) * 1e6 + 0.5).cast("long")))
        .withColumn("n_prior", count(col("resid_u")).over(w))
        .withColumn("s_prior", sum(col("resid_u")).over(w))
        .withColumn("is_anomaly", col("resid_u").isNotNull
          && col("n_prior") >= 24
          && col("resid_u") * col("n_prior") > lit(3L) * col("s_prior"))
        .select(col("event_type"), col("ws"), col("y"), col("fc6"),
          col("resid_u"), col("n_prior"), col("is_anomaly"))
        .orderBy("event_type", "ws")
    }),

    // Multi-class classification report of a simulated 70%-accurate
    // auto-labeler against event_type: per-class confusion counts +
    // precision/recall/F1 plus global accuracy and Cohen's kappa — every
    // statistic ONE division of exact BIGINTs (f1 = 2tp/(2tp+fp+fn),
    // kappa cleared of its po/pe denominators), so even kappa
    // hash-matches.
    "e49_classify_eval" -> ((s, d) => {
      val types = array(lit("click"), lit("error"), lit("purchase"),
        lit("signup"), lit("view"))
      val pred = when(pmod(col("event_id"), lit(10)) < 7, col("event_type"))
        .otherwise(element_at(types,
          (pmod(col("event_id"), lit(5)) + 1).cast("int")))
      graft.ops.EvalOps.classificationReport(
          ev(s, d), col("event_type"), pred)
        .orderBy("label")
    }),

    // Per-hour ROC-AUC of event value predicting purchase — the
    // quality-scorer discrimination audit, via the rank-sum identity
    // over (group, distinct score) counts: no row-level ranking, one
    // keyed cumulative window, exact integer pair sums (½-tie weight
    // kept integral in 2·U).
    "e41_auc" -> ((s, d) =>
      graft.ops.EvalOps.aucBy(
          ev(s, d).select(hour(col("ts")).as("g"), col("event_type"),
            col("value")),
          "g", col("event_type") === "purchase", col("value"))
        .orderBy("g")),

    // Per-hour PR-AUC (average precision) of the same scorer — the
    // imbalanced-corpus acceptance metric ROC-AUC flatters (purchases
    // are the rare class): one (group, distinct score) aggregation, one
    // keyed cumulative window DESC, per-threshold ratios floored to
    // exact 1e-9-unit longs (order-free sum), AP closed by two fixed-
    // association divisions on the 6dp grid.
    "e73_pr_auc" -> ((s, d) =>
      graft.ops.EvalOps.averagePrecisionBy(
          ev(s, d).select(hour(col("ts")).as("g"), col("event_type"),
            col("value")),
          "g", col("event_type") === "purchase", col("value"))
        .orderBy("g")),


    // Chi-squared independence screen: event_type × hour-of-day
    // contingency with expected counts, per-cell contributions, and the
    // closing χ² (exact-µ-unit BIGINT total — no float accumulation).
    "e37_chi2" -> ((s, d) =>
      EventOps.chiSquare(
          ev(s, d).select(col("event_type"), hour(col("ts")).as("hr")),
          "event_type", "hr")
        .orderBy("a", "b")),

    // Top-20 3-step event-type paths: stacked leads on one user
    // exchange, path-keyed partial+final count, TakeOrderedAndProject
    // top-k.
    "e31_paths" -> ((s, d) =>
      EventOps.topPaths(ev(s, d), "user_id", "ts", "event_type",
        tieCol = "event_id", len = 3, k = 20)),

    // RFM segmentation with quartile scores: per-user recency/frequency/
    // monetary (2dp-snapped before scoring) + 1..4 scores from exact
    // quartile cuts (bounded 1-row driver probe).
    "e30_rfm" -> ((s, d) =>
      EventOps.rfm(ev(s, d), "user_id", "ts", "value")
        .select("user_id", "recency", "frequency", "monetary",
          "r_score", "f_score", "m_score")
        .orderBy("user_id")),

    // Ordered conversion funnel per user: first view -> first click at or
    // after it -> first purchase at or after that; one keyed graft_funnel
    // aggregation, whose map-side partials exchange a pruned state per user.
    "e27_funnel" -> ((s, d) =>
      EventOps.funnel(ev(s, d), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // Funnel conversion-rate summary: e27's per-user stage times closed
    // into reach counts + overall and step-wise rates — the one-row
    // scorecard a growth dashboard renders. count(col) counts non-null
    // stage times; every rate divides exact integer counts.
    "e65_funnel_rates" -> ((s, d) => {
      val r6 = graft.ops.TextOps.round6 _
      EventOps.funnel(ev(s, d), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_click"),
          count(col("t_purchase")).as("n_purchase"))
        .select(col("n_users"), col("n_view"), col("n_click"),
          col("n_purchase"),
          r6(col("n_view").cast("double") / col("n_users").cast("double"))
            .as("view_rate6"),
          r6(col("n_click").cast("double") / col("n_view").cast("double"))
            .as("click_step6"),
          r6(col("n_purchase").cast("double")
            / col("n_click").cast("double")).as("purchase_step6"))
    }),

    // Time BETWEEN sessions per user (return frequency): next session's
    // start minus this session's end over e02's sessionizer — exact µs
    // integer gaps, one keyed lead window over the bounded session
    // frame; users with one session drop.
    "e69_session_gaps" -> ((s, d) => {
      val sess = EventOps.sessions(ev(s, d), "user_id", "ts",
        "event_id", 1800L)
      val w = Window.partitionBy("user_id").orderBy("session_start")
      sess
        .withColumn("__next",
          lead(unix_micros(col("session_start")), 1).over(w))
        .filter(col("__next").isNotNull)
        .select(col("user_id"),
          (col("__next") - unix_micros(col("session_end"))).as("__gap"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum(col("__gap")).as("gap_us"))
        .withColumn("mean_gap_s6", graft.ops.TextOps.round6(
          col("gap_us").cast("double") / col("n_gaps").cast("double")
            / lit(1e6)))
        .orderBy("user_id")
    }),

    // Gap-based sessionization (30-min inactivity) per user.
    "e02_sessions" -> ((s, d) =>
      EventOps.sessions(ev(s, d), "user_id", "ts", "event_id", 1800L)
        .orderBy("user_id", "session_id")),

    // Top-20 SESSION PATHS: the ordered event-type walk of every gap
    // session, counted corpus-wide — which journeys users actually
    // take (the discovery sibling of e27's declared funnel). One
    // sessionize window, one keyed sort+join reassembly, one count;
    // top-k deterministic on (n DESC, path ASC).
    "e75_session_paths" -> ((s, d) =>
      EventOps.sessionPaths(ev(s, d), "user_id", "ts", "event_id",
        "event_type", 1800L, k = 20)),

    // Session-depth histogram: how many sessions hold exactly n events
    // (the engagement-shape datasheet; bounce rate = the n=1 bucket
    // share). e02's sessionizer → one count-of-counts aggregation.
    "e59_session_depth" -> ((s, d) => {
      val sess = EventOps.sessions(ev(s, d), "user_id", "ts",
        "event_id", 1800L)
      val total = sess.count() // 1-value probe: total session count
      sess.groupBy(col("n_events"))
        .agg(count(lit(1)).as("n_sessions"))
        .withColumn("share6", graft.ops.TextOps.round6(
          col("n_sessions").cast("double") / lit(total.toDouble)))
        .orderBy("n_events")
    }),

    // Cohort retention matrix: users cohort by first-seen week; each
    // cell = that cohort's active users N weeks later, with the
    // retention share — the product-analytics triangle every event
    // warehouse ships. One distinct (user, week) frame, two keyed
    // aggregates, |cohorts|-bounded broadcast join.
    "e60_retention_cohorts" -> ((s, d) =>
      EventOps.retentionCohorts(ev(s, d), "user_id", "ts")
        .orderBy("cohort_week", "week_no")),

    // Daily-seasonality screen: lag-24h autocorrelation of hourly
    // volume per type — exact BIGINT co-moments over integer counts,
    // one epoch-second equi-join.
    "e63_volume_autocorr" -> ((s, d) =>
      EventOps.volumeAutocorr(ev(s, d), "event_type", "ts",
          lagBuckets = 24)
        .orderBy("event_type")),

    // Full correlogram, lags 1..24 per type in ONE plan — e63's single
    // lag swept; the lag-24 spike is the daily-rhythm detector.
    "e68_correlogram" -> ((s, d) =>
      EventOps.correlogram(ev(s, d), "event_type", "ts", maxLag = 24)
        .orderBy("event_type", "lag")),

    // DAU/MAU stickiness per day: two distinct-frame counts off one
    // projection, calendar-bounded month side broadcast back.
    "e62_stickiness" -> ((s, d) =>
      EventOps.stickiness(ev(s, d), "user_id", "ts")
        .orderBy("day")),

    // Per-user running total + 5-event moving average, by event time.
    "e03_running_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .withColumn("cum", round(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("mavg", round(avg(col("value")).over(
          w.rowsBetween(-4, Window.currentRow)), 6))
        .select("event_id", "user_id", "cum", "mavg")
        .orderBy("event_id")
    }),

    // JSON scalar functions: parse the props JSON column, extract k, and
    // aggregate — get_json_object is codegen'd, no UDF.
    "e05_json_extract" -> ((s, d) =>
      ev(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          round(avg(col("k")), 6).as("avg_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // Hourly share of each event type: agg then window-over-agg (two-level:
    // bucket counts, then normalize within the hour).
    "e04_hourly_share" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      hourly
        .withColumn("share", round(col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy("hr")).cast("double"), 6))
        .orderBy("hr", "event_type")
    }),

    // As-of join: each purchase picks up the value of that user's most
    // recent click at-or-before it (null if none). Union+window — one
    // shuffle on user_id, no range theta-join.
    "e06_asof" -> ((s, d) => {
      val e = ev(s, d)
      EventOps.asofJoin(
          e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value"),
          e.filter(col("event_type") === "click"),
          "user_id", "ts", "event_id", Seq("value"), "click_")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("pv"),
          round(col("click_value"), 2).as("cv"))
        .orderBy("event_id")
    }),

    // Forward as-of (pandas merge_asof direction='forward'): each purchase
    // picks up that user's NEXT click at-or-after it. Same union+window
    // plan as e06 with the frame reversed.
    "e14_asof_forward" -> ((s, d) => {
      val e = ev(s, d)
      EventOps.asofJoin(
          e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value"),
          e.filter(col("event_type") === "click"),
          "user_id", "ts", "event_id", Seq("value"), "click_",
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("pv"),
          round(col("click_value"), 2).as("cv"))
        .orderBy("event_id")
    }),

    // Nearest as-of (pandas merge_asof direction='nearest', equal distance
    // → backward): both frames ride ONE exchange on user_id; distances
    // compare in exact epoch-µs longs.
    "e15_asof_nearest" -> ((s, d) => {
      val e = ev(s, d)
      EventOps.asofJoin(
          e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value"),
          e.filter(col("event_type") === "click"),
          "user_id", "ts", "event_id", Seq("value"), "click_",
          direction = "nearest")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("pv"),
          round(col("click_value"), 2).as("cv"))
        .orderBy("event_id")
    }),

    // pandas merge_asof(tolerance=): nearest click within 24h — matches
    // farther than the bound null out AFTER the window pick (equivalent
    // to pandas' pre-filter: the chosen side is the closer one, so if it
    // is beyond tolerance both are). ~40% of fixture matches fall outside
    // the bound, so both outcomes are exercised.
    "e17_asof_tolerance" -> ((s, d) => {
      val e = ev(s, d)
      EventOps.asofJoin(
          e.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value"),
          e.filter(col("event_type") === "click"),
          "user_id", "ts", "event_id", Seq("value"), "click_",
          direction = "nearest", toleranceUs = Some(86400000000L))
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("pv"),
          round(col("click_value"), 2).as("cv"))
        .orderBy("event_id")
    }),

    // Global (un-keyed) merge_asof — pandas' DEFAULT (no by=): each
    // purchase picks up the latest / next / nearest click ACROSS ALL
    // USERS. With no key to partition on, the tagged union is
    // range-bucketed by event time with at most 2·buckets extremal right
    // rows replayed as carries (EventOps.asofJoinGlobal) — no
    // single-task global window. All three directions in one gate,
    // joined on the unique purchase event_id.
    "e18_asof_global" -> ((s, d) => {
      val e = ev(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = e.filter(col("event_type") === "click")
      def one(dir: String, n: String) =
        EventOps.asofJoinGlobal(p, c, "ts", "event_id", Seq("value"),
          "g_", direction = dir)
          .select(col("event_id"), round(col("g_value"), 2).as(n))
      p.select(col("event_id"), round(col("value"), 2).as("pv"))
        .join(one("backward", "bv"), Seq("event_id"))
        .join(one("forward", "fv"), Seq("event_id"))
        .join(one("nearest", "nv"), Seq("event_id"))
        .orderBy("event_id")
    }),

    // The streaming replay gates run with 8 state partitions instead of
    // the session's 32: a stateful query creates (and commits, per batch)
    // one state store PER shuffle partition, a fixed cost the fixture-size
    // replay doesn't amortize. Production sizes this to key cardinality /
    // executor count — the operator itself is partition-count agnostic
    // (state is hash-partitioned by key either way). Conf is restored
    // after the replay; batch queries are unaffected.

    // STREAMING under the hash gate: replay the whole events fixture
    // through the stateful flatMapGroupsWithState sessionizer
    // (MemoryStream → memory sink), flush every session closed via two
    // watermark-advancing sentinels on a user id outside the fixture, and
    // return the closed sessions — the oracle is the same batch-session
    // SQL as e02. The collect here is the REPLAY HARNESS feeding the
    // source, not part of the operator: in production the source is
    // spark.readStream and the sessionizer's state stays partitioned in
    // the state store (see StreamOps scaladoc).
    "e09_stream_sessions" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = tsUserRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"graft_e09_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .sessionizeStream(input.toDF().toDF("ts", "user_id"), 1800L, "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // ONE replay round: fixture + both far-future sentinels land in
          // a single micro-batch; the engine's watermark-advance re-batch
          // (shouldRunAnotherBatch) then fires every event-time timeout
          // and flushes all closed sessions. Same output as a
          // batch-per-sentinel replay (multi-batch arrival semantics are
          // StreamingSpec's job), ~2 batch cycles cheaper.
          input.addData(rows: _*)
          input.addData(
            (java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L))
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name).filter(col("closed") && col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // pandas merge_asof(allow_exact_matches=False) — the strict
    // inequality, gated on the canonical use: a SELF as-of (previous /
    // next purchase per user). Inclusive would match each row to itself;
    // strict excludes the equal-timestamp copy purely by the side-order
    // flip, so every row exercises the strictness path.
    "e20_asof_strict" -> ((s, d) => {
      val e = ev(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      def one(dir: String, n: String) =
        EventOps.asofJoin(p, p, "user_id", "ts", "event_id", Seq("value"),
          "pp_", direction = dir, allowExactMatches = false)
          .select(col("event_id"), round(col("pp_value"), 2).as(n))
      p.select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("pv"))
        .join(one("backward", "prev_v"), Seq("event_id"))
        .join(one("forward", "next_v"), Seq("event_id"))
        .orderBy("event_id")
    }),

    // STREAMING per-user EMA under the hash gate: the full events fixture
    // replays through ewmStream (flatMapGroupsWithState: out-of-order
    // events buffer in state; each watermark advance finalizes the
    // strictly-older prefix in (ts, event_id) order and folds it through
    // the recurrence). alpha=0.25 makes w=0.75 DYADIC — every fold step
    // is bit-identical in both engines, so the full replay hash-matches
    // the per-user recursive-CTE oracle with no tolerance games. The
    // collect is the replay harness, not the operator (production side
    // is readStream).
    "e19_stream_ewm" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = userEvTsValRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
      val name = s"graft_e19_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .ewmStream(input.toDF()
            .toDF("user_id", "event_id", "ts", "value"), 0.25, "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // One replay round (see e09): sentinels ride the data batch,
          // the watermark-advance re-batch flushes the fold.
          input.addData(rows: _*)
          input.addData((-1L, -1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0),
            (-1L, -2L,
            java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), 0.0))
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name).filter(col("user_id") >= 0)
        .select(col("event_id").as("idx"), col("user_id"),
          graft.ops.TextOps.round6(col("ema")).as("em"))
        .orderBy("idx")
    }),

    // STREAMING AS-OF JOIN under the hash gate: purchases are the
    // reference stream (side 0), every other event is a probe (side 1);
    // the full fixture replays out of its natural order through
    // asofStream (both sides buffer per user under the watermark; each
    // advance finalizes the strictly-older prefix in (ts, side, id)
    // order, so a right row at an equal ts wins — inclusive backward,
    // the batch twin's side ordering). Values pass through exactly — no
    // rounding. The collect is the replay harness, not the operator.
    "e22_stream_asof" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = asofSideRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, java.sql.Timestamp, Double, Int)]
      val name = s"graft_e22_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .asofStream(input.toDF()
            .toDF("user_id", "event_id", "ts", "value", "side"),
            "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // One replay round (see e09): sentinels ride the data batch,
          // the watermark-advance re-batch flushes the buffered as-of.
          input.addData(rows: _*)
          input.addData((-1L, -1L,
            java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0, 0),
            (-1L, -2L,
            java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), 0.0, 0))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name).filter(col("user_id") >= 0)
        .select(col("event_id").as("idx"), col("user_id"),
          col("matched").as("mv"))
        .orderBy("idx")
    }),

    // STREAMING HOPPING WINDOWS under the hash gate: the full fixture
    // replays through windowedAgg(1 hour, slide 15 min) — the same
    // window() Expand as batch e21 running as a watermarked streaming
    // aggregation in append mode. Two far-future sentinel events advance
    // the watermark past every fixture window (emission happens in the
    // batch AFTER the watermark moves), then sentinels filter out. Must
    // hash-match e21's 4-windows-per-event DuckDB oracle exactly. The
    // collect is the replay harness, not the operator.
    "e23_stream_hopping" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = tsTypeValRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, String, Double)]
      val name = s"graft_e23_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .windowedAgg(input.toDF().toDF("ts", "event_type", "value"),
            "0 seconds", "1 hour", "15 minutes")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // One replay round (see e09): sentinels ride the data batch,
          // the watermark-advance re-batch emits the finalized windows.
          input.addData(rows: _*)
          input.addData((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
            "__wm", 0.0),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"),
            "__wm", 0.0))
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name).filter(col("event_type") =!= "__wm")
        .select(col("ws"), col("event_type"), col("n"),
          round(col("total"), 2).as("total"))
        .orderBy("ws", "event_type")
    }),

    // STREAMING TRENDING under the hash gate: the tumbling-hour counts
    // run as a watermarked streaming aggregation (the e23 harness, slide
    // = duration), and the top-3 rank is a per-batch consumer over the
    // FINALIZED windows of the sink — the shape a live dashboard uses.
    // Must hash-match e25's batch trending oracle.
    "e35_stream_trending" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = tsTypeValRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, String, Double)]
      val name = s"graft_e35_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .windowedAgg(input.toDF().toDF("ts", "event_type", "value"),
            "0 seconds", "1 hour", "1 hour")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          input.addData(rows: _*)
          input.addData((java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
            "__wm", 0.0),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"),
            "__wm", 0.0))
          q.processAllAvailable()
        } finally q.stop()
      }
      val W = Window.partitionBy(col("ws"))
        .orderBy(col("n").desc, col("event_type").asc)
      s.table(name).filter(col("event_type") =!= "__wm")
        .withColumn("rk", row_number().over(W))
        .filter(col("rk") <= 3)
        .select("ws", "event_type", "n", "rk")
        .orderBy("ws", "rk")
    }),

    // NATIVE session_window under the same hash gate as e09: identical
    // replay harness, but the sessionizer is the first-class
    // session_window streaming aggregation (engine-managed merging
    // session state) instead of hand-rolled flatMapGroupsWithState.
    // session_end = window.end − gap (native end is last event + gap);
    // the oracle is e02/e09's batch-session SQL — both sessionizers must
    // agree with the batch gap rule row for row.
    "e12_session_window" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = tsUserRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"graft_e12_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .sessionizeNativeStream(input.toDF().toDF("ts", "user_id"), 1800L,
            "0 seconds")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          // One replay round (see e09): sentinels ride the data batch,
          // the watermark-advance re-batch emits the finalized sessions.
          input.addData(rows: _*)
          input.addData(
            (java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L))
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name).filter(col("user_id") >= 0)
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // STREAMING dedup under the hash gate: the events fixture replayed
    // through dropDuplicatesWithinWatermark keyed by (user_id,
    // event_type). Only the KEY columns are projected — which physical
    // row survives is arrival-order-dependent (append-mode dedup emits
    // the first arrival), but the key set is exact — so the oracle is a
    // plain DISTINCT. Survivor-identity behavior is covered in
    // StreamingSpec; this gate proves the watermarked state op emits
    // exactly one row per key over a full fixture replay.
    "e10_stream_dedup" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = tsUserTypeRows(s, d)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long, String)]
      val name = s"graft_e10_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val q = graft.streaming.StreamOps
          .dedupStream(input.toDF().toDF("ts", "user_id", "event_type"),
            "10 minutes", Seq("user_id", "event_type"))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          input.addData(rows: _*)
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name).select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    // STREAM-STREAM interval join under the hash gate: clicks and
    // purchases replayed as two watermarked streams; the time bound rides
    // the join condition so state evicts past the watermark, and inner
    // matches emit as both sides arrive. Oracle = the batch BETWEEN join.
    "e11_stream_join" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = clickBuyRows(s, d)
      val clicks = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val buys = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"graft_e11_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val joined = graft.streaming.StreamOps.intervalJoinStream(
          clicks.toDF().toDF("ts", "user_id"), buys.toDF().toDF("ts", "user_id"),
          "user_id", "30 minutes", "15 minutes")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          clicks.addData(rows.collect { case (t, u, "click") => (t, u) }: _*)
          buys.addData(rows.collect { case (t, u, "purchase") => (t, u) }: _*)
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      s.table(name)
        .select(col("l_user_id").as("user_id"), col("l_ts").as("click_ts"),
          col("r_ts").as("buy_ts"))
        .orderBy("user_id", "click_ts", "buy_ts")
    }),

    // STREAM-STREAM LEFT OUTER interval join: e11's clicks×purchases
    // pairing, but unmatched clicks ALSO emit (null buy) — the engine
    // holds them until the watermark proves no match can arrive, then
    // late-emits. Sentinels ride BOTH streams (the global watermark is
    // the min across sources). Oracle = the batch LEFT JOIN.
    "e42_stream_outer_join" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = clickBuyRows(s, d)
      val clicks = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val buys = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"graft_e42_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val joined = graft.streaming.StreamOps.intervalJoinStream(
          clicks.toDF().toDF("ts", "user_id"),
          buys.toDF().toDF("ts", "user_id"),
          "user_id", "30 minutes", "15 minutes", joinType = "leftOuter")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val sent = Seq(
            (java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L))
          clicks.addData(
            (rows.collect { case (t, u, "click") => (t, u) } ++ sent): _*)
          buys.addData(
            (rows.collect { case (t, u, "purchase") => (t, u) } ++ sent): _*)
          q.processAllAvailable()
        } finally q.stop() // memory sink retains the batches after stop
      }
      // null buy (the outer-ness under test) surfaces as the ns-safe
      // sentinel — typed null timestamps have no portable equality in
      // the compare harness (the e36 lesson)
      s.table(name).filter(col("l_user_id") >= 0)
        .select(col("l_user_id").as("user_id"), col("l_ts").as("click_ts"),
          coalesce(col("r_ts"),
            lit("2200-01-01 00:00:00").cast("timestamp")).as("buy_ts"),
          col("r_ts").isNull.as("unmatched"))
        .orderBy("user_id", "click_ts", "buy_ts")
    }),

    // STREAM-STREAM FULL OUTER interval join: e42's shape with BOTH
    // sides late-emitting their unmatched rows on watermark proof —
    // clicks that never converted AND purchases with no preceding
    // click, one streaming query. Nulls surface as the ns-safe
    // sentinel (the e36 lesson); side labels the provenance.
    "e66_stream_full_outer" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = clickBuyRows(s, d)
      val clicks = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val buys = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"graft_e66_${System.nanoTime()}"
      withStatePartitions(s, 4) {
        val joined = graft.streaming.StreamOps.intervalJoinStream(
          clicks.toDF().toDF("ts", "user_id"),
          buys.toDF().toDF("ts", "user_id"),
          "user_id", "30 minutes", "15 minutes", joinType = "fullOuter")
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val sent = Seq(
            (java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L),
            (java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L))
          clicks.addData(
            (rows.collect { case (t, u, "click") => (t, u) } ++ sent): _*)
          buys.addData(
            (rows.collect { case (t, u, "purchase") => (t, u) } ++ sent): _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table(name)
        .filter(coalesce(col("l_user_id"), col("r_user_id")) >= 0)
        .select(
          coalesce(col("l_user_id"), col("r_user_id")).as("user_id"),
          coalesce(col("l_ts"),
            lit("2200-01-01 00:00:00").cast("timestamp")).as("click_ts"),
          coalesce(col("r_ts"),
            lit("2200-01-01 00:00:00").cast("timestamp")).as("buy_ts"),
          when(col("l_ts").isNull, "right")
            .when(col("r_ts").isNull, "left")
            .otherwise("both").as("side"))
        .orderBy("user_id", "click_ts", "buy_ts")
    }),

    // Trailing 1-hour RANGE-frame window per user: event count + value sum
    // in [ts - 1h, ts] at every event (velocity features). Frame is a time
    // range, not a row count — none of the other window gates exercise
    // RANGE frames.
    "e08_trailing_hour" -> ((s, d) =>
      EventOps.trailingRange(ev(s, d), "user_id", "ts", 3600L,
          Seq(count(lit(1)) -> "n_1h", sum(col("value")) -> "sv"))
        .select(col("event_id"), col("user_id"), col("n_1h"),
          round(col("sv"), 2).as("v_1h"))
        .orderBy("event_id")),

    // Point-in-interval range join: events ⨝ per-user session intervals
    // (30-min gap, from e02) via the bucketed equi-join rewrite — count of
    // contained events per session must reproduce the session's n_events.
    "e07_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val sess = EventOps.sessions(e, "user_id", "ts", "event_id", 1800L)
      EventOps.intervalJoin(e.select("user_id", "ts"), sess,
          "user_id", "ts", "session_start", "session_end",
          bucketSeconds = 3600L)
        .groupBy(col("user_id"), col("iv_session_id").as("session_id"))
        .agg(count(lit(1)).as("n_in"),
          first(col("iv_n_events")).as("n_events"))
        .orderBy("user_id", "session_id")
    }),

    // STREAMING FILE SINK under the hash gate: the events fixture streams
    // through a watermarked pass-through into an append-mode PARQUET sink
    // (checkpointed — the exactly-once production sink, vs the memory sink
    // every other streaming gate uses), then the written files are read
    // back. Values must round-trip the sink bit-exactly; the _spark_
    // _metadata transaction log is what makes a partial write invisible.
    "e16_stream_file_sink" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = idUserValRows(s, d)
      // unique per-invocation sink (the d18 rule: a fixed path lets two
      // concurrent runs on one machine clobber each other mid-query)
      val out = java.nio.file.Files.createTempDirectory("graft_e16_sink")
        .toString
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Double)]
      val q = input.toDF().toDF("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .outputMode("append").start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
      } finally q.stop()
      val res = s.read.parquet(s"$out/data")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 2).as("v"))
        .orderBy("event_id")
        .localCheckpoint(true)
      fs.delete(p, true)
      res
    }),

    // STREAM-STATIC enrichment under the hash gate: the events fixture
    // replayed as a stream, each micro-batch broadcast-joined to the
    // STATIC customer dimension (market segment on user_id = c_custkey).
    // Stateless — no watermark, no join state — so one replay pass emits
    // exactly the batch join; the oracle is that batch join.
    "e13_stream_static" -> ((s, d) => {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val rows = idUserRows(s, d)
      val dim = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val name = s"graft_e13_${System.nanoTime()}"
      val q = graft.streaming.StreamOps
        .enrichStream(input.toDF().toDF("event_id", "user_id"), dim,
          "user_id", "c_custkey")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
      } finally q.stop() // memory sink retains the batches after stop
      s.table(name).select("event_id", "user_id", "c_mktsegment")
        .orderBy("event_id")
    })
  )

  /** e45's unrolled power-iteration replay (the d20 builder pattern):
    * row probs floor to the 2⁻²⁰ grid, each step's matvec snaps back to
    * it — every arithmetic step exact, so the chain is bit-identical. */
  private def markovSql(iters: Int): String = {
    val head =
      """WITH tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM
           (SELECT event_type AS src,
              lead(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events) WHERE dst IS NOT NULL GROUP BY 1, 2),
         ty AS (SELECT DISTINCT src AS t FROM tr
           UNION SELECT DISTINCT dst FROM tr),
         kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
         rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot
           FROM tr GROUP BY 1),
         p AS (SELECT a.t AS src, b.t AS dst,
             CASE WHEN rt.tot IS NULL THEN
               floor(1.0 / (SELECT k FROM kk) * 1048576 + 0.5) / 1048576
             ELSE floor(CAST(COALESCE(tr.n, 0) AS DOUBLE) * 1048576
               / rt.tot) / 1048576 END AS pr
           FROM ty a CROSS JOIN ty b
           LEFT JOIN tr ON tr.src = a.t AND tr.dst = b.t
           LEFT JOIN rt ON rt.src = a.t),
         x0 AS (SELECT t AS et,
           CAST(floor(1.0 / (SELECT k FROM kk) * 1048576 + 0.5) / 1048576
             AS DOUBLE) AS xv FROM ty)"""
    val its = (1 to iters).map { i =>
      s"""x$i AS (SELECT p.dst AS et,
           floor(sum(x.xv * p.pr) * 1048576 + 0.5) / 1048576 AS xv
         FROM x${i - 1} x JOIN p ON p.src = x.et GROUP BY 1)"""
    }.mkString(",\n")
    s"$head,\n$its\n SELECT et AS event_type, xv AS pi20 FROM x$iters " +
      "ORDER BY event_type"
  }

  /** e64 oracle: [[markovSql]]'s transition/probability CTEs with the
    * absorbing-pinned value iteration unrolled — products are exact
    * 2⁻⁴⁰ multiples, so the group sums are order-free exact. */
  private def absorbSql(absorb: String, iters: Int): String = {
    val head =
      s"""WITH tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM
           (SELECT event_type AS src,
              lead(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events) WHERE dst IS NOT NULL GROUP BY 1, 2),
         ty AS (SELECT DISTINCT src AS t FROM tr
           UNION SELECT DISTINCT dst FROM tr),
         kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
         rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot
           FROM tr GROUP BY 1),
         p AS (SELECT a.t AS src, b.t AS dst,
             CASE WHEN rt.tot IS NULL THEN
               floor(1.0 / (SELECT k FROM kk) * 1048576 + 0.5) / 1048576
             ELSE floor(CAST(COALESCE(tr.n, 0) AS DOUBLE) * 1048576
               / rt.tot) / 1048576 END AS pr
           FROM ty a CROSS JOIN ty b
           LEFT JOIN tr ON tr.src = a.t AND tr.dst = b.t
           LEFT JOIN rt ON rt.src = a.t),
         h0 AS (SELECT t AS et,
           CAST(CASE WHEN t = '$absorb' THEN 1.0 ELSE 0.0 END AS DOUBLE)
             AS hv FROM ty)"""
    val its = (1 to iters).map { i =>
      s"""h$i AS (SELECT p.src AS et,
           CASE WHEN p.src = '$absorb' THEN CAST(1.0 AS DOUBLE)
             ELSE floor(sum(h.hv * p.pr) * 1048576 + 0.5) / 1048576
           END AS hv
         FROM h${i - 1} h JOIN p ON p.dst = h.et GROUP BY p.src)"""
    }.mkString(",\n")
    s"$head,\n$its\n SELECT et AS event_type, hv AS h20 FROM h$iters " +
      "ORDER BY event_type"
  }

  /** e70's full recursion — also the head of e71's oracle (the e57/e27
    * reuse doctrine: one spelling, registered under both keys'
    * derivations). */
  private val HoltWintersSql =
    """WITH RECURSIVE h AS (
           SELECT date_trunc('hour', ts) AS ws, event_type,
             round(sum(value), 2) AS y
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, ws, y,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY ws) AS BIGINT) AS rn
           FROM h),
         r AS (
           SELECT event_type, ws, y, rn,
             CAST(NULL AS DOUBLE) AS fc, y AS l,
             CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s,
             list_transform(range(24), x -> CAST(0.0 AS DOUBLE)) AS sl
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.ws, o.y, o.rn,
             r.l + r.b + r.sl[1] AS fc,
             0.25 * (o.y - r.sl[1]) + 0.75 * (r.l + r.b) AS l,
             0.125 * ((0.25 * (o.y - r.sl[1]) + 0.75 * (r.l + r.b))
               - r.l) + 0.875 * r.b AS b,
             0.5 * (o.y - r.l - r.b) + 0.5 * r.sl[1] AS s,
             list_append(r.sl[2:24],
               0.5 * (o.y - r.l - r.b) + 0.5 * r.sl[1]) AS sl
           FROM r JOIN o ON o.event_type = r.event_type
             AND o.rn = r.rn + 1)
         SELECT event_type, ws, y,
           CASE WHEN fc IS NOT NULL
             THEN floor(fc * 1e6 + 0.5) / 1e6 END AS fc6,
           floor(l * 1e6 + 0.5) / 1e6 AS l6,
           floor(b * 1e6 + 0.5) / 1e6 AS b6,
           floor(s * 1e6 + 0.5) / 1e6 AS s6
         FROM r ORDER BY event_type, ws"""

  val oracles: Map[String, String] = Map(
    "e45_markov_stationary" -> markovSql(iters = 12),
    "e64_absorbing_prob" -> absorbSql(absorb = "purchase", iters = 12),
    // e67: identical µ-unit −p·ln p terms over the same transition
    // counts; order-free exact integer totals.
    "e67_transition_entropy" ->
      """WITH tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM
           (SELECT event_type AS src,
              lead(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events) WHERE dst IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot
           FROM tr GROUP BY 1)
         SELECT src AS event_type, CAST(count(*) AS BIGINT) AS n_dst,
           max(tot) AS n_out,
           CAST(sum(CAST(floor(-(CAST(n AS DOUBLE) / tot
               * ln(CAST(n AS DOUBLE) / tot)) * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / 1e6 AS entropy6
         FROM tr JOIN tot USING (src)
         GROUP BY src ORDER BY event_type""",
    // e48: the batch PSI over all ingested purchases vs the static
    // click histogram (the f57 oracle shape on events).
    "e48_stream_psi" ->
      """WITH e AS (SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
             count(*) AS ne
           FROM events WHERE event_type = 'click' GROUP BY 1),
         a AS (SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
             count(*) AS na
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         j AS (SELECT COALESCE(e.bin, a.bin) AS bin,
             CAST(COALESCE(ne, 0) AS BIGINT) AS n_expected,
             CAST(COALESCE(na, 0) AS BIGINT) AS n_actual
           FROM e FULL OUTER JOIN a ON e.bin = a.bin),
         t AS (SELECT CAST(sum(n_expected) AS BIGINT) AS nexp,
             CAST(sum(n_actual) AS BIGINT) AS nact FROM j),
         s AS (SELECT bin, n_expected, n_actual,
             CASE WHEN n_expected > 0 AND n_actual > 0 THEN
               floor((CAST(n_expected AS DOUBLE) / nexp
                   - CAST(n_actual AS DOUBLE) / nact)
                 * ln((CAST(n_expected AS DOUBLE) * nact)
                   / (CAST(n_actual AS DOUBLE) * nexp))
                 * 1e6 + 0.5) / 1e6
             END AS psi6
           FROM j, t)
         SELECT bin, n_expected, n_actual, psi6,
           CAST(sum(CASE WHEN psi6 IS NOT NULL THEN
               CAST(floor(psi6 * 1e6 + 0.5) AS BIGINT) ELSE 0 END)
             OVER () AS DOUBLE) / 1e6 AS psi_total
         FROM s ORDER BY bin""",
    "e46_dwell" ->
      """WITH x AS (SELECT event_type AS state,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS g
           FROM events)
         SELECT state, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(g) AS BIGINT) AS dwell_us,
           floor(CAST(sum(g) AS DOUBLE) / 1e6 / count(*) * 1e6 + 0.5)
             / 1e6 AS mean_s6
         FROM x WHERE g IS NOT NULL GROUP BY 1 ORDER BY 1""",
    // e47: every mean is floor((sum/count)·1e6+0.5)/1e6 of exact
    // integers; expected/resid subtract those identical doubles.
    "e47_seasonal" ->
      """WITH c AS (SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             CAST(hour(ts) AS INTEGER) AS hr,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         mh AS (SELECT hr, floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6
             + 0.5) / 1e6 AS mh FROM c GROUP BY 1),
         md AS (SELECT dow, floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6
             + 0.5) / 1e6 AS md FROM c GROUP BY 1),
         g AS (SELECT floor(CAST(sum(n) AS DOUBLE) / count(*) * 1e6
             + 0.5) / 1e6 AS gm FROM c)
         SELECT dow, hr, n, mh + md - gm AS expected6,
           CAST(n AS DOUBLE) - (mh + md - gm) AS resid6
         FROM c JOIN mh USING (hr) JOIN md USING (dow), g
         ORDER BY dow, hr""",
    "e13_stream_static" ->
      """SELECT event_id, user_id, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",
    "e16_stream_file_sink" ->
      """SELECT event_id, user_id, round(value, 2) AS v
         FROM events ORDER BY event_id""",
    "e01_tumbling_hour" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n,
           round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "e22_stream_asof" ->
      """WITH l AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type <> 'purchase'),
         r AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT l.event_id AS idx, l.user_id,
           (SELECT r.value FROM r WHERE r.user_id = l.user_id
              AND r.ts <= l.ts ORDER BY r.ts DESC LIMIT 1) AS mv
         FROM l ORDER BY idx""",
    "e23_stream_hopping" ->
      """WITH x AS (SELECT epoch_us(ts) AS us, event_type, value
             FROM events),
         k AS (SELECT us, event_type, value, u.i AS i
               FROM x, LATERAL unnest(range(0, 4)) AS u(i)),
         w AS (SELECT make_timestamp((us - us % 900000000)
                 - i * 900000000) AS ws, event_type, value FROM k)
         SELECT ws, event_type, count(*) AS n,
           round(sum(value), 2) AS total
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "e21_hopping" ->
      """WITH x AS (SELECT epoch_us(ts) AS us, event_type, value
             FROM events),
         k AS (SELECT us, event_type, value, u.i AS i
               FROM x, LATERAL unnest(range(0, 4)) AS u(i)),
         w AS (SELECT make_timestamp((us - us % 900000000)
                 - i * 900000000) AS ws, event_type, value FROM k)
         SELECT ws, event_type, count(*) AS n,
           round(sum(value), 2) AS total
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "e26_twap" ->
      """WITH x AS (SELECT user_id, value,
             CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS DOUBLE) AS dt
           FROM events)
         SELECT user_id,
           floor((sum(value * dt) / sum(dt)) * 1e6 + 0.5) / 1e6 AS twavg
         FROM x GROUP BY user_id ORDER BY user_id""",
    "e28_retention" ->
      """WITH f AS (SELECT user_id,
             min(date_trunc('week', ts)) AS cohort
           FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS b
           FROM events)
         SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.b) / 7 AS INTEGER)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "e33_gap_stats" ->
      """WITH x AS (SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type, user_id
               ORDER BY ts, event_id) AS gap
           FROM events)
         SELECT event_type, count(*) AS n_gaps, avg(gap) AS mean_us,
           quantile_cont(gap, 0.25) AS p25,
           quantile_cont(gap, 0.5) AS p50,
           quantile_cont(gap, 0.75) AS p75
         FROM x WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "e34_active_users" ->
      """WITH a AS (SELECT DISTINCT user_id,
             date_trunc('hour', ts) AS h FROM events),
         f AS (SELECT user_id, min(h) AS fh FROM a GROUP BY 1)
         SELECT h AS ws, count(*) AS active,
           CAST(sum(CASE WHEN h = fh THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users
         FROM a JOIN f USING (user_id) GROUP BY 1 ORDER BY 1""",
    "e40_ab_test" ->
      """WITH u AS (SELECT user_id, user_id % 2 = 0 AS va,
             CAST(max(CASE WHEN event_type = 'purchase'
                 AND value > CAST(150.0 AS DOUBLE) THEN 1 ELSE 0 END)
               AS BIGINT) AS conv
           FROM events GROUP BY user_id),
         s AS (SELECT
             CAST(sum(CASE WHEN va THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN va AND conv = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(sum(CASE WHEN NOT va THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(sum(CASE WHEN NOT va AND conv = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS c2
           FROM u)
         SELECT n1, c1, n2, c2,
           CASE WHEN n1 > 0 THEN
             floor(CAST(c1 AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6 END AS p1_6,
           CASE WHEN n2 > 0 THEN
             floor(CAST(c2 AS DOUBLE) / n2 * 1e6 + 0.5) / 1e6 END AS p2_6,
           CASE WHEN n1 > 0 AND n2 > 0
               AND c1 + c2 > 0 AND c1 + c2 < n1 + n2 THEN
             floor((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
               / sqrt(CAST(c1 + c2 AS DOUBLE) / (n1 + n2)
                 * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                 * (CAST(1.0 AS DOUBLE) / n1 + CAST(1.0 AS DOUBLE) / n2))
               * 1e6 + 0.5) / 1e6 END AS z6,
           CASE WHEN n1 > 0 AND c2 > 0 THEN
             floor((CAST(c1 AS DOUBLE) / n1) / (CAST(c2 AS DOUBLE) / n2)
               * 1e6 + 0.5) / 1e6 END AS lift6
         FROM s""",
    // e39: e36's batch recurrence restricted to CLOSED versions.
    "e39_stream_scd2" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev,
             lag(event_id) OVER w AS prev_tie
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (SELECT user_id, ts, event_id, event_type FROM o
           WHERE prev_tie IS NULL
             OR event_type IS DISTINCT FROM prev),
         v AS (SELECT user_id,
             CAST(row_number() OVER w2 AS INTEGER) AS version,
             event_type, ts AS valid_from,
             lead(ts) OVER w2 AS valid_to
           FROM c
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, version, event_type, valid_from, valid_to
         FROM v WHERE valid_to IS NOT NULL
         ORDER BY user_id, version""",
    "e38_stream_expectations" ->
      """WITH r AS (
           SELECT 'value_negative' AS rule,
             CAST(sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
             CAST(count(*) AS BIGINT) AS total FROM events
           UNION ALL
           SELECT 'value_below_one',
             CAST(sum(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM events
           UNION ALL
           SELECT 'type_is_error',
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(count(*) AS BIGINT) FROM events
           UNION ALL
           SELECT 'value_null',
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(count(*) AS BIGINT) FROM events)
         SELECT rule, violations, total, violations = 0 AS pass
         FROM r ORDER BY rule""",
    "e36_scd2" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev,
             lag(event_id) OVER w AS prev_tie
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (SELECT user_id, ts, event_id, event_type FROM o
           WHERE prev_tie IS NULL
             OR event_type IS DISTINCT FROM prev),
         v AS (SELECT user_id,
             CAST(row_number() OVER w2 AS INTEGER) AS version,
             event_type, ts AS valid_from,
             lead(ts) OVER w2 AS valid_to
           FROM c
           WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, version, event_type, valid_from,
           COALESCE(valid_to, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, version""",
    // e44: P − min(P) over exact µ-unit BIGINTs; the only doubles are
    // the µ-floored per-key mean and the final /1e6 display division.
    "e44_cusum" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         m AS (SELECT ws, event_type, n,
             CAST(floor(CAST(sum(n) OVER wk AS DOUBLE)
               / count(*) OVER wk * 1e6 + 0.5) AS BIGINT) AS mu
           FROM c WINDOW wk AS (PARTITION BY event_type)),
         p AS (SELECT ws, event_type, n,
             CAST(sum(CAST(n * 1000000 AS BIGINT) - mu) OVER
               (PARTITION BY event_type ORDER BY ws
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pp
           FROM m),
         q AS (SELECT ws, event_type, n, pp,
             CAST(least(min(pp) OVER (PARTITION BY event_type ORDER BY ws
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS BIGINT) AS pmin
           FROM p)
         SELECT ws, event_type, n,
           CAST(pp - pmin AS DOUBLE) / 1e6 AS cusum6,
           CAST(pp - pmin AS DOUBLE) / 1e6 >= 20.0 AS alarm
         FROM q ORDER BY ws, event_type""",
    // e43: baseline mean/variance from exact integer window sums in the
    // identical association (never incremental variance).
    "e43_rate_anomaly" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         b AS (SELECT ws, event_type, n,
             CAST(count(*) OVER wd AS BIGINT) AS bn,
             CAST(sum(n) OVER wd AS BIGINT) AS bs,
             CAST(sum(n * n) OVER wd AS BIGINT) AS bq
           FROM c WINDOW wd AS (PARTITION BY event_type ORDER BY ws
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT ws, event_type, n, bn,
             CASE WHEN bn >= 2
                 AND (CAST(bq AS DOUBLE)
                   - CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE) / bn)
                   / (bn - 1.0) > 0
               THEN floor((CAST(n AS DOUBLE) - CAST(bs AS DOUBLE) / bn)
                 / sqrt((CAST(bq AS DOUBLE)
                   - CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE) / bn)
                   / (bn - 1.0))
                 * 1e6 + 0.5) / 1e6
             END AS z6
           FROM b)
         SELECT ws, event_type, n, bn, z6,
           CASE WHEN z6 IS NOT NULL THEN abs(z6) >= 3.0 END AS is_anomaly
         FROM z ORDER BY ws, event_type""",
    // e59: e02's session CTEs closed by the count-of-counts.
    "e59_session_depth" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
           FROM events),
         marked AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM marked),
         sess AS (SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events
           FROM numbered GROUP BY 1, 2),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM sess)
         SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions,
           floor(CAST(count(*) AS DOUBLE) / CAST(t AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS share6
         FROM sess CROSS JOIN tot GROUP BY n_events, t
         ORDER BY n_events""",
    // e58: f63's CTEs over the (user, event_type) incidence.
    "e58_behavior_rules" ->
      """WITH inc AS (SELECT DISTINCT user_id AS b, event_type AS i
           FROM events),
         tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM inc),
         ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni
           FROM inc GROUP BY 1),
         pr AS (SELECT a.i AS ante, c.i AS cons,
             CAST(count(*) AS BIGINT) AS nab
           FROM inc a JOIN inc c ON a.b = c.b AND a.i <> c.i
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT ante, cons, nab, x.ni AS na, y.ni AS nb,
           floor(CAST(nab AS DOUBLE) / CAST(n AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS support6,
           floor(CAST(nab AS DOUBLE) / CAST(x.ni AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS conf6,
           floor(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
             / (CAST(x.ni AS DOUBLE) * CAST(y.ni AS DOUBLE)) * 1e6 + 0.5)
             / 1e6 AS lift6
         FROM pr JOIN ic x ON pr.ante = x.i
         JOIN ic y ON pr.cons = y.i
         CROSS JOIN tot ORDER BY ante, cons""",
    // e56: the same exclusive conditional-max window; gap = integer
    // µs division (no calendar semantics).
    "e56_time_to_convert" ->
      """WITH t AS (SELECT *,
             max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS trig
           FROM events)
         SELECT user_id, event_id AS conv_id,
           (epoch_us(ts) - trig) // 60000000 AS gap_minutes
         FROM t WHERE event_type = 'purchase'
         ORDER BY user_id, conv_id""",
    // e55: identical two windows on the (ts, event_id) total order;
    // revenue through DECIMAL then cast back, 2dp floor grid.
    "e55_attribution" ->
      """WITH t AS (SELECT *,
             first_value(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft,
             lag(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS pv
           FROM events),
         conv AS (SELECT * FROM t WHERE event_type = 'purchase'),
         u AS (SELECT 'first_touch' AS model, ft AS touch, value AS v
             FROM conv
           UNION ALL
           SELECT 'last_touch', COALESCE(pv, '(direct)'), value
             FROM conv)
         SELECT model, touch, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE)
             AS DOUBLE) * 1e2 + 0.5) / 1e2 AS revenue
         FROM u GROUP BY 1, 2 ORDER BY model, touch""",
    // e53: the same four counts and the same left-assoc product chain.
    "e53_mcc" ->
      """WITH s AS (SELECT
             CAST(sum(CASE WHEN event_type = 'purchase'
                 AND value > CAST(150.0 AS DOUBLE)
                 AND value > CAST(140.0 AS DOUBLE) THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT (event_type = 'purchase'
                 AND value > CAST(150.0 AS DOUBLE))
                 AND NOT value > CAST(140.0 AS DOUBLE) THEN 1 ELSE 0 END)
               AS BIGINT) AS tn,
             CAST(sum(CASE WHEN NOT (event_type = 'purchase'
                 AND value > CAST(150.0 AS DOUBLE))
                 AND value > CAST(140.0 AS DOUBLE) THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN event_type = 'purchase'
                 AND value > CAST(150.0 AS DOUBLE)
                 AND NOT value > CAST(140.0 AS DOUBLE) THEN 1 ELSE 0 END)
               AS BIGINT) AS fn
           FROM events)
         SELECT tp, tn, fp, fn,
           CASE WHEN tp + fp > 0 AND tp + fn > 0
               AND tn + fp > 0 AND tn + fn > 0 THEN
             floor((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                 - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
               / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                 * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                 * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
                 * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))
               * 1e6 + 0.5) / 1e6
           END AS mcc6
         FROM s""",
    // e54: e37's cell replay + the closing V division; dow matches
    // Spark's dayofweek (Sunday=1).
    "e54_cramers_v" ->
      """WITH src AS (SELECT event_type AS a, dayofweek(ts) + 1 AS b
           FROM events),
         obs AS (SELECT a, b, CAST(count(*) AS BIGINT) AS obs
           FROM src GROUP BY 1, 2),
         ra AS (SELECT a, CAST(sum(obs) AS BIGINT) AS ra
           FROM obs GROUP BY 1),
         rb AS (SELECT b, CAST(sum(obs) AS BIGINT) AS rb
           FROM obs GROUP BY 1),
         tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
             CAST(count(DISTINCT a) AS BIGINT) AS ka,
             CAST(count(DISTINCT b) AS BIGINT) AS kb
           FROM obs),
         cells AS (SELECT obs.obs,
             CAST(ra.ra * rb.rb AS DOUBLE) / CAST(n AS DOUBLE) AS exp
           FROM obs JOIN ra USING (a) JOIN rb USING (b)
           CROSS JOIN tot),
         cu AS (SELECT CAST(sum(CAST(floor(
               (obs - exp) * (obs - exp) / exp * 1e6 + 0.5) AS BIGINT))
             AS BIGINT) AS chitot
           FROM cells)
         SELECT n, ka, kb,
           CAST(chitot AS DOUBLE) / 1e6 AS chi2_6,
           CASE WHEN least(ka, kb) > 1 AND n > 0 THEN
             floor(sqrt(CAST(chitot AS DOUBLE) / 1e6
               / (CAST(n AS DOUBLE)
                 * CAST(least(ka, kb) - 1 AS DOUBLE)))
               * 1e6 + 0.5) / 1e6
           END AS v6
         FROM tot, cu""",
    // e52: same spans/horizon screen; suffix at-risk counts over the
    // bounded per-duration frame; the recursive CTE replays the product
    // in the identical ascending-t association (seed columns CAST to
    // DOUBLE — a bare 1.0 literal would pin the recursion to DECIMAL(2,1)).
    "e52_kaplan_meier" ->
      """WITH RECURSIVE
         sp AS (SELECT user_id, event_type,
             min(epoch_us(ts)) AS u0, max(epoch_us(ts)) AS u1
           FROM events GROUP BY 1, 2),
         mx AS (SELECT max(u1) AS lastus FROM sp),
         ud AS (SELECT (u1 - u0) // 3600000000 AS t,
             CASE WHEN u1 < lastus - 259200000000 THEN 1
               ELSE 0 END AS ev
           FROM sp, mx),
         byt AS (SELECT t, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(ev) AS BIGINT) AS d
           FROM ud GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM byt),
         ord AS (SELECT t, c, d,
             CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn,
             CAST(total - COALESCE(sum(c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n
           FROM byt, tot),
         km AS (SELECT rn, t, n, d, c,
             CAST(1.0 AS DOUBLE) * (1 - CAST(d AS DOUBLE) / n) AS s
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.rn, o.t, o.n, o.d, o.c,
             km.s * (1 - CAST(o.d AS DOUBLE) / o.n)
           FROM km JOIN ord o ON o.rn = km.rn + 1)
         SELECT t, n AS n_risk, d AS d_churn,
           c - d AS censored, floor(s * 1e6 + 0.5) / 1e6 AS s6
         FROM km ORDER BY t""",
    // e51: identical pair fan-out + rank-selected low median; slopes
    // are one double division of exact integers.
    "e51_theilsen" ->
      """WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS ws,
             CAST(count(*) AS DOUBLE) AS y
           FROM events GROUP BY 1, 2),
         s AS (SELECT k, epoch_ms(ws) // 3600000 AS x, y FROM h),
         p AS (SELECT a.k,
             (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope,
             a.x AS x1, b.x AS x2
           FROM s a JOIN s b ON a.k = b.k AND a.x < b.x),
         r AS (SELECT k, slope,
             CAST(row_number() OVER (PARTITION BY k
               ORDER BY slope, x1, x2) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS np
           FROM p)
         SELECT k AS event_type, np AS n_pairs,
           floor(slope * 1e6 + 0.5) / 1e6 AS slope6
         FROM r WHERE rn = (np + 1) // 2 ORDER BY event_type""",
    // e50: the exact sequential recurrence as a recursive CTE (s50
    // pattern); the b-step inlines l's expression, which recomputes the
    // identical double. Constants are binary-exact decimals.
    "e50_holt" ->
      """WITH RECURSIVE h AS (
           SELECT date_trunc('hour', ts) AS ws, event_type,
             round(sum(value), 2) AS y
           FROM events GROUP BY 1, 2),
         o AS (SELECT event_type, ws, y,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY ws) AS BIGINT) AS rn
           FROM h),
         r AS (
           SELECT event_type, ws, y, rn,
             CAST(NULL AS DOUBLE) AS fc, y AS l,
             CAST(0.0 AS DOUBLE) AS b
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.ws, o.y, o.rn,
             r.l + r.b AS fc,
             0.25 * o.y + 0.75 * (r.l + r.b) AS l,
             0.125 * ((0.25 * o.y + 0.75 * (r.l + r.b)) - r.l)
               + 0.875 * r.b AS b
           FROM r JOIN o ON o.event_type = r.event_type
             AND o.rn = r.rn + 1)
         SELECT event_type, ws, y,
           CASE WHEN fc IS NOT NULL
             THEN floor(fc * 1e6 + 0.5) / 1e6 END AS fc6,
           floor(l * 1e6 + 0.5) / 1e6 AS l6,
           floor(b * 1e6 + 0.5) / 1e6 AS b6
         FROM r ORDER BY event_type, ws""",
    // e70: e50's recursion plus the seasonal ring — the CTE state
    // carries the 24-list of live seasonals (seeded to zeros, shifted
    // with list_append(sl[2:24], s)), so sl[1] IS s_{t-24}; the l
    // expression is inlined into b exactly as e50 does. Seeds CAST per
    // the s50 doctrine.
    "e70_holt_winters" -> HoltWintersSql,
    // e72: integer-cents STL replay — trend is the exact Σcents×400
    // identity (25 | 10⁴), seasonal one deterministic division per
    // slot, residual pure integer subtraction.
    "e72_stl_decompose" ->
      """WITH h AS (
           SELECT date_trunc('hour', ts) AS ws, event_type,
             round(sum(value), 2) AS y
           FROM events GROUP BY 1, 2),
         c AS (SELECT event_type, ws, y,
             CAST(floor(y * 100 + 0.5) AS BIGINT) AS yc
           FROM h),
         t AS (SELECT event_type, ws, y, yc,
             CASE WHEN count(*) OVER w = 25
               THEN CAST(sum(yc) OVER w AS BIGINT) * 400 END AS trend_u,
             CAST(hour(ws) AS INTEGER) AS hod
           FROM c
           WINDOW w AS (PARTITION BY event_type ORDER BY ws
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         t2 AS (SELECT *,
             CASE WHEN trend_u IS NOT NULL
               THEN yc * 10000 - trend_u END AS d_u
           FROM t),
         seas AS (SELECT event_type, hod,
             CAST(floor(CAST(sum(d_u) AS DOUBLE) / count(*) + 0.5)
               AS BIGINT) AS seas_u
           FROM t2 WHERE d_u IS NOT NULL GROUP BY 1, 2)
         SELECT t2.event_type, ws, y, trend_u,
           CASE WHEN d_u IS NOT NULL THEN seas_u END AS seas_u,
           CASE WHEN d_u IS NOT NULL THEN d_u - seas_u END AS resid_u
         FROM t2 LEFT JOIN seas
           ON t2.event_type = seas.event_type AND t2.hod = seas.hod
         ORDER BY t2.event_type, ws""",
    // e71: e70's replay closed by the causal expanding-MAE flag — the
    // compare is exact integer cross-multiplication on 1e-6-unit
    // residuals, so the boolean can never ulp-flip between engines.
    "e71_hw_anomalies" ->
      s"""SELECT event_type, ws, y, fc6, resid_u,
           CAST(n_prior AS BIGINT) AS n_prior,
           (resid_u IS NOT NULL AND n_prior >= 24
             AND resid_u * n_prior > 3 * s_prior) AS is_anomaly
         FROM (
           SELECT event_type, ws, y, fc6, resid_u,
             count(resid_u) OVER w AS n_prior,
             sum(resid_u) OVER w AS s_prior
           FROM (
             SELECT event_type, ws, y, fc6,
               CASE WHEN fc6 IS NOT NULL THEN
                 CAST(floor(abs(y - fc6) * 1e6 + 0.5) AS BIGINT)
               END AS resid_u
             FROM ($HoltWintersSql) hw)
           WINDOW w AS (PARTITION BY event_type ORDER BY ws
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         ORDER BY event_type, ws""",
    // e49: every ratio replays as the SAME single division of exact
    // BIGINTs; kappa/accuracy are constant columns off the margin-frame
    // totals cross join.
    "e49_classify_eval" ->
      """WITH p AS (SELECT event_type AS label,
             CASE WHEN event_id % 10 < 7 THEN event_type
               ELSE CASE event_id % 5 WHEN 0 THEN 'click'
                 WHEN 1 THEN 'error' WHEN 2 THEN 'purchase'
                 WHEN 3 THEN 'signup' ELSE 'view' END
             END AS pred
           FROM events),
         cells AS (SELECT label, pred, count(*) AS cnt
           FROM p GROUP BY 1, 2),
         r AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_actual
           FROM cells GROUP BY 1),
         c AS (SELECT pred AS label, CAST(sum(cnt) AS BIGINT) AS n_pred
           FROM cells GROUP BY 1),
         dg AS (SELECT label, CAST(cnt AS BIGINT) AS tp
           FROM cells WHERE label = pred),
         m AS (SELECT COALESCE(r.label, c.label) AS label,
             COALESCE(n_actual, 0) AS n_actual,
             COALESCE(n_pred, 0) AS n_pred
           FROM r FULL OUTER JOIN c ON r.label = c.label),
         mm AS (SELECT m.label, n_actual, n_pred,
             COALESCE(tp, 0) AS tp
           FROM m LEFT JOIN dg ON m.label = dg.label),
         t AS (SELECT CAST(sum(n_actual) AS BIGINT) AS n,
             CAST(sum(tp) AS BIGINT) AS stp,
             CAST(sum(n_actual * n_pred) AS BIGINT) AS src FROM mm)
         SELECT label, tp, n_pred - tp AS fp, n_actual - tp AS fn,
           CASE WHEN n_pred > 0 THEN
             floor(CAST(tp AS DOUBLE) / n_pred * 1e6 + 0.5) / 1e6
           END AS prec6,
           CASE WHEN n_actual > 0 THEN
             floor(CAST(tp AS DOUBLE) / n_actual * 1e6 + 0.5) / 1e6
           END AS rec6,
           CASE WHEN n_pred + n_actual > 0 THEN
             floor(2.0 * CAST(tp AS DOUBLE)
               / CAST(2 * tp + (n_pred - tp) + (n_actual - tp) AS DOUBLE)
               * 1e6 + 0.5) / 1e6
           END AS f16,
           floor(CAST(stp AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS accuracy6,
           CASE WHEN n * n - src > 0 THEN
             floor(CAST(n * stp - src AS DOUBLE)
               / CAST(n * n - src AS DOUBLE) * 1e6 + 0.5) / 1e6
           END AS kappa6
         FROM mm, t ORDER BY label""",
    // e41: the rank-sum AUC replayed over the same (group, distinct
    // score) counts; num2 is an order-free exact BIGINT, auc6 one
    // division in the same association.
    "e41_auc" ->
      """WITH s AS (SELECT CAST(hour(ts) AS INTEGER) AS g, value AS score,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
               AS BIGINT) AS neg
           FROM events GROUP BY 1, 2),
         c AS (SELECT g, pos, neg,
             CAST(sum(neg) OVER (PARTITION BY g ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumneg
           FROM s),
         o AS (SELECT g, CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * (cumneg - neg) + neg)) AS BIGINT) AS num2
           FROM c GROUP BY 1)
         SELECT g, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             floor(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg) * 1e6
               + 0.5) / 1e6
           END AS auc6
         FROM o ORDER BY g""",
    // e73: average precision over the same (group, distinct score)
    // counts — per-threshold pos·cp/ct is ONE double division of exact
    // integers floored to 1e-9-unit BIGINTs (order-free sum); ap6
    // closes as (su/1e9)/n_pos in the same association.
    "e73_pr_auc" ->
      """WITH s AS (SELECT CAST(hour(ts) AS INTEGER) AS g, value AS score,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS tot
           FROM events GROUP BY 1, 2),
         c AS (SELECT g, pos, tot,
             CAST(sum(pos) OVER (PARTITION BY g ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cp,
             CAST(sum(tot) OVER (PARTITION BY g ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ct
           FROM s),
         o AS (SELECT g, CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(tot - pos) AS BIGINT) AS n_neg,
             CAST(sum(CAST(floor(CAST(pos * cp AS DOUBLE)
               / CAST(ct AS DOUBLE) * 1e9 + 0.5) AS BIGINT))
               AS BIGINT) AS su
           FROM c GROUP BY 1)
         SELECT g, n_pos, n_neg,
           CASE WHEN n_pos > 0 THEN
             floor(CAST(su AS DOUBLE) / 1e9 / CAST(n_pos AS DOUBLE)
               * 1e6 + 0.5) / 1e6
           END AS ap6
         FROM o ORDER BY g""",
    // e75: e02's session numbering + an ordered string_agg per session
    // + the deterministic top-20.
    "e75_session_paths" ->
      """WITH x AS (
           SELECT user_id, event_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
           FROM events),
         marked AS (
           SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new
           FROM x),
         numbered AS (
           SELECT user_id, ts, event_id, event_type,
             CAST(sum(is_new) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM marked),
         paths AS (SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           FROM numbered GROUP BY 1, 2)
         SELECT path, CAST(count(*) AS BIGINT) AS n
         FROM paths GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""",
    // e37: exp = one double division of exact integer products; the χ²
    // total sums exact 1e-6-unit BIGINTs (order-free) and divides once —
    // the Spark side is spelled identically, so no accumulation drift.
    "e37_chi2" ->
      """WITH e AS (SELECT event_type AS a,
             CAST(hour(ts) AS INTEGER) AS b FROM events),
         obs AS (SELECT a, b, count(*) AS obs FROM e GROUP BY 1, 2),
         ra AS (SELECT a, CAST(sum(obs) AS BIGINT) AS ra
           FROM obs GROUP BY 1),
         rb AS (SELECT b, CAST(sum(obs) AS BIGINT) AS rb
           FROM obs GROUP BY 1),
         t AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
             count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM obs),
         cells AS (SELECT obs.a, obs.b, obs.obs,
             CAST(ra.ra * rb.rb AS DOUBLE) / t.n AS exp
           FROM obs JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN t),
         cu AS (SELECT a, b, obs, exp,
             CAST(floor((obs - exp) * (obs - exp) / exp * 1e6 + 0.5)
               AS BIGINT) AS cu
           FROM cells),
         chi AS (SELECT CAST(sum(cu) AS BIGINT) AS cu FROM cu)
         SELECT cu.a, cu.b, cu.obs,
           floor(cu.exp * 1e6 + 0.5) / 1e6 AS exp6,
           CAST(cu.cu AS DOUBLE) / 1e6 AS contrib6,
           CAST(chi.cu AS DOUBLE) / 1e6 AS chi2,
           CAST((t.ka - 1) * (t.kb - 1) AS BIGINT) AS dof
         FROM cu CROSS JOIN chi CROSS JOIN t ORDER BY a, b""",
    "e31_paths" ->
      """WITH x AS (SELECT event_type AS a,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         p AS (SELECT a || '>' || b || '>' || c AS path, count(*) AS n
           FROM x WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1)
         SELECT path, n FROM p ORDER BY n DESC, path LIMIT 20""",
    "e29_transitions" ->
      """WITH x AS (SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS dst
           FROM events),
         a AS (SELECT src, dst, count(*) AS n
           FROM x WHERE dst IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE) AS prob
         FROM a ORDER BY src, dst""",
    "e30_rfm" ->
      """WITH m AS (
           SELECT user_id,
             CAST(floor(((SELECT max(epoch_us(ts)) FROM events)
               - max(epoch_us(ts))) / 86400000000) AS BIGINT) AS recency,
             count(*) AS frequency,
             floor(sum(value) * 1e2 + 0.5) / 1e2 AS monetary
           FROM events GROUP BY user_id),
         q AS (SELECT
             quantile_cont(recency, [0.25, 0.5, 0.75]) AS rq,
             quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mq
           FROM m)
         SELECT user_id, recency, frequency, monetary,
           1 + (CASE WHEN recency < rq[1] THEN 1 ELSE 0 END)
             + (CASE WHEN recency < rq[2] THEN 1 ELSE 0 END)
             + (CASE WHEN recency < rq[3] THEN 1 ELSE 0 END) AS r_score,
           1 + (CASE WHEN frequency >= fq[1] THEN 1 ELSE 0 END)
             + (CASE WHEN frequency >= fq[2] THEN 1 ELSE 0 END)
             + (CASE WHEN frequency >= fq[3] THEN 1 ELSE 0 END) AS f_score,
           1 + (CASE WHEN monetary >= mq[1] THEN 1 ELSE 0 END)
             + (CASE WHEN monetary >= mq[2] THEN 1 ELSE 0 END)
             + (CASE WHEN monetary >= mq[3] THEN 1 ELSE 0 END) AS m_score
         FROM m, q ORDER BY user_id""",
    // e57: the streaming funnel answers the identical batch question —
    // shares e27's oracle.
    "e57_stream_funnel" ->
      """WITH w1 AS (SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
           FROM events),
         w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
               AND ts >= t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
           FROM w1),
         w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
               AND ts >= t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
           FROM w2)
         SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
           min(t_purchase) AS t_purchase
         FROM w3 GROUP BY user_id ORDER BY user_id""",
    "e27_funnel" ->
      """WITH w1 AS (SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
           FROM events),
         w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
               AND ts >= t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
           FROM w1),
         w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
               AND ts >= t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
           FROM w2)
         SELECT user_id, min(t_view) AS t_view, min(t_click) AS t_click,
           min(t_purchase) AS t_purchase
         FROM w3 GROUP BY user_id ORDER BY user_id""",
    // e65: the e27 funnel CTEs closed by non-null counts; rates divide
    // exact integers.
    "e65_funnel_rates" ->
      """WITH w1 AS (SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
           FROM events),
         w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
               AND ts >= t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
           FROM w1),
         w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
               AND ts >= t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
           FROM w2),
         f AS (SELECT user_id, min(t_view) AS t_view,
             min(t_click) AS t_click, min(t_purchase) AS t_purchase
           FROM w3 GROUP BY user_id)
         SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(t_view) AS BIGINT) AS n_view,
           CAST(count(t_click) AS BIGINT) AS n_click,
           CAST(count(t_purchase) AS BIGINT) AS n_purchase,
           floor(CAST(count(t_view) AS DOUBLE) / count(*) * 1e6 + 0.5)
             / 1e6 AS view_rate6,
           floor(CAST(count(t_click) AS DOUBLE) / count(t_view)
             * 1e6 + 0.5) / 1e6 AS click_step6,
           floor(CAST(count(t_purchase) AS DOUBLE) / count(t_click)
             * 1e6 + 0.5) / 1e6 AS purchase_step6
         FROM f""",
    // e35 shares e25's oracle: batch boundaries cannot change finalized
    // tumbling windows, so streaming trending == batch trending.
    "e35_stream_trending" ->
      """WITH a AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT ws, event_type, n,
             CAST(row_number() OVER (PARTITION BY ws
               ORDER BY n DESC, event_type) AS INTEGER) AS rk
           FROM a)
         SELECT ws, event_type, n, rk FROM r WHERE rk <= 3
         ORDER BY ws, rk""",
    "e25_trending" ->
      """WITH a AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT ws, event_type, n,
             CAST(row_number() OVER (PARTITION BY ws
               ORDER BY n DESC, event_type) AS INTEGER) AS rk
           FROM a)
         SELECT ws, event_type, n, rk FROM r WHERE rk <= 3
         ORDER BY ws, rk""",
    "e02_sessions" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         marked AS (
           SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
           FROM marked)
         SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
         FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""",
    "e03_running_window" ->
      """SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mavg
         FROM events ORDER BY event_id""",
    "e05_json_extract" ->
      """SELECT event_type,
           count(CAST(props->>'$.k' AS BIGINT)) AS n,
           round(avg(CAST(props->>'$.k' AS BIGINT)), 6) AS avg_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "e04_hourly_share" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT hr, event_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY hr), 6) AS share
         FROM hourly ORDER BY hr, event_type""",
    "e06_asof" ->
      """WITH u AS (
           SELECT user_id, ts, 1 AS side, event_id, value AS pv,
             CAST(NULL AS STRUCT(v DOUBLE)) AS rs
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 0, event_id, NULL, {'v': value}
           FROM events WHERE event_type = 'click'),
         f AS (
           SELECT *, last_value(rs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, side, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lrs
           FROM u)
         SELECT event_id, user_id, round(pv, 2) AS pv, round(lrs.v, 2) AS cv
         FROM f WHERE side = 1 ORDER BY event_id""",
    // e14/e15 mirror e06's tagged union; forward flips the frame (side
    // DESC puts left before right at equal ts → inclusive), nearest
    // carries epoch-µs in the struct and ties to backward.
    "e14_asof_forward" ->
      """WITH u AS (
           SELECT user_id, ts, 1 AS side, event_id, value AS pv,
             CAST(NULL AS STRUCT(v DOUBLE)) AS rs
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 0, event_id, NULL, {'v': value}
           FROM events WHERE event_type = 'click'),
         f AS (
           SELECT *, first_value(rs IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, side DESC, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frs
           FROM u)
         SELECT event_id, user_id, round(pv, 2) AS pv, round(frs.v, 2) AS cv
         FROM f WHERE side = 1 ORDER BY event_id""",
    "e15_asof_nearest" ->
      """WITH u AS (
           SELECT user_id, ts, 1 AS side, event_id, value AS pv,
             CAST(NULL AS STRUCT(v DOUBLE, us BIGINT)) AS rs
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 0, event_id, NULL,
             {'v': value, 'us': epoch_us(ts)}
           FROM events WHERE event_type = 'click'),
         f AS (
           SELECT *,
             last_value(rs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brs,
             first_value(rs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side DESC, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frs
           FROM u),
         pick AS (
           SELECT event_id, user_id, pv,
             CASE WHEN brs IS NULL THEN frs WHEN frs IS NULL THEN brs
               WHEN epoch_us(ts) - brs.us <= frs.us - epoch_us(ts) THEN brs
               ELSE frs END AS rs
           FROM f WHERE side = 1)
         SELECT event_id, user_id, round(pv, 2) AS pv, round(rs.v, 2) AS cv
         FROM pick ORDER BY event_id""",
    // e17 = e15's plan plus the 24h tolerance bound on the picked match
    "e17_asof_tolerance" ->
      """WITH u AS (
           SELECT user_id, ts, 1 AS side, event_id, value AS pv,
             CAST(NULL AS STRUCT(v DOUBLE, us BIGINT)) AS rs
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT user_id, ts, 0, event_id, NULL,
             {'v': value, 'us': epoch_us(ts)}
           FROM events WHERE event_type = 'click'),
         f AS (
           SELECT *,
             last_value(rs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brs,
             first_value(rs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side DESC, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frs
           FROM u),
         pick AS (
           SELECT event_id, user_id, ts, pv,
             CASE WHEN brs IS NULL THEN frs WHEN frs IS NULL THEN brs
               WHEN epoch_us(ts) - brs.us <= frs.us - epoch_us(ts) THEN brs
               ELSE frs END AS rs
           FROM f WHERE side = 1)
         SELECT event_id, user_id, round(pv, 2) AS pv,
           round(CASE WHEN abs(epoch_us(ts) - rs.us) <= 86400000000
             THEN rs.v END, 2) AS cv
         FROM pick ORDER BY event_id""",
    // e20: strict-inequality self as-of; the subquery tie order (ts DESC,
    // event_id DESC / ts ASC, event_id ASC) mirrors the engine's
    // (ts, tie) extremal pick
    "e20_asof_strict" ->
      """WITH p AS (
           SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, round(p.value, 2) AS pv,
           round((SELECT p2.value FROM p p2
                  WHERE p2.user_id = p.user_id AND p2.ts < p.ts
                  ORDER BY p2.ts DESC, p2.event_id DESC LIMIT 1), 2)
             AS prev_v,
           round((SELECT p2.value FROM p p2
                  WHERE p2.user_id = p.user_id AND p2.ts > p.ts
                  ORDER BY p2.ts ASC, p2.event_id ASC LIMIT 1), 2)
             AS next_v
         FROM p ORDER BY p.event_id""",
    // e19: the batch EMA recurrence per user, ordered by EVENT TIME (the
    // stream's finalization order) — w = 0.75 dyadic, both engines fold
    // bit-identical doubles
    "e19_stream_ewm" ->
      """WITH RECURSIVE s AS (
           SELECT event_id AS idx, user_id, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
           FROM events),
         r AS (
           SELECT idx, user_id, rn, x,
             x AS num, CAST(1.0 AS DOUBLE) AS den
           FROM s WHERE rn = 1
           UNION ALL
           SELECT s.idx, s.user_id, s.rn, s.x,
             s.x + 0.75 * r.num, 1.0 + 0.75 * r.den
           FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT idx, user_id, floor((num / den) * 1e6 + 0.5) / 1e6 AS em
         FROM r ORDER BY idx""",
    // e18 = e15's tagged union with NO partition key (global windows are
    // fine in single-node DuckDB; the engine side buckets + carries)
    "e18_asof_global" ->
      """WITH u AS (
           SELECT ts, 1 AS side, event_id, value AS pv,
             CAST(NULL AS STRUCT(v DOUBLE, us BIGINT)) AS rs
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT ts, 0, event_id, NULL,
             {'v': value, 'us': epoch_us(ts)}
           FROM events WHERE event_type = 'click'),
         f AS (
           SELECT *,
             last_value(rs IGNORE NULLS) OVER (
               ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS brs,
             first_value(rs IGNORE NULLS) OVER (
               ORDER BY ts, side DESC, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS frs
           FROM u),
         pick AS (
           SELECT event_id, pv, brs, frs,
             CASE WHEN brs IS NULL THEN frs WHEN frs IS NULL THEN brs
               WHEN epoch_us(ts) - brs.us <= frs.us - epoch_us(ts) THEN brs
               ELSE frs END AS nrs
           FROM f WHERE side = 1)
         SELECT event_id, round(pv, 2) AS pv, round(brs.v, 2) AS bv,
           round(frs.v, 2) AS fv, round(nrs.v, 2) AS nv
         FROM pick ORDER BY event_id""",
    "e08_trailing_hour" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           round(sum(value) OVER w, 2) AS v_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "e11_stream_join" ->
      """SELECT a.user_id, a.ts AS click_ts, b.ts AS buy_ts
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND a.event_type = 'click' AND b.event_type = 'purchase'
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 15 MINUTE
         ORDER BY 1, 2, 3""",
    // e66: the identical interval condition as a batch FULL JOIN.
    "e66_stream_full_outer" ->
      """WITH c AS (SELECT ts, user_id FROM events
             WHERE event_type = 'click'),
         p AS (SELECT ts, user_id FROM events
             WHERE event_type = 'purchase')
         SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.ts, TIMESTAMP '2200-01-01 00:00:00') AS click_ts,
           COALESCE(p.ts, TIMESTAMP '2200-01-01 00:00:00') AS buy_ts,
           CASE WHEN c.ts IS NULL THEN 'right'
                WHEN p.ts IS NULL THEN 'left'
                ELSE 'both' END AS side
         FROM c FULL JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
         ORDER BY 1, 2, 3""",
    "e42_stream_outer_join" ->
      """WITH c AS (SELECT ts, user_id FROM events
             WHERE event_type = 'click'),
         p AS (SELECT ts, user_id FROM events
             WHERE event_type = 'purchase')
         SELECT c.user_id AS user_id, c.ts AS click_ts,
           COALESCE(p.ts, TIMESTAMP '2200-01-01 00:00:00') AS buy_ts,
           p.ts IS NULL AS unmatched
         FROM c LEFT JOIN p ON c.user_id = p.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
         ORDER BY 1, 2, 3""",
    "e09_stream_sessions" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         marked AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new, event_id
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM marked)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",
    "e12_session_window" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         marked AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new, event_id
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM marked)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_start""",
    "e10_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "e07_interval_join" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         marked AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new, event_id
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
           FROM marked),
         sess AS (
           SELECT user_id, session_id, count(*) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end
           FROM numbered GROUP BY 1, 2)
         SELECT e.user_id, s.session_id, count(*) AS n_in,
           min(s.n_events) AS n_events
         FROM events e JOIN sess s ON e.user_id = s.user_id
           AND e.ts BETWEEN s.session_start AND s.session_end
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // e60: both engines truncate weeks to Monday 00:00, so the offset is
    // an exact integer division of week-aligned epoch seconds.
    "e60_retention_cohorts" ->
      """WITH ew AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
           FROM events),
         f AS (SELECT user_id, min(w) AS cw FROM ew GROUP BY 1),
         a AS (SELECT cw AS cohort_week,
             CAST(floor((epoch(w) - epoch(cw)) / 604800) AS BIGINT)
               AS week_no,
             count(*) AS n_active
           FROM ew JOIN f USING (user_id) GROUP BY 1, 2),
         sz AS (SELECT cw AS cohort_week, count(*) AS n_cohort
           FROM f GROUP BY 1)
         SELECT cohort_week, week_no, n_active, n_cohort,
           floor(CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)
             * 1e6 + 0.5) / 1e6 AS retention6
         FROM a JOIN sz USING (cohort_week)
         ORDER BY cohort_week, week_no""",
    "e62_stickiness" ->
      """WITH b AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
             date_trunc('month', ts) AS mon FROM events),
         dau AS (SELECT day, mon, count(*) AS dau FROM b GROUP BY 1, 2),
         mau AS (SELECT mon, count(*) AS mau FROM (
             SELECT DISTINCT user_id, date_trunc('month', ts) AS mon
             FROM events) GROUP BY 1)
         SELECT day, dau, mau,
           floor(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS stickiness6
         FROM dau JOIN mau USING (mon) ORDER BY day""",
    // e69: e09's session CTEs + one lead window + the per-user close;
    // gaps are exact µs integers.
    "e69_session_gaps" ->
      """WITH x AS (
           SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
           FROM events),
         marked AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS is_new, event_id
           FROM x),
         numbered AS (
           SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
           FROM marked),
         sess AS (
           SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end
           FROM numbered GROUP BY 1, 2),
         g AS (SELECT user_id,
             epoch_us(lead(session_start) OVER (PARTITION BY user_id
               ORDER BY session_start)) - epoch_us(session_end) AS gap
           FROM sess)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS gap_us,
           floor(CAST(sum(gap) AS DOUBLE) / count(*) / 1e6 * 1e6 + 0.5)
             / 1e6 AS mean_gap_s6
         FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""",
    // e68: e63's oracle swept by a lag VALUES join.
    "e68_correlogram" ->
      """WITH b AS (SELECT event_type AS t,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
           count(*) AS v
         FROM events GROUP BY 1, 2),
         lg AS (SELECT CAST(u.l AS INTEGER) AS lag
           FROM unnest(range(1, 25)) AS u(l)),
         j AS (SELECT y.t, lg.lag, x.v AS x, y.v AS y
           FROM b y CROSS JOIN lg
           JOIN b x ON y.t = x.t AND y.h = x.h + lg.lag * 3600),
         s AS (SELECT t, lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM j GROUP BY 1, 2)
         SELECT t AS event_type, lag, n,
           CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
               AND (n * syy - sy * sy) > 0
             THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               * 1e6 + 0.5) / 1e6
           END AS acf6
         FROM s ORDER BY event_type, lag""",
    // e63: identical BIGINT co-moment sums over hourly counts (DuckDB
    // widens through HUGEINT — cast at the close), f70's closing shape.
    "e63_volume_autocorr" ->
      """WITH b AS (SELECT event_type AS t,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
           count(*) AS v
         FROM events GROUP BY 1, 2),
         j AS (SELECT y.t, x.v AS x, y.v AS y
           FROM b y JOIN b x ON y.t = x.t AND y.h = x.h + 86400),
         s AS (SELECT t, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
           FROM j GROUP BY 1)
         SELECT t AS event_type, n,
           CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
               AND (n * syy - sy * sy) > 0
             THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               * 1e6 + 0.5) / 1e6
           END AS acf6
         FROM s ORDER BY event_type"""
  )
}
