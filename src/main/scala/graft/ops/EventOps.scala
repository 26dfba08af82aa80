package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Event-time operators over a timestamped event table: tumbling-window
  * aggregation and gap-based sessionization — the batch twins of the
  * Structured Streaming versions in [[graft.streaming]].
  *
  * Scale shape: everything partitions by the entity key (user) or the
  * window bucket; one shuffle per op, sequential in-partition scans, no
  * driver state. Gap comparison is in microseconds (unix_micros) — casting
  * timestamps to long truncates to seconds and disagrees with µs-precision
  * engines on exact-boundary gaps.
  */
object EventOps {

  /** Assign gap-based session ids per key: a new session starts when the
    * gap from the previous event exceeds `gapSeconds`. Adds `session_id`
    * (1-based, per key, ordered by time then tiebreak). */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull, 1)
      .when(unix_micros(col(tsCol)) - unix_micros(prev) > gapSeconds * 1000000L, 1)
      .otherwise(0)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Session summary: one row per (key, session): event count, start, end. */
  def sessions(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
               gapSeconds: Long): DataFrame =
    sessionize(df, keyCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))

  /** Top-k SESSION PATHS: the ordered event-type sequence of each gap
    * session ('view>view>click>…'), counted across all sessions — the
    * navigation-flow mining every product-analytics suite ships next to
    * the funnel (e27 checks ONE declared journey; this surfaces the
    * journeys users actually take). One sessionize pass, one keyed
    * sort+join reassembly (the d47 discipline: array_sort over
    * collected (ts, tie, step) structs — no second window), one path
    * count aggregate, deterministic top-k (count DESC, path ASC). */
  def sessionPaths(df: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, stepCol: String, gapSeconds: Long,
                   k: Int): DataFrame =
    sessionize(df, keyCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(tsCol), col(tieCol),
          col(stepCol).as("step")))),
        s => s.getField("step")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)

  /** Tumbling-window aggregation: epoch-aligned buckets of `duration`. */
  def tumbling(df: DataFrame, tsCol: String, duration: String,
               groupCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), duration) +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ws", col("window.start"))
      .drop("window")

  /** Hopping (sliding) event-time windows: every `slide`, a window of
    * `duration` opens; each event lands in duration/slide overlapping
    * windows (Spark's native `window(ts, duration, slide)` Expand — the
    * replication happens per-partition BEFORE the aggregation shuffle, so
    * the map-side partial agg absorbs the fan-out; the streaming twin is
    * the same expression under a watermark). */
  def hopping(df: DataFrame, tsCol: String, duration: String, slide: String,
              groupCols: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), duration, slide) +: groupCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ws", col("window.start"))
      .drop("window")

  /** Trending items: the top-`k` event types per tumbling window by
    * count — ONE partial+final aggregation keyed by (window, type), then
    * the rank predicate sits directly on the staged row_number so
    * WindowGroupLimit turns the per-window sort into per-partition top-k
    * heaps before the shuffle (the s64/f36 plan — no global sort, no
    * full per-window sort task at 100 TB). */
  def topKPerWindow(df: DataFrame, tsCol: String, typeCol: String,
                    duration: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("n").desc, col(typeCol).asc)
    df.groupBy(window(col(tsCol), duration).as("w"), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(W))
      .filter(col("rk") <= k)
      .select(col("w.start").as("ws"), col(typeCol), col("n"),
        col("rk"))
  }

  /** Cohort retention matrix — the other product-analytics staple: users
    * grouped by their FIRST-activity week (the cohort), counted as
    * retained in each later week they appear. Three bounded-output
    * aggregations: per-user first bucket (partial+final min), distinct
    * (user, bucket) activity, then the (cohort, offset) distinct-user
    * matrix — every shuffle keyed by user or by the bounded matrix key;
    * the matrix itself is |weeks|² rows regardless of corpus size. */
  def retentionMatrix(df: DataFrame, keyCol: String,
                      tsCol: String): DataFrame = {
    val firstB = df.groupBy(col(keyCol))
      .agg(min(date_trunc("week", col(tsCol))).as("cohort"))
    val act = df.select(col(keyCol),
      date_trunc("week", col(tsCol)).as("__b")).distinct()
    act.join(firstB, keyCol)
      .withColumn("week_offset",
        (datediff(col("__b"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count_distinct(col(keyCol)).as("n_users"))
  }

  /** Ordered conversion funnel (the product-analytics staple): per key,
    * the first time each stage is reached AT-OR-AFTER the previous
    * stage's first reach — t₀ = min ts of stage 0, tᵢ = min ts of stage i
    * with ts ≥ tᵢ₋₁; a stage is null (and every later stage with it) when
    * never reached in order. Every key of `df` gets a row (all null when
    * it has no stage event); rows with a null ts or type reach no stage.
    *
    * One projection marks each row with a stage bitmask (bit i: type =
    * stages(i); a repeated stage name sets several bits), then ONE
    * keyed aggregation folds the marked times in the mergeable
    * [[graft.functions.Funnel]] aggregate (`graft_funnel`). Its map-side
    * partials prune each key's times to the few that can still be a
    * stage's answer, so the one key exchange carries a state per (map
    * partition, key), not every event. The time column is ordered by its
    * physical long: timestamp, timestamp_ntz, date or an integral type.
    * At most 64 stages. */
  def funnel(df: DataFrame, keyCol: String, tsCol: String, typeCol: String,
             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.size <= 64, "funnel takes at most 64 stages")
    val mask = stages.distinct.foldLeft(lit(0L)) { (m, st) =>
      val bits = stages.indices.filter(stages(_) == st).map(1L << _).reduce(_ | _)
      when(col(typeCol) === st, bits).otherwise(m)
    }
    df.select(col(keyCol), col(tsCol).as("__ts"), mask.as("__mask"))
      .groupBy(col(keyCol))
      .agg(graft.functions.Funnel.funnel(col("__ts"), col("__mask"), stages.size).as("__t"))
      .select(col(keyCol) +: stages.zipWithIndex.map { case (st, i) =>
        col("__t").getItem(i).as(s"t_$st")
      }: _*)
  }

  /** Time-weighted average per key (the TWAP shape): each observation
    * holds until the key's next event, weight = holding time in µs —
    * one keyed lead window + ONE partial+final aggregation. The key's
    * last observation has no successor and carries zero weight (closed-
    * interval TWAP). `tieCol` breaks equal-timestamp ordering so the
    * lead is deterministic. Keys with a single event yield null via
    * try_divide. */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      valCol: String, tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    val us = unix_micros(col(tsCol))
    val dt = (lead(us, 1).over(w) - us).cast("double")
    df.select(col(keyCol), col(valCol), dt.as("__dt"))
      .groupBy(keyCol)
      .agg(try_divide(sum(col(valCol) * col("__dt")), sum(col("__dt")))
        .as("twavg"))
  }

  /** Trailing time-range window aggregates per key: for each event, the
    * given aggregates over that key's events in `[ts - window, ts]`
    * (inclusive — a RANGE frame over event time, not a row count; the
    * velocity-feature shape: "events/value in the trailing hour").
    *
    * The frame orders by `unix_micros` because Spark range frames need a
    * numeric order column; bounds are exact µs. One shuffle on the key,
    * per-key ordered scan — same scale shape as any keyed window. */
  def trailingRange(df: DataFrame, keyCol: String, tsCol: String,
                    windowSeconds: Long,
                    aggs: Seq[(Column, String)]): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowSeconds * 1000000L, 0L)
    aggs.foldLeft(df) { case (acc, (a, n)) => acc.withColumn(n, a.over(w)) }
  }

  /** Scalable point-in-interval (range) join: pair each point row with
    * every interval row of the same key whose `[lo, hi]` (inclusive)
    * contains the point's timestamp.
    *
    * Spark plans a raw `BETWEEN` theta-join as BroadcastNestedLoopJoin —
    * quadratic per key and a broadcast of a whole side. This is the
    * standard bucketing rewrite instead: points land in ONE
    * `bucketSeconds`-wide epoch bucket; intervals explode into the bucket
    * range they span (`sequence(floor(lo), floor(hi))` — bounded by
    * interval length / bucket width); the join is a plain equi-join on
    * (key, bucket) with the exact BETWEEN as a post-filter. Each
    * (point, interval) pair meets in exactly one bucket — the point's —
    * so no distinct pass is needed. Shuffles are keyed by (key, bucket):
    * co-partitioned, never all-pairs; pick `bucketSeconds` near the
    * typical interval length so most intervals explode to O(1) rows.
    *
    * Interval columns are attached prefixed; both inputs need `keyCol`. */
  def intervalJoin(points: DataFrame, intervals: DataFrame, keyCol: String,
                   tsCol: String, loCol: String, hiCol: String,
                   bucketSeconds: Long, prefix: String = "iv_"): DataFrame = {
    require(bucketSeconds >= 1, "bucketSeconds must be >= 1")
    val us = bucketSeconds * 1000000L
    val p = points.withColumn("__bkt", floor(unix_micros(col(tsCol)) / us))
    val iv = intervals.select(
      col(keyCol).as("__ivkey") +:
        intervals.columns.filterNot(_ == keyCol)
          .map(c => col(c).as(prefix + c)).toIndexedSeq: _*)
      .withColumn("__bkt", explode(sequence(
        floor(unix_micros(col(prefix + loCol)) / us),
        floor(unix_micros(col(prefix + hiCol)) / us))))
    p.join(iv, p(keyCol) === iv("__ivkey") && p("__bkt") === iv("__bkt"))
      .filter(col(tsCol).between(col(prefix + loCol), col(prefix + hiCol)))
      .drop("__bkt", "__ivkey")
  }

  /** As-of join, pandas `merge_asof` semantics with all three directions:
    * for each left row, attach the value columns of the matching right row
    * with the same key —
    *  - `backward` (default): latest right with `r.ts <= l.ts`;
    *  - `forward`: earliest right with `r.ts >= l.ts`;
    *  - `nearest`: whichever of the two is closer in time (equal
    *    distance → backward, pandas' rule).
    * All inclusive; ties within the right side resolve by `(ts, tie)`.
    * Left rows with no match get nulls (left-outer).
    *
    * Spark has no ASOF JOIN operator; a naive theta-join
    * (`l.key = r.key AND r.ts <= l.ts` + max) explodes to all pairs per
    * key. This is the scalable union trick instead: tag both sides, union
    * them, and run window(s) partitioned by key where
    * `last/first(struct-of-values, ignoreNulls)` carries the matching
    * right ROW's values onto each left row (the struct marker is non-null
    * for every right row, so a matched right row whose value is null
    * yields null, not an older value). Side ordering makes the match
    * inclusive: backward orders right BEFORE left at equal ts; forward
    * orders left before right. One shuffle on the key either way
    * (`nearest` runs both frames over the same exchange, two sorts), no
    * range explosion; skew follows the key distribution exactly like any
    * keyed window.
    *
    * `toleranceUs` (pandas `tolerance=`): a match farther than this many
    * microseconds from the left timestamp is discarded (nulls, as if no
    * right row existed). Applied AFTER the window pick, which is
    * equivalent to pandas' pre-filter: for backward/forward there is only
    * one candidate, and for nearest the chosen side is by construction
    * the closer one — if it is beyond tolerance, so is the other.
    *
    * `allowExactMatches=false` (pandas allow_exact_matches): the match
    * inequality turns STRICT (`r.ts < l.ts` / `r.ts > l.ts`) — purely a
    * side-ordering flip: inclusive backward sorts right BEFORE left at
    * equal ts so the preceding frame sees it; strict sorts right after,
    * pushing equal-ts right rows out of the frame (and symmetrically for
    * forward). No extra pass, same one-shuffle plan.
    *
    * `rightVals` columns are attached as `prefix + name`. Left and right
    * may be the same or different frames; only `keyCol`/`tsCol`/`tieCol`
    * must exist in both. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, tieCol: String, rightVals: Seq[String],
               prefix: String = "asof_",
               direction: String = "backward",
               toleranceUs: Option[Long] = None,
               allowExactMatches: Boolean = true): DataFrame = {
    toleranceUs.foreach(t => require(t >= 0, "tolerance must be >= 0"))
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val lRowType = org.apache.spark.sql.types.StructType(left.schema.fields)
    // The right values travel inside ONE struct that is non-null for every
    // right row (even when the values themselves are null) and null for
    // left rows: last/first(ignoreNulls) then skips left rows but NOT a
    // matched right row whose value is null — "no matching right row"
    // stays distinguishable from "matched a null value", and all rightVals
    // come from the SAME right row. The struct also carries the right
    // row's epoch-µs (`__rus`, exact long arithmetic) so `nearest` can
    // compare distances.
    val rStructType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c)) :+
        org.apache.spark.sql.types.StructField("__rus",
          org.apache.spark.sql.types.LongType))
    val lNorm = left.select(
      col(keyCol).as("__key"), col(tsCol).as("__ts"),
      col(tieCol).as("__tie"), lit(1).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__lrow"),
      lit(null).cast(rStructType).as("__rvals"))
    val rNorm = right.select(
      col(keyCol).as("__key"), col(tsCol).as("__ts"),
      col(tieCol).as("__tie"), lit(0).as("__side"),
      lit(null).cast(lRowType).as("__lrow"),
      struct(rightVals.map(col) :+
        graft.core.RangeWindows.coordOf(right.schema(tsCol).dataType,
          col(tsCol)).as("__rus"): _*).as("__rvals"))
    // side ordering encodes the match inequality: inclusive backward puts
    // right (0) before left (1) at equal ts so the preceding frame holds
    // it; strict flips it out of the frame (mirror-image for forward)
    val bwdW = Window.partitionBy(col("__key"))
      .orderBy(col("__ts"),
        if (allowExactMatches) col("__side") else col("__side").desc,
        col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdW = Window.partitionBy(col("__key"))
      .orderBy(col("__ts"),
        if (allowExactMatches) col("__side").desc else col("__side"),
        col("__tie"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rv = direction match {
      case "backward" => last(col("__rvals"), ignoreNulls = true).over(bwdW)
      case "forward" => first(col("__rvals"), ignoreNulls = true).over(fwdW)
      case "nearest" =>
        val b = last(col("__rvals"), ignoreNulls = true).over(bwdW)
        val f = first(col("__rvals"), ignoreNulls = true).over(fwdW)
        val us = graft.core.RangeWindows.coordOf(
          left.schema(tsCol).dataType, col("__ts"))
        when(b.isNull, f).when(f.isNull, b)
          .otherwise(when(us - b.getField("__rus")
            <= f.getField("__rus") - us, b).otherwise(f))
    }
    val filled = lNorm.unionByName(rNorm).select(
      col("__side"), col("__lrow"), rv.as("__rvals"))
    val bounded = toleranceUs.fold(filled) { t =>
      filled.withColumn("__rvals",
        when(abs(graft.core.RangeWindows.coordOf(
          left.schema(tsCol).dataType, col(s"__lrow.$tsCol"))
          - col("__rvals.__rus")) <= t, col("__rvals")))
    }
    bounded.filter(col("__side") === 1)
      .select(col("__lrow.*") +:
        rightVals.map(c => col(s"__rvals.$c").as(prefix + c)): _*)
  }

  /** Global (un-keyed) as-of join — pandas' DEFAULT `merge_asof` (no
    * `by=`): same semantics and union-tag trick as [[asofJoin]], but with
    * no key to partition on. `Window.partitionBy()` would run the whole
    * union on ONE task, so instead the tagged union is range-bucketed by
    * the [[graft.core.GlobalWindows]] time coordinate (one min/max job off
    * scan stats, one shuffle keyed by bucket) and the cross-bucket context
    * is bounded carry rows: for each bucket, the single globally-latest
    * RIGHT row before its range (backward/nearest) and/or the single
    * globally-earliest RIGHT row after it (forward/nearest) — at most
    * 2·buckets replayed rows, collected from ONE per-bucket max_by/min_by
    * aggregate. Equal timestamps always land in the same bucket (the
    * bucket id is a function of the timestamp), so carries never reorder
    * against real rows; carry rows are right-side rows, dropped with the
    * rest of the right side by the final left filter.
    *
    * `toleranceUs` as in [[asofJoin]]. Skew note: a time-skewed union
    * degrades bucket balance, not correctness. */
  def asofJoinGlobal(left: DataFrame, right: DataFrame,
      tsCol: String, tieCol: String, rightVals: Seq[String],
      prefix: String = "asof_", direction: String = "backward",
      toleranceUs: Option[Long] = None, buckets: Int = 32,
      allowExactMatches: Boolean = true): DataFrame = {
    toleranceUs.foreach(t => require(t >= 0, "tolerance must be >= 0"))
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    require(buckets >= 1, "buckets must be >= 1")
    val lRowType = org.apache.spark.sql.types.StructType(left.schema.fields)
    val rStructType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c)) :+
        org.apache.spark.sql.types.StructField("__rus",
          org.apache.spark.sql.types.LongType))
    val lNorm = left.select(
      col(tsCol).as("__ts"), col(tieCol).as("__tie"), lit(1).as("__side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__lrow"),
      lit(null).cast(rStructType).as("__rvals"))
    val rNorm = right.select(
      col(tsCol).as("__ts"), col(tieCol).as("__tie"), lit(0).as("__side"),
      lit(null).cast(lRowType).as("__lrow"),
      struct(rightVals.map(col) :+
        graft.core.RangeWindows.coordOf(right.schema(tsCol).dataType,
          col(tsCol)).as("__rus"): _*).as("__rvals"))
    val un = lNorm.unionByName(rNorm)
    val tsDt = un.schema("__ts").dataType
    val bkt = graft.core.GlobalWindows.bucketing(un, "__ts", buckets)._1
    val keyed = graft.Caches.track(un.withColumn("__bkt", bkt)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val bktPos = keyed.schema.fieldIndex("__bkt")
    val rowStruct = struct(keyed.columns.map(col).toIndexedSeq: _*)
    val ord = struct(col("__ts"), col("__tie"))
    val rightOnly = keyed.filter(col("__side") === 0)
    val carries = mutable.Buffer.empty[Row]
    def withBkt(r: Row, b: Long): Row = Row.fromSeq(r.toSeq.updated(bktPos, b))
    // per-bucket latest (backward/nearest) and earliest (forward/nearest)
    // right rows from ONE aggregate: ≤ buckets rows of driver state
    val ends = Seq(
      Option.when(direction != "forward")(max_by(rowStruct, ord)),
      Option.when(direction != "backward")(min_by(rowStruct, ord))).flatten
    val perBkt = rightOnly.groupBy(col("__bkt"))
      .agg(ends.head, ends.tail: _*)
      .collect().sortBy(_.getLong(0)) // ≤ buckets rows of driver state
    if (direction != "forward") {
      // ascending walk replays the global predecessor into every later
      // bucket
      var prev: Row = null
      var i = 0
      for (b <- 0L until buckets.toLong) {
        while (i < perBkt.length && perBkt(i).getLong(0) < b) {
          prev = perBkt(i).getStruct(1); i += 1
        }
        if (prev != null) carries += withBkt(prev, b)
      }
    }
    if (direction != "backward") {
      // descending walk replays the global successor into every earlier
      // bucket (the earliest row is the aggregate's last column)
      val at = ends.length
      var nxt: Row = null
      var i = perBkt.length - 1
      for (b <- (buckets.toLong - 1) to 0L by -1) {
        while (i >= 0 && perBkt(i).getLong(0) > b) {
          nxt = perBkt(i).getStruct(at); i -= 1
        }
        if (nxt != null) carries += withBkt(nxt, b)
      }
    }
    val frame =
      if (carries.isEmpty) keyed
      else keyed.unionByName(keyed.sparkSession.createDataFrame(
        carries.asJava, keyed.schema))
    // same side-order encoding of the match inequality as [[asofJoin]]
    val bwdW = Window.partitionBy(col("__bkt"))
      .orderBy(col("__ts"),
        if (allowExactMatches) col("__side") else col("__side").desc,
        col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwdW = Window.partitionBy(col("__bkt"))
      .orderBy(col("__ts"),
        if (allowExactMatches) col("__side").desc else col("__side"),
        col("__tie"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rv = direction match {
      case "backward" => last(col("__rvals"), ignoreNulls = true).over(bwdW)
      case "forward" => first(col("__rvals"), ignoreNulls = true).over(fwdW)
      case "nearest" =>
        val b = last(col("__rvals"), ignoreNulls = true).over(bwdW)
        val f = first(col("__rvals"), ignoreNulls = true).over(fwdW)
        val us = graft.core.RangeWindows.coordOf(tsDt, col("__ts"))
        when(b.isNull, f).when(f.isNull, b)
          .otherwise(when(us - b.getField("__rus")
            <= f.getField("__rus") - us, b).otherwise(f))
    }
    val filled = frame.select(
      col("__side"), col("__lrow"), rv.as("__rvals"))
    val bounded = toleranceUs.fold(filled) { t =>
      filled.withColumn("__rvals",
        when(abs(graft.core.RangeWindows.coordOf(
          left.schema(tsCol).dataType, col(s"__lrow.$tsCol"))
          - col("__rvals.__rus")) <= t, col("__rvals")))
    }
    bounded.filter(col("__side") === 1)
      .select(col("__lrow.*") +:
        rightVals.map(c => col(s"__rvals.$c").as(prefix + c)): _*)
  }

  /** First-order Markov transition matrix over the per-key event
    * sequence: counts and conditional probabilities of `src → dst`
    * event-type transitions, ordered by time (tie-broken by `tieCol` so
    * the successor is deterministic under equal timestamps).
    *
    * Scale shape: ONE shuffle on the key for the lead window, then a
    * partial+final aggregation keyed by the (src, dst) pair. The
    * conditional probability divides by the per-src total via a window
    * over the AGGREGATED frame — |types|² rows regardless of corpus
    * size, so that window is bounded, never a global sort over data.
    * The division is integer/integer in doubles (exact IEEE, same bits
    * in any engine) — no rounding grid needed. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val srcW = Window.partitionBy(col("src"))
    df.select(col(typeCol).as("src"),
        lead(col(typeCol), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        col("n").cast("double") / sum(col("n")).over(srcW).cast("double"))
  }

  /** Next-action entropy per state — how predictable each state's
    * outgoing transition is (H = −Σ p·ln p over the state's transition
    * row; 0 = deterministic next step, ln|types| = uniform chaos): the
    * behavioral-predictability datasheet on top of
    * [[transitionMatrix]], and the quantitative "is this worth a Markov
    * model" screen for e45/e64.
    *
    * Determinism: p = n/tot divides exact BIGINTs into identical
    * doubles, each −p·ln p term snaps to µ-unit BIGINTs, and the
    * per-state totals are order-free exact integer sums (the f55/e37
    * discipline — PSI already trusts ln() on identical doubles). Counts
    * frame is |types|²-bounded; one keyed aggregate + one broadcast
    * total join. */
  def transitionEntropy(df: DataFrame, keyCol: String, tsCol: String,
                        typeCol: String, tieCol: String): DataFrame = {
    val tm = transitionMatrix(df, keyCol, tsCol, typeCol, tieCol)
      .select(col("src"), col("dst"), col("n"))
    val tot = tm.groupBy("src").agg(sum(col("n")).as("tot"))
    val p = col("n").cast("double") / col("tot").cast("double")
    tm.join(broadcast(tot), "src")
      .select(col("src"), col("tot"),
        floor(-(p * log(p)) * lit(1e6) + lit(0.5)).as("__hu"))
      .groupBy(col("src").as(typeCol))
      .agg(count(lit(1)).as("n_dst"), max(col("tot")).as("n_out"),
        (sum(col("__hu")).cast("double") / lit(1e6)).as("entropy6"))
  }

  /** Time-in-state attribution: each event "owns" the interval until
    * its key's next event, and the per-state dwell report (visit count,
    * total and mean seconds) answers "where does user time actually
    * go" — the engagement metric session counts miss. ONE keyed lead
    * window + one partial+final aggregate; open tails (each key's last
    * event) have no successor and drop.
    *
    * Determinism: gaps are exact integer µs, totals exact BIGINT sums;
    * mean closes as one fixed-association division on the 6dp grid. */
  def dwellTimes(df: DataFrame, keyCol: String, tsCol: String,
                 typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val gap = unix_micros(lead(col(tsCol), 1).over(w)) -
      unix_micros(col(tsCol))
    df.select(col(typeCol).as("state"), gap.as("__g"))
      .filter(col("__g").isNotNull)
      .groupBy("state")
      .agg(count(lit(1)).as("n"), sum(col("__g")).as("dwell_us"))
      .select(col("state"), col("n"), col("dwell_us"),
        graft.ops.TextOps.round6((col("dwell_us").cast("double") / lit(1e6))
          / col("n").cast("double")).as("mean_s6"))
  }

  /** Two-way additive seasonality profile of event volume — the
    * hour-of-day × day-of-week decomposition a rate monitor needs
    * before alarming (e43/e44 flag deviations; this supplies the
    * expected value they should deviate FROM): per (dow, hour) cell,
    * the observed count, the additive expectation
    * `mean_hour + mean_dow − grand_mean`, and the residual. The data
    * collapses to ≤ 7×24 cells in ONE aggregate; marginal means join
    * back over the bounded frame.
    *
    * Determinism: every mean is a ratio of exact integers in one fixed
    * association, floored to the 6dp grid; the residual subtracts grid
    * multiples exactly. */
  def seasonalProfile(df: DataFrame, tsCol: String): DataFrame = {
    val cells = graft.Caches.track(
      df.select(dayofweek(col(tsCol)).as("dow"), hour(col(tsCol)).as("hr"))
        .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    import graft.ops.TextOps.round6
    val byHr = cells.groupBy("hr").agg(
      round6(sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("mh"))
    val byDow = cells.groupBy("dow").agg(
      round6(sum(col("n")).cast("double") / count(lit(1)).cast("double"))
        .as("md"))
    val g = cells.agg(sum(col("n")), count(lit(1))).head() // 1-row grand
    val gm = math.floor(g.getLong(0).toDouble / g.getLong(1).toDouble
      * 1e6 + 0.5) / 1e6
    cells.join(byHr, "hr").join(byDow, "dow")
      .select(col("dow"), col("hr"), col("n"),
        (col("mh") + col("md") - lit(gm)).as("expected6"),
        (col("n").cast("double") - (col("mh") + col("md") - lit(gm)))
          .as("resid6"))
  }

  /** Stationary distribution of the event-type Markov chain — the
    * closing statistic over [[transitionMatrix]] ("where does user
    * behavior settle"): fixed power iterations of x′ = x·P from the
    * uniform start. The data-sized work is ONE keyed lead window + count
    * aggregate (the e29 plan); the |types|²-bounded matrix collects to
    * the driver (the chi2/PCA bound class) and the iterations are
    * O(k²) driver flops — no cluster round-trips.
    *
    * Determinism (the v03 dyadic discipline, exact end-to-end): row
    * probabilities FLOOR to the 2⁻²⁰ grid (floor of an exact integer
    * ratio — portable), iterates snap to the same grid, so every
    * product is an exact multiple of 2⁻⁴⁰ ≤ 1 (40 bits < 53) and every
    * matvec sum is order-free exact — the whole recurrence replays
    * bit-identically in an unrolled SQL oracle, with NO accepted-ulp
    * exposure anywhere. Types never seen as a source get a uniform row
    * (the dangling-node convention). */
  def markovStationary(df: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String,
                       iters: Int = 12): DataFrame = {
    val G = 1048576.0 // 2^20
    def snap(v: Double): Double = math.floor(v * G + 0.5) / G
    val tm = transitionMatrix(df, keyCol, tsCol, typeCol, tieCol)
      .select(col("src"), col("dst"), col("n"))
      .collect() // |types|² rows — bounded driver state
    val counts = tm.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = counts.keysIterator
      .flatMap(k => Iterator(k._1, k._2)).toSeq.distinct.sorted
    val k = types.size
    require(k > 0, "no transitions — need at least two events per key")
    val rowTot = types.map(s =>
      s -> types.map(t => counts.getOrElse((s, t), 0L)).sum).toMap
    val p = Array.tabulate(k, k) { (i, j) =>
      val rt = rowTot(types(i))
      if (rt == 0L) snap(1.0 / k) // dangling: uniform row
      else math.floor(counts.getOrElse((types(i), types(j)), 0L).toDouble
        * G / rt.toDouble) / G
    }
    var x = Array.fill(k)(snap(1.0 / k))
    (1 to iters).foreach { _ =>
      x = Array.tabulate(k)(j =>
        snap((0 until k).map(i => x(i) * p(i)(j)).sum))
    }
    val spark = df.sparkSession
    import spark.implicits._
    types.zip(x).toSeq.toDF(typeCol, "pi20")
  }

  /** Absorption probability per starting state — finite-horizon value
    * iteration h⁽ᵗ⁺¹⁾(i) = Σⱼ P(i,j)·h⁽ᵗ⁾(j) with the absorbing state
    * pinned at 1: "from a view, how likely does this chain reach a
    * purchase within `iters` steps" — the funnel question asked of the
    * whole transition structure instead of one fixed stage order.
    * [[markovStationary]]'s machinery (|types|²-bounded driver matrix,
    * e45's CollectLint bound) with the absorbing column pinned.
    *
    * Determinism: probabilities and iterates live on the 2⁻²⁰ dyadic
    * grid, so every product is an exact 2⁻⁴⁰ multiple and the per-row
    * sums are order-free exact — the oracle unrolls the identical
    * steps. Dangling rows (states with no outgoing transition) use the
    * same snapped uniform row as e45. */
  def absorbingProbability(df: DataFrame, keyCol: String, tsCol: String,
                           typeCol: String, tieCol: String,
                           absorb: String, iters: Int = 12): DataFrame = {
    val G = 1048576.0 // 2^20
    def snap(v: Double): Double = math.floor(v * G + 0.5) / G
    val tm = transitionMatrix(df, keyCol, tsCol, typeCol, tieCol)
      .select(col("src"), col("dst"), col("n"))
      .collect() // |types|² rows — bounded driver state (e45 bound)
    val counts = tm.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = counts.keysIterator
      .flatMap(k => Iterator(k._1, k._2)).toSeq.distinct.sorted
    val k = types.size
    require(types.contains(absorb),
      s"absorbing state '$absorb' never appears in the transitions")
    val rowTot = types.map(s =>
      s -> types.map(t => counts.getOrElse((s, t), 0L)).sum).toMap
    val p = Array.tabulate(k, k) { (i, j) =>
      val rt = rowTot(types(i))
      if (rt == 0L) snap(1.0 / k)
      else math.floor(counts.getOrElse((types(i), types(j)), 0L).toDouble
        * G / rt.toDouble) / G
    }
    var h = types.map(t => if (t == absorb) 1.0 else 0.0).toArray
    (1 to iters).foreach { _ =>
      val prev = h
      h = Array.tabulate(k)(i =>
        if (types(i) == absorb) 1.0
        else snap((0 until k).map(j => prev(j) * p(i)(j)).sum))
    }
    val spark = df.sparkSession
    import spark.implicits._
    types.zip(h).toSeq.toDF(typeCol, "h20")
  }

  /** Top-k most frequent length-`len` event-type paths (sequential
    * pattern mining's bread-and-butter "what do users do next" query):
    * per key, consecutive type runs ordered by time (tie-broken), path =
    * types joined with `>`; incomplete tails (fewer than `len` following
    * events) drop. One keyed exchange for the stacked lead windows, one
    * partial+final aggregation keyed by path, and the final top-k is
    * orderBy+limit — TakeOrderedAndProject per-partition heaps, never a
    * global sort. */
  def topPaths(df: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, tieCol: String, len: Int = 3,
               k: Int = 20): DataFrame = {
    require(len >= 2, "a path needs at least 2 steps")
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val steps = col(typeCol) +:
      (1 until len).map(i => lead(col(typeCol), i).over(w))
    df.select(steps.zipWithIndex
        .map { case (c, i) => c.as(s"__s$i") }: _*)
      .filter((1 until len).map(i => col(s"__s$i").isNotNull)
        .reduce(_ && _))
      .select(concat_ws(">", (0 until len).map(i => col(s"__s$i")): _*)
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** Inter-event gap statistics per event type: count / mean / exact
    * quartiles of the µs gaps between a user's consecutive events of
    * that type. One (type, user)-keyed lag window, one partial+final
    * aggregate keyed by the type.
    *
    * Determinism note (why quartiles, not p90): gaps are exact integer
    * µs; at dyadic interpolation weights (.25/.5/.75) BOTH percentile
    * formulas — a+(b−a)·g and (1−g)a+g·b — evaluate exactly and agree,
    * so the quartiles are bit-identical across engines with no rounding
    * grid. At g=0.9 the weight is inexact and the two spellings differ
    * by an ulp — on 1e9-µs magnitudes that difference survives any
    * reasonable grid. The mean is exact-integer-sum / count. */
  def gapStats(df: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(typeCol), col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val us = unix_micros(col(tsCol))
    df.select(col(typeCol), (us - lag(us, 1).over(w)).as("__gap"))
      .filter(col("__gap").isNotNull)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_gaps"),
        avg(col("__gap")).as("mean_us"),
        percentile(col("__gap"), lit(0.25)).as("p25"),
        percentile(col("__gap"), lit(0.5)).as("p50"),
        percentile(col("__gap"), lit(0.75)).as("p75"))
  }

  /** Active vs first-seen ("new") distinct users per hour — the DAU
    * split. Two bounded aggregations over the distinct (user, hour)
    * activity frame: per-user first hour, then per-hour counts; output
    * is |hours| rows regardless of corpus size. */
  def activeUsers(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val act = df.select(col(keyCol),
      date_trunc("hour", col(tsCol)).as("__h")).distinct()
    val first = act.groupBy(col(keyCol)).agg(min(col("__h")).as("__fh"))
    act.join(first, keyCol)
      .groupBy(col("__h").as("ws"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("__h") === col("__fh"), 1).otherwise(0))
          .as("new_users"))
  }

  /** Cohort retention matrix — the classic "week-0 cohort × weeks-since"
    * engagement triangle: users cohort by their first-seen week, each
    * later active week lands in (cohort_week, week_no), retention =
    * cohort's active users that week / cohort size. The [[activeUsers]]
    * machinery generalized from a single first-seen flag to the full
    * offset matrix.
    *
    * Scale shape: ONE distinct (user, week) frame feeds both the cohort
    * assignment (per-user min) and the activity matrix; the offset is an
    * exact integer division of week-aligned epoch seconds (both engines
    * truncate weeks to Monday 00:00, so the 604800 division is exact —
    * no calendar arithmetic to disagree over). Two keyed aggregates +
    * one |cohorts|-bounded join; ratios on [[graft.ops.TextOps.round6]]'s
    * floor grid. */
  def retentionCohorts(df: DataFrame, keyCol: String,
                       tsCol: String): DataFrame = {
    // the distinct (user, week) frame feeds BOTH the cohort assignment
    // and the activity matrix — persist so the corpus scans once
    val act = graft.Caches.track(df.select(col(keyCol),
        date_trunc("week", col(tsCol)).as("__w")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val first = act.groupBy(col(keyCol)).agg(min(col("__w")).as("__cw"))
    val cells = act.join(first, keyCol)
      .select(col("__cw").as("cohort_week"),
        // exact: week-aligned stamps differ by whole 604800s multiples,
        // and IEEE division of an exact multiple is exactly integral
        floor((unix_timestamp(col("__w")) - unix_timestamp(col("__cw")))
          / lit(604800L)).cast("long").as("week_no"))
      .groupBy("cohort_week", "week_no")
      .agg(count(lit(1)).as("n_active"))
    // cohort sizes: a |cohorts|-row frame — broadcast-joinable at any SF
    val sizes = first.groupBy(col("__cw").as("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    cells.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_no"), col("n_active"),
        col("n_cohort"),
        graft.ops.TextOps.round6(col("n_active").cast("double")
          / col("n_cohort").cast("double")).as("retention6"))
  }

  /** Lag-k autocorrelation of hourly event volume per type — "is this
    * stream periodic at lag k" (acf at lag 24 ≈ daily seasonality, the
    * statistic behind choosing e47's profile grain). Pairs are
    * consecutive OBSERVED buckets (h, h+k·3600) joined on exact epoch
    * seconds; all six co-moment sums are exact BIGINTs over integer
    * counts (the f70 discipline), the Pearson close is one
    * fixed-association float expression. Null when fewer than 2 pairs
    * or a variance degenerates. */
  def volumeAutocorr(df: DataFrame, typeCol: String, tsCol: String,
                     lagBuckets: Int = 1): DataFrame = {
    // the hourly aggregate feeds BOTH join sides — persist, scan once
    val b = graft.Caches.track(df.groupBy(col(typeCol).as("t"),
        unix_timestamp(date_trunc("hour", col(tsCol))).as("h"))
      .agg(count(lit(1)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val y = b.select(col("t"), col("h"), col("v").as("y"))
    val x = b.select(col("t"),
      (col("h") + lit(3600L * lagBuckets)).as("h"), col("v").as("x"))
    y.join(x, Seq("t", "h"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("t").as("event_type"), col("n"),
        when(col("n") >= 2
            && col("n") * col("sxx") - col("sx") * col("sx") > 0
            && col("n") * col("syy") - col("sy") * col("sy") > 0,
          graft.ops.TextOps.round6(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))))).as("acf6"))
  }

  /** Full correlogram — [[volumeAutocorr]] swept over lags 1..maxLag in
    * ONE plan: the hourly aggregate joins a lag-exploded copy of itself
    * (still an epoch-second equi-join; the explode fans out the BOUNDED
    * per-type hourly frame, never the raw events), and every (type, lag)
    * cell closes from exact BIGINT co-moments. The peak row IS the
    * period detector (acf spiking at lag 24 = daily rhythm). */
  def correlogram(df: DataFrame, typeCol: String, tsCol: String,
                  maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val b = graft.Caches.track(df.groupBy(col(typeCol).as("t"),
        unix_timestamp(date_trunc("hour", col(tsCol))).as("h"))
      .agg(count(lit(1)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val y = b.select(col("t"), col("h"), col("v").as("y"))
    val x = b.select(col("t"), col("h"), col("v").as("x"))
      .select(col("t"), col("x"),
        explode(array((1 to maxLag).map(lit): _*)).as("lag"),
        col("h"))
      .select(col("t"), col("lag"),
        (col("h") + col("lag").cast("long") * lit(3600L)).as("h"), col("x"))
    y.join(x, Seq("t", "h"))
      .groupBy("t", "lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("t").as(typeCol), col("lag"), col("n"),
        when(col("n") >= 2
            && col("n") * col("sxx") - col("sx") * col("sx") > 0
            && col("n") * col("syy") - col("sy") * col("sy") > 0,
          graft.ops.TextOps.round6(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))))).as("acf6"))
  }

  /** DAU/MAU stickiness — per calendar day: distinct active users, the
    * containing month's distinct actives, and their ratio (the
    * "how habitual is usage" product metric; 1.0 = every monthly user
    * shows up daily). Two distinct-frame aggregates off ONE projection;
    * the month side is calendar-bounded, so the closing join
    * broadcasts. */
  def stickiness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    // feeds BOTH the DAU and MAU distinct counts — persist, scan once
    val base = graft.Caches.track(df.select(col(keyCol),
        date_trunc("day", col(tsCol)).as("day"),
        date_trunc("month", col(tsCol)).as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dau = base.distinct()
      .groupBy("day", "mon").agg(count(lit(1)).as("dau"))
    val mau = base.select(col(keyCol), col("mon")).distinct()
      .groupBy("mon").agg(count(lit(1)).as("mau"))
    dau.join(broadcast(mau), "mon")
      .select(col("day"), col("dau"), col("mau"),
        graft.ops.TextOps.round6(col("dau").cast("double")
          / col("mau").cast("double")).as("stickiness6"))
  }

  /** RFM segmentation (recency / frequency / monetary) with quartile
    * scores — the classic customer-value cut. Per key: recency = whole
    * days between the key's last event and the corpus' latest event
    * (integer), frequency = event count (integer), monetary = 2dp-rounded
    * value sum (grid-snapped BEFORE scoring so a ~1-ulp cross-engine sum
    * drift cannot move a customer across a quartile edge). Scores are
    * 1 + (#quartile cuts ≤ metric), 4 = best — recency scores INVERTED
    * (lower recency = better). Quartile cuts come from ONE exact
    * percentile aggregate over the bounded per-key frame (9 doubles
    * through the driver — the s70/qcut precedent); both engines
    * interpolate cuts at dyadic positions over identical inputs, so the
    * comparisons are bit-deterministic. */
  def rfm(df: DataFrame, keyCol: String, tsCol: String,
          valCol: String): DataFrame = {
    val qs = array(lit(0.25), lit(0.5), lit(0.75))
    // Corpus last-event bound: a global-max WINDOW would be a single-task
    // global window — probe it once (1-row aggregate) and project instead.
    val lastRow = df.agg(max(unix_micros(col(tsCol)))).head()
    val corpusLast = lastRow.getLong(0)
    val metrics = df.groupBy(col(keyCol)).agg(
        max(unix_micros(col(tsCol))).as("__last_us"),
        count(lit(1)).as("frequency"),
        (floor(sum(col(valCol)) * 1e2 + 0.5) / 1e2).as("monetary"))
      .withColumn("recency",
        floor((lit(corpusLast) - col("__last_us")) / lit(86400000000L))
          .cast("long"))
      .drop("__last_us")
    val cutRow = metrics.agg(
        percentile(col("recency"), qs).as("rq"),
        percentile(col("frequency"), qs).as("fq"),
        percentile(col("monetary"), qs).as("mq")).head()
    def cuts(i: Int): Seq[Double] =
      cutRow.getSeq[Double](i)
    def scoreAsc(c: Column, q: Seq[Double]): Column =
      lit(1) + q.map(t => when(c >= t, 1).otherwise(0)).reduce(_ + _)
    def scoreDesc(c: Column, q: Seq[Double]): Column =
      lit(1) + q.map(t => when(c < t, 1).otherwise(0)).reduce(_ + _)
    metrics
      .withColumn("r_score", scoreDesc(col("recency"), cuts(0)))
      .withColumn("f_score", scoreAsc(col("frequency").cast("double"), cuts(1)))
      .withColumn("m_score", scoreAsc(col("monetary"), cuts(2)))
  }

  /** SCD2 change-compression: collapse a per-key attribute event stream
    * to Type-2 slowly-changing-dimension history rows — one row per
    * VALUE RUN with `[valid_from, valid_to)` validity and an open
    * (null-`valid_to`, `is_current`) tail. The CDC→dimension compaction
    * every warehouse load performs; equal-timestamp ties are totalized
    * by `tieCol` so the run boundaries are deterministic.
    *
    * Plan shape: ONE exchange keyed by `keyCol` carries all three window
    * nodes (the lag change-detector, then lead/row_number over the
    * filtered change rows — same partitioning, Catalyst reuses the
    * sort), then everything is projection. No data-sized state anywhere:
    * at 100 TB this is exactly one keyed shuffle. */
  /** Theil–Sen robust trend per key over a bucketed series: the MEDIAN
    * of all pairwise slopes `(y₂−y₁)/(x₂−x₁)` — the outlier-immune
    * alternative to least-squares (f35) a volume-trend monitor wants
    * when single anomalous buckets would swing the fit.
    *
    * Median is the LOW median (rank ⌈n/2⌉), selected by rank — never an
    * interpolating median() builtin, whose even-count averaging differs
    * across engines. Total order: (slope, x₁, x₂), so ties are
    * deterministic. Slopes are one double division of exact integers,
    * identical in any engine; output snaps to the 6dp grid.
    *
    * Scale shape: one keyed equi-join fan-out of O(T²) pairs per key +
    * one per-key rank window — for CALENDAR-bucketed series (T ≤ a few
    * thousand buckets per key at any corpus scale) that is bounded;
    * don't point it at an unbucketed event stream. */
  def theilSen(df: DataFrame, keyCol: String, xCol: String,
               yCol: String): DataFrame = {
    val b = graft.Caches.track(df.select(col(keyCol).as("k"),
        col(xCol).cast("long").as("x"), col(yCol).cast("double").as("y"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val pairs = b.as("a").join(b.as("b"),
        col("a.k") === col("b.k") && col("a.x") < col("b.x"))
      .select(col("a.k").as("k"),
        ((col("b.y") - col("a.y"))
          / (col("b.x") - col("a.x")).cast("double")).as("slope"),
        col("a.x").as("x1"), col("b.x").as("x2"))
    val w = Window.partitionBy("k")
      .orderBy(col("slope").asc, col("x1").asc, col("x2").asc)
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("k")))
      .filter(col("rn") === expr("(np + 1) div 2"))
      .select(col("k"), col("np").as("n_pairs"),
        (floor(col("slope") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("slope6"))
  }

  /** Time-to-convert: for every conversion event, the elapsed whole
    * minutes since the converting user's most recent `triggerType`
    * event (null when no trigger preceded — organic conversions) — the
    * per-conversion latency frame funnels/SLAs aggregate. ONE keyed
    * exchange: a conditional running-max window (`max(ts when trigger)`
    * unbounded-preceding, EXCLUSIVE of the current row so a conversion
    * cannot trigger itself) on the (ts, tie) total order; the gap is
    * exact integer µs division. */
  def timeToConvert(df: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, tieCol: String, triggerType: String,
                    conversionType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__trig", max(when(col(typeCol) === triggerType,
        unix_micros(col(tsCol)))).over(w))
      .filter(col(typeCol) === conversionType)
      .select(col(userCol), col(tieCol).as("conv_id"),
        expr(s"(unix_micros($tsCol) - __trig) div 60000000")
          .as("gap_minutes"))
  }

  /** First-touch / last-touch revenue attribution: every conversion
    * event's value credits (a) the type of the converting user's FIRST
    * event ever (first-touch) and (b) the type of the event immediately
    * preceding the conversion (last-touch; conversions with no prior
    * event credit themselves as `(direct)`). Output: one row per
    * (model, touch_type) with conversion count + revenue — the
    * marketing-analytics staple over any typed event stream.
    *
    * ONE keyed exchange (user) carries both windows (first-value
    * unbounded-preceding + lag-1 on the (ts, tie) total order); the
    * aggregation is partial+final keyed by (model, touch). Revenue sums
    * 2dp money through DECIMAL(30,8) (order-free exact) and casts back
    * to double. */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, valCol: String, tieCol: String,
                  conversionType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val touched = df
      .withColumn("__first", first(col(typeCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col(typeCol) === conversionType)
    val both = touched.select(lit("first_touch").as("model"),
        col("__first").as("touch"), col(valCol).as("v"))
      .unionByName(touched.select(lit("last_touch").as("model"),
        coalesce(col("__prev"), lit("(direct)")).as("touch"),
        col(valCol).as("v")))
    both.groupBy("model", "touch")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(30,8)")).cast("double").as("revenue"))
      .withColumn("revenue", graft.ops.TextOps.round2(col("revenue")))
  }

  /** Kaplan–Meier survival curve of subject lifetimes with right-
    * censoring — the churn/retention estimator done properly: a
    * subject's lifetime is first-event → last-event in whole `unitUs`
    * units (elapsed, integer µs division); the "death" (churn) is
    * OBSERVED only if the last event precedes the corpus horizon by
    * more than `gapUnits` units (otherwise the subject may still be
    * alive — censored, which naive retention curves get wrong). At each
    * distinct lifetime t: n_t at risk (lifetime ≥ t), d_t observed
    * churns, and `S(t) = Π_{u≤t} (1 − d_u/n_u)`.
    *
    * Scale shape: ONE keyed span aggregation collapses the data to a
    * per-user frame, a second to the per-duration frame — whose size is
    * CALENDAR-bounded (≤ days spanned by the corpus), so the suffix
    * at-risk counts and the sequential product run on the driver over
    * that bounded frame (the e45 markov discipline), never a
    * data-sized single-task window.
    *
    * Determinism: d, n are exact ints; each factor `1 − d/n` is one
    * double division; the product associates strictly in ascending-t
    * order — replayed identically by a DuckDB recursive CTE — and
    * snaps to the 6dp grid at output only. */
  def kaplanMeier(df: DataFrame, subjectCols: Seq[String], tsCol: String,
                  gapUnits: Int, unitUs: Long = 86400000000L): DataFrame = {
    val spans = graft.Caches.track(df
      .groupBy(subjectCols.map(col): _*)
      .agg(min(unix_micros(col(tsCol))).as("u0"),
        max(unix_micros(col(tsCol))).as("u1"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val lastRow = spans.agg(max(col("u1"))).head() // 1-row horizon probe
    val horizonUs = lastRow.getLong(0) - gapUnits * unitUs
    // duration = elapsed FULL units (integer µs division — no calendar
    // boundary semantics to disagree on between engines)
    val byT = spans.select(
        expr(s"(u1 - u0) div $unitUs").as("t"),
        when(col("u1") < horizonUs, 1L).otherwise(0L).as("ev"))
      .groupBy("t").agg(count(lit(1)).as("c"), sum(col("ev")).as("d"))
      .orderBy("t")
      .collect() // ≤ corpus-span units rows — calendar-bounded
    val total = byT.map(_.getLong(1)).sum
    var atRisk = total
    var s = 1.0
    val out = byT.map { r =>
      val t = r.getLong(0); val c = r.getLong(1); val d = r.getLong(2)
      val n = atRisk
      s = s * (1.0 - d.toDouble / n.toDouble) // fixed ascending-t order
      atRisk -= c
      (t, n, d, c - d, math.floor(s * 1e6 + 0.5) / 1e6)
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("t", "n_risk", "d_churn", "censored", "s6")
  }

  /** One [[holtSmooth]] output row: the bucket's observed value, the
    * one-step-ahead forecast made BEFORE seeing it (null on each key's
    * first bucket), and the post-update level/trend — all 6dp-snapped
    * at output only (state carries full precision). */
  final case class HoltRow(k: String, ws: java.sql.Timestamp, y: Double,
                           fc6: Option[Double], l6: Double, b6: Double)

  /** Holt double exponential smoothing (level + linear trend) per key
    * over a time-bucketed series — the classic short-horizon volume
    * forecaster the e43/e44 alarms can baseline against:
    * `l = α·y + (1−α)(l'+b')`, `b = β(l−l') + (1−β)b'`, forecast
    * `l'+b'`; seeds l₁ = y₁, b₁ = 0.
    *
    * An inherently sequential per-key recurrence → ONE typed pass per
    * key (the SCD2 key-bounded-state discipline: a calendar-bucketed
    * series is ≤ thousands of rows per key at any corpus scale). The
    * oracle replays the identical float sequence as a DuckDB recursive
    * CTE (the s50 pattern) — pass BINARY-EXACT α/β (0.25, 0.125, …) so
    * the engine-side `1−α` complements are exact too; output snaps to
    * the 6dp grid, state never does. */
  def holtSmooth(df: DataFrame, keyCol: String, ordCol: String,
                 valCol: String, alpha: Double, beta: Double)
      : org.apache.spark.sql.Dataset[HoltRow] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val inEnc: Encoder[(String, java.sql.Timestamp, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP,
        Encoders.scalaDouble)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[HoltRow] = Encoders.product[HoltRow]
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    df.select(col(keyCol).cast("string"), col(ordCol),
        col(valCol).cast("double"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        val out = Array.newBuilder[HoltRow]
        var lp = 0.0
        var bp = 0.0
        var first = true
        rows.foreach { case (_, ws, y) =>
          if (first) {
            lp = y; bp = 0.0; first = false
            out += HoltRow(k, ws, y, None, r6(lp), r6(bp))
          } else {
            val fc = lp + bp
            val l = alpha * y + (1.0 - alpha) * (lp + bp)
            val b = beta * (l - lp) + (1.0 - beta) * bp
            out += HoltRow(k, ws, y, Some(r6(fc)), r6(l), r6(b))
            lp = l; bp = b
          }
        }
        out.result().iterator
      }
  }

  /** One [[holtWinters]] output row: [[HoltRow]] plus the post-update
    * seasonal component (0 on each key's first bucket, where no
    * seasonal update happens). */
  final case class HoltWintersRow(k: String, ws: java.sql.Timestamp,
                                  y: Double, fc6: Option[Double],
                                  l6: Double, b6: Double, s6: Double)

  /** ADDITIVE SEASONAL Holt-Winters (level + trend + period-m seasonal)
    * per key — [[holtSmooth]] extended with the third component against
    * the hour×dow structure e47's seasonalProfile measures:
    * `l = α(y−s₋ₘ) + (1−α)(l'+b')`, `b = β(l−l') + (1−β)b'`,
    * `s = γ(y−l'−b') + (1−γ)s₋ₘ`, forecast `l'+b'+s₋ₘ`. Seeds:
    * l₁ = y₁, b₁ = 0, seasonals all 0 (the first m rows smooth against
    * a zero seasonal and fill the ring — the simple-init convention,
    * replayable exactly).
    *
    * Same scale/determinism contract as [[holtSmooth]]: one typed pass
    * per key (bounded calendar-bucket state + an m-slot ring), the
    * oracle replays the identical float sequence as a DuckDB recursive
    * CTE whose state carries the m-list of live seasonals; pass
    * BINARY-EXACT α/β/γ; 6dp snap at output only. */
  def holtWinters(df: DataFrame, keyCol: String, ordCol: String,
                  valCol: String, alpha: Double, beta: Double,
                  gamma: Double, period: Int)
      : org.apache.spark.sql.Dataset[HoltWintersRow] = {
    require(period >= 2, s"period must be >= 2, got $period")
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val inEnc: Encoder[(String, java.sql.Timestamp, Double)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP,
        Encoders.scalaDouble)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[HoltWintersRow] =
      Encoders.product[HoltWintersRow]
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    df.select(col(keyCol).cast("string"), col(ordCol),
        col(valCol).cast("double"))
      .as[(String, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(_._2.getTime)
        val out = Array.newBuilder[HoltWintersRow]
        val season = Array.fill(period)(0.0)
        var pos = 0 // ring head = the slot holding s_{t-period}
        var lp = 0.0
        var bp = 0.0
        var first = true
        rows.foreach { case (_, ws, y) =>
          if (first) {
            lp = y; bp = 0.0; first = false
            out += HoltWintersRow(k, ws, y, None, r6(lp), r6(bp), r6(0.0))
          } else {
            val sPrev = season(pos)
            val fc = lp + bp + sPrev
            val l = alpha * (y - sPrev) + (1.0 - alpha) * (lp + bp)
            val b = beta * (l - lp) + (1.0 - beta) * bp
            val sNew = gamma * (y - lp - bp) + (1.0 - gamma) * sPrev
            season(pos) = sNew
            pos = (pos + 1) % period
            out += HoltWintersRow(k, ws, y, Some(r6(fc)), r6(l), r6(b),
              r6(sNew))
            lp = l; bp = b
          }
        }
        out.result().iterator
      }
  }

  def scd2Compress(df: DataFrame, keyCol: String, tsCol: String,
                   attrCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val changed = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(attrCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .withColumn("__prevTie", lag(col(tieCol), 1).over(w))
      // null attr is a legal run value: null≠null must NOT open a new run,
      // so compare null-safely; the head row (no predecessor — tie is
      // never null, so a null __prevTie marks it) always opens a run
      .filter(col("__prevTie").isNull
        .or(!(col(attrCol) <=> col("__prev"))))
    changed
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col("version"), col(attrCol),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Two-proportion z-test (the A/B conversion test): variant and
    * conversion are boolean columns over any per-subject frame; ONE
    * partial+final aggregate closes both groups' counts and the z /
    * lift close as pure projections over the 1-row frame — no joins,
    * no probes, no data-sized anything after the aggregate.
    *
    * Determinism: proportions and the pooled standard error derive from
    * exact integer counts through a FIXED association
    * (`(p̂(1−p̂))·(1/n₁+1/n₂)` — each factor one division), so z is
    * bit-identical in any engine before the 6dp floor grid. */
  def abTest(df: DataFrame, variantCol: Column,
             convCol: Column): DataFrame = {
    val agg = df.agg(
      sum(when(variantCol, 1L).otherwise(0L)).as("n1"),
      sum(when(variantCol && convCol, 1L).otherwise(0L)).as("c1"),
      sum(when(!variantCol, 1L).otherwise(0L)).as("n2"),
      sum(when(!variantCol && convCol, 1L).otherwise(0L)).as("c2"))
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val p2 = col("c2").cast("double") / col("n2").cast("double")
    val pool = (col("c1") + col("c2")).cast("double") /
      (col("n1") + col("n2")).cast("double")
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n1").cast("double")
        + lit(1.0) / col("n2").cast("double")))
    // degenerate designs (an empty cohort, or a saturated 0%/100% pooled
    // rate making the SE zero) yield NULL statistics, never a silently
    // wrong floor(NaN)=0 / floor(Inf) value
    agg.select(col("n1"), col("c1"), col("n2"), col("c2"),
      when(col("n1") > 0, graft.ops.TextOps.round6(p1)).as("p1_6"),
      when(col("n2") > 0, graft.ops.TextOps.round6(p2)).as("p2_6"),
      when(col("n1") > 0 && col("n2") > 0 && se > 0.0,
        graft.ops.TextOps.round6((p1 - p2) / se)).as("z6"),
      when(col("n1") > 0 && col("c2") > 0,
        graft.ops.TextOps.round6(p1 / p2)).as("lift6"))
  }

  /** Weight of Evidence / Information Value per category of a feature
    * against a binary label — the standard supervised-binning
    * diagnostic for feature engineering (`woe = ln((posᵢ/POS)/(negᵢ/
    * NEG))`, `IV = Σ (posᵢ/POS − negᵢ/NEG)·woeᵢ`). Plan shape mirrors
    * [[chiSquare]]: ONE partial+final count aggregation collapses the
    * data to the |bins| frame; the global pos/neg totals close as a
    * 1-row probe; IV totals exact 1e-6-unit BIGINTs over the bounded
    * frame (order-free) and divides once.
    *
    * Determinism: the woe argument is one ratio of exact integers
    * (`(posᵢ·NEG)/(negᵢ·POS)` in a fixed association), so ln() replays
    * bit-identically; woe and the IV terms round to the 6dp floor grid.
    * Bins where either class count is zero get null woe and contribute
    * nothing to IV (the usual library behavior — re-bin upstream). */
  def woeIv(df: DataFrame, binCol: String, labelCol: Column): DataFrame = {
    val bins = graft.Caches.track(
      df.groupBy(col(binCol).as("bin"))
        .agg(sum(when(labelCol, 1L).otherwise(0L)).as("pos"),
          sum(when(labelCol, 0L).otherwise(1L)).as("neg"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val t = bins.agg(sum(col("pos")), sum(col("neg"))).head() // 1-row
    val posT = t.getLong(0)
    val negT = t.getLong(1)
    require(posT > 0 && negT > 0, "woeIv needs both classes present")
    val woe = log((col("pos").cast("double") * lit(negT.toDouble)) /
      (col("neg").cast("double") * lit(posT.toDouble)))
    val scored = bins
      .withColumn("woe6", when(col("pos") > 0 && col("neg") > 0,
        graft.ops.TextOps.round6(woe)))
      .withColumn("__ivu", when(col("woe6").isNotNull,
        floor((col("pos").cast("double") / lit(posT.toDouble)
          - col("neg").cast("double") / lit(negT.toDouble))
          * col("woe6") * 1e6 + 0.5).cast("long")).otherwise(0L))
    val ivTotal = scored.agg(sum(col("__ivu"))).head().getLong(0) // 1-row
    scored.select(col("bin"), col("pos"), col("neg"), col("woe6"),
      (col("__ivu").cast("double") / 1e6).as("iv6"),
      lit(ivTotal.toDouble / 1e6).as("iv_total"))
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns (e.g. event type × hour-of-day): the contingency table with
    * expected counts and per-cell contributions, plus the closing χ²
    * statistic and degrees of freedom — the drift / association screen a
    * corpus datasheet wants.
    *
    * Plan shape: ONE partial+final count aggregation collapses the data
    * to the |A|×|B| contingency frame (persisted — every downstream
    * consumer reads the bounded frame, never the data); marginals are
    * |A|- and |B|-row aggregates of it, equi-joined back, and the grand
    * total / χ² close as two 1-row driver probes projected as literals
    * (the rfm precedent — a literal-key join would constant-fold to a
    * nested loop, and a global window would be single-task). Nothing
    * after the first aggregate is data-sized.
    *
    * Determinism: observed/expected derive from exact integer counts
    * (`exp = (rowTot·colTot)/N` — one double division, bit-identical in
    * any engine); per-cell contributions round to the 6dp floor grid,
    * and χ² totals their exact µ-units as a BIGINT sum (order-free)
    * divided once — no float accumulation anywhere. */
  /** Volume-anomaly screen: per-key event-time buckets whose count is a
    * z-score outlier against that key's TRAILING `lookback` buckets
    * (current excluded — a spike must not dilute its own baseline) — the
    * ingestion-rate alarm a streaming corpus pipeline pages on. ONE
    * partial+final bucket count collapses the data, then a keyed rolling
    * window over the bounded bucket frame; nothing after the first
    * aggregate is data-sized, and there is no global window.
    *
    * The baseline covers the last `lookback` OBSERVED buckets of the
    * key (calendar gaps don't shrink it — the usual rate-monitor
    * behavior; densify upstream if empty buckets must count as zero).
    *
    * Determinism: baseline mean/variance come from exact integer
    * Σn / Σn² window sums in ONE fixed-association double expression
    * (never Welford-style incremental variance, whose association an
    * external engine can't replay); z floors to the 6dp grid. Buckets
    * with under 2 baseline points or zero variance get null z (no
    * verdict), never a 0/0. */
  def rateAnomalies(df: DataFrame, tsCol: String, keyCol: String,
                    duration: String, lookback: Int,
                    zThresh: Double): DataFrame = {
    require(lookback >= 2, "lookback must be >= 2 buckets")
    val counts = tumbling(df, tsCol, duration, Seq(col(keyCol)),
      Seq(count(lit(1)).as("n")))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("ws").asc)
      .rowsBetween(-lookback, -1)
    val base = counts
      .withColumn("bn", count(lit(1)).over(w))
      .withColumn("bs", sum(col("n")).over(w))
      .withColumn("bq", sum(col("n") * col("n")).over(w))
    val bnD = col("bn").cast("double")
    val mean = col("bs").cast("double") / bnD
    val variance = ((col("bq").cast("double")
      - col("bs").cast("double") * col("bs").cast("double") / bnD)
      / (bnD - lit(1.0)))
    val z = (col("n").cast("double") - mean) / sqrt(variance)
    base.select(col("ws"), col(keyCol), col("n"), col("bn"),
      when(col("bn") >= 2L && variance > 0.0,
        graft.ops.TextOps.round6(z)).as("z6"))
      .withColumn("is_anomaly",
        when(col("z6").isNotNull, abs(col("z6")) >= zThresh))
  }

  /** One-sided CUSUM drift detector over per-key event-time bucket
    * counts — [[rateAnomalies]]'s sibling for SLOW drifts a per-bucket
    * z-score never trips (each bucket looks individually normal while
    * the small excesses accumulate). Classic reduction: with
    * `P_t = Σ_{j≤t}(x_j − μ_key)`, the CUSUM statistic
    * `S⁺_t = max(0, S⁺_{t-1} + x_t − μ) = P_t − min_{j≤t} P_j` — two
    * KEYED cumulative windows over the bounded bucket frame, no
    * sequential recurrence, no driver state.
    *
    * Determinism: μ floors to exact 1e-6 units (one integer-ratio
    * division), so deviations, prefix sums, and the running min are ALL
    * exact BIGINT µ-unit arithmetic — bit-portable with no float
    * reduction anywhere. Alarm fires when the accumulated excess
    * exceeds `h` counts. */
  def cusumDrift(df: DataFrame, tsCol: String, keyCol: String,
                 duration: String, h: Double): DataFrame = {
    val counts = tumbling(df, tsCol, duration, Seq(col(keyCol)),
      Seq(count(lit(1)).as("n")))
    val wAll = Window.partitionBy(col(keyCol))
    val wCum = Window.partitionBy(col(keyCol)).orderBy(col("ws").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mu = floor(sum(col("n")).over(wAll).cast("double")
      / count(lit(1)).over(wAll).cast("double") * lit(1e6) + lit(0.5))
      .cast("long")
    val base = counts
      .withColumn("__dev", col("n") * lit(1000000L) - mu)
      .withColumn("__p", sum(col("__dev")).over(wCum))
      // the running min must include the virtual P₀ = 0 (the empty
      // prefix), or S⁺ is understated on all-positive prefixes and
      // identically 0 at each key's first bucket
      .withColumn("__pmin", least(min(col("__p")).over(wCum), lit(0L)))
    base.select(col("ws"), col(keyCol), col("n"),
      ((col("__p") - col("__pmin")).cast("double") / lit(1e6))
        .as("cusum6"))
      .withColumn("alarm", col("cusum6") >= lit(h))
  }

  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // four consumers (cells, both marginals, the total) — persist so the
    // data-sized count aggregation runs once (released by Caches.clear())
    val obs = graft.Caches.track(
      df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
        .agg(count(lit(1)).as("obs"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val rowTot = obs.groupBy("a").agg(sum(col("obs")).as("ra"))
    val colTot = obs.groupBy("b").agg(sum(col("obs")).as("rb"))
    // grand total + category counts: 1-row probe over the bounded frame
    val totRow = obs.agg(sum(col("obs")).as("n"),
      countDistinct(col("a")).as("ka"),
      countDistinct(col("b")).as("kb")).head()
    val n = totRow.getLong(0)
    val dof = (totRow.getLong(1) - 1) * (totRow.getLong(2) - 1)
    val cells = obs.join(rowTot, "a").join(colTot, "b")
      .withColumn("exp",
        (col("ra") * col("rb")).cast("double") / lit(n.toDouble))
      .withColumn("contrib",
        (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp"))
      .withColumn("__cu",
        floor(col("contrib") * 1e6 + 0.5).cast("long"))
    // χ² total: 1-row probe of the cells' exact µ-unit BIGINTs
    val chiTotal = cells.agg(sum(col("__cu"))).head().getLong(0)
    cells.select(col("a"), col("b"), col("obs"),
      graft.ops.TextOps.round6(col("exp")).as("exp6"),
      (col("__cu").cast("double") / 1e6).as("contrib6"),
      lit(chiTotal.toDouble / 1e6).as("chi2"),
      lit(dof).as("dof"))
  }
}
