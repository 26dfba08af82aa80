package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge.{checkpoint, pin}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming twins of the batch event operators in
  * [[graft.ops.EventOps]]: watermarked tumbling-window aggregation and
  * stateful gap sessionization.
  *
  * These take any streaming DataFrame with (ts TIMESTAMP, user_id LONG,
  * event_type STRING, value DOUBLE) — `spark.readStream` sources in
  * production, MemoryStream in tests. State lives in the streaming state
  * store (per-key, partitioned by the grouping key), so the operators scale
  * horizontally exactly like their batch twins; watermarks bound state
  * retention and admit bounded lateness.
  */
object StreamOps {

  /** Event-time tumbling-window counts/sums per event type, with a
    * watermark bounding late data and state size. */
  def windowedAgg(events: DataFrame, watermarkDelay: String,
                  windowDuration: String): DataFrame =
    windowedAgg(events, watermarkDelay, windowDuration, windowDuration)

  /** Streaming incremental dedup — the continuous-ingestion shape: every
    * micro-batch of incoming docs near-dup-joins against the STATIC
    * existing corpus through foreachBatch, reusing the batch
    * [[graft.ops.DedupOps.jaccardFromPostings]] core verbatim; matches
    * reach the sink exactly once per epoch (foreachBatch's transactional
    * contract with an idempotent sink). Per-batch cost tracks the BATCH's
    * postings, not the corpus: the STATIC corpus posting projection is
    * built+persisted ONCE per ingestion run (Caches-tracked, released by
    * the caller's end-of-run clear), while each batch's postings persist
    * only for the epoch — sink() materializes inside foreachBatch, so the
    * batch side unpersists as the epoch ends and an unbounded ingestion
    * run accumulates no per-batch cache entries. */
  def dedupIngest(stream: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String, n: Int, threshold: Double)(
      sink: DataFrame => Unit): StreamingQuery = {
    import graft.ops.DedupOps
    val corpusPosts = graft.Caches.track(
      DedupOps.crossPostings(corpus, idCol, "old_id", textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val batchPosts = DedupOps
          .crossPostings(batch.toDF(), idCol, "new_id", textCol, n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try sink(DedupOps.jaccardFromPostings(batchPosts, corpusPosts,
          threshold))
        finally batchPosts.unpersist(blocking = false)
      }
      .start()
  }

  /** Streaming KMV distinct sketch — continuous per-group cardinality
    * over an unbounded ingest: each micro-batch hashes its batch's set
    * elements ([[graft.ops.DedupOps.portableHash60]]) and MERGES into a
    * bounded bottom-k state per group (bottom-k of a union = bottom-k of
    * merged bottom-ks — the mergeability [[graft.ops.DedupOps
    * .kmvDistinct]] documents, exercised here across epochs). State is
    * ≤ |groups|·k rows, localCheckpointed each epoch so lineage never
    * grows with the stream; on a production cluster the same frame would
    * checkpoint to reliable storage. Returns the query plus a reader of
    * the CURRENT sketch (group, h) state — estimate via the (k−1)·2⁶⁰/hₖ
    * rule at any point of the run. */
  def kmvIngest(stream: DataFrame, groupCol: String,
                setCol: org.apache.spark.sql.Column,
                k: Int): (StreamingQuery, () => DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("h").asc)
    // start from an EMPTY typed frame, so the reader is total — callers
    // may read "the current sketch" before the first epoch commits
    val empty = stream.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          stream.schema(groupCol).dataType),
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType))))
    @volatile var state: DataFrame = empty
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // stage the (heavy) set expression in a codegen'd Project BEFORE
        // the explode — Generate evaluates its generator input
        // interpreted (the d09/t04 lesson from PLANS.md)
        val hs = batch.toDF()
          .select(col(groupCol).as("g"), setCol.as("__set"))
          .select(col("g"), explode(col("__set")).as("t"))
          .select(col("g"), graft.ops.DedupOps.portableHash60(col("t"))
            .as("h"))
          .dropDuplicates("g", "h")
        // KMV is mergeable: bottom-k(state ∪ batch) = bottom-k(state ∪
        // bottom-k(batch)) — rank the DEDUPED batch down to k per group
        // first (WindowGroupLimit partial heaps before the exchange), so
        // the merge never re-shuffles batch-sized data
        val hsk = hs
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .drop("__rk")
        val merged = state.unionByName(hsk).dropDuplicates("g", "h")
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .drop("__rk")
        state = merged.localCheckpoint(true) // bounded: |groups| × k rows
        ()
      }
      .start()
    (q, () => state)
  }

  /** Streaming CDC ingestion — the continuous MERGE feed: each
    * micro-batch of RAW change rows (op + sequence number, any number of
    * ops per key, any arrival order) folds into a bounded
    * one-row-per-key compacted state via
    * [[graft.ops.PipelineOps.compactCdcWithSeq]]. Last-writer-wins is
    * associative, so the state after any batch split equals compacting
    * the whole log at once: late rows with lower seq than the state's
    * winner lose to it, and tombstones RETAINED in the state (rather
    * than applied) stop a late lower-seq update from resurrecting a
    * deleted key. State: ≤ |keys| rows, lineage cut per epoch
    * (localCheckpoint; reliable checkpoint on a production cluster).
    * Returns the query + a reader of the CURRENT compacted change set
    * (tombstones included) — close with
    * [[graft.ops.PipelineOps.applyCdc]] against any base snapshot. */
  def cdcIngest(stream: DataFrame, keyCols: Seq[String],
                seqCol: String): (StreamingQuery, () => DataFrame) = {
    val empty = stream.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](), stream.schema)
    @volatile var state: DataFrame = empty
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        state = graft.ops.PipelineOps
          .compactCdcWithSeq(state.unionByName(batch.toDF()),
            keyCols, seqCol)
          .localCheckpoint(true) // ≤ |keys| rows; lineage cut per epoch
        ()
      }
      .start()
    (q, () => state)
  }

  /** Streaming CDC → VERSIONED COMMITS — the exactly-once lakehouse
    * ingestion loop stitching [[cdcIngest]] to
    * [[graft.sources.VersionedTable.commitCdc]]: each micro-batch of
    * RAW out-of-order change rows folds into the bounded seq-retaining
    * compacted state, and the slice of that state the batch TOUCHED
    * (the state's WINNING row per batch key — never the raw batch
    * rows) lands as one tagged MERGE commit on the versioned table.
    * Committing the state's winner makes arrival order harmless: a
    * late lower-seq row re-commits the unchanged winner (idempotent
    * content), and tombstones retained in the state keep a late update
    * from resurrecting a deleted key.
    *
    * EXACTLY-ONCE SCOPE — same-process epoch replay: every commit
    * carries an `epoch=<id>` tag, and a replayed epoch (foreachBatch
    * re-executes an epoch after an in-process failure) finds its tag
    * via [[graft.sources.VersionedTable.taggedVersion]] and skips.
    * Across a FULL PROCESS RESTART two more things must survive, and
    * both are the caller's to supply: (1) `checkpointLocation` — the
    * streaming checkpoint that keeps epoch ids monotone across
    * restarts (without it a restarted query re-numbers epochs from 0
    * and a fresh epoch's tag can collide with an unrelated prior tag
    * on the same table); (2) `initialState` — the recovered
    * seq-retaining compacted state (winners AND tombstones). The
    * in-memory state seeds EMPTY by default, so after a restart
    * without it a late lower-seq row could regress a key or resurrect
    * a delete; recover it by re-folding the durable CDC log's
    * already-ingested prefix through
    * [[graft.ops.PipelineOps.compactCdcWithSeq]] (deterministic — the
    * fold is associative last-writer-wins) or from any durable copy of
    * the state. On a production cluster the state frame itself would
    * checkpoint to reliable storage per epoch.
    *
    * The table advances one version per non-empty batch, and any
    * intermediate version time-travels back to the exact prefix state
    * — batch boundaries become pinned history. Returns the query + a
    * reader of the compacted state. */
  def cdcCommitIngest(stream: DataFrame, tableDir: String, keyCol: String,
                      seqCol: String, opCol: String,
                      checkpointLocation: Option[String] = None,
                      initialState: Option[DataFrame] = None)
      : (StreamingQuery, () => DataFrame) = {
    val spark = stream.sparkSession
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), stream.schema)
    @volatile var state: DataFrame = initialState.getOrElse(empty)
    val writer = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val b = batch.toDF()
        if (!b.isEmpty) {
          val next = graft.ops.PipelineOps
            .compactCdcWithSeq(state.unionByName(b), Seq(keyCol), seqCol)
            .localCheckpoint(true) // ≤ |keys| rows; lineage cut per epoch
          val tag = s"epoch=$epoch"
          if (graft.sources.VersionedTable
              .taggedVersion(spark, tableDir, tag).isEmpty) {
            val touched = b.select(keyCol).distinct()
            graft.sources.VersionedTable.commitCdc(spark, tableDir,
              next.join(touched, Seq(keyCol), "left_semi").drop(seqCol),
              keyCol, opCol, Some(tag))
          }
          state = next
        }
        ()
      }
    val q = checkpointLocation
      .fold(writer)(loc => writer.option("checkpointLocation", loc))
      .start()
    (q, () => state)
  }

  /** STREAMING ExactSubstr ingestion — the continuous form of the
    * incremental heavy pass (the d18 ingest pattern over
    * [[graft.ops.DedupOps.exactSubstrIncremental]]): the FIRST
    * non-empty micro-batch builds the window-hash postings + covered
    * artifact under `indexDir` and emits its own cleaned rows; every
    * later batch screens ONLY its hashes against the artifact + itself,
    * re-verifies only new collision groups, emits its cleaned rows plus
    * the re-cut indexed docs the new collisions touched, and appends
    * its postings delta — so after any prefix of batches, the
    * last-emission-per-doc accumulation equals batch
    * [[graft.ops.DedupOps.exactSubstrDedup]] on everything ingested
    * (the d50 exactness argument, applied inductively per batch; gate
    * d51 proves three waves against d49's own oracle).
    *
    * State: NONE held by the session — the ingested raw text persists
    * as a DURABLE corpus sink under `indexDir/corpus` (the incremental
    * pass re-tokenizes the TOUCHED sliver of prior docs from their raw
    * text, and it reads that sliver back from the sink, column-pruned
    * and semi-joined BEFORE the heavy arrays), so executor storage
    * never accumulates the stream and a NEW wrapper instance over an
    * existing `indexDir` resumes ingesting exactly where the last one
    * stopped (StreamingSpec's restart test). Per-batch cost tracks the
    * batch (screen = its 8-byte postings; verify = its collision
    * sliver), never the corpus.
    *
    * `sink` receives a pinned frame (an eager bridge checkpoint, see
    * [[org.apache.spark.sql.graftbridge.CheckpointBridge.pin]]) that it
    * may read more than once. Every wave after the first leaves no
    * `CacheManager` entries, so the corpus and artifact appends re-plan
    * nothing; the first wave's index build leaves its persisted staging
    * frame in [[graft.Caches]] for the caller's `clear()`.
    *
    * Replay caveat (the cdcCommitIngest contrast): batches are applied
    * at-most-once per RUN — a foreachBatch epoch re-executed after a
    * mid-batch failure would double-append postings + corpus. Restart
    * recovery is instead the wrapper-instance contract above (state is
    * the artifact + corpus, not epochs); a harness needing mid-run
    * replay idempotence should tag appends the cdcCommitIngest way. */
  def exactSubstrIngest(stream: DataFrame, indexDir: String, idCol: String,
                        textCol: String, k: Int)
      (sink: DataFrame => Unit): StreamingQuery = {
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // consumed twice (pass + sink append); bridge pins carry no
        // origin constraints, so a sink may reference `out` twice (the
        // accumulation union) without failing attribute-dedup analysis.
        // The pinning job counts the rows, so an empty batch costs no
        // second job.
        val bCk = checkpoint(batch.toDF())
        val b = bCk.df
        if (bCk.rows > 0) {
          val spark = b.sparkSession
          val corpusDir = s"$indexDir/corpus"
          val out =
            if (!hasPartFiles(spark, corpusDir))
              pin(graft.ops.DedupOps.exactSubstrIndex(b, idCol, textCol, k,
                indexDir))
            else // prior waves re-read from the durable sink, never held
              graft.ops.DedupOps.exactSubstrIncremental( // returns pinned
                spark.read.parquet(corpusDir), indexDir, b, idCol, textCol, k)
          sink(out)
          b.select(col(idCol), col(textCol)).write
            .mode(org.apache.spark.sql.SaveMode.Append).parquet(corpusDir)
          spark.catalog.refreshByPath(corpusDir)
        }
        ()
      }
      .start()
  }

  /** Non-empty part-file presence — the round-8 rule: an all-empty
    * append still creates the dir + _SUCCESS, so existence checks must
    * look for data files, never the directory. */
  private def hasPartFiles(spark: org.apache.spark.sql.SparkSession,
                           dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.getPath.getName.startsWith("part-") && st.getLen > 0)
  }

  private val VersionFile = "v(\\d+)\\.txt$".r

  /** VERSIONED-TABLE CHANGE FEED — the streaming READ of
    * [[graft.sources.VersionedTable]] that completes [[cdcCommitIngest]]'s
    * write loop: the commit log AS A STREAM (the Delta-style "table as
    * a stream" every downstream trainer wants). The manifests dir IS
    * the source: committed `vN.txt` files appear ATOMICALLY (stage +
    * claim + rename; dot-prefixed stage/claim markers are hidden from
    * Spark's file source by its hidden-file filter), so
    * `readStream.text` discovers each commit exactly once, and `sink`
    * receives — per version, in version order — the version number,
    * the ids of the buckets whose manifest entry CHANGED vs the
    * previous version (including buckets a delete-heavy commit
    * emptied), and the changed buckets' NEW rows. IO is O(changed
    * buckets) per version, never O(table): identical manifest entries
    * mean identical immutable bytes (the p31 pruning rule). A consumer
    * reconstructs ANY version by replacing changed buckets in its
    * running state ([[graft.sources.VersionedTable.bucketOf]]
    * re-derives the routing from the key alone) — gate p36 proves the
    * reconstruction equals time travel, snapshot for snapshot.
    *
    * Versions landing out of order inside one micro-batch sort before
    * emission; across batches the file source's seen-map guarantees
    * each manifest is delivered exactly once — and with
    * `checkpointLocation` set that seen-map is DURABLE: a consumer that
    * dies after delivering vN resumes at vN+1 exactly-once on restart
    * (gate p40; without it the seen-map is session-held and a restarted
    * consumer re-reads from v1). Driver state per batch:
    * ≤ |new versions| file names + two |buckets|-line manifest reads
    * per version. */
  def tableChangeFeed(spark: org.apache.spark.sql.SparkSession,
                      tableDir: String,
                      checkpointLocation: Option[String] = None)
      (sink: (Int, Set[Long], DataFrame) => Unit): StreamingQuery = {
    import graft.sources.VersionedTable
    val writer = spark.readStream.format("text").load(s"$tableDir/manifests")
      .select(input_file_name().as("f"))
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val vs = batch.toDF().select("f").distinct()
          .collect() // ≤ |newly committed manifests| rows
          .flatMap(r => VersionFile.findFirstMatchIn(r.getString(0))
            .map(_.group(1).toInt))
          .sorted
        vs.foreach { v =>
          val (nb, man) = VersionedTable.manifestEntries(spark, tableDir, v)
          // v == 1 emits as a full snapshot (nothing could have been
          // delivered before the first commit). A MISSING later
          // predecessor (v−1 vacuumed away between two deliveries)
          // must invalidate EVERY bucket id, not just v's manifest
          // keys: a consumer already holding state may hold buckets
          // the snapshot no longer carries (emptied by deletes), and
          // those need explicit replacement-to-empty too.
          val prev =
            if (v == 1) Map.empty[Long, String]
            else if (!VersionedTable.manifestExists(spark, tableDir, v - 1))
              null // sentinel: predecessor vacuumed — invalidate all
            else VersionedTable.manifestEntries(spark, tableDir, v - 1)._2
          val changed =
            if (prev == null) (0L until nb.toLong).toSet
            else (man.keySet ++ prev.keySet)
              .filter(b => man.get(b) != prev.get(b))
          val dirs = changed.toSeq.sorted.flatMap(man.get)
            .map(dd => s"$tableDir/$dd")
          val rows =
            if (dirs.isEmpty) // every changed bucket emptied (or v empty)
              VersionedTable.readVersion(spark, tableDir, v).limit(0)
            else spark.read.option("mergeSchema", "true").parquet(dirs: _*)
          sink(v, changed, rows)
        }
        ()
      }
    checkpointLocation
      .fold(writer)(loc => writer.option("checkpointLocation", loc))
      .start()
  }

  /** Streaming histogram ingestion: every micro-batch's per-bin counts
    * merge into a bounded |bins|-row state with one keyed sum — counts
    * are ADDITIVE, so the accumulated histogram equals the batch
    * histogram over all data ever ingested (the kmvIngest pattern with
    * the trivial merge). Feed the reader into
    * [[graft.ops.EvalOps.psiFromCounts]] for a live drift monitor
    * against a static reference (e48). Returns the query + a total
    * reader (empty typed frame before the first commit). */
  def histogramIngest(stream: DataFrame,
                      binCol: org.apache.spark.sql.Column,
                      countName: String): (StreamingQuery, () => DataFrame) = {
    val empty = stream.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(countName,
          org.apache.spark.sql.types.LongType))))
    @volatile var state: DataFrame = empty
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val b = batch.toDF()
          .groupBy(binCol.cast("long").as("bin"))
          .agg(count(lit(1)).as(countName))
        state = state.unionByName(b)
          .groupBy("bin").agg(sum(col(countName)).as(countName))
          .localCheckpoint(true) // bounded: |bins| rows
        ()
      }
      .start()
    (q, () => state)
  }

  /** Streaming data-quality monitor: every micro-batch evaluates the
    * named violation predicates in ONE fused aggregate (the
    * [[graft.ops.ValidateOps]] row-rule shape) and appends a
    * (epoch, rule, violations, total) row per rule to a bounded local
    * log (|rules| × epochs — the per-batch quality signal an ingestion
    * pipeline alerts on). Row-rule counters are ADDITIVE, so the summed
    * log equals the batch report over all data ever ingested — gate
    * d-style provable. Returns the query plus a reader of the log. */
  def ruleMonitor(stream: DataFrame,
                  rules: Seq[(String, org.apache.spark.sql.Column)])
      : (StreamingQuery, () => Seq[(Long, String, Long, Long)]) = {
    require(rules.nonEmpty, "at least one rule")
    val log = new scala.collection.mutable.ArrayBuffer[
      (Long, String, Long, Long)]
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], epoch: Long) =>
        val counts = graft.ops.ValidateOps.rowRuleCounts(batch.toDF(), rules)
        log.synchronized {
          // epoch idempotence: foreachBatch may re-execute an epoch after
          // a failure/restart — replace that epoch's rows, never append a
          // second set (which would break the additivity invariant)
          val keep = log.filterNot(_._1 == epoch)
          log.clear()
          log ++= keep
          counts.foreach { case (n, v, t) => log += ((epoch, n, v, t)) }
        }
        ()
      }
      .start()
    (q, () => log.synchronized(log.toSeq))
  }

  /** Tumbling (slide = duration) or HOPPING (slide < duration) watermarked
    * window aggregate — the streaming twin of
    * [[graft.ops.EventOps.hopping]]: the same window() Expand replicates
    * each event into its duration/slide windows before the stateful
    * aggregation, and a window's state evicts once the watermark passes
    * its end. */
  def windowedAgg(events: DataFrame, watermarkDelay: String,
                  windowDuration: String, slide: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total"))

  /** Streaming exact dedup: drop repeats of `keyCols` arriving within the
    * watermark horizon (state is bounded by the watermark — the streaming
    * twin of [[graft.ops.DedupOps.exactDedupBy]]). */
  def dedupStream(events: DataFrame, watermarkDelay: String,
                  keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: pair each left event with right events
    * for the same key whose timestamp lies in [left.ts, left.ts + within].
    * Both sides are watermarked and the time bound rides the join
    * condition, so the state store evicts rows once the watermark clears
    * their join window — bounded state, the requirement for an unbounded
    * 100 TB/day run. Inputs need (ts TIMESTAMP, `key`, ...); columns are
    * taken from each side by prefix-renaming to avoid ambiguity. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
                         watermarkDelay: String, within: String,
                         joinType: String = "inner"): DataFrame = {
    val l = left.columns.foldLeft(left) { (d, c) =>
      d.withColumnRenamed(c, s"l_$c") }
      .withWatermark("l_ts", watermarkDelay)
    val r = right.columns.foldLeft(right) { (d, c) =>
      d.withColumnRenamed(c, s"r_$c") }
      .withWatermark("r_ts", watermarkDelay)
    // leftOuter: unmatched left rows emit with null right columns once
    // the watermark passes their join window (the engine can only then
    // prove no match will arrive) — same bounded state, late output.
    l.join(r,
      col(s"l_$key") === col(s"r_$key")
        && col("r_ts") >= col("l_ts")
        && col("r_ts") <= col("l_ts") + org.apache.spark.sql.functions
          .expr(s"INTERVAL $within"),
      joinType)
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * a STATIC dimension frame (the classic "attach the user/product/dim
    * attributes on the way in" shape). The static side is planned per
    * micro-batch — Catalyst broadcasts it when small, so the stream never
    * shuffles and carries no join state at all (stateless, unlike
    * stream-stream joins: nothing to watermark, nothing to evict). At
    * 100 TB/day the stream side stays a pure map-side pipeline. */
  def enrichStream(stream: DataFrame, dim: DataFrame, streamKey: String,
                   dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "inner")
      .drop(dimKey)

  /** Gap sessionization via the NATIVE `session_window` aggregation — the
    * same session semantics as [[sessionizeStream]] (events merge when the
    * next is within the gap of the last, non-strict) expressed as a
    * first-class streaming aggregation instead of hand-rolled
    * flatMapGroupsWithState state. At scale the native operator gets
    * state-store treatment the manual path cannot: merging-session
    * iterators, partition-local session merge BEFORE the shuffle, and
    * state-format evolution handled by the engine. The native window end
    * is `last event + gap`, so session_end = window.end − gap recovers the
    * last event time exactly (µs interval arithmetic), aligning output
    * with the batch sessionizer. Append mode emits a session only after
    * the watermark passes its horizon — the same finality rule the manual
    * path implements by hand. */
  def sessionizeNativeStream(events: DataFrame, gapSeconds: Long,
                             watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        expr(s"session_window.end - INTERVAL $gapSeconds SECONDS")
          .as("session_end"),
        col("n_events"))

  /** One finalized event in event-time order out: the per-key running
    * exponentially-weighted mean AT that event. */
  final case class EmaUpdate(user_id: Long, event_id: Long, ts: Timestamp,
                             ema: Option[Double])

  /** A buffered event not yet provably final (the watermark has not
    * passed it — an admitted-late sibling could still sort before it). */
  final case class PendingEvent(tsUs: Long, eventId: Long,
                                value: Option[Double])

  /** Per-key EMA state: the pending buffer + the recurrence accumulators
    * over everything already finalized. The accumulators are O(1) forever
    * (three scalars per key — the inherent footprint of an infinite-
    * horizon EMA); the BUFFER is bounded by the watermark delay. */
  final case class EmaState(buffer: Seq[PendingEvent], pn: Double,
                            pd: Double, seen: Boolean)

  /** One CLOSED SCD2 version out: the run's attribute and its
    * `[valid_from, valid_to)` validity. The open tail is state, never
    * output — it closes (and emits) when a later finalized event changes
    * the attribute. */
  final case class Scd2Update(user_id: Long, version: Int, attr: String,
                              valid_from: Timestamp, valid_to: Timestamp)

  /** A buffered attribute event not yet provably final. */
  final case class PendingAttr(tsUs: Long, eventId: Long, attr: String)

  /** Per-key SCD2 state: the pending buffer + the OPEN run (attribute,
    * start, version counter) over everything already finalized — O(1)
    * per key forever; the buffer is bounded by the watermark delay. */
  final case class Scd2State(buffer: Seq[PendingAttr], open: Boolean,
                             curAttr: String, curFromUs: Long,
                             version: Int)

  /** STREAMING SCD2 change-compression — the continuous twin of
    * [[graft.ops.EventOps.scd2Compress]]: per key, finalized events (in
    * event-time order, tie-broken by event id) extend or close the open
    * attribute run; every CLOSE emits one Type-2 history row. Events
    * buffer under the watermark exactly like [[ewmStream]] (an
    * admitted-late event may still sort before anything the watermark
    * has not passed), so out-of-order arrival cannot mis-order runs.
    * Emitted rows equal the batch operator's CLOSED versions on the
    * same data — the e39 gate's hash contract. Attributes are compared
    * as non-null strings (spell a null as a sentinel upstream). */
  /** One finalized funnel outcome row per (user, stage); `t` is the
    * stage completion time, null when the journey never reached it. */
  final case class FunnelHit(user_id: Long, stage: String,
                             t: Option[Timestamp])

  /** A buffered typed event not yet provably final. */
  final case class FunnelPendingEv(tsUs: Long, eventId: Long, typ: String)

  /** Per-user funnel state: the pending buffer + the PREFIX of stage
    * completion times (µs) already finalized — O(k) per user forever;
    * the buffer is bounded by the watermark delay. */
  final case class FunnelState(buffer: Seq[FunnelPendingEv],
                               times: Seq[Long])

  /** Streaming twin of [[graft.ops.EventOps.funnel]]: per user, the
    * ordered-stage completion times, emitted as k `(stage, t)` rows
    * when the user's state times out past the watermark (a funnel row
    * is only FINAL at end-of-data — a conversion could always still
    * arrive — so finalization rides the watermark horizon exactly like
    * the sessionizer's gap horizon; the replay harness closes the
    * stream with a far-future sentinel).
    *
    * Out-of-order-proof: events buffer under the watermark and fold in
    * (ts, event_id) order; within each distinct timestamp the fold
    * advances stages in STAGE order (a view and a click at the
    * identical timestamp complete both stages — matching the batch
    * twin's `ts >= t_prev` chain in [[graft.functions.Funnel]], where
    * ties qualify regardless of event id). A single event can also
    * satisfy repeated stages, exactly as one batch row sets several
    * stage bits.
    *
    * Beyond-watermark late data is DROPPED on arrival (an incoming row
    * with ts already below the current watermark), matching Spark's
    * drop semantics for watermarked aggregations: earlier-ts events in
    * the group may already be finalized into `times`, and folding a
    * late arrival after them could record a later stage at an earlier
    * timestamp than its predecessor — silent divergence from the batch
    * twin. Dropping keeps the monotone-fold invariant. */
  def funnelStream(events: DataFrame, stages: Seq[String],
                   watermarkDelay: String): Dataset[FunnelHit] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    implicit val outEnc = Encoders.product[FunnelHit]
    implicit val stEnc = Encoders.product[FunnelState]
    implicit val rowEnc = Encoders.product[(Long, Long, Timestamp, String)]
    implicit val keyEnc = Encoders.scalaLong

    val typed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("event_type").cast("string"))
      .as[(Long, Long, Timestamp, String)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[(Long, Long, Timestamp, String)],
       state: GroupState[FunnelState]) =>
        val st0 = state.getOption.getOrElse(FunnelState(Seq.empty, Seq.empty))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        // drop beyond-watermark late arrivals (Spark aggregation
        // semantics); already-buffered rows below the watermark are NOT
        // late — they buffered on time and finalize this batch
        val buf = st0.buffer ++ rows.map(r =>
          FunnelPendingEv(toMicros(r._3), r._2, r._4))
          .filter(_.tsUs >= wmUs)
        val (fin, pending) = buf.sortBy(e => (e.tsUs, e.eventId))
          .partition(_.tsUs < wmUs)
        val times = st0.times.toBuffer
        // fold finalized events grouped by identical timestamp; within a
        // group, advance the next-unset stage while an event of its type
        // exists at this ts (ties complete multiple stages at once)
        fin.foldLeft(Seq.empty[FunnelPendingEv]) { (grp, e) =>
          val g2 =
            if (grp.isEmpty || grp.head.tsUs == e.tsUs) grp :+ e
            else {
              while (times.length < stages.length &&
                grp.exists(_.typ == stages(times.length)))
                times += grp.head.tsUs
              Seq(e)
            }
          g2
        } match {
          case grp if grp.nonEmpty =>
            while (times.length < stages.length &&
              grp.exists(_.typ == stages(times.length)))
              times += grp.head.tsUs
          case _ => ()
        }
        if (state.hasTimedOut && pending.isEmpty) {
          val finalTimes = times.toSeq
          state.remove()
          stages.zipWithIndex.map { case (nm, i) =>
            FunnelHit(user, nm,
              if (i < finalTimes.length) Some(fromMicros(finalTimes(i)))
              else None)
          }.iterator
        } else {
          state.update(FunnelState(pending, times.toSeq))
          // re-arm: fire at the next watermark advance (emission) or
          // when the oldest pending event becomes final, whichever the
          // engine reaches first
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          Iterator.empty
        }
    }
  }

  def scd2Stream(events: DataFrame,
                 watermarkDelay: String): Dataset[Scd2Update] = {
    implicit val updEnc = Encoders.product[Scd2Update]
    implicit val stEnc = Encoders.product[Scd2State]
    implicit val rowEnc =
      Encoders.product[(Long, Long, Timestamp, String)]
    implicit val keyEnc = Encoders.scalaLong

    val typed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("event_type").cast("string"))
      .as[(Long, Long, Timestamp, String)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[(Long, Long, Timestamp, String)],
       state: GroupState[Scd2State]) =>
        val st0 = state.getOption.getOrElse(
          Scd2State(Seq.empty, open = false, "", 0L, 0))
        val buf = st0.buffer ++ rows.map(r =>
          PendingAttr(toMicros(r._3), r._2, r._4))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (fin, pending) = buf.sortBy(e => (e.tsUs, e.eventId))
          .partition(_.tsUs < wmUs)
        var open = st0.open
        var cur = st0.curAttr
        var from = st0.curFromUs
        var ver = st0.version
        val out = scala.collection.mutable.Buffer.empty[Scd2Update]
        fin.foreach { e =>
          if (!open) { open = true; cur = e.attr; from = e.tsUs; ver = 1 }
          else if (e.attr != cur) {
            out += Scd2Update(user, ver, cur, fromMicros(from),
              fromMicros(e.tsUs))
            cur = e.attr; from = e.tsUs; ver += 1
          }
        }
        state.update(Scd2State(pending, open, cur, from, ver))
        if (pending.nonEmpty) {
          val horizonMs = (pending.map(_.tsUs).min + 999L) / 1000L
          state.setTimeoutTimestamp(
            math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
    }
  }

  /** One finalized LEFT event out, with the latest right-side value
    * at-or-before it (null if no right event preceded it yet). */
  final case class AsofUpdate(user_id: Long, event_id: Long, ts: Timestamp,
                              matched: Option[Double])

  /** A buffered tagged event (side 0 = right/reference stream, side 1 =
    * left/probe stream) not yet provably final. */
  final case class PendingTagged(tsUs: Long, side: Int, eventId: Long,
                                 value: Option[Double])

  /** Per-key as-of state: the pending buffer (bounded by the watermark
    * delay) + the latest FINALIZED right observation — O(1) scalars per
    * key forever, the inherent footprint of a backward as-of. */
  final case class AsofState(buffer: Seq[PendingTagged], lastRightUs: Long,
                             lastRight: Option[Double])

  /** Streaming AS-OF join — the streaming twin of
    * [[graft.ops.EventOps.asofJoin]] (pandas merge_asof backward,
    * allow_exact_matches=True) over two live streams: each left event
    * emits once, in event-time order, carrying the most recent right
    * value at-or-before its timestamp. An as-of is order-sensitive, so
    * neither side can be joined on sight: both streams union into one
    * tagged flow, buffer per key in state, and each watermark advance
    * finalizes the strictly-older prefix sorted by (ts, side, id) — a
    * right event at exactly a left event's ts sorts FIRST, giving the
    * inclusive backward match, exactly like the batch twin's side
    * ordering. State per key = pending buffer (watermark-bounded) + ONE
    * (ts, value) scalar pair; nothing grows with stream length.
    *
    * `tagged` needs columns (user_id, event_id, ts, value, side). */
  def asofStream(tagged: DataFrame,
                 watermarkDelay: String): Dataset[AsofUpdate] = {
    implicit val updEnc = Encoders.product[AsofUpdate]
    implicit val stEnc = Encoders.product[AsofState]
    implicit val rowEnc =
      Encoders.product[(Long, Long, Timestamp, Option[Double], Int)]
    implicit val keyEnc = Encoders.scalaLong

    val typed = tagged
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("value").cast("double"), col("side").cast("int"))
      .as[(Long, Long, Timestamp, Option[Double], Int)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long,
       rows: Iterator[(Long, Long, Timestamp, Option[Double], Int)],
       state: GroupState[AsofState]) =>
        val st0 = state.getOption.getOrElse(
          AsofState(Seq.empty, Long.MinValue, None))
        val buf = st0.buffer ++ rows.map(r =>
          PendingTagged(toMicros(r._3), r._5, r._2, r._4))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (fin, pending) = buf.sortBy(e => (e.tsUs, e.side, e.eventId))
          .partition(_.tsUs < wmUs)
        var lastUs = st0.lastRightUs
        var last = st0.lastRight
        val out = fin.flatMap { e =>
          if (e.side == 0) { lastUs = e.tsUs; last = e.value; None }
          else Some(AsofUpdate(user, e.eventId, fromMicros(e.tsUs), last))
        }
        state.update(AsofState(pending, lastUs, last))
        if (pending.nonEmpty) {
          val horizonMs = (pending.map(_.tsUs).min + 999L) / 1000L
          state.setTimeoutTimestamp(
            math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
    }
  }

  /** Streaming per-key exponentially-weighted mean — the streaming twin
    * of [[graft.core.Series.ewmStatsBy]] (pandas groupby().ewm().mean()
    * as a live feature): one EMA row out per event, in EVENT-TIME order,
    * emitted only once the watermark proves no earlier event can still
    * arrive. An EMA is order-sensitive, so out-of-order arrivals cannot
    * be folded on sight: events buffer in state, and each batch (or
    * event-time timeout) finalizes the buffered prefix strictly older
    * than the watermark — sorted by (ts, event_id), folded through the
    * recurrence, emitted. Same weight semantics as the batch twin
    * (adjust=, ignore_na=False: decay counts every event), asserted
    * row-identical on the full fixture replay by the e19 gate. */
  def ewmStream(events: DataFrame, alpha: Double, watermarkDelay: String,
                adjust: Boolean = true): Dataset[EmaUpdate] = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val w = 1.0 - alpha
    implicit val updEnc = Encoders.product[EmaUpdate]
    implicit val stEnc = Encoders.product[EmaState]
    implicit val rowEnc = Encoders.product[(Long, Long, Timestamp, Option[Double])]
    implicit val keyEnc = Encoders.scalaLong

    val typed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("value").cast("double"))
      .as[(Long, Long, Timestamp, Option[Double])]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[(Long, Long, Timestamp, Option[Double])],
       state: GroupState[EmaState]) =>
        val st0 = state.getOption.getOrElse(
          EmaState(Seq.empty, 0.0, 0.0, seen = false))
        val buf = st0.buffer ++ rows.map(r =>
          PendingEvent(toMicros(r._3), r._2, r._4))
        // Spark drops only rows STRICTLY older than the watermark, so an
        // event at exactly the watermark may still arrive — only the
        // strictly-older buffered prefix is final.
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (fin, pending) = buf.sortBy(e => (e.tsUs, e.eventId))
          .partition(_.tsUs < wmUs)
        var pn = st0.pn; var pd = st0.pd; var seen = st0.seen
        val out = fin.map { e =>
          pn *= w; pd *= w // ignore_na=False: every event decays
          e.value.foreach { x =>
            val ew = if (adjust || !seen) 1.0 else alpha
            pn += ew * x; pd += ew
            seen = true
          }
          EmaUpdate(user, e.eventId, fromMicros(e.tsUs),
            if (pd > 0) Some(pn / pd) else None)
        }
        state.update(EmaState(pending, pn, pd, seen))
        if (pending.nonEmpty) {
          // wake when the watermark passes the oldest pending event (ms
          // rounded up, clamped above the current watermark)
          val horizonMs = (pending.map(_.tsUs).min + 999L) / 1000L
          state.setTimeoutTimestamp(
            math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
    }
  }

  /** One event in, session updates out. */
  final case class SessionUpdate(user_id: Long, session_start: Timestamp,
                                 session_end: Timestamp, n_events: Long,
                                 closed: Boolean)

  /** One pending session; times are MICROSECONDS since epoch — the batch
    * twin ([[graft.ops.EventOps]]) compares gaps in µs, and the events
    * fixture carries sub-millisecond timestamps, so ms-precision state
    * would disagree with it on near-boundary gaps. (Public: encoder
    * codegen resolves accessors reflectively and chokes on object-nested
    * private case classes.) */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** Per-user state: ALL sessions not yet provably final. A session is
    * only emitted once the watermark has passed its gap horizon — an
    * admitted-late event (above watermark, below earlier data) may still
    * extend or bridge anything younger than that, so start-order evidence
    * within a batch is NOT finality evidence. */
  final case class PendingSessions(sessions: Seq[SessionState])

  private def toMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stateful gap sessionization via flatMapGroupsWithState: a session
    * closes when no event arrives within `gapSeconds` of the last one
    * (event-time timeout — fires when the watermark passes last+gap).
    * Emits a closed-session record on timeout; in-progress sessions stay
    * in the state store. Gap arithmetic is µs-precision, matching
    * [[graft.ops.EventOps.sessionize]] exactly (asserted row-for-row on the
    * events fixture in StreamingSpec). */
  def sessionizeStream(events: DataFrame, gapSeconds: Long,
                       watermarkDelay: String): Dataset[SessionUpdate] = {
    implicit val updEnc = Encoders.product[SessionUpdate]
    implicit val stEnc = Encoders.product[PendingSessions]
    implicit val rowEnc = Encoders.product[(Long, Timestamp)]
    implicit val keyEnc = Encoders.scalaLong

    val typed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, Timestamp)]

    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (user: Long, rows: Iterator[(Long, Timestamp)],
       state: GroupState[PendingSessions]) =>
        val gapUs = gapSeconds * 1000000L
        // Uniform interval merge, identical to the batch gap rule: every
        // pending session is just one more interval among the batch's
        // events, everything sorts by start time, and adjacent items
        // within the gap merge. This handles in-order events, events
        // older than a stored start, and runs of admitted-late events
        // that are within the gap of each other.
        val items = rows.map { r =>
          val t = toMicros(r._2); SessionState(t, t, 1)
        }.toSeq ++ state.getOption.map(_.sessions).getOrElse(Seq.empty)
        var merged = List.empty[SessionState]
        items.sortBy(s => (s.startUs, s.lastUs)).foreach { s =>
          merged match {
            case c :: rest if s.startUs <= c.lastUs + gapUs =>
              merged = SessionState(c.startUs,
                math.max(c.lastUs, s.lastUs), c.n + s.n) :: rest
            case _ => merged = s :: merged
          }
        }
        // A session is FINAL only when the watermark has passed its gap
        // horizon — an admitted-late event in a future batch may still
        // extend or bridge anything younger. (Start-order evidence within
        // one batch is not enough: the lateness window is open until the
        // watermark closes it.)
        // Strictly `<`: Spark drops only rows strictly older than the
        // watermark, so an event admitted at exactly the watermark with
        // ts == lastUs + gapUs would still merge — a horizon-equal session
        // must stay pending one more batch.
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (fin, pending) = merged.reverse
          .partition(s => s.lastUs + gapUs < wmUs)
        if (pending.nonEmpty) {
          state.update(PendingSessions(pending))
          // Timeout at the OLDEST pending gap horizon, µs rounded UP so it
          // never fires early; clamped above the current watermark or
          // setTimeoutTimestamp throws and kills the query.
          val horizonMs = (pending.map(_.lastUs).min + gapUs + 999L) / 1000L
          state.setTimeoutTimestamp(
            math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
        } else state.remove()
        fin.iterator.map(s => SessionUpdate(user, fromMicros(s.startUs),
          fromMicros(s.lastUs), s.n, closed = true))
    }
  }
}
