package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span (-1 at the
  * top); times are `System.nanoTime` readings. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val start: Long, val traced: Boolean) {
  @volatile var end: Long = 0L
  def wallNs: Long = end - start
}

/** What the listener attributes to one span: every job started while the
  * span was innermost, and every stage and task of those jobs. */
final class SpanWork {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var taskNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** (launch, finish) wall-clock ms of each task, for busy time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** task durations (ms) per stage, for skew. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** Span recorder plus the SparkListener that attributes Spark work to the
  * spans. Spans stay in memory and are rendered when the run ends.
  *
  * With `traced = false` only the wall time of each span is kept and the
  * listener sums shuffle writes and keeps the largest stage peak of
  * execution memory per top-level phase; no local property is set and no
  * other per-task data is stored. With `traced = true` the span id is
  * set as a Spark local property around the call, so each job the call
  * starts carries it. Jobs started on threads that inherited a stale span
  * (a streaming query's execution thread keeps the properties of the
  * thread that started it) fall back to the span that is innermost on the
  * driver when the job starts: the benchmark is a single closed-loop
  * client, so all work in that interval belongs to that call. */
final class Recorder(sc: SparkContext, val traced: Boolean)
    extends SparkListener {
  import Recorder._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var innermost: Int = -1
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** shuffle bytes written while each top-level span was open */
  private val topShuffle = new ConcurrentHashMap[Int, java.lang.Long]()
  /** per-task peak execution memory of each stage not yet completed */
  private val stagePeaks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** largest stage peak (see [[stagePeak]]) under each top-level span */
  private val topPeak = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var drainJob = -1
  @volatile private var drained = new CountDownLatch(0)

  sc.addSparkListener(this)

  def span[T](name: String)(f: => T): T = span(name, traced)(f)

  def span[T](name: String, on: Boolean)(f: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), on)
      spans += s
      stack ::= s
      innermost = s.id
      s
    }
    val prev = sc.getLocalProperty(Prop)
    if (s.traced) sc.setLocalProperty(Prop, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      if (s.traced) sc.setLocalProperty(Prop, prev)
      synchronized {
        stack = stack.tail
        innermost = stack.headOption.map(_.id).getOrElse(-1)
      }
    }
  }

  private def top(id: Int): Int = {
    var s = id
    while (s >= 0 && spans(s).parent >= 0) s = spans(s).parent
    s
  }

  private def open(id: Int): Boolean =
    id >= 0 && id < spans.size && spans(id).end == 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(DrainProp) != null)) drainJob = e.jobId
    val fromProp = props.flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).getOrElse(-1)
    val (sid, detailed) = synchronized {
      val sid = if (open(fromProp)) fromProp else innermost
      (sid, sid >= 0 && spans(sid).traced)
    }
    if (sid < 0) return
    e.stageIds.foreach(st => stageSpan.put(st, sid))
    if (detailed) {
      val w = work.computeIfAbsent(sid, _ => new SpanWork)
      w.synchronized { w.jobs += 1; w.stages ++= e.stageIds }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val sid = stageSpan.getOrDefault(e.stageId, -1)
    if (sid < 0 || e.taskMetrics == null) return
    val m = e.taskMetrics
    val shuffle = m.shuffleWriteMetrics.bytesWritten
    val (root, detailed) = synchronized((top(sid), spans(sid).traced))
    topShuffle.merge(root, shuffle, (a, b) => a + b)
    val peaks = stagePeaks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
    peaks.synchronized(peaks += m.peakExecutionMemory)
    if (detailed) {
      val w = work.computeIfAbsent(sid, _ => new SpanWork)
      val info = e.taskInfo
      w.synchronized {
        w.taskNs += m.executorRunTime * 1000000L
        w.shuffleWrite += shuffle
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.taskIntervals += ((info.launchTime, info.finishTime))
        w.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          info.duration
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val sid = stageSpan.getOrDefault(id, -1)
    val peaks = stagePeaks.remove(id)
    if (sid < 0 || peaks == null) return
    val root = synchronized(top(sid))
    topPeak.merge(root, peaks.synchronized(stagePeak(peaks.toSeq)), (a, b) => math.max(a, b))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == drainJob) drained.countDown()

  /** Wait until the listener has handled every event of the jobs run so
    * far. Events reach it in order, so once it has seen the end of a job
    * started now, it has seen everything before. */
  def drain(): Unit = {
    drained = new CountDownLatch(1)
    sc.setLocalProperty(DrainProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainProp, null)
    drained.await()
  }

  /** Shuffle MB written under top-level span `id` (both modes). */
  def shuffleMbOf(id: Int): Double =
    Option(topShuffle.get(id)).map(_.longValue).getOrElse(0L) / MB

  /** Peak execution MB of the stages under top-level span `id` (both
    * modes): the largest [[stagePeak]]. */
  def peakExecMbOf(id: Int): Double =
    Option(topPeak.get(id)).map(_.longValue).getOrElse(0L) / MB

  /** Per-span aggregates (traced mode): own work only, plus the timing
    * facts needed to roll spans up into layers. */
  def spanRows(epochNs: Long, epochMs: Long): Seq[Map[String, Any]] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val w = Option(work.get(s.id)).getOrElse(new SpanWork)
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val self = s.wallNs - coveredNs(kids.toSeq, s.start, s.end)
      // task intervals are wall-clock ms; map the span onto that clock
      val sMs = epochMs + (s.start - epochNs) / 1e6
      val eMs = epochMs + (s.end - epochNs) / 1e6
      val busyMs = coveredMs(w.taskIntervals.toSeq, sMs, eMs)
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "traced" -> s.traced,
        "start_s" -> (s.start - epochNs) / 1e9,
        "wall_s" -> s.wallNs / 1e9,
        "self_s" -> self / 1e9,
        "busy_s" -> busyMs / 1e3,
        "jobs" -> w.jobs,
        "stages" -> w.stages.size,
        "tasks" -> w.taskIntervals.size,
        "task_s" -> w.taskNs / 1e9,
        "shuffle_mb" -> w.shuffleWrite / MB,
        "spill_mb" -> w.spill / MB,
        "skew" -> skew(w))
    }
  }
}

object Recorder {
  val Prop = "perfbench.span"
  val DrainProp = "perfbench.drain"
  val MB = 1024.0 * 1024.0
  /** A stage counts for skew when it fills the machine: at local[4] with
    * shuffle partitions = cores, a shuffle stage has 4 tasks. */
  val SkewMinTasks = 4

  /** Slowest task over median task in the worst stage with at least
    * [[SkewMinTasks]] tasks; 1.0 when no stage qualifies. */
  def skew(w: SpanWork): Double = {
    val ratios = w.stageTasks.values.filter(_.size >= SkewMinTasks).map { ds =>
      val sorted = ds.sorted
      val med = math.max(sorted((sorted.size - 1) / 2), 1L)
      sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** The execution memory (buffers of shuffles, sorts, aggregations and
    * joins) a stage's tasks hold at their peaks when as many run at once
    * as there are cores: the sum of the largest per-task peaks. It depends
    * on the plan and its data, not on when the collector runs. */
  def stagePeak(taskPeaks: Seq[Long]): Long =
    taskPeaks.sorted.takeRight(Main.Cores.toInt).sum

  /** Length of the union of `iv` clipped to [lo, hi] (ns). */
  def coveredNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def coveredMs(iv: Seq[(Long, Long)], lo: Double, hi: Double): Double =
    coveredNs(iv.map { case (a, b) => (a * 1000L, b * 1000L) },
      (lo * 1000).toLong, (hi * 1000).toLong) / 1000.0
}
