package graft

import org.apache.spark.sql.Dataset

/** Registry for Datasets persisted inside operator builders.
  *
  * Several operators persist an intermediate projection that feeds two
  * plan branches (shingle postings in [[graft.ops.DedupOps]], token
  * explode in tf-idf). The result is lazy, so the builder cannot
  * unpersist before returning — the cache must outlive the builder and
  * be released by whoever materializes the result. Without a hook, each
  * invocation in a long-lived session leaks a cache entry and relies on
  * LRU eviction.
  *
  * Builders register via [[track]]; callers release everything between
  * logical units of work via [[clear]] (the driver-contract mains do so
  * after each query). Unpersist is non-blocking — executors drop blocks
  * asynchronously, so `clear` costs microseconds on the driver.
  */
object Caches {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Register a persisted Dataset for later release; returns it unchanged. */
  def track[T <: Dataset[_]](ds: T): T = synchronized { tracked += ds; ds }

  /** Number of currently-tracked cache entries (for specs/monitoring). */
  def size: Int = synchronized(tracked.size)

  /** Unpersist (non-blocking) and forget every tracked Dataset, newest
    * first. A frame is tracked after the frames it is built from, and
    * `unpersist` does not cascade: releasing a parent while a dependent
    * is still cached makes the CacheManager re-plan that dependent
    * against the uncached parent, work thrown away one call later. */
  def clear(): Unit = synchronized {
    tracked.reverseIterator.foreach(_.unpersist(blocking = false))
    tracked.clear()
  }

  /** Session-lifetime training memo (trained PQ codebooks, coarse
    * k-means centroids — bounded driver arrays, a few KB each). A real
    * deployment indexes once and probes thousands of times; searchers
    * that retrain deterministically per call accept an explicit cache
    * key so repeat calls on the same (corpus, params) reuse the trained
    * index instead. Deliberately NOT flushed by [[clear]]: the memo's
    * whole point is surviving the per-query cache release. Training is
    * deterministic, so a memo hit is bit-identical to a fresh train.
    *
    * Key→type ownership: each key belongs to exactly ONE call site and
    * carries that site's value type for the session's lifetime (the
    * cast below is unchecked — two callers sharing a key with
    * different types would fail only at use). Keys must also encode
    * every input that shapes the value (corpus slice, params) — a hit
    * on an under-specified key serves the wrong artifacts. */
  private val memos = scala.collection.mutable.Map.empty[String, Any]

  /** Compute-once by key; the value must be immutable driver state.
    * `f` runs OUTSIDE the lock (a multi-second k-means training must
    * not serialize every other memo call); on a concurrent miss both
    * callers compute, the first insert wins, and determinism makes the
    * loser's discarded value bit-identical anyway. */
  def memo[T](key: String)(f: => T): T = {
    synchronized(memos.get(key)) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = f
        synchronized(memos.getOrElseUpdate(key, v)).asInstanceOf[T]
    }
  }

  /** Number of live memo entries (for specs/monitoring). */
  def memoCount: Int = synchronized(memos.size)

  /** Drop every memoized training artifact (tests / corpus swap). */
  def clearMemos(): Unit = synchronized(memos.clear())
}
