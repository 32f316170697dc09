package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Owner of every cache the library persists. The storage level
 * (MEMORY_AND_DISK) and the cache lifetime are decided here and nowhere
 * else. There are two kinds of entry:
 *
 *  - **Named shared frames** ([[shared]]): an intermediate several queries
 *    of one family read (graph edges, SRP pairs, shingles, token stats).
 *    It is persisted once per (session, sfDir, name) and every caller gets
 *    the same DataFrame, so the first consumer's action pays the build and
 *    the rest read the cache. Nine such frames exist; they are never
 *    evicted, only dropped by [[release]].
 *  - **Per-call caches** ([[persist]]): iteration-invariant tables an
 *    operator persists for the duration of one call (Graph's edge and base
 *    tables, Dedup's normalized CC edges). A full pass over all queries
 *    registers 11 of them, in a capacity-bounded queue.
 *
 * Session harnesses (Bench / Verify / test suites) call [[release]] once
 * their lazily-returned plans are materialized. Per-round iteration state
 * (BFS frontiers) is not routed here: the operator unpersists it inline.
 */
object CacheReaper {
  // Cached frames are orders smaller than the raw data they derive from,
  // but need not fit a single executor's memory.
  private val level = StorageLevel.MEMORY_AND_DISK
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  // Guarded by `this`. The lock is reentrant, so a build may itself call
  // `shared` (topVocab is built over distinctTokens).
  private val frames = scala.collection.mutable.HashMap.empty[(SparkSession, String, String), DataFrame]

  /** Per-call queue capacity. Past it the OLDEST entry is unpersisted and
    * dropped with a stderr warning: evicting a cache is always safe (Spark
    * recomputes on next use), while a long interactive session that never
    * calls [[release]] must not pin every cached plan without bound. */
  private[graft] val maxTracked = 64

  /** Number of per-call caches currently queued (test observability). */
  private[graft] def trackedCount: Int = tracked.size()

  /** Number of named shared frames currently held (test observability). */
  private[graft] def sharedCount: Int = synchronized(frames.size)

  /** The shared frame `name` over `dir`: `plan` is persisted on the first
    * call for this (session, dir, name) and that same DataFrame is returned
    * to every later caller until [[release]]. The persist is lazy: the
    * first action over the frame materializes it. */
  def shared(s: SparkSession, dir: String, name: String)(plan: => DataFrame): DataFrame =
    synchronized {
      frames.getOrElse((s, dir, name), {
        val df = plan.persist(level)
        frames((s, dir, name)) = df
        df
      })
    }

  /** Persist `df` for the rest of the call and queue it for release. */
  def persist(df: DataFrame): DataFrame = track(df.persist(level))

  /** Queue an already persisted DataFrame for release; returns it.
    * Evicts (unpersists) oldest-first past [[maxTracked]]. */
  private[graft] def track(df: DataFrame): DataFrame = {
    tracked.add(df)
    // ConcurrentLinkedQueue.size is O(n), but n is capped at maxTracked+1
    // right here, so the scan is bounded by construction.
    while (tracked.size() > maxTracked) {
      val old = tracked.poll()
      if (old != null) {
        System.err.println(s"CacheReaper: capacity $maxTracked exceeded — " +
          "unpersisting the oldest tracked cache (it recomputes on next " +
          "use). A session tracking this many live caches should call " +
          "CacheReaper.release() between workloads.")
        try old.unpersist(false) catch { case _: Throwable => () }
      }
    }
    df
  }

  /** Unpersist and forget every shared frame and per-call cache. Call only
    * at a point where no still-unmaterialized plan depends on them (end of
    * a bench / verify run, test-suite teardown). Non-blocking; idempotent. */
  def release(): Unit = {
    synchronized {
      frames.values.foreach(d => try d.unpersist(false) catch { case _: Throwable => () })
      frames.clear()
    }
    var d = tracked.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Throwable => () }
      d = tracked.poll()
    }
  }
}
