package graft

import org.apache.spark.sql.functions._

import graft.engine.CacheReaper

/** The session-cache registry's contract: tracked frames are released on
  * demand, release is idempotent, a released frame is genuinely uncached
  * (re-use recomputes; no stale blocks), and a named shared frame is built
  * once per (session, dir, name) and never evicted by the per-call queue. */
class CacheReaperSpec extends SparkTestBase {

  test("track returns its argument; release unpersists and is idempotent") {
    val df = spark.range(0, 1000).withColumn("x", col("id") * 2).persist()
    val tracked = CacheReaper.track(df.toDF())
    assert(tracked.count() === 1000L)
    assert(df.storageLevel.useMemory, "frame should be cached after the action")
    CacheReaper.release()
    assert(!df.storageLevel.useMemory && !df.storageLevel.useDisk,
      "release() must unpersist tracked frames")
    CacheReaper.release() // second release: no tracked frames, no throw
    assert(tracked.count() === 1000L, "released frame must still compute from lineage")
  }

  test("a capped reaper evicts oldest-first instead of growing unboundedly") {
    // A long interactive session that never calls release() must not pin
    // every cached plan: past capacity the registry unpersists and drops
    // the OLDEST entry (always safe — the frame recomputes on next use).
    // storageLevel reads the CacheManager, so no action is needed.
    CacheReaper.release() // clean slate — other suites share the registry
    val cap = CacheReaper.maxTracked
    val dfs = (0 until cap + 2).map(i =>
      CacheReaper.persist(spark.range(i * 100, i * 100 + 50).toDF()))
    assert(CacheReaper.trackedCount === cap,
      "registry must hold exactly the cap after overflow")
    assert(!dfs(0).storageLevel.useMemory && !dfs(1).storageLevel.useMemory,
      "the two oldest caches must have been evicted (unpersisted)")
    (2 until cap + 2).foreach(i => assert(dfs(i).storageLevel.useMemory,
      s"cache $i is within capacity and must still be persisted"))
    assert(dfs(0).count() === 50L, "an evicted frame must recompute fine")
    CacheReaper.release()
    dfs.foreach(d => assert(!d.storageLevel.useMemory))
  }

  test("shared: one frame per (session, dir, name), rebuilt only after release") {
    CacheReaper.release()
    var builds = 0
    def frame(dir: String) = CacheReaper.shared(spark, dir, "f") {
      builds += 1
      spark.range(0, 70).withColumn("d", lit(dir)).toDF()
    }
    val a = frame("dirA")
    assert(a.storageLevel.useMemory, "a shared frame is persisted on first use")
    assert(frame("dirA") eq a, "the same key must return the same instance")
    assert(builds === 1, "a hit must not re-evaluate the plan")
    val b = frame("dirB")
    assert(!(b eq a), "a different dir must get a different frame")
    assert(CacheReaper.sharedCount === 2)
    CacheReaper.release()
    assert(CacheReaper.sharedCount === 0)
    assert(!a.storageLevel.useMemory && !b.storageLevel.useMemory,
      "release() must unpersist shared frames")
    val a2 = frame("dirA")
    assert(!(a2 eq a) && builds === 3, "after release the next call rebuilds")
    assert(a2.storageLevel.useMemory && a2.count() === 70L)
    CacheReaper.release()
  }

  test("shared: a frame built over another shared frame") {
    CacheReaper.release()
    def inner = CacheReaper.shared(spark, "dirN", "inner")(
      spark.range(0, 30).withColumn("k", col("id") % 3).toDF())
    val outer = CacheReaper.shared(spark, "dirN", "outer")(
      inner.groupBy("k").count())
    assert(CacheReaper.sharedCount === 2)
    assert(inner.storageLevel.useMemory && outer.storageLevel.useMemory)
    assert(CacheReaper.shared(spark, "dirN", "outer")(fail("rebuilt")) eq outer)
    assert(outer.count() === 3L)
    CacheReaper.release()
  }

  test("per-call overflow never unpersists a shared frame") {
    CacheReaper.release()
    val sh = CacheReaper.shared(spark, "dirS", "kept")(
      spark.range(0, 7).withColumn("x", col("id") * 3).toDF())
    val dfs = (0 until CacheReaper.maxTracked + 5).map(i =>
      CacheReaper.persist(spark.range(i * 100, i * 100 + 50).toDF()))
    assert(!dfs(0).storageLevel.useMemory, "the per-call queue did overflow")
    assert(sh.storageLevel.useMemory, "a shared frame must survive eviction")
    assert(CacheReaper.shared(spark, "dirS", "kept")(fail("rebuilt")) eq sh)
    CacheReaper.release()
    assert(!sh.storageLevel.useMemory)
  }

  test("release only touches tracked frames") {
    val tracked = spark.range(0, 10).toDF().persist()
    val untracked = spark.range(100, 200).toDF().persist()
    CacheReaper.track(tracked)
    tracked.count(); untracked.count()
    CacheReaper.release()
    assert(!tracked.storageLevel.useMemory)
    assert(untracked.storageLevel.useMemory,
      "an untracked cache must survive release()")
    untracked.unpersist()
  }
}
