package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

/** A registry entry's getOrBuild must run EXACTLY ONE build per key
  * under contention — the raw `TrieMap.getOrElseUpdate` it replaces
  * evaluates its thunk outside the map's CAS, so two racing threads
  * both build (and, for pinned DataFrames, the loser's copy stays
  * cached in executor storage). And a frame stays cached exactly while
  * an owner holds its pin: the build's value, or a scope that is still
  * running.
  */
class MemoSpec extends SparkSpec {

  /** Whether `df`'s plan is cached: the cache manager sees a pin even
    * when the frame's first action threw and it holds no blocks.
    */
  private def cached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  /** A small frame whose plan no other frame of this spec shares. */
  private def frame(n: Long): DataFrame = spark.range(n).toDF(s"memo_spec_$n")

  test("cold-cache race: one build, all threads see the same value") {
    val threads = 8
    val cache = Memo.cache[String, Int]("spec.memo.race")
    val builds = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = {
            gate.await()
            cache.getOrBuild("k") { _ =>
              // widen the race window so an unsynchronized miss path
              // would reliably double-build
              Thread.sleep(50)
              builds.incrementAndGet()
            }
          }
        })
      }
      gate.countDown()
      val values = futures.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(builds.get() === 1, "exactly one build must run per key")
      assert(values === Set(1), "every thread must observe the single built value")
    } finally pool.shutdownNow()
  }

  test("warm cache is a lock-free read (no build, no monitor)") {
    val cache = Memo.cache[String, Int]("spec.memo.warm")
    val builds = new AtomicInteger(0)
    cache.getOrBuild("k")(_ => builds.incrementAndGet())
    // another thread holds the entry's monitor: a warm read must not
    // need it
    val held = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val holder = new Thread(() => cache.synchronized { held.countDown(); done.await() })
    holder.start()
    try {
      held.await()
      val pool = Executors.newSingleThreadExecutor()
      try {
        val read = pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = cache.getOrBuild("k")(_ => builds.incrementAndGet())
        })
        assert(read.get(10, TimeUnit.SECONDS) === 1)
      } finally pool.shutdownNow()
    } finally { done.countDown(); holder.join() }
    assert(builds.get() === 1)
  }

  test("different keys both build") {
    val cache = Memo.cache[String, Int]("spec.memo.keys")
    assert(cache.getOrBuild("a")(_ => 1) === 1)
    assert(cache.getOrBuild("b")(_ => 2) === 2)
    assert(Memo.warmNames.contains("spec.memo.keys"))
    cache.invalidate()
    assert(!cache.isWarm && !Memo.warmNames.contains("spec.memo.keys"))
  }

  test("replace swaps the value and releases the one it replaces") {
    val cache = Memo.frames("spec.memo.replace")
    val built = Seq(1L, 2L, 3L).map(frame)
    def released = Seq(1, 2).filterNot(i => cached(built(i - 1)))
    cache.getOrBuild((spark, "k"))(_(built(0)))
    cache.rebuild((spark, "k"))(_(built(1)))
    assert(cache.getOrBuild((spark, "k"))(_(built(2))) eq built(1))
    assert(released.toSeq === Seq(1))
    Memo.invalidate("spec.memo.replace")
    assert(released.toSeq === Seq(1, 2))
    assert(!cached(built(2)), "a warm read must not build")
  }

  test("a build that pins two frames and throws leaves neither cached, and builds again") {
    val cache = Memo.frames("spec.memo.throw")
    val (a, b) = (frame(11), frame(12))
    intercept[IllegalStateException] {
      cache.getOrBuild((spark, "k")) { pins =>
        pins(a); pins(b)
        throw new IllegalStateException("injected build failure")
      }
    }
    assert(!cached(a) && !cached(b), "a failed build left its pins cached")
    assert(!cache.isWarm)
    assert(cache.getOrBuild((spark, "k"))(_(b)) eq b)
    assert(cached(b))
    cache.invalidate()
    assert(!cached(b))
  }

  test("a build that returns one of two pinned frames leaves only that one cached") {
    val cache = Memo.cache[String, (DataFrame, Long)]("spec.memo.held")
    val (kept, scratch) = (frame(21), frame(22))
    val (v, n) = cache.getOrBuild("k") { pins =>
      (pins(kept), pins(scratch).count())
    }
    assert((v eq kept) && n == 22L)
    assert(cached(kept) && !cached(scratch))
    cache.invalidate()
    assert(!cached(kept))
  }

  test("after a rebuild whose new plan equals the old, the value is cached and reads the new rows") {
    val cache = Memo.frames("spec.memo.reread")
    val dir = java.nio.file.Files.createTempDirectory("memo").resolve("t").toString
    spark.range(3).write.parquet(dir)
    val old = cache.getOrBuild((spark, dir))(_(spark.read.parquet(dir)))
    assert(old.count() == 3)
    // the new rows are swapped in the way an artifact publish swaps them
    spark.range(5).write.parquet(dir + ".next")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(new java.io.File(dir + ".next").renameTo(new java.io.File(dir)))
    val fresh = cache.rebuild((spark, dir))(_(spark.read.parquet(dir)))
    // a re-read of one path plans equal to the read it replaces
    assert(fresh.queryExecution.analyzed.sameResult(old.queryExecution.analyzed))
    assert(cached(fresh), "the rebuilt value is not cached")
    assert(fresh.count() == 5)
    assert(cache.getOrBuild((spark, dir))(_ => old) eq fresh)
    cache.invalidate()
    assert(!cached(fresh))
  }

  test("pinning an already-cached frame inside a scope leaves it cached after the scope ends") {
    val cache = Memo.frames("spec.memo.shared")
    val owned = cache.getOrBuild((spark, "k"))(_(frame(31)))
    val n = Memo.scoped { pins =>
      // an equal plan, but not the memo's frame: the pin takes no ownership
      pins(frame(31)).count()
    }
    assert(n == 31L && cached(owned), "a scope uncached a memo it does not own")
    cache.invalidate()
    assert(!cached(owned))
  }

  test("a name is registered once") {
    Memo.cache[String, Int]("spec.memo.once")
    intercept[IllegalArgumentException](Memo.cache[String, Int]("spec.memo.once"))
  }
}
