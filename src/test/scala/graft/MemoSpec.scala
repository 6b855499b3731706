package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** A registry entry's getOrBuild must run EXACTLY ONE build per key
  * under contention — the raw `TrieMap.getOrElseUpdate` it replaces
  * evaluates its thunk outside the map's CAS, so two racing threads
  * both build (and, for persisted DataFrames, the loser's copy stays
  * pinned in executor storage).
  */
class MemoSpec extends AnyFunSuite {

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
            cache.getOrBuild("k") {
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
    cache.getOrBuild("k")(builds.incrementAndGet())
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
          override def call(): Int = cache.getOrBuild("k")(builds.incrementAndGet())
        })
        assert(read.get(10, TimeUnit.SECONDS) === 1)
      } finally pool.shutdownNow()
    } finally { done.countDown(); holder.join() }
    assert(builds.get() === 1)
  }

  test("different keys both build") {
    val cache = Memo.cache[String, Int]("spec.memo.keys")
    assert(cache.getOrBuild("a")(1) === 1)
    assert(cache.getOrBuild("b")(2) === 2)
    assert(Memo.warmNames.contains("spec.memo.keys"))
    cache.invalidate()
    assert(!cache.isWarm && !Memo.warmNames.contains("spec.memo.keys"))
  }

  test("replace swaps the value and releases the one it replaces") {
    val released = scala.collection.mutable.ArrayBuffer.empty[Int]
    val cache = Memo.cache[String, Int]("spec.memo.replace", v => released += v)
    cache.getOrBuild("k")(1)
    cache.replace("k", 2)
    assert(cache.getOrBuild("k")(3) === 2)
    assert(released.toSeq === Seq(1))
    Memo.invalidate("spec.memo.replace")
    assert(released.toSeq === Seq(1, 2))
  }

  test("a name is registered once") {
    Memo.cache[String, Int]("spec.memo.once")
    intercept[IllegalArgumentException](Memo.cache[String, Int]("spec.memo.once"))
  }
}
