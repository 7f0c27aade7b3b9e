package graft

import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.SharedBuilds

/** Pins the memoizing-Holder race fix in `SharedBuilds.of`
  * (Tables.scala): builds are side-effecting (ivfStore overwrites then
  * appends one parquet path), so two threads racing the same (dir, key)
  * must execute the build thunk exactly ONCE, and nested `of()` calls
  * (sharedComponents → sharedDedupIndex) must not deadlock or throw
  * ConcurrentHashMap's "Recursive update". */
class SharedBuildsSpec extends SparkSpec {

  test("two threads racing one (dir, key) run the side-effecting build once") {
    val runs = new AtomicInteger(0)
    val barrier = new CyclicBarrier(2)
    val results = new Array[AnyRef](2)
    val errs = new Array[Throwable](2)
    val threads = (0 until 2).map { i =>
      new Thread(() => {
        try {
          barrier.await(10, TimeUnit.SECONDS) // maximize the race window
          results(i) = SharedBuilds.of(spark, "/tmp/sb-race", "k1") {
            runs.incrementAndGet()
            Thread.sleep(50) // widen the window: the loser must WAIT, not rebuild
            ("built", runs.get()): AnyRef
          }
        } catch { case t: Throwable => errs(i) = t }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(15000))
    assert(errs.forall(_ == null), s"racer threw: ${errs.filter(_ != null).toSeq}")
    assert(runs.get() === 1, "side-effecting build executed more than once")
    // both racers observe the SAME memoized instance
    assert(results(0) eq results(1))
  }

  test("distinct keys build independently; same key re-read is memoized") {
    val runs = new AtomicInteger(0)
    val a = SharedBuilds.of(spark, "/tmp/sb-keys", "a") { runs.incrementAndGet(); "va" }
    val b = SharedBuilds.of(spark, "/tmp/sb-keys", "b") { runs.incrementAndGet(); "vb" }
    val a2 = SharedBuilds.of(spark, "/tmp/sb-keys", "a") { runs.incrementAndGet(); "va2" }
    assert(runs.get() === 2)
    assert(a === "va" && b === "vb" && (a2 eq a))
  }

  test("nested of() re-entry (outer build calls of on another key) is legal") {
    val outerRuns = new AtomicInteger(0)
    val innerRuns = new AtomicInteger(0)
    val v = SharedBuilds.of(spark, "/tmp/sb-nest", "outer") {
      outerRuns.incrementAndGet()
      val inner = SharedBuilds.of(spark, "/tmp/sb-nest", "inner") {
        innerRuns.incrementAndGet(); "inner-v"
      }
      s"outer-of-$inner"
    }
    assert(v === "outer-of-inner-v")
    assert(outerRuns.get() === 1 && innerRuns.get() === 1)
    // the inner cell is memoized under its own key
    val again = SharedBuilds.of(spark, "/tmp/sb-nest", "inner") {
      innerRuns.incrementAndGet(); "never"
    }
    assert(again === "inner-v" && innerRuns.get() === 1)
  }

  test("nested of() under a concurrent racer on the inner key stays single-build") {
    // one thread forces (outer -> inner); a second races the inner key
    // directly — inner must still build exactly once, and neither
    // thread may deadlock (the Holder serializes on the CELL, not the map)
    val innerRuns = new AtomicInteger(0)
    val ready = new CountDownLatch(1)
    val errs = new Array[Throwable](2)
    val t1 = new Thread(() => {
      try SharedBuilds.of(spark, "/tmp/sb-nest2", "outer") {
        ready.countDown()
        SharedBuilds.of(spark, "/tmp/sb-nest2", "inner") {
          innerRuns.incrementAndGet(); Thread.sleep(50); "iv"
        }
      } catch { case t: Throwable => errs(0) = t }
    })
    val t2 = new Thread(() => {
      try {
        ready.await(10, TimeUnit.SECONDS)
        SharedBuilds.of(spark, "/tmp/sb-nest2", "inner") {
          innerRuns.incrementAndGet(); "iv2"
        }
      } catch { case t: Throwable => errs(1) = t }
    })
    t1.start(); t2.start(); t1.join(15000); t2.join(15000)
    assert(!t1.isAlive && !t2.isAlive, "deadlock: a racer never finished")
    assert(errs.forall(_ == null), s"racer threw: ${errs.filter(_ != null).toSeq}")
    assert(innerRuns.get() === 1)
  }

  test("evictDir drops every memo of one directory and no other") {
    val runs = new AtomicInteger(0)
    def memo(dir: String, key: String): String =
      SharedBuilds.of(spark, dir, key) { s"$dir/$key#${runs.incrementAndGet()}" }
    val table = memo("/tmp/sb-evict-a", "table-x")
    val derived = memo("/tmp/sb-evict-a", "derived")
    val other = memo("/tmp/sb-evict-b", "table-x")
    assert(runs.get() === 3)
    SharedBuilds.evictDir(spark, "/tmp/sb-evict-a")
    // both keys of the evicted directory rebuild, derived memos included
    assert(memo("/tmp/sb-evict-a", "table-x") === "/tmp/sb-evict-a/table-x#4")
    assert(memo("/tmp/sb-evict-a", "derived") === "/tmp/sb-evict-a/derived#5")
    assert(table !== memo("/tmp/sb-evict-a", "table-x"))
    assert(derived !== memo("/tmp/sb-evict-a", "derived"))
    // the other directory's memo survives
    assert(memo("/tmp/sb-evict-b", "table-x") eq other)
    assert(runs.get() === 5)
  }

  test("a throwing build is re-attempted on the next force, not poisoned") {
    // the holder stays in the map after a failure, so the NEXT force
    // re-runs the ORIGINAL thunk (lazy vals don't latch exceptions) —
    // a transient failure (e.g. a flaky fs write) recovers on retry
    val runs = new AtomicInteger(0)
    def attempt(): String = SharedBuilds.of(spark, "/tmp/sb-throw", "k") {
      val n = runs.incrementAndGet()
      if (n == 1) throw new RuntimeException("boom")
      s"recovered-$n"
    }
    val e = intercept[RuntimeException](attempt())
    assert(e.getMessage === "boom")
    assert(attempt() === "recovered-2" && runs.get() === 2)
    // and the success IS latched: a third call does not re-run
    assert(attempt() === "recovered-2" && runs.get() === 2)
  }
}
