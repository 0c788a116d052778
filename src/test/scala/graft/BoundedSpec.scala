package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ArtifactStore, BoundedMemo, KeyedMonitors, ValidatedPathCache}

/** The per-JVM memo bounds (VERDICT r13 #6): a long-lived multi-tenant
  * serving JVM must not leak an entry per artifact base ever touched.
  * Monitors bound by refcount (exact: zero entries when idle), caches
  * by LRU (eviction costs a re-validation, never correctness). */
class BoundedSpec extends AnyFunSuite {

  test("BoundedMemo evicts least-recently-USED beyond the cap") {
    val m = new BoundedMemo[Int](2)
    m.put("a", 1); m.put("b", 2)
    assert(m.get("a").contains(1)) // touch a → b is now eldest
    m.put("c", 3)
    assert(m.size == 2)
    assert(m.get("b").isEmpty, "least-recently-used entry must go")
    assert(m.get("a").contains(1) && m.get("c").contains(3))
  }

  test("KeyedMonitors holds zero entries when idle, still mutually excludes") {
    val mon = new KeyedMonitors
    val inside = new AtomicInteger
    val overlaps = new AtomicInteger
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(8)
    (1 to 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.countDown(); start.await()
          (1 to 50).foreach { _ =>
            mon.withMonitor("key-" + (i % 2)) {
              if (inside.incrementAndGet() > 2) overlaps.incrementAndGet()
              inside.decrementAndGet()
            }
          }
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(overlaps.get() == 0,
      "two threads entered one key's critical section")
    assert(mon.size == 0,
      s"idle registry must hold zero entries, has ${mon.size} — the leak")
  }

  test("a waiter's monitor is never swapped out from under it") {
    // T1 holds; T2 queues; T1 releases (refcount 2→1: no removal);
    // T2 runs on the SAME monitor. If release removed the entry while
    // T2 waited, a third thread could lock a fresh monitor concurrently
    // with T2 — the refcount makes that impossible; this pins the
    // handoff works and the registry still drains to zero after.
    val mon = new KeyedMonitors
    val t1In = new CountDownLatch(1)
    val t1Go = new CountDownLatch(1)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t1 = new Thread(() => mon.withMonitor("k") {
      t1In.countDown(); t1Go.await(); order.add("t1")
    })
    t1.start(); t1In.await()
    val t2 = new Thread(() => mon.withMonitor("k")(order.add("t2")))
    t2.start()
    Thread.sleep(100) // t2 queued on the monitor
    t1Go.countDown()
    t1.join(10_000); t2.join(10_000)
    assert(order.toArray.toSeq == Seq("t1", "t2"))
    assert(mon.size == 0)
  }

  test("ValidatedPathCache evicts beyond its cap; evictee just re-refreshes") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vpc-evict").toString
    def mkArtifact(name: String): String = {
      val base = java.nio.file.Paths.get(root, name).toString
      ArtifactStore.ensure(base, s"fp-$name") { staging =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(staging, "part-0"), name.getBytes)
      }
      base
    }
    val bases = Seq("a", "b", "c").map(mkArtifact)
    val refreshes = new AtomicInteger
    val cache = new ValidatedPathCache(maxEntries = 2)
    def resolve(i: Int): String =
      cache.get(s"corpus-$i") { refreshes.incrementAndGet(); bases(i) }
    resolve(0); resolve(1)
    assert(refreshes.get() == 2)
    resolve(0); resolve(1)
    assert(refreshes.get() == 2, "validated hits must not re-refresh")
    resolve(2) // cap 2: evicts corpus-0 (eldest by access order)
    resolve(1)
    assert(refreshes.get() == 3, "corpus-1 must still be cached")
    resolve(0)
    assert(refreshes.get() == 4,
      "the evicted resolution must re-run its refresh round")
    assert(resolve(0) == bases(0), "and still resolve correctly")
  }
}
