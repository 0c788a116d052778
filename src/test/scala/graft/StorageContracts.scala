package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ArtifactStore, LockDisplacedException}
import graft.llm.CodeTable.Pq
import graft.llm.{IndexDelete, IndexFamily}
import graft.stream.IndexIngest
import graft.stream.IndexIngest.DefaultApp

/** An [[graft.io.ArtifactStore.mutate]] decision that appends only
  * over the exact fingerprint `expect` and re-marks as `next`. */
object OverExactly {
  def apply(expect: String, next: String): String => Option[String] =
    cur => Option.when(cur == expect)(next)
}

/** What every storage contract suite shares: the binding under test,
  * and the binding's own name for a contract test where its suite has
  * an established one (so its test ids stay stable). */
trait StorageContract extends AnyFunSuite {
  protected val binding: StorageBinding

  /** Contract test name → this binding's name for the same test. */
  protected def titles: Map[String, String] = Map.empty

  protected def contract(name: String)(body: => Any): Unit =
    test(titles.getOrElse(name, name))(body)
}

/** The shared-artifact publish contract ([[graft.io.ArtifactStore]]),
  * pure files, no Spark, run on every [[graft.io.ArtifactFs]] binding:
  * concurrent first-touchers serialize to one build, manifest
  * validation catches pruned/extra files, a failed build can never
  * look current, a crash at any instant of a publish loses no
  * generation, and incremental mutate only applies over the exact
  * expected fingerprint. The protocol core is one body over three
  * bindings, so each binding's suite pins exactly what the binding
  * swap could break. The IVF-specific integration (a tampered index
  * retrains end-to-end) lives in ScaleDesignSpec. */
trait ArtifactPublishContract extends StorageContract {
  import binding._

  contract("racing first-touchers: one build wins, the loser reuses it") {
    // two threads (the stand-in for the driver's verify and bench JVMs
    // first-touching one corpus) race ensure() on the same base: the
    // lock serializes them, the loser revalidates under the lock and
    // must NOT rebuild — and must see the winner's complete file set
    val base = freshBase()
    val builds = new AtomicInteger
    val entered = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    val results = (1 to 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = {
          entered.countDown() // both racers poised before either builds
          entered.await()
          ArtifactStore.ensure(base, "fp-1") { staging =>
            builds.incrementAndGet()
            Thread.sleep(100) // hold the lock so the race is real
            writeData(staging, "part-0", "alpha")
            writeData(staging, "part-1", "beta")
          }
          readData(base, "part-0") + readData(base, "part-1")
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(builds.get() == 1, s"racers built ${builds.get()} times (want 1)")
    // neither racer observed a partial artifact
    assert(results.map(_.get()).toSet == Set("alphabeta"))
  }

  contract("manifest validation: pruned, truncated and extra files all invalidate") {
    val base = freshBase()
    def build(tag: String)(staging: String): Unit = {
      writeData(staging, "part-0", s"$tag-0")
      writeData(staging, "part-1", s"$tag-1")
    }
    assert(ArtifactStore.ensure(base, "fp-1")(build("v1")))
    assert(!ArtifactStore.ensure(base, "fp-1")(build("BUG")), "valid → reuse")

    // a tmp-reaper pruning one file under the artifact must trigger a
    // rebuild, not a silently short read
    Files.delete(Paths.get(local(base), "data", "part-1"))
    assert(ArtifactStore.ensure(base, "fp-1")(build("v2")), "pruned → rebuild")
    assert(readData(base, "part-1") == "v2-1")

    // size drift (truncation in place) is also caught
    Files.write(Paths.get(local(base), "data", "part-0"), "x".getBytes(UTF_8))
    assert(ArtifactStore.ensure(base, "fp-1")(build("v3")))

    // an EXTRA file (a clobbered concurrent write leaving a stray
    // part-file that a partitioned read would pick up) invalidates too
    writeData(base, "part-stray", "stray")
    assert(ArtifactStore.ensure(base, "fp-1")(build("v4")), "extra → rebuild")
    assert(!exists(base, "data/part-stray"),
      "rebuild replaces the data dir wholesale — the stray is gone")
  }

  contract("a failed build leaves no marker and the orphan staging is reaped") {
    val base = freshBase()
    intercept[RuntimeException] {
      ArtifactStore.ensure(base, "fp-1") { staging =>
        writeData(staging, "part-0", "half")
        throw new RuntimeException("executor lost")
      }
    }
    assert(!exists(base, "_FINGERPRINT"),
      "a crashed build must never look current")
    // next toucher rebuilds cleanly and the crashed staging dir is gone
    assert(ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "whole")))
    assert(readData(base, "part-0") == "whole")
    assert(tmpChildren(base).isEmpty, "crashed staging dirs must be reaped")
  }

  contract("a crashed rebuild or rewrite leaves the PREVIOUS artifact intact and valid") {
    // the build/rewrite body runs against staging while the old
    // artifact stays marked — a crash inside a long body (Spark
    // training jobs) must cost nothing but a staging orphan; only the
    // short sweep+rename publish window invalidates
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-old")(writeData(_, "part-0", "v1")))
    intercept[RuntimeException] {
      ArtifactStore.ensure(base, "fp-new") { staging =>
        writeData(staging, "part-0", "half")
        throw new RuntimeException("executor lost mid-build")
      }
    }
    assert(ArtifactStore.isCurrent(base, "fp-old"),
      "the old artifact must survive a crashed rebuild")
    assert(readData(base, "part-0") == "v1")
    intercept[RuntimeException] {
      ArtifactStore.rewrite(base) { (_, staging) =>
        writeData(staging, "part-0", "compacted")
        throw new RuntimeException("executor lost mid-rewrite")
      }
    }
    assert(ArtifactStore.isCurrent(base, "fp-old"),
      "the old artifact must survive a crashed rewrite")
    assert(readData(base, "part-0") == "v1")
    // the successful retry still replaces wholesale (and reaps orphans)
    assert(ArtifactStore.rewrite(base)((_, st) =>
      writeData(st, "part-0", "v2")))
    assert(ArtifactStore.isCurrent(base, "fp-old"))
    assert(readData(base, "part-0") == "v2")
    assert(tmpChildren(base).isEmpty,
      "crashed staging dirs must be reaped on retry")
  }

  contract("a crash inside the publish renames loses no generation: restoreAside rolls back") {
    // publishStaged renames replaced children ASIDE (.tmp-old-*) and
    // deletes nothing until the marker is written — so a death at any
    // rename boundary leaves the complete old generation recoverable.
    // A delete-then-move pair would have a window that strands a
    // streaming index's SOLE copy in staging, where the next orphan
    // reap destroys it. Simulate both crash positions by constructing
    // the exact on-disk states they leave.
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-old")(writeData(_, "part-0", "v1")))
    val basePath = Paths.get(local(base))
    def crashAside(name: String): Unit = {
      val aside = basePath.resolve(name)
      Files.createDirectories(aside)
      Files.move(basePath.resolve("_FINGERPRINT"),
        aside.resolve("_FINGERPRINT"))
      Files.move(basePath.resolve("data"), aside.resolve("data"))
    }

    // position 1: marker renamed aside, old child asided, staging not
    // yet moved in (death between the aside-move and the stage-in)
    crashAside(".tmp-old-crash1")
    writeData(s"$base/.tmp-crash1", "part-0", "v2-unpublished")
    assert(ArtifactStore.currentFingerprint(base).isEmpty)
    assert(ArtifactStore.restoreAside(base), "restore must report work")
    assert(readData(base, "part-0") == "v1",
      "the old generation's file set must be complete after roll-back")
    // the marker came back with the data: the artifact is VALID again
    // without any family-specific re-marking — the property that makes
    // the roll-back safe for families whose fingerprint is not
    // recomputable from the stored rows (BM25/LSH)
    assert(ArtifactStore.isCurrent(base, "fp-old"),
      "roll-back must restore validity, marker included")
    assert(!exists(base, ".tmp-old-crash1"), "consumed aside dirs are removed")
    assert(exists(base, ".tmp-crash1"),
      "the partial staging stays an orphan for the next reap")

    // position 2: death AFTER the new child moved in (old copy only in
    // the aside) — roll-back prefers the old generation wholesale
    crashAside(".tmp-old-crash2")
    writeData(base, "part-0", "v2-half-published") // the swapped-in new child
    assert(ArtifactStore.restoreAside(base))
    assert(readData(base, "part-0") == "v1",
      "roll-back must restore the old child over the half-published new one")
    assert(ArtifactStore.isCurrent(base, "fp-old"))

    // on a VALID artifact restoreAside is a no-op: a stray aside dir
    // after a COMPLETED publish is garbage, not a roll-back source
    assert(ArtifactStore.ensure(base, "fp-new")(writeData(_, "part-0", "v3")))
    assert(tmpChildren(base).isEmpty,
      "the successful publish reaps the orphan staging")
    writeData(s"$base/.tmp-old-stray", "part-0", "stale")
    assert(!ArtifactStore.restoreAside(base),
      "a valid marker means the publish completed — nothing to restore")
    assert(readData(base, "part-0") == "v3")
    assert(ArtifactStore.isCurrent(base, "fp-new"))
  }

  contract("a full rebuild sweeps children the build did not stage") {
    // the streaming sink keeps its exactly-once high-water mark as a
    // non-staged child (stream_state); a FINGERPRINT-CHANGING rebuild
    // (bootstrap over a changed corpus) must not let it survive, or a
    // restarted stream on the new artifact silently drops every batch
    // up to the old mark
    val base = freshBase()
    ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "v1"))
    // simulate the sink: state written in-place next to the data,
    // covered by a mutate so the manifest stays valid
    ArtifactStore.mutate(base)(OverExactly("fp-1", "fp-1b")) { live =>
      Files.write(Paths.get(local(live), "stream_state"), "7".getBytes(UTF_8))
    }
    assert(exists(base, "stream_state"))
    // corpus changed → rebuild under a new fingerprint
    assert(ArtifactStore.ensure(base, "fp-2")(writeData(_, "part-0", "v2")))
    assert(!exists(base, "stream_state"),
      "a rebuilt artifact must not inherit the old corpus's stream state")
    assert(readData(base, "part-0") == "v2")
  }

  contract("ensureIncremental: one lock window, post-condition holds from any start") {
    val base = freshBase()
    def build(staging: String): Unit = writeData(staging, "base-0", "A")
    def append(live: String): Unit = writeData(live, "batch-0", "B")
    // bootstrap: absent → build + append
    assert(ArtifactStore.ensureIncremental(base, "fp-A", "fp-AB")(build)(append)
      == ((true, true)))
    assert(ArtifactStore.isCurrent(base, "fp-AB"))
    // already at union → full no-op
    assert(ArtifactStore.ensureIncremental(base, "fp-A", "fp-AB")(
      _ => fail("no build"))(_ => fail("no append")) == ((false, false)))
    // FOREIGN fingerprint (a concurrent writer moved the artifact
    // somewhere unexpected between a caller's check and its call):
    // the single-lock state machine must still land on the union —
    // a two-lock version would return with the append refused
    assert(ArtifactStore.ensure(base, "fp-OTHER")(writeData(_, "x", "y")))
    val (built, appended) =
      ArtifactStore.ensureIncremental(base, "fp-A", "fp-AB")(build)(append)
    assert(built && appended)
    assert(ArtifactStore.isCurrent(base, "fp-AB"),
      "post-condition: artifact at the union fingerprint on return")
    assert(readData(base, "base-0") == "A" && readData(base, "batch-0") == "B")
    assert(!exists(base, "data/x"),
      "the foreign artifact's children are swept by the rebuild")
  }

  contract("gc: stale bases swept under the lock; fresh and live-marked bases kept") {
    // three artifacts under one root: one aged past the TTL (swept),
    // one fresh (kept by age), one aged but matching the caller's
    // live-corpus predicate (kept by mark-and-sweep — the read-hot
    // case where probes never refresh mtime). A reader arriving after
    // gc sees an absent artifact (rebuild), never a marked partial.
    val root = freshRoot()
    val stale = s"$root/ivf-index/old_corpus"
    val fresh = s"$root/ivf-index/hot_corpus"
    val served = s"$root/ivf-index/served_corpus"
    ArtifactStore.ensure(stale, "fp-old")(writeData(_, "part-0", "old"))
    ArtifactStore.ensure(fresh, "fp-hot")(writeData(_, "part-0", "hot"))
    ArtifactStore.ensure(served, "fp-srv")(writeData(_, "part-0", "srv"))
    // age the stale AND served bases' files beyond the TTL
    val oldTime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10_000_000L)
    for (base <- Seq(stale, served)) {
      val walk = Files.walk(Paths.get(local(base)))
      try walk.iterator().forEachRemaining(p =>
        Files.setLastModifiedTime(p, oldTime))
      finally walk.close()
    }
    val removed = ArtifactStore.gc(ttlMillis = 1_000_000L, root = root,
      live = _.endsWith("served_corpus"))
    assert(removed == Seq(stale), s"gc removed $removed")
    // swept = data + marker gone (absent artifact); on POSIX the base
    // dir and its lock file deliberately REMAIN — unlinking a lock
    // others may hold open would let two writers lock different inodes
    assert(ArtifactStore.currentFingerprint(stale).isEmpty,
      "a swept base must never validate")
    assert(!exists(stale, "data/part-0"), "swept data files must be gone")
    assert(ArtifactStore.isCurrent(fresh, "fp-hot"),
      "fresh base survives the sweep intact")
    assert(readData(fresh, "part-0") == "hot")
    assert(ArtifactStore.isCurrent(served, "fp-srv") &&
      readData(served, "part-0") == "srv",
      "an aged but live-marked base must be kept — probes don't write")
    // a second sweep re-reports NOTHING: the already-swept base is a
    // data-less husk and must not be counted removed again on every run
    val again = ArtifactStore.gc(ttlMillis = 1_000_000L, root = root,
      live = _.endsWith("served_corpus"))
    assert(again.isEmpty, s"second sweep re-reported $again")
    // the swept base rebuilds cleanly on next touch
    assert(ArtifactStore.ensure(stale, "fp-new")(writeData(_, "part-0", "new")))
    assert(readData(stale, "part-0") == "new")
  }

  contract("gc: blocks on a concurrent builder's lock and keeps the fresh result") {
    // the sweep takes each base's own lock, so it can never observe a
    // mid-build file set: racing a slow build, gc must BLOCK until the
    // publish completes, then judge the freshly-published (young) base
    // as live — even with a TTL small enough that the pre-build dir
    // state would have been swept
    val root = freshRoot()
    val base = s"$root/ivf-index/racing_corpus"
    val builderIn = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    val builder = pool.submit(new Runnable {
      def run(): Unit =
        ArtifactStore.ensure(base, "fp-race") { staging =>
          builderIn.countDown()
          Thread.sleep(1200) // hold the lock; gc must wait this out
          writeData(staging, "part-0", "built")
        }
    })
    pool.shutdown()
    assert(builderIn.await(30, TimeUnit.SECONDS))
    // TTL shorter than the build: had gc NOT blocked it would have
    // seen the file-less mid-build dir (age = forever) and swept it;
    // having blocked, it sees a marker written milliseconds ago
    val t0 = System.nanoTime()
    val removed = ArtifactStore.gc(ttlMillis = 600L, root = root,
      live = _ => false)
    val waitedMs = (System.nanoTime() - t0) / 1e6
    builder.get()
    assert(removed.isEmpty,
      s"gc judged the freshly-built base stale: removed $removed")
    assert(waitedMs > 500,
      s"gc should have blocked on the builder's lock (waited ${waitedMs.toInt} ms)")
    assert(ArtifactStore.isCurrent(base, "fp-race") &&
      readData(base, "part-0") == "built",
      "the concurrent build's publish survives the sweep intact")
  }

  contract("mutate: in-place append over the exact expected fingerprint only") {
    val base = freshBase()
    ArtifactStore.ensure(base, "fp-A") { staging =>
      writeData(staging, "cell=0/part-0", "a0")
    }
    // wrong expectation → refused, caller falls back to full build
    assert(!ArtifactStore.mutate(base)(OverExactly("fp-STALE", "fp-B")) { _ =>
      fail("append must not run over a mismatched fingerprint")
    })
    // matching expectation → append lands, marker re-covers the union
    assert(ArtifactStore.mutate(base)(OverExactly("fp-A", "fp-AB")) { live =>
      writeData(live, "cell=1/part-0", "b0")
    })
    assert(readData(base, "cell=0/part-0") == "a0")
    assert(readData(base, "cell=1/part-0") == "b0")
    // the new marker validates: a reuse under the union fingerprint
    // does not rebuild, and the pre-append fingerprint is gone for good
    assert(!ArtifactStore.ensure(base, "fp-AB") { _ => fail("must reuse") })
    assert(!ArtifactStore.mutate(base)(OverExactly("fp-A", "fp-X"))(
      _ => fail("stale")))
    // a crash mid-append leaves the artifact unmarked → full rebuild
    intercept[RuntimeException] {
      ArtifactStore.mutate(base)(OverExactly("fp-AB", "fp-ABC")) { live =>
        writeData(live, "cell=2/part-0", "half")
        throw new RuntimeException("append died")
      }
    }
    assert(!exists(base, "_FINGERPRINT"),
      "a crashed append must leave the artifact unmarked")
    assert(ArtifactStore.ensure(base, "fp-ABC") { staging =>
      writeData(staging, "cell=0/part-0", "rebuilt")
    })
  }

  contract("validated path cache: a retrain or sweep under a cached path is observed on the next read") {
    // the serving paths memoize corpus→base per JVM; a bare path memo
    // would keep serving the old generation after ANOTHER process
    // retrained or gc-swept the base. The cache must store the
    // fingerprint as validated and re-run the refresh when the marker
    // moved. The "other JVM" is simulated by mutating the artifact
    // directly, bypassing the cache.
    val base = freshBase()
    val cache = new graft.io.ValidatedPathCache()
    var refreshes = 0
    def resolve(): String = cache.get("corpus") {
      refreshes += 1
      ArtifactStore.ensure(base, s"fp-gen$refreshes")(
        writeData(_, "part-0", s"gen$refreshes"))
      base
    }
    assert(resolve() == base && refreshes == 1)
    assert(resolve() == base && refreshes == 1,
      "a validated entry must serve without re-running the ensure round")
    // another JVM retrains the corpus to a new generation
    assert(ArtifactStore.ensure(base, "fp-other")(
      writeData(_, "part-0", "other")))
    assert(resolve() == base && refreshes == 2,
      "a moved fingerprint must invalidate the memo and re-refresh")
    assert(ArtifactStore.isCurrent(base, "fp-gen2"),
      "the re-refresh re-ensured this JVM's expected generation")
    assert(resolve() == base && refreshes == 2, "and re-validates after")
    // a gc sweep (marker gone entirely) is observed the same way
    Files.delete(Paths.get(local(base), "_FINGERPRINT"))
    assert(resolve() == base && refreshes == 3,
      "a swept marker must invalidate the memo")
    // a refresh that does NOT leave a valid artifact is served but
    // not cached — the next read retries instead of pinning a husk
    val cache2 = new graft.io.ValidatedPathCache()
    val ghost = freshBase()
    var tries = 0
    def resolveGhost(): String = cache2.get("corpus") { tries += 1; ghost }
    resolveGhost(); resolveGhost()
    assert(tries == 2, "an invalid resolution must not be memoized")
  }
}

/** The owner-token lock contract of the expiry-based bindings (Hadoop,
  * CAS): the lock object is deleted on release, a live lock blocks and
  * only a dead holder's expires, a live holder renews past any TTL,
  * mutual exclusion survives stale-TTL churn, a displaced holder's
  * publish is fenced, the lock-health counters count, and a flaky
  * release never fails a committed body.
  * POSIX's `FileChannel` lock has no TTL, token or fence. */
trait TokenLockContract extends StorageContract {
  protected val binding: TokenBinding
  import binding._

  contract("publish, reuse and release: the lock object is deleted on release") {
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "v1")))
    assert(ArtifactStore.isCurrent(base, "fp-1"))
    assert(readData(base, "part-0") == "v1")
    assert(!ArtifactStore.ensure(base, "fp-1")(_ => fail("must reuse")))
    assert(readLock(base).isEmpty, "the lock must be deleted on release")
  }

  contract("the lock blocks while held and a stale abandoned lock is broken") {
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "v1")))
    // a FRESH foreign lock (a live holder) blocks the next touch
    putLock(base, "foreign-holder")
    val done = new CountDownLatch(1)
    val t = new Thread(() => {
      ArtifactStore.currentFingerprint(base); done.countDown()
    })
    t.start()
    assert(!done.await(400, TimeUnit.MILLISECONDS),
      "a live lock must block the protocol")
    deleteLock(base) // the holder releases
    assert(done.await(30, TimeUnit.SECONDS), "release must unblock")
    t.join()
    // an ABANDONED lock (older than the stale TTL — a dead process)
    // must be broken instead of deadlocking the base forever
    putLock(base, "dead-holder")
    ageLock(base, lockStaleMs + 60_000)
    assert(ArtifactStore.currentFingerprint(base).contains("fp-1"),
      "a stale lock must be broken, not waited on forever")
  }

  contract("a LIVE holder's lock is renewed past the stale TTL, never broken") {
    // two bindings = two processes (separate in-JVM monitor maps), one
    // underlying store. A holds the lock across 4× the TTL; its
    // heartbeat (TTL/3) must keep it fresh so B's waiter loop never
    // judges it stale — the failure mode is every build longer than
    // the TTL having its lock broken and a second writer entering the
    // critical section.
    val base = freshBase()
    withStaleTtl(900L) {
      val inCritical = new AtomicInteger
      val overlaps = new AtomicInteger
      val pool = Executors.newFixedThreadPool(2)
      def contend(p: LockProcess, holdMs: Long) =
        pool.submit(new Runnable {
          def run(): Unit = p.fs.lock(base) {
            if (inCritical.incrementAndGet() > 1) overlaps.incrementAndGet()
            Thread.sleep(holdMs)
            inCritical.decrementAndGet()
          }
        })
      val holder = newBinding()
      val a = contend(holder, 3600L) // 4× the TTL
      Thread.sleep(300)              // A is inside before B starts
      val b = contend(newBinding(), 100L)
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      a.get(); b.get()
      assert(overlaps.get() == 0,
        "a waiter broke a LIVE holder's lock — the heartbeat failed")
      assert(holder.stats.displacements.get() == 0,
        "the live holder must never observe a displacement")
    }
  }

  contract("lock stress: N simulated processes, tiny TTL, mutual exclusion holds") {
    // eight contenders through eight independent bindings (separate
    // monitor maps = separate processes), each repeatedly taking the
    // lock for longer than the TTL — so every acquisition rides the
    // renewal heartbeat AND every waiter's loop runs the stale-judgment
    // + takeover path continuously. The invariant under all that
    // churn: never two holders at once.
    val base = freshBase()
    withStaleTtl(300L) { // every hold outlives the TTL
      val inCritical = new AtomicInteger
      val overlaps = new AtomicInteger
      val acquisitions = new AtomicInteger
      val pool = Executors.newFixedThreadPool(8)
      val tasks = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val p = newBinding()
            (1 to 3).foreach { _ =>
              p.fs.lock(base) {
                acquisitions.incrementAndGet()
                if (inCritical.incrementAndGet() > 1)
                  overlaps.incrementAndGet()
                Thread.sleep(450L) // 1.5× the TTL inside the lock
                inCritical.decrementAndGet()
              }
            }
          }
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS),
        "stress run wedged — a lock was lost without recovery")
      tasks.foreach(_.get())
      assert(acquisitions.get() == 24, "every contender completed")
      assert(overlaps.get() == 0,
        s"${overlaps.get()} overlapping critical sections — mutual " +
          "exclusion broke under stale-TTL churn")
    }
  }

  contract("a displaced holder's publish is FENCED: rejected at the marker write") {
    // Injected displacement: holder A enters a mutate window; mid-
    // append a foreign holder's token replaces A's lock (exactly what a
    // waiter's stale-break race or an operator delete produces). A's
    // publish must fail LOUDLY at the fence — before writeMarker — so
    // the two writers' files can never merge under A's fingerprint;
    // and A's release must not touch the foreign holder's mutex.
    val base = freshBase()
    ArtifactStore.ensure(base, "fp-A")(writeData(_, "part-0", "v1"))
    val entered = new CountDownLatch(1)
    val displaced = new CountDownLatch(1)
    val failure = new AtomicReference[Throwable]
    val t = new Thread(() =>
      try ArtifactStore.mutate(base)(OverExactly("fp-A", "fp-AB")) { live =>
        writeData(live, "part-append", "appended")
        entered.countDown()
        displaced.await(30, TimeUnit.SECONDS)
        ()
      } catch { case e: Throwable => failure.set(e) })
    t.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    putLock(base, "intruder-token") // the takeover
    displaced.countDown()
    t.join(30_000)
    assert(failure.get() != null, "the displaced publish must fail")
    assert(failure.get().isInstanceOf[LockDisplacedException],
      s"want LockDisplacedException, got ${failure.get()}")
    // rejected BEFORE the marker write: the base is unmarked (rebuild-
    // on-next-touch), never marked with the two-writer merge
    assert(!exists(base, "_FINGERPRINT"),
      "a fenced publish must leave the base marker-less")
    assert(readLock(base).contains("intruder-token"),
      "release must not delete a foreign lock")
    // the next toucher publishes normally once the foreign holder
    // releases
    deleteLock(base)
    assert(ArtifactStore.ensure(base, "fp-new")(
      writeData(_, "part-0", "v2")))
    assert(readData(base, "part-0") == "v2")
  }

  contract("lock-health counters: stale break, displacement, reclaim, fence rejection") {
    // the lock events are per-instance counters a deployment can
    // alarm on, not stderr lines
    val p = newBinding()
    val base = freshBase()
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 10_000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    withStaleTtl(600L) { // heartbeat every 200 ms
      try {
        // stale break: a dead holder's old lock is broken and counted
        putLock(base, "dead-holder")
        ageLock(base, 60_000)
        p.fs.lock(base)(())
        assert(p.stats.staleBreaks.get() == 1,
          s"stale break not counted: ${p.stats.snapshot}")
        // displacement mid-hold: the heartbeat poisons the hold and
        // counts it; verifyHeld then rejects and counts that
        val sawDisplacement = p.fs.lock(base) {
          putLock(base, "intruder")
          waitFor(p.stats.displacements.get() > 0)
          intercept[LockDisplacedException](p.fs.verifyHeld(base))
          p.stats.displacements.get() >= 1
        }
        assert(sawDisplacement, "heartbeat must count the foreign owner")
        assert(p.stats.fenceRejections.get() >= 1,
          s"fence rejection not counted: ${p.stats.snapshot}")
        deleteLock(base) // the intruder releases
        // vanished lock: displacement counted, reclaim attempted, and
        // the hold stays fenced even after the reclaim succeeds
        val reclaimed = p.fs.lock(base) {
          deleteLock(base)
          val before = p.stats.reclaims.get()
          waitFor(p.stats.reclaims.get() > before)
          intercept[LockDisplacedException](p.fs.verifyHeld(base))
          p.stats.reclaims.get() > before && readLock(base).isDefined
        }
        assert(reclaimed, "a vanished lock must be re-created and counted")
        // release vs in-flight heartbeat: after a short hold ends, no
        // tick may resurrect the deleted lock (the released flag + the
        // hold monitor close the race) — an orphan here would cost the
        // next writer a full stale TTL
        p.fs.lock(base)(())
        Thread.sleep(500) // > two heartbeat periods
        assert(readLock(base).isEmpty,
          "a heartbeat tick resurrected a released lock")
      } finally deleteLock(base)
    }
  }

  contract("a transient failure during release never fails the committed body") {
    // the release's confirm-read retries and, on persistent failure,
    // logs a possible orphan — it must NEVER throw: the body's work
    // (an already-committed publish) would be reported failed by its
    // own lock release
    val p = newBinding()
    val base = freshBase()
    val out = p.fs.lock(base) { p.failLockReads.set(true); 42 }
    assert(out == 42, "the committed body's result must survive a " +
      "flaky release")
    p.failLockReads.set(false)
    assert(readLock(base).isDefined,
      "an unconfirmed release leaves the lock for expiry")
    // the possibly-orphaned lock is then broken by expiry as designed;
    // here just confirm the next writer is not wedged forever
    withStaleTtl(400L) {
      ageLock(base, 60_000)
      assert(p.fs.lock(base) { true }, "the orphan must expire normally")
    }
  }
}

/** The WHOLE streaming index lifecycle — bootstrap → exactly-once
  * appends → streamed deletes → tombstone-aware serving → compaction
  * → generation-pointer pairs — driven end-to-end through one storage
  * binding, with Spark itself reading and writing parquet through the
  * same scheme. At 100 TB the artifacts live next to the data (HDFS,
  * object stores), and every artifact-internal consumer (replay marks,
  * tombstone probes, fragmentation checks, the CURRENT pointer) must
  * follow the store onto that filesystem — not just the publish
  * protocol. */
trait IndexLifecycleContract extends StorageContract {
  import SparkTestSession._
  import binding.freshBase

  private lazy val dataPlane: Unit = binding.registerDataPlane(spark)

  private def vectors(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    () => Seq.fill(64)(rnd.nextFloat() - 0.5f)
  }

  contract("bootstrap, append, delete, serve, compact — all through the binding") {
    import spark.implicits._
    dataPlane
    val vec = vectors(55)
    val base = (0L until 120L).map(i => (i, vec()))
    val b1 = (200L until 220L).map(i => (i, vec()))
    val ivf = freshBase("ivf")
    val pq = freshBase("pq")
    assert(IndexIngest.bootstrap(IndexFamily.Ivf, ivf,
        base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.bootstrap(Pq.over(ivf), pq, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    // exactly-once appends with replay marks living on the binding
    IndexIngest.appendSink(IndexFamily.Ivf, ivf, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSink(Pq.over(ivf), pq)(b1.toDF("vec_id", "embedding"), 0L)
    def listCount() = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$ivf/assignments").count()
    val grown = listCount()
    assert(grown == 140L, s"appends must land (got $grown)")
    // replay of the committed batch is a wholesale no-op
    IndexIngest.appendSink(IndexFamily.Ivf, ivf, DefaultApp)(
      b1.toDF("vec_id", "embedding"), 0L)
    assert(listCount() == grown, "replay must not double-ingest")
    // streamed DELETE: tombstone append, O(deletes)
    val deleted = Set(5L, 17L, 204L)
    IndexIngest.deleteSink(IndexFamily.Ivf, ivf)(deleted.toSeq.toDF("vec_id"), 0L)
    assert(IndexIngest.tombstoneFiles(ivf) > 0,
      "the tombstone set must live on the binding")
    // serving excludes the deleted immediately (pre-pool cut + live
    // refine), straight off the artifacts; frames are rebuilt per
    // call: a compaction swaps the part files underneath, and a
    // pre-compaction DataFrame pins the old listing
    def served() = {
      val panel = spark.read
        .schema(graft.llm.Similarity.invertedListSchema)
        .parquet(s"$ivf/assignments")
        .filter(col("vec_id") % 4 === 0 &&
          !col("vec_id").isin(deleted.toSeq: _*))
        .select(col("vec_id"), col("embedding"), col("norm"))
      graft.llm.Similarity
        .serveFrom(Pq, spark, panel, ivf, pq)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val before = served()
    assert(before.nonEmpty)
    assert(!before.exists(r => deleted(r._2)),
      "tombstoned ids must not be served")
    // compaction physicalizes the deletes and resets the tombstones;
    // the served answer is unchanged (fingerprint-preserving rewrite)
    assert(IndexIngest.compact(IndexFamily.Ivf, spark, ivf))
    assert(IndexIngest.tombstoneFiles(ivf) == 0,
      "compaction must clear the tombstone set")
    assert(listCount() == grown - deleted.size,
      "compaction must drop tombstoned rows physically")
    assert(served().toSet == before.toSet,
      "a layout rewrite must not change the served answer")
  }

  contract("generation-pointer pair swaps atomically through the binding") {
    import spark.implicits._
    dataPlane
    val vec = vectors(56)
    val base = (0L until 60L).map(i => (i, vec()))
    val pair = freshBase("pair")
    assert(IndexIngest.bootstrapPair(pair, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.Built)
    assert(IndexIngest.currentGen(pair).contains("g0"))
    val (iv, pq) = IndexIngest.resolvePair(pair)
    assert(iv.startsWith(pair) && pq.startsWith(pair),
      "the resolved pair must stay under the pair base, on the binding")
    assert(ArtifactStore.currentFingerprint(iv).isDefined)
    // paired append lands on the current generation through the binding
    val b1 = (100L until 110L).map(i => (i, vec()))
    IndexIngest.appendSinkPaired(IndexFamily.Ivf, pair)(
      b1.toDF("vec_id", "embedding"), 0L)
    IndexIngest.appendSinkPaired(Pq, pair)(b1.toDF("vec_id", "embedding"), 0L)
    val n = spark.read
      .schema(graft.llm.Similarity.invertedListSchema)
      .parquet(s"$iv/assignments").count()
    assert(n == 70L, s"paired append must land on g0 (got $n)")
    // the pointer file replace-swaps in place (an atomic replace on
    // every binding — a second bootstrap observes the grown
    // generation, proving the pointer reads back whole)
    assert(IndexIngest.bootstrapPair(pair, base.toDF("vec_id", "embedding"))
      == IndexIngest.BootstrapStatus.KeptDivergent,
      "the grown generation differs from the offered corpus — observable")
  }
}

/** One lock window per artifact transition, pinned through the
  * counting binding ([[CountingFs]]) the token schemes are registered
  * through: each transition reads the valid fingerprint, decides and
  * writes under one `fs.lock`, so a writer landing just before that
  * window is kept — never swept by a build decided earlier, never
  * re-marked with a fingerprint of older rows. */
trait LockWindowContract extends StorageContract {
  protected val binding: TokenBinding
  import SparkTestSession._
  import binding.{counting, freshBase, local}

  private def vectors(seed: Int, ids: Range) = {
    import spark.implicits._
    binding.registerDataPlane(spark)
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  contract("each artifact transition takes one lock window, counted through the binding") {
    import spark.implicits._
    val ivf = freshBase("ivf")
    val pq = freshBase("pq")
    val resolved = freshBase("resolved")
    val corpus = vectors(57, 0 until 80)
    // (lock windows, whole-base walks) each transition takes on its base
    def cost(base: String)(transition: => Any) =
      counting.cost(base)(transition)
    val built = cost(ivf)(IndexIngest.bootstrap(IndexFamily.Ivf, ivf, corpus))
    IndexIngest.bootstrap(Pq.over(ivf), pq, corpus)
    val seen = Seq(
      "bootstrap of an empty base" -> built,
      "bootstrap over a valid artifact" -> cost(ivf)(
        IndexIngest.bootstrap(IndexFamily.Ivf, ivf, corpus)),
      "streamed append commit" -> cost(ivf)(
        IndexIngest.appendSink(IndexFamily.Ivf, ivf)(
          vectors(58, 100 until 110), 0L)),
      "replayed append batch" -> cost(ivf)(
        IndexIngest.appendSink(IndexFamily.Ivf, ivf)(
          vectors(58, 100 until 110), 0L)),
      "streamed delete commit" -> cost(ivf)(
        IndexIngest.deleteSink(IndexFamily.Ivf, ivf)(
          Seq(3L, 104L).toDF("vec_id"), 0L)),
      "batch remove_ids" -> cost(ivf)(IndexDelete.applyDeletes(
        IndexFamily.Ivf, spark, ivf, Seq(5L, 106L).toDF("vec_id"))),
      // the IVF base holds a batch the PQ table does not, so the gate
      // defers any retrain: its heal is the gate's one IVF-base window
      "gate heal over a valid IVF base" -> cost(ivf)(
        IndexIngest.recallGateAndRetrain(spark, ivf, pq)),
      "cold validated-path resolve" -> cost(resolved)(
        new graft.io.ValidatedPathCache().get("corpus") {
          ArtifactStore.ensure(resolved, "fp-1")(
            binding.writeData(_, "part-0", "x"))
          resolved
        }))
    assert(seen == Seq(
      "bootstrap of an empty base" -> ((1, 1)),
      "bootstrap over a valid artifact" -> ((1, 1)),
      "streamed append commit" -> ((1, 2)),
      "replayed append batch" -> ((0, 0)),
      "streamed delete commit" -> ((1, 2)),
      "batch remove_ids" -> ((1, 2)),
      "gate heal over a valid IVF base" -> ((1, 1)),
      "cold validated-path resolve" -> ((1, 2))))
  }

  contract("a publish landing just before a bootstrap's window is kept, never swept") {
    val corpus = vectors(59, 0 until 60)
    // which of a bootstrap's lock windows builds: a dry run on a twin
    val twin = freshBase("twin")
    val w = counting.markerWindow(twin)(
      IndexIngest.bootstrap(IndexFamily.Ivf, twin, corpus))
      .getOrElse(fail("a bootstrap of an empty base must build"))
    // another writer publishes fingerprint A, with a replay mark, just
    // before that window
    val ivf = freshBase("ivf")
    counting.beforeWindow(ivf, w) {
      ArtifactStore.ensure(ivf, "fp-A") { staging =>
        binding.writeData(staging, "part-A", "A")
        Files.write(Paths.get(local(staging), "stream_state"),
          s"$DefaultApp\t7".getBytes(UTF_8))
      }
    }
    assert(IndexIngest.bootstrap(IndexFamily.Ivf, ivf, corpus) ==
      IndexIngest.BootstrapStatus.KeptDivergent,
      "an initialize-only bootstrap must keep the artifact it finds")
    assert(ArtifactStore.currentFingerprint(ivf).contains("fp-A"))
    assert(binding.readData(ivf, "part-A") == "A" &&
      binding.exists(ivf, "stream_state"),
      "the other writer's files and replay mark must survive")
  }

  contract("a sink commit landing just before the gate's IVF heal is kept under a marker of its rows") {
    val corpus = vectors(60, 0 until 60)
    // an IVF-PQ pair whose IVF marker was lost (no aside to restore):
    // the data intact, nothing valid
    def markerLost(): (String, String, java.nio.file.Path) = {
      val (ivf, pq) = (freshBase("ivf"), freshBase("pq"))
      IndexIngest.bootstrap(IndexFamily.Ivf, ivf, corpus)
      IndexIngest.bootstrap(Pq.over(ivf), pq, corpus)
      val lost = Files.createTempFile("graft-lost-marker", "")
      Files.move(Paths.get(local(ivf), "_FINGERPRINT"), lost,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      (ivf, pq, lost)
    }
    // which of the gate's lock windows on the IVF base heals it: a dry
    // run on a twin pair
    val (twinIvf, twinPq, _) = markerLost()
    val w = counting.markerWindow(twinIvf)(
      IndexIngest.recallGateAndRetrain(spark, twinIvf, twinPq))
      .getOrElse(fail("the gate must heal a marker-less IVF base"))
    // a concurrent healer re-marks the base and a sink commits batch 0
    // onto it, just before that window
    val (ivf, pq, lost) = markerLost()
    counting.beforeWindow(ivf, w) {
      Files.move(lost, Paths.get(local(ivf), "_FINGERPRINT"))
      IndexIngest.appendSink(IndexFamily.Ivf, ivf)(
        vectors(61, 100 until 110), 0L)
    }
    IndexIngest.recallGateAndRetrain(spark, ivf, pq)
    val (n, x) = IndexFamily.Ivf.parts(IndexDelete.liveListsAt(spark, ivf)
      .select(col("vec_id"), col("embedding"), col("norm")))
    assert(n == 70L, s"the committed batch must be kept (got $n rows)")
    assert(ArtifactStore.currentFingerprint(ivf)
      .contains(ArtifactStore.fingerprint(n, x)),
      "the marker must carry the fingerprint of the rows it marks")
  }
}
