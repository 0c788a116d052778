package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArtifactStore

/** The shared-artifact publish contract ([[graft.io.ArtifactStore]])
  * at its own layer — pure files, no Spark: concurrent first-touchers
  * serialize to one build, manifest validation catches pruned/extra
  * files, a failed build can never look current, and incremental
  * mutate only applies over the exact expected fingerprint. The
  * IVF-specific integration (a tampered index retrains end-to-end)
  * lives in ScaleDesignSpec. */
class ArtifactStoreSpec extends AnyFunSuite {

  private def freshBase(): String =
    Files.createTempDirectory("graft-artifact-spec")
      .resolve("artifact").toString

  private def writeData(dir: String, name: String, body: String): Unit = {
    val p = Paths.get(dir, "data", name)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  private def readData(base: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(base, "data", name)), UTF_8)

  test("artifact root: GRAFT_ARTIFACT_DIR overrides; default is user-scoped") {
    assert(ArtifactStore.artifactRoot(
      Map(graft.GraftConfig.EnvArtifactDir -> "/srv/shared/graft"))
      == "/srv/shared/graft")
    // unset → under tmpdir, scoped by (sanitized) user name so a
    // shared /tmp neither collides across users nor serves another
    // user's writable files
    val root = ArtifactStore.artifactRoot(Map("USER" -> "alice bob"))
    assert(root.startsWith(sys.props("java.io.tmpdir")))
    assert(root.endsWith("graft-artifacts-alice_bob"))
  }

  test("racing first-touchers: one build wins, the loser reuses it") {
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

  test("cross-PROCESS lock: a second JVM blocks and reuses the first's build") {
    // the real thing, not a thread simulation: a SEPARATE JVM (what
    // the driver's verify and bench processes are) takes the file
    // lock and builds slowly; this JVM must BLOCK on the lock — if
    // the FileLock did not serialize across processes, this JVM would
    // observe the mid-build marker-less dir and run its own build,
    // which the closure turns into a test failure
    val base = freshBase()
    val parentDir = Paths.get(base).getParent
    val java = sys.props("java.home") + "/bin/java"
    val cp = sys.props("java.class.path")
    val proc = new ProcessBuilder(
      java, "-cp", cp, "graft.LockProbeMain", base, "fp-x", "4000")
      .redirectErrorStream(true).start()
    try {
      // wait until the child is INSIDE its build closure (lock held)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!Files.exists(parentDir.resolve("child-in-build")) &&
        proc.isAlive && System.nanoTime() < deadline) Thread.sleep(25)
      assert(Files.exists(parentDir.resolve("child-in-build")),
        "child never entered its build — probe output: " +
          (if (proc.isAlive) "(still running)"
           else new String(proc.getInputStream.readAllBytes(), UTF_8)))
      val t0 = System.nanoTime()
      val built = ArtifactStore.ensure(base, "fp-x") { _ =>
        fail("parent must not build — the child holds the lock")
      }
      val waitedMs = (System.nanoTime() - t0) / 1e6
      assert(!built, "parent must reuse the child's publish")
      assert(readData(base, "part-0") == "from-child")
      assert(waitedMs > 500,
        s"parent should have blocked on the cross-process lock " +
          s"(waited ${waitedMs.toInt} ms)")
      assert(proc.waitFor(60, TimeUnit.SECONDS) && proc.exitValue() == 0)
      val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
      assert(out.contains("BUILT"), s"child should have built: $out")
    } finally if (proc.isAlive) proc.destroyForcibly()
  }

  test("manifest validation: pruned, truncated and extra files all invalidate") {
    val base = freshBase()
    def build(tag: String)(staging: String): Unit = {
      writeData(staging, "part-0", s"$tag-0")
      writeData(staging, "part-1", s"$tag-1")
    }
    assert(ArtifactStore.ensure(base, "fp-1")(build("v1")))
    assert(!ArtifactStore.ensure(base, "fp-1")(build("BUG")), "valid → reuse")

    // a tmp-reaper pruning one file under the artifact must trigger a
    // rebuild, not a silently short read (ADVICE r8: validity was
    // marker-only before)
    Files.delete(Paths.get(base, "data", "part-1"))
    assert(ArtifactStore.ensure(base, "fp-1")(build("v2")), "pruned → rebuild")
    assert(readData(base, "part-1") == "v2-1")

    // size drift (truncation in place) is also caught
    Files.write(Paths.get(base, "data", "part-0"), "x".getBytes(UTF_8))
    assert(ArtifactStore.ensure(base, "fp-1")(build("v3")))

    // an EXTRA file (a clobbered concurrent write leaving a stray
    // part-file that a partitioned read would pick up) invalidates too
    writeData(base, "part-stray", "stray")
    assert(ArtifactStore.ensure(base, "fp-1")(build("v4")))
    assert(!Files.exists(Paths.get(base, "data", "part-stray")),
      "rebuild replaces the data dir wholesale — the stray is gone")
  }

  test("a failed build leaves no marker and the orphan staging is reaped") {
    val base = freshBase()
    intercept[RuntimeException] {
      ArtifactStore.ensure(base, "fp-1") { staging =>
        writeData(staging, "part-0", "half")
        throw new RuntimeException("executor lost")
      }
    }
    assert(!Files.exists(Paths.get(base, "_FINGERPRINT")),
      "a crashed build must never look current")
    // next toucher rebuilds cleanly and the crashed staging dir is gone
    assert(ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "whole")))
    assert(readData(base, "part-0") == "whole")
    val strays = Files.list(Paths.get(base)).iterator()
    var tmpDirs = 0
    while (strays.hasNext) {
      if (strays.next().getFileName.toString.startsWith(".tmp-")) tmpDirs += 1
    }
    assert(tmpDirs == 0, "crashed staging dirs must be reaped")
  }

  test("a crashed rebuild or rewrite leaves the PREVIOUS artifact intact and valid") {
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
    val strays = Files.list(Paths.get(base)).iterator()
    var tmpDirs = 0
    while (strays.hasNext)
      if (strays.next().getFileName.toString.startsWith(".tmp-")) tmpDirs += 1
    assert(tmpDirs == 0, "crashed staging dirs must be reaped on retry")
  }

  test("a crash inside the publish renames loses no generation: restoreAside rolls back") {
    // publishStaged renames replaced children ASIDE (.tmp-old-*) and
    // deletes nothing until the marker is written — so a death at any
    // rename boundary leaves the complete old generation recoverable.
    // The old delete-then-move pair had a window that stranded a
    // streaming index's SOLE copy in staging, where the next orphan
    // reap destroyed it (ADVICE r11 medium). Simulate both crash
    // positions by constructing the exact on-disk states they leave.
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-old")(writeData(_, "part-0", "v1")))
    val basePath = Paths.get(base)

    // position 1: marker renamed aside, old child asided, staging not
    // yet moved in (death between the aside-move and the stage-in)
    val aside1 = basePath.resolve(".tmp-old-crash1")
    Files.createDirectories(aside1)
    Files.move(basePath.resolve("_FINGERPRINT"),
      aside1.resolve("_FINGERPRINT"))
    Files.move(basePath.resolve("data"), aside1.resolve("data"))
    val staging1 = basePath.resolve(".tmp-crash1")
    writeData(staging1.toString, "part-0", "v2-unpublished")
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
    assert(!Files.exists(aside1), "consumed aside dirs are removed")
    assert(Files.exists(staging1),
      "the partial staging stays an orphan for the next reap")

    // position 2: death AFTER the new child moved in (old copy only in
    // the aside) — roll-back prefers the old generation wholesale
    val aside2 = basePath.resolve(".tmp-old-crash2")
    Files.createDirectories(aside2)
    Files.move(basePath.resolve("_FINGERPRINT"),
      aside2.resolve("_FINGERPRINT"))
    Files.move(basePath.resolve("data"), aside2.resolve("data"))
    writeData(base, "part-0", "v2-half-published") // the swapped-in new child
    assert(ArtifactStore.restoreAside(base))
    assert(readData(base, "part-0") == "v1",
      "roll-back must restore the old child over the half-published new one")
    assert(ArtifactStore.isCurrent(base, "fp-old"))

    // on a VALID artifact restoreAside is a no-op: a stray aside dir
    // after a COMPLETED publish is garbage, not a roll-back source
    assert(ArtifactStore.ensure(base, "fp-new")(writeData(_, "part-0", "v3")))
    val strayAside = basePath.resolve(".tmp-old-stray")
    Files.createDirectories(strayAside.resolve("data"))
    Files.write(strayAside.resolve("data").resolve("part-0"),
      "stale".getBytes(UTF_8))
    assert(!ArtifactStore.restoreAside(base),
      "a valid marker means the publish completed — nothing to restore")
    assert(readData(base, "part-0") == "v3")
    assert(ArtifactStore.isCurrent(base, "fp-new"))
  }

  test("a full rebuild sweeps children the build did not stage") {
    // the streaming sink keeps its exactly-once high-water mark as a
    // non-staged child (stream_state); a FINGERPRINT-CHANGING rebuild
    // (bootstrap over a changed corpus) must not let it survive, or a
    // restarted stream on the new artifact silently drops every batch
    // up to the old mark (ADVICE r9, medium)
    val base = freshBase()
    ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "v1"))
    // simulate the sink: state written in-place next to the data,
    // covered by a mutate so the manifest stays valid
    ArtifactStore.mutate(base, "fp-1", "fp-1b") { live =>
      Files.write(Paths.get(live, "stream_state"), "7".getBytes(UTF_8))
    }
    assert(Files.exists(Paths.get(base, "stream_state")))
    // corpus changed → rebuild under a new fingerprint
    assert(ArtifactStore.ensure(base, "fp-2")(writeData(_, "part-0", "v2")))
    assert(!Files.exists(Paths.get(base, "stream_state")),
      "a rebuilt artifact must not inherit the old corpus's stream state")
    assert(readData(base, "part-0") == "v2")
  }

  test("ensureIncremental: one lock window, post-condition holds from any start") {
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
    // the old two-lock version returned with the append refused
    assert(ArtifactStore.ensure(base, "fp-OTHER")(writeData(_, "x", "y")))
    val (built, appended) =
      ArtifactStore.ensureIncremental(base, "fp-A", "fp-AB")(build)(append)
    assert(built && appended)
    assert(ArtifactStore.isCurrent(base, "fp-AB"),
      "post-condition: artifact at the union fingerprint on return")
    assert(readData(base, "base-0") == "A" && readData(base, "batch-0") == "B")
    assert(!Files.exists(Paths.get(base, "data", "x")),
      "the foreign artifact's children are swept by the rebuild")
  }

  test("gc: stale bases swept under the lock; fresh and live-marked bases kept") {
    // three artifacts under one root: one aged past the TTL (swept),
    // one fresh (kept by age), one aged but matching the caller's
    // live-corpus predicate (kept by mark-and-sweep — the read-hot
    // case where probes never refresh mtime). A reader arriving after
    // gc sees an absent artifact (rebuild), never a marked partial.
    val root = Files.createTempDirectory("graft-gc-spec").toString
    val stale = Paths.get(root, "ivf-index", "old_corpus").toString
    val fresh = Paths.get(root, "ivf-index", "hot_corpus").toString
    val served = Paths.get(root, "ivf-index", "served_corpus").toString
    ArtifactStore.ensure(stale, "fp-old")(writeData(_, "part-0", "old"))
    ArtifactStore.ensure(fresh, "fp-hot")(writeData(_, "part-0", "hot"))
    ArtifactStore.ensure(served, "fp-srv")(writeData(_, "part-0", "srv"))
    // age the stale AND served bases' files beyond the TTL
    val oldTime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10_000_000L)
    for (base <- Seq(stale, served)) {
      val walk = Files.walk(Paths.get(base))
      try walk.iterator().forEachRemaining(p =>
        Files.setLastModifiedTime(p, oldTime))
      finally walk.close()
    }
    val removed = ArtifactStore.gc(ttlMillis = 1_000_000L, root = root,
      live = _.endsWith("served_corpus"))
    assert(removed == Seq(stale), s"gc removed $removed")
    // swept = data + marker gone (absent artifact); the base dir and
    // its lock file deliberately REMAIN — unlinking a lock others may
    // hold open would let two writers lock different inodes at once
    assert(ArtifactStore.currentFingerprint(stale).isEmpty,
      "a swept base must never validate")
    assert(!Files.exists(Paths.get(stale, "data", "part-0")),
      "swept data files must be gone")
    assert(ArtifactStore.isCurrent(fresh, "fp-hot"),
      "fresh base survives the sweep intact")
    assert(readData(fresh, "part-0") == "hot")
    assert(ArtifactStore.isCurrent(served, "fp-srv") &&
      readData(served, "part-0") == "srv",
      "an aged but live-marked base must be kept — probes don't write")
    // a second sweep re-reports NOTHING: the already-swept base is a
    // lock-only husk (no data files) and must not be counted removed
    // again on every run (ADVICE r10)
    val again = ArtifactStore.gc(ttlMillis = 1_000_000L, root = root,
      live = _.endsWith("served_corpus"))
    assert(again.isEmpty, s"second sweep re-reported $again")
    // the swept base rebuilds cleanly on next touch
    assert(ArtifactStore.ensure(stale, "fp-new")(writeData(_, "part-0", "new")))
    assert(readData(stale, "part-0") == "new")
  }

  test("gc: blocks on a concurrent builder's lock and keeps the fresh result") {
    // the sweep takes each base's own lock, so it can never observe a
    // mid-build file set: racing a slow build, gc must BLOCK until the
    // publish completes, then judge the freshly-published (young) base
    // as live — even with a TTL small enough that the pre-build dir
    // state would have been swept
    val root = Files.createTempDirectory("graft-gc-race").toString
    val base = Paths.get(root, "ivf-index", "racing_corpus").toString
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

  test("mutate: in-place append over the exact expected fingerprint only") {
    val base = freshBase()
    ArtifactStore.ensure(base, "fp-A") { staging =>
      writeData(staging, "cell=0/part-0", "a0")
    }
    // wrong expectation → refused, caller falls back to full build
    assert(!ArtifactStore.mutate(base, "fp-STALE", "fp-B") { _ =>
      fail("append must not run over a mismatched fingerprint")
    })
    // matching expectation → append lands, marker re-covers the union
    assert(ArtifactStore.mutate(base, "fp-A", "fp-AB") { live =>
      writeData(live, "cell=1/part-0", "b0")
    })
    assert(readData(base, "cell=0/part-0") == "a0")
    assert(readData(base, "cell=1/part-0") == "b0")
    // the new marker validates: a reuse under the union fingerprint
    // does not rebuild, and the pre-append fingerprint is gone for good
    assert(!ArtifactStore.ensure(base, "fp-AB") { _ => fail("must reuse") })
    assert(!ArtifactStore.mutate(base, "fp-A", "fp-X")(_ => fail("stale")))
    // a crash mid-append leaves the artifact unmarked → full rebuild
    intercept[RuntimeException] {
      ArtifactStore.mutate(base, "fp-AB", "fp-ABC") { live =>
        writeData(live, "cell=2/part-0", "half")
        throw new RuntimeException("append died")
      }
    }
    assert(!Files.exists(Paths.get(base, "_FINGERPRINT")))
    assert(ArtifactStore.ensure(base, "fp-ABC") { staging =>
      writeData(staging, "cell=0/part-0", "rebuilt")
    })
  }

  test("validated path cache: a retrain or sweep under a cached path is observed on the next read") {
    // the serving paths memoize corpus→base per JVM; a bare path memo
    // kept serving the old generation after ANOTHER process retrained
    // or gc-swept the base (VERDICT r11 #3). The cache must store the
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
    Files.delete(Paths.get(base, "_FINGERPRINT"))
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

  test("non-local artifact roots fail loudly; file: URIs decode to the local path") {
    // the publish protocol is advisory locks + atomic rename — absent
    // on HDFS/object stores. A non-local root must fail at first touch
    // instead of Paths.get() silently mangling "hdfs://nn/x" into a
    // RELATIVE local dir and publishing artifacts nobody asked for.
    // both the authority form and the single-slash hierarchical form
    // ("hdfs:/nn/x" is a valid HDFS URI too — ADVICE r11)
    for (bad <- Seq("hdfs://nn:9000/graft", "s3a://bucket/graft",
        "hdfs:/nn/graft", "s3a:/bucket/graft"))
      intercept[IllegalArgumentException](
        ArtifactStore.requireLocalRoot(bad))
    // a bare colon in a RELATIVE local path is not a remote scheme —
    // URI parsing calls "artifacts:v2" scheme "artifacts", but only
    // authority-style roots (scheme://) are actually remote
    assert(ArtifactStore.requireLocalRoot("artifacts:v2/store")
      == "artifacts:v2/store")
    intercept[IllegalArgumentException](
      ArtifactStore.gc(1000L, _ => true, root = "hdfs://nn:9000/graft"))
    // a file:-scheme root is legitimately local: it must decode to the
    // plain path (root handling cannot assume a bare path string) and
    // carry a full publish round-trip + gc view of the same store
    val dir = Files.createTempDirectory("graft-file-uri")
    val local = ArtifactStore.requireLocalRoot(s"file://$dir")
    assert(local == dir.toString, s"file: URI decoded to $local")
    val base = Paths.get(local, "ivf-index", "file_uri_corpus").toString
    assert(ArtifactStore.ensure(base, "fp-uri")(writeData(_, "part-0", "x")))
    assert(ArtifactStore.isCurrent(base, "fp-uri"))
    assert(readData(base, "part-0") == "x")
    assert(ArtifactStore.gc(ttlMillis = 1_000_000_000L, live = _ => false,
        root = s"file://$dir").isEmpty,
      "a young base swept through the file: root view")
  }
}
