package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.io.ArtifactStore

/** [[ArtifactPublishContract]] on the POSIX binding, plus what only
  * POSIX has: the artifact-root default, the kernel `FileChannel` lock
  * across real processes, and the refusal of non-local roots. */
class ArtifactStoreSpec extends ArtifactPublishContract {
  protected val binding: StorageBinding = PosixBinding
  import binding.{freshBase, readData, writeData}

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
