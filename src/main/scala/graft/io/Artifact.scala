package graft.io

import java.util.concurrent.atomic.AtomicInteger

/** One persisted artifact KIND (`"ivf-index"`, `"bm25-tomb"`, …): the
  * whole "recompute only when absent, else read back" lifecycle of
  * the reference's node outputs (`R/DataFrameOperationR.R:96-204`),
  * written once for every kind.
  *
  * Memo contract: a per-JVM memo maps corpus dir → artifact base. The
  * first toucher FINGERPRINTS the corpus (one cheap scan, the caller's
  * fingerprint parts) and compares it against the marker stored with
  * the artifact: on a match the on-disk artifact is reused with NO
  * build — this is how one build serves every process (bench, verify
  * and driver runs all share it), while a regenerated corpus under the
  * same path can never serve a stale artifact to a FRESH JVM (the
  * content fingerprint moves with the data, unlike an mtime). Later
  * touches in the same JVM skip the fingerprint scan: the memo holds
  * the `(base, fingerprint)` pair as validated and re-checks only the
  * marker per read ([[ValidatedPathCache]] — file ops, no Spark job),
  * so a retrain, append or gc sweep by ANOTHER process is observed on
  * the next read. What the memo does not observe is a corpus
  * regenerated UNDER a long-lived JVM (and, pathologically, two dirs
  * whose slug sanitization collides — `/tmp/a/b` vs `/tmp/a_b`): that
  * keeps serving the artifact of the corpus it last fingerprinted
  * until restart or [[forget]] — the documented trade every serving
  * process makes (re-fingerprinting per probe would re-scan the corpus
  * per query). On a mismatch the build runs through
  * [[ArtifactStore]] — exclusive cross-process lock, staged build,
  * atomic rename, manifest-validated marker written last — so
  * concurrent first-touching JVMs serialize (one builds, the others
  * reuse) and a reader never observes a partial or pruned file set as
  * current.
  *
  * Fingerprints are passed as PARTS `(count, xor-of-row-hashes)`
  * ([[ArtifactStore.partsWhere]]), by name: they are computed only on
  * a memo miss, and the handle renders them
  * ([[ArtifactStore.fingerprint]]) and derives the composite ones —
  * `fp(A ∪ B) = (nA + nB, xA ^ xB)` for disjoint sides, and the
  * post-delete `(n − dn, x ^ dx)` — in one place.
  *
  * [[builds]] counts full staged builds and [[appends]] in-place
  * mutations (an incremental batch append or an applied delete) that
  * THIS JVM ran — what the specs pin as "built at most once per corpus
  * fingerprint". */
final class Artifact private (val kind: String) {

  private val memo = new ValidatedPathCache()

  val builds = new AtomicInteger
  val appends = new AtomicInteger

  /** Forget the per-JVM memo (NOT the on-disk artifacts) — the next
    * resolve is what another JVM's first touch does. */
  def forget(): Unit = memo.clear()

  /** `root/<kind>/<corpus-dir-slug>`. */
  def base(dir: String): String = ArtifactStore.artifactPath(kind, dir)

  /** The artifact for `dir`, built into a staging dir by `build` when
    * absent or not at `parts`' fingerprint. */
  def ensure(dir: String)(parts: => (Long, Long))(
      build: String => Unit): String =
    resolve(dir) { b =>
      val (n, x) = parts
      if (ArtifactStore.ensure(b, ArtifactStore.fingerprint(n, x))(build))
        builds.incrementAndGet()
    }

  /** An incrementally maintained artifact
    * ([[ArtifactStore.ensureIncremental]]): at the union fingerprint →
    * nothing; at `baseParts` → `append` the batch in place; otherwise
    * `build` the base side, then append. The batch side is disjoint
    * from the base side, so the union is derived, never scanned. */
  def ensureIncremental(dir: String)(baseParts: => (Long, Long),
      batchParts: => (Long, Long))(build: String => Unit)(
      append: String => Unit): String =
    resolve(dir) { b =>
      val (nA, xA) = baseParts
      val (nB, xB) = batchParts
      val (built, appended) = ArtifactStore.ensureIncremental(b,
        ArtifactStore.fingerprint(nA, xA),
        ArtifactStore.fingerprint(nA + nB, xA ^ xB))(build)(append)
      if (built) builds.incrementAndGet()
      if (appended) appends.incrementAndGet()
    }

  /** The build-then-delete two-state machine of the batch delete
    * artifacts: at the post-delete fingerprint → serve; at the
    * full-corpus fingerprint (a fresh build, or a crash between build
    * and delete) → apply the deletes; anything else → build at the
    * full fingerprint, then apply. `delParts` are the parts of the
    * delete set (a subset of the full side); `applyDel(base)` runs the
    * family's delete and returns the members it removed — it is
    * idempotent through its own fingerprint check, so a lost race here
    * self-resolves. */
  def ensureDeleted(dir: String)(fullParts: => (Long, Long),
      delParts: => (Long, Long))(build: String => Unit)(
      applyDel: String => Long): String =
    resolve(dir) { b =>
      val (n, x) = fullParts
      val (dn, dx) = delParts
      val fpFull = ArtifactStore.fingerprint(n, x)
      val fpLive = ArtifactStore.fingerprint(n - dn, x ^ dx)
      if (!ArtifactStore.isCurrent(b, fpLive)) {
        if (ArtifactStore.ensure(b, fpFull)(build)) builds.incrementAndGet()
        if (fpLive != fpFull && applyDel(b) > 0) appends.incrementAndGet()
      }
    }

  private def resolve(dir: String)(refresh: String => Unit): String =
    memo.get(dir) {
      val b = base(dir)
      refresh(b)
      b
    }
}

object Artifact {
  def apply(kind: String): Artifact = new Artifact(kind)
}
