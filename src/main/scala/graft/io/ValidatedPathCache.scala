package graft.io

/** Per-JVM memo of a VALIDATED artifact resolution.
  *
  * The serving paths memoize "corpus dir → artifact base" so repeat
  * queries skip the ensure round (corpus fingerprint scan + lock).
  * A bare path memo goes stale the moment ANOTHER process moves the
  * artifact under it — a gate retrain, a nightly append, a gc sweep:
  * the first-touch JVM would keep serving the old generation's path
  * with no signal until restart (VERDICT r11 #3, the documented
  * "first-touch-per-JVM staleness").
  *
  * This cache therefore stores the `(base, fingerprint)` pair AS
  * VALIDATED and re-checks the marker on every read
  * ([[ArtifactStore.currentFingerprintUnlocked]] — a LOCK-FREE manifest
  * walk, file ops only, no Spark job, no corpus scan: taking the publish
  * lock here would block every cached reader behind a concurrent
  * rebuild's whole training body, during which the old artifact is
  * valid and serving by design; a racing rename can only produce a
  * false negative, which falls through to the locking refresh). A
  * mismatch drops the entry and re-runs the caller's `refresh` (its
  * normal ensure round), which revalidates against — or rebuilds
  * to — the current corpus. The fast path costs one stat per
  * manifest file per QUERY (not per row) — O(part files), so a
  * heavily-fragmented streamed artifact pays more until compaction,
  * still driver-side milliseconds; the slow path runs exactly when
  * the artifact actually moved.
  *
  * The resolution is the artifact base path itself; it must still
  * carry the fingerprint it had when cached. [[Artifact]] holds one
  * per artifact kind.
  *
  * Size-bounded (LRU): the keyspace is "corpus dirs ever queried",
  * which in a long-lived multi-tenant serving JVM grows forever
  * (VERDICT r13 #6); eviction costs the evictee one refresh round on
  * its next query, never correctness. */
final class ValidatedPathCache(maxEntries: Int = 1024) {

  private val m = new BoundedMemo[(String, String)](maxEntries)

  /** Forget the memo (NOT the on-disk artifacts). */
  def clear(): Unit = m.clear()

  /** The validated base for `key`, re-running `refresh` when absent or
    * when the artifact no longer carries the fingerprint it was cached
    * with. Two racing threads may both refresh (the artifact lock
    * below serializes any actual build); last-put wins, and both get a
    * correct value. A refresh whose artifact does not validate
    * afterwards (e.g. a concurrent writer mid-flight) is returned but
    * NOT cached — the next read retries. The refresh's own ensure round
    * is the only lock window a cold resolve takes: the post-refresh
    * read is the same lock-free validation as the fast path. */
  def get(key: String)(refresh: => String): String = {
    m.get(key) match {
      case Some((b, fp))
          if ArtifactStore.currentFingerprintUnlocked(b).contains(fp) => b
      case _ =>
        val b = refresh
        ArtifactStore.currentFingerprintUnlocked(b) match {
          case Some(fp) => m.put(key, (b, fp))
          case None => m.remove(key)
        }
        b
    }
  }
}
