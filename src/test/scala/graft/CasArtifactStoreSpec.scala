package graft

import java.util.concurrent.atomic.AtomicBoolean

/** [[ArtifactPublishContract]] and [[TokenLockContract]] on the
  * [[graft.io.CasFs]] object-store binding — the third deployment
  * posture (S3-class: conditional writes, no rename): atomic stale
  * takeover, renewal-proves-ownership and the owner-token fence, with
  * rename degraded to copy+delete. */
class CasArtifactStoreSpec
    extends ArtifactPublishContract with TokenLockContract {
  protected val binding: TokenBinding = CasBinding

  /** This suite's established names for the contract tests, kept so
    * its test ids stay stable. Two of them name a merged pair: the
    * name stays on the first half, and the publish-crash and gc halves
    * run as the contract's restoreAside and gc tests. */
  override protected def titles: Map[String, String] = Map(
    "racing first-touchers: one build wins, the loser reuses it" ->
      "racing first-touchers through CAS: one build wins",
    "manifest validation: pruned, truncated and extra files all invalidate" ->
      "manifest validation catches pruned and extra files through CAS reads",
    "a crashed rebuild or rewrite leaves the PREVIOUS artifact intact and valid" ->
      "crashed rebuild/rewrite leaves the old artifact valid; publish crash rolls back through copy+delete",
    "mutate: in-place append over the exact expected fingerprint only" ->
      "mutate appends over the exact fingerprint; a crashed append unmarks",
    "ensureIncremental: one lock window, post-condition holds from any start" ->
      "ensureIncremental and gc run through the CAS binding",
    "publish, reuse and release: the lock object is deleted on release" ->
      "publish, reuse and release through conditional writes",
    "the lock blocks while held and a stale abandoned lock is broken" ->
      "a fresh foreign lock blocks; a stale one is taken over by CAS",
    "a LIVE holder's lock is renewed past the stale TTL, never broken" ->
      "a LIVE holder renews by CAS past the TTL and is never displaced",
    "lock stress: N simulated processes, tiny TTL, mutual exclusion holds" ->
      "lock stress: 8 processes, tiny TTL, CAS mutual exclusion holds",
    "a displaced holder's publish is FENCED: rejected at the marker write" ->
      "a displaced holder's publish is FENCED on the CAS binding too",
    "lock-health counters: stale break, displacement, reclaim, fence rejection" ->
      "CAS lock-health counters: stale takeover, displacement, fence")

  test("a putIfAbsent applied server-side with a LOST response is adopted") {
    // the S3 failure mode: the conditional PUT lands, the HTTP
    // response does not. The retried create then fails on our OWN
    // lock — without adoption the acquirer would wait out its own
    // 15-minute stale TTL; instead it reads the owner, recognizes its
    // token and adopts.
    val dropOnce = new AtomicBoolean(true)
    val fs = new graft.io.CasFs(
      new ForwardingObjectStore(GraftCasStore.client) {
        override def putIfAbsent(key: String,
            b: Array[Byte]): Option[String] = {
          val r = super.putIfAbsent(key, b) // APPLIES on the server...
          if (key.endsWith("/.lock") && r.isDefined &&
              dropOnce.compareAndSet(true, false))
            throw new java.io.IOException("response lost") // ...then drops
          r
        }
      })
    val base = binding.freshBase()
    val t0 = System.currentTimeMillis()
    val ran = fs.lock(base) { true } // default TTL is 15 min: adoption
    // must make this instant, not TTL-bound
    assert(ran && System.currentTimeMillis() - t0 < 30_000,
      "a lost create response must be adopted, not waited out")
    assert(binding.readLock(base).isEmpty,
      "the adopted lock must release normally")
  }
}
