package graft.io

import java.nio.charset.StandardCharsets.UTF_8

/** One object read back whole: body + the store's entity tag for it +
  * last-modified millis. The etag is the CAS handle — any mutation of
  * the object changes it. */
final case class ObjectBlob(body: Array[Byte], etag: String,
    mtimeMillis: Long)

/** HEAD-shaped metadata: everything [[ObjectBlob]] carries except the
  * body. Existence probes over multi-GB data objects must not
  * download them (review-caught: isFile/rename probes were full
  * GETs — O(data) driver network and a single Array[Byte] per check). */
final case class ObjectStat(etag: String, size: Long, mtimeMillis: Long)

/** The object-store primitives [[CasFs]] is written against — the
  * surface S3 (conditional writes, GA since 2024), GCS (generation
  * preconditions) and ABFS (etag If-Match) all offer natively. A
  * deployment binds its SDK client once
  * ([[ArtifactStore.registerObjectStore]]); this library never links
  * an SDK itself (zero added dependencies).
  *
  * Contract notes, load-bearing for the publish protocol:
  *  - keys are the full backend-native URI strings the store hands
  *    out (`s3://bucket/root/kind/corpus/...`) — the client owns its
  *    own addressing, exactly like [[HadoopFs]]'s paths;
  *  - `put*` are atomic PER OBJECT: a reader sees the whole old body
  *    or the whole new body, never a torn one (true of S3/GCS PUT);
  *  - `putIfAbsent` / `putIfMatch` are the conditional writes
  *    (`If-None-Match: *` / `If-Match: <etag>`): exactly one of any
  *    set of racing conditional puts succeeds — the mutex and the
  *    stale-takeover both reduce to this;
  *  - there is deliberately NO rename: object stores do not have one.
  *    [[CasFs.rename]] composes copy + delete and the protocol's
  *    crash-safety is re-derived to never depend on its atomicity
  *    (see [[CasFs]]).
  */
trait ObjectStoreClient {
  /** The object at `key`, or None when absent. */
  def get(key: String): Option[ObjectBlob]
  /** Metadata only (HEAD), or None when absent. The default derives
    * from [[get]] for trivial clients; any real S3/GCS binding should
    * override with the SDK's HEAD — [[CasFs]] routes every existence
    * probe here, and data objects are large. */
  def stat(key: String): Option[ObjectStat] =
    get(key).map(b => ObjectStat(b.etag, b.body.length.toLong,
      b.mtimeMillis))
  /** Every object whose key starts with `prefix`:
    * (key, size, mtimeMillis). */
  def list(prefix: String): Seq[(String, Long, Long)]
  /** At most `max` objects under `prefix` — the existence probes
    * [[CasFs.isDir]]/[[CasFs.exists]] run per staged child per
    * publish, and paging a FULL listing to test non-emptiness is
    * O(objects-under-prefix) per probe (review-caught). Real bindings
    * override with the store's own limit (S3 `max-keys`, GCS
    * `maxResults`); the default suffices only for trivial clients. */
  def listSome(prefix: String, max: Int): Seq[(String, Long, Long)] =
    list(prefix).take(max)
  /** Unconditional put (atomic per object). Returns the new etag. */
  def put(key: String, body: Array[Byte]): String
  /** Put iff the key is ABSENT (`If-None-Match: *`). Returns the new
    * etag, or None when an object already exists. */
  def putIfAbsent(key: String, body: Array[Byte]): Option[String]
  /** Put iff the current etag matches (`If-Match`). Returns the new
    * etag, or None when the object changed or vanished. */
  def putIfMatch(key: String, body: Array[Byte],
      etag: String): Option[String]
  /** Idempotent delete. */
  def delete(key: String): Unit
  /** Server-side copy (atomic per destination object). */
  def copy(srcKey: String, dstKey: String): Unit
}

/** The object-store (S3-class) [[ArtifactFs]] binding — the third and
  * last deployment posture, for stores with NO rename and NO
  * hierarchical namespace but WITH conditional writes. The protocol
  * core ([[ArtifactStore]]) runs unchanged; what this binding
  * re-derives is the two coordination primitives:
  *
  *  - '''mutex''': `putIfAbsent` of `base/.lock` carrying the owner
  *    token — genuinely atomic on the server (unlike weak-create
  *    filesystems, where [[HadoopFs]] needs the settle + read-back
  *    dance), so acquisition is one conditional request. A stale lock
  *    (dead holder; live ones renew via `putIfMatch` on their own
  *    etag) is taken over by `putIfMatch` AGAINST THE OBSERVED STALE
  *    ETAG — an atomic compare-and-swap, which CLOSES the takeover
  *    race the rename-based break could only bound: two waiters CAS
  *    on the same stale etag and the store guarantees at most one
  *    wins; a holder that renewed concurrently changed the etag and
  *    both lose. Displacement of a live holder therefore requires an
  *    actual TTL expiry (a wedged JVM), and even then the displaced
  *    holder's publish is rejected by the owner-token fence
  *    ([[verifyHeld]]), same as [[HadoopFs]].
  *  - '''rename''': copy + delete, NOT atomic and O(data). The
  *    protocol survives because no rename's atomicity is load-bearing
  *    given per-object-atomic puts and manifest validation: staging →
  *    base and base → aside renames all happen inside the marker-down
  *    window, so a crash mid-copy leaves a marker-less base whose
  *    stray/missing files fail validation (rebuild) or restore from
  *    the aside ([[ArtifactStore.restoreAside]] — copy-then-delete
  *    means every byte still exists in at least one of the two
  *    places); the marker itself never moves through rename here —
  *    [[writeAtomic]] is a conditional put and [[writeAtomicReplace]]
  *    an unconditional one, both atomic per object. The O(data) cost
  *    is confined to publishes (train-once artifacts) and compactions
  *    — the same copy cost every S3 committer and lakehouse OPTIMIZE
  *    pays.
  *
  * `replaceIsAtomic` is true: S3-class PUT replaces whole objects
  * atomically, so the generation pointer (`CURRENT`) and streaming
  * replay mark (`stream_state`) are safe here — no absence window.
  *
  * "Directories" are key prefixes: a dir exists iff some object lives
  * under `prefix + "/"`, and an EMPTY dir exists only as the `.dir`
  * marker object [[mkdirs]] writes (hidden from listings and Spark).
  */
private[graft] final class CasFs(client: ObjectStoreClient)
    extends ArtifactFs {

  private val LockName = ".lock"

  private[io] val monitors = new KeyedMonitors

  /** Lock-health counters (VERDICT r13 #7). */
  val stats = new LockStats

  def join(p: String, child: String): String =
    if (p.endsWith("/")) p + child else s"$p/$child"

  /** An EMPTY directory exists on a flat store only as a zero-byte
    * marker object (the standard S3 console/Hadoop-S3A idiom) — and
    * the protocol genuinely needs one: a compaction stages an EMPTY
    * `tombstones` child to clear the live tombstone set, and a
    * marker-less no-op `mkdirs` made that staged child invisible to
    * the publish (caught by `IndexLifecycleContract` on CAS — the
    * tombstones survived compaction). The marker is dot-prefixed so
    * Spark's hidden-file filter skips it inside parquet table dirs, and
    * [[childNames]]/[[filesUnder]] hide it from listings — manifests
    * stay byte-identical in shape across bindings — while any key
    * under the prefix (marker included) keeps [[isDir]] true. */
  def mkdirs(p: String): Unit = {
    client.putIfAbsent(join(p, CasFs.DirMarker), Array.emptyByteArray)
    ()
  }

  def isFile(p: String): Boolean = client.stat(p).isDefined
  def isDir(p: String): Boolean = client.listSome(p + "/", 1).nonEmpty
  def exists(p: String): Boolean = isFile(p) || isDir(p)

  def childNames(p: String): Seq[String] = {
    val prefix = p + "/"
    client.list(prefix).map(_._1.stripPrefix(prefix))
      .map(rel => rel.takeWhile(_ != '/'))
      .filter(_ != CasFs.DirMarker) // this dir's own emptiness marker
      .distinct
  }

  def filesUnder(p: String): Seq[(String, Long, Long)] = {
    val prefix = p + "/"
    client.list(prefix).collect {
      case (k, sz, mt) if !k.endsWith("/" + CasFs.DirMarker) =>
        (k.stripPrefix(prefix), sz, mt)
    }
  }

  def read(p: String): String = client.get(p) match {
    case Some(blob) => new String(blob.body, UTF_8)
    case None => throw new java.io.FileNotFoundException(p)
  }

  /** Conditional put — atomic, and stricter than the contract asks:
    * a concurrent writer that somehow slipped past the lock fails
    * HERE instead of last-write-winning (a second CAS fence under the
    * owner-token one). */
  def writeAtomic(p: String, body: String): Unit =
    if (client.putIfAbsent(p, body.getBytes(UTF_8)).isEmpty)
      throw new java.io.IOException(
        s"conditional put lost: $p already exists — a concurrent " +
          "writer slipped past the lock")

  /** Unconditional put — atomic per object on S3-class stores: a
    * reader sees the whole old or whole new body, never torn. */
  def writeAtomicReplace(p: String, body: String): Unit = {
    client.put(p, body.getBytes(UTF_8)); ()
  }

  /** Copy + delete (object stores have no rename). NOT atomic — see
    * the class scaladoc for why no caller depends on it being so; the
    * destination-absent contract still holds (checked), and sources
    * are deleted only after EVERY copy landed, so a crash at any
    * instant leaves each byte in at least one of the two places. */
  def rename(src: String, dst: String): Unit = {
    require(!exists(dst), s"rename destination exists: $dst")
    val isObj = client.stat(src).isDefined
    if (isObj) {
      client.copy(src, dst)
      client.delete(src)
    } else {
      val prefix = src + "/"
      val keys = client.list(prefix).map(_._1)
      keys.foreach(k => client.copy(k, dst + "/" + k.stripPrefix(prefix)))
      keys.foreach(client.delete)
    }
  }

  def delete(p: String): Unit = {
    client.delete(p)
    client.list(p + "/").foreach { case (k, _, _) => client.delete(k) }
  }

  /** Holds this JVM currently owns, by base — the shared owner-token
    * machinery ([[TokenHold]]) parameterized with CAS primitives:
    * every renewal is a `putIfMatch` on our own last etag, so renewal
    * IS the ownership proof. */
  private val heldLocks =
    new java.util.concurrent.ConcurrentHashMap[String, TokenHold]()

  /** The publish fence — see [[TokenHold.verify]]. */
  override def verifyHeld(base: String): Unit =
    TokenHold.fence(heldLocks, base, stats)

  /** Conditional-write mutex. Acquisition: one `putIfAbsent`; no
    * settle pause, no read-back — the server arbitrates. Stale break:
    * `putIfMatch` on the observed stale etag — at most one taker, and
    * a concurrent renewal defeats the break (the CAS form of "never
    * delete a fresh lock"). Heartbeat: `putIfMatch` on our own last
    * etag, so each renewal also PROVES continued ownership — a
    * renewal that loses its CAS is a displacement, poisoning the
    * fence exactly like [[HadoopFs]]'s foreign-token observation. */
  def lock[A](base: String)(body: => A): A = {
    val lockKey = join(base, LockName)
    val token = s"${java.util.UUID.randomUUID}"
    monitors.withMonitor(base) {
      var acquiredEtag: Option[String] = None
      var ioFailures = 0
      while (acquiredEtag.isEmpty) {
        // transient request failures retry (a throttled conditional
        // PUT must not abort a streaming commit — review-caught,
        // HadoopFs-parity); N consecutive failures surface as a real
        // error (credentials, connectivity) instead of spinning
        try {
          acquiredEtag = client.putIfAbsent(lockKey, token.getBytes(UTF_8))
          if (acquiredEtag.isEmpty) {
            client.get(lockKey).foreach { blob =>
              if (new String(blob.body, UTF_8) == token) {
                // our own token: a previous putIfAbsent APPLIED on the
                // server but its response was lost (the retried create
                // then fails on our own lock) — adopt it instead of
                // waiting out our own stale TTL (review-caught)
                acquiredEtag = Some(blob.etag)
              } else if (System.currentTimeMillis() - blob.mtimeMillis
                  > CasFs.LockStaleMs) {
                acquiredEtag =
                  client.putIfMatch(lockKey, token.getBytes(UTF_8), blob.etag)
                if (acquiredEtag.isDefined)
                  stats.staleBreaks.incrementAndGet()
              }
            }
          }
          ioFailures = 0
        } catch {
          case e: java.io.IOException =>
            ioFailures += 1
            if (ioFailures >= 3) throw e
        }
        if (acquiredEtag.isEmpty) Thread.sleep(50)
      }
      // the shared owner-token hold ([[TokenHold]]) with CAS
      // primitives: renew = putIfMatch on our own last etag (renewal
      // IS the ownership proof — a lost CAS is a displacement);
      // recreate after a vanish = putIfAbsent (does not unpoison)
      val etagRef = new java.util.concurrent.atomic.AtomicReference[String](
        acquiredEtag.get)
      val hold = new TokenHold(lockKey, token, stats, CasFs.LockStaleMs,
        readOwner = () =>
          try Right(client.get(lockKey).map(b => new String(b.body, UTF_8)))
          catch { case e: java.io.IOException => Left(e) },
        renewOnce = () =>
          client.putIfMatch(lockKey, token.getBytes(UTF_8),
              etagRef.get) match {
            case Some(newEtag) => etagRef.set(newEtag); TokenHold.Renewed
            case None => TokenHold.Lost(
              client.get(lockKey).map(b => new String(b.body, UTF_8)))
          },
        recreate = () =>
          try client.putIfAbsent(lockKey, token.getBytes(UTF_8))
            .foreach(etagRef.set)
          catch { case _: java.io.IOException => () },
        deleteLock = () => client.delete(lockKey))
      heldLocks.put(base, hold)
      hold.start()
      try body finally {
        heldLocks.remove(base, hold)
        hold.stop()
      }
    }
  }
}

private[graft] object CasFs {
  /** Dead-holder expiry for the conditional-write lock; live holders
    * renew (and re-prove ownership) every third of this. Volatile
    * test hook, exactly like [[HadoopFs.LockStaleMs]]. */
  @volatile private[graft] var LockStaleMs: Long = 15L * 60 * 1000

  /** Empty-directory marker object name (see [[CasFs.mkdirs]]). Dot-
    * prefixed: Spark's hidden-file filter must skip it in table dirs. */
  private[io] val DirMarker = ".dir"
}
