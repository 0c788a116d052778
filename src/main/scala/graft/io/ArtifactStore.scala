package graft.io

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{bit_xor, col, count, when}

/** Shared-artifact publication: the "train once, probe many" contract
  * behind the persisted IVF and BM25 indexes. A 100 TB pipeline builds
  * an index in one job and serves it to every later job — which means
  * several JVMs (the driver's verify and bench runs, a concurrent
  * notebook) can first-touch the same artifact at once, and a reader
  * must never observe a half-published file set. The reference's whole
  * execution model is exactly this persisted-node-output reuse
  * (`/root/reference/R/DataFrameOperationR.R:124-197` — a node's output
  * dir is recomputed only when absent, else read back), minus the
  * concurrency story this object adds.
  *
  * Mechanism (per artifact base dir):
  *
  *  - '''exclusive lock''' — backend-provided ([[ArtifactFs.lock]]):
  *    an advisory `FileLock` on `base/.lock` for POSIX bases, an
  *    exclusive-create lock file with stale-expiry for HDFS-class
  *    bases; a per-path monitor serializes threads of one JVM either
  *    way.
  *  - '''staged build + atomic rename''' — `build` writes into
  *    `base/.tmp-<uuid>/…`; each child is then renamed into place
  *    (atomic: same-volume `ATOMIC_MOVE` on POSIX, a namenode
  *    metadata op on HDFS). A crashed build leaves only a `.tmp-*`
  *    orphan, reaped on the next build.
  *  - '''marker last, marker briefly absent''' — the build/rewrite
  *    body runs entirely against staging while the PREVIOUS artifact
  *    stays marked, intact and serving; `_FINGERPRINT` is deleted only
  *    for the short sweep + rename window and (re)written only after
  *    the full file set is in place. A crash inside a long body (Spark
  *    training jobs) therefore costs nothing but a staging orphan; a
  *    crash inside the publish window leaves a marker-less
  *    (= rebuild-on-next-touch) dir — never a marked partial set.
  *    (Appends are the exception: [[mutate]] writes into the live
  *    base, so it invalidates FIRST — its window is one small batch.)
  *  - '''manifest validation''' — the marker records every data file's
  *    relative path and size; reuse requires the on-disk file set to
  *    match EXACTLY (a tmp-reaper pruning part-files under a
  *    partitioned dir, or a clobbered write adding extras, is detected
  *    and triggers a rebuild instead of a silently short/long read).
  *
  * The protocol body is written ONCE against [[ArtifactFs]] and bound
  * per base: bare paths and `file:` URIs run on [[PosixFs]]; a scheme
  * registered via [[registerHadoopFs]] runs on [[HadoopFs]] (HDFS-class
  * stores); one registered via [[registerObjectStore]] runs on
  * [[CasFs]] (S3-class stores — where most 100 TB corpora actually
  * live, coordinated by conditional writes instead of renames).
  * Unregistered remote schemes still fail loudly at first touch (see
  * [[requireLocalRoot]]) — accepting `hdfs://` without a configured
  * FileSystem would just trade the silent-mangled-path failure for an
  * obscure connection hang.
  *
  * The artifact root is `$GRAFT_ARTIFACT_DIR` when set, else
  * `java.io.tmpdir/graft-artifacts-<user>` — user-scoped so a shared
  * /tmp on a multi-user box neither collides nor serves another user's
  * writable files ([[graft.GraftConfig.EnvArtifactDir]] documents the
  * knob; on a cluster it points at a durable shared filesystem).
  */
object ArtifactStore {

  /** Marker file name: first line the content fingerprint, each
    * following line `<size>\t<relative-path>` — the manifest. */
  private val MarkerName = "_FINGERPRINT"
  private val LockName = ".lock"

  private[graft] def artifactRoot(env: Map[String, String] = sys.env): String =
    env.getOrElse(graft.GraftConfig.EnvArtifactDir, {
      val user = env.getOrElse("USER",
        sys.props.getOrElse("user.name", "anon"))
      Paths.get(sys.props("java.io.tmpdir"),
        s"graft-artifacts-${user.replaceAll("[^A-Za-z0-9._-]", "_")}").toString
    })

  /** Registered remote backends by URI scheme: a deployment whose
    * artifacts live on HDFS hands the store its CONFIGURED FileSystem
    * once at startup (`registerHadoopFs("hdfs", FileSystem.get(conf))`);
    * one whose artifacts live on an object store hands it a thin
    * [[ObjectStoreClient]] over its SDK
    * (`registerObjectStore("s3", client)`) — core-site resolution,
    * kerberos, credentials and the rest stay with the caller. Bases
    * under a registered scheme run the same protocol core on
    * [[HadoopFs]] / [[CasFs]]; everything else resolves through
    * [[requireLocalRoot]] exactly as before. */
  private val remoteBackends =
    new java.util.concurrent.ConcurrentHashMap[String, ArtifactFs]()

  /** @param atomicCreate pass true when this FileSystem's exclusive
    *        create is genuinely atomic (HDFS namenode) — the lock then
    *        skips its per-acquisition settle pause; leave false for
    *        check-then-create implementations (see [[HadoopFs]]). */
  def registerHadoopFs(scheme: String,
      fs: org.apache.hadoop.fs.FileSystem,
      atomicCreate: Boolean = false): Unit =
    registerBackend(scheme, new HadoopFs(fs, atomicCreate))

  /** Bind an object store (S3-class: no rename, conditional writes)
    * for `scheme`. The store's publish protocol then coordinates via
    * conditional puts ([[CasFs]]) — the lock, the stale takeover and
    * the marker swap are all server-arbitrated CAS operations. */
  def registerObjectStore(scheme: String,
      client: ObjectStoreClient): Unit =
    registerBackend(scheme, new CasFs(client))

  private[graft] def registerBackend(scheme: String, fs: ArtifactFs): Unit = {
    require(scheme != null && scheme.nonEmpty && scheme != "file",
      s"register a remote scheme, not '$scheme' — local bases already " +
        "run on the POSIX binding")
    remoteBackends.put(scheme, fs)
    ()
  }

  /** Resolve a base/root string to (backend, backend-native path) —
    * the dispatch every artifact-internal CONSUMER (tombstone probes,
    * stream-state reads, generation pointers, fragmentation checks)
    * shares with the publish protocol, so the whole index lifecycle
    * follows the store onto whichever filesystem the base names. */
  private[graft] def backend(p: String): (ArtifactFs, String) =
    backendFor(p)

  private def backendFor(p: String): (ArtifactFs, String) = {
    val scheme =
      try new java.net.URI(p).getScheme
      catch { case _: java.net.URISyntaxException => null }
    val registered = if (scheme == null) null else remoteBackends.get(scheme)
    if (registered != null) (registered, p)
    else (PosixFs, requireLocalRoot(p))
  }

  /** The POSIX binding REQUIRES a local filesystem: the cross-process
    * mutex is an advisory `FileChannel` lock and the staged publish
    * relies on atomic same-volume rename — neither exists on HDFS or
    * object stores (rename there is non-atomic or O(data), and
    * advisory locks are absent entirely). A non-local root without a
    * registered backend must therefore fail LOUDLY at the first touch:
    * `Paths.get("hdfs://nn/x")` would otherwise silently resolve to a
    * mangled RELATIVE local directory and the engine would "publish"
    * artifacts nobody asked for. `file:`-scheme URIs are accepted and
    * decoded to their local path — root handling must not assume a
    * bare path string. Deployments whose artifacts live on HDFS
    * register their FileSystem ([[registerHadoopFs]]) — that routes
    * those bases onto [[HadoopFs]]'s rename-based publish; object
    * stores register an [[ObjectStoreClient]]
    * ([[registerObjectStore]]) — that routes them onto [[CasFs]]'s
    * conditional-put coordination. */
  private[graft] def requireLocalRoot(root: String): String = {
    val scheme =
      try new java.net.URI(root).getScheme
      catch { case _: java.net.URISyntaxException => null }
    if (scheme == "file")
      java.nio.file.Paths.get(new java.net.URI(root)).toString
    else {
      // remote = authority-style URI ("hdfs://…", "s3a://…") OR the
      // single-slash hierarchical form ("hdfs:/nn/x" — valid HDFS URI,
      // same silent Paths.get mangling; ADVICE r11). A bare colon in a
      // RELATIVE local path ("artifacts:v2/…") parses as an OPAQUE
      // URI — getPath is null there — and must stay accepted
      // (review-caught regression guard).
      val hierarchicalRemote = scheme != null && {
        val p = try new java.net.URI(root).getPath
                catch { case _: java.net.URISyntaxException => null }
        p != null && p.startsWith("/")
      }
      require(scheme == null ||
        (!root.startsWith(s"$scheme://") && !hierarchicalRemote),
        s"ArtifactStore requires a local POSIX filesystem (advisory " +
          s"locks + atomic rename) unless the scheme is registered via " +
          s"registerHadoopFs; got scheme '$scheme' in '$root'. " +
          s"Point ${graft.GraftConfig.EnvArtifactDir} at local scratch " +
          s"or register a configured Hadoop FileSystem.")
      root
    }
  }

  /** `root/<kind>/<corpus-dir-slug>` — one artifact instance per
    * (artifact kind, corpus location). */
  def artifactPath(kind: String, corpusDir: String): String = {
    val (fs, root) = backendFor(artifactRoot())
    fs.join(fs.join(root, kind),
      corpusDir.replaceAll("[^A-Za-z0-9._-]", "_"))
  }

  /** Every data file under `base`, as (relpath, size), sorted —
    * excluding the marker, the lock and `.tmp-*` staging orphans. */
  private def manifestOf(fs: ArtifactFs, base: String): Seq[(String, Long)] =
    fs.filesUnder(base)
      .collect { case (rel, sz, _)
        if rel != MarkerName && rel != LockName &&
          !rel.startsWith(".tmp-") => (rel, sz) }
      .sorted

  private def renderMarker(fp: String, manifest: Seq[(String, Long)]): String =
    (fp +: manifest.map { case (rel, sz) => s"$sz\t$rel" }).mkString("\n")

  /** The fingerprint the current, FULLY VALID artifact carries — None
    * when the marker is absent or the on-disk file set deviates from
    * the manifest in any way. Call under the lock. */
  private def validFingerprint(fs: ArtifactFs, base: String): Option[String] = {
    val marker = fs.join(base, MarkerName)
    if (!fs.isFile(marker)) None
    else {
      val lines = fs.read(marker).split("\n")
      val expected = lines.drop(1).toSeq.map { l =>
        val i = l.indexOf('\t')
        (l.substring(i + 1), l.substring(0, i).toLong)
      }.sorted
      if (expected == manifestOf(fs, base)) Some(lines.head.trim) else None
    }
  }

  /** Reap `.tmp-*` staging orphans left by crashed builds/rewrites. */
  private def reapStagingOrphans(fs: ArtifactFs, base: String): Unit =
    fs.childNames(base)
      .filter(_.startsWith(".tmp-"))
      .foreach(n => fs.delete(fs.join(base, n)))

  /** Recursive delete for artifact-layer callers — routed through the
    * base's registered backend, so a Hadoop-scheme base deletes on its
    * own filesystem instead of silently mangling into a local path
    * (ADVICE r13: the PosixFs-hardwired form would have). */
  private[graft] def deleteTree(p: String): Unit = {
    val (fs, b) = backendFor(p)
    fs.delete(b)
  }

  /** Publish what `build` staged: rename each staged child into place,
    * then write the marker over the resulting manifest. Caller already
    * deleted the marker and holds the lock.
    *
    * Crash-safety invariant: NOTHING is deleted before the marker is
    * written. A replaced live child is renamed ASIDE (atomic, same
    * volume) into the caller's `.tmp-old-*` dir rather than deleted,
    * and the aside dir is reaped only after the marker commits the new
    * manifest — so a death at ANY instant inside the publish window
    * leaves every byte of one complete generation on disk (old = base
    * remainder ∪ aside, new = base ∪ staging). The old delete-then-
    * move pair had a window (after delete, before move) that stranded
    * a streaming-maintained index's SOLE data copy in staging, where
    * the next build's orphan reap destroyed it (ADVICE r11). Recovery
    * of a marker-less base: corpus-backed artifacts rebuild from the
    * corpus ([[ensure]]); self-maintained ones restore via
    * [[restoreAside]] before their self-heal reads the data dirs. */
  private def publishStaged(fs: ArtifactFs, base: String, staging: String,
      fp: String, aside: String): Unit = {
    // fence at ENTRY too, not only before the marker write below: the
    // rename sweep itself is destructive — a long-displaced holder
    // reaching here after the winner's publish completed would move
    // the winner's live children aside before the final fence fires
    // (review-caught, pass 2)
    fs.verifyHeld(base)
    fs.childNames(staging).foreach { name =>
      val target = fs.join(base, name)
      moveAside(fs, aside, target)
      fs.rename(fs.join(staging, name), target)
    }
    fs.delete(staging)
    // FENCE: confirm this thread still owns the base's mutex before
    // the marker commits the manifest. A displaced holder (waiter's
    // stale-break race, operator delete) reaching this line unfenced
    // would re-manifest over BOTH writers' files and the merged
    // artifact would VALIDATE under one writer's fingerprint (ADVICE
    // r13) — rejection here leaves the base marker-less instead, and
    // the winner's publish (or the next ensure) re-marks it.
    fs.verifyHeld(base)
    writeMarker(fs, base, fp)
    fs.delete(aside)
  }

  /** Rename `target` (if it exists) into the `aside` dir — the
    * delete-free way to clear a rename destination. */
  private def moveAside(fs: ArtifactFs, aside: String, target: String): Unit =
    if (fs.exists(target)) {
      fs.mkdirs(aside)
      fs.rename(target, fs.join(aside, fs.nameOf(target)))
    }

  /** Roll a crashed publish BACK: restore every child stranded in
    * `.tmp-old-*` aside dirs over its (possibly already-swapped) base
    * child — INCLUDING the old marker, which the publish renames
    * aside rather than deletes, so after restore the OLD generation
    * is complete AND VALID again (no family-specific re-marking
    * needed; this is what makes the roll-back safe for artifacts
    * whose fingerprint cannot be recomputed from the stored rows).
    * Only meaningful on a marker-less base — a valid marker means the
    * publish completed and any aside remnant is garbage, so this is a
    * no-op then. The marker is restored LAST: a crash mid-restore
    * leaves it in the aside and the retry is idempotent. The NEW
    * generation's partial staging remains an orphan for the next
    * reap. Runs under the base lock. Returns true iff anything was
    * restored. */
  def restoreAside(base: String): Boolean = {
    val (fs, b) = backendFor(base)
    fs.lock(b)(validFingerprint(fs, b).isEmpty && restoreAsides(fs, b))
  }

  /** [[restoreAside]]'s body: the caller holds the lock and found no
    * valid marker. */
  private def restoreAsides(fs: ArtifactFs, b: String): Boolean = {
    var restored = false
    fs.childNames(b).filter(_.startsWith(".tmp-old-")).foreach { name =>
      val a = fs.join(b, name)
      val (marker, data) = fs.childNames(a).partition(_ == MarkerName)
      (data ++ marker).foreach { child =>
        // FENCED per child: the restore deletes live children and
        // finally renames an OLD VALID MARKER back — a displaced hold
        // running this loop over another holder's in-flight publish
        // could mark a mixed old/new file set (review-caught; same
        // class as the publish fence)
        fs.verifyHeld(b)
        val target = fs.join(b, child)
        fs.delete(target)
        fs.rename(fs.join(a, child), target)
        restored = true
      }
      fs.delete(a)
    }
    restored
  }

  /** The heal-or-initialize transition, decided under the ONE lock it
    * writes in: roll a crashed publish back ([[restoreAside]]), then
    * KEEP the valid artifact whatever its fingerprint — or, when none
    * validates, build one marked `fingerprint`. `fingerprint` is
    * evaluated only on the build branch and under the lock, so a
    * fingerprint computed from the base's own rows covers exactly the
    * rows the build reads, and no writer can publish between the
    * "nothing valid here" decision and the build that would sweep its
    * files. Returns the kept artifact's fingerprint, None when this call
    * built. What the initialize-only streaming bootstraps and the recall
    * gate's self-heals share ([[graft.stream.IndexIngest]]). */
  def keepOrBuild(base: String)(fingerprint: => String)(
      build: String => Unit): Option[String] = {
    val (fs, b) = backendFor(base)
    fs.lock(b) {
      val kept = validFingerprint(fs, b).orElse(
        if (restoreAsides(fs, b)) validFingerprint(fs, b) else None)
      if (kept.isEmpty) lockedBuild(fs, b, fingerprint)(build)
      kept
    }
  }

  /** Lock-free [[currentFingerprint]] for READ paths
    * ([[ValidatedPathCache]]): the same marker + manifest validation
    * without the publish lock, so a cached reader is never blocked
    * behind a concurrent rebuild's entire training body — during which
    * the OLD artifact is marked, intact and serving by design.
    * Concurrent renames can only produce a FALSE NEGATIVE (None: the
    * reader then re-runs its ensure round, which does lock); a torn
    * positive is impossible — the marker swaps atomically and
    * validation demands the on-disk set match its manifest exactly. */
  def currentFingerprintUnlocked(base: String): Option[String] = {
    val (fs, b) = backendFor(base)
    try validFingerprint(fs, b)
    catch {
      // a file deleted between the walk and its stat (mid-publish
      // rename sweep) reads as "not current", never as an error
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
        None
    }
  }

  /** The marker itself publishes atomically (write-temp + rename): a
    * reader either sees the complete old marker, no marker, or the
    * complete new one — never a torn line. */
  private def writeMarker(fs: ArtifactFs, base: String, fp: String): Unit =
    fs.writeAtomic(fs.join(base, MarkerName),
      renderMarker(fp, manifestOf(fs, base)))

  /** Is the artifact at `base` fully valid and carrying exactly
    * `fingerprint`? The fast path an incremental consumer checks before
    * deciding whether any build/append work is needed at all. */
  def isCurrent(base: String, fingerprint: String): Boolean =
    currentFingerprint(base).contains(fingerprint)

  /** The fingerprint the artifact currently carries — None when absent,
    * partially published, or failing manifest validation. A read for
    * callers that act on nothing under this base; a transition decides
    * under the lock it writes in ([[mutate]], [[keepOrBuild]]). */
  def currentFingerprint(base: String): Option[String] = {
    val (fs, b) = backendFor(base)
    fs.lock(b)(validFingerprint(fs, b))
  }

  /** The build branch of [[ensure]], caller holds the lock. A full
    * rebuild REPLACES the artifact wholesale: after `build` stages the
    * new file set, any live child the build did not stage (e.g. a
    * streaming sink's `stream_state` high-water mark from a previous
    * fingerprint's life) is deleted before publish — a rebuilt
    * artifact must not inherit state keyed to the corpus it replaced,
    * or a restarted streaming query would silently skip batches up to
    * the stale mark. ([[rewrite]] keeps non-staged children on
    * purpose; only the full rebuild sweeps.) */
  private def lockedBuild(fs: ArtifactFs, base: String, fingerprint: String)(
      build: String => Unit): Unit = {
    reapStagingOrphans(fs, base)
    val staging = fs.join(base, s".tmp-${java.util.UUID.randomUUID}")
    fs.mkdirs(staging)
    build(staging)
    // FENCE before the first destructive step: a holder displaced
    // during its long build body (the heartbeat poisons it well before
    // the body ends) must not take the live marker down or sweep the
    // winner's children — unfenced, it would tear through a completed
    // publish before the pre-writeMarker fence fired (review-caught,
    // pass 2; lockedMutate/gc/restoreAside already fence first).
    fs.verifyHeld(base)
    // the marker comes down only NOW: `build` (often several Spark
    // jobs) ran against a still-valid previous artifact, so a crash
    // inside it leaves that artifact marked, intact and serving — the
    // invalidation window is just the sweep + rename + re-mark below.
    // It is RENAMED into the aside dir, not deleted: together with the
    // asided children it is a complete, re-markable copy of the old
    // generation, so [[restoreAside]] can roll a crashed publish back
    // to a FULLY VALID artifact — marker included — for every family,
    // even those whose fingerprint is not recomputable from the
    // stored rows (BM25/LSH hash the raw doc text, which postings do
    // not carry; review-caught).
    val aside = fs.join(base, s".tmp-old-${java.util.UUID.randomUUID}")
    moveAside(fs, aside, fs.join(base, MarkerName))
    val staged = fs.childNames(staging).toSet
    // the wholesale-replace sweep moves unstaged live children ASIDE
    // (not delete): pre-marker, every old byte must stay recoverable
    fs.childNames(base)
      .filter { n =>
        n != LockName && !n.startsWith(".tmp-") && !staged.contains(n)
      }
      .foreach(n => moveAside(fs, aside, fs.join(base, n)))
    publishStaged(fs, base, staging, fingerprint, aside)
  }

  /** The append branch of [[mutate]] and [[ensureIncremental]]: the
    * caller holds the lock and has decided the new fingerprint. */
  private def lockedMutate(fs: ArtifactFs, base: String,
      newFingerprint: String)(append: String => Unit): Unit = {
    // fence BEFORE invalidating: a hold already known displaced must
    // not even take the live artifact's marker down
    fs.verifyHeld(base)
    fs.delete(fs.join(base, MarkerName))
    append(base)
    // ... and again before re-marking: the append body is the long
    // window (a Spark job); a displacement inside it must turn into a
    // rejected publish, never a two-writer merged manifest
    fs.verifyHeld(base)
    writeMarker(fs, base, newFingerprint)
  }

  /** Ensure the artifact at `base` is current for `fingerprint`,
    * building it (into a staging dir `build` receives) only when the
    * marker is absent, carries a different fingerprint, or the on-disk
    * file set fails manifest validation. Returns true iff `build` ran —
    * the caller's "training actually happened" signal. Safe against
    * concurrent first-touchers in this JVM and in other processes: the
    * loser of the lock race revalidates under the lock and reuses the
    * winner's artifact. */
  def ensure(base: String, fingerprint: String)(build: String => Unit): Boolean = {
    val (fs, b) = backendFor(base)
    fs.lock(b) {
      if (validFingerprint(fs, b).contains(fingerprint)) false
      else { lockedBuild(fs, b, fingerprint)(build); true }
    }
  }

  /** The incremental-artifact state machine shared by the s16 (IVF),
    * s17 (BM25) and d19 (LSH dedup) index updates: already at the
    * union fingerprint → nothing to do (repeat runs and every JVM
    * after the first); at the base fingerprint → append the batch in
    * place; absent/stale/invalid → full build of the base, then the
    * append (bootstrap). Returns (built, appended).
    *
    * The whole state machine runs under ONE lock acquisition, so the
    * post-condition "artifact at `unionFp`" is guaranteed on return
    * even against a concurrent writer — the separate-lock version
    * could observe a valid base between windows, lose the race, and
    * return with the append silently refused. */
  def ensureIncremental(base: String, baseFp: String, unionFp: String)(
      build: String => Unit)(append: String => Unit): (Boolean, Boolean) = {
    val (fs, b) = backendFor(base)
    fs.lock(b) {
      validFingerprint(fs, b) match {
        case Some(`unionFp`) => (false, false)
        case cur =>
          val built =
            if (cur.contains(baseFp)) false
            else { lockedBuild(fs, b, baseFp)(build); true }
          lockedMutate(fs, b, unionFp)(append)
          (built, true)
      }
    }
  }

  /** Content-preserving LAYOUT rewrite — compaction: a run of
    * incremental appends ([[mutate]], the streaming sink) leaves many
    * small files per partition dir, and at 100 TB the small-file
    * problem eventually dominates scan cost (the reason Lucene merges
    * segments and lakehouse tables run OPTIMIZE). `rewriteFn(live,
    * staging)` reads the current artifact and writes compacted
    * replacement children into the staging dir; only the children it
    * writes are swapped in (others — e.g. the centroids, the stream
    * high-water mark — stay). The fingerprint is REUSED: the rows are
    * identical, only the file layout changed, which is exactly what a
    * row-content fingerprint is insensitive to. Returns false (no-op)
    * when the artifact is absent or invalid. */
  def rewrite(base: String)(rewriteFn: (String, String) => Unit): Boolean = {
    val (fs, b) = backendFor(base)
    fs.lock(b) {
      validFingerprint(fs, b) match {
        case None => false
        case Some(fp) =>
          reapStagingOrphans(fs, b)
          val staging = fs.join(b, s".tmp-${java.util.UUID.randomUUID}")
          fs.mkdirs(staging)
          rewriteFn(b, staging)
          // fence before the first destructive step (same reasoning
          // as lockedBuild: the rewrite body is long — a compaction)
          fs.verifyHeld(b)
          // marker down only after the rewrite body completed: a
          // crash inside a long compaction/retrain leaves the old
          // artifact valid and serving. Renamed aside (not deleted)
          // so a crashed publish rolls back to a fully VALID old
          // generation, marker included ([[restoreAside]]).
          val aside = fs.join(b, s".tmp-old-${java.util.UUID.randomUUID}")
          moveAside(fs, aside, fs.join(b, MarkerName))
          publishStaged(fs, b, staging, fp, aside)
          true
      }
    }
  }

  /** In-place incremental update, decided under the lock it writes
    * in: `next` sees the fingerprint the current, fully valid artifact
    * carries and returns the one to re-mark as — or None to decline (a
    * replayed batch, a removal with nothing left to remove), touching
    * nothing. Only then does `append` write into the LIVE base (e.g.
    * Spark append-mode into existing partition dirs), and the base is
    * re-manifested and re-marked. Whatever `next` reads of the artifact
    * (replay marks, stored row hashes) it reads under the same lock, so
    * no writer can move the artifact between the decision and the
    * write. Throws IllegalStateException when no valid artifact exists:
    * an append needs a built base. The marker is deleted before
    * `append` touches anything, so a crash mid-append leaves an
    * unmarked (= rebuild-on-next-touch) artifact, never a marked partial
    * one. Returns whether `append` ran. */
  def mutate(base: String)(next: String => Option[String])(
      append: String => Unit): Boolean = {
    val (fs, b) = backendFor(base)
    fs.lock(b) {
      val cur = validFingerprint(fs, b).getOrElse(
        throw new IllegalStateException(
          s"no valid artifact at $base — build or bootstrap it first"))
      next(cur).exists { fp => lockedMutate(fs, b, fp)(append); true }
    }
  }

  /** Retention sweep over the artifact root: empty out every artifact
    * base that is neither `live` nor younger than `ttlMillis` — the
    * nightly GC a long-lived artifact root needs, because [[ensure]]
    * replaces in place under ONE base but bases for dead corpora
    * (regenerated fixtures, removed SF dirs) otherwise accumulate
    * forever. Layout swept is [[artifactPath]]'s two levels:
    * `root/<kind>/<corpus-slug>`; returns the swept base paths.
    *
    * Liveness is decided two ways, both required to fail before a
    * base is swept:
    *
    *  - `live(basePath)` — the mark-and-sweep hook: a deployment
    *    passes a predicate over its CURRENT corpus set (e.g. "the
    *    slug resolves to an existing corpus dir"), and live corpora
    *    are kept regardless of age. This is the primary guard for
    *    read-hot artifacts: probes read parquet directly (no write,
    *    no mtime refresh), so age alone cannot distinguish "serving
    *    daily" from "dead" — only the caller knows which corpora
    *    still exist. The predicate is deliberately a REQUIRED
    *    parameter with no default: a `_ => false` default would let
    *    a bare `gc(ttl)` sweep artifacts of still-existing corpora
    *    while in-JVM path caches keep serving the emptied base until
    *    restart (ADVICE r10) — deletion of unmatched bases must be
    *    an explicit opt-in (`_ => false`) at the call site.
    *  - age: newest data-file mtime older than `ttlMillis` (a TTL
    *    must comfortably exceed any serving JVM's lifetime — a JVM
    *    caches artifact paths per corpus and would not re-validate a
    *    swept base until restart).
    *
    * Deletion happens UNDER THE BASE'S OWN LOCK: a concurrent
    * builder either publishes first (fresh marker → young → kept) or
    * blocks until the sweep releases and then rebuilds from scratch;
    * the marker is deleted first so no racer can ever validate a
    * half-swept base. The lock file, the base dir and its in-JVM
    * monitor are deliberately KEPT — a waiting process holds the old
    * lock-file inode open, and unlinking it would let a third
    * process lock a NEW inode concurrently (two writers inside the
    * critical section); an empty marker-less dir is simply an absent
    * artifact that [[ensure]] rebuilds, and the few bytes of lock
    * remnant are the price of a race-free sweep. */
  def gc(ttlMillis: Long, live: String => Boolean,
      root: String = artifactRoot()): Seq[String] = {
    val (fs, r) = backendFor(root)
    if (!fs.isDir(r)) return Seq.empty
    val now = System.currentTimeMillis()
    val bases = fs.childNames(r).map(fs.join(r, _)).filter(fs.isDir)
      .flatMap(kind => fs.childNames(kind).map(fs.join(kind, _))
        .filter(fs.isDir))
    bases.flatMap { base =>
      val removed = !live(base) && fs.lock(base) {
        // age = newest data file (the lock file's mtime refreshes on
        // every touch — including this sweep's own — so exclude it)
        val newest = fs.filesUnder(base)
          .collect { case (rel, _, m) if rel != LockName => m }
          .foldLeft(0L)(math.max)
        // newest == 0 means no data files at all — an already-swept
        // (or never-populated) base: nothing to delete, and reporting
        // it "removed" on every run would overstate the swept set
        // forever (ADVICE r10). The lock-only husk is left in place.
        if (newest == 0L || now - newest <= ttlMillis) false
        else try {
          // FENCED: the sweep deletes the marker and every data child
          // — exactly the destructive window the publish fence guards.
          // A displaced gc hold (stale-broken during a network flap)
          // running unfenced would delete files between a new holder's
          // rename sweep and its writeMarker, whose manifest is
          // recomputed FROM DISK — the new marker would then validate
          // an artifact with rows silently missing (review-caught). A
          // fence rejection keeps the base; the next nightly sweep
          // retries.
          fs.verifyHeld(base)
          // marker first: a racer that somehow bypassed the lock can
          // never validate a base this sweep is mid-deleting
          fs.delete(fs.join(base, MarkerName))
          fs.childNames(base)
            .filter(_ != LockName)
            .foreach(n => fs.delete(fs.join(base, n)))
          true
        } catch { case e: LockDisplacedException =>
          System.err.println(s"[graft] gc skipped $base: ${e.getMessage}")
          false
        }
      }
      if (removed) Some(base) else None
    }
  }

  /** Canonical fingerprint rendering shared by every artifact family:
    * `<row count>_<unsigned xor of row hashes>`. One format across
    * modules is an artifact-compatibility contract — the streaming
    * sinks parse it back ([[graft.stream.IndexIngest]]) to chain a
    * batch's parts onto the stored value. */
  def fingerprint(n: Long, x: Long): String =
    s"${n}_${java.lang.Long.toUnsignedString(x)}"

  /** A rendered fingerprint with the parts `(dn, dx)` composed in —
    * `(n + dn, x ^ dx)`: a batch appended (positive `dn`) or removed
    * (negative `dn`; xor is its own inverse). */
  def composed(fp: String, dn: Long, dx: Long): String = {
    val Array(n, x) = fp.split("_")
    fingerprint(n.toLong + dn, java.lang.Long.parseUnsignedLong(x) ^ dx)
  }

  /** The one fingerprint kernel: the parts `(count, xor of h)` over the
    * rows of `df` matching each of `preds`, as one aggregate over one
    * scan — `count(when(p, 1))` and `bit_xor(CASE WHEN p THEN h END)`,
    * an empty match giving `(0, 0)` (xor, not sum: ANSI mode makes a
    * Long sum of hashes overflow). The predicates need not be disjoint
    * (an "all rows vs deleted rows" pair is one call), and each pair
    * equals the single-predicate scan of `df.filter(p)` exactly. Kept
    * as parts because xor-of-hashes composes: `fp(A ∪ B) = (nA + nB,
    * xA ^ xB)` for disjoint A and B, so an incremental consumer derives
    * the post-append fingerprint from the base parts plus a scan of
    * ONLY the new batch ([[Artifact.ensureIncremental]]). */
  def partsWhere(df: DataFrame, h: Column,
      preds: Seq[Column]): Seq[(Long, Long)] = {
    val ps = preds.indices.map(i => s"p$i")
    val aggs = ps.flatMap(p => Seq(count(when(col(p), 1)),
      bit_xor(when(col(p), col("h")))))
    val r = df.select(h.as("h") +: preds.zip(ps).map { case (c, p) =>
        c.as(p) }: _*)
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    ps.indices.map { i =>
      val x = 2 * i + 1
      (r.getLong(2 * i), if (r.isNullAt(x)) 0L else r.getLong(x))
    }
  }
}
