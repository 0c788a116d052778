package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.io.{ArtifactFs, ArtifactStore, CasFs, HadoopFs, LockStats,
  ObjectBlob, ObjectStoreClient}

/** An [[ArtifactFs]] that forwards every call to `inner` and counts, per
  * base, the lock windows taken and the whole-base `filesUnder` walks
  * made, and notes the window each marker write lands in. A test can
  * also run a competing writer just before a given window on a base.
  * The Hadoop and CAS test schemes are registered through one, so every
  * test on them runs over it; each test works on fresh bases, so the
  * per-base counters of parallel suites never mix. */
final class CountingFs(inner: ArtifactFs) extends ArtifactFs {
  private val windows = new ConcurrentHashMap[String, AtomicInteger]()
  private val walks = new ConcurrentHashMap[String, AtomicInteger]()
  private val firstMark = new ConcurrentHashMap[String, Integer]()
  private val pending = new ConcurrentHashMap[String, (Int, () => Unit)]()

  private def count(m: ConcurrentHashMap[String, AtomicInteger],
      base: String): AtomicInteger =
    m.computeIfAbsent(base, _ => new AtomicInteger)

  /** `(lock windows, whole-base walks)` that `transition` takes on
    * `base`. */
  def cost(base: String)(transition: => Any): (Int, Int) = {
    val (w0, k0) = (count(windows, base).get, count(walks, base).get)
    transition
    (count(windows, base).get - w0, count(walks, base).get - k0)
  }

  /** Which of `transition`'s lock windows on `base` (1-based) first
    * writes the marker; None when none does. */
  def markerWindow(base: String)(transition: => Any): Option[Int] = {
    val w0 = count(windows, base).get
    firstMark.remove(base)
    transition
    Option(firstMark.get(base)).map(_ - w0)
  }

  /** Run `competitor` just before the `n`-th lock window on `base` from
    * now is entered, on the thread that enters it. */
  def beforeWindow(base: String, n: Int)(competitor: => Unit): Unit = {
    pending.put(base, (count(windows, base).get + n, () => competitor))
    ()
  }

  def lock[A](base: String)(body: => A): A = {
    Option(pending.get(base))
      .filter(_._1 == count(windows, base).get + 1)
      .foreach { case (_, competitor) =>
        pending.remove(base)
        competitor()
      }
    count(windows, base).incrementAndGet()
    inner.lock(base)(body)
  }

  def filesUnder(p: String): Seq[(String, Long, Long)] = {
    count(walks, p).incrementAndGet()
    inner.filesUnder(p)
  }

  def writeAtomic(p: String, body: String): Unit = {
    inner.writeAtomic(p, body)
    if (nameOf(p) == "_FINGERPRINT") {
      val base = p.stripSuffix("/_FINGERPRINT")
      firstMark.putIfAbsent(base, count(windows, base).get)
    }
    ()
  }

  def join(p: String, child: String): String = inner.join(p, child)
  def mkdirs(p: String): Unit = inner.mkdirs(p)
  def exists(p: String): Boolean = inner.exists(p)
  def isFile(p: String): Boolean = inner.isFile(p)
  def isDir(p: String): Boolean = inner.isDir(p)
  def childNames(p: String): Seq[String] = inner.childNames(p)
  def read(p: String): String = inner.read(p)
  def rename(src: String, dst: String): Unit = inner.rename(src, dst)
  def writeAtomicReplace(p: String, body: String): Unit =
    inner.writeAtomicReplace(p, body)
  override def replaceIsAtomic: Boolean = inner.replaceIsAtomic
  def delete(p: String): Unit = inner.delete(p)
  override def verifyHeld(base: String): Unit = inner.verifyHeld(base)
}

/** A RawLocalFileSystem under a non-`file` scheme: the standard Hadoop
  * trick for exercising `org.apache.hadoop.fs.FileSystem` semantics
  * against local disk — `checkPath` validates against `getUri`, so
  * overriding it makes `graftfs:` paths first-class while every
  * operation runs through the real Hadoop FileSystem API surface
  * (create-no-overwrite, rename-returns-boolean, listFiles, ...).
  * `failLockReads` makes every `open` of a `.lock` file throw: a
  * throttled read during a lock release. */
class GraftTestHadoopFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  val failLockReads = new AtomicBoolean(false)
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    if (failLockReads.get() && f.getName == ".lock")
      throw new java.io.IOException(s"throttled: $f")
    else super.open(f, bufferSize)
}

/** `graftfs:`'s AbstractFileSystem binding — what gives FileContext
  * (and therefore the ATOMIC replace-rename the generation pointer
  * depends on) a home for the test scheme, exactly as HDFS ships
  * `Hdfs` next to `DistributedFileSystem`. */
class GraftTestAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftTestHadoopFs(), conf, "graftfs", false)

/** ONE registration for every suite that touches the test scheme:
  * suites run in parallel in one JVM, and two `registerHadoopFs`
  * calls with DIFFERENT configurations would race — the last writer
  * wins, and a suite registered without the AbstractFileSystem
  * binding would silently flip writeAtomicReplace onto its fallback
  * mid-run for the other suite. The single shared instance carries
  * the full configuration, and is registered through a [[CountingFs]]. */
object GraftTestFs {
  val Scheme = "graftfs"
  lazy val counting: CountingFs = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[GraftTestAbstractFs].getName)
    val fs = new GraftTestHadoopFs()
    fs.initialize(java.net.URI.create(s"$Scheme:///"), conf)
    new CountingFs(new HadoopFs(fs))
  }
  lazy val registered: Unit = ArtifactStore.registerBackend(Scheme, counting)
}

/** A disk-backed [[ObjectStoreClient]] modeling exactly the S3-class
  * contract [[graft.io.CasFs]] is written against: a FLAT key space
  * (no rename, no directories — `list` by string prefix), per-object
  * atomic puts (temp + ATOMIC_MOVE locally), and server-arbitrated
  * conditional writes (every mutating op serializes on one monitor,
  * the local stand-in for the store's own request arbitration). Keys
  * are `casfs:`-scheme URIs whose path half is a real local path, so
  * Spark's parquet IO can ride the same bytes through a scheme-bound
  * RawLocalFileSystem while the control plane goes through CAS —
  * the same data-plane/control-plane split the Hadoop binding uses.
  *
  * Etags: client-written objects carry a UUID per version; objects
  * written by the data plane (Spark, the fixture's writeData) surface
  * a derived `ext-<size>-<mtime>` tag — stable until the object
  * changes, which is all CAS needs (only the lock and marker are ever
  * CAS targets, and those always go through the client). */
final class DiskObjectStore(prefix: String) extends ObjectStoreClient {
  private val etags = new java.util.HashMap[String, String]()

  private def local(key: String) = Paths.get(key.stripPrefix(prefix))

  def get(key: String): Option[ObjectBlob] = synchronized {
    val p = local(key)
    if (!Files.isRegularFile(p)) None
    else Some(ObjectBlob(Files.readAllBytes(p), etagOf(key),
      Files.getLastModifiedTime(p).toMillis))
  }

  override def stat(key: String): Option[graft.io.ObjectStat] =
    synchronized {
      val p = local(key)
      if (!Files.isRegularFile(p)) None
      else Some(graft.io.ObjectStat(etagOf(key), Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
    }

  private def etagOf(key: String): String = {
    val p = local(key)
    Option(etags.get(key)).getOrElse(
      s"ext-${Files.size(p)}-${Files.getLastModifiedTime(p).toMillis}")
  }

  def list(keyPrefix: String): Seq[(String, Long, Long)] = synchronized {
    val dir = local(keyPrefix.stripSuffix("/"))
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
          (prefix + f.toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis)
        }.toSeq
      } finally s.close()
    }
  }

  def put(key: String, body: Array[Byte]): String = synchronized {
    val p = local(key)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s".obj-${java.util.UUID.randomUUID}")
    Files.write(tmp, body)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    val tag = java.util.UUID.randomUUID.toString
    etags.put(key, tag)
    tag
  }

  def putIfAbsent(key: String, body: Array[Byte]): Option[String] =
    synchronized {
      if (Files.isRegularFile(local(key))) None else Some(put(key, body))
    }

  def putIfMatch(key: String, body: Array[Byte],
      etag: String): Option[String] = synchronized {
    if (Files.isRegularFile(local(key)) && etagOf(key) == etag)
      Some(put(key, body))
    else None
  }

  def delete(key: String): Unit = synchronized {
    // objects only: a local DIRECTORY at this path is a husk of the
    // disk backing, not an object — a flat store has no entry there
    val p = local(key)
    if (Files.isRegularFile(p)) Files.delete(p)
    etags.remove(key)
    ()
  }

  def copy(srcKey: String, dstKey: String): Unit = synchronized {
    put(dstKey, Files.readAllBytes(local(srcKey)))
    ()
  }
}

/** Forwards every call to `inner`; a test overrides the one call it
  * breaks. */
class ForwardingObjectStore(inner: ObjectStoreClient)
    extends ObjectStoreClient {
  def get(key: String): Option[ObjectBlob] = inner.get(key)
  override def stat(key: String): Option[graft.io.ObjectStat] =
    inner.stat(key)
  def list(p: String): Seq[(String, Long, Long)] = inner.list(p)
  override def listSome(p: String, max: Int): Seq[(String, Long, Long)] =
    inner.listSome(p, max)
  def put(key: String, b: Array[Byte]): String = inner.put(key, b)
  def putIfAbsent(key: String, b: Array[Byte]): Option[String] =
    inner.putIfAbsent(key, b)
  def putIfMatch(key: String, b: Array[Byte], e: String): Option[String] =
    inner.putIfMatch(key, b, e)
  def delete(key: String): Unit = inner.delete(key)
  def copy(s: String, d: String): Unit = inner.copy(s, d)
}

/** ONE registration for every suite touching the CAS test scheme
  * (suites run in parallel in one JVM — same reasoning as
  * [[GraftTestFs]]), through a [[CountingFs]]. */
object GraftCasStore {
  val Scheme = "casfs"
  val client = new DiskObjectStore(Scheme + ":")
  lazy val counting: CountingFs = new CountingFs(new CasFs(client))
  lazy val registered: Unit = ArtifactStore.registerBackend(Scheme, counting)
}

/** The `casfs:` data plane for Spark: parquet bytes ride a scheme-
  * bound RawLocalFileSystem (same disk the [[DiskObjectStore]] lists),
  * while every artifact-internal coordination touch — locks, markers,
  * replay marks, generation pointers — goes through [[graft.io.CasFs]]
  * conditional writes. Exactly the split a real S3 deployment has:
  * executors stream parquet through the store's data path; the driver
  * coordinates through CAS metadata operations. */
class GraftCasDataFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("casfs:///")
}

/** One storage binding as the contract suites drive it. Every binding
  * here is disk-backed: a base is `<scheme>:` + a local path (POSIX:
  * the bare path), so a test can stage crash states and data files on
  * disk and read them back, while the protocol under test runs through
  * the binding. */
sealed abstract class StorageBinding(val scheme: Option[String]) {
  /** What the base strings of this binding start with. */
  val prefix: String = scheme.fold("")(_ + ":")

  protected def register(): Unit = ()

  /** The Hadoop FileSystem Spark reads and writes this scheme's
    * parquet through (the data plane); none for POSIX. */
  protected def dataFs: Option[Class[_ <: org.apache.hadoop.fs.FileSystem]] =
    None

  /** A fresh, empty directory under this binding. */
  def freshRoot(): String = {
    register()
    prefix + Files.createTempDirectory("graft-storage-spec")
  }

  /** A fresh, absent base: `name` under a fresh root. */
  def freshBase(name: String = "artifact"): String = s"${freshRoot()}/$name"

  /** `base` as a plain local path. */
  def local(base: String): String = base.stripPrefix(prefix)

  def writeData(dir: String, name: String, body: String): Unit = {
    val p = Paths.get(local(dir), "data", name)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  def readData(base: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(local(base), "data", name)), UTF_8)

  private def at(base: String, rel: String): (ArtifactFs, String) = {
    val (fs, b) = ArtifactStore.backend(base)
    (fs, fs.join(b, rel))
  }

  /** Whether `rel` under `base` exists, as the binding sees it (a flat
    * store has no empty directories). */
  def exists(base: String, rel: String): Boolean = {
    val (fs, p) = at(base, rel)
    fs.exists(p)
  }

  /** The `.tmp-` children of `base` (staging and aside dirs), listed
    * through the binding. */
  def tmpChildren(base: String): Seq[String] = {
    val (fs, b) = ArtifactStore.backend(base)
    fs.childNames(b).filter(_.startsWith(".tmp-"))
  }

  /** Route Spark's parquet IO for this scheme onto its data plane. */
  def registerDataPlane(spark: org.apache.spark.sql.SparkSession): Unit = {
    register()
    for (s <- scheme; c <- dataFs)
      spark.sparkContext.hadoopConfiguration.set(s"fs.$s.impl", c.getName)
  }

  /** The lock object of `base`, as the binding addresses it. */
  protected def lockAt(base: String): (ArtifactFs, String) = at(base, ".lock")
}

/** A fresh in-JVM "process" on a token binding: its own monitors, its
  * own `stats`, and a switch that makes its reads of a lock fail. */
final class LockProcess(val fs: ArtifactFs, val stats: LockStats,
    val failLockReads: AtomicBoolean)

/** A binding whose lock is an owner token with a stale TTL: Hadoop and
  * CAS. The lock helpers act as a foreign process would, through the
  * shared registered binding. */
sealed abstract class TokenBinding(scheme: String)
    extends StorageBinding(Some(scheme)) {
  def newBinding(): LockProcess

  /** The counting binding the scheme is registered through. */
  def counting: CountingFs

  /** The lock TTL in force (the binding's global). */
  def lockStaleMs: Long
  protected def lockStaleMs_=(ms: Long): Unit

  /** Run `body` with the binding's lock TTL set to `ms`, then restore. */
  def withStaleTtl[A](ms: Long)(body: => A): A = {
    val prev = lockStaleMs
    lockStaleMs = ms
    try body finally lockStaleMs = prev
  }

  /** Install `token` as the lock of `base`: a foreign holder. */
  def putLock(base: String, token: String): Unit = {
    val (fs, l) = lockAt(base)
    fs.writeAtomicReplace(l, token)
  }

  /** Backdate the lock's mtime by `ms` (both bindings are disk-backed). */
  def ageLock(base: String, ms: Long): Unit =
    Files.setLastModifiedTime(Paths.get(local(base), ".lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - ms))

  def readLock(base: String): Option[String] = {
    val (fs, l) = lockAt(base)
    if (fs.isFile(l)) Some(fs.read(l)) else None
  }

  def deleteLock(base: String): Unit = {
    val (fs, l) = lockAt(base)
    fs.delete(l)
  }
}

object PosixBinding extends StorageBinding(None)

object HadoopBinding extends TokenBinding(GraftTestFs.Scheme) {
  override protected def register(): Unit = GraftTestFs.registered
  override protected def dataFs = Some(classOf[GraftTestHadoopFs])
  def counting: CountingFs = GraftTestFs.counting
  def lockStaleMs: Long = HadoopFs.LockStaleMs
  protected def lockStaleMs_=(ms: Long): Unit = HadoopFs.LockStaleMs = ms

  def newBinding(): LockProcess = {
    register()
    val raw = new GraftTestHadoopFs()
    raw.initialize(java.net.URI.create(s"${GraftTestFs.Scheme}:///"),
      new org.apache.hadoop.conf.Configuration())
    val fs = new HadoopFs(raw)
    new LockProcess(fs, fs.stats, raw.failLockReads)
  }
}

object CasBinding extends TokenBinding(GraftCasStore.Scheme) {
  override protected def register(): Unit = GraftCasStore.registered
  override protected def dataFs = Some(classOf[GraftCasDataFs])
  def counting: CountingFs = GraftCasStore.counting
  def lockStaleMs: Long = CasFs.LockStaleMs
  protected def lockStaleMs_=(ms: Long): Unit = CasFs.LockStaleMs = ms

  def newBinding(): LockProcess = {
    register()
    val failLockReads = new AtomicBoolean(false)
    val fs = new CasFs(new ForwardingObjectStore(GraftCasStore.client) {
      override def get(key: String): Option[ObjectBlob] =
        if (failLockReads.get() && key.endsWith("/.lock"))
          throw new java.io.IOException(s"throttled: $key")
        else super.get(key)
    })
    new LockProcess(fs, fs.stats, failLockReads)
  }
}
