package graft

import java.nio.file.{Files, Paths}

import graft.io.ArtifactStore

/** [[ArtifactPublishContract]] and [[TokenLockContract]] on the
  * [[graft.io.HadoopFs]] binding — the deployment posture where the
  * index artifacts live next to the data on HDFS: the exclusive-create
  * owner-token lock, rename-based publish and aside roll-back,
  * re-proven through Hadoop's FileSystem API. */
class HadoopArtifactStoreSpec
    extends ArtifactPublishContract with TokenLockContract {
  protected val binding: TokenBinding = HadoopBinding
  import binding.{freshBase, local, readData, writeData}

  /** This suite's established names for the contract tests, kept so
    * its test ids stay stable. Two of them name a merged pair: the
    * name stays on the first half, and the publish-crash and gc halves
    * run as the contract's restoreAside and gc tests. */
  override protected def titles: Map[String, String] = Map(
    "racing first-touchers: one build wins, the loser reuses it" ->
      "racing first-touchers through the Hadoop binding: one build wins",
    "manifest validation: pruned, truncated and extra files all invalidate" ->
      "manifest validation catches pruned and extra files through Hadoop reads",
    "a crashed rebuild or rewrite leaves the PREVIOUS artifact intact and valid" ->
      "a crashed rebuild/rewrite leaves the previous artifact valid; publish crash rolls back",
    "mutate: in-place append over the exact expected fingerprint only" ->
      "mutate appends over the exact fingerprint; a crashed append unmarks",
    "ensureIncremental: one lock window, post-condition holds from any start" ->
      "ensureIncremental and gc run through the Hadoop binding")

  test("unregistered remote schemes still fail loudly; registered ones publish") {
    intercept[IllegalArgumentException](
      ArtifactStore.currentFingerprint("hdfs://nn:9000/graft/x"))
    val base = freshBase()
    assert(ArtifactStore.ensure(base, "fp-1")(writeData(_, "part-0", "x")))
    assert(ArtifactStore.isCurrent(base, "fp-1"))
    assert(readData(base, "part-0") == "x")
    // reuse without rebuild; the exclusive-create lock was released
    assert(!ArtifactStore.ensure(base, "fp-1")(_ => fail("must reuse")))
    assert(!Files.exists(Paths.get(local(base), ".lock")),
      "the HDFS-style lock file must be deleted on release")
  }
}
