package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.ArtifactStore
import graft.llm.{CodeTable, IndexDelete, IndexFamily, IndexMember,
  PairMember, Similarity}

/** Streaming maintenance of the persisted mutable indexes — one
  * lifecycle written once over the [[IndexMember]]: the three
  * [[IndexFamily]] values (IVF lists, BM25 segments, LSH bands) and
  * each [[CodeTable]] kind (PQ, SQ8, BQ codes) bound to its IVF
  * sibling ([[CodeTable.over]]). It is the `readStream → foreachBatch`
  * twin of the nightly appends
  * ([[graft.llm.Similarity.s16IncrementalIndexUpdate]], s17, d19). A
  * feed (a crawler's embedding stage, a CDC tail of the documents
  * table) drives [[appendSink]], which folds each micro-batch into the
  * artifact without re-reading the base corpus — IVF by assignment to
  * the STORED centroids (no Lloyd round ever runs on the stream), BM25
  * as one delta segment, LSH as new band-posting files, a code table
  * as codes encoded against its frozen model — and the artifact stays
  * continuously probe-able
  * (marker-validated readers either see the pre-batch or the
  * post-batch index, never a partial append —
  * [[graft.io.ArtifactStore.mutate]]'s contract). [[deleteSink]]
  * removes members of a family as tombstone appends; [[compact]] makes
  * the removals physical. The IVF-PQ recall gate — in place
  * ([[recallGateAndRetrain]]) or over a generation-pointer pair
  * ([[recallGateAndRetrainPaired]]) — is one cycle that differs only
  * in where the retrained generation publishes.
  *
  * Exactly-once across micro-batch REPLAYS (a restarted streaming
  * query re-delivers its last uncommitted batch): the artifact itself
  * carries a batch-id high-water mark (`stream_state`, covered by the
  * manifest), written inside the same `mutate` that appends the rows —
  * a replayed batch id ≤ the mark is skipped wholesale, so a crash
  * between the append and the sink's checkpoint commit cannot
  * double-ingest. The fingerprint chains by xor-composition
  * (`fp ∘ batch = (n + nb, x ^ xb)` — [[graft.llm.IndexFamily.parts]]),
  * so validation stays content-derived at every step without
  * rescanning what's already indexed.
  *
  * Caller contract: batches carry NEW member ids (the d10/d14-style
  * incremental dedup gate runs upstream of the embedding stage;
  * re-ingesting an id would store both copies, exactly as Faiss `add`
  * would). Concurrent writers serialize on the artifact's lock: each
  * batch decides, composes and commits inside one lock window, onto
  * whatever fingerprint it finds there.
  */
object IndexIngest {

  /** Every touch of artifact-internal files (replay marks, generation
    * pointers, fragmentation probes) goes through the store's backend
    * dispatch: it decodes `file:` URIs the way the store itself does
    * (a base probed with raw `Paths.get(base, "stream_state")` mangled
    * into a relative local dir — review-caught) and follows registered
    * Hadoop schemes onto the right filesystem, so the whole streaming
    * lifecycle deploys wherever the store does. */
  private def fsb(base: String): (graft.io.ArtifactFs, String) =
    ArtifactStore.backend(base)

  /** Atomic replace for the replay mark: a truncate-then-write crash
    * leaves a torn/empty file whose parse then poisons every sink
    * batch and gate cycle (and the self-heals would copy the torn file
    * forward) — the backend's replace-swap (write-temp + atomic
    * rename; FileContext OVERWRITE on HDFS), the marker's own
    * pattern. */
  private def writeStateAtomic(base: String,
      state: Map[String, Long]): Unit = {
    val (fs, b) = fsb(base)
    val body = state.toSeq.sorted
      .map { case (app, id) => s"$app\t$id" }.mkString("\n")
    fs.writeAtomicReplace(fs.join(b, "stream_state"), body)
  }

  /** What a bootstrap call actually did — bootstraps INITIALIZE only
    * (any valid artifact is kept: re-running bootstrap after streamed
    * appends previously triggered ensure's full rebuild, which SWEPT
    * the appended rows and the replay mark, review-caught), so the
    * skip path needs to be OBSERVABLE: a no-op against an index grown
    * by appends and a no-op against a CHANGED corpus (operator error —
    * the offered vectors are not what the artifact indexes) look
    * identical otherwise (ADVICE r11). Replacing a living index is an
    * explicit delete + bootstrap. */
  sealed trait BootstrapStatus
  object BootstrapStatus {
    /** No valid artifact existed; built from the offered corpus. */
    case object Built extends BootstrapStatus
    /** Valid artifact already carries exactly the offered corpus'
      * fingerprint — the repeat-run no-op. */
    case object Current extends BootstrapStatus
    /** Valid artifact KEPT although its fingerprint differs from the
      * offered corpus (streamed appends — or a changed corpus).
      * Logged to stderr at the call. */
    case object KeptDivergent extends BootstrapStatus

    /** Severity join for multi-artifact bootstraps
      * ([[IndexIngest.bootstrapPair]]): KeptDivergent dominates — an
      * operator must see a changed-corpus divergence no matter WHICH
      * member artifact carries it (a pair crash-recovered mid-
      * lifecycle can legally hold one Current and one divergent
      * member) — then Built, then Current. */
    def worst(a: BootstrapStatus, b: BootstrapStatus): BootstrapStatus = {
      def sev(s: BootstrapStatus): Int = s match {
        case KeptDivergent => 2
        case Built => 1
        case Current => 0
      }
      if (sev(a) >= sev(b)) a else b
    }
  }

  /** The initialize-only state machine every bootstrap shares, one
    * [[graft.io.ArtifactStore.keepOrBuild]]: a marker-less base may be
    * a crashed PUBLISH (compaction, retrain) of a LIVING index whose
    * appended rows exist nowhere else, so it is rolled back to the
    * valid old generation first — marker included — and kept; a plain
    * build would reap the aside copy as a staging orphan and lose every
    * streamed append and the replay marks (review-caught r12). The
    * keep-or-build decision is taken under the lock the build writes
    * in, so a writer publishing between the check and the build cannot
    * have its files swept. `parts` fingerprints the OFFERED corpus
    * (evaluated on both branches: the build needs it to mark, the skip
    * needs it to tell Current from KeptDivergent — one cheap aggregate
    * scan, and bootstraps run once per deployment, not per batch). */
  private def bootstrapOnce(base: String, parts: => (Long, Long))(
      build: String => Unit): BootstrapStatus = {
    lazy val offered = { val (n, x) = parts; ArtifactStore.fingerprint(n, x) }
    ArtifactStore.keepOrBuild(base)(offered)(build) match {
      case None => BootstrapStatus.Built
      case Some(cur) if cur == offered => BootstrapStatus.Current
      case Some(cur) =>
        System.err.println(s"[graft] bootstrap kept the existing index " +
          s"at $base: its fingerprint $cur differs from the offered " +
          s"corpus' $offered (streamed appends — or a changed corpus). " +
          s"Replacing a living index is an explicit delete + bootstrap.")
        BootstrapStatus.KeptDivergent
    }
  }

  /** One-time bootstrap of member `m`'s index over the initial corpus
    * (the member's full build through the atomic-publish path: IVF
    * trains and writes its lists, BM25 writes the `base` segment and
    * the per-doc `dochash` identity sidecar the delete verb resolves
    * through, LSH writes digests and band postings; a code table trains
    * its model — PQ's codebook, SQ8's per-dim ranges, nothing for BQ —
    * and writes its codes cell-major by assignment to the
    * already-bootstrapped IVF sibling's centroids); a no-op when a
    * valid artifact exists — see [[BootstrapStatus]] for the skip
    * taxonomy. */
  def bootstrap(m: IndexMember, base: String,
      rows: DataFrame): BootstrapStatus = {
    val v = m.prepare(rows)
    bootstrapOnce(base, m.parts(v))(m.build(v, _))
  }

  /** Compact member `m`'s index after a run of appends: the accumulated
    * small per-batch files are rewritten into one sorted file per
    * partition ([[IndexMember.compactInto]] — IVF cells, BM25 segments
    * merged into one with df recounted, LSH bands and re-distinct
    * digests, a code table's cells), under the same publish lock and
    * with the SAME fingerprint — the maintenance job a
    * streaming-maintained index schedules periodically, exactly as
    * Lucene merges segments.
    * Compaction is also where DELETES become physical (Lucene's merge
    * dropping deleted docs): tombstoned rows ([[deleteSink]]) are
    * omitted from the rewritten tables and the tombstone set is reset
    * to empty. The fingerprint is still REUSED — the LOGICAL membership
    * already moved at delete time (the sink xor-composed the removals
    * out), so "stored rows minus tombstones" is what the current
    * fingerprint has covered all along. Readers either see the pre- or
    * post-compaction file set (marker-swap), and the probe plans are
    * unchanged. Children the body does not stage (IVF centroids, a
    * code table's model dir, `stream_state`) survive the publish byte
    * for byte, and streamed appends continue afterwards from the same
    * high-water mark. Returns false when there is no valid artifact to
    * compact. */
  def compact(m: IndexMember, spark: org.apache.spark.sql.SparkSession,
      base: String): Boolean =
    ArtifactStore.rewrite(base) { (live, staging) =>
      m.compactInto(spark, live, staging)
      clearTombstonesInto(live, staging)
    }

  /** Stage an EMPTY tombstone set over a live one — the compaction/
    * retrain epilogue once tombstoned rows have been physically
    * dropped from the rewritten table (the publish swaps only staged
    * children, so an un-staged tombstone dir would survive with stale
    * ids — harmless against rows that no longer exist, but it would
    * break the "a compaction clears the tombstones" re-append
    * contract). No-op when the live artifact has no tombstones. */
  private def clearTombstonesInto(live: String, staging: String): Unit = {
    val (fs, b) = fsb(live)
    if (fs.isDir(fs.join(b, "tombstones")))
      fs.mkdirs(fs.join(staging, "tombstones"))
  }

  /** THE exactly-once commit core every streaming sink (append AND
    * delete) rides, one [[graft.io.ArtifactStore.mutate]]: under its
    * lock, skip a batch id at or below this lineage's high-water mark,
    * else chain the batch's SIGNED fingerprint parts onto the current
    * fingerprint by xor-composition (appends pass +count, removals
    * −count — xor is its own inverse), and run `body` + the mark write
    * in the same window, so a crash between them can never leave a
    * marked-but-double-ingestable state. A replay is also skipped
    * before the lock — no window, no manifest walk, and a legacy mark
    * still gates its lineage on an artifact that no longer validates:
    * marks only move forward, so a batch once seen committed stays
    * committed. `parts` is BY-NAME: a replay starts no Spark job, and
    * a removal plan, which reads artifact state, reads it under the
    * lock its tombstones are written in — no writer can land between
    * the plan and the fingerprint it composes onto. One body holds the
    * exactly-once reasoning for every sink (review-caught
    * duplication). */
  private def commitOnce(base: String, batchId: Long, markKey: String,
      parts: => (Long, Long))(body: String => Unit): Unit = {
    def replayed = batchId <= readState(base).getOrElse(markKey, -1L)
    if (!replayed) ArtifactStore.mutate(base) { cur =>
      Option.unless(replayed) {
        val (pn, px) = parts
        ArtifactStore.composed(cur, pn, px)
      }
    } { live =>
      body(live)
      writeStateAtomic(base, readState(base) + (markKey -> batchId))
    }
  }

  private def requireAppId(appId: String): Unit =
    require(!appId.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"appId must not contain tab/newline: '$appId'")

  /** The lineage a sink belongs to when the caller does not name one.
    * Multiple streaming queries feeding ONE artifact must pass
    * distinct `appId`s (the stable id the caller owns — Delta's
    * `txnAppId` convention), or their independent batch numbering
    * aliases: query B's batch 0 would read as a replay of query A's
    * committed batch 0 and be silently dropped (VERDICT r11 #4). */
  val DefaultApp = "default"

  /** The artifact's replay marks: one high-water batch id PER QUERY
    * LINEAGE (`appId → batchId` — the Delta idempotent-sink key). A
    * recreated query with a FRESH checkpoint restarts batch numbering
    * at 0 and its new batches would read as replays of its OWN
    * committed ids — recovery from a lost checkpoint therefore pairs
    * the new query with a new appId (or an explicit mark reset).
    * File format: `<appId>\t<batchId>` lines; a bare legacy
    * single-number file reads as the default lineage's mark. */
  private def readState(base: String): Map[String, Long] = {
    val (fs, b) = fsb(base)
    val f = fs.join(b, "stream_state")
    if (!fs.isFile(f)) Map.empty
    else {
      val txt = fs.read(f).trim
      if (txt.isEmpty) Map.empty
      else txt.split("\n").toSeq.map { line =>
        val i = line.indexOf('\t')
        if (i < 0) DefaultApp -> line.trim.toLong
        else line.substring(0, i) -> line.substring(i + 1).trim.toLong
      }.toMap
    }
  }

  /** The `foreachBatch` append sink of member `m`: fold one
    * micro-batch (`(vec_id, embedding)` for IVF and the code tables,
    * `(doc_id, text)` for BM25 and LSH) into the index at `base`. Use
    * as `stream.writeStream.foreachBatch(IndexIngest.appendSink(m,
    * base) _)`; `appId` names the lineage when several queries feed one
    * artifact.
    *
    * Same replay contract for every member: the batch-id high-water
    * mark lives INSIDE the artifact and commits in the same
    * [[graft.io.ArtifactStore.mutate]] as the rows, so a restarted
    * query re-delivering a committed batch is a wholesale no-op — and
    * the batch's fingerprint parts stay by-name through to
    * [[commitOnce]], so a replay is skipped before that job would run.
    * A grown BM25 index answers IDENTICALLY to a from-scratch single
    * index ([[graft.llm.Retrieval.segmentedBm25Ranked]] merges df and
    * totals over segments that partition the docs). A code table's
    * cells come from assignment to the IVF sibling's stored centroids —
    * deterministic, so it stays aligned with what the IVF sink writes
    * for the same feed regardless of which sink commits a batch first.
    * Streamed vectors outside the bootstrap corpus's per-dim envelope
    * clamp to SQ8 code 0/255 (s22's frozen-model trade): the recall
    * gate, not the sink, is where a drifted model fires a retrain. */
  def appendSink(m: IndexMember, base: String, appId: String = DefaultApp)(
      batch: DataFrame, batchId: Long): Unit = {
    requireAppId(appId)
    val v = m.prepare(batch)
    commitOnce(base, batchId, appId, m.parts(v))(m.append(v, _, batchId, appId))
  }

  /** The exactly-once streaming DELETE sink of family `f`: fold one
    * micro-batch of member-id removal requests (`vec_id` / `doc_id`)
    * into the index at `base` as a tombstone append
    * ([[graft.llm.IndexDelete]] — the Lucene deleted-docs / Delta
    * deletion-vector posture: O(batch) work, no data file touched;
    * [[compact]] makes the removals physical later), resolved through
    * the family's stored row hashes ([[IndexDelete.removalPlan]] — the
    * corpus is never re-read). Rides the same commit machinery as every
    * other sink — per-lineage replay marks, one mutate window — with
    * the batch's fingerprint parts NEGATED: xor is its own
    * inverse, so the artifact's content fingerprint moves to the
    * post-delete membership exactly as appends move it forward, and a
    * gate retrain or self-heal recomputing the fingerprint from the
    * live rows reproduces it. Serving excludes tombstoned members at
    * once (BM25 keeps df/totals as stored until the merge — the Lucene
    * contract; a tombstoned LSH doc stops suppressing arrivals).
    * Requests for absent or already-tombstoned ids are ignored (Faiss
    * `remove_ids` semantics); the mark still advances, so the batch
    * never replays. */
  def deleteSink(f: IndexFamily, base: String, appId: String = DefaultApp)(
      batch: DataFrame, batchId: Long): Unit =
    removeOnce(base, batchId, appId)(
      IndexDelete.removalPlan(f, batch.sparkSession, base, batch))

  /** Delete lineages mark under a NAMESPACED key (`del:<appId>`), so
    * the recall gates' append-skew comparisons can see exactly the
    * marks that have code-table counterparts: a delete batch never
    * reaches the PQ/SQ/BQ sinks, so its mark existing only on the IVF
    * base is the steady state, not skew — comparing full maps would
    * leave the retrain deferred FOREVER after the first streamed
    * delete (review-caught). Marks written by the one pre-namespace
    * dev revision (plain appId key) would read as append skew; no
    * shipped artifact carries one, so there is no migration path —
    * a hand-built artifact in that state needs a one-time key strip
    * in its stream_state. */
  private[graft] val DeleteMarkPrefix = "del:"

  /** The append-lineage marks — the delete lineages stripped; what
    * cross-artifact skew checks compare. */
  private def appendMarksOf(state: Map[String, Long]): Map[String, Long] =
    state.filterNot(_._1.startsWith(DeleteMarkPrefix))

  /** [[commitOnce]] keyed by the delete-namespaced lineage, parts
    * negated, tombstones written when anything was actually removed.
    * The removal plan evaluates inside commitOnce's by-name `parts`,
    * under the commit's lock; the ids it yields ride to the body
    * through the local stash. */
  private def removeOnce(base: String, batchId: Long, appId: String)(
      plan: => (DataFrame, (Long, Long))): Unit = {
    requireAppId(appId)
    var removed: Option[(DataFrame, Long)] = None
    commitOnce(base, batchId, DeleteMarkPrefix + appId, {
      val (ids, (dn, dx)) = plan
      removed = Some((ids, dn))
      (-dn, dx)
    }) { live =>
      removed.foreach { case (ids, dn) =>
        if (dn > 0) IndexDelete.writeTombstones(live, ids)
      }
    }
  }

  /** The streaming RECALL GATE — s24's audit→decide→retrain loop at
    * index-maintenance cadence, for a streaming-maintained IVF-PQ pair
    * (the [[appendSink]] of [[IndexFamily.Ivf]] and of
    * [[CodeTable.Pq]] bound over it): every appended batch was
    * encoded against models that never saw it, so recall decays batch
    * by batch; the maintenance scheduler runs this gate (like
    * [[compact]], after a run of appends) and the index retrains
    * itself only when the measured SLO is violated.
    *
    * Everything runs off the artifacts alone — there is no corpus
    * table in a streaming deployment: the audit panel (`vec_id%4=0`,
    * the s23/s24 convention) and the ground truth both come out of the
    * stored inverted lists, and the served side is the s21 chain over
    * the stored centroids/codebook/codes
    * ([[Similarity.serveFrom]]).
    *
    * The retrain is an [[graft.io.ArtifactStore.rewrite]] of BOTH
    * artifacts: the vector set — and therefore the row-content
    * fingerprint — is unchanged; only the models and the layout/codes
    * they derive change, which is exactly rewrite's contract. The
    * non-staged `stream_state` high-water mark survives the publish
    * ([[compact]]'s codebook-survival contract), so batch replay
    * protection carries straight across a retrain, and later appends
    * encode against the NEW frozen models — the Faiss retrain-and-
    * keep-adding lifecycle. The IVF side retrains at its STORED
    * centroid count ([[rebuildIvf]]), and deterministic training makes
    * the result row-identical to a from-scratch bootstrap over the same
    * vectors at that count (spec-pinned).
    *
    * Two protocol guards (both review-caught):
    *
    *  - '''skew deferral''' — the retrain runs ONLY when the two
    *    sinks' high-water marks agree. Retraining the PQ table from
    *    IVF lists that already contain a batch the PQ sink has not
    *    committed would publish that batch's codes under PQ's old mark
    *    and fingerprint, so the sink's replay of that batch would
    *    double-ingest; the symmetric skew would silently DROP codes
    *    the PQ sink had committed. A cycle that observes skew returns
    *    `retrained = false` and defers — the sinks drain within a
    *    trigger and the next maintenance cycle retrains.
    *  - '''self-heal''' — a crash inside a previous cycle's PQ rewrite
    *    leaves the PQ artifact marker-less (data intact, nothing
    *    valid) and every sink append throwing. The PQ artifact is
    *    entirely DERIVABLE from the IVF artifact, so the gate rebuilds
    *    it up front: fingerprint = the IVF artifact's (same vector
    *    set), replay mark copied from the IVF artifact's.
    *
    * The mark-equality check is advisory, not atomic with the
    * rewrites: it closes the steady-state skew case, not a sink
    * actively racing the retrain itself. Like every index-maintenance
    * system (Lucene merges, Faiss rebuilds), the gate expects to run
    * from the maintenance scheduler between triggers — not
    * concurrently with an active write stream on the same index; the
    * publish gap between the two rewrites (spanning the PQ training)
    * is inside the same window, so probes never observe the
    * mixed-generation pair on the healthy path.
    *
    * Co-maintained derived code tables (SQ8, BQ — [[DerivedKinds]])
    * opt in via `derived` (kind → base): each joins the heal
    * (derivable from the IVF artifact like PQ), the skew deferral (its
    * mark must agree too), and the retrain (an IVF retrain re-cells
    * every dependent code table — the SQ ranges themselves are
    * vector-set-pure and reproduce identically, but the cell
    * partitioning must shard with the new lists). The audit signal
    * stays the IVF-PQ pair's recall: one decision, all dependent
    * tables move to the new generation together.
    *
    * Returns `(queries, hits, fired, retrained)` — the audit report
    * the maintenance job logs either way; `fired && !retrained` means
    * the SLO is violated but the rebuild was deferred to an aligned
    * cycle. */
  def recallGateAndRetrain(spark: org.apache.spark.sql.SparkSession,
      ivfBase: String, pqBase: String,
      derived: Seq[(CodeTable, String)] = Nil
      ): (Int, Long, Boolean, Boolean) =
    gateCycle(spark, ivfBase, (CodeTable.Pq -> pqBase) +: derived) {
        (_, members, _) =>
      val ivfOk = ArtifactStore.rewrite(ivfBase) { (live, staging) =>
        // retrain from the LIVE members: tombstoned rows drop out of
        // the rewritten lists here (same physicalization as
        // [[compact]]) and the tombstone set resets — the preserved
        // fingerprint already covers exactly this membership
        rebuildIvf(spark, live, staging)
        clearTombstonesInto(live, staging)
      }
      require(ivfOk, s"no valid IVF artifact to retrain at $ivfBase")
      // vectors and cells come from the freshly-retrained IVF lists, so
      // every code table shards identically to the new generation. The
      // derived models are vector-set-pure (SQ ranges reproduce
      // bit-identically; BQ has no model at all), but each code table's
      // CELL partitioning must shard with the new lists — skipping a
      // rewrite would leave that probe path on the old cell layout
      members.foreach { case (t, b) =>
        val ok = ArtifactStore.rewrite(b) { (_, staging) =>
          buildMember(t, IndexDelete.liveListsAt(spark, ivfBase), staging)
        }
        require(ok, s"no valid ${t.member} artifact to retrain at $b")
      }
      true
    }

  /** THE recall-gate cycle both postures run: heal the IVF artifact,
    * then each code-table member (every one is derivable from the IVF
    * artifact — same heal); audit the IVF-PQ pair's recall; decide; and
    * retrain only when the SLO fired AND every member's append marks
    * agree with the IVF base's. `members` lists the code tables, PQ
    * first. `retrain(ivfFp, members, ivfMarks)` builds and publishes
    * the next generation — in place, or beside the current one under a
    * pointer — and returns whether it published; `ivfMarks` is the IVF
    * base's full mark map as the alignment check saw it.
    *
    * The skew deferral covers every co-retrained table: an IVF retrain
    * re-cells the derived codes too, so folding an uncommitted batch in
    * (or dropping a committed one) has exactly the PQ failure mode.
    * Marks are compared on APPEND lineages only: a delete batch never
    * reaches the code-table sinks, so its del:-namespaced mark lives on
    * the IVF base alone by design — full-map equality would defer the
    * retrain forever after the first streamed delete (review-caught);
    * the retrain itself reads the live lists, so removals are always
    * consistently reflected on every rebuilt table. */
  private def gateCycle(spark: org.apache.spark.sql.SparkSession,
      ivfBase: String, members: Seq[(CodeTable, String)])(
      retrain: (String, Seq[(CodeTable, String)], Map[String, Long]) =>
        Boolean): (Int, Long, Boolean, Boolean) = {
    val ivfFp = healIvf(spark, ivfBase)
    members.foreach { case (t, b) => healMember(spark, ivfBase, b, ivfFp, t) }
    val (queries, truthRows, hits) =
      auditRecall(spark, ivfBase, members.head._2)
    val fired = Similarity.retrainDecision(truthRows, hits)
    val ivfMarks = readState(ivfBase)
    val retrained = fired &&
      members.forall { case (_, b) =>
        appendMarksOf(readState(b)) == appendMarksOf(ivfMarks) } &&
      retrain(ivfFp, members, ivfMarks)
    (queries, hits, fired, retrained)
  }

  /** THE member build both gate postures, the heal and late adoption
    * share: the kind's whole table from stored inverted lists — their
    * vectors and their cells, so the table shards identically to the
    * generation it serves beside. */
  private def buildMember(t: CodeTable, lists: DataFrame,
      staging: String): Unit =
    t.buildFromNv(CodeTable.cellNv(lists), staging)

  /** The gate's IVF heal preamble, shared by both retrain postures,
    * one [[graft.io.ArtifactStore.keepOrBuild]]: roll back a crashed
    * publish first (old generation split between the base and a
    * `.tmp-old-*` aside — the restore brings back the old MARKER too,
    * so the artifact usually revalidates outright, and it must run
    * before any rebuild's orphan reap could destroy the aside copy).
    * The self-heal then covers only the residual marker-less-with-data
    * class (aside-less marker loss, the only marker-less window of the
    * gate's stage-first rewrite being its publish). The vectors ARE the
    * store in the streaming posture, so the artifact re-marks ITSELF:
    * the fingerprint is recomputed from the stored LIVE rows (xor-
    * composed row hashes — identical to the value the chained marker
    * carried; live, because the delete sink xor'd removals out as it
    * tombstoned them), the models retrain from the same rows at the
    * stored centroid count ([[rebuildIvf]]), and the replay mark is
    * staged across. Fingerprint and rebuild both read the rows under
    * the lock the heal publishes in, so a sink commit can never land
    * between them and be re-marked with an older fingerprint. The
    * rebuild physicalizes the deletes as a side effect (the build
    * sweeps the stale tombstone dir with the other old children). If a
    * VALID PQ table still shards by the pre-heal cells, the next audit
    * sees the mixed generation as low recall and the normal
    * fired→retrain path restores consistency — the loop is its own
    * repair. Each code table heals from its sibling ([[healMember]]).
    * Returns the healed IVF fingerprint. */
  private def healIvf(spark: org.apache.spark.sql.SparkSession,
      ivfBase: String): String = {
    graft.functions.VectorExpressions.register(spark)
    lazy val selfFp = {
      val (fs, b) = fsb(ivfBase)
      if (!fs.isDir(fs.join(b, "assignments")))
        throw new IllegalStateException(
          s"no valid IVF artifact at $ivfBase — bootstrap first")
      val (n, x) = IndexFamily.Ivf.parts(liveVectors(spark, ivfBase))
      ArtifactStore.fingerprint(n, x)
    }
    ArtifactStore.keepOrBuild(ivfBase)(selfFp) { staging =>
      rebuildIvf(spark, ivfBase, staging)
      copyStateInto(ivfBase, staging)
    }.getOrElse(selfFp)
  }

  /** The recall audit entirely off the artifacts (the s24 posture):
    * exact top-10 truth over the stored vectors vs what the compressed
    * pair actually serves for the `vec_id % 4 = 0` panel (the s23/s24
    * convention). The exact-truth pass is O(|panel| · n). Returns
    * `(queries, truthRows, hits)`. */
  private def auditRecall(spark: org.apache.spark.sql.SparkSession,
      ivfBase: String, pqBase: String): (Int, Long, Long) = {
    val inPanel = col("vec_id") % 4 === 0
    val lists = IndexDelete.liveListsAt(spark, ivfBase)
    val panel = lists.filter(inPanel)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val nvAll = lists.select(col("vec_id"),
      expr(Similarity.UnitNvExpr).as("nv"))
    Similarity.recallCounts(Similarity.exactTop10(nvAll, inPanel),
      Similarity.serveFrom(CodeTable.Pq, spark, panel, ivfBase, pqBase))
  }

  // ---------------------------------------------------------------
  // Generation-pointer pair: the retrain posture with NO mixed window
  // ---------------------------------------------------------------

  /** Name of the pointer file at a pair root. The pointed-to
    * generation dir holds the serving `ivf`/`pq` artifact pair;
    * retrains build the NEXT generation completely beside it and then
    * swap this one pointer atomically — so a reader that resolves the
    * pair through [[resolvePair]] can never observe a new-IVF/old-PQ
    * mix, closing the publish gap the in-place
    * [[recallGateAndRetrain]] accepts as a maintenance-window
    * contract (VERDICT r11 #2). */
  private val CurrentName = "CURRENT"

  private def genPaths(pairBase: String, gen: String): (String, String) =
    (memberGenPath(pairBase, gen, IndexFamily.Ivf.member),
      memberGenPath(pairBase, gen, CodeTable.Pq.member))

  /** The derived generation members the pair machinery can carry
    * beyond the core IVF-PQ pair (see [[bootstrapPair]]'s `derived`).
    * Every kind here must be fully derivable from the IVF artifact —
    * that is what makes the heal, the adoption and the co-retrain
    * mechanical. Presence is self-describing: a generation that has a
    * member's dir carries the table through every retrain; one that
    * never did stays a pure IVF-PQ pair. */
  private val DerivedKinds: Seq[CodeTable] = Seq(CodeTable.Sq, CodeTable.Bq)

  private def memberGenPath(pairBase: String, gen: String,
      member: String): String = {
    val (fs, root) = fsb(pairBase)
    fs.join(fs.join(root, gen), member)
  }

  private def memberIfPresent(pairBase: String, gen: String,
      member: String): Option[String] = {
    val p = memberGenPath(pairBase, gen, member)
    if (fsb(pairBase)._1.isDir(p)) Some(p) else None
  }


  /** The serving generation named by the pointer, e.g. `"g3"`; None
    * before [[bootstrapPair]] completes. */
  def currentGen(pairBase: String): Option[String] = {
    val (fs, root) = fsb(pairBase)
    val p = fs.join(root, CurrentName)
    if (fs.isFile(p)) Some(fs.read(p).trim) else None
  }

  /** Resolve the pair root to the CURRENT generation's concrete
    * `(ivfBase, pqBase)` — the one read every probe, sink batch and
    * audit starts from. Resolving ONCE and using both paths is what
    * guarantees a consistent pair: generations are immutable except
    * for appends to the current one, and the pointer swap is a single
    * atomic rename. */
  def resolvePair(pairBase: String): (String, String) =
    genPaths(pairBase, requireGen(pairBase))

  /** The CURRENT generation's base of code-table member `t`, when the
    * generation carries one (PQ always; SQ8/BQ when bootstrapped with
    * them in `derived`) — same consistency rule as [[resolvePair]]:
    * resolve once, use the returned path for the whole probe. */
  def resolveMember(t: CodeTable, pairBase: String): Option[String] =
    memberIfPresent(pairBase, requireGen(pairBase), t.member)

  private def swapCurrent(pairBase: String, gen: String): Unit = {
    val (fs, root) = fsb(pairBase)
    // ENFORCED, not advisory (review-caught): on a binding whose
    // replace degrades to delete+rename, a crash in the absence
    // window (or a failed rename after the delete) leaves the pair
    // pointer-less — the next bootstrap then adopts g0 and the
    // retention sweep would destroy the NEWEST generation. Better to
    // refuse the swap than to risk the pointer.
    require(fs.replaceIsAtomic,
      s"generation pointers need an ATOMIC replace; the backend for " +
        s"$pairBase lacks one (no AbstractFileSystem binding for its " +
        "scheme) — bind one (HDFS ships Hdfs) or host the pair root " +
        "on a POSIX path")
    fs.mkdirs(root)
    fs.writeAtomicReplace(fs.join(root, CurrentName), gen)
  }

  /** One-time bootstrap of a generation-pointer pair: generation `g0`
    * is built completely (IVF, then PQ sharded by its cells, then each
    * `derived` code table) and only then named by the pointer.
    * Idempotent: a crash before the pointer write re-runs both
    * bootstraps (valid artifacts no-op) and just writes the pointer;
    * an existing pointer delegates to the per-artifact
    * initialize-only semantics. */
  def bootstrapPair(pairBase: String, vectors: DataFrame,
      derived: Seq[CodeTable] = Nil): BootstrapStatus = {
    val current = currentGen(pairBase)
    val gen = current.getOrElse("g0")
    val ivfBase = genPaths(pairBase, gen)._1
    // the pair-level status is the WORST member status: discarding
    // the PQ call's result made "IVF current, PQ kept-divergent" (a
    // crash-recovered half-lifecycle) read as a clean repeat run
    // (ADVICE r11 #4 follow-through, VERDICT r12 #6). IVF bootstraps
    // first: PQ shards by its cells
    val s = Seq[PairMember](IndexFamily.Ivf, CodeTable.Pq).map { m =>
      bootstrap(m.over(ivfBase), memberGenPath(pairBase, gen, m.member),
        vectors)
    }.reduce(BootstrapStatus.worst)
    derived.foreach(
      adoptMember(vectors.sparkSession, pairBase, gen, ivfBase, _))
    if (current.isDefined) s
    else {
      // pointer absent but g0 artifacts possibly alive (a crash
      // between the member builds and the pointer write): the re-run's
      // inner statuses distinguish the clean retry (same corpus → the
      // pointer write completes the bootstrap → Built) from the
      // operator error (CHANGED corpus → the pair adopts the existing
      // g0 artifacts, which must surface as divergence, not report
      // Built over vectors it does not index)
      swapCurrent(pairBase, gen)
      if (s == BootstrapStatus.KeptDivergent) s else BootstrapStatus.Built
    }
  }

  /** Add (or heal) a generation's derived member. LATE adoption — a
    * `derived` kind on a pair that has already streamed appends —
    * must NOT build from the offered bootstrap corpus: that table
    * would silently miss every appended vector and, carrying an empty
    * mark map, defer every future retrain forever (checkpointed
    * sources never replay the committed batches that would
    * fast-forward it). The IVF sibling is the one source that is
    * always complete, so adoption IS the heal: build from the lists,
    * adopt the IVF fingerprint, copy the IVF marks. An existing valid
    * member is kept untouched (initialize-only, like every bootstrap).
    * On a fresh generation this is content-identical to encoding the
    * offered corpus — the lists ARE its assignment. */
  private def adoptMember(spark: org.apache.spark.sql.SparkSession,
      pairBase: String, gen: String, ivfBase: String, t: CodeTable): Unit =
    healMember(spark, ivfBase, memberGenPath(pairBase, gen, t.member),
      ArtifactStore.currentFingerprint(ivfBase).getOrElse(
        throw new IllegalStateException(
          s"no valid IVF artifact at $ivfBase — bootstrap failed?")), t)

  /** The paired-generation append sink of member `m` (the IVF lists;
    * PQ always present; SQ8/BQ when the generation was bootstrapped
    * with them in `derived`): each micro-batch resolves the CURRENT
    * generation once and appends to that generation's member, bound
    * over that generation's IVF base. Same replay contract as the
    * fixed-base sinks (the high-water mark lives in each generation's
    * artifact and is carried across retrains) PLUS
    * the swap-race guard: if the pointer moved while the batch was
    * committing, the commit landed on a RETIRED generation whose rows
    * the new one does not contain — the sink then throws, the
    * streaming query fails the batch, and the framework's replay
    * lands on the new generation (whose mark map predates the commit,
    * so the replay appends instead of skipping). Together with the
    * gate's pre-swap mark re-check this closes the silent-drop
    * windows around a concurrent retrain (review-caught r12). */
  def appendSinkPaired(m: PairMember, pairBase: String,
      appId: String = DefaultApp)(batch: DataFrame, batchId: Long): Unit =
    onCurrentGen(pairBase, batchId) { gen =>
      appendSink(m.over(genPaths(pairBase, gen)._1),
        memberGenPath(pairBase, gen, m.member), appId)(batch, batchId)
    }

  /** [[appendSinkPaired]]'s DELETE twin ([[deleteSink]]):
    * tombstones land on the current generation's IVF base — the
    * pair's single membership truth. The compressed members' code
    * tables keep the deleted ids' codes until maintenance (the serve
    * path's exact refine already drops them — it inner-joins the live
    * lists — at worst costing a few diluted rerank-pool slots, the
    * s26 post-filter class); the next compaction or gate retrain
    * physicalizes the removal everywhere. */
  def ivfDeleteSinkPaired(pairBase: String, appId: String = DefaultApp)(
      batch: DataFrame, batchId: Long): Unit =
    onCurrentGen(pairBase, batchId) { gen =>
      deleteSink(IndexFamily.Ivf, genPaths(pairBase, gen)._1, appId)(
        batch, batchId)
    }

  /** The one generation guard every paired sink runs: resolve the
    * CURRENT generation, commit the batch there, then fail the batch
    * if the pointer moved meanwhile (see [[appendSinkPaired]]). */
  private def onCurrentGen(pairBase: String, batchId: Long)(
      sink: String => Unit): Unit = {
    val gen = requireGen(pairBase)
    sink(gen)
    requireGenUnmoved(pairBase, gen, batchId)
  }

  private def requireGen(pairBase: String): String =
    currentGen(pairBase).getOrElse(throw new IllegalStateException(
      s"no CURRENT generation at $pairBase — bootstrapPair first"))

  private def requireGenUnmoved(pairBase: String, gen: String,
      batchId: Long): Unit = {
    val now = currentGen(pairBase)
    if (!now.contains(gen)) throw new IllegalStateException(
      s"generation at $pairBase swapped $gen -> ${now.getOrElse("?")} " +
        s"during batch $batchId: committed to a retired generation — " +
        s"failing the batch so the replay lands on the current one")
  }

  /** The recall gate over a generation-pointer pair — same
    * audit → integer decision → retrain loop as
    * [[recallGateAndRetrain]], but the retrain builds the ENTIRE next
    * generation (IVF, then PQ sharded by the new cells, replay marks
    * staged across) under `pairBase/g<N+1>` while `g<N>` keeps
    * serving, and then swaps the pointer atomically. Probes resolving
    * through [[resolvePair]] therefore observe the complete old pair
    * or the complete new pair — NEVER new-IVF/old-PQ — at every
    * instant, including the whole PQ-training span the in-place
    * posture leaves mixed. Generations before the one just replaced
    * are deleted (one-generation grace for readers that resolved
    * before the swap and are still scanning — the same reason Lucene
    * keeps the previous commit point until the next one).
    *
    * A generation bootstrapped with derived members (SQ8, BQ) carries
    * each table through the same machinery: healed from the IVF
    * sibling, its replay mark part of the skew deferral and the
    * pre-swap re-check, rebuilt against the new generation's cells
    * before the pointer moves — so the never-mixed guarantee covers
    * every artifact of the generation.
    *
    * `midBuild` is a test seam invoked between the two artifact
    * builds — the widest point of the old mixed window. */
  def recallGateAndRetrainPaired(spark: org.apache.spark.sql.SparkSession,
      pairBase: String,
      midBuild: () => Unit = () => ()): (Int, Long, Boolean, Boolean) = {
    val gen = requireGen(pairBase)
    val (ivfBase, pqBase) = genPaths(pairBase, gen)
    // derived generation members join the heal, the skew deferral, the
    // build and the swap-race re-check — presence is the gen dir, not
    // the marker, so a crashed member publish heals instead of silently
    // dropping the table from the next generation
    gateCycle(spark, ivfBase, (CodeTable.Pq -> pqBase) +:
        DerivedKinds.flatMap(t =>
          memberIfPresent(pairBase, gen, t.member).map(t -> _))) {
        (ivfFp, members, marksBefore) =>
      val next = s"g${gen.stripPrefix("g").toLong + 1}"
      val ivfNew = genPaths(pairBase, next)._1
      // same vector set → the new generation carries the SAME
      // fingerprint (content-derived, layout/model-insensitive); a
      // crashed prior attempt at this generation either revalidates
      // (no appends since — identical content) or rebuilds (ensure
      // sees the fingerprint moved)
      ArtifactStore.ensure(ivfNew, ivfFp) { staging =>
        rebuildIvf(spark, ivfBase, staging)
        copyStateInto(ivfBase, staging)
      }
      midBuild() // the old mixed window: g<N> still serves, complete
      // vectors and cells from the NEW generation's lists, so each
      // code table shards identically to what it will serve beside
      val newLists = IndexDelete.liveListsAt(spark, ivfNew)
      members.foreach { case (t, p) =>
        ArtifactStore.ensure(memberGenPath(pairBase, next, t.member),
            ivfFp) { staging =>
          buildMember(t, newLists, staging)
          copyStateInto(p, staging)
        }
      }
      // swap-race guard: a sink that committed to g<N> DURING the
      // builds put rows (and marks) there that g<N+1> does not carry —
      // swapping would silently drop them. Abandon the swap instead
      // (the next cycle retrains against the moved fingerprint; the
      // half-built generation is revalidated-or-rebuilt by ensure).
      // The IVF side compares the FULL mark map (delete marks included:
      // the new generation was built from lists read BEFORE a racing
      // delete, so swapping would silently UNDO it). Together with the
      // sinks' post-commit pointer re-check this leaves no commit
      // unaccounted for (review-caught r12).
      val raced = readState(ivfBase) != marksBefore ||
        members.exists { case (_, p) =>
          appendMarksOf(readState(p)) != appendMarksOf(marksBefore) }
      if (!raced) {
        swapCurrent(pairBase, next)
        // retention: keep the just-replaced generation as the reader
        // grace copy; everything older goes — plus pointer-swap tmp
        // orphans from crashed swapCurrent calls: nothing else reaps
        // the pair ROOT (the .tmp-* reaper runs inside artifact bases
        // only), and pair maintenance is single-maintainer by design,
        // so a .tmp- file here is always a prior crash's remnant
        // (review-caught)
        val (fs, root) = fsb(pairBase)
        fs.childNames(root)
          .filter(n => (n.startsWith("g") && n != next && n != gen) ||
            n.startsWith(".tmp-"))
          .map(fs.join(root, _))
          .foreach(fs.delete)
      }
      !raced
    }
  }

  /** Stage the replay high-water mark from a live artifact into a
    * new generation's staging dir (staged with the data: a
    * post-publish copy would be an unmanifested extra file). */
  private def copyStateInto(fromBase: String, staging: String): Unit = {
    val (fs, b) = fsb(fromBase)
    val st = fs.join(b, "stream_state")
    if (fs.isFile(st))
      fs.writeAtomic(fs.join(staging, "stream_state"), fs.read(st))
  }

  /** THE IVF rebuild the self-heal and both gate retrains share:
    * `from`'s live vectors retrained into `staging` at `from`'s STORED
    * centroid count, so an index bootstrapped at ⌈√n⌉ cells keeps that
    * count through every heal and retrain (the cell count is recorded
    * nowhere else). Deterministic training makes the result
    * row-identical to a from-scratch bootstrap of the same vectors at
    * that count. */
  private def rebuildIvf(spark: org.apache.spark.sql.SparkSession,
      from: String, staging: String): Unit =
    IndexFamily.Ivf(Similarity.centroidsAt(spark, from).count().toInt)
      .build(liveVectors(spark, from), staging)

  /** The live `(vec_id, embedding, norm)` rows of the IVF artifact at
    * `base` — stored members minus tombstones. */
  private def liveVectors(spark: org.apache.spark.sql.SparkSession,
      base: String): DataFrame =
    IndexDelete.liveListsAt(spark, base)
      .select(col("vec_id"), col("embedding"), col("norm"))

  /** The code-table heal shared by both gate postures and
    * [[bootstrapPair]]'s adoption path, one
    * [[graft.io.ArtifactStore.keepOrBuild]]: roll back a crashed
    * publish first, then rebuild a still-invalid (or absent) member
    * entirely from the IVF artifact — the self-heal path for a
    * marker-less base (crash inside a prior rewrite) and the one place
    * a code table's fingerprint is SET rather than chained: the rebuilt
    * content is exactly the IVF lists' vector set (the models are
    * vector-set-pure and reproduce bit-identically — or do not exist;
    * the cells come from the lists), so it carries the IVF artifact's
    * fingerprint and the replay mark is copied from the IVF artifact's
    * `stream_state` (the build sweeps the old one with the other stale
    * children). A valid member is untouched. */
  private def healMember(spark: org.apache.spark.sql.SparkSession,
      ivfBase: String, base: String, ivfFp: String, t: CodeTable): Unit = {
    ArtifactStore.keepOrBuild(base)(ivfFp) { staging =>
      buildMember(t, IndexDelete.liveListsAt(spark, ivfBase), staging)
      // the replay mark is STAGED with the data (a post-publish copy
      // would be an unmanifested extra file — the artifact would fail
      // its own manifest validation and read as absent)
      copyStateInto(ivfBase, staging)
    }
    ()
  }

  /** Per-partition-dir fragmentation of a partitioned table: the
    * MAXIMUM part-file count across the partition dirs (`cell=*`,
    * `tbucket=*`, `band=*`) under `base/$sub` — each append adds one
    * file per touched partition, so this is "how many appends since the
    * last compaction" for the hottest one. 0 when the table does not
    * exist yet. */
  def fragmentation(base: String, sub: String): Int = {
    val (fs, b) = fsb(base)
    val root = fs.join(b, sub)
    val perDir = fs.childNames(root)
      .map(fs.join(root, _)).filter(fs.isDir)
      .map(d => fs.childNames(d).count(_.startsWith("part-")))
    if (perDir.isEmpty) 0 else perDir.max
  }

  /** Compaction POLICY — the scheduler knob the raw `compact` calls
    * lack: merge a streaming-maintained member's layout only when the
    * hottest partition of its [[IndexMember.layoutDir]] has accumulated
    * at least `maxFilesPerCell` part files, or as many delete batches
    * have tombstoned it. Compacting after every batch would rewrite the
    * whole table per append (O(index) work for O(batch) input — the
    * write-amplification failure Lucene's tiered merge policy exists
    * to avoid); never compacting degrades every probe with per-file
    * open/footer costs. The threshold is the tier: appends are
    * amortized against a bounded number of files per cell. Returns
    * true iff a compaction actually ran. */
  def maybeCompact(m: IndexMember, spark: org.apache.spark.sql.SparkSession,
      base: String, maxFilesPerCell: Int = 4): Boolean =
    (fragmentation(base, m.layoutDir) >= maxFilesPerCell ||
      tombstoneFiles(base) >= maxFilesPerCell) &&
      compact(m, spark, base)

  /** Accumulated tombstone part-file count — [[maybeCompact]]'s
    * second trigger: each [[deleteSink]] batch appends one file, so
    * this is "delete batches since the last compaction" (the cheap
    * driver-side proxy for Lucene's deleted-docs-ratio merge trigger;
    * an exact ratio would read parquet row counts per policy check).
    * Always 0 on a code table, which takes no deletes. */
  def tombstoneFiles(base: String): Int = {
    val (fs, b) = fsb(base)
    fs.childNames(fs.join(b, "tombstones")).count(_.startsWith("part-"))
  }
}
