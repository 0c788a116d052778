package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One streaming-maintained index — what the lifecycle verbs of
  * [[graft.stream.IndexIngest]] need and nothing more: the six
  * persisted node outputs downstream nodes reuse
  * (`R/DataFrameOperationR.R:124-197`) that also take streamed
  * appends. The three [[IndexFamily]] values (IVF lists, BM25
  * segments, LSH bands) are members themselves; a [[CodeTable]] kind
  * (PQ, SQ8, BQ codes) becomes one once bound to its IVF sibling
  * ([[CodeTable.over]]). A value here holds only what differs between
  * members:
  *
  *  - the row-hash fingerprint kernel ([[rowHash]], [[parts]],
  *    [[partsWhere]]): the chained marker is `(n, ⊕ rowHash)` over the
  *    live members, so appends compose `fp(A ∪ B) = (nA+nB, xA⊕xB)` and
  *    removals `fp(A∖D) = (nA−nD, xA⊕xD)` — which only holds while
  *    every writer hashes a row through this one kernel;
  *  - the batch preparation ([[prepare]]), the full [[build]] and the
  *    [[append]] body;
  *  - the live-rows compaction body ([[compactInto]]) and the
  *    partitioned child whose file count drives the compaction policy
  *    ([[layoutDir]]).
  *
  * The protocol is written once over the member: the initialize-only
  * bootstrap, the exactly-once append sink, compaction and its policy
  * in [[graft.stream.IndexIngest]]. */
abstract class IndexMember(val rowHash: Column) {

  /** Fingerprint parts `(count, xor of row hashes)` of `df`. */
  def parts(df: DataFrame): (Long, Long) = partsWhere(df, lit(true)).head

  /** [[parts]] of `df.filter(p)` for each of `preds`, all from ONE scan
    * ([[graft.io.ArtifactStore.partsWhere]]). */
  def partsWhere(df: DataFrame, preds: Column*): Seq[(Long, Long)] =
    graft.io.ArtifactStore.partsWhere(df, rowHash, preds)

  /** The rows a bootstrap or append indexes, from the caller's frame;
    * the fingerprint is taken over these. */
  def prepare(rows: DataFrame): DataFrame = rows

  /** The whole index over prepared `rows`, written into `staging`. */
  def build(rows: DataFrame, staging: String): Unit

  /** Fold one prepared batch into the live base — only new files. */
  def append(rows: DataFrame, live: String, batchId: Long,
      appId: String): Unit

  /** The compaction body: `live`'s LIVE rows (tombstoned members
    * dropped) rewritten into `staging` in one file per partition. */
  def compactInto(spark: SparkSession, live: String, staging: String): Unit

  /** The partitioned child each append adds files to — what the
    * compaction policy counts per partition dir. */
  def layoutDir: String
}

/** A member of a generation-pointer pair
  * ([[graft.stream.IndexIngest.bootstrapPair]]): the IVF lists, or a
  * [[CodeTable]] sharded by them. `member` names its dir inside a
  * generation; [[over]] binds it to that generation's IVF base. */
trait PairMember {
  def member: String
  def over(ivfBase: String): IndexMember
}

/** One mutable index family: IVF inverted lists, BM25 segments, LSH
  * band postings. Beyond the [[IndexMember]] lifecycle the three also
  * take deletes (exactly-once delete sink, batch `remove_ids`), so a
  * family adds what a removal resolves through:
  *
  *  - the member id column ([[idCol]]) — also the stored tombstones'
  *    column;
  *  - the stored `(id, hash)` rows ([[stored]], [[storedHash]]) — a
  *    delete request carries only ids.
  *
  * The delete verbs take an `IndexFamily`, so a delete against a code
  * table does not compile: its codes are derived from the IVF
  * sibling, which is the pair's one membership truth. The removal plan
  * and batch `applyDeletes` live in [[IndexDelete]]. */
sealed abstract class IndexFamily(val idCol: String, hash: Column)
    extends IndexMember(hash) {

  /** The stored rows carrying every member's [[idCol]] and
    * [[storedHash]] — what a removal resolves its victims through. */
  def stored(spark: SparkSession, base: String): DataFrame

  /** The stored value of [[rowHash]] on a [[stored]] row. */
  def storedHash: Column
}

object IndexFamily {

  /** The vector family: `(vec_id, embedding)` rows in cell-major
    * inverted lists. `cells` is the trained centroid count — the
    * fixture default stays 16 (oracle parity with the batch queries);
    * a production bootstrap over a large corpus passes ⌈√n⌉ (PERF.md
    * round-14: the lever that keeps probe cost O(√n·nprobe)). Appends
    * and probes read the stored centroid frame; heals and retrains
    * retrain at the stored centroid count. */
  class Ivf private[IndexFamily] (val cells: Int) extends IndexFamily(
      "vec_id", xxhash64(to_json(struct(col("vec_id"), col("embedding")))))
      with PairMember {
    def member: String = "ivf"
    /** The lists are their own IVF sibling. */
    def over(ivfBase: String): IndexMember = this
    /** Rows with their `norm`; zero vectors (cosine 0/0) dropped. */
    override def prepare(rows: DataFrame): DataFrame = {
      graft.functions.VectorExpressions.register(rows.sparkSession)
      rows.withColumn("norm", sqrt(expr("vec_dot(embedding, embedding)")))
        .filter(col("norm") > 0)
    }
    def build(v: DataFrame, staging: String): Unit =
      Similarity.ivfBuildFrom(v, staging, cells)
    def append(v: DataFrame, live: String, batchId: Long,
        appId: String): Unit =
      Similarity.ivfAppendInto(v, live)
    def stored(spark: SparkSession, base: String): DataFrame =
      Similarity.invertedListsAt(spark, base)
    def storedHash: Column = rowHash
    /** Every cell's per-batch files rewritten into one sorted file per
      * cell partition, tombstoned rows omitted. */
    def compactInto(spark: SparkSession, live: String, staging: String): Unit =
      Similarity.writeLists(IndexDelete.liveListsAt(spark, live), staging)
    def layoutDir: String = "assignments"
  }

  object Ivf extends Ivf(16) {
    def apply(cells: Int): Ivf = new Ivf(cells)
  }

  /** The document row hash both text families chain. */
  private val docRowHash = xxhash64(col("doc_id"), col("text"))

  /** The lexical family: `(doc_id, text)` rows in BM25 segments — the
    * `base` segment from the bootstrap, one delta segment per appended
    * batch, each with segment-local df and totals — plus the per-doc
    * `dochash` identity sidecar deletes resolve through. */
  object Bm25 extends IndexFamily("doc_id", docRowHash) {
    def build(docs: DataFrame, staging: String): Unit = {
      Retrieval.writeSegment(docs, Some("base"), staging)
      Retrieval.writeDocHash(docs, staging)
    }
    /** One delta segment per batch. The tag is lineage-unique: the
      * merged probe counts df as the distinct `(term, seg, df)` rows
      * summed per term, so two lineages' batch 0 sharing one tag would
      * count a term once where both segments carry it. The default
      * lineage keeps the plain `b<batchId>` tag. */
    def append(docs: DataFrame, live: String, batchId: Long,
        appId: String): Unit = {
      val seg =
        if (appId == graft.stream.IndexIngest.DefaultApp) s"b$batchId"
        else s"b$batchId@$appId"
      Retrieval.writeSegment(docs, Some(seg), live, SaveMode.Append)
      Retrieval.writeDocHash(docs, live, SaveMode.Append)
    }
    def stored(spark: SparkSession, base: String): DataFrame =
      Retrieval.docHashAt(spark, base)
    def storedHash: Column = col("h")
    def layoutDir: String = "postings"

    /** The Lucene merge, run WITHOUT re-reading any document text:
      * postings rows `(doc_id, dl, term, tf)` are segment-independent
      * facts, so the merged `base` segment is the LIVE rows' union
      * with df RECOUNTED over them (one term-keyed pass over the index
      * — index-sized, never corpus-sized). The merge is also where
      * lexical deletes become physical: totals are rebuilt from the
      * live dochash sidecar (postings cannot rebuild totals — a doc
      * whose text has no terms has no posting row). The fingerprint
      * survives: it names the indexed corpus, which a merge does not
      * change. */
    def compactInto(spark: SparkSession, live: String, staging: String): Unit = {
      val hasDochash = {
        val (fs, b) = graft.io.ArtifactStore.backend(live)
        fs.isDir(fs.join(b, "dochash"))
      }
      val p = IndexDelete.liveById(spark, live,
        spark.read.schema(Retrieval.segPostingsSchema)
          .parquet(s"$live/postings"), "doc_id")
      val merged = p
        .select(col("doc_id"), col("dl"), col("term"), col("tf"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
        .withColumn("seg", lit("base"))
        .withColumn("tbucket",
          pmod(xxhash64(col("term")), lit(Retrieval.PostingBuckets)))
      graft.io.Store.writePartitionedParquet(
        merged, s"$staging/postings", Seq("tbucket"),
        Seq("term", "doc_id"))
      if (hasDochash) {
        val liveDocs = IndexDelete.liveById(spark, live,
          Retrieval.docHashAt(spark, live), "doc_id")
        // the sidecar is the totals' authority: one row per LIVE doc
        liveDocs.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("t_tokens"))
          .withColumn("seg", lit("base"))
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/totals")
        liveDocs.coalesce(1).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").parquet(s"$staging/dochash")
      } else {
        // pre-dochash artifact (no deletes possible): segment-sum path
        graft.io.Load.parquet(spark, s"$live/totals")
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("t_tokens")).as("t_tokens"))
          .withColumn("seg", lit("base"))
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/totals")
      }
    }
  }

  /** The dedup family: `(doc_id, text)` rows as per-doc digest rows
    * plus MinHash band postings under 16 band partition dirs. */
  object Lsh extends IndexFamily("doc_id", docRowHash) {
    def build(docs: DataFrame, staging: String): Unit =
      Dedup.writeDedupIndexInto(docs, staging)
    def append(docs: DataFrame, live: String, batchId: Long,
        appId: String): Unit =
      Dedup.appendDedupIndexInto(docs, live)

    /** Digest-table signatures that already passed the pre-upgrade
      * row-completeness check, per base. The guard is an index-sized
      * aggregate, and the streaming delete sink plans a removal per
      * micro-batch — re-running it every batch is O(index)
      * driver-blocking work on the hot path, at odds with the
      * delete-is-O(deletes) posture (the Tokenizer.shippedMerges memo
      * pattern; ADVICE r12). Completeness is a property of the DIGEST
      * FILES, not the artifact fingerprint: a delete moves the
      * fingerprint but only appends tombstones (digest dir untouched →
      * memo hit, which is exactly the hot path), while an append or
      * compaction changes the digest file set → signature miss →
      * conservative re-check (a mixed pre/post-upgrade dir is precisely
      * an append-shaped change). Correctness never depends on the memo,
      * only the hot path's cost does. */
    private val layoutOk = new graft.io.BoundedMemo[String](1024)

    /** Cheap driver-side identity of a digest dir: sorted
      * `name:length` of its part files. Mtimes are excluded on purpose —
      * parquet files are immutable once closed; a same-name-same-length
      * rewrite goes through a staging swap that changes names. */
    private def digestDirSignature(base: String): String = {
      val (fs, b) = graft.io.ArtifactStore.backend(base)
      fs.filesUnder(fs.join(b, "digests"))
        .collect { case (rel, sz, _) if rel.startsWith("part-") =>
          s"$rel:$sz" }
        .sorted.mkString(",")
    }

    /** The per-doc digest rows, stored hash `h64`. Fails loud on a
      * pre-upgrade artifact whose digest rows carry no ids. */
    def stored(spark: SparkSession, base: String): DataFrame = {
      // pre-upgrade guard over EVERY stored row: md5-only digest rows
      // read as null doc_id/h64 through the declared schema, so they
      // would fall out of the semi-join and turn a legally-required
      // takedown into a silent no-op (with the replay mark still
      // advancing — the request consumed and lost). Checked UPSTREAM of
      // the semi-join as a row-complete aggregate, not a file-footer
      // peek: a mixed dir (pre-upgrade base rows + post-upgrade appended
      // rows) has new-format footers but still carries id-less rows
      // (review-caught, twice). Memoized per digest-dir signature — see
      // [[layoutOk]] — so a streaming delete lineage pays the
      // index-sized count once per digest-table generation, not per
      // batch (deletes never touch the digest files).
      val raw = spark.read.schema(Dedup.digestSchema).parquet(s"$base/digests")
      val sig = digestDirSignature(base)
      if (sig.isEmpty || !layoutOk.get(base).contains(sig)) {
        val chk = raw.agg(count(lit(1)).as("n"),
          count(col("doc_id")).as("nid"), count(col("h64")).as("nh"))
          .collect()(0)
        require(chk.getLong(0) == chk.getLong(1) &&
          chk.getLong(0) == chk.getLong(2),
          s"dedup index at $base carries digest rows without doc identity " +
            "(pre-upgrade layout; identity cannot be recovered from the " +
            "index) — rebuild from the corpus before applying takedowns")
        if (sig.nonEmpty) layoutOk.put(base, sig)
      }
      raw
    }
    def storedHash: Column = col("h64")
    def layoutDir: String = "bands"

    /** Each band partition's per-batch posting files rewritten to one
      * sorted file per band, and the digest rows (duplicated across
      * appends when base and batch shared text) re-distinct into one
      * file; tombstoned docs' postings and digest rows drop out. The
      * digest re-distinct only drops redundant rows the probe's
      * set-semantics membership join never saw. */
    def compactInto(spark: SparkSession, live: String, staging: String): Unit = {
      val bands = IndexDelete.liveById(spark, live,
        spark.read.schema(Dedup.bandIdxSchema).parquet(s"$live/bands"),
        "doc_id")
      graft.io.Store.writePartitionedParquet(
        bands.select(col("doc_id"), col("bucket"), col("band")),
        s"$staging/bands", Seq("band"), Seq("bucket", "doc_id"))
      IndexDelete.liveById(spark, live,
          spark.read.schema(Dedup.digestSchema).parquet(s"$live/digests"),
          "doc_id")
        .distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/digests")
    }
  }
}
