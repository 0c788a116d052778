package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One cell-major compressed code table kind — the Faiss index-factory
  * suffix after `IVF16,` (`PQ8`, `SQ8`, binary). The three kinds share
  * one artifact layout (`codes/` = `(vec_id, <codes…>) PARTITIONED BY
  * cell`, sharded identically to the IVF lists, plus an optional model
  * dir) and one lifecycle, so a value here holds ONLY what differs
  * between kinds:
  *
  *  - the generation member name and the stored-codes schema (whose
  *    field order is also the compaction's column order);
  *  - [[buildFromNv]] over a `(vec_id, cell, nv)` frame (train, if the
  *    kind has a model, then encode and write cell-major);
  *  - [[encode]]: the rows one streamed append writes, against a live
  *    base's FROZEN model;
  *  - the coarse stage of the filter-then-verify pair: the stored
  *    candidate frame, the query-side frame, the score and its rank
  *    order, and the rank column the servers output.
  *
  * Everything else is written once over the kind: the candidate pool
  * and the servers in [[Similarity]] (one coarse pool per kind feeding
  * the shared exact refine) and the gate's heal/retrain in
  * [[graft.stream.IndexIngest]]. Bound to its IVF sibling ([[over]]) a
  * kind is an [[IndexMember]] like the three index families, so the
  * bootstrap, append sink, compaction and paired sink are the
  * families' own. A code table takes no deletes: its rows are derived
  * from the IVF lists, which carry the pair's tombstones. */
sealed abstract class CodeTable(val member: String, val schema: StructType,
    val rankCol: String) extends PairMember {

  /** Build the whole table (model dir + `codes/`) under `staging` from
    * unit vectors with their cell riding each row. */
  def buildFromNv(nvc: DataFrame, staging: String): Unit

  /** The `codes/` rows one append writes: the normed batch `v`
    * `(vec_id, embedding, norm)` encoded against the frozen model at
    * `live`, cells by assignment to `ivfBase`'s stored centroids. */
  def encode(v: DataFrame, ivfBase: String, live: String): DataFrame

  /** The stored codes at `base`, candidate-shaped: `(cell,
    * neighbor_id, …)` with whatever the score reads. */
  def stored(spark: SparkSession, base: String): DataFrame

  /** The query-side frame `(query_id, …)` over unit query vectors
    * `(vec_id, nv)`, against `base`'s stored model. */
  def query(qnv: DataFrame, base: String): DataFrame

  /** Whether the query-side frame joins as a broadcast. */
  def broadcastQuery: Boolean

  /** The coarse score column, its expression over one candidate ⋈
    * query row, and the rank order it sorts by (best first). */
  def scoreCol: String
  def score: Column
  def order: Column

  /** This table as the streaming index member beside the IVF
    * artifact at `ivfBase`: it fingerprints and prepares rows as IVF
    * does (the table indexes the same vector set), builds and encodes
    * with cells by assignment to `ivfBase`'s stored centroids — so the
    * codes shard identically to the lists from the first byte — and
    * compacts by re-sorting each cell partition of `codes/` into one
    * file. The model dir (PQ's codebook, SQ8's params) is never
    * restaged by a compaction, so it survives the publish byte for
    * byte; streamed batches encode against that FROZEN model (never a
    * retrain — the recall gate is where a drifted model fires one). */
  def over(ivfBase: String): IndexMember =
    new IndexMember(IndexFamily.Ivf.rowHash) {
      override def prepare(rows: DataFrame): DataFrame =
        IndexFamily.Ivf.prepare(rows)
      def build(v: DataFrame, staging: String): Unit =
        buildFromNv(CodeTable.assignedNv(v, ivfBase), staging)
      def append(v: DataFrame, live: String, batchId: Long,
          appId: String): Unit =
        graft.io.Store.writePartitionedParquet(encode(v, ivfBase, live),
          s"$live/codes", Seq("cell"), Seq("vec_id"), SaveMode.Append)
      def compactInto(spark: SparkSession, live: String,
          staging: String): Unit =
        graft.io.Store.writePartitionedParquet(
          spark.read.schema(schema).parquet(s"$live/codes")
            .select(schema.fieldNames.toSeq.map(col): _*),
          s"$staging/codes", Seq("cell"), Seq("vec_id"))
      def layoutDir: String = "codes"
    }
}

object CodeTable {

  /** The `(vec_id, cell, nv)` frame every build takes, from any frame
    * carrying `(vec_id, cell, embedding, norm)` — the stored lists, or a
    * batch assigned to stored centroids. */
  private[graft] def cellNv(lists: DataFrame): DataFrame = lists
    .withColumn("nv", expr(Similarity.UnitNvExpr))
    .select(col("vec_id"), col("cell"), col("nv"))

  /** A normed batch as the build/encode frame: unit vectors with the
    * cell from assignment to `ivfBase`'s stored centroids. */
  private[graft] def assignedNv(v: DataFrame, ivfBase: String): DataFrame =
    cellNv(Similarity.assignToCentroids(v,
      Similarity.centroidsAt(v.sparkSession, ivfBase)))

  /** Product quantization (s21/s22/s26–s28): the 8-byte ADC codes
    * against a trained 128-row codebook; the coarse score is the
    * codegen'd 8-lookup sum over the query's broadcast LUT. */
  object Pq extends CodeTable("pq", Similarity.pqCodesSchema, "adc_rank") {
    def buildFromNv(nvc: DataFrame, staging: String): Unit =
      Similarity.pqBuildFromNv(nvc.select(col("vec_id"), col("nv")),
        staging, nvc.select(col("vec_id"), col("cell")))
    def encode(v: DataFrame, ivfBase: String, live: String): DataFrame = {
      val spark = v.sparkSession
      val cb = graft.io.Load.parquet(spark, s"$live/codebook")
      val cells = Similarity.assignToCentroids(v,
        Similarity.centroidsAt(spark, ivfBase))
        .select(col("vec_id"), col("cell"))
      Similarity.pqEncode(Similarity.pqSub(Similarity.pqNvFrame(v)), cb)
        .join(cells, "vec_id")
    }
    def stored(spark: SparkSession, base: String): DataFrame =
      spark.read.schema(schema).parquet(s"$base/codes")
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("codes"))
    def query(qnv: DataFrame, base: String): DataFrame =
      Similarity.pqLut(Similarity.pqSub(qnv),
        graft.io.Load.parquet(qnv.sparkSession, s"$base/codebook"))
    def broadcastQuery: Boolean = true
    def scoreCol: String = "score"
    def score: Column = expr(Similarity.adcScoreExpr)
    def order: Column = col("score").desc
  }

  /** Scalar quantization, QT_8bit (s29): 64 B codes against one
    * trained `(vmin, vdiff)` params row; the coarse score reconstructs
    * each candidate once and takes the quantized dot. */
  object Sq extends CodeTable("sq", Similarity.sqCodesSchema, "sq_rank") {
    def buildFromNv(nvc: DataFrame, staging: String): Unit =
      Similarity.sqBuildFromNv(nvc, staging)
    def encode(v: DataFrame, ivfBase: String, live: String): DataFrame =
      Similarity.sqEncode(assignedNv(v, ivfBase),
        graft.io.Load.parquet(v.sparkSession, s"$live/params"))
    /** `rv_j = vmin_j + code_j·vdiff_j/255` (Faiss
      * `ScalarQuantizer::decode`). */
    def stored(spark: SparkSession, base: String): DataFrame =
      spark.read.schema(schema).parquet(s"$base/codes")
        .select(col("cell"), col("vec_id").as("neighbor_id"), col("scodes"))
        .join(broadcast(graft.io.Load.parquet(spark, s"$base/params")),
          lit(true))
        .withColumn("rv", expr(
          "transform(scodes, (c, j) -> element_at(vmin, j + 1) + " +
            "(CAST(c AS DOUBLE) * element_at(vdiff, j + 1)) / 255.0)"))
        .select(col("cell"), col("neighbor_id"), col("rv"))
    def query(qnv: DataFrame, base: String): DataFrame =
      qnv.select(col("vec_id").as("query_id"), col("nv").as("qnv"))
    def broadcastQuery: Boolean = false
    def scoreCol: String = "score"
    def score: Column = Similarity.quantized(expr("vec_dot(qnv, rv)"))
    def order: Column = col("score").desc
  }

  /** Binary quantization (s30): 64 sign bits in two 32-bit halves, no
    * model at all; the coarse score is the two-popcount Hamming
    * distance, ranked ascending. */
  object Bq extends CodeTable("bq", Similarity.bqCodesSchema, "bq_rank") {
    def buildFromNv(nvc: DataFrame, staging: String): Unit =
      graft.io.Store.writePartitionedParquet(
        Similarity.bqBits(nvc), s"$staging/codes", Seq("cell"), Seq("vec_id"))
    def encode(v: DataFrame, ivfBase: String, live: String): DataFrame =
      Similarity.bqBits(assignedNv(v, ivfBase))
    def stored(spark: SparkSession, base: String): DataFrame =
      spark.read.schema(schema).parquet(s"$base/codes")
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("bits_lo").as("clo"), col("bits_hi").as("chi"))
    def query(qnv: DataFrame, base: String): DataFrame =
      Similarity.bqBits(qnv)
        .select(col("vec_id").as("query_id"),
          col("bits_lo").as("qlo"), col("bits_hi").as("qhi"))
    def broadcastQuery: Boolean = true
    def scoreCol: String = "hamming"
    def score: Column = expr("bit_count(qlo ^ clo) + bit_count(qhi ^ chi)")
    def order: Column = col("hamming").asc
  }
}
