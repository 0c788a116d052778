package graft.io

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Reference-parity store surface (SURVEY.md §2.1 S9-S12).
  *
  * The reference stages the frame to a local temp CSV, then hand-rolls
  * the WebHDFS two-step PUT (`/root/reference/R/DataFrameOperationR.R:
  * 253-289`) and writes a JSON metadata sidecar describing columns and
  * types (`:232-246,290-296`). Spark-native: `df.write` goes straight
  * from executors to the filesystem — no driver staging, any number of
  * part files in parallel — and the sidecar becomes a small case class.
  * (The reference also reads `typeof` from a *global* frame instead of
  * its argument, `:237-245` — a bug; we describe the actual DataFrame.)
  */
object Store {

  /** The metadata sidecar (`R/DataFrameOperationR.R:293-296`). */
  case class ResultMeta(MetaData: String, MetaDataType: String,
      DataLocation: String, ModelLocation: String, PMMLLocation: String) {
    /** Reference escaping: quotes → backticks, no surrounding brackets. */
    def toEscapedJson: String = Manifest.escapeQuotes(toJson)
    def toJson: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      s"""{"MetaData": ${q(MetaData)}, "MetaDataType": ${q(MetaDataType)},
         | "DataLocation": ${q(DataLocation)},
         | "ModelLocation": ${q(ModelLocation)},
         | "PMMLLocation": ${q(PMMLLocation)}}""".stripMargin
    }
  }

  /** S9+S10: write the DataFrame as headerless CSV part files under
    * `<baseDir>/<uuid>/model/` (the reference's layout, `:257-258`) and
    * return the sidecar describing it. */
  def writeCsvWithMeta(df: DataFrame, baseDir: String,
      cfg: graft.GraftConfig = graft.GraftConfig()): ResultMeta = {
    val id = UUID.randomUUID().toString
    // the WRITE goes through the session-resolved path (this cluster's
    // authority stripped so the default FS serves it); the SIDECAR
    // locations all keep the caller's original prefix form, because the
    // reference qualifies DataLocation/ModelLocation/PMMLLocation with
    // one identical prefix (R/DataFrameOperationR.R:291-293) and an
    // external consumer of the manifest expects that form back. Either
    // way all three derive from ONE base — a qualified baseDir must
    // never yield a mixed-authority sidecar where the data path is
    // stripped but the model/pmml paths are not (writePmml on
    // meta.ModelLocation would then target a different filesystem than
    // the CSV it describes). Readers resolve via cfg.resolvePath.
    val writeBase = cfg.resolvePath(baseDir)
    df.write.mode(SaveMode.Overwrite).option("header", "false")
      .csv(s"$writeBase/$id/model")
    val locBase = baseDir.stripSuffix("/")
    ResultMeta(
      MetaData = df.columns.mkString(","),
      MetaDataType = df.schema.fields
        .map(f => TypeVocabulary.nameOf(f.dataType)).mkString(","),
      DataLocation = s"$locBase/$id/model",
      ModelLocation = s"$locBase/$id",
      PMMLLocation = s"$locBase/$id/pmml")
  }

  /** Scale-path sink (beyond the reference's CSV surface): Hive-style
    * partitioned parquet with deterministic in-file ordering. At 100 TB
    * this is THE layout decision — `partitionBy` gives readers
    * partition pruning (a `WHERE lang = 'en'` never opens other
    * directories), and the within-partition sort clusters each file so
    * min/max row-group stats prune inside files too.
    *
    * The explicit `repartition(partitionCols)` routes every output
    * partition value to one task, so a 1000-executor write produces one
    * file per (task, partition-value) instead of up to
    * tasks × values tiny files — the classic partitioned-write
    * small-file explosion. Skewed partition values would concentrate in
    * single tasks; callers with one giant value add a salt column to
    * `partitionCols` and drop it from the written frame.
    *
    * `SaveMode.Append` is the same layout written as new files into the
    * existing partition dirs — an index's incremental batch append. */
  def writePartitionedParquet(df: DataFrame, baseDir: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      cfg: graft.GraftConfig = graft.GraftConfig()): String = {
    val base = cfg.resolvePath(baseDir)
    import org.apache.spark.sql.functions.col
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(base)
    base
  }

  /** 2-D Morton (z-order) key over the low 16 bits of two integer
    * columns — the multi-dimensional clustering complement to
    * [[writePartitionedParquet]]'s single-dimension sort. A file sorted
    * by `(a, b)` gives row-group min/max skipping on `a` only; a file
    * sorted by the interleaved key keeps BOTH dimensions range-bounded
    * per file/row group (each contiguous key run is a small quad of the
    * (a,b) plane), so predicates on either column prune. This is how a
    * 100 TB fact table serves `WHERE ship_date = X` and
    * `WHERE part = Y` queries from one layout without a second copy.
    *
    * Pure closed-form bit arithmetic (the classic shift-or-mask bit
    * spread), fully codegen'd, byte-identical in any engine with 64-bit
    * `& | <<` — the oracle replays it in SQL. Callers quantize inputs
    * into 0..65535 first (ranks, days-since-epoch, hash buckets);
    * higher bits are masked off. */
  def zorderKey(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft}
    def spread(c: org.apache.spark.sql.Column) = {
      val m0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
      val m1 = m0.bitwiseOR(shiftleft(m0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val m2 = m1.bitwiseOR(shiftleft(m1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val m3 = m2.bitwiseOR(shiftleft(m2, 2)).bitwiseAND(lit(0x33333333L))
      m3.bitwiseOR(shiftleft(m3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** The same bit spread as SQL text, for oracle parity. */
  def zorderKeySql(a: String, b: String): String = {
    def spread(e: String): String = {
      val m0 = s"($e & 65535)"
      val m1 = s"(($m0 | ($m0 << 8)) & 16711935)"
      val m2 = s"(($m1 | ($m1 << 4)) & 252645135)"
      val m3 = s"(($m2 | ($m2 << 2)) & 858993459)"
      s"(($m3 | ($m3 << 1)) & 1431655765)"
    }
    s"(${spread(a)} | (${spread(b)} << 1))"
  }

  /** S11: write a PMML document as `<folder>/pmml/part-00000`
    * (`R/DataFrameOperationR.R:388-436`) — a single small file, so a
    * plain FileSystem write, not a Spark job. */
  def writePmml(df: DataFrame, folder: String, pmml: String): Unit = {
    val path = new Path(s"$folder/pmml/part-00000")
    val fs = path.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(pmml.getBytes("UTF-8")) finally out.close()
  }

  /** S12: job-status reporting. The reference POSTs
    * `{JobID: "application_<uuid>", Status: 2|3, ...}` to the control
    * plane (`R/DataFrameOperationR.R:205-225`); engine-side this is a
    * callback interface with an in-memory default. */
  case class JobStatus(jobId: String, nodeId: String, status: Int,
      dataLocation: String, message: String)

  trait StatusReporter { def report(s: JobStatus): Unit }

  /** Default reporter: records statuses in memory (tests/driver). */
  final class InMemoryReporter extends StatusReporter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[JobStatus]
    override def report(s: JobStatus): Unit = synchronized { buf += s }
    def all: Seq[JobStatus] = synchronized(buf.toSeq)
  }

  val StatusCompleted = 2 // R/DataFrameOperationR.R:311
  val StatusFailed = 3 // R/DataFrameOperationR.R:317
}
