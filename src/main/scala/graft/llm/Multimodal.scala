package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Tables}

/** Multimodal-column plumbing: media as opaque `binary` columns with a
  * typed metadata struct, batch decode / feature-extract / frame-sample
  * over `mapPartitions`.
  *
  * The m02/m03/m04 decode leg does REAL byte-format work: media rows
  * are framed in the GRFT container (magic + version + dims + payload
  * length, big-endian — the farbfeld/BMP class of trivially-parseable
  * header), and every consumer parses the header from the BYTES
  * (magic validated, dims and payload boundaries read from the
  * buffer), so the mapPartitions path pays genuine
  * serialize/parse/slice cost — and the payload transforms are real
  * byte arithmetic: features are CRC32 + a byte histogram of the
  * decoded payload, `resize` is a true integer-factor box-filter over
  * the header-declared pixel grid, both replayed byte-for-byte by the
  * SQL oracles. The container environment ships no image/audio
  * codecs, so the pixels are the packer's text bytes rather than a
  * JPEG's — swapping in a real codec (or a conv-net featurizer)
  * replaces only the per-byte kernel inside the partition loop and
  * changes no plan shape. Everything Spark-side is shaped for scale:
  * the schema (`blob binary, meta struct`), the partition-batched
  * decode (one decoder init per partition, not per row — at 100 TB
  * decoder setup per row would dominate), and the explode-style frame
  * sampler.
  */
object Multimodal {

  /** GRFT container magic — the fixture's trivially-parseable media
    * framing: `"GRFT" | version u8 | width u16 | height u16 |
    * nFrames u16 | payloadLen u32 | payload` (all big-endian,
    * 15-byte header). */
  private[graft] val MediaMagic: Array[Byte] =
    Array[Byte]('G', 'R', 'F', 'T')
  private[graft] val MediaHeaderBytes = 15

  /** Encode one media row into the GRFT container. */
  private[graft] def encodeContainer(meta: MediaMeta,
      payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(MediaHeaderBytes + payload.length)
    bb.put(MediaMagic).put(1.toByte)
      .putShort(meta.width.toShort).putShort(meta.height.toShort)
      .putShort(meta.nFrames.toShort)
      .putInt(payload.length)
      .put(payload)
    bb.array()
  }

  /** A parsed container: dims from the HEADER BYTES (not the metadata
    * struct riding alongside) plus the payload slice. */
  private[graft] case class DecodedMedia(width: Int, height: Int,
      nFrames: Int, payload: Array[Byte])

  /** Parse a GRFT container — validates magic, version and the payload
    * length against the physical buffer, the checks any real format
    * parser front-loads. Throws on corrupt input: a malformed blob in
    * a decode job should fail loudly, not yield silent garbage
    * features (m09's integrity audit is the op that TOLERATES and
    * reports corruption). */
  private[graft] def decodeContainer(blob: Array[Byte]): DecodedMedia = {
    require(blob.length >= MediaHeaderBytes,
      s"truncated container: ${blob.length} bytes")
    val bb = java.nio.ByteBuffer.wrap(blob)
    val magic = new Array[Byte](4); bb.get(magic)
    require(java.util.Arrays.equals(magic, MediaMagic),
      "bad container magic")
    val version = bb.get()
    require(version == 1, s"unsupported container version $version")
    val w = bb.getShort() & 0xffff
    val h = bb.getShort() & 0xffff
    val nf = bb.getShort() & 0xffff
    val len = bb.getInt()
    require(len == blob.length - MediaHeaderBytes,
      s"payload length $len != ${blob.length - MediaHeaderBytes}")
    DecodedMedia(w, h, nf,
      java.util.Arrays.copyOfRange(blob, MediaHeaderBytes, blob.length))
  }

  /** TOLERANT header classifier — [[decodeContainer]]'s sibling for
    * audit jobs: instead of throwing, classify the blob
    * (`ok | truncated_header | bad_magic | bad_version |
    * truncated_payload`) and surface what the header yields
    * (-1 where unreadable). A decode job wants corrupt input to fail
    * loudly; an INGESTION AUDIT wants it counted and attributed. */
  private[graft] def auditContainer(blob: Array[Byte])
      : (String, Int, Int, Int) = {
    if (blob.length < MediaHeaderBytes) ("truncated_header", -1, -1, -1)
    else {
      val bb = java.nio.ByteBuffer.wrap(blob)
      val magic = new Array[Byte](4); bb.get(magic)
      if (!java.util.Arrays.equals(magic, MediaMagic))
        ("bad_magic", -1, -1, -1)
      else if (bb.get() != 1) ("bad_version", -1, -1, -1)
      else {
        val w = bb.getShort() & 0xffff
        val h = bb.getShort() & 0xffff
        bb.getShort() // nFrames
        val len = bb.getInt()
        if (len != blob.length - MediaHeaderBytes)
          ("truncated_payload", w, h, -1)
        else ("ok", w, h, len)
      }
    }
  }

  /** Typed metadata carried next to every blob. */
  case class MediaMeta(mime: String, width: Int, height: Int, nFrames: Int)

  case class MediaRow(doc_id: Long, blob: Array[Byte], meta: MediaMeta)

  case class MediaFeatures(doc_id: Long, n_bytes: Int, checksum: Long,
      width: Int, height: Int, feature: Array[Float])

  case class FrameRow(doc_id: Long, frame_idx: Int, frame_md5: String)

  /** Pack the documents fixture as a media table: UTF-8 bytes as the
    * opaque blob + synthetic metadata — the fixture's substitute for
    * `spark.read.format("binaryFile")` over an object store (which m05
    * drives for real). */
  def packAsMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // parallelism floor (Tables.spread): the decode/encode kernels run
    // in mapPartitions fused onto this scan — one row-group means one
    // codec instance doing the whole corpus serially
    Tables.spread(Tables(spark, dir, "documents"), col("doc_id"))
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("blob"),
        struct(
          lit("application/octet-stream").as("mime"),
          lit(64).as("width"), lit(64).as("height"),
          (col("n_chars") % 16 + 1).cast(IntegerType).as("nFrames"))
          .as("meta"))
      .as[MediaRow]
  }

  /** [[packAsMedia]] with the payload framed in the GRFT container —
    * the encode half of the m02/m03/m04 decode leg (real byte work on
    * both sides of the shuffle). m07-m11 deliberately keep consuming
    * the raw stored bytes: chunking/integrity/dedup are
    * format-agnostic operations over whatever the store holds. */
  def packAsMediaFramed(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    packAsMedia(spark, dir).mapPartitions { rows =>
      rows.map(r => r.copy(blob = encodeContainer(r.meta, r.blob)))
    }
  }

  /** Payload feature transform: CRC32 + an 8-bin byte histogram over
    * the DECODED payload — real per-byte content statistics, computed
    * from the parsed container's payload slice and replayed
    * byte-for-byte by the m02 oracle. This is the designated swap
    * point for a learned featurizer (a production pipeline may put a
    * conv-net embedding here); swapping it changes only this kernel,
    * not the partition-batched decode around it. */
  private[llm] def payloadFeatures(payload: Array[Byte]): (Long, Array[Float]) = {
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    val checksum = crc.getValue
    val hist = new Array[Float](8)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) % 8) += 1f; i += 1 }
    val n = math.max(1, payload.length).toFloat
    (checksum, hist.map(_ / n))
  }

  /** Batch feature extraction over GRFT-framed media: one pass per
    * partition (decoder/buffer state initialized once per partition,
    * not per row), each row a real header parse + payload slice before
    * the feature transform. Width/height come from the header BYTES —
    * the metadata struct is never consulted, so a meta/blob mismatch
    * surfaces rather than hiding. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (codec handles, buffers)
      rows.map { r =>
        val d = decodeContainer(r.blob)
        val (checksum, feat) = payloadFeatures(d.payload)
        MediaFeatures(r.doc_id, d.payload.length, checksum,
          d.width, d.height, feat)
      }
    }
  }

  /** Frame sampling over GRFT-framed media: every `stride`-th frame
    * index, with the frame COUNT read from the container header and
    * the per-frame digest md5 over `payload ++ ":<idx>"` — the decoded
    * content, as a real decoder would hash the decoded frame, so the
    * digest is independent of the container framing. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // one digest instance per partition, reset per frame
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val d = decodeContainer(r.blob)
        (0 until d.nFrames by stride).iterator.map { idx =>
          md.reset()
          md.update(d.payload)
          md.update(s":$idx".getBytes("UTF-8"))
          val hex = md.digest().map(b => f"$b%02x").mkString
          FrameRow(r.doc_id, idx, hex)
        }
      }
    }
  }

  case class ResizedRow(doc_id: Long, blob: Array[Byte], meta: MediaMeta)

  /** Resize over GRFT-framed media: a real decode → pixel transform →
    * RE-ENCODE round trip. The container is parsed (magic/dims/payload
    * boundaries from the bytes), the payload is interpreted as the
    * header-declared row-major `w0×h0` single-byte-pixel grid (bytes
    * past the payload read as 0 — the packer's text payload fills the
    * frame top-left, as a partial scanline decode would), and each
    * output pixel is the BOX-FILTER mean of its `(w0/w)×(h0/h)` source
    * block — a true integer-factor downsample, the same arithmetic a
    * pixel scaler runs, byte-replayable in SQL so the oracle pins the
    * transform from decoded input bytes to re-encoded output bytes.
    * Integer factors only (the general bilinear case adds fractional
    * weights, not structure); the result is re-framed as a valid
    * container whose header carries the NEW dims, metadata kept in
    * lockstep. Downstream audits re-parse the emitted bytes, so a
    * malformed re-encode fails loudly. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val d = decodeContainer(r.blob)
        require(d.width % w == 0 && d.height % h == 0,
          s"integer-factor resize only: ${d.width}x${d.height} -> ${w}x$h")
        val (sx, sy) = (d.width / w, d.height / h)
        @inline def pix(idx: Int): Int =
          if (idx < d.payload.length) d.payload(idx) & 0xff else 0
        val out = new Array[Byte](w * h)
        var i = 0
        while (i < h) {
          var j = 0
          while (j < w) {
            var sum = 0
            var bi = 0
            while (bi < sy) {
              var bj = 0
              while (bj < sx) {
                sum += pix((i * sy + bi) * d.width + (j * sx + bj))
                bj += 1
              }
              bi += 1
            }
            out(i * w + j) = (sum / (sx * sy)).toByte
            j += 1
          }
          i += 1
        }
        val meta = r.meta.copy(width = w, height = h)
        ResizedRow(r.doc_id, encodeContainer(meta, out), meta)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Query entries
  // ---------------------------------------------------------------------

  /** Media metadata projection — oracle-checkable shape (byte length +
    * content digest are engine-portable). */
  def m01MediaMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        md5(col("text")).as("content_md5"))
      .orderBy(col("doc_id"))

  val m01Sql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | MD5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Full decode pipeline: pack → GRFT-frame → mapPartitions header
    * parse + payload feature extract. n_bytes/checksum/features come
    * from the decoded PAYLOAD and width/height from the parsed header
    * bytes, so the oracle (which knows payload = UTF-8 text and the
    * packer's 64×64 dims) cross-checks the whole encode→decode round
    * trip. The 8-dim feature vector is unpacked into scalar columns
    * f0..f7 for the dump (the driver's compare sorts the result frame,
    * and an array-typed column is unhashable/unsortable on the oracle
    * side). */
  def m02MediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(packAsMediaFramed(spark, dir))
      .toDF()
      .select(
        col("doc_id") +: col("n_bytes") +: col("checksum") +:
          col("width") +: col("height") +:
          (0 until 8).map(i =>
            col("feature").getItem(i).cast(DoubleType).as(s"f$i")): _*)
      .orderBy(col("doc_id"))

  /** m15: the REAL-codec proof of the m02 kernel swap point — the same
    * pack → encode → partition-batched decode → feature pipeline with
    * an actual image format (PNG via `javax.imageio`, JDK-built-in,
    * headless-safe) in place of the GRFT container. Encode side: each
    * payload fills a 64×64 8-bit grayscale raster top-left (bytes past
    * the payload are 0 — m04's partial-scanline convention) and is
    * written as a genuine PNG file (signature, IHDR, zlib-compressed
    * IDAT); decode side: a SEPARATE `mapPartitions` kernel parses the
    * PNG bytes back with ImageIO and computes [[payloadFeatures]] over
    * the DECODED PIXELS. Features hang off decoded content only —
    * never the container bytes — so the oracle replays them from the
    * source text (PNG is lossless; the decoded grid IS the padded
    * payload), while encoder freedom (chunk layout, compression level)
    * stays out of the contract exactly as it must for any real codec.
    *
    * 100 TB posture: identical to m02 — one codec init per partition,
    * rows stream through, featurization output is row-sized; swapping
    * ImageIO for libjpeg/ffmpeg bindings changes only the two kernel
    * bodies. */
  def m15PngFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pngs = packAsMedia(spark, dir).mapPartitions { rows =>
      // ONE writer + raster per task, reused across the batch (guide
      // §4.5): the `ImageIO.write` convenience entry scans the global
      // IIORegistry and opens a disk-backed ImageOutputStream PER CALL
      // — both are synchronized process-globals, so under one-task-per-
      // core parallelism every row contended on the registry lock and
      // a temp file (round-14 profiling: 109 task-seconds for 3.4 s of
      // serial codec work). Looking the writer up once per task and
      // writing through a memory-backed stream removes both.
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("png").next()
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      rows.map { r =>
        var i = 0
        while (i < 4096) {
          val v = if (i < r.blob.length) r.blob(i) & 0xff else 0
          raster.setSample(i % 64, i / 64, 0, v)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        writer.setOutput(mos)
        writer.write(img)
        mos.flush()
        (r.doc_id, bos.toByteArray)
      }
    }
    pngs.mapPartitions { rows =>
      // ONE reader per task (same registry-lock story as the encoder)
      val reader = javax.imageio.ImageIO
        .getImageReadersByFormatName("png").next()
      rows.map { case (id, bytes) =>
        reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)), true, true)
        val img = reader.read(0)
        require(img != null, s"doc $id: not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val px = new Array[Byte](w * h)
        var i = 0
        while (i < px.length) {
          px(i) = img.getRaster.getSample(i % w, i / w, 0).toByte
          i += 1
        }
        val (checksum, feat) = payloadFeatures(px)
        MediaFeatures(id, px.length, checksum, w, h, feat)
      }
    }.toDF()
      .select(
        col("doc_id") +: col("n_bytes") +: col("checksum") +:
          col("width") +: col("height") +:
          (0 until 8).map(i =>
            col("feature").getItem(i).cast(DoubleType).as(s"f$i")): _*)
      .orderBy(col("doc_id"))
  }

  /** Frame sampler over the header-declared frame counts. */
  def m03FrameSample(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(packAsMediaFramed(spark, dir), stride = 4)
      .toDF()
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Per-media frame digests (doc_id, frame_md5) — shared by m06
    * (digest-level dup report) and m10 (pair-level co-occurrence). */
  private def frameDigests(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"),
        explode(sequence(lit(0), lit(3))).as("frame_idx"))
      .filter(col("frame_idx") * 16 < col("n_chars"))
      .select(col("doc_id"),
        md5(concat(
          expr("substring(text, frame_idx * 16 + 1, 16)"),
          lit(":"), col("frame_idx").cast("string"))).as("frame_md5"))

  /** m06: cross-media duplicate-frame detection — digest each media
    * blob's fixed-offset 16-byte frames (content hashes over the
    * fixture's fixed framing; a codec-aware pipeline hashes decoded
    * frames the same way) and keep digests appearing in more than
    * one document: byte-identical frames shared across distinct media,
    * the frame-level analogue of d02's digest dedup. At 100 TB this is
    * one hash shuffle on 16-byte digests with map-side partial counts;
    * frame payloads never travel. */
  def m06DupFrames(spark: SparkSession, dir: String): DataFrame =
    frameDigests(spark, dir)
      .groupBy(col("frame_md5"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("first_doc"), col("frame_md5"))

  val m06Sql: String =
    """WITH frames AS (
      |  SELECT doc_id,
      |    md5(substr(text, 16 * i + 1, 16) || ':' || CAST(i AS VARCHAR))
      |      AS frame_md5
      |  FROM documents, range(0, 4) t(i)
      |  WHERE 16 * i < n_chars
      |)
      |SELECT frame_md5, COUNT(DISTINCT doc_id) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM frames GROUP BY frame_md5 HAVING COUNT(DISTINCT doc_id) > 1
      |ORDER BY first_doc, frame_md5""".stripMargin

  /** Hot-digest cap for [[m10SharedFrameDups]]: digests in more media
    * than this are boilerplate (black frames, intro cards) — they say
    * nothing about pairwise duplication and would explode the posting
    * self-join quadratically. The fixture's max digest df is ~10, so
    * the cap is inert at test scale; at 100 TB it is the thing that
    * keeps the join sum-of-posting², not n². */
  val HotFrameCap = 64

  /** Minimum shared frames for an m10 pair — 1 shared frame is chance
    * overlap on short media; ≥ 2 is the edited-copy signal. */
  val MinSharedFrames = 2

  /** m10: cross-media near-duplicate detection by shared-frame
    * counting — two media objects sharing ≥ [[MinSharedFrames]] frame
    * digests are cuts/edits of the same source (the video-dedup shape:
    * frame-level containment, robust to trims and re-muxing that defeat
    * whole-blob hashing). Pairs come from a posting self-join on the
    * digest — the d04 inverted-index shape at frame granularity — with
    * [[HotFrameCap]] keeping boilerplate frames out of the join. */
  def m10SharedFrameDups(spark: SparkSession, dir: String): DataFrame = {
    val frames = frameDigests(spark, dir).distinct()
    val ok = frames.groupBy(col("frame_md5"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= HotFrameCap)
      .select(col("frame_md5"))
    val capped = frames.join(ok, "frame_md5")
    capped.as("a")
      .join(capped.as("b"),
        col("a.frame_md5") === col("b.frame_md5") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedFrames)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: same frame digests, same hot cap, same pair count. */
  val m10Sql: String =
    s"""WITH frames AS (
       |  SELECT DISTINCT doc_id,
       |    md5(substr(text, 16 * i + 1, 16) || ':' || CAST(i AS VARCHAR))
       |      AS fm
       |  FROM documents, range(0, 4) t(i)
       |  WHERE 16 * i < n_chars
       |), ok AS (
       |  SELECT fm FROM frames GROUP BY fm HAVING COUNT(*) <= $HotFrameCap
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM frames a JOIN ok USING (fm)
       |  JOIN frames b ON a.fm = b.fm AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, n_shared FROM pairs
       |WHERE n_shared >= $MinSharedFrames
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Resize pipeline: pack → GRFT-frame → decode/scale/re-encode to
    * 32×32 → audit. The audit RE-PARSES the emitted container (dims
    * from the header bytes, not the metadata struct), so the oracle's
    * constants pin the full encode→decode→re-encode round trip:
    * blob_len = 15-byte header + the 32·32/16 payload budget. */
  def m04Resize(spark: SparkSession, dir: String): DataFrame = {
    val resized = resize(packAsMediaFramed(spark, dir), 32, 32)
    import resized.sparkSession.implicits._
    resized.mapPartitions { rows =>
      rows.map { r =>
        val d = decodeContainer(r.blob)
        // content evidence from the RE-PARSED emitted bytes: the sum
        // and CRC32 of the resized payload pin every output pixel of
        // the box filter, not just the container framing
        val crc = new java.util.zip.CRC32()
        crc.update(d.payload)
        var sum = 0L
        var i = 0
        while (i < d.payload.length) { sum += d.payload(i) & 0xff; i += 1 }
        (r.doc_id, r.blob.length, d.width, d.height, sum, crc.getValue)
      }
    }.toDF("doc_id", "blob_len", "width", "height", "payload_sum",
      "payload_crc32")
      .orderBy(col("doc_id"))
  }

  /** Fixture blob directory for m05: the sandbox has no real media
    * store, so the first call materializes one from the documents table
    * — 40 tiny files (UTF-8 text bytes of doc_id < 40) plus a decoy the
    * glob must skip. This is test-fixture setup substituting for the
    * object store that already exists in production; it is driver-side
    * (the tmpdir fixture therefore assumes a local master — on a real
    * cluster m05 would point at the existing blob store and skip this
    * entirely), idempotent, and NOT part of the measured query — the
    * plan m05 returns is a pure binaryFile scan → project.
    *
    * Staleness: the blob dir is reused only while its marker is NEWER
    * than the source parquet — if the documents table under the same
    * path is regenerated, the fixture rebuilds instead of silently
    * serving stale blobs (which would hash-mismatch the oracle with no
    * code change). The currency check is a file stat, not a Spark job,
    * and within one JVM the resolved path is additionally memoized per
    * table dir, so neither warm-up nor repeat bench runs pay a scan. */
  private val blobDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureBlobDir(spark: SparkSession, dir: String): String =
    blobDirCache.computeIfAbsent(dir, _ => {
      val target = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_m05_" + Integer.toHexString(dir.hashCode))
      val marker = new java.io.File(target, "_FIXTURE_OK")
      val source = new java.io.File(dir, "documents.parquet")
      if (!(marker.exists() && marker.lastModified() > source.lastModified())) {
        target.mkdirs()
        // clear stale blobs so doc_ids removed upstream can't linger
        Option(target.listFiles()).foreach(_.foreach(_.delete()))
        Tables(spark, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(col("doc_id"), col("text"))
          .collect() // fixture setup only: 40 rows, see scaladoc
          .foreach { r =>
            java.nio.file.Files.write(
              target.toPath.resolve(f"doc_${r.getLong(0)}%05d.bin"),
              r.getString(1).getBytes("UTF-8"))
          }
        java.nio.file.Files.write(target.toPath.resolve("decoy.json"),
          """{"not": "a blob"}""".getBytes("UTF-8"))
        java.nio.file.Files.write(
          marker.toPath, Array.empty[Byte])
      }
      target.getPath
    })

  /** m05: blob ingestion through Spark's `binaryFile` source — the
    * production entry point for media directories (m01-m04 pack blobs
    * from a table column; this reads actual files). `pathGlobFilter`
    * prunes non-media files at enumeration time (the decoy never
    * reaches an executor), the scan parallelizes per file, and only
    * (path, length, content) are materialized. */
  def m05BinaryFiles(spark: SparkSession, dir: String): DataFrame = {
    val blobDir = ensureBlobDir(spark, dir)
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "doc_*.bin")
      .load(blobDir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast(LongType).as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  val m05Sql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | MD5(text) AS content_md5
      |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin

  /** Chunk size for [[m07BlobChunks]] — small so the fixture's short
    * blobs still span several chunks; real media uses MBs. */
  val ChunkBytes = 64

  /** m07: blob chunking — how a 100 TB media corpus actually ships and
    * dedups: fixed-size chunks with per-chunk digests
    * (content-addressable storage; identical chunks across blobs share
    * a digest, so a groupBy(chunk_md5) downstream is chunk-level
    * dedup). The slicing runs on the BINARY blob (Spark's `substring`
    * operates on BinaryType byte-wise); one narrow explode per blob,
    * zero shuffles until a consumer aggregates digests. */
  def m07BlobChunks(spark: SparkSession, dir: String): DataFrame =
    chunkDigests(packAsMedia(spark, dir).toDF())
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Chunk-digest core over any (doc_id, blob) relation — shared by
    * m07/m08 (manifest derivation) and m09 (re-derivation over received
    * blobs). */
  private def chunkDigests(blobs: DataFrame): DataFrame =
    blobs
      .select(col("doc_id"), col("blob"),
        length(col("blob")).cast(LongType).as("n_bytes"))
      .filter(col("n_bytes") > 0) // sequence(0, -1) would run backwards
      // slice BEFORE exploding: each generated row carries only its
      // own ≤ChunkBytes slice, not a copy of the whole blob (which
      // would cost O(n²/chunk) transient bytes per blob at MB scale)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0L, (n_bytes - 1) DIV $ChunkBytes),
             |  i -> substring(blob, cast(i * $ChunkBytes + 1 as int),
             |    $ChunkBytes))""".stripMargin))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        length(col("chunk")).cast(LongType).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))

  /** Oracle chunk derivation shared by m07/m08: the fixture blob is
    * the text's UTF-8 bytes and the texts are pure ASCII (byte ==
    * character), so VARCHAR substring + md5 replays the byte-level
    * chunking exactly; per-row chunk indexes via the scalar list
    * `range` + unnest (the table-function range cannot take per-row
    * bounds). */
  private def chunkCteOver(src: String, c: String, ch: String): String =
    s"""$c AS (
       |  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes,
       |    unnest(range(0,
       |      (octet_length(encode(text)) + ${ChunkBytes - 1}) // $ChunkBytes))
       |      AS chunk_idx
       |  FROM $src WHERE octet_length(encode(text)) > 0
       |), $ch AS (
       |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(least($ChunkBytes, n_bytes - $ChunkBytes * chunk_idx)
       |      AS BIGINT) AS chunk_len,
       |    md5(substring(text, CAST($ChunkBytes * chunk_idx + 1 AS BIGINT),
       |      $ChunkBytes)) AS chunk_md5
       |  FROM $c
       |)""".stripMargin

  private val chunksCte: String = "WITH " + chunkCteOver("documents", "c", "ch")

  val m07Sql: String = chunksCte +
    """
      |SELECT doc_id, chunk_idx, chunk_len, chunk_md5
      |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** m08: shared-chunk detection — the payoff of m07's
    * content-addressable chunking: chunks whose digest recurs across
    * DIFFERENT blobs are shared boilerplate (intros, headers, silence,
    * black frames), and a store that keys chunks by digest stores them
    * once. One hash shuffle on the digest (map-side combine), the same
    * shape as d01's exact dedup but at sub-blob granularity. */
  def m08SharedChunks(spark: SparkSession, dir: String): DataFrame =
    m07BlobChunks(spark, dir)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_refs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_md5"))

  /** Oracle: the shared chunk CTE, same digest aggregate. */
  val m08Sql: String = chunksCte +
    """
      |SELECT chunk_md5, COUNT(DISTINCT doc_id) AS n_docs,
      |  COUNT(*) AS n_refs, MIN(doc_id) AS first_doc
      |FROM ch GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
      |ORDER BY chunk_md5""".stripMargin

  /** m09: blob integrity audit over the content-addressable chunks —
    * recompute each received blob's chunk digests and compare them to
    * the m07 manifest (the digests recorded at ingest), flagging any
    * blob whose bytes changed in transit and the first chunk where.
    * The audit a media store runs after replication/migration; chunk
    * granularity localizes the damage instead of re-fetching whole
    * blobs.
    *
    * The sandbox has no real transport, so the query plants
    * deterministic corruption (docs with doc_id % 7 == 3 get their
    * first byte overwritten with 'X' — the fixture texts start
    * lowercase, so the digest always changes); production compares two
    * real replicas. Plan: two narrow chunk-explodes and ONE join on
    * (doc_id, chunk_idx) + a per-doc agg — both sides partition the
    * same way, no other shuffle. */
  def m09IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val manifest = chunkDigests(packAsMedia(spark, dir).toDF())
    val received = chunkDigests(
      packAsMedia(spark, dir).toDF()
        .withColumn("blob",
          when(col("doc_id") % 7 === 3,
            concat(encode(lit("X"), "UTF-8"),
              expr("substring(blob, 2, 2147483647)")))
            .otherwise(col("blob"))))
    manifest.alias("m")
      .join(received.alias("r"), Seq("doc_id", "chunk_idx"))
      .withColumn("bad",
        when(col("m.chunk_md5") =!= col("r.chunk_md5"), 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("bad")).as("n_bad"),
        coalesce(min(when(col("bad") === 1L, col("chunk_idx"))), lit(-1L))
          .as("first_bad_chunk"))
      .withColumn("status",
        when(col("n_bad") > 0, "corrupt").otherwise(lit("ok")))
      .select(col("doc_id"), col("n_chunks"), col("n_bad"),
        col("first_bad_chunk"), col("status"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same planted corruption in VARCHAR space (texts are pure
    * ASCII, byte == character), both chunk chains from the shared CTE
    * generator, same join + audit agg. */
  val m09Sql: String =
    s"""WITH corrupted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 3 THEN 'X' || substring(text, 2)
       |         ELSE text END AS text
       |  FROM documents
       |), ${chunkCteOver("documents", "c", "ch")},
       |${chunkCteOver("corrupted", "c2", "ch2")}
       |SELECT m.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN m.chunk_md5 <> r.chunk_md5 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_bad,
       |  COALESCE(MIN(CASE WHEN m.chunk_md5 <> r.chunk_md5
       |    THEN m.chunk_idx END), -1) AS first_bad_chunk,
       |  CASE WHEN SUM(CASE WHEN m.chunk_md5 <> r.chunk_md5 THEN 1
       |    ELSE 0 END) > 0 THEN 'corrupt' ELSE 'ok' END AS status
       |FROM ch m JOIN ch2 r USING (doc_id, chunk_idx)
       |GROUP BY m.doc_id ORDER BY m.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // m11: multimodal training-pair assembly
  // ---------------------------------------------------------------------

  /** m11: assemble (text, media) contrastive training pairs — the
    * multimodal analog of p01/p13's gated corpus builds (the CLIP-style
    * dataset assembly step): join each document to its media blob, gate
    * on text quality (the shared [[TextStats.qualityScored]] core and
    * [[Pipeline.QualityThreshold]]) and on media integrity (the m09
    * chunk audit — a corrupt blob must never enter a training pair),
    * then keep ONE pair per media HEAD digest — md5 of the blob's first
    * 64 bytes, the p14 convention: the fixture plants no byte-identical
    * documents, and a head digest plays the bucketing role a
    * perceptual hash (pHash / thumbnail digest) plays in a real media
    * pipeline — same key shape, same join plan. The representative is the
    * min-doc_id pair, chosen among ELIGIBLE pairs only so a rejected
    * doc cannot shadow a good duplicate — p13's rule. Every row carries its first-match
    * disposition (`corrupt_media` → `rejected_quality` → `dup_media` →
    * `paired`), so the assembly is fully attributable.
    *
    * Plan at 100 TB: all three joins are doc_id-keyed (co-partitioned
    * after the first exchange); the dedup is one digest-keyed aggregate
    * joined back (d02's shape — 16-byte keys, never blob bytes); the
    * integrity side is m09's chunk audit, whose shuffle carries chunk
    * digests, not chunks. On this fixture the media digest equals the
    * text digest (packAsMedia's blobs ARE the UTF-8 text),
    * but the dedup key is computed from the BLOB, so swapping in real
    * media changes no plan shape. */
  def m11TrainingPairs(spark: SparkSession, dir: String): DataFrame = {
    val q = TextStats.qualityScored(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("quality"))
    val media = packAsMedia(spark, dir).toDF()
      .select(col("doc_id"), col("blob"))
    val integ = m09IntegrityAudit(spark, dir)
      .select(col("doc_id"), col("status"))
    val base = q.join(media, "doc_id").join(integ, "doc_id")
      .withColumn("media_md5", md5(expr("substring(blob, 1, 64)")))
      .withColumn("n_bytes", length(col("blob")).cast(LongType))
    val rep = base
      .filter(col("status") === "ok" &&
        col("quality") >= Pipeline.QualityThreshold)
      .groupBy(col("media_md5")).agg(min(col("doc_id")).as("rep_id"))
    base.join(rep, Seq("media_md5"), "left")
      .withColumn("disposition",
        when(col("status") =!= "ok", "corrupt_media")
          .when(col("quality") < Pipeline.QualityThreshold,
            "rejected_quality")
          .when(col("doc_id") =!= col("rep_id"), "dup_media")
          .otherwise("paired"))
      .select(col("doc_id"), col("lang"), col("n_bytes"), col("quality"),
        col("media_md5"), col("disposition"))
      .orderBy(col("doc_id"))
  }

  /** m11 oracle: the m09 audit as a subquery, the shared quality
    * expression, md5 in VARCHAR space (ASCII ⇒ byte == character, the
    * m09 precedent), same eligibility-scoped representative and
    * first-match disposition. */
  val m11Sql: String =
    s"""WITH integ AS ($m09Sql
       |), q AS (
       |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_bytes,
       |    md5(substring(text, 1, 64)) AS media_md5,
       |    ${TextStats.qualitySqlExpr} AS quality
       |  FROM documents
       |), rep AS (
       |  SELECT media_md5, MIN(doc_id) AS rep_id
       |  FROM q JOIN integ USING (doc_id)
       |  WHERE integ.status = 'ok'
       |    AND q.quality >= ${Pipeline.QualityThreshold}
       |  GROUP BY media_md5
       |)
       |SELECT q.doc_id, q.lang, q.n_bytes, q.quality, q.media_md5,
       |  CASE WHEN i.status <> 'ok' THEN 'corrupt_media'
       |       WHEN q.quality < ${Pipeline.QualityThreshold}
       |         THEN 'rejected_quality'
       |       WHEN q.doc_id <> r.rep_id THEN 'dup_media'
       |       ELSE 'paired' END AS disposition
       |FROM q JOIN integ i USING (doc_id)
       |LEFT JOIN rep r USING (media_md5)
       |ORDER BY doc_id""".stripMargin

  /** m12: content-defined chunking — variable-length blob chunks cut
    * where a rolling 16-byte-window hash lands in a sparse residue
    * class (h & 63 == 0), LBFS-style (Muthitacharoen et al., SOSP'01;
    * the Gear/FastCDC family is the same idea with a cheaper window).
    * m07's FIXED chunking cannot dedup across an insertion: every
    * boundary after the edit shifts, so all downstream chunk digests
    * change. A content-defined cut depends only on its local window,
    * so boundaries REALIGN after the edit point and every untouched
    * chunk hashes identically — the property that makes chunk-level
    * dedup/storage work on real re-crawled corpora (the spec proves
    * it: a prefix-shifted copy shares all chunks but the first).
    *
    * Plan: ONE codegen'd pass per blob ([[graft.functions
    * .RollingHashes]]) yields every window hash; cut offsets fall out
    * of a filter/transform over that array (no per-row UDF, no
    * shuffle until the chunk rows aggregate downstream); the chunk
    * explode then carries (start, len, digest) — digests travel,
    * payloads don't, m07's posture. Expected chunk length is
    * 1/density = 64 bytes; the min/max-length bounds production CDC
    * adds were considered and DECLINED here (NOTES.md): they make the
    * cut decision sequential (each boundary depends on the previous),
    * which surrenders the pure-window form — the greedy walk is
    * expressible as a per-doc recursive CTE if ever needed. The
    * oracle replays the window hashes through the t04 closed-form
    * polynomial (powers generated from [[graft.functions
    * .RollingMinHashKernel]], so kernel and oracle cannot drift).
    *
    * ASCII CONTRACT: `rolling_hashes` walks UTF-8 BYTES while the cut
    * points feed character-indexed `substr`/`length`, so the two
    * coordinate systems agree only when every character is one byte.
    * The op therefore ENFORCES `length(text) = octet_length(text)`
    * (pure-ASCII) and `length(text) > 0` as a filter, mirrored in the
    * oracle — a non-ASCII or empty document is excluded rather than
    * silently mis-chunked (and the empty-doc case would make m13's
    * ppm divide by zero). A byte-space variant (binary substr over
    * `encode(text,'UTF-8')`) is the documented lift if multilingual
    * CDC is ever needed; see NOTES.md. */
  def m12CdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(spark, dir).orderBy(col("doc_id"), col("chunk_idx"))

  /** The CDC chunk frame (doc_id, chunk_idx, start, len, chunk_md5),
    * unordered — m12's body, shared with [[m13CdcDedupStats]].
    * Enforces m12's ASCII + non-empty precondition (scaladoc above). */
  private def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("c_end"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .where(expr("length(text) = octet_length(text) AND length(text) > 0"))
      .withColumn("ends", expr(
        """array_distinct(concat(
          |  filter(transform(rolling_hashes(text),
          |    (h, j) -> CASE WHEN (h & 63) = 0
          |      THEN CAST(j + 16 AS BIGINT) END),
          |    x -> x IS NOT NULL),
          |  array(CAST(length(text) AS BIGINT))))""".stripMargin))
      .select(col("doc_id"), col("text"),
        explode(col("ends")).as("c_end"))
      .withColumn("c_start",
        coalesce(lag(col("c_end"), 1).over(w), lit(0L)))
      .select(col("doc_id"),
        (row_number().over(w) - 1).cast(LongType).as("chunk_idx"),
        col("c_start").as("start"),
        (col("c_end") - col("c_start")).as("len"),
        md5(expr("substr(text, c_start + 1, c_end - c_start)"))
          .as("chunk_md5"))
  }

  /** m13: chunk-level storage-dedup accounting over the CDC chunks —
    * the statistic a content-addressable store reports: per document,
    * how many of its bytes are already present as earlier documents'
    * chunks. A chunk instance is deduplicated when its digest's FIRST
    * holder (min doc_id) precedes this document — t17's
    * first-occurrence convention, which makes the accounting
    * attributable (exactly one holder stores each unique chunk) and
    * deterministic. Differs from p17 in mechanism and meaning: p17
    * measures verbatim d15-span text overlap; m13 measures what a
    * CDC-chunked blob store would actually NOT re-store, insertions
    * tolerated via m12's shift-invariant boundaries. One digest-keyed
    * aggregate over the chunk frame + a broadcast-join back — digests
    * travel, payloads don't. Integer ppm ratio, oracle-exact. */
  def m13CdcDedupStats(spark: SparkSession, dir: String): DataFrame = {
    val chunks = cdcChunks(spark, dir)
    val firstHolder = chunks.groupBy(col("chunk_md5"))
      .agg(min(col("doc_id")).as("first_doc"))
    chunks.join(firstHolder, "chunk_md5")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).as("total_bytes"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("dup_chunks"),
        sum(when(col("first_doc") < col("doc_id"), col("len"))
          .otherwise(0L)).as("dup_bytes"))
      .withColumn("uniq_ppm",
        expr("(1000000 * (total_bytes - dup_bytes)) DIV total_bytes"))
      .orderBy(col("doc_id"))
  }

  // chain m12's chunk derivation, then the dedup accounting (concat
  // AFTER stripMargin — the body's `||` list-concat would be eaten by
  // a whole-string strip)
  val m13Sql: String = m12SqlBody +
    """, chunks AS (
       |  SELECT doc_id, c_end - c_start AS len,
       |    md5(substr(text, c_start + 1, c_end - c_start)) AS chunk_md5
       |  FROM chunked
       |), fh AS (
       |  SELECT chunk_md5, MIN(doc_id) AS first_doc
       |  FROM chunks GROUP BY chunk_md5
       |)
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(c.len) AS BIGINT) AS total_bytes,
       |  CAST(SUM(CASE WHEN f.first_doc < c.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS dup_chunks,
       |  CAST(SUM(CASE WHEN f.first_doc < c.doc_id THEN c.len ELSE 0 END)
       |    AS BIGINT) AS dup_bytes,
       |  (1000000 * CAST(SUM(c.len) AS BIGINT)
       |    - 1000000 * CAST(SUM(CASE WHEN f.first_doc < c.doc_id
       |        THEN c.len ELSE 0 END) AS BIGINT))
       |    // CAST(SUM(c.len) AS BIGINT) AS uniq_ppm
       |FROM chunks c JOIN fh f ON f.chunk_md5 = c.chunk_md5
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  val m12Sql: String = m12SqlBody +
    """
      |SELECT doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c_start)
      |    - 1 AS BIGINT) AS chunk_idx,
      |  CAST(c_start AS BIGINT) AS start,
      |  CAST(c_end - c_start AS BIGINT) AS len,
      |  md5(substr(text, c_start + 1, c_end - c_start)) AS chunk_md5
      |FROM chunked
      |ORDER BY doc_id, chunk_idx""".stripMargin

  private lazy val m12SqlBody: String = {
    // p[1] = B^15 ... p[16] = B^0, Long wraparound (= mod 2^64) — the
    // same generation fpWithCte uses, from the kernel's constants
    val powers = Iterator.iterate(1L)(
        _ * graft.functions.RollingMinHashKernel.Base)
      .take(16).toArray.reverse
    val plist = powers.map(p =>
      java.lang.Long.toUnsignedString(p) + "::HUGEINT")
      .mkString("[", ",", "]")
    val two64 = "18446744073709551616::HUGEINT"
    s"""WITH consts AS (SELECT $plist AS p),
       |cutsarr AS (
       |  SELECT doc_id, text,
       |    list_filter(range(1, greatest(length(text) - 14, 1)),
       |      i -> (CAST(list_sum(list_transform(range(0, 16),
       |        j -> unicode(text[i + j]) * p[j + 1])) AS HUGEINT)
       |        % $two64) % 64 = 0) AS starts
       |  FROM documents CROSS JOIN consts
       |  WHERE length(text) = strlen(text) AND length(text) > 0
       |), ends AS (
       |  SELECT doc_id, text,
       |    list_distinct(list_transform(starts, i -> i + 15)
       |      || [length(text)]) AS ends
       |  FROM cutsarr
       |), cutrows AS (
       |  SELECT doc_id, text, unnest(ends) AS c_end FROM ends
       |), chunked AS (
       |  SELECT doc_id, text, c_end,
       |    coalesce(LAG(c_end) OVER (PARTITION BY doc_id ORDER BY c_end),
       |      0) AS c_start
       |  FROM cutrows
       |)""".stripMargin
  }

  /** m14: container-format ingestion audit — the validation pass every
    * media pipeline runs before decode jobs are allowed to assume
    * well-formed input: tolerant-parse each blob's header and report a
    * per-document disposition plus whatever the header yields. Damage
    * is planted deterministically by doc_id class (the m09 convention —
    * production audits real crawler output instead): %11==5 gets its
    * first magic byte flipped, %11==7 an unknown version, %11==9 a
    * truncated payload; everything else is intact. One mapPartitions
    * pass, no shuffle until the presentation sort; the oracle is a
    * closed-form CASE over doc_id (the corruption classes are pure
    * functions of doc_id, dims are the packer's constants, payload
    * bytes = strlen(text)), so the hash pins classifier and header
    * layout both. */
  def m14ContainerAudit(spark: SparkSession, dir: String): DataFrame = {
    val framed = packAsMediaFramed(spark, dir)
    import framed.sparkSession.implicits._
    framed.mapPartitions { rows =>
      rows.map { r =>
        val blob = (r.doc_id % 11) match {
          case 5 => val b = r.blob.clone(); b(0) = 'X'.toByte; b
          case 7 => val b = r.blob.clone(); b(4) = 9.toByte; b
          case 9 =>
            // payload-SAFE truncation: dropping the last byte of an
            // empty-payload container would eat the header's final
            // byte and audit as truncated_header (-1 dims) while the
            // oracle pins truncated_payload/64/64 (r8 ADVICE). An
            // empty payload gets its declared length bumped instead —
            // the same declared-vs-actual mismatch, dims intact.
            if (r.blob.length > MediaHeaderBytes) r.blob.dropRight(1)
            else {
              val b = r.blob.clone()
              b(MediaHeaderBytes - 1) = (b(MediaHeaderBytes - 1) + 1).toByte
              b
            }
          case _ => r.blob
        }
        val (status, w, h, payload) = auditContainer(blob)
        (r.doc_id, status, w, h, payload)
      }
    }.toDF("doc_id", "status", "width", "height", "payload_bytes")
      .orderBy(col("doc_id"))
  }

  val m14Sql: String =
    """SELECT doc_id,
      |  CASE doc_id % 11 WHEN 5 THEN 'bad_magic'
      |    WHEN 7 THEN 'bad_version'
      |    WHEN 9 THEN 'truncated_payload' ELSE 'ok' END AS status,
      |  CAST(CASE WHEN doc_id % 11 IN (5, 7) THEN -1 ELSE 64 END AS INT)
      |    AS width,
      |  CAST(CASE WHEN doc_id % 11 IN (5, 7) THEN -1 ELSE 64 END AS INT)
      |    AS height,
      |  CAST(CASE WHEN doc_id % 11 IN (5, 7, 9) THEN -1
      |    ELSE strlen(text) END AS INT) AS payload_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m03's frame set is fully determined by (text, n_chars): nFrames =
    * n_chars % 16 + 1, indices 0,4,8,... and the digest is md5 of the
    * UTF-8 text plus ":idx" — all expressible in SQL (the texts are
    * ASCII, so DuckDB's string md5 equals the byte-level digest). */
  val m03Sql: String =
    """SELECT doc_id, CAST(4 * i AS INT) AS frame_idx,
      |  md5(text || ':' || CAST(4 * i AS VARCHAR)) AS frame_md5
      |FROM documents, range(0, 4) t(i)
      |WHERE 4 * i < n_chars % 16 + 1
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** m04 oracle: the box-filter downsample replayed from the SOURCE
    * bytes — each of the 1024 output pixels is the mean of its 2×2
    * block in the 64×64 grid (text bytes top-left, 0 elsewhere; the
    * fixture text is ASCII, so `unicode(char)` = the UTF-8 byte, the
    * same precondition m02/m12/m13 already pin), then the emitted
    * payload's sum and CRC32. blob_len = 15-byte header + 32·32
    * single-byte pixels; dims from the re-parsed header. */
  val m04Sql: String = {
    // output pixel k ← source block anchored at (2·(k÷32), 2·(k mod 32))
    def pix(off: String): String = {
      val idx = s"((k // 32) * 2 + ${off.head}) * 64 + (k % 32) * 2 + ${off.tail}"
      s"CASE WHEN $idx < n THEN bs[$idx + 1] ELSE 0 END"
    }
    s"""WITH consts AS (SELECT $crcTableLiteral AS tbl),
       |b AS (
       |  SELECT doc_id, length(text) AS n,
       |    list_transform(range(1, length(text) + 1), i -> unicode(text[i]))
       |      AS bs
       |  FROM documents
       |),
       |rs AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 1024), k ->
       |      (${pix("00")} + ${pix("01")}
       |       + ${pix("10")} + ${pix("11")}) // 4) AS ps
       |  FROM b
       |)
       |SELECT doc_id, CAST(1039 AS INT) AS blob_len, CAST(32 AS INT) AS width,
       |  CAST(32 AS INT) AS height,
       |  CAST(list_sum(ps) AS BIGINT) AS payload_sum,
       |  xor(list_reduce(list_prepend(4294967295::BIGINT, ps),
       |    (c, byt) -> xor(tbl[(xor(c, byt) % 256) + 1], c // 256)),
       |    4294967295::BIGINT) AS payload_crc32
       |FROM rs, consts ORDER BY doc_id""".stripMargin
  }

  /** m02 oracle: the decode + feature transform re-expressed in SQL —
    * zlib CRC32 as a
    * table-driven `list_reduce` byte fold (table generated here with the
    * same reflected-0xEDB88320 recurrence as java.util.zip.CRC32), and
    * the folded byte histogram with the kernel's exact float32 division
    * (CAST ... AS FLOAT / FLOAT, then widened to DOUBLE like the Spark
    * projection). Texts are ASCII so `unicode(char)` = the UTF-8 byte. */
  /** The zlib CRC32 lookup table as a SQL list literal — lets both the
    * m02 and m04 oracles replay the payload checksum byte-for-byte in
    * DuckDB (`list_reduce` over the byte list with the classic
    * table-driven update). */
  // a def, not a val: m04Sql initializes before this point in the
  // object body and a val would still be null there (the classic
  // object-init-order trap); the table is only rendered at init time
  private def crcTableLiteral: String = (0 until 256).map { i =>
    var c = i.toLong
    var k = 0
    while (k < 8) {
      c = if ((c & 1L) == 1L) (c >>> 1) ^ 0xEDB88320L else c >>> 1
      k += 1
    }
    c
  }.mkString("[", ",", "]")

  val m02Sql: String = {
    val table = crcTableLiteral
    val fs = (0 until 8).map(r =>
      s"  CAST(MAX(CASE WHEN r = $r THEN f END) AS DOUBLE) AS f$r").mkString(",\n")
    s"""WITH consts AS (SELECT $table AS tbl),
       |b AS (
       |  SELECT doc_id, length(text) AS n,
       |    list_transform(range(1, length(text) + 1), i -> unicode(text[i]))
       |      AS bs
       |  FROM documents
       |),
       |crc AS (
       |  SELECT doc_id, n,
       |    xor(list_reduce(list_prepend(4294967295::BIGINT, bs),
       |      (c, byt) -> xor(tbl[(xor(c, byt) % 256) + 1], c // 256)),
       |      4294967295::BIGINT) AS checksum,
       |    bs
       |  FROM b, consts
       |),
       |hist AS (
       |  SELECT doc_id, r.j AS r,
       |    CAST(len(list_filter(bs, x -> x % 8 = r.j)) AS FLOAT)
       |      / CAST(CASE WHEN n > 0 THEN n ELSE 1 END AS FLOAT) AS f
       |  FROM crc, range(0, 8) r(j)
       |)
       |SELECT c.doc_id, CAST(c.n AS INT) AS n_bytes, c.checksum,
       |  CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
       |$fs
       |FROM crc c JOIN hist h USING (doc_id)
       |GROUP BY c.doc_id, c.n, c.checksum
       |ORDER BY c.doc_id""".stripMargin
  }

  /** m15 oracle: PNG is lossless, so the decoded pixel grid IS the
    * payload padded (or truncated) to the 64×64 frame — the features
    * replay from the source text exactly as [[m02Sql]]'s do, over the
    * byte list capped at 4096 and zero-padded to 4096. The PNG bytes
    * themselves are deliberately OUTSIDE the contract (encoder chunk
    * layout and compression level are the codec's freedom); only the
    * decoded content is pinned. */
  val m15Sql: String = {
    val table = crcTableLiteral
    val fs = (0 until 8).map(r =>
      s"  CAST(MAX(CASE WHEN r = $r THEN f END) AS DOUBLE) AS f$r").mkString(",\n")
    s"""WITH consts AS (SELECT $table AS tbl),
       |b AS (
       |  SELECT doc_id,
       |    list_concat(
       |      list_transform(range(1, least(length(text), 4096) + 1),
       |        i -> unicode(text[i])),
       |      list_transform(range(1, 4096 - least(length(text), 4096) + 1),
       |        i -> 0)) AS bs
       |  FROM documents
       |),
       |crc AS (
       |  SELECT doc_id,
       |    xor(list_reduce(list_prepend(4294967295::BIGINT, bs),
       |      (c, byt) -> xor(tbl[(xor(c, byt) % 256) + 1], c // 256)),
       |      4294967295::BIGINT) AS checksum,
       |    bs
       |  FROM b, consts
       |),
       |hist AS (
       |  SELECT doc_id, r.j AS r,
       |    CAST(len(list_filter(bs, x -> x % 8 = r.j)) AS FLOAT)
       |      / CAST(4096 AS FLOAT) AS f
       |  FROM crc, range(0, 8) r(j)
       |)
       |SELECT c.doc_id, CAST(4096 AS INT) AS n_bytes, c.checksum,
       |  CAST(64 AS INT) AS width, CAST(64 AS INT) AS height,
       |$fs
       |FROM crc c JOIN hist h USING (doc_id)
       |GROUP BY c.doc_id, c.checksum
       |ORDER BY c.doc_id""".stripMargin
  }

  val registry: Seq[Query] = Seq(
    Query("m14_container_audit", m14ContainerAudit, Some(m14Sql)),
    Query("m13_cdc_dedup", m13CdcDedupStats, Some(m13Sql)),
    Query("m12_cdc_chunks", m12CdcChunks, Some(m12Sql)),
    Query("m11_training_pairs", m11TrainingPairs, Some(m11Sql)),
    Query("m09_integrity_audit", m09IntegrityAudit, Some(m09Sql)),
    Query("m10_shared_frame_dups", m10SharedFrameDups, Some(m10Sql)),
    Query("m01_media_meta", m01MediaMeta, Some(m01Sql)),
    Query("m02_media_features", m02MediaFeatures, Some(m02Sql)),
    Query("m15_png_features", m15PngFeatures, Some(m15Sql)),
    Query("m03_frame_sample", m03FrameSample, Some(m03Sql)),
    Query("m04_resize", m04Resize, Some(m04Sql)),
    Query("m05_binary_files", m05BinaryFiles, Some(m05Sql)),
    Query("m06_dup_frames", m06DupFrames, Some(m06Sql)),
    Query("m07_blob_chunks", m07BlobChunks, Some(m07Sql)),
    Query("m08_shared_chunks", m08SharedChunks, Some(m08Sql)),
  )
}
