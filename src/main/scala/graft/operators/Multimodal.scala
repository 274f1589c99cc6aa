package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §7.5): media as opaque
  * `binary` columns with typed metadata, partition-wise feature
  * extraction, and a decode seam.
  *
  * The Spark-side mechanics — schema, batch iteration shape,
  * deterministic partitioning — are real and tested. IMAGE decode is
  * real too: [[decodeMedia]] routes `image/...` mime types through `javax.imageio`
  * (pure JVM, ships with the JDK). Audio/video codecs are absent from
  * this environment, so those mime types take the deterministic
  * byte-statistics fallback behind the same seam. At scale the
  * extraction runs one partition per task with zero shuffle; budget
  * `spark.sql.files.maxPartitionBytes` so a partition of blobs fits
  * executor memory.
  */
object Multimodal {

  /** Wrap a string column as a binary media column + metadata struct
    * (in production the blob arrives from object storage; here the
    * bytes come from the fixture's text so tests are deterministic). */
  def packMedia(df: DataFrame, idCol: String, payloadCol: String,
                mimeType: String = "application/octet-stream"): DataFrame =
    df.select(
      col(idCol),
      encode(col(payloadCol), "UTF-8").as("media"),
      struct(
        lit(mimeType).as("mime_type"),
        length(encode(col(payloadCol), "UTF-8")).cast(LongType).as("size_bytes"),
        md5(encode(col(payloadCol), "UTF-8")).as("checksum_md5")).as("media_meta"))

  /** Decode seam. Image mime types decode FOR REAL through `javax.imageio`
    * (pure JVM — PNG/BMP/GIF/JPEG readers ship with the JDK, no new
    * dependencies) into a 16-dim feature vector
    * ([[imageFeatures]]). Audio/video mime types, and image subtypes
    * ImageIO has no reader for, fall back to the deterministic
    * [[fakeDecodeFeatures]] byte statistics — same 16-float shape, so
    * downstream schema/partitioning is identical either way and a
    * richer codec slots in here without touching callers. */
  def decodeMedia(mimeType: String, bytes: Array[Byte]): Array[Float] =
    if (mimeType != null && mimeType.startsWith("image/")) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) fakeDecodeFeatures(bytes) else imageFeatures(img)
    } else fakeDecodeFeatures(bytes)

  /** Deterministic 16-dim image features from a decoded frame:
    * `[width, height, mean R, mean G, mean B, 11-bucket luminance
    * histogram (L1-normalized)]`. Channel sums are exact integer
    * accumulations; the only float ops are the final divisions, so
    * the vector is bit-reproducible across partitionings and JVMs. */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var (sr, sg, sb) = (0L, 0L, 0L)
    val hist = new Array[Long](11)
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
      sr += r; sg += g; sb += b
      // integer ITU-R 601 luma approximation, bucketed 0..10
      hist(((r * 299 + g * 587 + b * 114) / 1000) * 11 / 256) += 1
      i += 1
    }
    val n = px.length.toFloat
    Array(w.toFloat, h.toFloat, sr / n, sg / n, sb / n) ++
      hist.map(_ / n)
  }

  /** Deterministic stand-in for decode+featurize: an `nBuckets`-dim
    * byte-histogram (L1-normalized) — same output shape a real
    * embedding model would produce, fully reproducible. */
  def fakeDecodeFeatures(bytes: Array[Byte], nBuckets: Int = 16): Array[Float] = {
    val counts = new Array[Float](nBuckets)
    var i = 0
    while (i < bytes.length) {
      counts((bytes(i) & 0xff) * nBuckets / 256) += 1f
      i += 1
    }
    val n = math.max(bytes.length, 1).toFloat
    counts.map(_ / n)
  }

  /** Frame sampling over the media column: fixed-size byte windows at
    * a stride — the Spark-side plumbing of video frame-sampling (one
    * output row per frame, ids + frame indices preserved, zero
    * shuffle). The window slicer stands in for a real container
    * demuxer, which would slot in behind [[decodeMedia]]; the
    * partition-iterator shape, output schema and ordering contract are
    * the real ones. Empty payloads produce zero frames. */
  def sampleFrames(df: DataFrame, idCol: String = "doc_id",
                   mediaCol: String = "media", frameBytes: Int = 256,
                   stride: Int = 128): DataFrame = {
    require(frameBytes > 0 && stride > 0, "frameBytes and stride must be positive")
    mapMedia(df, idCol, mediaCol, Nil, Seq(
      StructField("frame_idx", LongType, nullable = false),
      StructField("frame", BinaryType, nullable = false),
      StructField("frame_bytes", LongType, nullable = false))) { (id, bytes, _) =>
      Iterator.range(0, bytes.length, stride).zipWithIndex.map {
        case (off, idx) =>
          val frame = java.util.Arrays.copyOfRange(
            bytes, off, math.min(off + frameBytes, bytes.length))
          Row(id, idx.toLong, frame, frame.length.toLong)
      }
    }
  }

  /** Deterministic nearest-neighbor byte resample to `targetBytes` —
    * the resize stage's plumbing (a real image resize would decode via
    * [[decodeMedia]] first; the schema/partitioning/determinism
    * contract here is the real one). Empty payloads resize to zeros. */
  def resizeMedia(df: DataFrame, idCol: String = "doc_id",
                  mediaCol: String = "media", targetBytes: Int = 64): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    mapMedia(df, idCol, mediaCol, Nil, Seq(
      StructField("resized", BinaryType, nullable = false),
      StructField("orig_bytes", LongType, nullable = false))) { (id, bytes, _) =>
      val out = new Array[Byte](targetBytes)
      if (bytes.length > 0) {
        var i = 0
        while (i < targetBytes) {
          out(i) = bytes((i.toLong * bytes.length / targetBytes).toInt)
          i += 1
        }
      }
      Iterator.single(Row(id, out, bytes.length.toLong))
    }
  }

  /** Perceptual near-dup over binary media columns — the image/audio
    * dedup lane: byte-level SimHash (hex-pair shingles over the raw
    * bytes stand in for decoded-frame features; a production pHash
    * would decode via [[decodeMedia]] first and feed frame features
    * into the SAME signature/banding machinery) banded and
    * hamming-verified exactly like text SimHash
    * ([[Dedup.simhashPairsFromSigs]]). Blobs that differ by a few
    * bytes land within `maxHamming`; unrelated blobs don't. Scale
    * shape: one scan computes every signature (no shuffle), then the
    * band posting-list join — identical cost profile to q32 at
    * corpus scale. */
  def binaryNearDup(df: DataFrame, idCol: String = "doc_id",
                    mediaCol: String = "media", shingleHexChars: Int = 16,
                    maxHamming: Int = 3): DataFrame =
    Dedup.simhashPairsFromSigs(
      Dedup.simhashSigsOf(df, idCol,
        graft.functions.TextFunctions.charShingles(
          lower(hex(col(mediaCol))), shingleHexChars)),
      maxHamming)

  /** Partition-wise feature extraction over the media column: one
    * pass per partition, rows streamed through an iterator (the batch
    * shape a Python `mapInPandas`/Arrow pipeline would use — here a
    * JVM mapPartitions, no serialization hop at all). Output:
    * (id, features array<float>, size_bytes). */
  def extractFeatures(df: DataFrame, idCol: String = "doc_id",
                      mediaCol: String = "media",
                      nBuckets: Int = 16): DataFrame =
    mapMedia(df, idCol, mediaCol, Nil, featureFields) { (id, bytes, _) =>
      Iterator.single(
        Row(id, fakeDecodeFeatures(bytes, nBuckets).toSeq, bytes.length.toLong))
    }

  /** Like [[extractFeatures]] but through the REAL decode seam: the
    * mime type rides in from the metadata struct and image payloads
    * decode with `javax.imageio`; everything else takes the
    * deterministic fallback. Same partition-iterator shape — one pass,
    * zero shuffle, 16-float features either way. */
  def extractDecodedFeatures(df: DataFrame, idCol: String = "doc_id",
                             mediaCol: String = "media",
                             mimeCol: String = "media_meta.mime_type"): DataFrame =
    mapMedia(df, idCol, mediaCol, Seq(expr(mimeCol).cast(StringType)),
      featureFields) { (id, bytes, r) =>
      Iterator.single(
        Row(id, decodeMedia(r.getString(2), bytes).toSeq, bytes.length.toLong))
    }

  private val featureFields = Seq(
    StructField("features", ArrayType(FloatType, containsNull = false)),
    StructField("size_bytes", LongType, nullable = false))

  /** The extractors' one pass: stream each partition's `(id, media,
    * extra…)` rows through `f(id, bytes, row)`, whose output rows are
    * the id followed by `outFields`. */
  private def mapMedia(df: DataFrame, idCol: String, mediaCol: String,
                       extra: Seq[Column], outFields: Seq[StructField])
                      (f: (Long, Array[Byte], Row) => Iterator[Row]): DataFrame = {
    val outSchema = StructType(StructField(idCol, LongType, nullable = false) +: outFields)
    val input = df.select(col(idCol).cast(LongType) +: col(mediaCol) +: extra: _*)
    val rdd = input.rdd.mapPartitions(_.flatMap { r =>
      f(r.getLong(0), r.getAs[Array[Byte]](1), r)
    })
    df.sparkSession.createDataFrame(rdd, outSchema)
  }
}
