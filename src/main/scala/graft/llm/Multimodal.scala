package graft.llm

import graft.Presented

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal column handling: image/audio/video payloads ride through the
 * pipeline as opaque `binary` columns plus typed metadata, so Spark's
 * columnar machinery (parquet encoding, predicate pushdown on the metadata
 * columns, partition pruning) applies without ever interpreting the bytes.
 *
 * The decode step (`decodeBatch`) is where a real codec library would run.
 * This container has none, so decoding is STUBBED with a deterministic
 * fake derived from the payload bytes — but the Spark-side plumbing is
 * real and tested: binary schema, per-partition batched decode via
 * `mapPartitions` (one decoder init per partition, the same shape a JNI /
 * native codec needs), and typed output rows.
 *
 * Scale notes: payload columns make rows wide — repartition by byte budget
 * (not row count) before decode so a partition's batch fits executor
 * memory; keep metadata in separate columns so metadata-only queries never
 * read the payload pages (parquet column pruning).
 */
object Multimodal {

  /** A media payload row: id + opaque bytes + declared type. */
  case class MediaRow(doc_id: Long, content: Array[Byte], media_type: String)

  /** Decoded metadata produced by the (stubbed) decoder. */
  case class DecodedMeta(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      frame_offsets: Seq[Long])

  /**
   * Wrap a text column as an opaque binary payload (the test stand-in for
   * real image/audio bytes — schema and sizes behave identically).
   */
  def asBinaryPayload(df: DataFrame, idCol: String, textCol: String,
      mediaType: String = "application/octet-stream"): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      col(textCol).cast("binary").as("content"),
      lit(mediaType).as("media_type"))

  /**
   * STUB decoder for one payload. Deterministic dimensions derived from
   * the byte length — a real build replaces this body with an actual codec
   * call; the signature (bytes in, typed meta out) is the contract.
   */
  def decodeOne(id: Long, bytes: Array[Byte]): DecodedMeta = {
    val n = bytes.length.toLong
    val width = 16 + (n % 64).toInt
    val height = 16 + ((n / 64) % 64).toInt
    val nFrames = 1 + (n % 7).toInt
    // evenly spaced fake frame byte-offsets, the shape a frame sampler needs
    val offsets = (0 until nFrames).map(i => i * (n / math.max(nFrames, 1))).toSeq
    DecodedMeta(id, n, width, height, nFrames, offsets)
  }

  /**
   * Batched decode: one pass per partition, decoder state initialized once
   * per partition (the `iter =>` prologue is where a real codec handle
   * would be opened). Returns a typed Dataset of metadata.
   */
  def decodeBatch(media: Dataset[MediaRow]): Dataset[DecodedMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { iter =>
      // real impl: open codec / JNI context here, close in a final step.
      // null payloads (null source text) are undecodable -> no row
      iter.filter(_.content != null).map(m => decodeOne(m.doc_id, m.content))
    }
  }

  /**
   * Frame sampling over a payload column: one row per (doc, frame) with
   * the frame's byte slice and a content tag — the shape a video/audio
   * sampler feeds downstream (every frame row stays colocated with its
   * partition; no shuffle). Frames follow the stub decoder's geometry
   * (n_frames equal slices of floor(n_bytes / n_frames) bytes), so a
   * real codec swaps in by replacing the offset/size arithmetic with
   * container metadata.
   */
  def frameSample(df: DataFrame, idCol: String, payloadCol: String,
      ordered: Boolean = true): DataFrame = {
    val nBytes = octet_length(col(payloadCol)).cast("long")
    val nFrames = (lit(1) + nBytes % 7).cast("int")
    val frameSize = (nBytes / nFrames).cast("long")
    df.select(
      col(idCol).as("doc_id"),
      col(payloadCol).as("_payload"),
      nFrames.as("n_frames"),
      frameSize.as("frame_size"))
      .select(col("doc_id"), col("_payload"), col("frame_size"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        (col("frame_idx") * col("frame_size")).cast("long").as("frame_offset"),
        md5(col("_payload").substr(
          (col("frame_idx") * col("frame_size") + 1).cast("int"),
          col("frame_size").cast("int"))).as("frame_tag"))
      .transform(Presented(_, ordered, "doc_id", "frame_idx"))
  }

  /**
   * STUB resize: deterministic downsample of the payload to a target
   * pixel budget — every stride-th byte survives, stride chosen so the
   * sample fits `targetW * targetH`. A real implementation swaps the
   * sampling for a codec's scaler; the Spark shape (typed per-partition
   * pass, byte-budget-bounded output, content tag for dedup after
   * resize) is the real contract. Stride is the CEILING of n/budget so
   * the sample never exceeds `targetW * targetH` bytes; null payloads
   * produce no row (same contract as [[frameSample]]'s null
   * propagation). Output: (doc_id, n_bytes, stride, resized_tag).
   */
  def resize(df: DataFrame, idCol: String, payloadCol: String,
      targetW: Int = 16, targetH: Int = 16): DataFrame = {
    val budget = targetW * targetH
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("n_bytes",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("stride",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("resized_tag",
        org.apache.spark.sql.types.StringType)))
    df.select(org.apache.spark.sql.functions.col(idCol),
        org.apache.spark.sql.functions.col(payloadCol))
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          Option(r.getAs[Array[Byte]](1)).map { bytes =>
          val n = bytes.length
          val stride = math.max(1L, (n.toLong + budget - 1) / budget)
          val sampled = new java.io.ByteArrayOutputStream()
          var i = 0L
          while (i < n) { sampled.write(bytes(i.toInt)); i += stride }
          val digest = md.digest(sampled.toByteArray)
          val hex = new java.lang.StringBuilder(32)
          digest.foreach(b => hex.append(f"${b & 0xff}%02x"))
          Row(r.get(0), n.toLong, stride, hex.toString)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /**
   * Expression-only metadata over a payload column (no decode): byte
   * length, content tag, and the same deterministic fake dimensions as
   * [[decodeOne]] — lets metadata-driven pruning/filtering run without
   * touching the decoder, and pins decodeOne's arithmetic against the
   * SQL oracle.
   */
  def metaColumns(df: DataFrame, idCol: String, textCol: String,
      ordered: Boolean = true): DataFrame = {
    val nBytes = octet_length(col(textCol)).cast("long")
    df.select(
      col(idCol).as("doc_id"),
      nBytes.as("n_bytes"),
      TextOps.md5Hex(col(textCol)).as("content_tag"),
      (lit(16) + nBytes % 64).cast("long").as("fake_width"),
      (lit(16) + (nBytes.cast("long") / lit(64)).cast("long") % 64).cast("long").as("fake_height"),
      (lit(1) + nBytes % 7).cast("long").as("n_frames"))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /** Average-hash (aHash) of one payload: 64 equal byte buckets, bit i
    * set iff bucket i's mean unsigned byte exceeds the global mean —
    * the classic perceptual-hash recipe with the payload bytes standing
    * in for the decoded grayscale pixel buffer (a real build inserts
    * the codec between [[decodeOne]] and this fold; the signature
    * contract is unchanged). Empty buckets (payloads under 64 bytes)
    * contribute 0-bits; an empty payload has no signal and returns
    * null. MSB-first, 16 lowercase hex chars — the
    * [[SimHashSignatures]] wire format. */
  def aHashJvm(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n == 0) return null
    var total = 0L
    var i = 0
    while (i < n) { total += bytes(i) & 0xff; i += 1 }
    val mean = total.toDouble / n
    var sig = 0L
    var b = 0
    while (b < 64) {
      val from = (b.toLong * n / 64).toInt
      val until = ((b + 1).toLong * n / 64).toInt
      if (until > from) {
        var s = 0L
        var j = from
        while (j < until) { s += bytes(j) & 0xff; j += 1 }
        if (s.toDouble / (until - from) > mean) sig |= 1L << (63 - b)
      }
      b += 1
    }
    f"$sig%016x"
  }

  /** (doc_id, simhash): perceptual signatures for a binary payload
    * column — one typed pass, no shuffle; null payloads and empty
    * payloads yield a null signature. */
  def perceptualHash(df: DataFrame, idCol: String, payloadCol: String,
      ordered: Boolean = true): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      df.schema(df.schema.fieldIndex(idCol)).copy(name = "doc_id"),
      org.apache.spark.sql.types.StructField("simhash",
        org.apache.spark.sql.types.StringType, nullable = true)))
    df.select(col(idCol), col(payloadCol).cast("binary"))
      .mapPartitions { rows =>
        rows.map { r =>
          val sig = if (r.isNullAt(1)) null
            else aHashJvm(r.getAs[Array[Byte]](1))
          Row(r.get(0), sig)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .transform(Presented(_, ordered, "doc_id"))
  }

  /** Image near-duplicate pairs: [[perceptualHash]] signatures through
    * [[SimHashNearDup.fromSignatures]]'s pigeonhole chunk buckets —
    * (doc_a, doc_b, hamming) within `maxHamming`, never all-pairs. */
  def imageNearDup(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, ordered: Boolean = true): DataFrame =
    SimHashNearDup.fromSignatures(
      perceptualHash(df, idCol, payloadCol, ordered = false),
      maxHamming, ordered)
}
