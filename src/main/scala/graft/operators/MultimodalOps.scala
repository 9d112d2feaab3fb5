package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Typed media payload: opaque bytes + structured metadata — the
  * storage shape for image/audio/video columns in a training-data lake
  * (binary column with typed metadata struct; parquet stores the bytes
  * contiguously and prunes the metadata independently). */
final case class MediaPayload(
    media_id: Long, format: String,
    width: Int, height: Int, sample_rate: Int,
    data: Array[Byte])

/** Extracted per-media features. `width`/`height` are the decoded
  * pixel dimensions (0 when the payload is not a decodable image);
  * `thumbnail` is a real 8x8 grayscale downsample for decoded images,
  * or the first-8-bytes fallback for non-image payloads. */
final case class MediaFeatures(
    media_id: Long, format: String, n_bytes: Int,
    width: Int, height: Int,
    mean_byte: Double, entropy_proxy: Double,
    thumbnail: Array[Byte])

/** Multimodal column plumbing: schema, partition-friendly batch
  * processing, image decode, a byte-level resize stub and frame
  * sampling.
  *
  * Image decode is REAL for PNG/JPEG/GIF/BMP via the JDK's
  * `javax.imageio` (no external dependency): real width/height and a
  * deterministic 8x8 grayscale thumbnail. Audio/video codecs are not
  * in the JDK, so those payloads take the byte-level fallback path
  * (full byte statistics, first-8-bytes thumbnail) — swapping in a
  * real codec changes only [[decodeImage]], not the pipeline shape.
  */
object MultimodalOps {

  /** Magic-byte sniff for formats the JDK can decode — cheaper and
    * more reliable than trusting a file extension at 100 TB. The BMP
    * check goes beyond the 2-byte 'BM' magic (which ordinary text can
    * start with): the DIB header size at offset 14 must be one of the
    * real variants with its high bytes zero, or a text payload could
    * be garbage-decoded into nonzero dimensions. */
  private[graft] def looksLikeImage(bytes: Array[Byte]): Boolean = {
    def at(i: Int): Int = bytes(i) & 0xff
    def bmp: Boolean =
      bytes.length >= 18 && at(0) == 'B' && at(1) == 'M' &&
        Set(12, 40, 56, 64, 108, 124).contains(at(14)) &&
        at(15) == 0 && at(16) == 0 && at(17) == 0
    bytes.length >= 8 && (
      (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') ||
      (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) ||          // JPEG
      (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') ||
      bmp)
  }

  /** Decode an encoded image and produce (width, height, 8x8 gray
    * thumbnail). The thumbnail samples pixel (floor(x*w/8),
    * floor(y*h/8)) per cell and converts with integer luma
    * ((77r + 150g + 29b) >> 8) — deliberately hand-rolled instead of
    * AWT's scaler so the bytes are deterministic across JVMs. Returns
    * None for undecodable payloads. */
  private[graft] def decodeImage(bytes: Array[Byte])
      : Option[(Int, Int, Array[Byte])] = {
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val thumb = new Array[Byte](64)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val rgb = img.getRGB(x * w / 8, y * h / 8)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            thumb(y * 8 + x) = ((77 * r + 150 * g + 29 * b) >> 8).toByte
            x += 1
          }
          y += 1
        }
        Some((w, h, thumb))
      }
      // NonFatal, not just IOException: the JDK BMP/GIF/JPEG readers
      // throw unchecked exceptions (IllegalArgumentException, CMM/
      // IndexOutOfBounds) on malformed bodies — at 100 TB of untrusted
      // payloads one adversarial file must not kill the job
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Attach a synthetic media payload to any id+text DataFrame (the
    * testdata ships no real binaries): bytes are the UTF-8 text,
    * metadata derived deterministically. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("img"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("format"),
      (pmod(col(idCol).cast("long"), lit(64)) + 1).cast("int").as("width"),
      (pmod(col(idCol).cast("long"), lit(48)) + 1).cast("int").as("height"),
      lit(16000).as("sample_rate"),
      encode(col(textCol), "UTF-8").as("data"))

  /** Feature extraction: byte statistics for every payload, plus a
    * REAL image decode (javax.imageio — PNG/JPEG/GIF/BMP) for
    * payloads whose magic bytes say they are images: decoded
    * width/height and a deterministic 8x8 grayscale thumbnail.
    * Non-image payloads (audio/video/opaque) keep width=height=0 and
    * a first-8-bytes fallback thumbnail. Runs per-partition (one
    * JVM-side batch per partition — the Scala analogue of mapInPandas
    * batching), with the codec's disk cache disabled once per
    * partition. */
  def extractFeatures(media: Dataset[MediaPayload]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // per-partition codec setup: no temp-file cache on executors
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { p =>
        val bytes = p.data
        val n = bytes.length
        var sum = 0L
        val counts = new Array[Int](256)
        var i = 0
        while (i < n) {
          val b = bytes(i) & 0xff
          sum += b
          counts(b) += 1
          i += 1
        }
        val mean = if (n == 0) 0.0 else sum.toDouble / n
        // entropy proxy: 1 - sum((c/n)^2), a collision-probability
        // stand-in. The squared counts are accumulated in exact
        // integer arithmetic with ONE final division, so the value is
        // independent of summation order — bit-identical across
        // engines (oracle parity) and partitions.
        var sumSq = 0L
        var j = 0
        while (j < 256) {
          val c = counts(j).toLong
          sumSq += c * c
          j += 1
        }
        val coll = if (n == 0) 0.0 else sumSq.toDouble / (n.toDouble * n)
        val decoded =
          if (looksLikeImage(bytes)) decodeImage(bytes) else None
        decoded match {
          case Some((w, h, thumb)) =>
            MediaFeatures(p.media_id, p.format, n, w, h,
              mean, 1.0 - coll, thumb)
          case None =>
            MediaFeatures(p.media_id, p.format, n, 0, 0,
              mean, 1.0 - coll, bytes.take(8))
        }
      }
    }
  }

  /** STUB resize: nearest-neighbor byte sampling to a fixed `outLen`
    * output (a real deployment decodes pixels and resizes; the
    * deterministic byte-level fake keeps the pipeline shape — fixed-
    * size output column, pure expression, scan speed, no shuffle).
    * Index i samples source position floor(i·n/outLen) (0-based).
    *
    * `data` enters as the COLLECTION argument of a 1-element
    * transform, so a computed payload expression evaluates ONCE per
    * row; the inner lambda only references the bound variable (free),
    * never the original column — see CLAUDE.md's lambda-body
    * re-evaluation footgun. The sample index multiplies as a LONG so
    * a multi-GB payload cannot overflow the position arithmetic. */
  def resizeStub(data: org.apache.spark.sql.Column, outLen: Int)
      : org.apache.spark.sql.Column =
    element_at(
      transform(array(data), d => {
        val n = length(d)
        aggregate(
          transform(sequence(lit(0), lit(outLen - 1)),
            i => substring(d,
              (floor((i.cast("long") * n).cast("double") / outLen) + 1)
                .cast("int"),
              lit(1))),
          lit(Array.emptyByteArray),
          (acc, b) => concat(acc, b))
      }),
      1)

  /** Frame sampling for "video" payloads: slice the byte stream into
    * fixed-size frames with a stride, keeping frame index — pure column
    * expressions, so sampling prunes before any decode. */
  def frameSample(df: DataFrame, dataCol: String,
                  frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = floor((length(col(dataCol)) - frameBytes) / stride) + 1
    df.withColumn("frame",
        explode(when(nFrames > 0,
          transform(sequence(lit(0), nFrames.cast("int") - 1),
            i => struct(i.as("frame_idx"),
              substring(col(dataCol), (i * stride + 1).cast("int"),
                lit(frameBytes)).as("frame_bytes"))))
          .otherwise(array())))
      .withColumn("frame_idx", col("frame.frame_idx"))
      .withColumn("frame_bytes", col("frame.frame_bytes"))
      .drop("frame")
  }
}
