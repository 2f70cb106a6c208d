package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata alongside. The decode/feature steps
  * run as per-partition transforms (the Scala analog of `mapInPandas`):
  * one iterator pass, schema declared up front, one payload at a time.
  *
  * The actual codec is STUBBED (no image/audio libraries ship in this
  * container): `decodeStub` derives deterministic fake metadata from the
  * bytes. The Spark-side plumbing — binary column, schema, partitioning —
  * is real and tested; swap `decodeStub` for a real decoder
  * on a cluster with codecs installed.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      format: String,
      width: Int,
      height: Int,
      frames: Int)

  /** STUB decoder — deterministic fake: replace with a real codec.
    * Metadata is a pure function of the payload bytes so tests and oracles
    * stay byte-stable.
    */
  def decodeStub(payload: Array[Byte]): (String, Int, Int, Int) = {
    val n = payload.length
    val format = if (n == 0) "empty" else (n % 3) match {
      case 0 => "img" case 1 => "audio" case _ => "video"
    }
    val width = n % 1024
    val height = (n / 1024) % 1024
    val frames = if (format == "video") n % 30 + 1 else 1
    (format, width, height, frames)
  }

  /** Synthesize the binary payload column from the documents table (the
    * container has no real media; payload = UTF-8 bytes of the text).
    * Source read memoized per session (core.DfCache) so query construction
    * stays free of footer/schema planning jobs.
    */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.DfCache.get(spark, s"$sfDir/documents.parquet")(
      spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The full metadata query (oracle-checkable: every output column is a
    * deterministic integer/string function of octet_length(text)): one
    * mapPartitions pass over the media table, the seam where a real
    * decoder would set up its codec once per task.
    */
  def mediaMetaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir).mapPartitions { it =>
      it.map { m =>
        val (format, w, h, frames) = decodeStub(m.payload)
        MediaMeta(m.doc_id, m.payload.length.toLong, format, w, h, frames)
      }
    }.toDF()
  }

  // ---- REAL image decode path (P6 PPM — an actual binary image format
  // decodable in pure JVM, no codec libraries needed). The stub above
  // remains the seam for formats whose codecs don't ship in this container;
  // this path proves the plumbing end-to-end with a real parser.

  final case class PpmMeta(doc_id: Long, width: Int, height: Int, maxval: Int, pixel_sum: Long)

  /** Deterministic P6 PPM payload: real header (`P6\n<w> <h>\n255\n`, with
    * a comment line for parser realism) + raw RGB bytes, dimensions and
    * pixels pure functions of doc_id so an independent engine can predict
    * the decode output without parsing bytes.
    */
  def ppmPayload(docId: Long): Array[Byte] = {
    val w = 4 + (docId % 13).toInt
    val h = 3 + (docId % 7).toInt
    val header = s"P6\n# synthetic $docId\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val px = new Array[Byte](3 * w * h)
    var i = 0
    while (i < px.length) {
      px(i) = ((docId + i) % 256).toByte
      i += 1
    }
    header ++ px
  }

  /** REAL P6 decoder: parses magic, comments, dimensions, maxval, then the
    * raw RGB plane. None on malformed input (bad magic, short data,
    * non-numeric header fields). This summary form never materializes the
    * plane; [[decodePpmPixels]] returns it for transforms.
    */
  def decodePpm(payload: Array[Byte]): Option[(Int, Int, Int, Long)] =
    decodePpmPixels(payload).map { case (w, h, maxval, off, _) =>
      var sum = 0L
      var i = 0
      while (i < 3 * w * h) {
        sum += payload(off + i) & 0xff
        i += 1
      }
      (w, h, maxval, sum)
    }

  /** Header parse + plane location: (w, h, maxval, plane offset into the
    * payload, plane length). None on malformed input.
    */
  def decodePpmPixels(payload: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    var pos = 0
    def skipSpaceAndComments(): Unit = {
      var go = true
      while (go && pos < payload.length) {
        val c = payload(pos)
        if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else if (c == '#') { while (pos < payload.length && payload(pos) != '\n') pos += 1 }
        else go = false
      }
    }
    def readInt(): Option[Int] = {
      skipSpaceAndComments()
      val start = pos
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') pos += 1
      // > 9 digits cannot be a sane dimension/maxval and would overflow
      // toInt (malformed -> None, never an exception escaping to the task)
      if (pos == start || pos - start > 9) None
      else Some(new String(payload, start, pos - start,
        java.nio.charset.StandardCharsets.US_ASCII).toInt)
    }
    if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6') None
    else {
      pos = 2
      for {
        w <- readInt().filter(_ > 0)
        h <- readInt().filter(_ > 0)
        maxval <- readInt().filter(_ > 0)
        data <- {
          pos += 1 // exactly one whitespace byte after maxval per spec
          // Long arithmetic: a header claiming huge dims must not overflow
          // Int into a small/negative byte count and get ACCEPTED
          val needL = 3L * w * h
          if (needL <= Int.MaxValue && pos + needL <= payload.length)
            Some((pos, needL.toInt))
          else None
        }
      } yield {
        val (off, need) = data
        (w, h, maxval, off, need)
      }
    }
  }

  /** Synthetic PPM media table (typed narrow map — payload never shuffles). */
  def ppmTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.DfCache.get(spark, s"$sfDir/documents.parquet")(
      spark.read.parquet(s"$sfDir/documents.parquet"))
      .select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, ppmPayload(id)))
  }

  /** Frame sampling (the last transform in the brief's decode /
    * feature-extract / resize / frame-sample list): one row per kept frame
    * — frames 0, k, 2k, … of each video payload (non-video rows pass
    * through with the single frame 0). A narrow generate-per-row explode;
    * at 100 TB the frame DECODE would run inside the same per-task seam as
    * mediaMetaQuery, so only sampled frames ever decode.
    */
  def sampleFrames(spark: SparkSession, media: Dataset[MediaRow], everyK: Int): DataFrame = {
    import spark.implicits._
    require(everyK >= 1, "everyK >= 1")
    media.flatMap { m =>
      val (format, _, _, frames) = decodeStub(m.payload)
      val n = if (format == "video") frames else 1
      (0 until n by everyK).map(f => (m.doc_id, format, n, f))
    }.toDF("doc_id", "format", "n_frames", "frame_idx")
  }

  final case class PpmResized(
      doc_id: Long, out_w: Int, out_h: Int, pooled_sum: Long, pooled_poly: Long)

  /** REAL image resize (the transform the brief lists alongside decode):
    * factor-`f` average pooling over the decoded RGB plane — output value
    * (oy, ox, c) = floor(mean of the f×f block) per channel, full blocks
    * only (out = in/f). Emits integer summaries — the pooled-value total
    * and the 31-bit polynomial over the pooled sequence in (oy, ox, c)
    * order — so an independent engine verifies every pooled value exactly
    * (the oracle PREDICTS them from the generator arithmetic without
    * parsing a byte, like q_multimodal_ppm). Narrow typed pass; payloads
    * never shuffle.
    */
  def avgPoolPpm(payload: Array[Byte], f: Int): Option[PpmResizedValues] =
    decodePpmPixels(payload).flatMap { case (w, h, _, off, _) =>
      val ow = w / f
      val oh = h / f
      if (ow == 0 || oh == 0) None
      else {
        val vals = new Array[Int](oh * ow * 3)
        var i = 0
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            var c = 0
            while (c < 3) {
              var acc = 0
              var dy = 0
              while (dy < f) {
                var dx = 0
                while (dx < f) {
                  val idx = ((oy * f + dy) * w + (ox * f + dx)) * 3 + c
                  acc += payload(off + idx) & 0xff
                  dx += 1
                }
                dy += 1
              }
              vals(i) = acc / (f * f)
              i += 1
              c += 1
            }
            ox += 1
          }
          oy += 1
        }
        Some(PpmResizedValues(ow, oh, vals))
      }
    }

  final case class PpmResizedValues(out_w: Int, out_h: Int, values: Array[Int])

  final case class PpmFeatures(
      doc_id: Long, width: Int, height: Int, r_sum: Long, g_sum: Long, b_sum: Long)

  /** Feature extraction over the decoded plane: per-channel intensity sums
    * (the integer-exact core of a channel-mean/histogram feature vector —
    * downstream similarity ops consume these like any embedding). Narrow
    * typed pass; the oracle predicts each channel sum from the generator
    * arithmetic restricted to its residue class.
    */
  def ppmFeatureQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ppmTable(spark, sfDir).mapPartitions { it =>
      it.flatMap { m =>
        decodePpmPixels(m.payload).map { case (w, h, _, off, need) =>
          val sums = new Array[Long](3)
          var i = 0
          while (i < need) {
            sums(i % 3) += m.payload(off + i) & 0xff
            i += 1
          }
          PpmFeatures(m.doc_id, w, h, sums(0), sums(1), sums(2))
        }
      }
    }.toDF()
  }

  /** The pooling factor of [[ppmResizeQuery]] (q_multimodal_resize). */
  private val ResizeFactor = 2

  /** Resize the synthetic PPM corpus by [[ResizeFactor]] to integer summaries. */
  def ppmResizeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ppmTable(spark, sfDir).mapPartitions { it =>
      it.flatMap { m =>
        avgPoolPpm(m.payload, ResizeFactor).map { r =>
          var poly = 7L
          var sum = 0L
          r.values.foreach { v =>
            sum += v
            poly = (poly * 31 + v) % 2147483647L
          }
          PpmResized(m.doc_id, r.out_w, r.out_h, sum, poly)
        }
      }
    }.toDF()
  }

  /** Decode the PPM table with the REAL parser (one pass, like mediaMetaQuery). */
  def ppmMetaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ppmTable(spark, sfDir).mapPartitions { it =>
      it.flatMap { m =>
        decodePpm(m.payload).map { case (w, h, maxval, sum) =>
          PpmMeta(m.doc_id, w, h, maxval, sum)
        }
      }
    }.toDF()
  }
}
