package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.CheckpointOps

case class MediaMeta(format: String, width: Int, height: Int, n_frames: Int)
case class MediaRec(media_id: Long, payload: Array[Byte], meta: MediaMeta)
case class MediaFeat(media_id: Long, payload: Array[Byte], meta: MediaMeta,
  features: Array[Float])

/** Multimodal column plumbing for training-data pipelines: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus
  * decode / feature-extract / frame-sample operators.
  *
  * Codec tiers: [[ImageCodec]] is a REAL raster decoder/encoder on
  * the pure-JVM `javax.imageio` stack (PNG/BMP/GIF — decode, exact
  * integer luma statistics, nearest-neighbor resize, thumbnail
  * vectors), used by `textAsPng`/`imageMeta`/`imageThumbnails`;
  * [[AudioCodec]] is a REAL WAV (RIFF/PCM) decoder/encoder on
  * `javax.sound.sampled` (decode, exact energy and zero-crossing
  * statistics, frame-energy series), used by
  * `textAsWav`/`audioMeta`/`audioFrameEnergies`; `StubCodec` remains
  * the deterministic stand-in only for modalities with no JVM decoder
  * (video) — swap it for a real FFI binding at deployment, the
  * signature is the contract.
  * Payloads stream through executors partition-by-partition;
  * nothing is collected to the driver, so the operators hold at 100 TB of
  * media given sane `spark.sql.files.maxPartitionBytes`.
  */
object Media {

  /** Typed metadata carried next to every binary payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType),
    StructField("meta", metaSchema)))

  /** Wrap any string column as a media table: payload = UTF-8 bytes, with
    * deterministic fake metadata derived from the payload length. Used by
    * tests and demos to exercise the plumbing without real media files.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("fake/raw").as("format"),
        (octet_length(col(textCol)) % 1024).cast("int").as("width"),
        (octet_length(col(textCol)) % 768).cast("int").as("height"),
        (octet_length(col(textCol)) % 16 + 1).cast("int").as("n_frames"))
        .as("meta"))

  /** The stub codec: deterministic payload → fixed-width float features.
    * Replace with a real decoder (JNI/FFI binding) in production; the
    * signature — bytes in, fixed-dim float vector out, pure, per-record —
    * is the contract the pipeline depends on.
    */
  object StubCodec {
    val featureDim = 8
    def decodeFeatures(payload: Array[Byte]): Array[Float] = {
      val f = new Array[Float](featureDim)
      if (payload == null) return f // null media: zero features, not an NPE
      var i = 0
      while (i < payload.length) {
        f(i % featureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      f
    }
    /** Frame sampling stub: every k-th slice of the payload. */
    def sampleFrames(payload: Array[Byte], nFrames: Int, every: Int): Seq[Array[Byte]] = {
      if (payload == null || nFrames <= 0 || payload.isEmpty) Seq.empty
      else {
        val frameLen = math.max(1, payload.length / nFrames)
        (0 until nFrames by every).map { k =>
          payload.slice(k * frameLen, math.min((k + 1) * frameLen, payload.length))
        }
      }
    }
  }

  /** Decode features for every payload — partition-streamed via a typed
    * mapPartitions (the Scala analog of a pandas-UDF batch loop: one
    * iterator pass per partition, constant memory, executor-side only).
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"), col("meta"))
      .as[MediaRec]
      .mapPartitions { it =>
        it.map(r => MediaFeat(r.media_id, r.payload, r.meta,
          StubCodec.decodeFeatures(r.payload)))
      }
      .toDF()
  }

  /** A REAL media table from the text corpus: each document's first
    * w*h UTF-8 bytes become the pixels of a w x h 8-bit grayscale
    * image, PNG-encoded with [[ImageCodec.grayToPng]] (zero-padded when
    * the text is shorter). PNG is lossless, so the pixel statistics of
    * the DECODED payload equal integer functions of the source text —
    * which is what lets a DuckDB oracle verify the real decoder without
    * parsing PNG: it recomputes the same sums from ascii codes. (The
    * oracle-side char/byte identity holds for ASCII text — the
    * synthetic corpus's contract; the codecs themselves are
    * byte-correct for any input.)
    */
  def textAsPng(df: DataFrame, idCol: String, textCol: String,
      w: Int = 16, h: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = w * h
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val pixels = java.util.Arrays.copyOf(bytes, n)
          MediaRec(id, ImageCodec.grayToPng(pixels, w, h),
            MediaMeta("png", w, h, 1))
        }
      }
      .toDF()
  }

  /** Decode every payload with the REAL codec and emit its header +
    * exact luma statistics: (media_id, format, width, height,
    * sum_luma). Undecodable payloads surface as nulls (the quarantine
    * discipline — corrupt media never throws on an executor).
    */
  def imageMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          ImageCodec.imageInfo(payload) match {
            case Some(i) =>
              (id, Option(i.format), Option(i.width), Option(i.height),
                Option(i.sumLuma))
            case None => (id, None, None, None, None)
          }
        }
      }
      .toDF("media_id", "format", "width", "height", "sum_luma")
  }

  /** Session memo ([[graft.functions.PlanMemo]]) for the decoded
    * thumbnail relation of [[thumbnailsOfText]] — THREE catalog
    * consumers (the thumbnail listing, the dHash fingerprints, the
    * perceptual dup-grouping) run the byte-identical synthesize →
    * PNG-decode → resample chain; the memo decodes once. Keyed on the
    * canonicalized SOURCE plan plus every synthesis/resample parameter
    * (keying on the media frame itself would never hit: each
    * [[textAsPng]] call creates a fresh mapPartitions closure, and
    * closure-bearing plans only canonicalize equal by reference).
    */
  private val thumbMemo = new graft.functions.PlanMemo[DataFrame]

  /** [[textAsPng]] → [[imageThumbnails]] as ONE memo-shared relation:
    * (media_id, thumb). Catalog entries that agree on the source and
    * parameters ride a single localCheckpoint instead of re-decoding
    * the corpus per entry.
    */
  def thumbnailsOfText(docs: DataFrame, idCol: String, textCol: String,
      w: Int, h: Int, k: Int): DataFrame =
    thumbMemo(docs, idCol, textCol, w, h, k) {
      imageThumbnails(textAsPng(docs, idCol, textCol, w, h), k)
        .checkpointed
    }

  /** Decode + nearest-neighbor thumbnail per payload: (media_id, thumb)
    * with thumb a k*k float vector in [0,1] — image content lifted into
    * the engine's vector layer (ANN / semantic dedup / k-means run on
    * it unchanged). Undecodable payloads drop out (quarantine them via
    * [[imageMeta]] first if an audit trail is needed).
    */
  def imageThumbnails(media: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          ImageCodec.thumbnailVector(payload, k).map(v => (id, v))
        }
      }
      .toDF("media_id", "thumb")
  }

  /** DIFFERENCE-HASH (dHash) bits over a k×k pixel grid — the
    * classic perceptual image fingerprint (gradient signs survive
    * re-encoding, brightness shifts, and mild noise that break exact
    * byte hashes): bit r·(k−1)+c is set iff px[r][c] > px[r][c+1].
    * `px` is a 1-based array column of integer pixel values (the
    * [[imageThumbnails]] grid, rescaled to 0..255). A pure literal-
    * mask comparison chain — codegen-friendly, oracle-replayable.
    * Horizontal gradients; [[dHashV]] is the column-wise transpose,
    * and the (h, v) pair is the standard 2·k·(k−1)-bit fingerprint.
    */
  def dHashH(px: Column, k: Int): Column =
    (for { r <- 0 until k; c <- 0 until k - 1 } yield
      when(element_at(px, r * k + c + 1) > element_at(px, r * k + c + 2),
        lit(1L << (r * (k - 1) + c))).otherwise(lit(0L))
    ).reduce(_ + _)

  /** Vertical companion of [[dHashH]]: bit c·(k−1)+r is set iff
    * px[r][c] > px[r+1][c].
    */
  def dHashV(px: Column, k: Int): Column =
    (for { c <- 0 until k; r <- 0 until k - 1 } yield
      when(element_at(px, r * k + c + 1) >
          element_at(px, (r + 1) * k + c + 1),
        lit(1L << (c * (k - 1) + r))).otherwise(lit(0L))
    ).reduce(_ + _)

  /** A REAL audio table from the text corpus: character i of each
    * document becomes 16-bit PCM sample (byte_i - 64)·256, WAV-encoded
    * with [[AudioCodec.pcmToWav]]. PCM-in-WAV is lossless, so the
    * DECODED statistics equal integer functions of the ascii codes —
    * the same oracle-without-a-codec trick as [[textAsPng]].
    */
  def textAsWav(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val samples = bytes.map(b => (((b & 0xff) - 64) * 256).toShort)
          MediaRec(id, AudioCodec.pcmToWav(samples, sampleRate),
            MediaMeta("wav", 0, 0, samples.length))
        }
      }
      .toDF()
  }

  /** Decode every payload with the REAL WAV codec and emit header +
    * exact integer statistics: (media_id, sample_rate, channels,
    * n_frames, energy, zero_crossings). Undecodable payloads surface
    * as nulls (quarantine, never an executor throw).
    */
  def audioMeta(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          AudioCodec.audioInfo(payload) match {
            case Some(a) =>
              (id, Option(a.sampleRate), Option(a.channels),
                Option(a.nFrames), Option(a.energy), Option(a.zeroCrossings))
            case None => (id, None, None, None, None, None)
          }
        }
      }
      .toDF("media_id", "sample_rate", "channels", "n_frames", "energy",
        "zero_crossings")
  }

  /** Decode + frame-level exact energies: one row per
    * `frameLen`-sample frame — (media_id, frame_idx, frame_energy),
    * the audio feature series. Undecodable payloads drop out.
    */
  def audioFrameEnergies(media: DataFrame, frameLen: Int): DataFrame = {
    require(frameLen > 0, "frameLen must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          AudioCodec.frameEnergies(payload, frameLen).toSeq.flatMap(es =>
            es.iterator.zipWithIndex.map { case (e, i) => (id, i.toLong, e) })
        }
      }
      .toDF("media_id", "frame_idx", "frame_energy")
  }

  /** A REAL video (multi-frame) table from the text corpus: each
    * document becomes an ANIMATED GIF whose frame f holds chars
    * [f*64, f*64+64) as an 8x8 grayscale image (zero-padded; up to
    * `maxFrames` frames, at least one). Gray-in-GIF is palette-lossless,
    * so decoded per-frame statistics equal ascii-code window sums — the
    * frame-axis instance of the oracle-without-a-codec trick.
    */
  def textAsGif(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, h: Int = 8, maxFrames: Int = 4): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val n = w * h
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val nFrames = math.max(1,
            math.min(maxFrames, (bytes.length + n - 1) / n))
          val frames = (0 until nFrames).map(f =>
            java.util.Arrays.copyOfRange(bytes, math.min(f * n, bytes.length),
              f * n + n).ensuring(_.length == n))
          MediaRec(id, VideoCodec.grayFramesToGif(frames, w, h),
            MediaMeta("gif", w, h, nFrames))
        }
      }
      .toDF()
  }

  /** Decode every payload with the REAL multi-frame codec: one row per
    * frame — (media_id, frame_idx, width, height, sum_luma).
    * Undecodable payloads drop out (quarantine via [[imageMeta]]-style
    * null auditing is the single-frame path's job).
    */
  def videoFrameLuma(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          VideoCodec.decodeFrames(payload).toSeq.flatMap { case (_, frames) =>
            frames.iterator.zipWithIndex.map { case (img, i) =>
              (id, i.toLong, img.getWidth, img.getHeight,
                VideoCodec.frameLumaOf(img))
            }
          }
        }
      }
      .toDF("media_id", "frame_idx", "width", "height", "sum_luma")
  }

  /** REAL frame sampling: every `every`-th decoded frame re-encoded as
    * a standalone PNG payload — (media_id, frame_idx, frame_png).
    */
  def sampleFramesReal(media: DataFrame, every: Int): DataFrame = {
    require(every > 0, "every must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          VideoCodec.sampleFramesPng(payload, every)
            .map { case (i, png) => (id, i.toLong, png) }
        }
      }
      .toDF("media_id", "frame_idx", "frame_png")
  }

  /** Row-level frame sampling: one output row per sampled frame. */
  def sampleFrames(media: DataFrame, every: Int): DataFrame = {
    // every = 0 would throw "step cannot be 0" per row on executors, and
    // a negative step would silently drop every frame
    require(every > 0, "every must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte], Int)] = media
      .select(col("media_id"), col("payload"), col("meta.n_frames"))
      .as[(Long, Array[Byte], Int)]
    ds.flatMap { case (id, payload, nFrames) =>
      StubCodec.sampleFrames(payload, nFrames, every)
        .zipWithIndex.map { case (frame, idx) => (id, idx, frame) }
    }.toDF("media_id", "frame_idx", "frame")
  }
}
