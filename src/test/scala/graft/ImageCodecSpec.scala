package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{ImageCodec, Media}

/** REAL image decode on real bytes: PNG round trips, BMP/GIF decode,
  * corrupt-payload quarantine, exact luma statistics, nearest-neighbor
  * resize arithmetic, and the Spark operators over a real media table.
  */
class ImageCodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def gradient(w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h)(i => (i % 256).toByte)

  test("PNG encode -> decode round trip is pixel-exact") {
    val pixels = gradient(16, 16)
    val png = ImageCodec.grayToPng(pixels, 16, 16)
    // PNG magic
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val Some((fmt, img)) = ImageCodec.decode(png)
    assert(fmt == "png" && img.getWidth == 16 && img.getHeight == 16)
    val decoded = Array.tabulate(256)(i =>
      img.getRaster.getSample(i % 16, i / 16, 0).toByte)
    assert(decoded.toSeq == pixels.toSeq)
  }

  test("imageInfo: exact integer luma sum on gray and color payloads") {
    val pixels = gradient(8, 4) // values 0..31
    val png = ImageCodec.grayToPng(pixels, 8, 4)
    val Some(info) = ImageCodec.imageInfo(png)
    assert(info == ImageCodec.ImageInfo("png", 8, 4, (0 until 32).sum.toLong))

    // a color BMP through the BT.601 integer luma: solid (10, 20, 30)
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    val Some(c) = ImageCodec.imageInfo(out.toByteArray)
    val lum = (299 * 10 + 587 * 20 + 114 * 30) / 1000
    assert(c.format == "bmp" && c.width == 3 && c.height == 2)
    assert(c.sumLuma == 6L * lum)
  }

  test("corrupt / empty / non-image payloads quarantine as None") {
    assert(ImageCodec.imageInfo(null).isEmpty)
    assert(ImageCodec.imageInfo(Array.empty[Byte]).isEmpty)
    assert(ImageCodec.imageInfo("just some text".getBytes).isEmpty)
    // a PNG header with a truncated body
    val png = ImageCodec.grayToPng(gradient(16, 16), 16, 16)
    assert(ImageCodec.imageInfo(png.take(20)).isEmpty)
  }

  test("nearest-neighbor resize: exact index arithmetic, both directions") {
    val pixels = gradient(4, 4) // row-major 0..15
    val png = ImageCodec.grayToPng(pixels, 4, 4)
    val Some((_, img)) = ImageCodec.decode(png)
    // downscale 4x4 -> 2x2 samples (0,0),(2,0),(0,2),(2,2) = 0,2,8,10
    assert(ImageCodec.resizeGray(img, 2, 2).toSeq ==
      Seq[Byte](0, 2, 8, 10))
    // upscale 4x4 -> 8x8 first row duplicates each source pixel twice
    val up = ImageCodec.resizeGray(img, 8, 8)
    assert(up.take(8).toSeq == Seq[Byte](0, 0, 1, 1, 2, 2, 3, 3))
    // thumbnail vector normalizes to [0,1]
    val Some(tv) = ImageCodec.thumbnailVector(png, 2)
    assert(tv.toSeq == Seq(0f, 2 / 255.0f, 8 / 255.0f, 10 / 255.0f))
  }

  test("textAsPng + imageMeta: decoded statistics equal text-byte sums") {
    val docs = Seq((1L, "abc"), (2L, "hello world"), (3L, ""))
      .toDF("doc_id", "text")
    val media = Media.textAsPng(docs, "doc_id", "text", w = 16, h = 16)
    val meta = Media.imageMeta(media).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    def ascii(s: String) = s.map(_.toLong).sum
    assert(meta(1L) == (("png", 16, 16, ascii("abc"))))
    assert(meta(2L) == (("png", 16, 16, ascii("hello world"))))
    assert(meta(3L) == (("png", 16, 16, 0L)))
  }

  test("imageMeta quarantines corrupt payloads as null rows") {
    val ok = ImageCodec.grayToPng(gradient(16, 16), 16, 16)
    val media = Seq((1L, ok), (2L, "not an image".getBytes))
      .toDF("media_id", "payload")
    val meta = Media.imageMeta(media).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!meta(1L) && meta(2L))
  }

  test("imageThumbnails feeds the vector layer: k*k floats per image") {
    val docs = Seq((1L, "abcdefgh"), (2L, "zyxwvuts")).toDF("doc_id", "text")
    val media = Media.textAsPng(docs, "doc_id", "text", w = 4, h = 2)
    val thumbs = Media.imageThumbnails(media, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(thumbs(1L).length == 4 && thumbs(2L).length == 4)
    // 4x2 source "abcdefgh" -> 2x2 nearest-neighbor picks (0,0),(2,0),
    // (0,1),(2,1) = 'a','c','e','g'
    assert(thumbs(1L) == Seq('a', 'c', 'e', 'g').map(_.toInt / 255.0f))
  }

  test("dHash bits: hand-computed 2x2 gradients, flat image all-zero") {
    // grid [[10,5],[3,8]]: H: 10>5 -> bit0 of row0; 3>8 no.
    //                      V: 10>3 -> bit0 of col0; 5>8 no.
    val df = Seq((1L, Seq(10L, 5L, 3L, 8L)), (2L, Seq(7L, 7L, 7L, 7L)))
      .toDF("id", "px")
    val got = df.select(col("id"), Media.dHashH(col("px"), 2).as("h"),
        Media.dHashV(col("px"), 2).as("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L) == ((1L, 1L)))
    assert(got(2L) == ((0L, 0L))) // no strict gradient anywhere
    // 3x3 descending rows: every horizontal comparison fires ->
    // h = all 6 bits; vertical ascending columns -> v = 0
    val desc = Seq((3L, Seq(9L, 8L, 7L, 19L, 18L, 17L, 29L, 28L, 27L)))
      .toDF("id", "px")
    val d3 = desc.select(Media.dHashH(col("px"), 3).as("h"),
      Media.dHashV(col("px"), 3).as("v")).collect()(0)
    assert(d3.getLong(0) == 63L && d3.getLong(1) == 0L)
  }

  test("thumbnailsOfText memo: hit on same source+params, miss on " +
      "different k, results match the uncached chain") {
    graft.functions.Memos.releaseAll()
    val docs = Seq((1L, "abcdefgh"), (2L, "zyxwvuts")).toDF("doc_id", "text")
    val direct = Media.imageThumbnails(
        Media.textAsPng(docs, "doc_id", "text", w = 4, h = 2), 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val (h0, b0) = graft.functions.PlanMemo.counters
    val shared = Media.thumbnailsOfText(docs, "doc_id", "text", 4, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(shared == direct)
    val (h1, b1) = graft.functions.PlanMemo.counters
    assert(b1 == b0 + 1 && h1 == h0)
    // a SECOND call with a re-derived (plan-equal) source hits the slot
    val again = Media.thumbnailsOfText(
        Seq((1L, "abcdefgh"), (2L, "zyxwvuts")).toDF("doc_id", "text"),
        "doc_id", "text", 4, 2, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val (h2, b2) = graft.functions.PlanMemo.counters
    assert(again == direct && h2 == h1 + 1 && b2 == b1)
    // a different thumbnail size is a different key, not a stale hit
    val k1 = Media.thumbnailsOfText(docs, "doc_id", "text", 4, 2, 1)
      .collect().map(r => r.getSeq[Float](1).length).toSet
    assert(k1 == Set(1))
    graft.functions.Memos.releaseAll()
  }
}
