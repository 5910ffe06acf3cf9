package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** The Netpbm codec is REAL: golden-pixel decode, value-or-error on
  * malformed bytes, encode/decode round-trip, pixel-space resize. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // a 2x2 P6 image with known pixels: red, green, blue, white
  private val px = Array[Byte](
    255.toByte, 0, 0,   0, 255.toByte, 0,
    0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte)
  private val golden = Multimodal.encodeNetpbm(2, 2, 3, px)

  test("decodeNetpbm: golden P6 bytes yield exact dimensions and pixels") {
    val Right((meta, pixels)) = Multimodal.decodeNetpbm(golden)
    assert(meta.width == 2 && meta.height == 2 && meta.channels == 3)
    assert(meta.maxval == 255 && meta.format == "ppm/rgb8")
    assert(pixels.toSeq == px.toSeq)
    // header comments and whitespace runs are legal Netpbm
    val commented = ("P6\n# a comment\n 2\t2 # again\n255\n"
      .getBytes("US-ASCII") ++ px)
    val Right((m2, p2)) = Multimodal.decodeNetpbm(commented)
    assert(m2.width == 2 && p2.toSeq == px.toSeq)
    // P5 grayscale
    val gray = Multimodal.encodeNetpbm(4, 1, 1, Array[Byte](0, 64, 128.toByte, 255.toByte))
    val Right((m3, p3)) = Multimodal.decodeNetpbm(gray)
    assert(m3.channels == 1 && m3.format == "pgm/gray8" && p3.length == 4)
  }

  test("decodeNetpbm: malformed payloads error, never throw or fabricate") {
    def err(bytes: Array[Byte]): String =
      Multimodal.decodeNetpbm(bytes).left.getOrElse(fail("expected Left"))
    assert(err("JFIF-not-ppm".getBytes).contains("unsupported magic"))
    assert(err("P6\n2 2\n255\n".getBytes ++ px.take(5)).contains("truncated"))
    assert(err("P6\n2 2\n255\n".getBytes ++ px ++ Array[Byte](9)).contains("trailing"))
    assert(err("P6\n2 2\n70000\n".getBytes ++ px).contains("maxval"))
    assert(err("P6\n0 2\n255\n".getBytes).contains("missing single whitespace") ||
      err("P6\n0 2\n255\n ".getBytes).contains("non-positive"))
    assert(err(Array.emptyByteArray).contains("empty"))
  }

  test("decode over a Dataset: (value, error) exclusivity per R6") {
    import spark.implicits._
    val assets = Seq(
      Multimodal.Asset(1L, golden),
      Multimodal.Asset(2L, "not an image".getBytes)).toDS()
    val out = Multimodal.decode(spark, assets).collect().sortBy(_.asset_id)
    assert(out(0).error == null && out(0).meta != null &&
      out(0).pixels.toSeq == px.toSeq)
    assert(out(1).error != null && out(1).meta == null && out(1).pixels == null)
  }

  test("featureSumsFx: golden P6 raster folds to exact fixed-point slots") {
    val Right((meta, pixels)) = Multimodal.decodeNetpbm(golden)
    // golden raster [255,0,0, 0,255,0, 0,0,255, 255,255,255] folded
    // mod 4 at maxval 255: slot0 gets idx 0,4,8 = 3 x floor(1e6); slots
    // 1..3 each get exactly one 255 byte -> 1e6
    assert(Multimodal.featureSumsFx(meta, pixels, dim = 4).toList ==
      List(3000000L, 1000000L, 1000000L, 1000000L))
  }

  test("frame sampling: one row per chunk, ordered frame numbers") {
    import spark.implicits._
    val assets = Seq(Multimodal.Asset(1L, Array.fill[Byte](100)(7))).toDS()
    val frames = Multimodal.sampleFrames(spark, assets, every = 30)
    val rows = frames.orderBy("frame_no").collect()
    assert(rows.length == 4) // 30+30+30+10
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.last.getAs[Array[Byte]]("frame_bytes").length == 10)
  }

  test("resize: pixel-space nearest-neighbor, re-encoded payload decodes " +
    "to the requested dimensions with the expected pixels") {
    import spark.implicits._
    val assets = Seq(
      Multimodal.Asset(1L, golden),
      Multimodal.Asset(2L, "bad".getBytes)).toDS()
    val out = Multimodal.resize(spark, assets, outW = 1, outH = 1)
      .collect().sortBy(_.asset_id)
    // 2x2 -> 1x1 nearest-neighbor picks the top-left source pixel (red)
    val Right((m, p)) = Multimodal.decodeNetpbm(out(0).payload)
    assert(m.width == 1 && m.height == 1 && out(0).error == null)
    assert(p.toSeq == Seq(255.toByte, 0.toByte, 0.toByte))
    // undecodable input: bytes pass through with the decode error
    assert(out(1).error != null && out(1).payload.toSeq == "bad".getBytes.toSeq)
    // upscale also works (it is a real resample, not byte slicing)
    val up = Multimodal.resize(spark, Seq(Multimodal.Asset(3L, golden)).toDS(),
      outW = 4, outH = 4).collect().head
    val Right((mu, pu)) = Multimodal.decodeNetpbm(up.payload)
    assert(mu.width == 4 && mu.height == 4 && pu.length == 48)
    // top-left quadrant replicates the red source pixel
    assert(pu(0) == 255.toByte && pu(1) == 0 && pu(2) == 0)
  }

  test("encode/decode round-trip is the identity for arbitrary rasters") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 50) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val c = if (rnd.nextBoolean()) 3 else 1
      val pixels = Array.fill[Byte](w * h * c)(rnd.nextInt(256).toByte)
      val Right((m, p)) = Multimodal.decodeNetpbm(
        Multimodal.encodeNetpbm(w, h, c, pixels))
      assert(m.width == w && m.height == h && m.channels == c, s"trial $trial")
      assert(p.toSeq == pixels.toSeq, s"trial $trial")
    }
  }

  test("ppmAssetsFromDocuments: every synthesized payload decodes; " +
    "raster embeds the document bytes") {
    val assets = Multimodal.ppmAssetsFromDocuments(spark, SharedSpark.sf001)
    val decoded = Multimodal.decode(spark, assets)
    assert(decoded.filter(_.error != null).count() == 0)
    assert(decoded.count() == 500)
    val one = decoded.filter(_.asset_id == 1L).collect().head
    val text = Tables.load(spark, SharedSpark.sf001, "documents")
      .filter(col("doc_id") === 1L).select("text").head.getString(0)
    assert(one.meta.width == 8 && one.meta.channels == 3)
    assert(one.pixels.take(text.length).toSeq == text.getBytes("UTF-8").toSeq)
  }
}
