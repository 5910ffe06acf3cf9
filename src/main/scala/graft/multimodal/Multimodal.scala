package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling: opaque `binary`
  * payloads + typed metadata structs, processed in partition-sized
  * batches.
  *
  * The image codec is REAL and dependency-free: binary Netpbm (PPM
  * "P6" = RGB8, PGM "P5" = gray8 — the public Netpbm format family),
  * parsed header-and-raster from raw bytes. Decode follows the
  * (value, error) convention of the reference's fallible parses
  * (`BitcoinBlockHandler.java:136-141`): a malformed payload yields a
  * populated `error` and null value columns, never an exception or a
  * fabricated value. Feature extraction and resize operate on the
  * DECODED pixel raster. Exotic containers (JPEG/MP4/...) would slot
  * into the same mapPartitions batch shape via a JNI codec; only the
  * byte-level frame sampler below stands in for a real video demuxer.
  */
object Multimodal {

  /** One decoded asset's metadata (the typed half of the column pair). */
  final case class MediaMeta(
      width: Int, height: Int, channels: Int, maxval: Int, format: String,
      nBytes: Long)

  final case class Asset(asset_id: Long, payload: Array[Byte])

  /** Decode result: exactly one of (meta+pixels) or error is set. */
  final case class DecodedAsset(
      asset_id: Long, payload: Array[Byte], meta: MediaMeta,
      pixels: Array[Byte], error: String)

  final case class ResizedAsset(asset_id: Long, payload: Array[Byte], error: String)

  // ---- Netpbm codec (pure functions, no Spark) -------------------------

  /** Parse a binary Netpbm payload (P6/P5, maxval <= 255): header
    * tokens separated by whitespace with '#'-to-EOL comments, one
    * whitespace byte after maxval, then a w*h*channels raster. Strict:
    * truncated or oversized rasters and out-of-spec maxvals error. */
  def decodeNetpbm(payload: Array[Byte]): Either[String, (MediaMeta, Array[Byte])] = {
    if (payload == null || payload.length < 2) return Left("empty or null payload")
    val format = new String(payload, 0, 2, "US-ASCII")
    val channels = format match {
      case "P6" => 3
      case "P5" => 1
      case _ => return Left(s"unsupported magic '$format' (P6/P5 only)")
    }
    var pos = 2
    def isSpace(b: Byte) = b == ' ' || b == '\t' || b == '\n' || b == '\r'
    // next header integer, skipping whitespace and '#' comments
    def nextInt(what: String): Either[String, Int] = {
      while (pos < payload.length &&
        (isSpace(payload(pos)) || payload(pos) == '#')) {
        if (payload(pos) == '#')
          while (pos < payload.length && payload(pos) != '\n') pos += 1
        else pos += 1
      }
      val start = pos
      var v = 0L
      while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
        v = v * 10 + (payload(pos) - '0')
        if (v > Int.MaxValue) return Left(s"$what overflows")
        pos += 1
      }
      if (pos == start) Left(s"missing $what in header") else Right(v.toInt)
    }
    for {
      w <- nextInt("width")
      h <- nextInt("height")
      maxval <- nextInt("maxval")
      _ <- if (w <= 0 || h <= 0) Left(s"non-positive dimensions ${w}x$h")
           else Right(())
      _ <- if (maxval < 1 || maxval > 255)
             Left(s"maxval $maxval out of supported 8-bit range")
           else Right(())
      _ <- if (pos < payload.length && isSpace(payload(pos))) { pos += 1; Right(()) }
           else Left("missing single whitespace before raster")
      raster <- {
        val need = w.toLong * h * channels
        val have = payload.length - pos
        if (have < need) Left(s"truncated raster: need $need bytes, have $have")
        else if (have > need) Left(s"trailing bytes after raster: ${have - need}")
        else Right(java.util.Arrays.copyOfRange(payload, pos, payload.length))
      }
    } yield (MediaMeta(w, h, channels, maxval, if (channels == 3) "ppm/rgb8"
      else "pgm/gray8", payload.length.toLong), raster)
  }

  /** Encode a raster back to binary Netpbm (the inverse of
    * [[decodeNetpbm]] for maxval-255 images). */
  def encodeNetpbm(width: Int, height: Int, channels: Int,
      pixels: Array[Byte]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels must be 1 or 3")
    require(pixels.length == width * height * channels,
      s"raster length ${pixels.length} != ${width}x$height x$channels")
    val header = s"${if (channels == 3) "P6" else "P5"}\n$width $height\n255\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** Deterministic feature vector from the DECODED raster (a stand-in
    * for a learned embedding with the same shape contract: `dim` values
    * per asset): raster byte i folds into slot i mod dim, and each slot
    * sums floor(byte/maxval * 1e6) as a BIGINT — maxval-normalized
    * intensity in fixed point. Each term is the identical IEEE chain in
    * any engine and the long sum is order-free, so a SQL replay over
    * the source bytes hash-matches (float accumulation cannot: += order
    * differs from SUM). */
  def featureSumsFx(meta: MediaMeta, pixels: Array[Byte],
      dim: Int = 8): Array[Long] = {
    val out = new Array[Long](dim)
    var i = 0
    while (i < pixels.length) {
      out(i % dim) +=
        math.floor((pixels(i) & 0xff).toDouble / meta.maxval * 1e6).toLong
      i += 1
    }
    out
  }

  /** 64-bit difference hash (dHash) of the decoded raster — the public
    * perceptual-hash recipe (Krawetz, "Kind of Like That", 2013):
    * nearest-neighbor downscale to a 9x8 grayscale grid, then bit
    * (gy*8+gx) = [gray(gy,gx) < gray(gy,gx+1)] over each row's 8
    * horizontal gradients. Grayscale is the exact integer channel sum
    * (no luma weights — nothing to round), and the downscale uses the
    * same floor index math as [[resizeNearest]], so the whole hash is
    * replayable in SQL from the source bytes. Near-duplicate IMAGES
    * land within a few bits of each other; search is the SimHash
    * quarter-blocking machinery ([[graft.dedup.SimHash.nearPairs]]). */
  def dhash64(meta: MediaMeta, pixels: Array[Byte]): Long = {
    val w = meta.width; val h = meta.height; val c = meta.channels
    def gray(gy: Int, gx: Int): Int = {
      val sy = gy * h / 8
      val sx = gx * w / 9
      val base = (sy * w + sx) * c
      var s = 0; var k = 0
      while (k < c) { s += pixels(base + k) & 0xff; k += 1 }
      s
    }
    var out = 0L
    var gy = 0
    while (gy < 8) {
      var g0 = gray(gy, 0)
      var gx = 0
      while (gx < 8) {
        val g1 = gray(gy, gx + 1)
        if (g0 < g1) out |= 1L << (gy * 8 + gx)
        g0 = g1
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Nearest-neighbor resample of the decoded raster to (outW, outH) —
    * real pixel-space resize, channel-aware. */
  def resizeNearest(meta: MediaMeta, pixels: Array[Byte],
      outW: Int, outH: Int): Array[Byte] = {
    require(outW > 0 && outH > 0)
    val c = meta.channels
    val out = new Array[Byte](outW * outH * c)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * meta.height / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * meta.width / outW).toInt
        var k = 0
        while (k < c) {
          out((y * outW + x) * c + k) = pixels((sy * meta.width + sx) * c + k)
          k += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- Spark plumbing (batch-at-a-time, codec init per partition) ------

  /** Attach decoded metadata + raster to a binary column — batch-at-a-
    * time via mapPartitions (the Scala analog of a pandas batch UDF):
    * one codec init per partition, not per row. Malformed payloads
    * populate `error` (R6 convention) instead of failing the task. */
  def decode(spark: SparkSession, assets: Dataset[Asset]): Dataset[DecodedAsset] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      // per-partition codec initialization would go here (JNI contexts,
      // scratch buffers); the Netpbm parser needs none
      it.map { a =>
        decodeNetpbm(a.payload) match {
          case Right((meta, pixels)) => DecodedAsset(a.asset_id, a.payload, meta, pixels, null)
          case Left(err)             => DecodedAsset(a.asset_id, a.payload, null, null, err)
        }
      }
    }
  }

  /** Resize every decodable asset to (outW, outH) and re-encode; a
    * payload that fails to decode keeps its bytes and carries the
    * decode error — same partition-batched shape as [[decode]]. */
  def resize(spark: SparkSession, assets: Dataset[Asset],
      outW: Int, outH: Int): Dataset[ResizedAsset] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        decodeNetpbm(a.payload) match {
          case Right((meta, pixels)) => ResizedAsset(a.asset_id,
            encodeNetpbm(outW, outH, meta.channels,
              resizeNearest(meta, pixels, outW, outH)), null)
          case Left(err) => ResizedAsset(a.asset_id, a.payload, err)
        }
      }
    }
  }

  /** Frame sampling for a (stub) video payload: byte-range slices at a
    * fixed stride standing in for decoded frames — the one remaining
    * stand-in (a real demuxer is a JNI codec away; the Spark shape —
    * narrow generator, one row per frame — is the part that matters). */
  def sampleFrames(spark: SparkSession, assets: Dataset[Asset], every: Int): DataFrame = {
    import spark.implicits._
    assets.flatMap { a =>
      a.payload.grouped(every).zipWithIndex.map { case (chunk, i) =>
        (a.asset_id, i.toLong, chunk)
      }
    }.toDF("asset_id", "frame_no", "frame_bytes")
  }

  /** Build a synthetic binary-asset table from the documents table
    * (text bytes as stand-in payloads) — lets the byte-level pipeline
    * (frame sampling) run against driver testdata.
    *
    * Contract: the corpus must be ASCII. The frames oracle
    * (q_multimodal_frames) reproduces byte slicing with character
    * substrings, which is only exact when bytes == chars; a non-ASCII
    * document would silently shift offsets, so it raises instead. */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    val enc = encode(col("text"), "UTF-8")
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        // NULL text passes through as an empty payload (same explicit
        // passthrough as ppmAssetsFromDocuments) — without it the null
        // condition falls to the otherwise branch and raise_error
        // crashes the run instead of matching the oracles' null-doc
        // skip (WHERE i < length(text) yields no rows for NULL).
        when(col("text").isNull, lit(Array.emptyByteArray))
          .when(octet_length(enc) === length(col("text")), enc)
          .otherwise(raise_error(concat(
            lit("non-ASCII document (byte!=char offsets break frame "),
            lit("slicing): "), col("doc_id"))))
          .as("payload"))
      .as[Asset]
  }

  /** Build VALID 8-pixel-wide P6 payloads from the documents table
    * (text bytes as the raster, zero-padded to the row stride), so the
    * decode pipeline exercises the real codec end-to-end on driver
    * testdata. Deterministic: same text → same payload bytes.
    *
    * Same ASCII contract as [[assetsFromDocuments]]: the decode oracle
    * (q_multimodal_decode) replays the raster with char-based ascii()/
    * length(), exact only when bytes == chars — a non-ASCII document
    * must fail loudly here, not silently break the oracle hash. */
  def ppmAssetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    val w = 8
    graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("text").isNull ||
          octet_length(encode(col("text"), "UTF-8")) === length(col("text")),
          col("text"))
          .otherwise(raise_error(concat(
            lit("non-ASCII document (byte!=char offsets break the "),
            lit("decode oracle): "), col("doc_id"))))
          .as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = if (text == null) Array.emptyByteArray
                      else text.getBytes("UTF-8")
          val h = math.max(1, (bytes.length + 3 * w - 1) / (3 * w))
          val raster = java.util.Arrays.copyOf(bytes, w * h * 3)
          Asset(id, encodeNetpbm(w, h, 3, raster))
        }
      }
  }
}
