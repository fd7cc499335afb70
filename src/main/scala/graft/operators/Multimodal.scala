package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column operators (north-star extension): media as opaque
  * `binary` columns, decode / frame-sample / feature-extract / resize as
  * distributed per-blob transforms — blob-sized tasks, partition-parallel,
  * no driver involvement.
  *
  * The decode kernel is REAL: every query materializes a deterministic
  * 24-bit uncompressed BMP blob per document (pixels a pinned arithmetic
  * function of the document's bytes — see [[pixelChannels]]), then decodes
  * it with `javax.imageio.ImageIO` (the JDK's stock BMP reader — no
  * external codec dependency) and computes its output from the DECODED
  * pixel grid. The encoder is hand-written (54-byte BITMAPINFOHEADER,
  * bottom-up rows, 4-byte row padding — the public format), so the blob
  * bytes are bit-reproducible and the DuckDB oracle can recompute the
  * expected pixel statistics from the same generator arithmetic: a hash
  * match therefore certifies that a real codec round-trip (encode → JDK
  * decode → pixel read-back) reproduced the source pixels exactly. A
  * channel swap, row-order (bottom-up) slip, padding bug or stride error
  * anywhere in the path shows up as an oracle mismatch. PNG is covered at
  * spec level: MultimodalSpec re-encodes the decoded grid as PNG via
  * ImageIO and pins pixel-identical read-back.
  *
  * At 100 TB the shape is unchanged: blobs live in a binary column, every
  * kernel is a per-row flatMap/map inside one codegen stage boundary, and
  * output size is Θ(pixels sampled), never Θ(blob bytes shuffled) — the
  * text→blob synthesis here stands where a parquet binary column read
  * would, and swapping BMP for JPEG/H.264 changes [[decode]] only. */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Image geometry for a payload of n bytes: width 16–32, height 8–16 —
    * varies per document so dimension handling is actually exercised. */
  private[graft] def dims(n: Long): (Int, Int) =
    ((16 + n % 17).toInt, (8 + n % 9).toInt)

  /** Pinned pixel generator: channel values of pixel (x, y) for a payload.
    * v is the payload byte at linear index (y·W + x) mod n (0 for an empty
    * payload); r = v, g = (v+x) mod 256, b = (v+y) mod 256. The oracle
    * replays exactly this arithmetic per pixel. */
  private[graft] def pixelChannels(
      bytes: Array[Byte], w: Int, x: Int, y: Int): (Int, Int, Int) = {
    val v = if (bytes.length == 0) 0 else bytes((y * w + x) % bytes.length) & 0xff
    (v, (v + x) % 256, (v + y) % 256)
  }

  /** Hand-written 24bpp BMP encoder: 54-byte header, bottom-up rows padded
    * to 4 bytes, BGR byte order — deterministic output, so blob length
    * (54 + H·⌈3W/4⌉·4) is oracle arithmetic. */
  private[graft] def writeBmpHeader(out: Array[Byte], w: Int, h: Int,
      dataSize: Int): Unit = {
    def put32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, 54 + dataSize); put32(10, 54)
    put32(14, 40); put32(18, w); put32(22, h)
    out(26) = 1; out(28) = 24
    put32(34, dataSize); put32(38, 2835); put32(42, 2835)
  }

  private[graft] def encodeBmp(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val rowSize = (3 * w + 3) / 4 * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    writeBmpHeader(out, w, h, dataSize)
    if (img.getType == BufferedImage.TYPE_3BYTE_BGR &&
        img.getRaster.getDataBuffer.getSize == 3 * w * h) {
      // densely-packed BGR raster: BMP rows are the same B,G,R triples —
      // one arraycopy per row (bottom-up reorder), no per-pixel calls
      val src = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var y = 0
      while (y < h) {
        System.arraycopy(src, y * 3 * w, out, 54 + (h - 1 - y) * rowSize, 3 * w)
        y += 1
      }
      return out
    }
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize // positive height ⇒ bottom-up
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val o = rowOff + 3 * x
        out(o) = rgb.toByte               // B
        out(o + 1) = (rgb >> 8).toByte    // G
        out(o + 2) = (rgb >> 16).toByte   // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** ImageIO's default ImageInputStream is FILE-cache backed — one temp
    * file created and deleted per decode, a syscall tax that dominated the
    * first real-decode bench (r9). Memory-cached streams are the right
    * mode for blob-sized in-memory decodes; set once per JVM at first use
    * of this object (executors initialize it on their first task). */
  private val _imageioInit: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** REAL decode: the JDK's ImageIO BMP/PNG readers. Throws if the blob is
    * not a readable image — a decode failure is a correctness failure here,
    * not something to paper over.
    *
    * r15: dispatches on the blob magic to the cached per-thread stock JDK
    * reader ([[MediaIO.readBmp]] / [[Video.decodePng]]) instead of paying
    * `ImageIO.read`'s registry scan + reader construction per blob
    * (9.5 → 5.9 µs/doc on the sf0.1 corpus). Anything else falls back to the
    * facade. MediaIOSpec pins pixel-exact parity against `ImageIO.read` on
    * the real corpus. */
  private[graft] def decode(blob: Array[Byte]): BufferedImage =
    if (blob.length >= 2 && blob(0) == 'B' && blob(1) == 'M')
      MediaIO.readBmp(blob)
    else if (blob.length >= 8 && (blob(0) & 0xff) == 0x89 && blob(1) == 'P' &&
        blob(2) == 'N' && blob(3) == 'G')
      Video.decodePng(blob)
    else {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(blob))
      require(img != null, s"ImageIO: no reader for ${blob.length}-byte blob")
      img
    }

  /** Flat BGR byte triples of a decoded image, row-major top-down — the
    * raster's backing array when the decoder produced a densely-packed
    * TYPE_3BYTE_BGR grid (the JDK BMP reader's 24bpp layout), else a
    * per-pixel getRGB copy. Reading the raster directly skips a
    * color-model conversion call per pixel on the hot path; the fallback
    * keeps semantics identical for any other decoder layout. */
  private[graft] def bgrBytes(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    if (img.getType == BufferedImage.TYPE_3BYTE_BGR &&
        img.getRaster.getDataBuffer.getSize == 3 * w * h)
      img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
    else (img.getRaster.getSampleModel, img.getRaster.getDataBuffer) match {
      // any 3-band byte-interleaved raster (the JDK PNG reader decodes
      // truecolor to RGB-interleaved TYPE_CUSTOM, which used to fall into
      // the getRGB-per-pixel path below — a color-model call + boxing per
      // pixel that dominated the AVI key's decode leg): reorder straight
      // from the backing array via the band offsets. For an 8-bit sRGB
      // ComponentColorModel this is exactly what getRGB returns.
      case (sm: java.awt.image.PixelInterleavedSampleModel,
            db: java.awt.image.DataBufferByte)
          if sm.getNumBands == 3 && !img.getColorModel.hasAlpha =>
        val data = db.getData
        val base = db.getOffset
        val stride = sm.getScanlineStride
        val ps = sm.getPixelStride
        val bo = sm.getBandOffsets // band order R,G,B = bands 0,1,2
        val out = new Array[Byte](3 * w * h)
        var y = 0
        while (y < h) {
          val row = base + y * stride
          var x = 0
          while (x < w) {
            val p = row + x * ps
            val o = 3 * (y * w + x)
            out(o) = data(p + bo(2))     // B
            out(o + 1) = data(p + bo(1)) // G
            out(o + 2) = data(p + bo(0)) // R
            x += 1
          }
          y += 1
        }
        out
      case _ =>
        val out = new Array[Byte](3 * w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val o = 3 * (y * w + x)
            out(o) = p.toByte               // B
            out(o + 1) = (p >> 8).toByte    // G
            out(o + 2) = (p >> 16).toByte   // R
            x += 1
          }
          y += 1
        }
        out
    }
  }

  /** Synthesize the deterministic BMP blob for one document payload —
    * straight from [[pixelChannels]] into the BMP byte layout (same bytes
    * [[encodeBmp]] would produce from a BufferedImage of these pixels,
    * spec-pinned, without paying a setRGB color-model call per pixel). */
  private[graft] def mediaBlob(bytes: Array[Byte]): Array[Byte] = {
    val (w, h) = dims(bytes.length)
    val rowSize = (3 * w + 3) / 4 * 4
    val dataSize = rowSize * h
    val out = new Array[Byte](54 + dataSize)
    writeBmpHeader(out, w, h, dataSize)
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize // positive height ⇒ bottom-up
      var x = 0
      while (x < w) {
        val (r, g, b) = pixelChannels(bytes, w, x, y)
        val o = rowOff + 3 * x
        out(o) = b.toByte
        out(o + 1) = g.toByte
        out(o + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Fixed-point mean: floor(sum·10⁴ / cnt) in LONG arithmetic, then one
    * exact integer ÷ 10⁴ — IEEE-identical in both engines (a float mean
    * hits round-half ties that rint and SQL round() break differently). */
  private[graft] def fp(sum: Long, cnt: Long): Double =
    if (cnt == 0) 0.0 else (sum * 10000L / cnt).toDouble / 10000.0

  /** Per-image metadata from the DECODED grid: true dimensions, real blob
    * size, mean of r+g+b over all decoded pixels. */
  val multimodalMeta: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: synth+decode once per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (hkey, text) =>
        val blob = mediaBlob(text.getBytes("UTF-8"))
        val img = decode(blob)
        val (w, h) = (img.getWidth, img.getHeight)
        val px = bgrBytes(img)
        var sum = 0L
        var i = 0
        while (i < px.length) { sum += px(i) & 0xff; i += 1 }
        (hkey, w.toLong, h.toLong, blob.length.toLong, fp(sum, 3L * w * h))
      }.toDF("h", "width", "height", "n_bytes", "mean_luma")
    }.orderBy(col("doc_id"))
  }

  /** Frame sampling: every 4th ROW of the decoded image is a "frame"
    * (the video-pipeline shape — one output row per sampled frame,
    * explode inside the blob's own task). frame_mean is the fixed-point
    * mean of r+g+b across the decoded row. */
  val multimodalFrames: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: decode+sample once per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.flatMap { case (hkey, text) =>
        val img = decode(mediaBlob(text.getBytes("UTF-8")))
        val (w, h) = (img.getWidth, img.getHeight)
        val px = bgrBytes(img)
        (0 until (h + 3) / 4).iterator.map { f =>
          val y = f * 4
          var sum = 0L
          var i = y * 3 * w
          val end = i + 3 * w
          while (i < end) { sum += px(i) & 0xff; i += 1 }
          (hkey, f.toLong, y.toLong, w.toLong, h.toLong, fp(sum, 3L * w))
        }
      }.toDF("h", "frame_idx", "row_y", "width", "height", "frame_mean")
    }.orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Resize: decode, 2× box downscale with integer-floor channel averages
    * over each 2×2 block, re-encode, DECODE AGAIN, and report the second
    * decode's stats — a full encode→decode→transform→encode→decode round
    * trip through the real codec, every number oracle-replayable. */
  val multimodalResize: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: the decode→downscale→encode→decode round trip runs once per
    // DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (hkey, text) =>
        val img = decode(mediaBlob(text.getBytes("UTF-8")))
        val (w, h) = (img.getWidth, img.getHeight)
        val (nw, nh) = (w / 2, h / 2)
        val px = bgrBytes(img)
        val small = new BufferedImage(nw, nh, BufferedImage.TYPE_3BYTE_BGR)
        val sp = small.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        var yy = 0
        while (yy < nh) {
          var xx = 0
          while (xx < nw) {
            // 2×2 block, per-channel sums over the flat BGR triples
            val o00 = 3 * (2 * yy * w + 2 * xx)
            val o01 = o00 + 3
            val o10 = o00 + 3 * w
            val o11 = o10 + 3
            var ch = 0
            val so = 3 * (yy * nw + xx)
            while (ch < 3) {
              val s = (px(o00 + ch) & 0xff) + (px(o01 + ch) & 0xff) +
                (px(o10 + ch) & 0xff) + (px(o11 + ch) & 0xff)
              sp(so + ch) = (s / 4).toByte
              ch += 1
            }
            xx += 1
          }
          yy += 1
        }
        val blob2 = encodeBmp(small)
        val img2 = decode(blob2)
        val px2 = bgrBytes(img2)
        var sum = 0L
        var i = 0
        while (i < px2.length) { sum += px2(i) & 0xff; i += 1 }
        (hkey, w.toLong, h.toLong, nw.toLong, nh.toLong, blob2.length.toLong,
          fp(sum, 3L * nw * nh))
      }
      .toDF("h", "width", "height", "new_width", "new_height",
        "n_bytes_out", "mean_luma_out")
    }.orderBy(col("doc_id"))
  }

  /** Feature extraction: 8-bin normalized luma histogram of the decoded
    * pixel grid (luma = ⌊(r+g+b)/3⌋, bin = luma ≫ 5) — the fixed-size
    * dense-vector stand-in for a CNN embedding, flattened to scalar
    * b0..b7 columns (array columns break the driver's row hasher). */
  val multimodalFeatures: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: decode+histogram once per DISTINCT text ([[Contract.perText]])
    Contract.perText(s, d) { reps =>
      reps.map { case (hkey, text) =>
        val img = decode(mediaBlob(text.getBytes("UTF-8")))
        val (w, h) = (img.getWidth, img.getHeight)
        val px = bgrBytes(img)
        val hist = new Array[Long](8)
        var i = 0
        while (i < px.length) {
          val luma = ((px(i) & 0xff) + (px(i + 1) & 0xff) + (px(i + 2) & 0xff)) / 3
          hist(luma >> 5) += 1L
          i += 3
        }
        val n = w.toLong * h
        val o = hist.map(c => fp(c, n))
        (hkey, o(0), o(1), o(2), o(3), o(4), o(5), o(6), o(7))
      }.toDF("h", "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")
    }.orderBy(col("doc_id"))
  }

  /** Perceptual difference-hash (dHash) of a decoded image: point-sample a
    * 9×8 luma grid (sx = ⌊gx·w/9⌋, sy = ⌊gy·h/8⌋ — integer floor, so the
    * oracle replays the sampling), emit bit (gy, gx) = 1 iff the right
    * neighbor's luma is strictly greater. 64 bits, returned as two 32-bit
    * halves (rows 0–3 → lo, rows 4–7 → hi) so neither engine touches the
    * BIGINT sign bit. */
  private[graft] def dhash(px: Array[Byte], w: Int, h: Int): (Long, Long) = {
    val luma = Array.tabulate(8, 9) { (gy, gx) =>
      val o = 3 * ((gy * h / 8) * w + (gx * w / 9))
      ((px(o) & 0xff) + (px(o + 1) & 0xff) + (px(o + 2) & 0xff)) / 3
    }
    var lo = 0L; var hi = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (luma(gy)(gx + 1) > luma(gy)(gx)) {
          val k = 8 * (gy % 4) + gx
          if (gy < 4) lo |= 1L << k else hi |= 1L << k
        }
        gx += 1
      }
      gy += 1
    }
    (hi, lo)
  }

  /** PNG round trip as a suite key — graduates the second JDK codec from
    * spec-level to oracle-checked: decode the BMP blob, re-encode the
    * grid as PNG (`ImageIO.write(_, "png", _)`), DECODE THE PNG, and
    * report channel-separate fixed-point means from the PNG-decoded
    * pixels. PNG is lossless, so the oracle replays the generator
    * arithmetic per channel — a hash match certifies the compressed
    * codec's full encode→decode cycle preserved every pixel, and the
    * channel-separate means catch an R/B swap the combined luma can't.
    * (PNG byte size is compressor-dependent and deliberately NOT in the
    * output contract.) */
  val multimodalPng: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    // r15: the BMP→PNG→decode round trip runs once per DISTINCT text
    Contract.perText(s, d) { reps =>
      reps.map { case (hkey, text) =>
        val img = decode(mediaBlob(text.getBytes("UTF-8")))
        // r15: cached per-thread stock JDK PNG writer/reader (MediaIO) —
        // every deflate/inflate is still the real codec, minus the per-call
        // SPI discovery; MultimodalSpec pins pixel-identical read-back
        val png = decode(MediaIO.encodePng(img))
        val (w, h) = (png.getWidth, png.getHeight)
        val px = bgrBytes(png)
        var sb = 0L; var sg = 0L; var sr = 0L
        var i = 0
        while (i < px.length) {
          sb += px(i) & 0xff; sg += px(i + 1) & 0xff; sr += px(i + 2) & 0xff
          i += 3
        }
        val n = w.toLong * h
        (hkey, w.toLong, h.toLong, fp(sr, n), fp(sg, n), fp(sb, n))
      }.toDF("h", "width", "height", "mean_r", "mean_g", "mean_b")
    }.orderBy(col("doc_id"))
  }

  /** Per-doc dHash frame — the shared decode+hash pass of [[imageDedup]]
    * and the at-rest screen family. */
  private[operators] def dhashFrame(s: SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = s
    import spark.implicits._
    // r15: decode+hash once per DISTINCT text ([[Contract.perTextOf]])
    Contract.perTextOf(docs) { reps =>
      reps.map { case (h, text) =>
        val (hi, lo) = streamDhash(text)
        (h, hi, lo)
      }.toDF("h", "dhash_hi", "dhash_lo")
    }.select(col("doc_id"), col("dhash_hi"), col("dhash_lo"))
  }

  /** One-doc dHash kernel for the streaming twin: synthesize, REALLY
    * decode, hash — the per-row body of [[dhashFrame]] exposed for typed
    * stream maps. */
  private[graft] def streamDhash(text: String): (Long, Long) = {
    val img = decode(mediaBlob(
      (if (text == null) "" else text).getBytes("UTF-8")))
    dhash(bgrBytes(img), img.getWidth, img.getHeight)
  }

  /** Image near-dedup by perceptual hash (the training-pipeline shape for
    * image corpora — LAION-style dHash bucketing): decode every blob,
    * compute its 64-bit dHash from the REAL pixel grid, group identical
    * hashes into families, keep the min-id representative. One
    * hash-shuffle keyed on the 64-bit signature — Θ(docs) at any corpus
    * size, the exact-dedup contract applied to pixels instead of text. */
  val imageDedup: Q = (s, d) => {
    val hashes = dhashFrame(s, Tables.documents(s, d))
    // family stats via an unordered window over the signature — ONE decode
    // pass and ONE hash-shuffle (a groupBy + self-join spelling recomputes
    // the decode subtree on both join sides)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dhash_hi"), col("dhash_lo"))
    hashes
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"),
        min(col("doc_id")).over(w).as("rep_id"),
        count(lit(1)).over(w).cast("long").as("family_size"))
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"),
        col("rep_id"), col("family_size"),
        (col("doc_id") =!= col("rep_id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** AT-REST image screen as a suite key — "has this incoming image's
    * pixel fingerprint been seen before?" against the persisted index
    * (memoized build, the screen-family pattern). */
  val imageScreenAtRest: Q = Vectors.served((s, d) => {
    val idx = Index.ensure(s, Index.Dhash, d)
    Index.screenByKey(Index.Dhash, s, idx, Tables.documents(s, d)
      .where(col("source") === Vectors.MinhashBatchSource))
  })

  val queries: Map[String, Q] = Map(
    "q_multimodal_meta"      -> multimodalMeta,
    "q_multimodal_frames"    -> multimodalFrames,
    "q_multimodal_resize"    -> multimodalResize,
    "q_multimodal_features"  -> multimodalFeatures,
    "q_multimodal_png"       -> multimodalPng,
    "q_image_dedup"          -> imageDedup,
    "q_image_screen_at_rest" -> imageScreenAtRest,
  )

  /** Shared oracle CTE: the per-pixel generator arithmetic. `vb` is the
    * payload byte addressed per pixel via ascii(substr(...)) — valid
    * because the corpus is ASCII (octet == char; MultimodalSpec and
    * graft.Verify pin the assumption). r/g/b replay [[pixelChannels]]. */
  private val pixelCte =
    """t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
      |d AS (SELECT doc_id, text, n,
      |  16 + n % 17 AS w, 8 + n % 9 AS h FROM t),
      |px AS (
      |  SELECT doc_id, text, n, w, h, unnest(range(0, w * h)) AS i FROM d),
      |v AS (
      |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
      |    CASE WHEN n = 0 THEN 0
      |         ELSE ascii(substr(text, CAST((i % n) + 1 AS INT), 1)) END AS vb
      |  FROM px),
      |c AS (
      |  SELECT doc_id, w, h, x, y, vb AS r,
      |    (vb + x) % 256 AS g, (vb + y) % 256 AS b FROM v)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_multimodal_meta" ->
      s"""WITH $pixelCte
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
         |  CAST(CAST(sum(r + g + b) AS BIGINT) * 10000 // (3 * w * h) AS DOUBLE)
         |    / 10000.0 AS mean_luma
         |FROM c GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      s"""WITH $pixelCte
         |SELECT doc_id, CAST(y // 4 AS BIGINT) AS frame_idx,
         |  CAST(y AS BIGINT) AS row_y,
         |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(CAST(sum(r + g + b) AS BIGINT) * 10000 // (3 * w) AS DOUBLE)
         |    / 10000.0 AS frame_mean
         |FROM c WHERE y % 4 = 0
         |GROUP BY doc_id, y, w, h ORDER BY doc_id, frame_idx""".stripMargin,
    // 2×2 box downscale with integer-floor channel averages, then the
    // resized grid's stats — replayed as a two-level aggregate
    "q_multimodal_resize" ->
      s"""WITH $pixelCte,
         |blk AS (
         |  SELECT doc_id, w, h, x // 2 AS bx, y // 2 AS by,
         |    CAST(sum(r) AS BIGINT) // 4 AS r2,
         |    CAST(sum(g) AS BIGINT) // 4 AS g2,
         |    CAST(sum(b) AS BIGINT) // 4 AS b2
         |  FROM c WHERE x < 2 * (w // 2) AND y < 2 * (h // 2)
         |  GROUP BY doc_id, w, h, x // 2, y // 2)
         |SELECT doc_id,
         |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(w // 2 AS BIGINT) AS new_width, CAST(h // 2 AS BIGINT) AS new_height,
         |  CAST(54 + (h // 2) * ((3 * (w // 2) + 3) // 4 * 4) AS BIGINT) AS n_bytes_out,
         |  CAST(CAST(sum(r2 + g2 + b2) AS BIGINT) * 10000
         |    // (3 * (w // 2) * (h // 2)) AS DOUBLE) / 10000.0 AS mean_luma_out
         |FROM blk GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    "q_multimodal_features" ->
      s"""WITH $pixelCte,
         |bins AS (
         |  SELECT doc_id, w, h, ((r + g + b) // 3) // 32 AS bin FROM c),
         |hh AS (
         |  SELECT doc_id, max(w * h) AS n,
         |    CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |    CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         |    CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
         |    CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7
         |  FROM bins GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(c0 * 10000 // n AS DOUBLE) / 10000.0 AS b0,
         |  CAST(c1 * 10000 // n AS DOUBLE) / 10000.0 AS b1,
         |  CAST(c2 * 10000 // n AS DOUBLE) / 10000.0 AS b2,
         |  CAST(c3 * 10000 // n AS DOUBLE) / 10000.0 AS b3,
         |  CAST(c4 * 10000 // n AS DOUBLE) / 10000.0 AS b4,
         |  CAST(c5 * 10000 // n AS DOUBLE) / 10000.0 AS b5,
         |  CAST(c6 * 10000 // n AS DOUBLE) / 10000.0 AS b6,
         |  CAST(c7 * 10000 // n AS DOUBLE) / 10000.0 AS b7
         |FROM hh ORDER BY doc_id""".stripMargin,
    // PNG is lossless: channel-separate means replay straight from the
    // generator; a hash match certifies the full PNG encode→decode cycle
    "q_multimodal_png" ->
      s"""WITH $pixelCte
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(CAST(sum(r) AS BIGINT) * 10000 // (w * h) AS DOUBLE)
         |    / 10000.0 AS mean_r,
         |  CAST(CAST(sum(g) AS BIGINT) * 10000 // (w * h) AS DOUBLE)
         |    / 10000.0 AS mean_g,
         |  CAST(CAST(sum(b) AS BIGINT) * 10000 // (w * h) AS DOUBLE)
         |    / 10000.0 AS mean_b
         |FROM c GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,
    // dHash: point-sampled 9×8 luma grid → 64 comparison bits in two
    // 32-bit halves → identical-hash families with min-id representative
    "q_image_dedup" ->
      s"""WITH $pixelCte,
         |lum AS (SELECT doc_id, (r + g + b) // 3 AS luma, x, y FROM c),
         |grid AS (
         |  SELECT doc_id, w, h, unnest(range(0, 8)) AS gy FROM d),
         |gg AS (
         |  SELECT doc_id, w, h, gy, unnest(range(0, 9)) AS gx FROM grid),
         |sampled AS (
         |  SELECT gg.doc_id, gg.gy, gg.gx, lum.luma
         |  FROM gg JOIN lum ON lum.doc_id = gg.doc_id
         |    AND lum.x = (gg.gx * gg.w) // 9 AND lum.y = (gg.gy * gg.h) // 8),
         |bits AS (
         |  SELECT doc_id, gy, gx, luma,
         |    lead(luma) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS nxt
         |  FROM sampled),
         |hh AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN gy >= 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhash_hi,
         |    CAST(sum(CASE WHEN gy < 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhash_lo
         |  FROM bits GROUP BY doc_id),
         |fam AS (
         |  SELECT dhash_hi, dhash_lo, min(doc_id) AS rep_id,
         |    CAST(count(*) AS BIGINT) AS family_size
         |  FROM hh GROUP BY dhash_hi, dhash_lo)
         |SELECT h.doc_id, h.dhash_hi, h.dhash_lo, f.rep_id, f.family_size,
         |  CAST(CASE WHEN h.doc_id <> f.rep_id THEN 1 ELSE 0 END AS INT) AS is_dup
         |FROM hh h JOIN fam f USING (dhash_hi, dhash_lo)
         |ORDER BY h.doc_id""".stripMargin,
    // at-rest screen: same dHash chain split at-rest/batch by source;
    // batch verdict = left join on the contracted (hash -> min ref) side
    "q_image_screen_at_rest" ->
      s"""WITH $pixelCte,
         |lum AS (SELECT doc_id, (r + g + b) // 3 AS luma, x, y FROM c),
         |grid AS (
         |  SELECT doc_id, w, h, unnest(range(0, 8)) AS gy FROM d),
         |gg AS (
         |  SELECT doc_id, w, h, gy, unnest(range(0, 9)) AS gx FROM grid),
         |sampled AS (
         |  SELECT gg.doc_id, gg.gy, gg.gx, lum.luma
         |  FROM gg JOIN lum ON lum.doc_id = gg.doc_id
         |    AND lum.x = (gg.gx * gg.w) // 9 AND lum.y = (gg.gy * gg.h) // 8),
         |bits AS (
         |  SELECT doc_id, gy, gx, luma,
         |    lead(luma) OVER (PARTITION BY doc_id, gy ORDER BY gx) AS nxt
         |  FROM sampled),
         |hh AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN gy >= 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhash_hi,
         |    CAST(sum(CASE WHEN gy < 4 AND gx < 8 AND nxt > luma
         |      THEN CAST(1 AS BIGINT) << (8 * (gy % 4) + gx) ELSE 0 END)
         |      AS BIGINT) AS dhash_lo
         |  FROM bits GROUP BY doc_id),
         |cls AS (
         |  SELECT hh.doc_id, dhash_hi, dhash_lo, d2.source
         |  FROM hh JOIN documents d2 ON d2.doc_id = hh.doc_id),
         |refs AS (
         |  SELECT dhash_hi, dhash_lo, min(doc_id) AS ref_id
         |  FROM cls WHERE source <> '${Vectors.MinhashBatchSource}'
         |  GROUP BY dhash_hi, dhash_lo)
         |SELECT c.doc_id,
         |  CAST(CASE WHEN r.ref_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
         |  coalesce(r.ref_id, CAST(-1 AS BIGINT)) AS best_match_id
         |FROM cls c LEFT JOIN refs r USING (dhash_hi, dhash_lo)
         |WHERE c.source = '${Vectors.MinhashBatchSource}'
         |ORDER BY c.doc_id""".stripMargin,
  )
}
