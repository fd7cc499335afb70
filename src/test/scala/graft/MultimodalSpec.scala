package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Index, Multimodal}

/** The real-codec multimodal path: the hand-written BMP encoder must
  * round-trip through the JDK's ImageIO decoder pixel-for-pixel (that
  * equivalence is what lets the DuckDB oracle certify the decode by
  * replaying the generator arithmetic), and the same grid must survive a
  * PNG re-encode — the second, compressed codec ImageIO ships. */
class MultimodalSpec extends AnyFunSuite {

  private def grid(img: BufferedImage): Seq[(Int, Int, Int, Int, Int)] =
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) yield {
      val p = img.getRGB(x, y)
      (x, y, (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    }

  test("BMP encode → ImageIO decode reproduces the generator grid exactly") {
    for (payload <- Seq("", "a", "the quick brown fox jumps over 13 dogs",
        "x" * 300)) {
      val bytes = payload.getBytes("UTF-8")
      val (w, h) = Multimodal.dims(bytes.length)
      val img = Multimodal.decode(Multimodal.mediaBlob(bytes))
      assert(img.getWidth == w && img.getHeight == h, s"dims for n=${bytes.length}")
      grid(img).foreach { case (x, y, r, g, b) =>
        val (er, eg, eb) = Multimodal.pixelChannels(bytes, w, x, y)
        assert((r, g, b) == (er, eg, eb), s"pixel ($x,$y) payload n=${bytes.length}")
      }
    }
  }

  test("row order is pinned: bottom-up BMP storage decodes top-down correctly") {
    // an asymmetric payload: row 0 and the last row must differ, and match
    // the generator per-row — a row-order slip in the encoder would swap them
    val bytes = "abcdefghij".getBytes("UTF-8")
    val (w, h) = Multimodal.dims(bytes.length)
    val img = Multimodal.decode(Multimodal.mediaBlob(bytes))
    val top = (0 until w).map(x => img.getRGB(x, 0) & 0xff)
    val bot = (0 until w).map(x => img.getRGB(x, h - 1) & 0xff)
    assert(top != bot)
    (0 until w).foreach { x =>
      assert((img.getRGB(x, 0) & 0xff) == Multimodal.pixelChannels(bytes, w, x, 0)._3)
      assert((img.getRGB(x, h - 1) & 0xff) ==
        Multimodal.pixelChannels(bytes, w, x, h - 1)._3)
    }
  }

  test("PNG path: ImageIO PNG re-encode of the decoded grid is pixel-identical") {
    val bytes = "the quick brown fox".getBytes("UTF-8")
    val bmp = Multimodal.decode(Multimodal.mediaBlob(bytes))
    val baos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bmp, "png", baos), "no PNG writer")
    val png = javax.imageio.ImageIO.read(new ByteArrayInputStream(baos.toByteArray))
    assert(png != null)
    assert(grid(png) == grid(bmp))
  }

  test("media blob synthesis is deterministic and structurally valid BMP") {
    val bytes = "determinism check".getBytes("UTF-8")
    val b1 = Multimodal.mediaBlob(bytes)
    val b2 = Multimodal.mediaBlob(bytes)
    assert(java.util.Arrays.equals(b1, b2))
    assert(b1(0) == 'B'.toByte && b1(1) == 'M'.toByte)
    val (w, h) = Multimodal.dims(bytes.length)
    assert(b1.length == 54 + h * ((3 * w + 3) / 4 * 4))
  }

  test("raster fast paths equal the per-pixel color-model reads") {
    for (payload <- Seq("", "a", "raster fast path parity fixture payload",
        "z" * 211)) {
      val bytes = payload.getBytes("UTF-8")
      val blob = Multimodal.mediaBlob(bytes)
      val img = Multimodal.decode(blob)
      // bgrBytes (raster array when densely packed) ≡ the getRGB read
      val fast = Multimodal.bgrBytes(img).toSeq
      val slow = (for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        yield {
          val p = img.getRGB(x, y)
          Seq(p.toByte, (p >> 8).toByte, (p >> 16).toByte)
        }).flatten
      assert(fast == slow, s"bgrBytes mismatch for n=${bytes.length}")
      // direct blob synthesis ≡ encodeBmp over a setRGB-built image
      val (w, h) = Multimodal.dims(bytes.length)
      val ref = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Multimodal.pixelChannels(bytes, w, x, y)
        ref.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      assert(blob.toSeq == Multimodal.encodeBmp(ref).toSeq,
        s"direct synthesis diverged from image encode for n=${bytes.length}")
    }
  }

  test("byte-replay oracle assumption: the documents corpus is pure ASCII") {
    // the pixel-generator DuckDB oracles index bytes via ascii(substr(text,
    // i, 1)), which equals byte i only when every char is single-byte —
    // pin octet_length == char_length corpus-wide so a testdata change
    // that breaks the equivalence fails HERE, not as an oracle hash diff
    val spark = TestSpark.spark
    val nonAscii = Tables.documents(spark, TestSpark.sf0001)
      .where(octet_length(col("text")) =!= length(col("text"))).count()
    assert(nonAscii == 0L)
  }

  test("resize query: one row per doc, halved dims, real re-encoded blob size") {
    val spark = TestSpark.spark
    val df = Multimodal.multimodalResize(spark, TestSpark.sf0001)
    val docs = Tables.documents(spark, TestSpark.sf0001).count()
    assert(df.count() == docs)
    assert(df.where(col("new_width") =!= floor(col("width") / 2) ||
      col("new_height") =!= floor(col("height") / 2)).isEmpty)
    // n_bytes_out is the REAL length of the re-encoded blob, which for the
    // 24bpp writer is exactly the header+padded-rows arithmetic
    assert(df.where(col("n_bytes_out") =!=
      lit(54) + col("new_height") *
        (floor((lit(3) * col("new_width") + 3) / 4) * 4)).isEmpty)
  }

  test("feature histogram is normalized (sums to ~1) over decoded pixels") {
    val spark = TestSpark.spark
    val row = Multimodal.multimodalFeatures(spark, TestSpark.sf0001)
      .where(col("doc_id") === 0).head()
    val feat = (1 to 8).map(row.getDouble)
    // fixed-point floor: each bin loses < 1e-4, so the sum sits in
    // (1 - 8e-4, 1]
    assert(feat.sum <= 1.0 + 1e-12 && feat.sum > 1.0 - 8e-4, s"sum=${feat.sum}")
  }

  test("dHash matches an independent generator-arithmetic replay (no codec)") {
    for (payload <- Seq("a", "the quick brown fox jumps over 13 dogs",
        "x" * 300)) {
      val bytes = payload.getBytes("UTF-8")
      val (w, h) = Multimodal.dims(bytes.length)
      val img = Multimodal.decode(Multimodal.mediaBlob(bytes))
      val (hi, lo) = Multimodal.dhash(
        Multimodal.bgrBytes(img), img.getWidth, img.getHeight)
      // replay straight from pixelChannels: luma = (r+g+b)/3 at the
      // point-sampled grid, bit = strict right-neighbor increase
      def luma(gy: Int, gx: Int): Int = {
        val (r, g, b) = Multimodal.pixelChannels(bytes, w, gx * w / 9, gy * h / 8)
        (r + g + b) / 3
      }
      var elo = 0L; var ehi = 0L
      for (gy <- 0 until 8; gx <- 0 until 8)
        if (luma(gy, gx + 1) > luma(gy, gx)) {
          val k = 8 * (gy % 4) + gx
          if (gy < 4) elo |= 1L << k else ehi |= 1L << k
        }
      assert((hi, lo) == (ehi, elo), s"dhash payload n=${bytes.length}")
    }
  }

  test("dHash at-rest screen lifecycle: append makes the batch self-dup, delete restores, compact is physical") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.operators.Vectors
    val d = TestSpark.sf0001
    val batch = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    val batchIds = batch.select("doc_id").as[Long].collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("dhidx").toString
    Index.Dhash.build(spark, d, idx)
    val rows0 = spark.read.parquet(s"$idx/dhashes").count()
    def screen() = Index.screenByKey(Index.Dhash, spark, idx, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val v1 = screen()
    assert(v1.size == batchIds.size)
    // append: every batch image's own hash is now at rest -> all dup,
    // best match at most its own id
    Index.Dhash.append(spark, idx, batch)
    assert(spark.read.parquet(s"$idx/dhashes").count() == rows0 + batchIds.size)
    val v2 = screen()
    assert(v2.forall { case (id, dup, ref) => dup == 1L && ref <= id })
    // delete the appended ids: original verdicts restored logically...
    Index.delete(spark, idx, batchIds.toDF("doc_id"))
    assert(screen() == v1)
    // ...then physically, with tombstones cleared and layout intact
    Index.Dhash.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/dhashes").count() == rows0)
    assert(Index.tombstonesOf(spark, idx).isEmpty)
    assert(screen() == v1)
  }

  test("image dedup: identical text gives identical dHash family with min-id rep") {
    val spark = TestSpark.spark
    val df = Multimodal.imageDedup(spark, TestSpark.sf0001)
    val docs = Tables.documents(spark, TestSpark.sf0001).count()
    assert(df.count() == docs)
    // representatives are family minima, and every family member shares
    // the rep's hash (join-key construction makes this structural; the
    // check guards the aggregation wiring)
    assert(df.where(col("rep_id") > col("doc_id")).isEmpty)
    assert(df.where((col("doc_id") === col("rep_id")) &&
      col("is_dup") === 1).isEmpty)
  }
}
