package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Index, Multimodal, Video}

/** The video leg of the multimodal story: the GVID container must demux
  * byte-for-byte, every frame must survive the REAL ImageIO round trip
  * pixel-for-pixel (that equivalence is what lets the DuckDB oracle
  * certify the path by replaying generator arithmetic), and the
  * shot-boundary detector must separate cuts from within-scene motion by
  * construction, not by luck. */
class VideoSpec extends AnyFunSuite {

  private val payloads = Seq("", "a", "the quick brown fox jumps over 13 dogs",
    "x" * 300, "scene change fixture with assorted bytes 0123456789!?")

  test("container demux: header fields and frame count match the generator") {
    for (p <- payloads) {
      val bytes = p.getBytes("UTF-8")
      val blob = Video.videoBlob(bytes)
      val (nf, fps, w, h, frames) = Video.parseContainer(blob)
      val (ew, eh) = Multimodal.dims(bytes.length)
      assert(nf == Video.frameCount(bytes.length))
      assert(fps == Video.Fps && w == ew && h == eh)
      assert(frames.length == nf)
      // container size is the header+frames arithmetic the oracle uses
      assert(blob.length ==
        20 + nf * (4 + 54 + eh * ((3 * ew + 3) / 4 * 4)))
    }
  }

  test("every demuxed frame ImageIO-decodes to the generator grid exactly") {
    for (p <- payloads) {
      val bytes = p.getBytes("UTF-8")
      val (_, _, w, h, frames) = Video.parseContainer(Video.videoBlob(bytes))
      val deltas = Video.frameDeltas(bytes)
      frames.zipWithIndex.foreach { case (fb, f) =>
        val img = Multimodal.decode(fb)
        assert(img.getWidth == w && img.getHeight == h)
        val px = Multimodal.bgrBytes(img)
        for (y <- 0 until h; x <- 0 until w) {
          val (r, g, b) = Multimodal.pixelChannels(bytes, w, x, y)
          val o = 3 * (y * w + x)
          assert((px(o) & 0xff) == (b + deltas(f)) % 256, s"B ($x,$y) f=$f")
          assert((px(o + 1) & 0xff) == (g + deltas(f)) % 256, s"G ($x,$y) f=$f")
          assert((px(o + 2) & 0xff) == (r + deltas(f)) % 256, s"R ($x,$y) f=$f")
        }
      }
    }
  }

  test("cut transitions measure exactly 128 madiff; motion stays below 3") {
    // the quantitative envelope the CutThreshold=64 detector rests on:
    // a +128 shift is ±128 for EVERY channel in mod-256 arithmetic, a +1
    // shift is 1 except the ~1/256 of channels that wrap (|diff| 255) —
    // so the two populations never approach the threshold from either side
    for (p <- payloads.filter(_.nonEmpty)) {
      val bytes = p.getBytes("UTF-8")
      val (w, h) = Multimodal.dims(bytes.length)
      val base = Video.frameBmp(bytes, 17)
      val motion = Video.frameBmp(bytes, 18)
      val cut = Video.frameBmp(bytes, 17 + 128)
      def px(b: Array[Byte]) = Multimodal.bgrBytes(Multimodal.decode(b))
      def madiff(a: Array[Byte], b: Array[Byte]): Double = {
        val (pa, pb) = (px(a), px(b))
        var s = 0L; var i = 0
        while (i < pa.length) { s += math.abs((pa(i) & 0xff) - (pb(i) & 0xff)); i += 1 }
        s.toDouble / (3.0 * w * h)
      }
      assert(madiff(base, cut) == 128.0)
      assert(madiff(base, motion) < 3.0)
    }
  }

  test("malformed containers are rejected, not papered over") {
    val bytes = "fixture".getBytes("UTF-8")
    val blob = Video.videoBlob(bytes)
    intercept[IllegalArgumentException] {
      Video.parseContainer(blob.take(19)) // truncated header
    }
    val badMagic = blob.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException] { Video.parseContainer(badMagic) }
    intercept[IllegalArgumentException] {
      Video.parseContainer(blob.take(blob.length - 3)) // truncated last frame
    }
  }

  test("AVI leg: strict RIFF demux, PNG frames decode pixel-equal to GVID, scene parity") {
    for (p <- payloads) {
      val bytes = p.getBytes("UTF-8")
      val avi = Video.aviBlob(bytes)
      val (nf, fps, w, h, pngFrames) = Video.parseAviContainer(avi)
      val (gn, gf, gw, gh, bmpFrames) = Video.parseContainer(Video.videoBlob(bytes))
      assert((nf, fps, w, h) == ((gn, gf, gw, gh)), "header parity with GVID")
      // PNG is lossless: every decoded grid bit-equal to the GVID frame's
      pngFrames.zip(bmpFrames).foreach { case (png, bmp) =>
        assert(png.take(8).toSeq ==
          Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), "real PNG frames")
        assert(Multimodal.bgrBytes(Multimodal.decode(png)).toSeq ==
          Multimodal.bgrBytes(Multimodal.decode(bmp)).toSeq)
      }
      // the shared kernel sees identical pixels => identical scene rows
      assert(Video.sceneRowsOfAvi(7L, p).toSeq == Video.sceneRowsOf(7L, p).toSeq)
    }
  }

  test("malformed AVI containers are rejected: magic, RIFF size, idx1 disagreement") {
    val avi = Video.aviBlob("fixture bytes for the avi leg".getBytes("UTF-8"))
    val badMagic = avi.clone(); badMagic(9) = 'X'
    intercept[IllegalArgumentException] { Video.parseAviContainer(badMagic) }
    intercept[IllegalArgumentException] { Video.parseAviContainer(avi.take(avi.length - 4)) }
    // corrupt one idx1 size field (last entry's final 4 bytes)
    val badIdx = avi.clone(); badIdx(avi.length - 1) = (badIdx(avi.length - 1) ^ 1).toByte
    intercept[IllegalArgumentException] { Video.parseAviContainer(badIdx) }
    // untrusted size fields: negative, container-overrunning, and
    // Int-OVERFLOWING (o + 8 + size wraps negative) values must all throw
    // the documented failure, never OOB or a non-terminating walk. The
    // first chunk after the 12-byte RIFF header has its size at offset 16.
    def withSize(v: Int): Array[Byte] = {
      val b = avi.clone()
      b(16) = (v & 0xff).toByte; b(17) = ((v >> 8) & 0xff).toByte
      b(18) = ((v >> 16) & 0xff).toByte; b(19) = ((v >> 24) & 0xff).toByte
      b
    }
    intercept[IllegalArgumentException] { Video.parseAviContainer(withSize(-8)) }
    intercept[IllegalArgumentException] { Video.parseAviContainer(withSize(avi.length)) }
    intercept[IllegalArgumentException] { Video.parseAviContainer(withSize(0x7ffffff8)) }
    // truncated mid-header: a size-consistent RIFF envelope whose body
    // ends 2 bytes into a chunk header (get32 must not read past the end)
    val tiny = new Array[Byte](14)
    "RIFF".getBytes("US-ASCII").copyToArray(tiny, 0)
    tiny(4) = 6 // little-endian RIFF size = blob.length - 8
    "AVI ".getBytes("US-ASCII").copyToArray(tiny, 8)
    intercept[IllegalArgumentException] { Video.parseAviContainer(tiny) }
  }

  test("AVI suite key equals the GVID scenes key row-for-row") {
    val spark = TestSpark.spark
    val gvid = Video.videoScenes(spark, TestSpark.sf0001).collect().map(_.toSeq).toSeq
    val avi = Video.videoScenesAvi(spark, TestSpark.sf0001).collect().map(_.toSeq).toSeq
    assert(gvid == avi)
  }

  test("scene table partitions the frame range; keyframes open each scene") {
    val spark = TestSpark.spark
    val scenes = Video.videoScenes(spark, TestSpark.sf0001)
      .select("doc_id", "scene_id", "start_frame", "end_frame", "n_frames")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(scenes.nonEmpty)
    scenes.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      // scene ids are 0..k-1, spans are contiguous and start at frame 0
      assert(sorted.map(_._2).toSeq == (0L until sorted.length.toLong))
      assert(sorted.head._3 == 0L, s"doc $doc first scene must start at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._4 + 1, s"gap in doc $doc")
        case _ =>
      }
      sorted.foreach(s => assert(s._5 == s._4 - s._3 + 1))
    }
    val kf = Video.videoKeyframes(spark, TestSpark.sf0001)
      .select("doc_id", "scene_id", "frame_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exactly one keyframe per scene: its start frame
    assert(kf == scenes.map(s => (s._1, s._2, s._3)).toSet)
  }

  test("vsig at-rest screen lifecycle: append => self-dup, delete restores, compact is physical") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Vectors
    val d = TestSpark.sf0001
    val batch = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    val batchIds = batch.select("doc_id").as[Long].collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("vsigidx").toString
    Index.Vsig.build(spark, d, idx)
    val rows0 = spark.read.parquet(s"$idx/vsigs").count()
    def screen() = Index.screenByKey(Index.Vsig, spark, idx, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val v1 = screen()
    assert(v1.size == batchIds.size)
    Index.Vsig.append(spark, idx, batch)
    val v2 = screen()
    assert(v2.forall { case (id, dup, ref) => dup == 1L && ref <= id })
    Index.delete(spark, idx, batchIds.toDF("doc_id"))
    assert(screen() == v1)
    Index.Vsig.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/vsigs").count() == rows0)
    assert(Index.tombstonesOf(spark, idx).isEmpty)
    assert(screen() == v1)
  }

  test("meta query agrees with the scene table on total frame counts") {
    val spark = TestSpark.spark
    val meta = Video.videoMeta(spark, TestSpark.sf0001)
      .select(col("doc_id"), col("n_frames")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val sceneSum = Video.videoScenes(spark, TestSpark.sf0001)
      .groupBy("doc_id").agg(sum("n_frames").as("nf")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(meta == sceneSum)
    // duration is the header arithmetic
    assert(Video.videoMeta(spark, TestSpark.sf0001)
      .where(col("duration_ms") =!= col("n_frames") * 1000 / Video.Fps)
      .isEmpty)
  }
}
