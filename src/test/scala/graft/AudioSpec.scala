package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Audio, Index}

/** The real-codec audio path: the hand-written WAV encoder must round-trip
  * through the JDK's javax.sound.sampled decoder sample-for-sample (that
  * equivalence is what lets the DuckDB oracle certify the decode by
  * replaying the generator arithmetic), including negative amplitudes —
  * an endianness or sign-extension bug flips exactly those. */
class AudioSpec extends AnyFunSuite {

  private val payloads =
    Seq("", "a", "the quick brown fox jumps over 13 dogs", "x" * 300)

  test("WAV encode → JDK decode reproduces the generator samples exactly") {
    for (payload <- payloads) {
      val bytes = payload.getBytes("UTF-8")
      val ns = Audio.nSamples(bytes.length)
      val (fmt, samples) = Audio.decodeSamples(Audio.mediaBlob(bytes))
      assert(fmt.getSampleRate == Audio.SampleRate.toFloat)
      assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
      assert(!fmt.isBigEndian)
      assert(samples.length == ns, s"n_samples for payload n=${bytes.length}")
      samples.indices.foreach { i =>
        assert(samples(i) == Audio.sampleAt(bytes, i),
          s"sample $i payload n=${bytes.length}")
      }
    }
  }

  test("generator covers both signs and the int16 boundary region") {
    // the decode certification is vacuous if all samples were nonnegative
    val bytes = "sign coverage fixture".getBytes("UTF-8")
    val samples = (0 until Audio.nSamples(bytes.length))
      .map(Audio.sampleAt(bytes, _))
    assert(samples.exists(_ < 0) && samples.exists(_ > 0))
    assert(samples.forall(s => s >= -32768 && s <= 32767))
  }

  test("media blob synthesis is deterministic and structurally valid WAV") {
    val bytes = "determinism check".getBytes("UTF-8")
    val b1 = Audio.mediaBlob(bytes)
    val b2 = Audio.mediaBlob(bytes)
    assert(java.util.Arrays.equals(b1, b2))
    assert(new String(b1, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(b1, 8, 4, "US-ASCII") == "WAVE")
    assert(b1.length == 44 + 2 * Audio.nSamples(bytes.length))
  }

  test("2x decimation round trip re-decodes to exactly the even samples") {
    val bytes = "resample parity fixture payload".getBytes("UTF-8")
    val (_, samples) = Audio.decodeSamples(Audio.mediaBlob(bytes))
    val down = Array.tabulate((samples.length + 1) / 2)(j => samples(2 * j))
    val (_, samples2) = Audio.decodeSamples(Audio.encodeWav(down))
    assert(samples2.toSeq == down.toSeq)
  }

  test("fingerprint: deterministic, replayable from the generator, varies across docs") {
    val a = "the quick brown fox".getBytes("UTF-8")
    val b = "a very different document body".getBytes("UTF-8")
    def fpOf(bytes: Array[Byte]): Long = {
      val (_, samples) = Audio.decodeSamples(Audio.mediaBlob(bytes))
      Audio.fingerprint(samples)
    }
    assert(fpOf(a) == fpOf(a)) // deterministic through the real codec
    assert(fpOf(a) != fpOf(b)) // discriminative on different payloads
    // independent replay straight from the generator (no codec)
    val ns = Audio.nSamples(a.length)
    var expect = 0L
    for (w <- 0 until Audio.FpWindows; start = w * Audio.WindowSize
         if start < ns) {
      val end = math.min(start + Audio.WindowSize, ns)
      val meanAbs = (start until end)
        .map(i => math.abs(Audio.sampleAt(a, i)).toLong).sum / (end - start)
      expect |= (meanAbs >> 8 & 3L) << (2 * w)
    }
    assert(fpOf(a) == expect)
  }

  test("afp at-rest screen lifecycle: append => self-dup, delete restores, compact is physical") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Vectors
    val d = TestSpark.sf0001
    val batch = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    val batchIds = batch.select("doc_id").as[Long].collect().toSeq
    val idx = java.nio.file.Files.createTempDirectory("afpidx").toString
    Index.Afp.build(spark, d, idx)
    val rows0 = spark.read.parquet(s"$idx/fps").count()
    def screen() = Index.screenByKey(Index.Afp, spark, idx, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val v1 = screen()
    assert(v1.size == batchIds.size)
    Index.Afp.append(spark, idx, batch)
    val v2 = screen()
    assert(v2.forall { case (id, dup, ref) => dup == 1L && ref <= id })
    Index.delete(spark, idx, batchIds.toDF("doc_id"))
    assert(screen() == v1)
    Index.Afp.compact(spark, idx)
    assert(spark.read.parquet(s"$idx/fps").count() == rows0)
    assert(Index.tombstonesOf(spark, idx).isEmpty)
    assert(screen() == v1)
  }

  test("windowed features match a direct computation on the sf0.001 corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Audio.audioFeatures(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // replay one known doc end-to-end from the generator (no codec)
    val (id, text) = texts.head
    val bytes = text.getBytes("UTF-8")
    val ns = Audio.nSamples(bytes.length)
    val mine = rows.filter(_._1 == id).sortBy(_._2)
    assert(mine.length == (ns + Audio.WindowSize - 1) / Audio.WindowSize)
    mine.foreach { case (_, wi, cnt, energy, zc) =>
      val start = (wi * Audio.WindowSize).toInt
      val end = math.min(start + Audio.WindowSize, ns)
      assert(cnt == end - start)
      val sumSq = (start until end)
        .map(i => { val v = Audio.sampleAt(bytes, i).toLong; v * v }).sum
      assert(energy == (sumSq * 10000L / cnt).toDouble / 10000.0)
      val expectZc = (start + 1 until end).count(i =>
        (Audio.sampleAt(bytes, i) >= 0) != (Audio.sampleAt(bytes, i - 1) >= 0))
      assert(zc == expectZc)
    }
  }
}
