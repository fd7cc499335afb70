package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Codec
import graft.sources.{Fortran, SeisFixture, SeisPipeline}

class SinkSpec extends AnyFunSuite {

  test("procName matches the reference's zero-padded scheme") {
    assert(SeisPipeline.procName(0) == "proc000000")
    assert(SeisPipeline.procName(123) == "proc000123")
    assert(SeisPipeline.procName(999999) == "proc999999")
  }

  test("element lookup: 27-variant emits the transposed permutation; OOR → zeros") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val got = SeisPipeline.elementLookup(spark, dir, 2, use27 = true)
      .orderBy("pos").collect().map(_.getLong(1))
    assert(got.length == 27)
    // reproduce from the raw fixture: element 2's 125 ids, 27-subset, transpose
    val ids = SeisFixture.iboolIds().slice(2 * 125, 3 * 125).map(_ - 1L)
    val sel = SeisFixture.Index27.map(ids(_)).toArray
    val want = for (i <- 0 until 3; j <- 0 until 3; k <- 0 until 3)
      yield sel(k * 9 + j * 3 + i)
    assert(got.toSeq == want)
    // out-of-range element → all zeros (reference quirk)
    val oor = SeisPipeline.elementLookup(spark, dir, 99, use27 = false)
      .collect().map(_.getLong(1))
    assert(oor.length == 125 && oor.forall(_ == 0L))
  }

  test("valid-step scan: all fixture steps complete in 3 dirs; empty range raises") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val steps = SeisPipeline.validSteps(spark, dir, 0, 101, 10)
      .collect().map(_.getInt(0)).toSeq
    assert(steps == SeisFixture.Steps)
    // stride that misses every existing file → reference raises; so do we
    intercept[IllegalArgumentException] {
      SeisPipeline.validSteps(spark, dir, 1, 100, 10)
    }
  }

  test("createSgtDb: hive-partitioned layout, blobs decode within bound on re-read") {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("sgtdb").toString
    val n = SeisPipeline.createSgtDb(spark, SeisFixture.ensure(), out, "CI", "TST")
    assert(n > 0)
    // reference layout R11: network/station/proc directory partitioning
    assert(new java.io.File(s"$out/network=CI/station=TST/proc=proc000000").isDirectory)
    // re-read through partition pruning and decode every blob
    val back = spark.read.parquet(out)
      .where(col("network") === "CI" && col("station") === "TST")
      .select("gll", "n", "offset", "scale", "payload").collect()
    assert(back.length == n)
    back.foreach { r =>
      val decoded = Codec.dequantize255(
        Codec.inflate(r.getAs[Array[Byte]]("payload")),
        r.getDouble(2), r.getDouble(3))
      assert(decoded.length == r.getInt(1))
    }
    // header-attr sidecar (DSGT.py:179-194): SGT type, NEZ force order
    val meta = spark.read.parquet(s"$out/_meta").collect()
    assert(meta.length == 1)
    assert(meta(0).getAs[String]("db_type") == "SGT")
    assert(meta(0).getAs[String]("forder") == "NEZ")
    assert(meta(0).getAs[Long]("ngll") == n)
    assert(meta(0).getAs[Long]("nstep") == SeisFixture.Steps.length.toLong)
  }

  test("createDgfDb: partitioned blobs decode within bound; ENZ + nGLL_global meta") {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("dgfdb").toString
    val n = SeisPipeline.createDgfDb(spark, SeisFixture.ensure(), out, "CI", "TST")
    assert(n > 0)
    assert(new java.io.File(s"$out/network=CI/station=TST/proc=proc000000").isDirectory)
    val back = spark.read.parquet(out)
      .select("gll", "n", "offset", "scale", "payload").collect()
    assert(back.length == n)
    back.foreach { r =>
      val decoded = Codec.dequantize255(
        Codec.inflate(r.getAs[Array[Byte]]("payload")),
        r.getDouble(2), r.getDouble(3))
      // 3 forces × 3 comps × all steps per point
      assert(decoded.length == r.getInt(1))
      assert(r.getInt(1) == 3 * 3 * SeisFixture.Steps.length)
    }
    // DDGF.py:185-187: the DGF header carries nGLL_global and 'ENZ' order
    val meta = spark.read.parquet(s"$out/_meta").collect()
    assert(meta.length == 1)
    assert(meta(0).getAs[String]("db_type") == "DGF")
    assert(meta(0).getAs[String]("forder") == "ENZ")
    assert(meta(0).getAs[Long]("ngll_global") == SeisFixture.nGllGlobal.toLong)
    assert(meta(0).getAs[Long]("nparas") == 3L)
  }

  test("16-bit level: write→read→decode round trip, scale/65535 bound, dt readback") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val out = Files.createTempDirectory("sgtdb16").toString
    val n = SeisPipeline.createSgtDb(spark, dir, out, "CI", "T16", bits = 16)
    assert(n > 0)
    val meta = SeisPipeline.readDbMeta(spark, out)
    assert(meta.bits == 16L && meta.dt == SeisFixture.Dt)
    assert(meta.step0 == 0L && meta.dstep == 10L) // fixture's retained grid
    val decoded = SeisPipeline.readSgtDb(spark, out)
    // dt is what makes step×dt a timestamp — the derived time rides along
    assert(decoded.where(abs(col("t_sec") - col("step") * SeisFixture.Dt) > lit(1e-12)).isEmpty)
    // decode error vs the original gathered samples, bounded per blob by
    // scale/65535 — a uint8 payload could not pass this
    val expected = SeisPipeline.readStrain(spark, dir)
      .join(SeisPipeline.subsampledIndex(spark, dir), Seq("spec", "igll"))
      .select(col("gll"), col("force"), col("param"), col("step"), col("value").as("truth"))
    assert(decoded.count() == expected.count())
    val errByGll = decoded.join(expected, Seq("gll", "force", "param", "step"))
      .groupBy(col("gll")).agg(max(abs(col("value") - col("truth"))).as("err"),
        count(lit(1)).as("n_joined"))
    val scales = spark.read.parquet(out).select(col("gll"), col("scale"), col("n"))
    val joined = errByGll.join(scales, Seq("gll"))
    // every decoded sample found its original (the index decomposition is right)
    assert(joined.where(col("n_joined") =!= col("n")).isEmpty)
    assert(joined.where(col("err") > col("scale") / 65535.0 + lit(1e-12)).isEmpty)
  }

  test("point read: gll predicate pushed to the parquet scan, same decode") {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("sgtpt").toString
    SeisPipeline.createSgtDb(spark, SeisFixture.ensure(), out, "CI", "PT")
    val pick = spark.read.parquet(out).select("gll")
      .orderBy(col("gll").desc).head().getLong(0)
    val one = SeisPipeline.readSgtPoint(spark, out, pick)
    // evidence the predicate reached the scan, not the post-decode filter
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(gll), EqualTo(gll,"), plan)
    val got = one.select("force", "param", "step", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val full = SeisPipeline.readSgtDb(spark, out).where(col("gll") === pick)
      .select("force", "param", "step", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == full && got.nonEmpty)
  }

  /** (rows, crc32) over every blob row of a built database, sorted by gll:
    * gll, n, the exact bits of offset and scale, crc32(payload) and bits. */
  private def blobDigest(db: String): String = {
    val spark = TestSpark.spark
    val rows = spark.read.schema(SeisPipeline.BlobSchema).parquet(db)
      .select("gll", "n", "offset", "scale", "payload", "bits").collect()
      .sortBy(_.getLong(0)).map { r =>
        Seq(r.getLong(0), r.getInt(1), java.lang.Double.doubleToLongBits(r.getDouble(2)),
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          Codec.crc32(r.getAs[Array[Byte]](4)), r.getInt(5)).mkString(",")
      }
    s"${rows.length}:${Codec.crc32(rows.mkString("\n").getBytes("UTF-8"))}"
  }

  test("golden blob digest: SGT/DGF payload bytes and headers at 8 and 16 bits") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val got = for (kind <- Seq("SGT", "DGF"); bits <- Seq(8, 16)) yield {
      val out = Files.createTempDirectory(s"golden_${kind}_$bits").toString
      if (kind == "SGT") SeisPipeline.createSgtDb(spark, dir, out, "CI", "GD", bits = bits)
      else SeisPipeline.createDgfDb(spark, dir, out, "CI", "GD", bits = bits)
      s"$kind/$bits" -> blobDigest(out)
    }
    // recorded from the groupByKey/Aggregator build this layout was first
    // written with; the series-granularity build must reproduce it bit for bit
    assert(got == Seq("SGT/8" -> "79:3563682697", "SGT/16" -> "79:1000118556",
      "DGF/8" -> "79:2968777485", "DGF/16" -> "79:3727676382"))
  }

  test("a build reads only its own slice of a shared snapshot directory") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    // SPECFEM writes every slice into one directory: slice 0 is the fixture,
    // slice 1 sits beside it with its own ibool and every value doubled
    val two = Files.createTempDirectory("two_slices")
    val src = java.nio.file.Paths.get(dir)
    Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.startsWith(SeisFixture.Proc)).foreach { f =>
        val rel = src.relativize(f).toString
        val recs = Fortran.readRecords(Files.readAllBytes(f))
        val other =
          if (rel.endsWith("_ibool.bin")) recs.map(r => Fortran.bytesOfInts(Fortran.intsLE(r).reverse))
          else recs.map(r => Fortran.bytesOfFloats(Fortran.floatsLE(r).map(_ * 2f)))
        Fortran.writeRecordFile(two.resolve(rel).toFile, recs)
        Fortran.writeRecordFile(
          two.resolve(rel.replace(SeisFixture.Proc, SeisPipeline.procName(1))).toFile, other)
      }
    assert(spark.read.format("strain").option("path", two.toString)
      .option("proc", SeisPipeline.procName(1)).load().rdd.getNumPartitions ==
      3 * SeisFixture.Steps.length)
    def build(kind: String, from: String, procIdx: Int): String = {
      val out = Files.createTempDirectory(s"slice_${kind}_$procIdx").toString
      if (kind == "SGT") SeisPipeline.createSgtDb(spark, from, out, "CI", "SL", procIdx, bits = 16)
      else SeisPipeline.createDgfDb(spark, from, out, "CI", "SL", procIdx, bits = 16)
      out
    }
    for (kind <- Seq("SGT", "DGF")) {
      val single = build(kind, dir, 0)
      val shared = build(kind, two.toString, 0)
      assert(blobDigest(shared) == blobDigest(single), kind)
      assert(SeisPipeline.readDbMeta(spark, shared) == SeisPipeline.readDbMeta(spark, single), kind)
      val other = build(kind, two.toString, 1)
      assert(new java.io.File(s"$other/network=CI/station=SL/proc=proc000001").isDirectory)
      assert(blobDigest(other) != blobDigest(single), kind)
    }
    // element lookups read only their own slice's ibool
    def lookup(from: String, procIdx: Int): Seq[Long] =
      SeisPipeline.elementLookup(spark, from, 2, use27 = false, procIdx)
        .orderBy("pos").collect().map(_.getLong(1)).toSeq
    assert(lookup(two.toString, 0) == lookup(dir, 0))
    val reversed = SeisFixture.iboolIds().reverse.map(_ - 1L)
    assert(lookup(two.toString, 1) == reversed.slice(2 * 125, 3 * 125).toSeq)
  }

  test("readDgfDb maps indices back to (comp, force, step) comp-major") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val out = Files.createTempDirectory("dgfdb8").toString
    SeisPipeline.createDgfDb(spark, dir, out, "CI", "TST")
    val decoded = SeisPipeline.readDgfDb(spark, out)
    val expected = SeisPipeline.readDisp(spark, dir)
      .join(SeisPipeline.subsampledIndex(spark, dir).select("gll").distinct(), Seq("gll"))
      .select(col("gll"), col("comp"), col("force"), col("step"), col("value").as("truth"))
    assert(decoded.count() == expected.count())
    val bad = decoded.join(expected, Seq("gll", "comp", "force", "step"))
      .join(spark.read.parquet(out).select(col("gll"), col("scale")), Seq("gll"))
      .where(abs(col("value") - col("truth")) > col("scale") / 255.0 + lit(1e-12))
    assert(bad.isEmpty)
    // DGF point read: pushed predicate, identical decode for one gll
    val pick = spark.read.parquet(out).select("gll")
      .orderBy(col("gll").desc).head().getLong(0)
    val one = SeisPipeline.readDgfPoint(spark, out, pick)
    assert(one.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(gll), EqualTo(gll,"))
    val got = one.select("comp", "force", "step", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val full = decoded.where(col("gll") === pick)
      .select("comp", "force", "step", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == full && got.nonEmpty)
  }
}
