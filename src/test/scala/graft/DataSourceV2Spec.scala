package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SeisFixture, SeisPipeline, StrainBatchWrite, StrainDataSource, StrainDataWriter, StrainWriteCommit}

class DataSourceV2Spec extends AnyFunSuite {

  test("DSv2 strain source replays the fixture's reconstructed tensor") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val v2 = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir).load()
    assert(v2.schema == StrainDataSource.schema)
    // the DataSourceRegister short name resolves to the same table
    val byName = spark.read.format("strain").option("path", dir).load()
    assert(byName.schema == StrainDataSource.schema)
    assert(byName.count() == v2.count())
    val got = v2.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) -> (4 until 10).map(r.getDouble))
    val nPoints = SeisFixture.NSPEC * SeisFixture.NGLL_LOCAL
    val want = for (fi <- 0 until 3; step <- SeisFixture.Steps; pt <- 0 until nPoints)
      yield (fi, step, pt / SeisFixture.NGLL_LOCAL, pt % SeisFixture.NGLL_LOCAL) ->
        SeisFixture.strainPointReplay(fi, pt, step).map(_.toDouble).toSeq
    assert(got.length == want.length && got.toMap == want.toMap)
    // the long-form view carries the same samples, one row each
    assert(SeisPipeline.readStrain(spark, dir).count() == 6L * want.length)
  }

  test("one input partition per snapshot file (the parallelism axis)") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val v2 = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir).load()
    val nFiles = StrainDataSource.listFiles(dir).size
    assert(nFiles == 3 * SeisFixture.Steps.length)
    assert(v2.rdd.getNumPartitions == nFiles)
  }

  test("step-stride + force options prune FILES at planning time (DDBbase.py:71 1:N reducer)") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    // stride 20 over steps 0..100 → 6 steps of 11; one force of three
    val pruned = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir)
      .option("step0", "0").option("step1", "101").option("dstep", "20")
      .option("forces", "N").load()
    assert(pruned.rdd.getNumPartitions == 6)
    assert(pruned.select("step").distinct().count() == 6)
    assert(pruned.select("force").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    // full scan is unchanged
    val full = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir).load()
    assert(full.rdd.getNumPartitions == 3 * SeisFixture.Steps.length)
  }

  test("DSv2 write path round-trips: rows → Fortran snapshots → same rows") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val out = java.nio.file.Files.createTempDirectory("strain_write").toString
    val src = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir).option("step0", "0").option("step1", "21").load()
    src.write.format(classOf[StrainDataSource].getName)
      .option("path", out).mode("append").save()
    // written layout matches the reference's (force dir / proc_..._Step_N.bin)
    assert(new java.io.File(s"$out/force_N/proc000000_strain_field_Step_0.bin").isFile)
    val back = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", out).load()
    val keys = Seq("force", "step", "spec", "igll")
    val comps = StrainDataSource.Components
    val joined = src.select(keys.map(col) ++ comps.map(c => col(c).as(s"a_$c")): _*)
      .join(back.select(keys.map(col) ++ comps.map(c => col(c).as(s"b_$c")): _*), keys)
    assert(joined.count() == src.count() && back.count() == src.count())
    // deviatoric re-encode + float32 reconstruction may differ by an ulp
    val maxDiff = joined.agg(greatest(comps.map(c =>
      max(abs(col(s"a_$c") - col(s"b_$c")))): _*)).head().getDouble(0)
    assert(maxDiff < 1e-12, s"round-trip max diff $maxDiff")
  }

  test("bare dstep anchors the stride at the smallest present step, not at 0") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    // a directory whose steps start at 10 (no step-0 snapshot)
    val shifted = java.nio.file.Files.createTempDirectory("strain_shift").toString
    new java.io.File(s"$shifted/force_N").mkdirs()
    for (step <- 10 to 100 by 10) {
      val name = s"${SeisFixture.Proc}_strain_field_Step_$step.bin"
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/force_N/$name"),
        java.nio.file.Paths.get(s"$shifted/force_N/$name"))
    }
    val strided = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", shifted).option("dstep", "30").load()
    // anchor = 10 → steps 10, 40, 70, 100 (anchoring at 0 would keep only 30/60/90)
    assert(strided.select(col("step")).distinct().orderBy(col("step"))
      .collect().map(_.getInt(0)).toSeq == Seq(10, 40, 70, 100))
  }

  test("write is two-phase: task commit leaves temps, job commit renames, abort deletes") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val out = java.nio.file.Files.createTempDirectory("strain_2pc").toString
    def freshWriter(tag: String) = {
      val w = new StrainDataWriter(out, "proc000000", tag)
      for (pt <- 0 until 4)
        w.write(new GenericInternalRow(
          Array[Any](0, 0, 0, pt) ++ (0 until 6).map(c => c + pt * 0.5)))
      w
    }
    val msg1 = freshWriter("a1").commit().asInstanceOf[StrainWriteCommit]
    val (tmp1, dst1) = msg1.files.head
    assert(new java.io.File(tmp1).isFile && !new java.io.File(dst1).exists(),
      "task commit must stage a temp file, not the final name")
    val bw = new StrainBatchWrite(out, "proc000000")
    bw.abort(Array(msg1))
    assert(!new java.io.File(tmp1).exists(), "job abort must remove staged temps")
    val msg2 = freshWriter("a2").commit().asInstanceOf[StrainWriteCommit]
    bw.commit(Array(msg2))
    val (tmp2, dst2) = msg2.files.head
    assert(new java.io.File(dst2).isFile && !new java.io.File(tmp2).exists(),
      "job commit must rename temps into place")
  }

  test("DSv2 disp source replays the fixture's displacement; short name resolves") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val v2 = spark.read.format("disp").option("path", dir).load()
    assert(v2.schema == graft.sources.DispDataSource.schema)
    val got = v2.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2)) -> (3 until 6).map(r.getDouble))
    val want = for (fi <- 0 until 3; step <- SeisFixture.Steps; g <- 0 until SeisFixture.nGllGlobal)
      yield (fi, step, g.toLong) ->
        (0 until 3).map(c => SeisFixture.dispTruth(c + fi * 3, g, step).toDouble)
    assert(got.length == want.length && got.toMap == want.toMap)
    assert(SeisPipeline.readDisp(spark, dir).count() == 3L * want.length)
  }

  test("disp source prunes files at planning time (stride + force subset)") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val full = spark.read.format("disp").option("path", dir).load()
    assert(full.rdd.getNumPartitions == 3 * SeisFixture.Steps.length)
    // stride 20 over steps 0..100 → 6 steps; one force of three → 6 files
    val pruned = spark.read.format("disp").option("path", dir)
      .option("step0", "0").option("step1", "101").option("dstep", "20")
      .option("forces", "Z").load()
    assert(pruned.rdd.getNumPartitions == 6)
    assert(pruned.select("step").distinct().count() == 6)
    assert(pruned.select("force").distinct().collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("filters compose on top of the scan (Catalyst handles post-scan pruning)") {
    val spark = TestSpark.spark
    val dir = SeisFixture.ensure()
    val v2 = spark.read.format(classOf[StrainDataSource].getName)
      .option("path", dir).load()
      .where(col("force") === 0 && col("step") === 0 && col("spec") === 1)
    assert(v2.count() == SeisFixture.NGLL_LOCAL)
  }
}
