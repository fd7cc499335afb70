package graftbench

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, length, lit, sum}

import graft.sources.SeisPipeline

/** `seis_build`: the paper's path. Each pass builds an SGT and a DGF
  * database from the SPECFEM-layout fixture, decodes the whole SGT database,
  * and reads single GLL points from it. Every pass overwrites the same two
  * databases. */
object SeisBuild {
  val Bits = 16
  /** Point reads in a timed unit, and in the untimed ones (which only warm
    * the read path up). */
  val PointsPerPass = 12
  val PointsPerUntimedPass = 4
  /** Units after the cold one that run untimed. The JIT is still compiling
    * the build path through the first unit after the cold one: over five
    * runs its work CPU ranged over 6.9–7.9 s, the mean of the next two over
    * 5.9–6.4 s. */
  val WarmupUnits = 1

  /** One pass's timings: SGT build, DGF build, full decode, point reads. */
  final case class Pass(sgt: Cost, dgf: Cost, scan: Cost, reads: Seq[Phases]) {
    def bulk: Cost = sgt + dgf + scan
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val fixture = s"${ctx.cfg.data}/fixture"
    val sgt = s"${ctx.cfg.tmp}/db/sgt"
    val dgf = s"${ctx.cfg.tmp}/db/dgf"
    val points = Files.readAllLines(new File(ctx.cfg.data, "points.txt").toPath)
      .asScala.map(_.trim.toLong).toIndexedSeq

    // first touch of every input file; the first pass is the cold one
    spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(fixture)
      .agg(sum(length(col("content")))).head()
    ctx.setupDone()

    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(new File(ctx.cfg.out, "points.bin"))))
    val scans = Seq.newBuilder[(Long, Double)]
    var next = 0
    val ps = (0 to ctx.warmUnits + WarmupUnits).map { unit =>
      val cSgt = ctx.op(SeisPipeline.createSgtDb(spark, fixture, sgt, "XX", "S0001", 0, Bits))._2
      val cDgf = ctx.op(SeisPipeline.createDgfDb(spark, fixture, dgf, "XX", "S0001", 0, Bits))._2
      val (agg, cScan) = ctx.op(SeisPipeline.readSgtDb(spark, sgt)
        .agg(count(lit(1)), sum(col("value"))).head())
      scans += ((agg.getLong(0), agg.getDouble(1)))
      val nReads = if (unit <= WarmupUnits) PointsPerUntimedPass else PointsPerPass
      val reads = (0 until nReads).map { _ =>
        val gll = points(next % points.length)
        next += 1
        val c = ctx.call(SeisPipeline.readSgtPoint(spark, sgt, gll)
          .select("force", "param", "step", "value"))
        out.writeLong(gll)
        out.writeInt(c.rows.length)
        c.rows.foreach { r =>
          out.writeInt(r.getInt(0)); out.writeInt(r.getInt(1))
          out.writeLong(r.getLong(2)); out.writeDouble(r.getDouble(3))
        }
        c.phases
      }
      Pass(cSgt, cDgf, cScan, reads)
    }
    out.close()
    val counters = ctx.probe.sparkCounters()

    val warm = ps.drop(1 + WarmupUnits)
    val warmReads = warm.flatMap(_.reads)
    ctx.result ++= Map(
      "cold_s" -> ps.head.bulk.wall,
      "cold_cpu_s" -> ps.head.bulk.cpu,
      "warm_s" -> Ctx.median(warm.map(_.bulk.wall)),
      "warm_cpu_s" -> Ctx.mean(warm.map(_.bulk.cpu)),
      "scan_checks" -> scans.result().map { case (n, sum) => Seq(n, sum) },
      "sgt_db" -> sgt, "dgf_db" -> dgf)
    ctx.result ++= Ctx.callFigures(warmReads.map("point" -> _))

    if (ctx.cfg.trace) {
      val nSamples = scans.result().head._1.toDouble
      val inputMb = (bytesOf(fixture, "_strain_field_Step_") + bytesOf(fixture, "_disp_Step_")) / 1e6
      val (dbBytes, dbFiles) = Ctx.du(new File(sgt))
      def noop(df: DataFrame) = Ctx.timed(df.write.format("noop").mode("overwrite").save())._2
      ctx.layer ++= counters.map { case (k, v) => k -> v / ps.length }
      ctx.layer ++= Phases.perCall(warmReads)
      ctx.layer ++= Map(
        "seis.build_mb_per_s" -> Ctx.median(warm.map(p => inputMb / (p.sgt.wall + p.dgf.wall))),
        "seis.scan_msamples_per_s" -> Ctx.median(warm.map(p => nSamples / 1e6 / p.scan.wall)),
        "seis.db_bytes_per_sample" -> dbBytes / nSamples,
        "seis.point_read_ms" -> Ctx.median(warmReads.map(_.total * 1e3)),
        "sources.sgt_build_s" -> Ctx.median(warm.map(_.sgt.wall)),
        "sources.dgf_build_s" -> Ctx.median(warm.map(_.dgf.wall)),
        "sources.db_scan_s" -> Ctx.median(warm.map(_.scan.wall)),
        "sources.strain_scan_s" -> noop(SeisPipeline.readStrain(spark, fixture)),
        "sources.disp_scan_s" -> noop(SeisPipeline.readDisp(spark, fixture)),
        "sources.subsample_s" -> Ctx.timed(SeisPipeline.subsampledIndex(spark, fixture).collect())._2,
        "sources.meta_read_ms" ->
          Ctx.median((0 until 5).map(_ => Ctx.timed(SeisPipeline.readDbMeta(spark, sgt))._2 * 1e3)),
        "sources.db_files" -> dbFiles.toDouble)
    }
    // the full decode the checker compares every sample and point read against
    SeisPipeline.readSgtDb(spark, sgt).write.parquet(s"${ctx.cfg.out}/sgt_full")
  }

  private def bytesOf(dir: String, part: String): Long =
    Files.walk(new File(dir).toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.contains(part)).map(_.length).sum
}
