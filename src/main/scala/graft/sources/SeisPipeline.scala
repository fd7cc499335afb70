package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.{Codec, SeisSample, SeriesEncodeStats}
import graft.operators.RefOps

/** Spark-native rebuild of the reference's SGT/DGF database pipelines
  * (SURVEY.md §3 E1/E2, `/root/reference/seisdb/DSGT.py:40-196`,
  * `DDGF.py:40-190`) over the synthetic fixture (FIXTURES.md §B).
  *
  * Shape of the job (the reference's imperative loops → one DataFrame plan):
  *   binaryFile scan (one file per force×step — the natural parallelism axis
  *   at 100 TB: SPECFEM emits one file per MPI slice, so file-granular input
  *   splits ARE the cluster partitioning) → record parse + tensor
  *   reconstruction (flatMap) → broadcast-join against the subsampled mesh
  *   index → groupByKey(gll).agg(SeriesEncodeStats) — the shuffle here is
  *   exactly where the reference materializes its dense RAM buffer
  *   (`DSGT.py:88`), with spill instead of its "minimum RAM" failure mode.
  */
object SeisPipeline {

  /** ibool scan (R4): Fortran record → long-form (spec, igll, gll), 1-based
    * shifted to 0-based (`ibool_reader.py:27-31`). */
  def readIbool(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_ibool.bin").load(dir)
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        val ids = Fortran.intsLE(Fortran.readRecords(bytes).head)
        ids.zipWithIndex.iterator.map { case (gll1, i) =>
          (i / SeisFixture.NGLL_LOCAL, i % SeisFixture.NGLL_LOCAL, (gll1 - 1).toLong)
        }
      }
      .toDF("spec", "igll", "gll")
  }

  /** 27-point spatial subsample + the reference's monotone first-occurrence
    * dedup, in its exact scan order: spec-major, then position within
    * CONSTANT_INDEX_27_GLL (`ibool_reader.py:145-173`). */
  def subsampledIndex(spark: SparkSession, dir: String): DataFrame = {
    val rank27 = SeisFixture.Index27.zipWithIndex.toMap
    val rankCol = SeisFixture.Index27.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (igll, r)) => when(col("igll") === igll, r).otherwise(acc) }
    val filtered = readIbool(spark, dir)
      .where(col("igll").isin(SeisFixture.Index27.map(Integer.valueOf): _*))
      .withColumn("ord", (col("spec") * rank27.size + rankCol).cast("long"))
    RefOps.monotoneDedup(filtered, "ord", "gll")
      .select(col("spec"), col("igll"), col("gll"))
  }

  /** Strain snapshot scan + tensor reconstruction (R1/R14): six deviatoric
    * records per file → full 6-component tensor per local point
    * (`strainfield_reader.py:48-59`: xx = xx_dev + tr/3, yy = yy_dev + tr/3,
    * zz = tr − xx − yy). Emits (force, step, param, spec, igll, value). */
  def readStrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pat = ".*force_([NEZ])/.*_strain_field_Step_(\\d+)\\.bin$".r
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_strain_field_Step_*.bin")
      .option("recursiveFileLookup", "true").load(dir)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val pat(forceName, stepStr) = path
        val force = SeisFixture.Forces.indexOf(forceName)
        val step = stepStr.toInt
        val recs = Fortran.readRecords(bytes).map(Fortran.floatsLE)
        require(recs.length == 6, s"expected 6 strain records, got ${recs.length}")
        val Seq(tr, xxD, yyD, xy, xz, yz) = recs
        tr.indices.iterator.flatMap { pt =>
          val xx = xxD(pt) + tr(pt) / 3f
          val yy = yyD(pt) + tr(pt) / 3f
          val zz = tr(pt) - xx - yy
          val spec = pt / SeisFixture.NGLL_LOCAL
          val igll = pt % SeisFixture.NGLL_LOCAL
          Array(xx, yy, zz, xy(pt), xz(pt), yz(pt)).iterator.zipWithIndex.map {
            case (v, param) => (force, step, param, spec, igll, v.toDouble)
          }
        }
      }
      .toDF("force", "step", "param", "spec", "igll", "value")
  }

  /** Displacement snapshot scan (R13): one record, shape (nGLL, 3) →
    * (force, step, comp, gll, value). Reads through the [[DispDataSource]]
    * DSv2 source, so the DGF build path gets planning-time stride/force
    * file pruning like the strain path (one task per file, pruned files
    * never planned). */
  def readDisp(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("disp").option("path", dir).load()

  /** The pre-DSv2 `binaryFile`+flatMap displacement reader — kept as the
    * independent implementation DataSourceV2Spec checks the source against. */
  private[graft] def readDispViaBinaryFile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pat = ".*force_([NEZ])/.*_disp_Step_(\\d+)\\.bin$".r
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*_disp_Step_*.bin")
      .option("recursiveFileLookup", "true").load(dir)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val pat(forceName, stepStr) = path
        val force = SeisFixture.Forces.indexOf(forceName)
        val step = stepStr.toInt
        val vals = Fortran.floatsLE(Fortran.readRecords(bytes).head)
        val n = vals.length / 3
        (0 until n).iterator.flatMap { g =>
          (0 until 3).iterator.map(c => (force, step, c, g.toLong, vals(g * 3 + c).toDouble))
        }
      }
      .toDF("force", "step", "comp", "gll", "value")
  }

  /** E1 — full SGT build: ingest → gather (R15 broadcast join on the tiny
    * subsampled index) → per-point series encode (R17–R22 Aggregator) →
    * decode-verify stats. Returns one row per retained GLL point. */
  def sgtPipeline(spark: SparkSession, fixtureDir: String): DataFrame = {
    import spark.implicits._
    val index = broadcast(subsampledIndex(spark, fixtureDir))
    val strain = readStrain(spark, fixtureDir)
    val gathered = strain.join(index, Seq("spec", "igll"))
      .select(col("gll"), col("force"), col("param"), col("step"), col("value"))
      .as[SeisSample]
    gathered.groupByKey(_.gll)
      .agg(SeriesEncodeStats.toColumn.name("enc"))
      .toDF("gll", "enc")
      // the hashed contract is zlib-FREE (r10 verdict #2): offset/scale and
      // the decoded round-trip error are deterministic quantize arithmetic
      // the oracle replays; payload bytes/crc stay an implementation detail
      // (the zlib round trip is still exercised — maxErr is computed from
      // the inflated payload, so a mangled byte stream would blow it)
      .select(col("gll"), col("enc.n").as("n"),
        round(col("enc.offset"), 12).as("offset_r"),
        round(col("enc.scale"), 12).as("scale_r"),
        round(col("enc.maxErr"), 12).as("max_err_r"),
        (col("enc.maxErr") <= col("enc.scale") / 255.0 + lit(1e-12)).as("within_bound"))
      .orderBy(col("gll"))
  }

  /** R10 (`DWidgets.py:9-11`): zero-padded processor partition name. */
  def procName(idx: Int): String = f"proc$idx%06d"

  /** R5/R6 + E3 (`ibool_reader.py:37-111` `DEnquire_Element`): point-lookup
    * of one element's GLL ids — the read-path entry a consumer uses to
    * locate blobs. 27-variant emits the reference's exact (i,j,k)→(k,j,i)
    * transposed order (`ibool_reader.py:81-86`); out-of-range element →
    * zeros, matching the reference's quirk (`:52,73`). Runs as a point
    * filter on the ibool scan — at scale this is a partition-pruned lookup,
    * not a full scan (the ibool table would be bucketed by spec). */
  def elementLookup(spark: SparkSession, dir: String, indexElement: Int,
      use27: Boolean): DataFrame = {
    import spark.implicits._
    val rows = readIbool(spark, dir)
      .where(col("spec") === indexElement)
      .orderBy(col("igll"))
      .select(col("igll"), col("gll"))
      .as[(Int, Long)].collect().toMap
    val out: Seq[Long] =
      if (rows.isEmpty) Seq.fill(if (use27) 27 else SeisFixture.NGLL_LOCAL)(0L)
      else if (!use27) (0 until SeisFixture.NGLL_LOCAL).map(rows(_))
      else {
        val sel = SeisFixture.Index27.map(rows(_)) // k-major selection order
        for (i <- 0 until 3; j <- 0 until 3; k <- 0 until 3)
          yield sel(k * 9 + j * 3 + i) // emit transposed (i,j,k) ← [k][j][i]
      }
    out.zipWithIndex.map { case (g, p) => (p, g) }.toDF("pos", "gll")
  }

  /** R12 (`DDBbase.py:55-84` `DCheck_valid_step`): generate the stride range
    * and keep steps whose snapshot exists in ALL 3 force dirs — expressed as
    * range ⋈ (file listing grouped by step, count == 3), an inner join on
    * the tiny driver-free listing DF. Errors if empty, like the reference. */
  /** (force, step) listing of snapshot files — a metadata-only path scan
    * (binaryFile lists lazily; `content` is never read). */
  private def listSnapshots(spark: SparkSession, dir: String, kind: String): DataFrame = {
    import spark.implicits._
    val pat = (".*force_([NEZ])/.*_" + kind + "_Step_(\\d+)\\.bin$").r
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*_${kind}_Step_*.bin")
      .option("recursiveFileLookup", "true").load(dir)
      .select("path").as[String]
      .flatMap { p => p match {
        case pat(f, st) => Some((f, st.toInt))
        case _ => None
      } }
      .toDF("force", "step")
  }

  def validSteps(spark: SparkSession, dir: String, step0: Int, step1: Int,
      dstep: Int, kind: String = "strain_field"): DataFrame = {
    val listed = listSnapshots(spark, dir, kind)
    val complete = listed.groupBy(col("step"))
      .agg(countDistinct(col("force")).as("nf"))
      .where(col("nf") === 3)
    val steps = spark.range(step0, step1, dstep)
      .select(col("id").cast("int").as("step"))
      .join(complete, Seq("step"), "left_semi")
      .orderBy(col("step"))
    if (steps.isEmpty)
      throw new IllegalArgumentException(
        s"no valid steps in [$step0,$step1) stride $dstep under $dir")
    steps
  }

  /** E1 as a *database build* (the `DSGTdb.create_db` equivalent,
    * `DSGT.py:40-196`): encode per-point blobs + stats and sink them
    * hive-partitioned by (network, station, proc) — the reference's
    * directory layout R11 (`DDBbase.py:38-48`) — as parquet with the blob
    * as a binary column. Parquet replaces the hand-rolled offset/HDF5
    * bookkeeping (stats ride with the payload; row-group stats give
    * point-lookup pruning). Returns the written row count. */
  def createSgtDb(spark: SparkSession, fixtureDir: String, outDir: String,
      network: String, station: String, procIdx: Int = 0,
      bits: Int = 8, dt: Double = SeisFixture.Dt): Long = {
    import spark.implicits._
    val index = broadcast(subsampledIndex(spark, fixtureDir))
    val gathered = readStrain(spark, fixtureDir)
      .join(index, Seq("spec", "igll"))
      .select(col("gll"), col("force"), col("param"), col("step"), col("value"))
      .as[SeisSample]
    val written = sinkBlobs(spark, gathered, outDir, network, station, procIdx, bits)
    writeDbMeta(spark, fixtureDir, outDir, dbType = "SGT", forder = "NEZ",
      nGll = written, nForce = 3, nParas = 6, kind = "strain_field",
      withGlobal = false, // DSGT.py:179-194 attrs (no nGLL_global for SGT)
      bits = bits, dt = dt)
    written
  }

  /** The blob table's layout, as [[sinkBlobs]] writes it: one row per GLL
    * point, hive-partitioned by (network, station, proc). Readers pass it to
    * `spark.read.schema`, so opening a database lists its files but runs no
    * schema-inference job. */
  val BlobSchema: StructType = StructType.fromDDL(
    "gll BIGINT, n INT, offset DOUBLE, scale DOUBLE, payload BINARY, bits INT, " +
      "payload_len INT, network STRING, station STRING, proc STRING")

  private def readBlobs(spark: SparkSession, dbDir: String): DataFrame =
    spark.read.schema(BlobSchema).parquet(dbDir)

  /** Shared SGT/DGF sink: encode each point's gathered series into one blob
    * row and write the [[BlobSchema]] layout to `outDir`. Returns the
    * written row count. */
  private def sinkBlobs(spark: SparkSession, gathered: Dataset[SeisSample], outDir: String,
      network: String, station: String, procIdx: Int, bits: Int): Long = {
    import spark.implicits._
    gathered.groupByKey(_.gll)
      .agg(new graft.functions.SeriesEncoderAgg(bits).toColumn.name("enc"))
      .toDF("gll", "enc")
      .select(col("gll"), col("enc.n").as("n"), col("enc.offset").as("offset"),
        col("enc.scale").as("scale"), col("enc.payload").as("payload"),
        col("enc.bits").as("bits"), // _encoding_level: readers must dequantize at the written width
        length(col("enc.payload")).as("payload_len"),
        lit(network).as("network"), lit(station).as("station"),
        lit(procName(procIdx)).as("proc"))
      .write.mode("overwrite")
      .partitionBy("network", "station", "proc")
      .parquet(outDir)
    readBlobs(spark, outDir).count()
  }

  /** Header-attr sidecar — the reference's HDF5 header attrs
    * (`DSGT.py:179-194`, `DDGF.py:172-188`) as a one-row parquet under
    * `outDir/_meta`; the underscore prefix keeps it invisible to a plain
    * `spark.read.parquet(outDir)` of the blob table. start/length/offset/
    * scale datasets are parquet-managed (they ride with each blob row).
    * `bits` is the written `_encoding_level`, `dt` the solver timestep
    * (`DSGT.py:190` — what turns `step × dt` into a timestamp), and
    * step0/dstep pin the retained step grid so a reader can map a blob's
    * i-th sample back to an absolute solver step. */
  private def writeDbMeta(spark: SparkSession, fixtureDir: String, outDir: String,
      dbType: String, forder: String, nGll: Long, nForce: Int, nParas: Int,
      kind: String, withGlobal: Boolean, bits: Int, dt: Double): Unit = {
    import spark.implicits._
    val steps = listSnapshots(spark, fixtureDir, kind)
      .select(col("step")).distinct().orderBy(col("step"))
      .as[Int].collect() // bounded: one value per retained snapshot step
    val nStep = steps.length.toLong
    val step0 = steps.headOption.getOrElse(0).toLong
    val dstep = if (steps.length > 1) (steps(1) - steps(0)).toLong else 1L
    val mesh = readIbool(spark, fixtureDir)
      .agg(max(col("spec")).as("max_spec"), max(col("gll")).as("max_gll")).head()
    val nSpec = mesh.getAs[Int]("max_spec") + 1L
    val nGllGlobal = if (withGlobal) mesh.getAs[Long]("max_gll") + 1L else -1L
    Seq((dbType, forder, nGll, nStep, nForce.toLong, nParas.toLong, nSpec,
      nGllGlobal, bits.toLong, dt, step0, dstep, "0.1.0"))
      .toDF("db_type", "forder", "ngll", "nstep", "nforce", "nparas", "nspec",
        "ngll_global", "bits", "dt", "step0", "dstep", "version")
      .coalesce(1).write.mode("overwrite").parquet(outDir + "/_meta")
  }

  /** Typed view of the `_meta` sidecar (the R23 header read path). */
  case class DbMeta(dbType: String, forder: String, nGll: Long, nStep: Long,
      nForce: Long, nParas: Long, nSpec: Long, nGllGlobal: Long,
      bits: Long, dt: Double, step0: Long, dstep: Long, version: String)

  /** Read on the driver ([[Sidecar]]): no Spark job. */
  def readDbMeta(spark: SparkSession, dbDir: String): DbMeta = {
    val r = Sidecar.rows(spark, dbDir + "/_meta").head
    def long(f: String) = r.getLong(f, 0)
    DbMeta(r.getString("db_type", 0), r.getString("forder", 0),
      long("ngll"), long("nstep"), long("nforce"), long("nparas"), long("nspec"),
      long("ngll_global"), long("bits"), r.getDouble("dt", 0), long("step0"),
      long("dstep"), r.getString("version", 0))
  }

  /** R24 as a first-class consumer API: read a built database back to long
    * form, dequantizing each blob at ITS OWN stored width (`bits` rides with
    * every row; `DSGT.py:149-152`'s uint8/uint16 branch on the read side).
    * Emits one row per sample with the series position decomposed back to
    * (major, minor, step) via the `_meta` geometry, the absolute solver step
    * (`step0 + idx·dstep`), and the derived time `t_sec = step × dt` — the
    * reference's reason for storing `dt` at all. For an SGT db major=force,
    * minor=param; for a DGF db major=comp, minor=force (`DDGF.py:128-132`).
    * Scale shape: one task per blob row group, no shuffle — decode is a
    * scan-parallel map. Building the DataFrame runs no Spark job: `_meta`
    * is read on the driver ([[readDbMeta]]) and the blob table opens with
    * its declared [[BlobSchema]], so the only work before the query plans
    * is the file listing. */
  def readSeisDb(spark: SparkSession, dbDir: String,
      where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val meta = readDbMeta(spark, dbDir)
    // SGT nests (force, param, step); DGF nests (comp, force, step) — the
    // minor axis is params for SGT, forces for DGF
    val nMinor =
      if (meta.dbType == "DGF") meta.nForce.toInt else meta.nParas.toInt
    val nStep = meta.nStep.toInt
    val (step0, dstep, dt) = (meta.step0, meta.dstep, meta.dt)
    val scan = readBlobs(spark, dbDir)
    // the predicate sits directly on the scan, BEFORE the decode flatMap,
    // so Catalyst pushes it into the parquet reader (PushedFilters +
    // row-group stats): a point query reads the row group holding that
    // blob, not the database
    where.fold(scan)(scan.where)
      .select(col("gll"), col("n"), col("offset"), col("scale"),
        col("payload"), col("bits"))
      .as[(Long, Int, Double, Double, Array[Byte], Int)]
      .flatMap { case (gll, n, off, sc, payload, bits) =>
        val vals = Codec.dequantize(Codec.inflate(payload), bits, off, sc)
        require(vals.length == n,
          s"blob gll=$gll decoded ${vals.length} samples, header says $n")
        vals.iterator.zipWithIndex.map { case (v, i) =>
          val major = i / (nMinor * nStep)
          val minor = (i / nStep) % nMinor
          val stepIdx = i % nStep
          val step = step0 + stepIdx * dstep
          (gll, major, minor, step, step * dt, v)
        }
      }
      .toDF("gll", "major", "minor", "step", "t_sec", "value")
  }

  /** SGT-named columns over [[readSeisDb]] (forder=NEZ: major is force). */
  def readSgtDb(spark: SparkSession, dbDir: String): DataFrame =
    readSeisDb(spark, dbDir)
      .withColumnRenamed("major", "force").withColumnRenamed("minor", "param")

  /** DGF-named columns over [[readSeisDb]] (comp-major then force,
    * `DDGF.py:128-132`). */
  def readDgfDb(spark: SparkSession, dbDir: String): DataFrame =
    readSeisDb(spark, dbDir)
      .withColumnRenamed("major", "comp").withColumnRenamed("minor", "force")

  /** Point read — the seisgen-style consumer entry: decode exactly ONE GLL
    * point's series (the read pattern the reference's whole offset/length
    * bookkeeping existed to serve). The gll equality predicate is pushed
    * into the parquet scan, so the query touches the row group holding
    * that blob; with the database written `partitionBy(network, station,
    * proc)` and row-group stats on `gll`, a point read is O(one blob) at
    * any database size. Like every [[readSeisDb]] form it builds with no
    * Spark job, so the read's one job is the blob scan itself. */
  def readSgtPoint(spark: SparkSession, dbDir: String, gll: Long): DataFrame =
    readSeisDb(spark, dbDir, Some(col("gll") === gll))
      .withColumnRenamed("major", "force").withColumnRenamed("minor", "param")

  /** DGF twin of [[readSgtPoint]] — same pushed-down one-blob read, DGF
    * axis naming (comp-major then force, `DDGF.py:128-132`). */
  def readDgfPoint(spark: SparkSession, dbDir: String, gll: Long): DataFrame =
    readSeisDb(spark, dbDir, Some(col("gll") === gll))
      .withColumnRenamed("major", "comp").withColumnRenamed("minor", "force")

  /** E2 as a *database build* (the `DDGFdb.create_db` equivalent,
    * `DDGF.py:100-190`): per-point encoded displacement blobs (comp-major,
    * then force — `DDGF.py:128-132`) sunk hive-partitioned by
    * (network, station, proc), plus the `_meta` sidecar carrying
    * `nGLL_global` and force order `'ENZ'` (`DDGF.py:185-187` — the two
    * attrs that distinguish a DGF header from an SGT one). */
  def createDgfDb(spark: SparkSession, fixtureDir: String, outDir: String,
      network: String, station: String, procIdx: Int = 0,
      bits: Int = 8, dt: Double = SeisFixture.Dt): Long = {
    import spark.implicits._
    val names = broadcast(subsampledIndex(spark, fixtureDir).select("gll").distinct())
    val gathered = readDisp(spark, fixtureDir)
      .join(names, Seq("gll"))
      .select(col("gll"), col("force"), col("comp").as("param"), col("step"), col("value"))
      .as[SeisSample]
      .map(s => s.copy(force = s.param, param = s.force)) // comp-major, then force
    val written = sinkBlobs(spark, gathered, outDir, network, station, procIdx, bits)
    writeDbMeta(spark, fixtureDir, outDir, dbType = "DGF", forder = "ENZ",
      nGll = written, nForce = 3, nParas = 3, kind = "disp", withGlobal = true,
      bits = bits, dt = dt)
    written
  }

  /** E2 — DGF build over displacement snapshots: gather by global gll id
    * (semi-join against the subsample names), (comp, force)-major order
    * (`DDGF.py:128-132` — comp becomes `param`, force stays `force`). */
  def dgfPipeline(spark: SparkSession, fixtureDir: String): DataFrame = {
    import spark.implicits._
    val names = broadcast(subsampledIndex(spark, fixtureDir).select("gll").distinct())
    val disp = readDisp(spark, fixtureDir)
    val gathered = disp.join(names, Seq("gll"))
      .select(col("gll"), col("force"), col("comp").as("param"), col("step"), col("value"))
      .as[SeisSample]
      .map(s => s.copy(force = s.param, param = s.force)) // comp-major, then force
    gathered.groupByKey(_.gll)
      .agg(SeriesEncodeStats.toColumn.name("enc"))
      .toDF("gll", "enc")
      // zlib-free hashed contract, like [[sgtPipeline]] (r10 verdict #2)
      .select(col("gll"), col("enc.n").as("n"),
        round(col("enc.offset"), 12).as("offset_r"),
        round(col("enc.scale"), 12).as("scale_r"),
        round(col("enc.maxErr"), 12).as("max_err_r"),
        (col("enc.maxErr") <= col("enc.scale") / 255.0 + lit(1e-12)).as("within_bound"))
      .orderBy(col("gll"))
  }
}
