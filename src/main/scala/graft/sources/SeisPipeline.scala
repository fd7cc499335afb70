package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Codec

/** Spark-native rebuild of the reference's SGT/DGF database pipelines
  * (SURVEY.md §3 E1/E2, `/root/reference/seisdb/DSGT.py:40-196`,
  * `DDGF.py:40-190`) over the synthetic fixture (FIXTURES.md §B).
  *
  * Shape of a build (the reference's imperative loops → one DataFrame plan),
  * for one slice (`procIdx`):
  *   - the slice's ibool file is read in one task, which applies the 27-point
  *     subsample and the monotone first-occurrence dedup and returns the
  *     kept points to the driver;
  *   - the DSv2 snapshot source ([[StrainDataSource]] / [[DispDataSource]],
  *     one task per force×step file) emits one row per (force, step, point)
  *     with the point's components as columns, and a broadcast join against
  *     the kept points drops the rest inside the scan stage;
  *   - `repartition(gll)` + `sortWithinPartitions(gll, force, step)` bring
  *     each point's rows together in series order, and a streaming
  *     `mapPartitions` lays each gll's run into one series and encodes it.
  * The shuffle is where the reference materializes its dense RAM buffer
  * (`DSGT.py:88`), with spill instead of its "minimum RAM" failure mode; a
  * task holds one series at a time.
  */
object SeisPipeline {

  /** ibool scan (R4) of slice `procIdx`: Fortran record → long-form
    * (spec, igll, gll), 1-based shifted to 0-based (`ibool_reader.py:27-31`). */
  def readIbool(spark: SparkSession, dir: String, procIdx: Int = 0): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/${procName(procIdx)}_ibool.bin")
      .select("content").as[Array[Byte]]
      .flatMap { bytes =>
        val ids = Fortran.intsLE(Fortran.readRecords(bytes).head)
        ids.zipWithIndex.iterator.map { case (gll1, i) =>
          (i / SeisFixture.NGLL_LOCAL, i % SeisFixture.NGLL_LOCAL, (gll1 - 1).toLong)
        }
      }
      .toDF("spec", "igll", "gll")
  }

  /** One slice's kept mesh points, as parallel arrays in the reference's
    * scan order, plus the header facts the same scan yields: the element
    * count and the global GLL count (the largest 1-based id). */
  case class SliceIndex(spec: Array[Int], igll: Array[Int], gll: Array[Long],
      nSpec: Long, nGllGlobal: Long)

  object SliceIndex {
    /** 27-point spatial subsample + the reference's monotone
      * first-occurrence dedup over a slice's 1-based ibool ids, in its exact
      * scan order: spec-major, then position within CONSTANT_INDEX_27_GLL
      * (`ibool_reader.py:145-173`). A point is kept when its 0-based gll
      * exceeds every gll seen before it. */
    def of(ids: Array[Int]): SliceIndex = {
      import SeisFixture.NGLL_LOCAL
      require(ids.length % NGLL_LOCAL == 0,
        s"ibool holds ${ids.length} ids, not a whole number of $NGLL_LOCAL-point elements")
      val (spec, igll, gll) = (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Long])
      var max = Long.MinValue
      for (s <- 0 until ids.length / NGLL_LOCAL; p <- SeisFixture.Index27) {
        val g = ids(s * NGLL_LOCAL + p) - 1L
        if (g > max) { max = g; spec += s; igll += p; gll += g }
      }
      SliceIndex(spec.result(), igll.result(), gll.result(),
        ids.length / NGLL_LOCAL, if (ids.isEmpty) 0L else ids.max.toLong)
    }
  }

  /** The slice's ibool file, scanned in one task into its [[SliceIndex]]. */
  private def scanIndex(spark: SparkSession, dir: String, procIdx: Int): Dataset[SliceIndex] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(s"$dir/${procName(procIdx)}_ibool.bin")
      .select("content").as[Array[Byte]]
      .map(bytes => SliceIndex.of(Fortran.intsLE(Fortran.readRecords(bytes).head)))
  }

  /** The kept points of slice `procIdx` as (spec, igll, gll) rows, in one
    * task: no shuffle, no persist, no collect ([[SliceIndex.of]]). */
  def subsampledIndex(spark: SparkSession, dir: String, procIdx: Int = 0): DataFrame = {
    import spark.implicits._
    scanIndex(spark, dir, procIdx)
      .flatMap(ix => ix.gll.indices.map(i => (ix.spec(i), ix.igll(i), ix.gll(i))))
      .toDF("spec", "igll", "gll")
  }

  /** Strain snapshot scan + tensor reconstruction (R1/R14) in long form:
    * (force, step, param, spec, igll, value), one row per sample — a view
    * over [[StrainDataSource]]'s point rows, with param the component's
    * position in (xx, yy, zz, xy, xz, yz) (`strainfield_reader.py:48-59`). */
  def readStrain(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("strain").option("path", dir).load()
      .select(col("force"), col("step"),
        posexplode(array(StrainDataSource.Components.map(col): _*)).as(Seq("param", "value")),
        col("spec"), col("igll"))
      .select("force", "step", "param", "spec", "igll", "value")

  /** Displacement snapshot scan (R13) in long form: (force, step, comp, gll,
    * value), one row per sample — a view over [[DispDataSource]]'s point
    * rows, which prunes files by stride and force at planning time like the
    * strain source. */
  def readDisp(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("disp").option("path", dir).load()
      .select(col("force"), col("step"),
        posexplode(array(DispDataSource.Components.map(col): _*)).as(Seq("comp", "value")),
        col("gll"))
      .select("force", "step", "comp", "gll", "value")

  /** What the SGT and DGF builds differ in: the snapshot source and its
    * per-point components, the keys that gather its rows against the kept
    * points, and how a series nests the axes — SGT (force, param, step),
    * DGF comp-major (comp, force, step) (`DSGT.py:131-135`,
    * `DDGF.py:128-132`). */
  private case class Layout(source: String, comps: Seq[String], keys: Seq[String],
      compMajor: Boolean, files: String => Seq[String], parse: String => Option[(String, Int)])

  private val Sgt = Layout("strain", StrainDataSource.Components, Seq("spec", "igll"),
    compMajor = false, StrainDataSource.listFiles, StrainDataSource.parse)
  private val Dgf = Layout("disp", DispDataSource.Components, Seq("gll"),
    compMajor = true, DispDataSource.listFiles, DispDataSource.parse)

  /** The shared gather and encode path of every SGT/DGF build: scans slice
    * `procIdx`'s index, lists its snapshot steps on the driver, gathers the
    * kept points' snapshot rows against the broadcast index and hands each
    * point's complete series, in the layout's order, to `f`. Returns the
    * index, the ascending steps and `f`'s rows (one per kept point, lazy).
    * A point missing any (force, step) snapshot fails its task. */
  private def encodePoints[T: Encoder](spark: SparkSession, dir: String, procIdx: Int,
      layout: Layout)(f: (Long, Array[Double]) => T): (SliceIndex, Seq[Int], Dataset[T]) = {
    import spark.implicits._
    val index = scanIndex(spark, dir, procIdx).head()
    val proc = procName(procIdx)
    val files = StrainDataSource.Pruning(None, None, 1, None, Some(proc))
      .prune(layout.files(dir), layout.parse)
    val steps = files.flatMap(layout.parse).map(_._2).distinct.sorted
    require(steps.nonEmpty, s"no ${layout.source} snapshots of $proc under $dir")
    val kept = index.gll.indices.map(i => (index.spec(i), index.igll(i), index.gll(i)))
      .toDF("spec", "igll", "gll")
      .select((layout.keys :+ "gll").distinct.map(col): _*)
    val nComp = layout.comps.length
    val nForce = SeisFixture.Forces.length
    val nStep = steps.length
    val compMajor = layout.compMajor
    val encoded = spark.read.format(layout.source).option("path", dir).option("proc", proc).load()
      .join(broadcast(kept), layout.keys)
      .select((Seq("gll", "force", "step") ++ layout.comps).map(col): _*)
      .repartition(col("gll"))
      .sortWithinPartitions("gll", "force", "step")
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
          val gll = it.head.getLong(0)
          val series = new Array[Double](nForce * nComp * nStep)
          var (n, force, k) = (0, -1, 0)
          while (it.hasNext && it.head.getLong(0) == gll) {
            val r = it.next()
            if (r.getInt(1) != force) { force = r.getInt(1); k = 0 }
            require(k < nStep, s"point $gll: more than $nStep steps for force $force")
            var c = 0
            while (c < nComp) {
              val axis = if (compMajor) c * nForce + force else force * nComp + c
              series(axis * nStep + k) = r.getDouble(3 + c)
              c += 1
            }
            k += 1
            n += 1
          }
          require(n == nForce * nStep,
            s"point $gll: $n of ${nForce * nStep} (force, step) snapshots")
          f(gll, series)
        }
      }
    (index, steps, encoded)
  }

  /** E1/E2 as decode-verify stats at the default 8-bit level: per kept
    * point (gll, n, offset_r, scale_r, max_err_r, within_bound). The hashed
    * contract is zlib-FREE (r10 verdict #2): offset/scale and the decoded
    * round-trip error are deterministic quantize arithmetic the oracle
    * replays; payload bytes stay an implementation detail, but maxErr is
    * computed from the inflated payload, so a mangled byte stream would
    * blow it. */
  private def pipelineStats(spark: SparkSession, fixtureDir: String, layout: Layout): DataFrame = {
    import spark.implicits._
    val (_, _, stats) = encodePoints(spark, fixtureDir, 0, layout) { (gll, vals) =>
      val blob = Codec.encodeSeries(vals)
      (gll, blob.n, blob.offset, blob.scale, Codec.roundTripError(vals, blob))
    }
    stats.toDF("gll", "n", "offset", "scale", "max_err")
      .select(col("gll"), col("n"),
        round(col("offset"), 12).as("offset_r"),
        round(col("scale"), 12).as("scale_r"),
        round(col("max_err"), 12).as("max_err_r"),
        (col("max_err") <= col("scale") / 255.0 + lit(1e-12)).as("within_bound"))
      .orderBy(col("gll"))
  }

  /** E1 — full SGT build on the fixture's slice 0, reported as
    * decode-verify stats per retained GLL point. */
  def sgtPipeline(spark: SparkSession, fixtureDir: String): DataFrame =
    pipelineStats(spark, fixtureDir, Sgt)

  /** E2 — DGF build over displacement snapshots: gather by global gll id,
    * comp-major (comp, force, step) series (`DDGF.py:128-132`), reported as
    * decode-verify stats like [[sgtPipeline]]. */
  def dgfPipeline(spark: SparkSession, fixtureDir: String): DataFrame =
    pipelineStats(spark, fixtureDir, Dgf)

  /** R10 (`DWidgets.py:9-11`): zero-padded processor partition name. */
  def procName(idx: Int): String = f"proc$idx%06d"

  /** R5/R6 + E3 (`ibool_reader.py:37-111` `DEnquire_Element`): point-lookup
    * of one element's GLL ids — the read-path entry a consumer uses to
    * locate blobs. 27-variant emits the reference's exact (i,j,k)→(k,j,i)
    * transposed order (`ibool_reader.py:81-86`); out-of-range element →
    * zeros, matching the reference's quirk (`:52,73`). Runs as a point
    * filter on slice `procIdx`'s ibool scan — at scale this is a
    * partition-pruned lookup, not a full scan (the ibool table would be
    * bucketed by spec). */
  def elementLookup(spark: SparkSession, dir: String, indexElement: Int,
      use27: Boolean, procIdx: Int = 0): DataFrame = {
    import spark.implicits._
    val rows = readIbool(spark, dir, procIdx)
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
    * the tiny listing DF. The listing is the snapshot source's own
    * (`kind` "strain_field" or "disp"), made on the driver. Errors if empty,
    * like the reference. */
  def validSteps(spark: SparkSession, dir: String, step0: Int, step1: Int,
      dstep: Int, kind: String = "strain_field"): DataFrame = {
    import spark.implicits._
    val layout = Map("strain_field" -> Sgt, "disp" -> Dgf)(kind)
    val complete = layout.files(dir).flatMap(layout.parse).toDF("force", "step")
      .groupBy(col("step"))
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
    * `DSGT.py:40-196`) of slice `procIdx`: encode per-point blobs + stats
    * and sink them hive-partitioned by (network, station, proc) — the
    * reference's directory layout R11 (`DDBbase.py:38-48`) — as parquet with
    * the blob as a binary column. Parquet replaces the hand-rolled
    * offset/HDF5 bookkeeping (stats ride with the payload). Returns the
    * written row count. */
  def createSgtDb(spark: SparkSession, fixtureDir: String, outDir: String,
      network: String, station: String, procIdx: Int = 0,
      bits: Int = 8, dt: Double = SeisFixture.Dt): Long =
    createDb(spark, fixtureDir, outDir, network, station, procIdx, bits, dt, Sgt,
      dbType = "SGT", forder = "NEZ", nParas = 6,
      withGlobal = false) // DSGT.py:179-194 attrs (no nGLL_global for SGT)

  /** E2 as a *database build* (the `DDGFdb.create_db` equivalent,
    * `DDGF.py:100-190`) of slice `procIdx`: per-point encoded displacement
    * blobs (comp-major, then force — `DDGF.py:128-132`) sunk
    * hive-partitioned by (network, station, proc), plus the `_meta` sidecar
    * carrying `nGLL_global` and force order `'ENZ'` (`DDGF.py:185-187` — the
    * two attrs that distinguish a DGF header from an SGT one). */
  def createDgfDb(spark: SparkSession, fixtureDir: String, outDir: String,
      network: String, station: String, procIdx: Int = 0,
      bits: Int = 8, dt: Double = SeisFixture.Dt): Long =
    createDb(spark, fixtureDir, outDir, network, station, procIdx, bits, dt, Dgf,
      dbType = "DGF", forder = "ENZ", nParas = 3, withGlobal = true)

  /** The blob table's layout, as [[createDb]] writes it: one row per GLL
    * point, hive-partitioned by (network, station, proc). Readers pass it to
    * `spark.read.schema`, so opening a database lists its files but runs no
    * schema-inference job. */
  val BlobSchema: StructType = StructType.fromDDL(
    "gll BIGINT, n INT, offset DOUBLE, scale DOUBLE, payload BINARY, bits INT, " +
      "payload_len INT, network STRING, station STRING, proc STRING")

  private def readBlobs(spark: SparkSession, dbDir: String): DataFrame =
    spark.read.schema(BlobSchema).parquet(dbDir)

  /** Shared SGT/DGF sink: encode each kept point's series into one
    * [[BlobSchema]] row, write the table and its `_meta` header. Every
    * header fact comes from the build itself: the step grid from the
    * slice's snapshot listing, nSpec and nGLL_global from the index scan,
    * and the row count from the kept points (the encoder fails a point
    * whose series is incomplete). Returns that count. */
  private def createDb(spark: SparkSession, dir: String, outDir: String,
      network: String, station: String, procIdx: Int, bits: Int, dt: Double,
      layout: Layout, dbType: String, forder: String, nParas: Int,
      withGlobal: Boolean): Long = {
    // rows carry BlobSchema's own nullable types, so the parquet columns are
    // optional as the layout declares, not required as tuple fields would be
    implicit val rowEnc: Encoder[Row] = Encoders.row(StructType(BlobSchema.take(6)))
    val (index, steps, blobs) = encodePoints(spark, dir, procIdx, layout) { (gll, vals) =>
      val b = Codec.encodeSeries(vals, bits)
      // bits is the _encoding_level: readers must dequantize at the written width
      Row(gll, b.n, b.offset, b.scale, b.payload, b.bits)
    }
    blobs.withColumn("payload_len", length(col("payload")))
      .withColumn("network", lit(network)).withColumn("station", lit(station))
      .withColumn("proc", lit(procName(procIdx)))
      .write.mode("overwrite")
      .partitionBy("network", "station", "proc")
      .parquet(outDir)
    val nGll = index.gll.length.toLong
    writeDbMeta(spark, outDir, DbMeta(dbType, forder, nGll, steps.length.toLong,
      SeisFixture.Forces.length.toLong, nParas.toLong, index.nSpec,
      if (withGlobal) index.nGllGlobal else -1L, bits.toLong, dt,
      steps.headOption.getOrElse(0).toLong,
      if (steps.length > 1) (steps(1) - steps(0)).toLong else 1L, "0.1.0"))
    nGll
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
  private def writeDbMeta(spark: SparkSession, outDir: String, meta: DbMeta): Unit = {
    import spark.implicits._
    Seq(meta).toDF("db_type", "forder", "ngll", "nstep", "nforce", "nparas", "nspec",
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
    // row-group stats): a point query decodes its one blob, not the database
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
    * into the parquet scan, so only the matching blob is decoded. The scan
    * itself is not O(one blob): the build hash-partitions blobs by gll, so
    * every file of a (network, station, proc) partition spans nearly its
    * whole gll range, row-group statistics rarely skip one, and a point
    * read opens every file of the partition. Like every [[readSeisDb]] form
    * it builds with no Spark job, so the read's one job is the blob scan
    * itself. */
  def readSgtPoint(spark: SparkSession, dbDir: String, gll: Long): DataFrame =
    readSeisDb(spark, dbDir, Some(col("gll") === gll))
      .withColumnRenamed("major", "force").withColumnRenamed("minor", "param")

  /** DGF twin of [[readSgtPoint]] — same pushed-down one-blob read, DGF
    * axis naming (comp-major then force, `DDGF.py:128-132`). */
  def readDgfPoint(spark: SparkSession, dbDir: String, gll: Long): DataFrame =
    readSeisDb(spark, dbDir, Some(col("gll") === gll))
      .withColumnRenamed("major", "comp").withColumnRenamed("minor", "force")
}
