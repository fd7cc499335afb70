package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for SPECFEM strain snapshots: one input partition per
  * snapshot file — the dataset's natural parallelism axis (one file per MPI
  * slice × force × step), so a 1000-executor cluster reads 1000 files
  * concurrently with zero coordination.
  *
  * Usage: `spark.read.format("strain").option("path", dir).load()` (the
  * `DataSourceRegister` short name; the FQCN works too) → one row per
  * (force, step, local point): (force INT, step INT, spec INT, igll INT,
  * xx, yy, zz, xy, xz, yz DOUBLE), the six components of the R14 tensor
  * reconstruction applied inline during the scan. A row per point, not per
  * sample, is what the SGT build gathers and shuffles; the long-form
  * per-sample view is [[SeisPipeline.readStrain]]. The writer takes the
  * same rows.
  *
  * File-level pruning options — the reference's biggest data reducer is its
  * temporal stride (`DDBbase.py:55-84`, typically 1:50), and at scale that
  * MUST prune files at planning time, not rows after the scan:
  *   - `step0`/`step1` (inclusive/exclusive) + `dstep`: keep only snapshot
  *     files whose step is in the strided range;
  *   - `forces`: comma-separated subset of N,E,Z directories to read;
  *   - `proc`: one slice's files (`proc000000_…`), the name the writer
  *     writes under. SPECFEM writes every slice into one directory, and
  *     local point ids (spec, igll) are only unique within a slice.
  * Pruned files never become input partitions, so a 1:50 stride plans 1/50th
  * of the tasks and reads 1/50th of the bytes. Row-level filters after the
  * scan stay Catalyst's job. Record-marker validation lives in
  * [[Fortran.readRecords]].
  */
class StrainDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "strain"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StrainDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StrainTable(properties.get("path"))
}

object StrainDataSource {
  /** The six tensor components in the reference's param order
    * (`strainfield_reader.py:57-59`). */
  val Components: Seq[String] = Seq("xx", "yy", "zz", "xy", "xz", "yz")

  val schema: StructType = StructType(Seq(
    StructField("force", IntegerType, nullable = false),
    StructField("step", IntegerType, nullable = false),
    StructField("spec", IntegerType, nullable = false),
    StructField("igll", IntegerType, nullable = false)) ++
    Components.map(StructField(_, DoubleType, nullable = false)))

  private[sources] val pathPattern =
    ".*force_([NEZ])/.*_strain_field_Step_(\\d+)\\.bin$".r

  def listFiles(dir: String): Seq[String] = listMatching(dir, pathPattern)

  private[sources] def listMatching(dir: String,
      pat: scala.util.matching.Regex): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .map(_.getPath)
      .filter(p => pat.findFirstIn(p).isDefined)
  }

  private[sources] def parse(path: String): Option[(String, Int)] = path match {
    case pathPattern(force, stepStr) => Some((force, stepStr.toInt))
    case _ => None
  }

  /** Planning-time file pruning from read options (stride, force subset,
    * slice).
    * The stride anchors at `step0` when given, else at the SMALLEST step
    * actually present in the (range/force-filtered) listing — anchoring a
    * bare `dstep` at 0 would silently drop every file whose steps don't
    * happen to be multiples of the stride. */
  private[sources] case class Pruning(step0: Option[Int], step1: Option[Int],
      dstep: Int, forces: Option[Set[String]], proc: Option[String]) {
    def keepsRange(force: String, step: Int): Boolean =
      forces.forall(_.contains(force)) &&
        step0.forall(step >= _) &&
        step1.forall(step < _)

    def keepsProc(path: String): Boolean =
      proc.forall(p => new java.io.File(path).getName.startsWith(p + "_"))

    /** Full filter over a listing: slice/range/force filter, then stride
      * from the anchor. `parsePath` extracts (force, step) — defaults to the strain
      * naming; the displacement source passes its own pattern. */
    def prune(paths: Seq[String],
        parsePath: String => Option[(String, Int)] = parse): Seq[String] = {
      val inRange = paths.filter(keepsProc).flatMap(p => parsePath(p).collect {
        case (force, step) if keepsRange(force, step) => (p, step)
      })
      val anchor = step0.orElse(inRange.map(_._2).minOption).getOrElse(0)
      inRange.collect { case (p, step) if (step - anchor) % dstep == 0 => p }
    }
  }

  private[sources] def pruningFrom(options: CaseInsensitiveStringMap): Pruning = {
    val dstep = Option(options.get("dstep")).map(_.toInt).getOrElse(1)
    require(dstep >= 1, s"option 'dstep' must be a positive stride, got $dstep")
    Pruning(
      Option(options.get("step0")).map(_.toInt),
      Option(options.get("step1")).map(_.toInt),
      dstep,
      Option(options.get("forces")).map(_.split(",").map(_.trim).toSet),
      Option(options.get("proc")))
  }
}

class StrainTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null, "option 'path' is required")
  override def name(): String = s"strain($path)"
  override def schema(): StructType = StrainDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava

  /** Write path: point rows → Fortran snapshot files (the exact inverse of
    * the read path's R14 reconstruction — xx/yy/zz are re-encoded as trace +
    * deviatoric records). The write declares a clustered
    * distribution on (force, step) — each snapshot file's content lands in
    * exactly one task — AND an ordering on (force, step), so a task
    * receives its snapshots as contiguous runs and the writer holds ONE
    * snapshot's working set at a time (not every snapshot routed to the
    * task). File = unit of work on both paths, memory = one snapshot. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val proc = Option(info.options.get("proc")).getOrElse(SeisFixture.Proc)
    new WriteBuilder {
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          Distributions.clustered(Array(
            Expressions.identity("force"), Expressions.identity("step")))
        override def requiredOrdering(): Array[SortOrder] = Array(
          Expressions.sort(Expressions.identity("force"),
            SortDirection.ASCENDING),
          Expressions.sort(Expressions.identity("step"),
            SortDirection.ASCENDING))
        override def toBatch: BatchWrite = new StrainBatchWrite(path, proc)
      }
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val pruning = StrainDataSource.pruningFrom(options)
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = StrainDataSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        pruning.prune(StrainDataSource.listFiles(path))
          .map(StrainFilePartition(_): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new StrainReaderFactory
    }
  }
}

case class StrainFilePartition(file: String) extends InputPartition

class StrainReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new StrainPartitionReader(partition.asInstanceOf[StrainFilePartition].file)
}

/** Streams one snapshot file as one row per local GLL point: its six
  * reconstructed tensor components (xx, yy, zz, xy, xz, yz —
  * `strainfield_reader.py:57-59`), each float32 widened to double. */
class StrainPartitionReader(file: String) extends PartitionReader[InternalRow] {
  private val pat = StrainDataSource.pathPattern
  private val pat(forceName, stepStr) = file
  private val force = SeisFixture.Forces.indexOf(forceName)
  private val step = stepStr.toInt
  private val recs = Fortran.readRecords(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
    .map(Fortran.floatsLE)
  require(recs.length == 6, s"expected 6 strain records in $file, got ${recs.length}")
  private val Seq(tr, xxD, yyD, xy, xz, yz) = recs
  require(recs.forall(_.length == tr.length), s"strain records of unequal length in $file")

  private var pt = -1

  override def next(): Boolean = { pt += 1; pt < tr.length }

  override def get(): InternalRow = {
    val xx = xxD(pt) + tr(pt) / 3f
    val yy = yyD(pt) + tr(pt) / 3f
    new GenericInternalRow(Array[Any](force, step,
      pt / SeisFixture.NGLL_LOCAL, pt % SeisFixture.NGLL_LOCAL,
      xx.toDouble, yy.toDouble, (tr(pt) - xx - yy).toDouble,
      xy(pt).toDouble, xz(pt).toDouble, yz(pt).toDouble))
  }

  override def close(): Unit = ()
}

/** Job-level two-phase commit: tasks write `.inprogress-<task>` temp files
  * and report (tmp, final) pairs; only the driver's job commit renames them
  * into place, and abort deletes the temps. A failed or speculative task
  * attempt therefore never leaves a partial snapshot where a reader could
  * scan it. (Requires the destination to be a shared filesystem, the same
  * contract as any file sink; object stores would swap rename for a
  * copy+manifest commit.) */
class StrainBatchWrite(path: String, proc: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new StrainWriterFactory(path, proc)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case StrainWriteCommit(files) => files.foreach { case (tmp, dst) =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(dst),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      case _ => ()
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case StrainWriteCommit(files) => files.foreach { case (tmp, _) =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
      }
      case _ => ()
    }
}

class StrainWriterFactory(path: String, proc: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new StrainDataWriter(path, proc, s"$partitionId-$taskId")
}

/** (tmp, final) path pairs — renamed into place only at job commit. */
case class StrainWriteCommit(files: Seq[(String, String)]) extends WriterCommitMessage

/** One task writes the complete snapshot files for the (force, step) groups
  * routed to it. The write's required ordering delivers each group as a
  * contiguous run, so only ONE snapshot's working set is buffered at a time
  * (a few MB, same as the read path's per-file record set) — a group flushes
  * to its temp file the moment the key changes. Each flush re-encodes to the
  * reference's six deviatoric records (`strainfield_reader.py:48-59`
  * inverted: tr = xx+yy+zz, xx_dev = xx − tr/3, yy_dev = yy − tr/3;
  * xy/xz/yz pass through). An incomplete snapshot (a point missing — e.g.
  * someone writes a filtered subset) fails loudly with the offending
  * (force, step, point) rather than corrupting a file. */
class StrainDataWriter(path: String, proc: String, attemptTag: String)
    extends DataWriter[InternalRow] {
  import scala.collection.mutable
  private var curKey: (Int, Int) = null
  // local point -> its six components, for the CURRENT (force, step) group only
  private val points = mutable.Map.empty[Int, Array[Float]]
  private val written = mutable.Buffer.empty[(String, String)]

  override def write(row: InternalRow): Unit = {
    val key = (row.getInt(0), row.getInt(1))
    if (curKey != null && key != curKey) flushGroup()
    curKey = key
    points(row.getInt(2) * SeisFixture.NGLL_LOCAL + row.getInt(3)) =
      Array.tabulate(6)(c => row.getDouble(4 + c).toFloat)
  }

  private def flushGroup(): Unit = {
    val (force, step) = curKey
    val nPoints = points.keysIterator.max + 1
    val comps = Array.tabulate(nPoints)(pt => points.getOrElse(pt,
      throw new IllegalStateException(
        s"incomplete snapshot (force=$force, step=$step): missing point $pt of $nPoints")))
    val recs = (0 until 6).map { r =>
      Fortran.bytesOfFloats(comps.map { c =>
        val tr = c(0) + c(1) + c(2)
        r match {
          case 0 => tr
          case 1 => c(0) - tr / 3f
          case 2 => c(1) - tr / 3f
          case _ => c(r) // records 3..5 = components 3..5 (xy, xz, yz)
        }
      })
    }
    val f = new java.io.File(path,
      s"force_${SeisFixture.Forces(force)}/${proc}_strain_field_Step_$step.bin")
    val tmp = new java.io.File(f.getParentFile, s".${f.getName}.inprogress-$attemptTag")
    Fortran.writeRecordFile(tmp, recs)
    written += ((tmp.getPath, f.getPath))
    points.clear()
    curKey = null
  }

  override def commit(): WriterCommitMessage = {
    if (curKey != null) flushGroup()
    StrainWriteCommit(written.toSeq)
  }

  override def abort(): Unit =
    written.foreach { case (tmp, _) =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmp))
    }
  override def close(): Unit = points.clear()
}
