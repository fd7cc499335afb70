package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for SPECFEM displacement snapshots — the DGF-build twin of
  * [[StrainDataSource]] (reference reader `disp_reader.py:13-25`: one
  * Fortran record of shape (nGLL, 3) float32 per force×step file).
  *
  * One input partition per snapshot file, and the same planning-time file
  * pruning options (`step0`/`step1`/`dstep` stride, `forces` subset, `proc`
  * slice): the reference's 1:50 temporal stride must drop files before they
  * become tasks. `spark.read.format("disp").option("path", dir).load()` →
  * one row per (force, step, global point): (force INT, step INT, gll LONG,
  * ux, uy, uz DOUBLE), the point's three components. The long-form
  * per-sample view is [[SeisPipeline.readDisp]].
  */
class DispDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "disp"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DispDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new DispTable(properties.get("path"))
}

object DispDataSource {
  /** The three components in on-disk order (`disp_reader.py:22`). */
  val Components: Seq[String] = Seq("ux", "uy", "uz")

  val schema: StructType = StructType(Seq(
    StructField("force", IntegerType, nullable = false),
    StructField("step", IntegerType, nullable = false),
    StructField("gll", LongType, nullable = false)) ++
    Components.map(StructField(_, DoubleType, nullable = false)))

  private[sources] val pathPattern =
    ".*force_([NEZ])/.*_disp_Step_(\\d+)\\.bin$".r

  def listFiles(dir: String): Seq[String] =
    StrainDataSource.listMatching(dir, pathPattern)

  private[sources] def parse(path: String): Option[(String, Int)] = path match {
    case pathPattern(force, stepStr) => Some((force, stepStr.toInt))
    case _ => None
  }
}

class DispTable(path: String) extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  override def name(): String = s"disp($path)"
  override def schema(): StructType = DispDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val pruning = StrainDataSource.pruningFrom(options)
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = DispDataSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        pruning.prune(DispDataSource.listFiles(path), DispDataSource.parse)
          .map(DispFilePartition(_): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new DispReaderFactory
    }
  }
}

case class DispFilePartition(file: String) extends InputPartition

class DispReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DispPartitionReader(partition.asInstanceOf[DispFilePartition].file)
}

/** Streams one displacement snapshot as one row per global GLL point: its 3
  * components, interleaved on disk as (gll, comp) float32
  * (`disp_reader.py:22`), each widened to double. */
class DispPartitionReader(file: String) extends PartitionReader[InternalRow] {
  private val pat = DispDataSource.pathPattern
  private val pat(forceName, stepStr) = file
  private val force = SeisFixture.Forces.indexOf(forceName)
  private val step = stepStr.toInt
  private val vals = Fortran.floatsLE(Fortran.readRecords(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))).head)
  require(vals.length % 3 == 0,
    s"displacement record in $file is not (nGLL, 3): ${vals.length} floats")

  private var g = -1

  override def next(): Boolean = { g += 1; g < vals.length / 3 }

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](force, step, g.toLong,
      vals(3 * g).toDouble, vals(3 * g + 1).toDouble, vals(3 * g + 2).toDouble))

  override def close(): Unit = ()
}
