package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Index, Vectors}
import graft.sources.{SeisFixture, SeisPipeline}

/** The serving reads of graft's own layouts build their DataFrame without
  * a Spark job: declared schemas instead of parquet schema inference, and
  * the tiny sidecars (`_meta`, `_codebook`, `_pq_codebook`) read on the
  * driver. Counts `SparkListenerJobStart` events while each DataFrame is
  * built, and pins the declared schemas and driver-side sidecar reads to
  * what Spark itself reads from a freshly written layout. */
class ConstructJobsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private val started = new AtomicLong
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
  }
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(counter)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(counter)

  /** `body`'s result and the Spark jobs it started. */
  private def counted[T](body: => T): (T, Long) = {
    ListenerBusBridge.drain(spark.sparkContext)
    val before = started.get
    val out = body
    ListenerBusBridge.drain(spark.sparkContext)
    (out, started.get - before)
  }

  /** Asserts `build` starts `want` Spark jobs; returns its DataFrame. */
  private def assertJobs(what: String, want: Long)(build: => DataFrame): DataFrame = {
    val (df, n) = counted(build)
    assert(n == want, s"$what started $n Spark jobs while building its DataFrame, want $want")
    df
  }

  /** `t` with every nullability flag set, so a declared schema compares to
    * an inferred one by names and types only. */
  private def shape(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case other => other
  }

  private def assertDeclared(declared: StructType, dir: String): Unit =
    assert(shape(declared) == shape(spark.read.parquet(dir).schema),
      s"declared $declared, written ${spark.read.parquet(dir).schema}")

  private def tmp(tag: String): String = Files.createTempDirectory(tag).toString

  test("SGT/DGF reads: declared blob schema, driver-side _meta, zero construction jobs") {
    val fixture = SeisFixture.ensure()
    val sgt = tmp("cj_sgt")
    val dgf = tmp("cj_dgf")
    SeisPipeline.createSgtDb(spark, fixture, sgt, "CI", "CJ", bits = 16)
    SeisPipeline.createDgfDb(spark, fixture, dgf, "CI", "CJ")
    assertDeclared(SeisPipeline.BlobSchema, sgt)
    assertDeclared(SeisPipeline.BlobSchema, dgf)

    // all 13 header fields, in the sidecar's column order
    Seq(sgt, dgf).foreach { db =>
      val viaSpark = spark.read.parquet(s"$db/_meta").collect()
      assert(viaSpark.length == 1)
      val viaDriver = SeisPipeline.readDbMeta(spark, db)
      assert(viaDriver.productArity == 13)
      assert(viaDriver.productIterator.toSeq == viaSpark.head.toSeq)
    }

    val gll = spark.read.parquet(sgt).select(col("gll")).orderBy(col("gll")).head().getLong(0)
    val perPoint = SeisFixture.Steps.length
    // warm once (class loading, listing caches), then count
    SeisPipeline.readSgtPoint(spark, sgt, gll).collect()
    // samples per point: SGT 3 forces × 6 params, DGF 3 comps × 3 forces
    val (sgtPer, dgfPer) = (18L * perPoint, 9L * perPoint)
    assert(assertJobs("readSgtPoint", 0)(
      SeisPipeline.readSgtPoint(spark, sgt, gll)).count() == sgtPer)
    assert(assertJobs("readDgfPoint", 0)(
      SeisPipeline.readDgfPoint(spark, dgf, gll)).count() == dgfPer)
    val nGll = SeisPipeline.readDbMeta(spark, sgt).nGll
    assert(assertJobs("readSgtDb", 0)(SeisPipeline.readSgtDb(spark, sgt)).count() == nGll * sgtPer)
    assert(assertJobs("readDgfDb", 0)(SeisPipeline.readDgfDb(spark, dgf)).count() == nGll * dgfPer)
  }

  test("SGT/DGF builds: at most five Spark jobs each, count without a read-back") {
    val fixture = SeisFixture.ensure()
    val (sgt, dgf) = (tmp("cj_build_sgt"), tmp("cj_build_dgf"))
    // index scan, broadcast of the kept points, shuffle map stage, blob
    // write, _meta write
    val (nSgt, sgtJobs) = counted(SeisPipeline.createSgtDb(spark, fixture, sgt, "CI", "CJ", bits = 16))
    assert(sgtJobs <= 5, s"createSgtDb started $sgtJobs Spark jobs")
    val (nDgf, dgfJobs) = counted(SeisPipeline.createDgfDb(spark, fixture, dgf, "CI", "CJ", bits = 16))
    assert(dgfJobs <= 5, s"createDgfDb started $dgfJobs Spark jobs")
    // the returned count is the kept points, and every one was written
    assert(nSgt == SeisFixture.keptIndexReplay().length && nDgf == nSgt)
    assert(spark.read.parquet(sgt).count() == nSgt && spark.read.parquet(dgf).count() == nDgf)
  }

  test("IVF query after a delete: declared tombstone schema, zero construction jobs") {
    import spark.implicits._
    val ivf = tmp("cj_ivf_del")
    Index.Ivf.build(spark, d, ivf)
    Index.delete(spark, ivf, Seq(1L).toDF("doc_id"))
    assertDeclared(Index.TombstoneSchema, s"$ivf/_tombstones")
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    Vectors.queryIvfIndex(spark, ivf, probe).collect() // warm
    val got = assertJobs("queryIvfIndex after a delete", 0)(
      Vectors.queryIvfIndex(spark, ivf, probe, excludeId = Some(0L))).collect()
    assert(got.length == 10 && !got.map(_.getLong(0)).contains(1L))
  }

  test("IVF / PQ / IVFADC: declared layouts, driver-side codebooks, construction jobs") {
    import spark.implicits._
    val ivf = tmp("cj_ivf")
    val pq = tmp("cj_pq")
    val ipq = tmp("cj_ipq")
    Index.Ivf.build(spark, d, ivf)
    Index.Pq.build(spark, d, pq)
    Index.IvfPq.build(spark, d, ipq)
    assertDeclared(Vectors.IvfSchema, ivf)
    assertDeclared(Vectors.PqCodesSchema, s"$pq/codes")
    assertDeclared(Vectors.IvfPqSchema, ipq)

    def sparkIvf(dir: String) = spark.read.parquet(s"$dir/_codebook")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2).toSeq
    def sparkPq(dir: String) = {
      val rows = spark.read.parquet(s"$dir/_pq_codebook").as[(Int, Int, Seq[Double])].collect()
      rows.map(_._1).distinct.sorted.toSeq
        .map(m => rows.filter(_._1 == m).sortBy(_._2).map(_._3).toSeq)
    }
    Seq(ivf, ipq).foreach { dir =>
      val cb = Vectors.ivfCodebook(spark, dir)
      assert(cb.length == 16)
      assert(cb.map(_.toSeq).toSeq == sparkIvf(dir))
    }
    Seq(pq, ipq).foreach { dir =>
      assert(Vectors.pqCodebook(spark, dir).map(_.map(_.toSeq).toSeq).toSeq == sparkPq(dir))
    }

    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    // warm: the PQ paths memoize the corpus row count on first use
    Vectors.queryIvfIndex(spark, ivf, probe).collect()
    Vectors.queryPqIndex(spark, d, pq, probe).collect()
    Vectors.queryIvfPqIndex(spark, d, ipq, probe).collect()
    assert(assertJobs("queryIvfIndex", 0)(
      Vectors.queryIvfIndex(spark, ivf, probe, excludeId = Some(0L))).collect().length == 10)
    // PQ and IVFADC: the ADC candidate collect sizes the exact refine's IN
    // list; the refine opens the embeddings table by its declared schema
    assert(assertJobs("queryPqIndex", 1)(
      Vectors.queryPqIndex(spark, d, pq, probe, excludeId = Some(0L))).collect().length == 10)
    assert(assertJobs("queryIvfPqIndex", 1)(
      Vectors.queryIvfPqIndex(spark, d, ipq, probe, excludeId = Some(0L))).collect().length == 10)
  }

  test("declared embeddings schema matches every fixture scale factor") {
    val root = new java.io.File(d).getParentFile
    val sfs = root.listFiles().filter(f => f.getName.startsWith("sf") &&
      new java.io.File(f, "embeddings.parquet").exists()).map(_.getPath).sorted
    assert(sfs.contains(d), s"no fixture scale factors beside $d")
    sfs.foreach(sf => assertDeclared(Tables.EmbeddingsSchema, s"$sf/embeddings.parquet"))
  }
}
