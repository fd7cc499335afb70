package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.operators.{DataFp, Index, IndexKind, Vectors}

/** Append-aware index vintage evolution (VERDICT r13 #1): an append-only
  * corpus delta routes through the kind's append verb at Θ(batch) — the
  * build lambda is NEVER invoked — and the evolved index is bit-equal to a
  * fresh build of the grown corpus; a delta outside the kind's input table
  * restamps without touching the index; an in-place change still rebuilds. */
class IndexVintageSpec extends AnyFunSuite {

  private def tmpDir(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    f.deleteOnExit()
    f.getAbsolutePath
  }

  /** A private dataset copy (documents + embeddings) this spec can mutate. */
  private def cloneDataset(tag: String): String = {
    val spark = TestSpark.spark
    val d = tmpDir(tag)
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .write.parquet(s"$d/documents.parquet")
    spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def freshFp(): Unit = DataFp.invalidate() // bypass the TTL memo

  /** `k` with `before` run ahead of each of its builds. */
  private def hooked(k: IndexKind)(before: String => Unit): IndexKind =
    new IndexKind(k.name, k.table, k.parts, k.codec, k.covers, k.compacted) {
      override def build(s: SparkSession, d: String, dir: String): Unit = {
        before(dir); super.build(s, d, dir)
      }
    }

  private def noRebuild(k: IndexKind): IndexKind = hooked(k) { p =>
    fail(s"append-only delta must not trigger a rebuild (build($p) invoked)")
  }

  test("minhash: append-only documents delta appends instead of rebuilding, " +
      "and the evolved index is bit-equal to a fresh build") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = cloneDataset("vintage_mh")
    var builds = 0
    val idx = Index.ensure(spark, hooked(Index.Minhash)(_ => builds += 1), d)
    assert(builds == 1)
    // grow the corpus: new at-rest docs AND new batch-source docs (the
    // append plan must re-apply the build's source exclusion for the
    // bit-equality contract to hold)
    val delta = (0 until 30).map { i =>
      val src = if (i % 3 == 0) Vectors.MinhashBatchSource else s"src${i % 4}"
      (900000L + i, s"vintage delta document $i with tokens ${i * 3} ${i * 7}",
        "en", src, 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    delta.write.mode("append").parquet(s"$d/documents.parquet")
    freshFp()
    val idx2 = Index.ensure(spark, noRebuild(Index.Minhash), d)
    assert(idx2 == idx)
    // the evolved index serves the SAME verdicts as a fresh full build
    val fresh = tmpDir("vintage_mh_fresh")
    Index.Minhash.build(spark, d, fresh)
    val probe = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    def rows(ix: String): Seq[Seq[Any]] =
      Vectors.minhashScreenOf(spark, ix, probe)
        .collect().map(_.toSeq.toSeq).toSeq
    assert(rows(idx2) == rows(fresh))
    // and the appended at-rest sliver is actually IN the index
    val sigIds = spark.read.parquet(s"$idx2/sigs")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(delta.where(col("source") =!= Vectors.MinhashBatchSource)
      .select(col("doc_id")).as[Long].collect().forall(sigIds.contains))
    assert(delta.where(col("source") === Vectors.MinhashBatchSource)
      .select(col("doc_id")).as[Long].collect().forall(id => !sigIds.contains(id)))
  }

  test("a delta outside the index's input table restamps without mutating") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = cloneDataset("vintage_restamp")
    val idx = Index.ensure(spark, Index.Dhash, d)
    def indexFiles(): Set[String] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "dhashes"))
        .filter(java.nio.file.Files.isRegularFile(_))
        .map[String](_.toString).toArray.map(_.toString).toSet
    val before = indexFiles()
    // embeddings grow; the dHash index's input (documents) is untouched
    (0 until 5).map(i => (800000L + i, Array.fill(8)(0.1f).toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$d/embeddings.parquet")
    freshFp()
    val idx2 = Index.ensure(spark, noRebuild(Index.Dhash), d)
    assert(idx2 == idx)
    assert(indexFiles() == before, "restamp must not touch index data")
    // the restamped vintage is adopted by a fresh session without a build
    val s2 = spark.newSession()
    assert(Index.ensure(s2, noRebuild(Index.Dhash), d) == idx)
  }

  test("an in-place rewrite still rebuilds (append path refuses it)") {
    val spark = TestSpark.spark
    val d = cloneDataset("vintage_rewrite")
    var builds = 0
    Index.ensure(spark, hooked(Index.Afp)(_ => builds += 1), d)
    assert(builds == 1)
    // rewrite documents IN PLACE (new part files replace the old ones)
    val docs = Tables.documents(spark, d).limit(100).collect()
    val schema = Tables.documents(spark, d).schema
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(docs: _*)),
        schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    freshFp()
    Index.ensure(spark, hooked(Index.Afp)(_ => builds += 1), d)
    assert(builds == 2, "in-place rewrite must rebuild")
  }

  test("ivf: appended embeddings are assigned to the pinned codebook and " +
      "become servable without a rebuild") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = cloneDataset("vintage_ivf")
    val idx = Index.ensure(spark, Index.Ivf, d)
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    // append a clone of the probe vector under a fresh id — after the
    // vintage append it must surface as the top neighbor at cosine 1.0
    Seq((700001L, probe.map(_.toFloat).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$d/embeddings.parquet")
    freshFp()
    val idx2 = Index.ensure(spark, noRebuild(Index.Ivf), d)
    assert(idx2 == idx)
    val top = Vectors.queryIvfIndex(spark, idx2, probe, excludeId = Some(0L))
      .collect().head
    assert(top.getLong(0) == 700001L)
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-9)
  }

  /** (fresh build, build + the 30-row append below) layout digests of
    * every kind at sf0.001, recorded with the per-kind writers this layout
    * was first written with; identical over two runs and at local[2] and
    * local[4]. */
  private val GoldenLayouts: Map[String, (String, String)] = Map(
    "afp" -> ("fps=475:4067732330",
      "fps=503:3365428265"),
    "dhash" -> ("dhashes=475:3772312384",
      "dhashes=503:660813376"),
    "ivf" -> (".=500:1327610909 _codebook=16:3703062037",
      ".=530:764522052 _codebook=16:3703062037"),
    "ivf_fixed" -> (".=500:972180421",
      ".=530:4283716918"),
    "ivfpq" -> (".=500:3897046168 _codebook=16:3703062037 _pq_codebook=128:2322051613",
      ".=530:1032517955 _codebook=16:3703062037 _pq_codebook=128:2322051613"),
    "keyword2" -> ("_blockdir=31:2774973215 _statslog=1:3920018056 fams=500:2618128850 fpostings=11743:2071455213 postings=11743:2863660140",
      "_blockdir=62:1812253197 _statslog=2:2874159992 fams=530:1630866807 fpostings=12481:185629281 postings=12481:159360478"),
    "minhash" -> ("banded=3800:3870023985 sigs=475:3106243745",
      "banded=4024:625912680 sigs=503:166235382"),
    "pq" -> ("_pq_codebook=128:3312854093 codes=500:1622494685",
      "_pq_codebook=128:3312854093 codes=530:2547912331"),
    "pq_fixed" -> ("codes=500:767198451",
      "codes=530:1211687275"),
    "simhash" -> ("blocks=1900:2955176308",
      "blocks=2012:1375322306"),
    "vsig" -> ("vsigs=475:1567865090",
      "vsigs=503:777000610"))

  test("every index kind appends an append-only delta without rebuilding") {
    val spark = TestSpark.spark
    for (kind <- IndexKindSpec.kinds) {
      val d = cloneDataset(s"vintage_all_${kind.name}")
      val idx = Index.ensure(spark, kind, d)
      val fresh = IndexKindSpec.layoutDigest(spark, idx)
      // 30 corpus rows again, under ids past the current maximum
      val id = if (kind.table == "documents.parquet") "doc_id" else "vec_id"
      val table = spark.read.parquet(s"$d/${kind.table}")
      val maxId = table.agg(max(col(id))).head().getLong(0)
      table.orderBy(col(id)).limit(30).withColumn(id, col(id) + lit(maxId + 1))
        .write.mode("append").parquet(s"$d/${kind.table}")
      freshFp()
      assert(Index.ensure(spark, noRebuild(kind), d) == idx, kind.name)
      assert((fresh, IndexKindSpec.layoutDigest(spark, idx)) == GoldenLayouts(kind.name),
        kind.name)
    }
  }
}
