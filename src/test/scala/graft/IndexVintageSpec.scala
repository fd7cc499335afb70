package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Audio, DataFp, Multimodal, Search, Vectors, Video}

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

  private def noRebuild(p: String): Unit =
    fail(s"append-only delta must not trigger a rebuild (build($p) invoked)")

  test("minhash: append-only documents delta appends instead of rebuilding, " +
      "and the evolved index is bit-equal to a fresh build") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = cloneDataset("vintage_mh")
    var builds = 0
    val idx = Vectors.ensureIndex(spark, "minhash", d) { p =>
      builds += 1; Vectors.writeMinhashIndex(spark, d, p)
    }
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
    val idx2 = Vectors.ensureIndex(spark, "minhash", d)(noRebuild)
    assert(idx2 == idx)
    // the evolved index serves the SAME verdicts as a fresh full build
    val fresh = tmpDir("vintage_mh_fresh")
    Vectors.writeMinhashIndex(spark, d, fresh)
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
    val idx = Vectors.ensureIndex(spark, "dhash", d) { p =>
      Multimodal.writeDhashIndex(spark, d, p)
    }
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
    val idx2 = Vectors.ensureIndex(spark, "dhash", d)(noRebuild)
    assert(idx2 == idx)
    assert(indexFiles() == before, "restamp must not touch index data")
    // the restamped vintage is adopted by a fresh session without a build
    val s2 = spark.newSession()
    assert(Vectors.ensureIndex(s2, "dhash", d)(noRebuild) == idx)
  }

  test("an in-place rewrite still rebuilds (append path refuses it)") {
    val spark = TestSpark.spark
    val d = cloneDataset("vintage_rewrite")
    var builds = 0
    Vectors.ensureIndex(spark, "afp", d) { p =>
      builds += 1; graft.operators.Audio.writeAfpIndex(spark, d, p)
    }
    assert(builds == 1)
    // rewrite documents IN PLACE (new part files replace the old ones)
    val docs = Tables.documents(spark, d).limit(100).collect()
    val schema = Tables.documents(spark, d).schema
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(docs: _*)),
        schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    freshFp()
    Vectors.ensureIndex(spark, "afp", d) { p =>
      builds += 1; graft.operators.Audio.writeAfpIndex(spark, d, p)
    }
    assert(builds == 2, "in-place rewrite must rebuild")
  }

  test("ivf: appended embeddings are assigned to the pinned codebook and " +
      "become servable without a rebuild") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = cloneDataset("vintage_ivf")
    val idx = Vectors.ensureIndex(spark, "ivf", d) { p =>
      Vectors.writeIvfIndex(spark, d, p)
    }
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    // append a clone of the probe vector under a fresh id — after the
    // vintage append it must surface as the top neighbor at cosine 1.0
    Seq((700001L, probe.map(_.toFloat).toSeq, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$d/embeddings.parquet")
    freshFp()
    val idx2 = Vectors.ensureIndex(spark, "ivf", d)(noRebuild)
    assert(idx2 == idx)
    val top = Vectors.queryIvfIndex(spark, idx2, probe, excludeId = Some(0L))
      .collect().head
    assert(top.getLong(0) == 700001L)
    assert(math.abs(top.getDouble(1) - 1.0) < 1e-9)
  }

  test("every index kind appends an append-only delta without rebuilding") {
    val spark = TestSpark.spark
    val writers = Map[String, (String, String) => Unit](
      "vsig" -> ((d, p) => Video.writeVsigIndex(spark, d, p)),
      "minhash" -> ((d, p) => Vectors.writeMinhashIndex(spark, d, p)),
      "ivf" -> ((d, p) => Vectors.writeIvfIndex(spark, d, p)),
      "simhash" -> ((d, p) => Vectors.writeSimhashIndex(spark, d, p)),
      "dhash" -> ((d, p) => Multimodal.writeDhashIndex(spark, d, p)),
      "afp" -> ((d, p) => Audio.writeAfpIndex(spark, d, p)),
      Search.KeywordKind -> ((d, p) => Search.writeKeywordIndex(spark, d, p)),
      "pq" -> ((d, p) => Vectors.writePqIndex(spark, d, p)),
      "ivfpq" -> ((d, p) => Vectors.writeIvfPqIndex(spark, d, p)),
      "ivf_fixed" -> ((d, p) => Vectors.writeIvfFixedIndex(spark, d, p)),
      "pq_fixed" -> ((d, p) => Vectors.writePqFixedIndex(spark, d, p)))
    assert(writers.keySet == Vectors.appendPlans.keySet)
    for ((kind, plan) <- Vectors.appendPlans.toSeq.sortBy(_._1)) {
      val d = cloneDataset(s"vintage_all_$kind")
      val idx = Vectors.ensureIndex(spark, kind, d)(writers(kind)(d, _))
      // 30 corpus rows again, under ids past the current maximum
      val id = if (plan.table == "documents.parquet") "doc_id" else "vec_id"
      val table = spark.read.parquet(s"$d/${plan.table}")
      val maxId = table.agg(max(col(id))).head().getLong(0)
      table.orderBy(col(id)).limit(30).withColumn(id, col(id) + lit(maxId + 1))
        .write.mode("append").parquet(s"$d/${plan.table}")
      freshFp()
      assert(Vectors.ensureIndex(spark, kind, d)(noRebuild) == idx, kind)
    }
  }
}
