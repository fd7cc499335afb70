package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.{Encoded, Index, IndexCodec, IndexKind, Vectors}

class VectorSpec extends AnyFunSuite {

  test("brute-force cosine top-k: 10 rows, descending, no self-match") {
    val spark = TestSpark.spark
    val rows = Vectors.cosineTopk(spark, TestSpark.sf0001).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
    assert(!rows.map(_.getLong(0)).contains(0L))
  }

  test("IVF ANN recall vs brute force is substantial (pruned 4/16 clusters)") {
    val spark = TestSpark.spark
    val exact = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val approx = Vectors.annIvfRaw(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall; exact=$exact approx=$approx")
  }

  test("ANN candidates are a subset of the probed clusters' members (pruning is real)") {
    val spark = TestSpark.spark
    // the scored candidate count must be well under the corpus size
    val nCand = Vectors.annIvfRaw(spark, TestSpark.sf0001).count()
    assert(nCand == 10)
  }

  test("codebook sampling is bounded, pruned, unbiased, and deterministic") {
    val spark = TestSpark.spark
    val plan = Vectors.codebookSamplePlan(spark, TestSpark.sf0001)
    val physical = plan.queryExecution.executedPlan.toString
    // bounded: a TakeOrdered top-k (256-row map-side heaps), NOT a full
    // collect behind a typed-lambda filter
    assert(physical.contains("TakeOrderedAndProject"), physical)
    // pruned: the scan reads only the two needed columns
    val formatted = plan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("vec_id") && readSchema.contains("embedding"))
    assert(!readSchema.contains("doc_id"), readSchema)
    // deterministic: two runs produce the identical sample
    val a = plan.collect().map(_.getLong(0)).toSeq
    val b = Vectors.codebookSamplePlan(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSeq
    val corpus = Tables.embeddings(spark, TestSpark.sf0001).count()
    assert(a == b && a.length == math.min(256L, corpus))
    // unbiased: the hash sample is not the first-256-by-id prefix
    assert(a.sorted != (0L until a.length.toLong).toSeq, "sample degenerated to an id prefix")
  }

  test("ANN probe vector read is a pushed-down point read") {
    val spark = TestSpark.spark
    val probe = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
      .where(col("vec_id") === 0)
    val formatted = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = formatted.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("EqualTo(vec_id,0)"), pushed)
  }

  test("PQ ANN recall vs brute force (8x8 codes, ADC + exact refine)") {
    val spark = TestSpark.spark
    val exact = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val approx = Vectors.annPqRaw(spark, TestSpark.sf0001).collect()
    assert(approx.length == 10)
    val ids = approx.map(_.getLong(0)).toSet
    assert(!ids.contains(0L))
    val recall = exact.intersect(ids).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall; exact=$exact approx=$ids")
    // the refined scores are TRUE cosines: every reported pair must carry
    // the same cos_r the exact query reports for that id
    val exactScores = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.filter(r => exactScores.contains(r.getLong(0)))
      .foreach(r => assert(r.getDouble(1) == exactScores(r.getLong(0))))
    // determinism across runs (fixed sample, seeded Lloyd, total orders)
    val again = Vectors.annPqRaw(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSeq
    assert(again == approx.map(_.getLong(0)).toSeq)
  }

  test("persisted PQ index: compact codes, pushed-down refine, same answer as in-query") {
    val spark = TestSpark.spark
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("pqidx").toString
    Index.Pq.build(spark, TestSpark.sf0001, idx)
    // codes are M bytes per vector — the 32x-compressed scan body
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.count() == Tables.embeddings(spark, TestSpark.sf0001).count())
    assert(codes.select(org.apache.spark.sql.functions.octet_length(col("codes")))
      .as[Int].head() == 8)
    val probe = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    val q = Vectors.queryPqIndex(spark, TestSpark.sf0001, idx, probe,
      topK = 10, excludeId = Some(0L))
    // the refine stage's IN filter reaches the parquet scan
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = formatted.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("In(vec_id"), pushed)
    // identical result to the in-query path (same sample rule + codebooks)
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Vectors.annPqRaw(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("at-rest suite keys: memoized build, stable across calls, equal to in-query forms") {
    val spark = TestSpark.spark
    // IVF: the suite key queries the memoized persisted index; the same
    // codebook-sample contract makes it equal the in-query form exactly
    val ivf1 = Vectors.annIvfAtRestRaw(spark, TestSpark.sf0001).collect().toSeq
    val ivf2 = Vectors.annIvfAtRestRaw(spark, TestSpark.sf0001).collect().toSeq
    assert(ivf1.size == 10 && ivf1 == ivf2)
    assert(ivf1 == Vectors.annIvfRaw(spark, TestSpark.sf0001).collect().toSeq)
    val pq1 = Vectors.annPqAtRestRaw(spark, TestSpark.sf0001).collect().toSeq
    assert(pq1.size == 10)
    assert(pq1 == Vectors.annPqRaw(spark, TestSpark.sf0001).collect().toSeq)
  }

  test("PQ refine semi-join branch (>1000 candidate ids) returns the exact brute top-k") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{round => sround}
    // synthetic 1500-vector corpus: big enough that an exhaustive candidate
    // list crosses the 1000-id IN→semi-join switch (the fixture corpora at
    // the oracle gates stay under it, so only this spec pins the branch)
    val n = 1500
    val dim = 8
    val d = java.nio.file.Files.createTempDirectory("pqsemi").toString
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(j =>
        (graft.functions.Hashing.mix64(i.toLong * 31 + j) % 1000L).toDouble / 1000.0)
      (i.toLong, v.map(_.toFloat))
    }.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("pqsemiidx").toString
    Index.Pq.build(spark, d, idx)
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    // exhaustive candidates (cand = n > 1000) → the semi-join branch; with
    // every id a candidate the refine IS brute force, so its top-10 must
    // bit-equal the direct exact scan
    val got = Vectors.queryPqIndex(spark, d, idx, probe,
        topK = 10, excludeId = Some(0L), cand = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Tables.embeddings(spark, d)
      .where(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.CosineSimExpr.vec_cosine(
          col("embedding").cast("array<double>"),
          org.apache.spark.sql.functions.typedLit(probe.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), sround(col("cos"), 4).as("cos_r"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"semi-join refine diverged:\n got=$got\nwant=$want")
  }

  test("ensureIndex commit protocol: staged build, rename commit, stale vintage replaced, no residue") {
    val spark = TestSpark.spark
    val d = TestSpark.sf0001
    val kindName = "guard" + (System.nanoTime() % 1000000)
    val expected = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") +
      s"/graft_index/${kindName}_" + d.replaceAll("[^A-Za-z0-9._-]", "_")
    // plant a stale vintage at the committed path (an earlier process)
    new java.io.File(expected).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(expected, "stale.txt"), "old")
    var rebuilt = false
    val kind = new IndexKind(kindName, "documents.parquet", Nil,
        IndexCodec.pure((_, _) => Encoded(Nil))) {
      override def build(s: org.apache.spark.sql.SparkSession, d: String, p: String): Unit = {
        if (rebuilt) fail("memoized index rebuilt")
        rebuilt = true
        // the build lands in a PRIVATE staging sibling, never the target
        assert(p.contains("__build_"), p)
        new java.io.File(p).mkdirs()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "fresh.txt"), "new")
      }
    }
    val got = Index.ensure(spark, kind, d)
    assert(got == expected)
    assert(new java.io.File(got, "fresh.txt").exists, "committed build missing")
    assert(!new java.io.File(got, "stale.txt").exists, "stale vintage survived")
    // no staging/replaced residue next to the committed dir
    val name = new java.io.File(got).getName
    val residue = Option(new java.io.File(got).getParentFile.list()).get
      .filter(_.startsWith(name + "__"))
    assert(residue.isEmpty, residue.mkString(","))
    // the session memo holds: a second ensure must NOT rebuild
    val got2 = Index.ensure(spark, kind, d)
    assert(got2 == got)
  }

  test("graduated ANN contract keys emit the exact referee rows with the recall bound TRUE") {
    val spark = TestSpark.spark
    val exact = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    for (key <- Seq("q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
        "q_ann_ivf_at_rest", "q_ann_pq_at_rest", "q_ann_ivfpq_at_rest")) {
      val rows = SparkEntry.queries(key)(spark, TestSpark.sf0001).collect()
      assert(rows.length == 10, s"$key rows=${rows.length}")
      // the emitted ids ARE the exact referee's (SQL-replayable side)
      assert(rows.map(_.getLong(0)).toSet == exact, s"$key ids diverged from exact")
      // the bound the oracle pins TRUE must hold on the engine side
      assert(rows.forall(_.getBoolean(2)), s"$key recall bound violated")
    }
  }

  test("exact ANN referee persists at rest per corpus vintage and is adopted by a fresh session") {
    // r15: the annref vintage GC compared unqualified against qualified
    // Paths and deleted every vintage the moment it was written — the
    // in-session memo masked it, so cross-session persistence silently
    // never happened. This pins the artifact itself.
    val spark = TestSpark.spark
    val sf = TestSpark.sf0001
    SparkEntry.queries("q_ann_ivf")(spark, sf).collect() // certifies + persists
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val fp = operators.DataFp.of(spark, sf)
    val vintage = new java.io.File(
      s"$wh/graft_index/annref_" + sf.replaceAll("[^A-Za-z0-9._-]", "_"),
      s"fp_${java.lang.Long.toHexString(fp)}")
    assert(vintage.isDirectory, s"annref vintage not persisted at $vintage")
    // a fresh session (new memo identity) adopts the sidecar: same rows
    val s2 = spark.newSession()
    GraftSession.install(s2)
    val a = SparkEntry.queries("q_ann_ivf")(spark, sf).collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q_ann_ivf")(s2, sf).collect().map(_.toSeq).toSeq
    assert(a == b, "fresh-session referee diverges from the certifying session's")
  }

  test("IVFADC: residual-PQ recall, true-cosine refine, deterministic, at-rest equals in-query") {
    val spark = TestSpark.spark
    val exact = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    val approx = Vectors.annIvfPqRaw(spark, TestSpark.sf0001).collect()
    assert(approx.length == 10)
    val ids = approx.map(_.getLong(0)).toSet
    assert(!ids.contains(0L))
    // the probed-cell prune caps recall at the IVF bar; residual PQ must
    // not drop it further
    val recall = exact.intersect(ids).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall; exact=$exact approx=$ids")
    // refined scores are TRUE cosines (identical to the exact query's)
    val exactScores = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.filter(r => exactScores.contains(r.getLong(0)))
      .foreach(r => assert(r.getDouble(1) == exactScores(r.getLong(0))))
    // determinism (fixed sample, seeded Lloyd, total orders)
    val again = Vectors.annIvfPqRaw(spark, TestSpark.sf0001).collect()
    assert(approx.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the at-rest suite key (memoized persisted index) answers identically:
    // same sample contract -> same codebooks -> same codes -> same refine
    val atRest1 = Vectors.annIvfPqAtRestRaw(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val atRest2 = Vectors.annIvfPqAtRestRaw(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(atRest1 == atRest2)
    assert(atRest1 == approx.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("persisted IVFADC index: cell-partitioned 8-byte codes, pruned query scan") {
    val spark = TestSpark.spark
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    Index.IvfPq.build(spark, TestSpark.sf0001, idx)
    val codes = spark.read.parquet(idx)
    assert(codes.count() == Tables.embeddings(spark, TestSpark.sf0001).count())
    assert(codes.select(org.apache.spark.sql.functions.octet_length(col("codes")))
      .as[Int].head() == 8)
    // every vector landed in one of the 16 coarse cells
    assert(codes.select(col("cluster")).distinct().count() <= 16L)
    val probe = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    val q = Vectors.queryIvfPqIndex(spark, TestSpark.sf0001, idx, probe,
      topK = 10, excludeId = Some(0L))
    // the refine stage's candidate IN-filter reaches the parquet scan
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = formatted.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("In(vec_id"), pushed)
    assert(q.collect().length == 10)
  }

  test("SRP near-dup: per-member lists equal a full driver replay of the planted corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    val m = Vectors.NearestM
    val base = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    // replicate the corpus rule: one twin per DISTINCT value, seeded by
    // the group's min id
    val byVal = base.groupBy(_._2.toSeq)
    val twins = byVal.values.map { ms =>
      val rep = ms.minBy(_._1)
      (rep._1 + Vectors.SrpPlantOffset,
        Vectors.perturbUnit(rep._1, rep._2, eps = 0.02))
    }.toSeq
    val corpus = base.toSeq ++ twins
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var dp = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dp / math.sqrt(na * nb)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // expected: identical values score 1.0 (own group); distinct-value
    // pairs at cos >= threshold score the rounded cosine, expanded to
    // every member of the other group (assumes the seeded banding misses
    // no >=-threshold pair on this fixture, as it must — a miss fails
    // loudly here)
    val groupsSeq = byVal.map { case (k, ms) => k -> ms.map(_._1).sorted }
      .toMap ++ twins.map { case (id, v) => v.toSeq -> Array(id) }.toMap
    val want = corpus.flatMap { case (id, v) =>
      val own = groupsSeq(v.toSeq).filter(_ != id).map(n => (n, 1.0)).toSeq
      val cross = groupsSeq.toSeq.filter(_._1 != v.toSeq).flatMap { case (w, ids) =>
        val c = cosOf(v, w.toArray)
        if (c >= Vectors.SrpThreshold) ids.map(n => (n, r4(c))) else Nil
      }
      (own ++ cross).sortBy { case (n, s) => (-s, n) }.take(m)
        .zipWithIndex.map { case ((n, s), i) => (id, i + 1L, n, s) }
    }.sortBy(r => (r._1, r._2))
    val got = Vectors.embedNeardupSrpRaw(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == want,
      s"first diff: ${got.zip(want).find { case (g, w) => g != w }}")
    // the planted mass tracks DISTINCT values (the r9 scale contract)
    assert(twins.size == byVal.size && twins.size <= base.length)
  }

  test("at-rest index append: screen -> append -> re-screen returns all-dup (both families)") {
    val spark = TestSpark.spark
    val d = TestSpark.sf0001
    val batch = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    val nBatch = batch.count()
    // minhash: build at-rest, screen, append the batch, re-screen
    val mIdx = java.nio.file.Files.createTempDirectory("mhidx").toString
    Index.Minhash.build(spark, d, mIdx)
    val before = spark.read.parquet(s"$mIdx/sigs").count()
    val v1 = Vectors.minhashScreenOf(spark, mIdx, batch).collect()
    Index.Minhash.append(spark, mIdx, batch)
    // partition-append grew the layout by exactly the batch (no rebuild)
    assert(spark.read.parquet(s"$mIdx/sigs").count() == before + nBatch)
    assert(spark.read.parquet(s"$mIdx/banded").count() ==
      spark.read.parquet(s"$mIdx/sigs").count() * 8)
    val v2 = Vectors.minhashScreenOf(spark, mIdx, batch).collect()
    // idempotence: every appended doc now screens as a dup at perfect
    // self-agreement, and no pre-append dup verdict is lost
    assert(v2.nonEmpty && v2.forall(r => r.getLong(1) == 1L && r.getLong(3) == 32L))
    val dup1 = v1.filter(_.getLong(1) == 1L).map(_.getLong(0)).toSet
    assert(dup1.subsetOf(v2.map(_.getLong(0)).toSet))
    // simhash twin: append then re-screen -> all-dup at Hamming 0
    val sIdx = java.nio.file.Files.createTempDirectory("shidx").toString
    Index.Simhash.build(spark, d, sIdx)
    Index.Simhash.append(spark, sIdx, batch)
    val s2 = Vectors.simhashScreenOf(spark, sIdx, batch).collect()
    assert(s2.length == nBatch &&
      s2.forall(r => r.getLong(1) == 1L && r.getLong(3) == 0L))
  }

  test("index delete -> tombstone screen -> compact: takedown lifecycle (both families)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val batch = Tables.documents(spark, d)
      .where(col("source") === Vectors.MinhashBatchSource)
    val batchIds = batch.select("doc_id").as[Long].collect().toSeq
    def verdicts(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq

    // minhash: the lifecycle invariant is exact — append(batch) then
    // delete(batch ids) must RESTORE the original screen verdicts, first
    // logically (tombstones only), then physically (after compaction)
    val mIdx = java.nio.file.Files.createTempDirectory("mhdel").toString
    Index.Minhash.build(spark, d, mIdx)
    val rows0 = spark.read.parquet(s"$mIdx/sigs").count()
    val v1 = verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect())
    Index.Minhash.append(spark, mIdx, batch)
    assert(verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect())
      .forall(r => r._2 == 1L && r._4 == 32L)) // appended: all self-dup
    Index.delete(spark, mIdx, batchIds.toDF("doc_id"))
    // logical delete: original verdicts restored, physical rows untouched
    assert(verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect()) == v1)
    assert(spark.read.parquet(s"$mIdx/sigs").count() == rows0 + batchIds.size)
    // idempotent re-delete
    Index.delete(spark, mIdx, batchIds.toDF("doc_id"))
    assert(verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect()) == v1)
    // physical compaction: victim rows gone, tombstones cleared,
    // partition layout intact, verdicts still the original
    Index.Minhash.compact(spark, mIdx)
    val sigsAfter = spark.read.parquet(s"$mIdx/sigs")
    assert(sigsAfter.count() == rows0)
    assert(sigsAfter.where(col("doc_id").isin(batchIds: _*)).isEmpty)
    val banded = spark.read.parquet(s"$mIdx/banded")
    assert(banded.where(col("doc_id").isin(batchIds: _*)).isEmpty)
    assert(banded.select("band").distinct().count() == 8)
    assert(Index.tombstonesOf(spark, mIdx).isEmpty)
    assert(verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect()) == v1)
    // compact with no tombstones is a no-op; append after compact composes
    Index.Minhash.compact(spark, mIdx)
    assert(spark.read.parquet(s"$mIdx/sigs").count() == rows0)
    Index.Minhash.append(spark, mIdx, batch)
    assert(verdicts(Vectors.minhashScreenOf(spark, mIdx, batch).collect())
      .forall(r => r._2 == 1L && r._4 == 32L))

    // simhash twin: same restore invariant through delete and compact
    val sIdx = java.nio.file.Files.createTempDirectory("shdel").toString
    Index.Simhash.build(spark, d, sIdx)
    val blocks0 = spark.read.parquet(s"$sIdx/blocks").count()
    val s1 = verdicts(Vectors.simhashScreenOf(spark, sIdx, batch).collect())
    Index.Simhash.append(spark, sIdx, batch)
    assert(verdicts(Vectors.simhashScreenOf(spark, sIdx, batch).collect())
      .forall(r => r._2 == 1L && r._4 == 0L))
    Index.delete(spark, sIdx, batchIds.toDF("doc_id"))
    assert(verdicts(Vectors.simhashScreenOf(spark, sIdx, batch).collect()) == s1)
    Index.Simhash.compact(spark, sIdx)
    assert(spark.read.parquet(s"$sIdx/blocks").count() == blocks0)
    assert(spark.read.parquet(s"$sIdx/blocks")
      .where(col("ref_id").isin(batchIds: _*)).isEmpty)
    assert(Index.tombstonesOf(spark, sIdx).isEmpty)
    assert(verdicts(Vectors.simhashScreenOf(spark, sIdx, batch).collect()) == s1)
  }

  test("IVF index append: fixed-codebook quantize, grown index serves appended vectors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val idx = java.nio.file.Files.createTempDirectory("ivfappend").toString
    // build the full index, then append a DISJOINT synthetic id range
    // (every fixture vector re-shifted by 1e6) and assert the codebook was
    // NOT retrained, assignments did not drift, and queries see the rows
    Index.Ivf.build(spark, d, idx)
    val cbBefore = spark.read.parquet(s"$idx/_codebook").collect().map(_.toSeq).toSet
    val nBefore = spark.read.parquet(idx).count()
    val appended = Tables.embeddings(spark, d)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Index.Ivf.append(spark, idx, appended)
    assert(spark.read.parquet(s"$idx/_codebook").collect().map(_.toSeq).toSet == cbBefore)
    assert(spark.read.parquet(idx).count() == nBefore * 2)
    // every appended vector landed in the SAME cell as its original (the
    // fixed-codebook contract: identical vector -> identical assignment)
    val cells = spark.read.parquet(idx)
      .select(col("vec_id"), col("cluster")).as[(Long, Int)].collect().toMap
    assert(cells.keys.count(_ >= 1000000L) == nBefore)
    cells.keys.filter(_ >= 1000000L).foreach { id =>
      assert(cells(id) == cells(id - 1000000L), s"cell drift for $id")
    }
    // a probe query over the grown index surfaces the appended twin of the
    // probe vector at cosine 1.0 rank
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    val top = Vectors.queryIvfIndex(spark, idx, probe, topK = 2, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(top.contains(1000000L), s"appended twin missing from $top")
  }

  test("ANN takedown: tombstoned vectors vanish from all three serving paths, compaction is physical") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val probe = Tables.embeddings(spark, d).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq

    // IVF (root-partitioned layout): delete the top hit, re-query, compact
    val ivf = java.nio.file.Files.createTempDirectory("ivfdel").toString
    Index.Ivf.build(spark, d, ivf)
    val t1 = ids(Vectors.queryIvfIndex(spark, ivf, probe, topK = 5))
    val victim = t1.head
    Index.delete(spark, ivf, Seq(victim).toDF("doc_id"))
    val t2 = ids(Vectors.queryIvfIndex(spark, ivf, probe, topK = 5))
    // the survivors keep their relative order; rank 5 backfills
    assert(!t2.contains(victim) &&
      t2.take(4) == t1.filterNot(_ == victim).take(4),
      s"post-delete ranking drifted: $t1 -> $t2")
    val cbBefore = spark.read.parquet(s"$ivf/_codebook").count()
    val rowsBefore = spark.read.parquet(ivf).count()
    Index.Ivf.compact(spark, ivf)
    assert(spark.read.parquet(ivf).count() == rowsBefore - 1)
    assert(spark.read.parquet(ivf).where(col("vec_id") === victim).isEmpty)
    assert(spark.read.parquet(s"$ivf/_codebook").count() == cbBefore)
    assert(Index.tombstonesOf(spark, ivf).isEmpty)
    assert(ids(Vectors.queryIvfIndex(spark, ivf, probe, topK = 5)) == t2)

    // PQ (flat codes/ subdir): same contract through compactPqIndex
    val pq = java.nio.file.Files.createTempDirectory("pqdel").toString
    Index.Pq.build(spark, d, pq)
    val p1 = ids(Vectors.queryPqIndex(spark, d, pq, probe, topK = 5))
    val pVictim = p1.head
    Index.delete(spark, pq, Seq(pVictim).toDF("doc_id"))
    val p2 = ids(Vectors.queryPqIndex(spark, d, pq, probe, topK = 5))
    assert(!p2.contains(pVictim))
    Index.Pq.compact(spark, pq)
    assert(spark.read.parquet(s"$pq/codes")
      .where(col("vec_id") === pVictim).isEmpty)
    assert(Index.tombstonesOf(spark, pq).isEmpty)
    assert(ids(Vectors.queryPqIndex(spark, d, pq, probe, topK = 5)) == p2)

    // IVFADC (root-partitioned codes): logical delete on the third path
    val ipq = java.nio.file.Files.createTempDirectory("ipqdel").toString
    Index.IvfPq.build(spark, d, ipq)
    val q1 = ids(Vectors.queryIvfPqIndex(spark, d, ipq, probe, topK = 5))
    Index.delete(spark, ipq, Seq(q1.head).toDF("doc_id"))
    val q2 = ids(Vectors.queryIvfPqIndex(spark, d, ipq, probe, topK = 5))
    assert(!q2.contains(q1.head))
    Index.IvfPq.compact(spark, ipq)
    assert(spark.read.parquet(ipq).where(col("vec_id") === q1.head).isEmpty)
    assert(spark.read.parquet(s"$ipq/_pq_codebook").count() > 0)
    assert(ids(Vectors.queryIvfPqIndex(spark, d, ipq, probe, topK = 5)) == q2)
  }

  test("bounded nearest-m contracts equal brute-force ranking of the raw pair kernels") {
    val spark = TestSpark.spark
    import spark.implicits._
    val m = Vectors.NearestM
    // independent reference: symmetrize the (spec-only) unbounded pair
    // lists and rank per doc in plain Scala — pins the contraction +
    // heap-assembly path against the raw pair semantics with no DuckDB in
    // the loop
    def rank[S](pairs: Seq[(Long, Long, S)], better: Ordering[S]): Seq[(Long, Long, Long, S)] =
      pairs.flatMap { case (a, b, sc) => Seq((a, b, sc), (b, a, sc)) }
        .groupBy(_._1).toSeq.flatMap { case (id, nbrs) =>
          nbrs.sortBy { case (_, nbr, sc) => (sc, nbr) }(
              Ordering.Tuple2(better, implicitly[Ordering[Long]]))
            .take(m).zipWithIndex
            .map { case ((_, nbr, sc), i) => (id, i + 1L, nbr, sc) }
        }.sortBy(r => (r._1, r._2))
    val simGot = Vectors.simhashDedup(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val simRaw = Vectors.simhashPairs(spark, TestSpark.sf0001)
      .as[(Long, Long, Int)].collect().toSeq.map { case (a, b, h) => (a, b, h.toLong) }
    assert(simGot.nonEmpty && simGot == rank(simRaw, Ordering.Long))
    val embGot = Vectors.embedNeardup(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val embRaw = Vectors.embedNeardupPairs(spark, TestSpark.sf0001)
      .as[(Long, Long, Double)].collect().toSeq
    assert(embGot.nonEmpty && embGot == rank(embRaw, Ordering.Double.TotalOrdering.reverse))
    // r9: the minhash member of the family, same equivalence
    val mhGot = Vectors.minhashLsh(spark, TestSpark.sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val mhRaw = Vectors.minhashAgreePairs(spark, TestSpark.sf0001)
      .as[(Long, Long, Double)].collect().toSeq
    assert(mhGot.nonEmpty && mhGot == rank(mhRaw, Ordering.Double.TotalOrdering.reverse))
  }

  test("nearestMAssembly: selfDominates without memberRep.cnt is rejected up front") {
    val spark = TestSpark.spark
    import spark.implicits._
    val repPairs = Seq((1L, 3L, 2.0)).toDF("rep_a", "rep_b", "score")
    def assemble(memberRep: org.apache.spark.sql.DataFrame) =
      Vectors.nearestMAssembly(memberRep, repPairs, selfScore = 0.0, scoreAsc = true,
        m = Vectors.NearestM, selfDominates = true)
    val e = intercept[IllegalArgumentException] {
      assemble(Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "rep"))
    }
    assert(e.getMessage.contains("cnt"), e.getMessage)
    // the same members with their group sizes assemble: own-group, then cross
    val got = assemble(Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)).toDF("id", "rep", "cnt"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got == Seq((1L, 2L, 0.0, 1L), (1L, 3L, 2.0, 2L), (2L, 1L, 0.0, 1L),
      (2L, 3L, 2.0, 2L), (3L, 1L, 2.0, 1L), (3L, 2L, 2.0, 2L)))
  }

  test("split leakage audit equals a brute-force cross-split replay of the raw pair kernel") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val got = Vectors.splitLeakage(spark, d)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // independent split replay: the same pure integer draw, in plain Scala
    def u(id: Long) =
      ((id % 4294967296L) * 40503 % 4294967296L * 40503 % 4294967296L + 1).toDouble / 4294967297.0
    def split(id: Long) = {
      val x = u(id); if (x < 0.8) "train" else if (x < 0.9) "val" else "test"
    }
    // brute-force: symmetrize the (spec-only) unbounded member-level pair
    // list, keep eval→train edges, argmax per eval doc by (cos desc, id)
    val sym = Vectors.embedNeardupPairs(spark, d).as[(Long, Long, Double)]
      .collect().toSeq.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val bestMap = sym
      .filter { case (x, nbr, _) => split(x) != "train" && split(nbr) == "train" }
      .groupBy(_._1).map { case (x, ns) =>
        x -> ns.map { case (_, n, c) => (c, n) }
          .minBy { case (c, n) => (-c, n) }
      }
    val evalIds = Tables.embeddings(spark, d).select("vec_id").as[Long]
      .collect().toSeq.filter(split(_) != "train").sorted
    val want = evalIds.map { x =>
      bestMap.get(x) match {
        case Some((c, n)) => (x, split(x), 1L, n, c)
        case None         => (x, split(x), 0L, -1L, 0.0)
      }
    }
    assert(got == want)
    // the fixture must exercise both verdicts, or the equality is vacuous
    assert(got.exists(_._3 == 1L) && got.exists(_._3 == 0L))
  }

  test("SRP banding prunes: candidate pairs well under the full pair count") {
    val spark = TestSpark.spark
    val n = 2 * Tables.embeddings(spark, TestSpark.sf0001).count()
    val nCand = Vectors.srpCandidates(spark, TestSpark.sf0001).count()
    val total = n * (n - 1) / 2
    assert(nCand < total / 5, s"$nCand candidates of $total pairs — banding is vacuous")
    // and candidates still cover every planted pair (recall comes from here)
    assert(nCand >= Tables.embeddings(spark, TestSpark.sf0001).count())
  }

  test("persisted IVF index: partition-pruned query matches the in-query ANN recall") {
    val spark = TestSpark.spark
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Index.Ivf.build(spark, TestSpark.sf0001, idx)
    val probe = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).as[Array[Double]].head()
    val q = Vectors.queryIvfIndex(spark, idx, probe, topK = 10, nProbe = 4,
      excludeId = Some(0L))
    // ONE execution: its rows feed the recall check, its metrics the
    // pruning check (a second collect would re-execute with the lazily
    // cached listing and report zeroed driver metrics)
    val got = q.collect()
    val ids = got.map(_.getLong(0)).toSet
    assert(ids.size == 10 && !ids.contains(0L))
    // recall vs brute force — same bar as the in-query ANN test
    val exact = Vectors.cosineTopk(spark, TestSpark.sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(ids).size.toDouble / exact.size >= 0.5)
    // pruning evidence: the cluster IN-filter is a partition filter and the
    // executed scan listed only the probed directories
    val exec = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics("numPartitions").value == 4, scan.metrics("numPartitions").value)
  }

  test("VectorMeanAgg centroid equals the exact mean regardless of partitioning") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vecs = Seq(
      (0, Array(1.0, 2.0, 3.0)), (0, Array(3.0, 0.0, -1.0)), (0, Array(2.0, 4.0, 1.0)),
      (1, Array(-1.0, -2.0, 0.5)), (1, Array(1.0, 2.0, -0.5)))
    // 5 rows across 4 partitions forces non-trivial reduce+merge paths
    val ds = spark.createDataset(vecs).repartition(4).as[(Int, Array[Double])]
    val agg = new graft.functions.VectorMeanAgg
    val out = ds.groupByKey(_._1).agg(agg.toColumn.name("out"))
      .collect().toMap
    assert(out(0)._1 == 3L && out(1)._1 == 2L)
    assert(out(0)._2.toSeq == Seq(2.0, 2.0, 1.0))
    assert(out(1)._2.toSeq == Seq(0.0, 0.0, 0.0))
  }

  test("embed quantize: full-range codes, reconstruction bounded by scale/127, map-only") {
    val spark = TestSpark.spark
    val df = Vectors.embedQuantize(spark, TestSpark.sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dim") == 64L)
      val sc = r.getAs[Double]("scale_r")
      assert(sc > 0.0)
      val lo = r.getAs[Int]("code_min")
      val hi = r.getAs[Int]("code_max")
      assert(lo >= -127 && hi <= 127)
      // the max-|x| element codes to exactly ±127, so every vector
      // saturates one end of the range
      assert(hi == 127 || lo == -127)
      // truncating quantizer: |x - x̂| < scale/127 (+ rounding slack on
      // both reported values)
      assert(r.getAs[Double]("max_err_r") <= sc / 127.0 + 2e-4)
    }
    // map-only contract: no Exchange before the presentation sort's own
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), "quantization must not aggregate")
  }

  test("fixed-codebook PQ ADC equals an independent driver replay, deterministic") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val got = Vectors.annPqFixed(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got.length == 10)
    // independent replay: same pinned codebook, plain driver loops
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    val probe = vecs.find(_._1 == 0L).get._2
    val sub = probe.length / 8
    def q(x: Double): Long = math.floor(x * 1000.0).toLong
    def d2(v: Array[Double], m: Int, k: Int): Long = {
      var t = 0L
      for (j <- 0 until sub) {
        val dd = q(v(m * sub + j)) - Vectors.fixedCodebookEntry(m, k, j)
        t += dd * dd
      }
      t
    }
    val want = vecs.filter(_._1 != 0L).map { case (id, v) =>
      val adc = (0 until 8).map { m =>
        val bestK = (0 until 16).minBy(k => (d2(v, m, k), k))
        d2(probe, m, bestK)
      }.sum
      (id, adc)
    }.sortBy { case (id, adc) => (adc, id) }.take(10).toSeq
    assert(got == want)
    // two runs byte-equal (no training, no sampling — pure arithmetic)
    assert(got == Vectors.annPqFixed(spark, d).as[(Long, Long)].collect().toSeq)
  }

  test("fixed-centroid IVF equals an independent driver replay, deterministic") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val got = Vectors.annIvfFixed(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got.length == 10)
    // independent replay: same pinned centroids, plain driver loops
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    def q(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(x * 1000.0).toLong)
    def cellD2(qv: Array[Long], c: Int): Long =
      qv.indices.map { j =>
        val dd = qv(j) - Vectors.fixedCellEntry(c, j); dd * dd
      }.sum
    def assign(qv: Array[Long]): Int =
      (0 until Vectors.IvfFixedCells).minBy(c => (cellD2(qv, c), c))
    val probeQ = q(vecs.find(_._1 == 0L).get._2)
    val probed = (0 until Vectors.IvfFixedCells)
      .sortBy(c => (cellD2(probeQ, c), c)).take(4).toSet
    val want = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, q(v)) }
      .filter { case (_, qv) => probed.contains(assign(qv)) }
      .map { case (id, qv) =>
        (id, qv.indices.map { j =>
          val dd = qv(j) - probeQ(j); dd * dd
        }.sum)
      }
      .sortBy { case (id, d2) => (d2, id) }.take(10).toSeq
    assert(got == want)
    // probed cells genuinely restrict the scan (IVF semantics, not a
    // brute-force pass in disguise): some vector falls outside them
    assert(vecs.exists { case (id, v) => id != 0L && !probed.contains(assign(q(v))) })
    // two runs byte-equal (no training, no sampling — pure arithmetic)
    assert(got == Vectors.annIvfFixed(spark, d).as[(Long, Long)].collect().toSeq)
  }

  test("fixed IVFADC equals the cell-restricted fixed-PQ driver replay") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val got = Vectors.annIvfPqFixed(spark, d)
      .as[(Long, Long)].collect().toSeq
    assert(got.length == 10)
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    def q(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(x * 1000.0).toLong)
    def cellD2(qv: Array[Long], c: Int): Long =
      qv.indices.map { j =>
        val dd = qv(j) - Vectors.fixedCellEntry(c, j); dd * dd
      }.sum
    val probeQ = q(vecs.find(_._1 == 0L).get._2)
    val probed = (0 until Vectors.IvfFixedCells)
      .sortBy(c => (cellD2(probeQ, c), c)).take(4).toSet
    val sub = probeQ.length / 8
    def subD2(qv: Array[Long], m: Int, k: Int): Long =
      (0 until sub).map { j =>
        val dd = qv(m * sub + j) - Vectors.fixedCodebookEntry(m, k, j); dd * dd
      }.sum
    val want = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, q(v)) }
      .filter { case (_, qv) =>
        probed.contains((0 until Vectors.IvfFixedCells).minBy(c => (cellD2(qv, c), c)))
      }
      .map { case (id, qv) =>
        val adc = (0 until 8).map { m =>
          val bestK = (0 until 16).minBy(k => (subD2(qv, m, k), k))
          subD2(probeQ, m, bestK)
        }.sum
        (id, adc)
      }
      .sortBy { case (id, adc) => (adc, id) }.take(10).toSeq
    assert(got == want)
    assert(got == Vectors.annIvfPqFixed(spark, d).as[(Long, Long)].collect().toSeq)
  }

  test("persisted fixed-IVF query equals the in-query oracle-graduated twin at every nProbe") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val idx = java.nio.file.Files.createTempDirectory("ivf_fixed").toString
    Index.IvfFixed.build(spark, d, idx)
    val probe = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .where(col("vec_id") === 0).select(col("v"))
      .as[Array[Double]].head()
    // the at-rest serving path IS the annIvfFixed arithmetic: same cells,
    // same integer L2, same (d2, vec_id) order — the oracle that certifies
    // the in-query key transitively certifies the persisted layout
    val atRest = Vectors.queryIvfFixedIndex(spark, idx, probe,
      topK = 10, nProbe = 4, excludeId = Some(0L))
      .as[(Long, Long)].collect().toSeq
    val inQuery = Vectors.annIvfFixed(spark, d).as[(Long, Long)].collect().toSeq
    assert(atRest == inQuery)
    // the cell= partition pruning is real: serving touches a strict subset
    // of the cell dirs at nProbe < IvfFixedCells
    val dirs = new java.io.File(idx).listFiles().count(_.getName.startsWith("cell="))
    assert(dirs > 4, s"fixture spread over only $dirs cells")
    // exhaustive probe = brute integer L2 over everything
    val exhaustive = Vectors.queryIvfFixedIndex(spark, idx, probe,
      topK = 10, nProbe = Vectors.IvfFixedCells, excludeId = Some(0L))
      .as[(Long, Long)].collect().toSeq
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    def q(v: Array[Double]): Array[Long] = v.map(x => math.floor(x * 1000.0).toLong)
    val pq = q(probe)
    val want = vecs.filter(_._1 != 0L)
      .map { case (id, v) =>
        val qv = q(v)
        (id, qv.indices.map { j => val dd = qv(j) - pq(j); dd * dd }.sum)
      }
      .sortBy { case (id, d2) => (d2, id) }.take(10).toSeq
    assert(exhaustive == want)
  }

  test("persisted fixed-PQ codes query equals the in-query oracle-graduated twin") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val idx = java.nio.file.Files.createTempDirectory("pq_fixed").toString
    Index.PqFixed.build(spark, d, idx)
    val probe = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .where(col("vec_id") === 0).select(col("v"))
      .as[Array[Double]].head()
    val atRest = Vectors.queryPqFixedIndex(spark, idx, probe,
      topK = 10, excludeId = Some(0L))
      .as[(Long, Long)].collect().toSeq
    val inQuery = Vectors.annPqFixed(spark, d).as[(Long, Long)].collect().toSeq
    assert(atRest == inQuery)
    // rerun determinism (pure arithmetic, no training)
    assert(atRest == Vectors.queryPqFixedIndex(spark, idx, probe,
      topK = 10, excludeId = Some(0L)).as[(Long, Long)].collect().toSeq)
  }

  test("topic mix: covers the joined corpus, shares sum to ~1, weights invert shares") {
    val spark = TestSpark.spark
    val rows = Vectors.topicMix(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val total = rows.map(_.getLong(1)).sum
    // every embedded doc lands in exactly one topic
    val joined = graft.Tables.documents(spark, TestSpark.sf0001)
      .join(graft.Tables.embeddings(spark, TestSpark.sf0001),
        org.apache.spark.sql.functions.col("doc_id") ===
          org.apache.spark.sql.functions.col("vec_id")).count()
    assert(total == joined)
    // fixed-point floors: shares sum to 1 from below, within k floors
    val shareSum = rows.map(_.getDouble(4)).sum
    assert(shareSum <= 1.0 + 1e-9 && shareSum > 1.0 - rows.length * 1e-4)
    // weight is the uniform-target inverse of the share: w·k·n == total
    // up to the fixed-point floor
    rows.foreach { r =>
      val n = r.getLong(1); val w = r.getDouble(5)
      assert(math.abs(w - total.toDouble / (16.0 * n)) <= 1e-4)
    }
  }
}
