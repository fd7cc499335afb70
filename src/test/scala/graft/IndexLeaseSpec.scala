package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Encoded, Index, IndexCodec, IndexKind, IndexLease}

/** Cross-process/-thread mutual exclusion of index mutation (r12 verdict
  * #2): racing appends serialize on the lease and the final index equals a
  * serialization of both; the lease survives exceptions and orphaned leases
  * are taken over. */
class IndexLeaseSpec extends AnyFunSuite {

  private def tmpDir(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    f.deleteOnExit()
    f.getAbsolutePath
  }

  test("two racing appends both land; index equals the serial union") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    val raced = tmpDir("lease_race")
    val serial = tmpDir("lease_serial")
    Index.Minhash.build(spark, d, raced)
    Index.Minhash.build(spark, d, serial)
    def batch(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (1000000L + i, s"racing batch doc $i with words $i ${i * 7}"))
        .toDF("doc_id", "text")
    val b1 = batch(0 until 20)
    val b2 = batch(100 until 120)
    // race the two appends from two threads — without the lease, concurrent
    // jobs writing one path stomp each other's _temporary committer staging
    val t1 = new Thread(() => Index.Minhash.append(spark, raced, b1))
    val t2 = new Thread(() => Index.Minhash.append(spark, raced, b2))
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    Index.Minhash.append(spark, serial, b1)
    Index.Minhash.append(spark, serial, b2)
    def sigSet(dir: String): Set[Seq[Any]] =
      spark.read.parquet(s"$dir/sigs")
        .select(col("doc_id"), col("sig"))
        .collect().map(r => Seq(r.getLong(0), r.getSeq[Long](1))).toSet
    def bandSet(dir: String): Set[(Long, Int, Long)] =
      spark.read.parquet(s"$dir/banded")
        .select(col("doc_id"), col("band").cast("int"), col("key"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sigSet(raced) == sigSet(serial))
    assert(bandSet(raced) == bandSet(serial))
    // the lease itself is released
    assert(!new java.io.File(raced, "_lease").exists())
  }

  test("lease is released when the guarded block throws") {
    val spark = TestSpark.spark
    val dir = tmpDir("lease_throw")
    intercept[RuntimeException] {
      IndexLease.withLease(spark, s"$dir/_lease") {
        throw new RuntimeException("boom")
      }
    }
    assert(!new java.io.File(dir, "_lease").exists())
    // and a fresh acquire succeeds immediately
    val got = IndexLease.withLease(spark, s"$dir/_lease") { 42 }
    assert(got == 42)
  }

  test("an orphaned (stale) lease is taken over") {
    val spark = TestSpark.spark
    val dir = tmpDir("lease_stale")
    val lock = new java.io.File(dir, "_lease")
    lock.getParentFile.mkdirs()
    assert(lock.createNewFile())
    // age it past the takeover horizon
    assert(lock.setLastModified(
      System.currentTimeMillis() - IndexLease.StaleMs - 60000))
    val got = IndexLease.withLease(spark, lock.getAbsolutePath) { "took over" }
    assert(got == "took over")
    assert(!lock.exists())
  }

  test("ensureIndex adopts a committed index of the same dataset vintage across sessions") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = TestSpark.sf0001
    var builds = 0
    // unique kind per run: the warehouse survives across test JVMs, and a
    // leftover committed index of the same vintage would be ADOPTED by the
    // very first call (the feature under test, one JVM too early)
    val kind = new IndexKind(s"adopt_t_${System.nanoTime()}", "documents.parquet",
        Nil, IndexCodec.pure((_, _) => Encoded(Nil))) {
      override def build(s: org.apache.spark.sql.SparkSession, d: String, p: String): Unit = {
        builds += 1
        Seq((1L, "x")).toDF("id", "v").write.parquet(p)
      }
    }
    val p1 = Index.ensure(spark, kind, d)
    assert(builds == 1)
    Index.ensure(spark, kind, d) // same session: memo hit
    assert(builds == 1)
    assert(new java.io.File(p1, "_fp").exists(), "vintage sidecar committed")
    // a FRESH session (new memo identity) adopts the committed vintage via
    // the _fp sidecar instead of rebuilding — the cross-session serving
    // story: one build per corpus vintage, not per session
    val s2 = spark.newSession()
    val p2 = Index.ensure(s2, kind, d)
    assert(p2 == p1)
    assert(builds == 1, "adoption must not rebuild")
  }

  test("DataFp: an in-place dataset rewrite changes the fingerprint") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = tmpDir("fp_rewrite")
    System.setProperty("graft.fp.ttl.ms", "0")
    try {
      Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val fp1 = graft.operators.DataFp.of(spark, dir)
      Thread.sleep(1100) // mtime resolution can be a full second
      Seq((2L, "b"), (3L, "c")).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val fp2 = graft.operators.DataFp.of(spark, dir)
      assert(fp1 != fp2)
    } finally System.clearProperty("graft.fp.ttl.ms")
  }

  test("readWithRetry: a reader racing the commit swap never fails (VERDICT r13 #4)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = tmpDir("swap_race")
    val target = s"$base/idx"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(target).getFileSystem(hconf)
    Seq((1L, "seed")).toDF("id", "v").write.parquet(target)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      try {
        while (!stop.get()) {
          // the production read contract: retry path-missing failures
          // inside the swap window, propagate anything else
          val n = IndexLease.readWithRetry() {
            spark.read.parquet(target).count()
          }
          assert(n >= 1)
          reads.incrementAndGet()
          ()
        }
      } catch { case t: Throwable => readerFailure.set(t) })
    reader.start()
    // writer: loop the EXACT Index.ensure commit sequence — build a staging
    // sibling, move the live target aside, rename the staging in, delete
    // the old — the two-rename window the retry contract exists for
    try {
      (0 until 12).foreach { gen =>
        val tmp = new org.apache.hadoop.fs.Path(s"${target}__build_$gen")
        val old = new org.apache.hadoop.fs.Path(s"${target}__replaced_$gen")
        Seq((gen.toLong + 2, s"gen$gen")).toDF("id", "v").write.parquet(tmp.toString)
        val t = new org.apache.hadoop.fs.Path(target)
        if (fs.exists(t)) fs.rename(t, old)
        fs.rename(tmp, t)
        fs.delete(old, true)
        Thread.sleep(50)
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(readerFailure.get() == null,
      s"reader failed during a swap: ${readerFailure.get()}")
    assert(reads.get() > 0, "reader never completed a read")
  }

  test("a live lease blocks a second writer until released") {
    val spark = TestSpark.spark
    val dir = tmpDir("lease_block")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t1 = new Thread(() =>
      IndexLease.withLease(spark, s"$dir/_lease") {
        entered.countDown()
        release.await()
        order.add("first done")
        ()
      })
    t1.start()
    entered.await()
    val t2 = new Thread(() =>
      IndexLease.withLease(spark, s"$dir/_lease") {
        order.add("second ran")
        ()
      })
    t2.start()
    Thread.sleep(500) // second writer must still be waiting
    assert(order.isEmpty)
    release.countDown()
    t1.join(30000); t2.join(30000)
    assert(order.toArray.toSeq == Seq("first done", "second ran"))
  }
}
