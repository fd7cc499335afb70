package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Batch/stream agreement: the streaming pipelines replayed over the events
  * file must reproduce the batch (oracle-checked) results. */
class StreamingSpec extends AnyFunSuite {

  /** Write `df` as ONE parquet FILE at dir/name (the fixture layout: the
    * file-stream sources glob leaf file names, so a Spark output DIRECTORY
    * of that name would hide its part files): coalesce(1)-write to a temp
    * dir, move the lone part file into place, optionally pin the mtime
    * (the file source processes oldest-mtime first). */
  private def writeSingleParquet(dir: String, name: String,
      df: org.apache.spark.sql.DataFrame, mtime: Long = -1L): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("one_pq").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = tmp.listFiles()
    val part = listing
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in ${tmp}: ${listing.map(_.getName).mkString(", ")}"))
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.move(part.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // mtime drives the file source's batch order — a silent setLastModified
    // failure (coarse-mtime filesystems) would collapse the multi-batch
    // replay, so surface it as a test failure here, not as flakiness there
    if (mtime >= 0)
      assert(dst.toFile.setLastModified(mtime), s"setLastModified failed on $dst")
    // the temp write dir (_SUCCESS/.crc leftovers) is no longer needed
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }

  test("streaming tumbling window equals batch q_tumbling_window") {
    val spark = TestSpark.spark
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val got = Streams.runToCompletion(
      Streams.tumblingCounts(stream), "t_tumbling", "complete")
      .select(col("w_start"), col("event_type"), col("n"),
        round(col("sum_v"), 4).as("sum_v"))
      .orderBy(col("w_start"), col("event_type"))
      .collect().toSeq
    val want = operators.Events.tumblingWindow(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(got == want)
  }

  test("streaming sliding window equals batch q_sliding_window") {
    val spark = TestSpark.spark
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val got = Streams.runToCompletion(
      Streams.slidingCounts(stream), "t_sliding", "complete")
      .select(col("w_start"), col("n"), round(col("sum_v"), 4).as("sum_v"))
      .orderBy(col("w_start"))
      .collect().toSeq
    val want = operators.Events.slidingWindow(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(got == want)
  }

  test("streaming session window row counts match batch q_session_window") {
    val spark = TestSpark.spark
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val got = Streams.runToCompletion(
      Streams.sessionCounts(stream), "t_session", "complete")
      .orderBy(col("user_id"), col("sess_start"))
      .collect().toSeq
    val want = operators.Events.sessionWindow(spark, TestSpark.sf0001)
      .select(col("user_id"), col("sess_start"), col("n"))
      .collect().toSeq
    assert(got == want)
  }

  test("streaming incremental dedup replays to batch q_dedup_incremental exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the batch operator's fixture split: the 50 highest doc_ids are "new"
    val split = Tables.documents(spark, TestSpark.sf0001)
      .agg(max(col("doc_id")) - 49).head().getLong(0)
    val snaps = Streams.runToCompletion(
      Streams.incrementalDedupStream(spark, TestSpark.sf0001, split).toDF(),
      "t_incdedup", "update")
    // last snapshot per doc (single-batch replay emits one, but keep the
    // reduction correct for multi-batch sources)
    val got = snaps.groupBy(col("docId"))
      .agg(max(struct(col("nUpd"), col("nDups"), col("isDup"), col("bestJac"))).as("s"))
      .select(col("docId").as("doc_id"), col("s.nDups").as("n_dups"),
        col("s.isDup").as("is_dup"), round(col("s.bestJac"), 4).as("best_dup_jac"))
      .orderBy(col("doc_id"))
      .collect().toSeq
    val want = operators.Text.dedupIncremental(spark, TestSpark.sf0001)
      .collect().toSeq
    assert(got.length == want.length, s"${got.length} vs ${want.length} rows")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"stream $g vs batch $w") }
  }

  test("streaming Gopher gate replays to batch q_gopher_rules exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.gopherGateStream(spark, TestSpark.sf0001).toDF(), "t_gopher", "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val want = operators.Text.gopherRules(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming contamination screen replays to batch q_contamination exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.contaminationStream(spark, TestSpark.sf0001).toDF(), "t_contam", "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    val want = operators.Text.contamination(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming DSIR scorer replays to batch q_dsir_weights (weights to 1 ulp of the 4th decimal)") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.dsirScoreStream(spark, TestSpark.sf0001).toDF(), "t_dsir", "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = operators.Text.dsirWeights(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // ids and token counts are integer-exact; the 4-decimal-rounded weight
    // may differ by one ulp of the grid when the two sides' FP sums land on
    // opposite sides of a half-way rounding boundary (batch sums in
    // partition order, the stream in canonical bucket order — the
    // documented accepted-risk class)
    assert(got.nonEmpty && got.size == want.size)
    got.zip(want).foreach { case ((gi, gn, gw), (wi, wn, ww)) =>
      assert(gi == wi && gn == wn, s"row mismatch: $gi vs $wi")
      assert(math.abs(gw - ww) <= 1.00001e-4, s"doc $gi weight $gw vs $ww")
    }
  }

  test("streaming NB scorer replays to batch q_quality_classifier (llr to 1 ulp of the 4th decimal)") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.nbScoreStream(spark, TestSpark.sf0001).toDF(), "t_nb", "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
    val want = operators.Text.qualityClassifier(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq
    // same contract as the DSIR twin: ids/counts integer-exact, the rounded
    // llr within one ulp of the 4-decimal grid (partition-order vs
    // canonical-order FP summation), pred must agree whenever the llr is
    // not within a grid ulp of the 0 decision boundary
    assert(got.nonEmpty && got.size == want.size)
    got.zip(want).foreach { case ((gi, gn, gw, gp), (wi, wn, ww, wp)) =>
      assert(gi == wi && gn == wn, s"row mismatch: $gi vs $wi")
      assert(math.abs(gw - ww) <= 1.00001e-4, s"doc $gi llr $gw vs $ww")
      if (math.abs(ww) > 1.00001e-4) assert(gp == wp, s"doc $gi pred $gp vs $wp")
    }
  }

  test("streaming NB scorer: OOV terms score at the smoothed default instead of dying") {
    val spark = TestSpark.spark
    import spark.implicits._
    val trainDir = java.nio.file.Files.createTempDirectory("nb_train").toString
    val scoreDir = java.nio.file.Files.createTempDirectory("nb_score").toString
    def writeDocsFile(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
      writeSingleParquet(dir, "documents.parquet",
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    // 2-doc train corpus: one per class (both in the %10<7 train split)
    writeDocsFile(trainDir, Seq((1L, "alpha beta alpha", "en", "src1", 16L),
      (2L, "alpha gamma", "en", "src7", 11L)))
    // the arriving doc is ALL terms the model never saw
    writeDocsFile(scoreDir, Seq((9L, "zetaq zetaq", "en", "src9", 11L)))
    val got = Streams.runToCompletion(
      Streams.nbScoreStream(spark, trainDir, scoreDir).toDF(),
      "t_nb_novel", "append").collect()
    assert(got.length == 1)
    // closed-form: vocab {alpha,beta,gamma}, tot_hi=3, tot_lo=2, v=3,
    // priors 1/1; each OOV occurrence adds ln(1/6) - ln(1/5)
    val expect = BigDecimal(2.0 * (math.log(1.0 / 6.0) - math.log(1.0 / 5.0)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head.getLong(1) == 2L && got.head.getDouble(2) == expect,
      s"got ${got.head} want (_, 2, $expect)")
  }

  test("streaming epoch mix replays to batch q_epoch_mix exactly") {
    val spark = TestSpark.spark
    // the repeat decision is the one shared scalar kernel — row-exact
    val got = Streams.runToCompletion(
      Streams.epochMixStream(spark, TestSpark.sf0001).toDF(), "t_epochmix", "append")
      .orderBy(col("docId"), col("rep"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val want = operators.Export.epochMix(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming corpus diff replays to the batch key restricted to non-removed statuses") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.corpusDiffStream(spark, TestSpark.sf0001), "t_corpusdiff", "append")
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val want = operators.Export.corpusDiff(spark, TestSpark.sf0001)
      .where(col("status") =!= "removed")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(got.nonEmpty && got == want)
    // all three stream-expressible statuses are live in the replay
    assert(got.map(_._4).toSet == Set("added", "changed", "unchanged"))
  }

  test("streaming domain gate replays to batch q_domain_reputation exactly") {
    val spark = TestSpark.spark
    // integer arithmetic end to end — the replay is row-EXACT
    val got = Streams.runToCompletion(
      Streams.domainGateStream(spark, TestSpark.sf0001).toDF(), "t_domgate", "append")
      .orderBy(col("docId"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    val want = operators.Export.domainReputation(spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming domain gate: a never-seen site is admitted with the n_site=0 sentinel") {
    val spark = TestSpark.spark
    import spark.implicits._
    val trainDir = java.nio.file.Files.createTempDirectory("dom_train").toString
    val scoreDir = java.nio.file.Files.createTempDirectory("dom_score").toString
    def writeDocsFile(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
      writeSingleParquet(dir, "documents.parquet",
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    writeDocsFile(trainDir, Seq((1L, "plain words here", "en", "src1", 16L),
      (2L, "!!!! #### ????", "en", "src2", 14L)))
    // arriving doc is from a site the at-rest corpus never saw
    writeDocsFile(scoreDir, Seq((9L, "whatever text", "fr", "src9", 13L)))
    val got = Streams.runToCompletion(
      Streams.domainGateStream(spark, trainDir, scoreDir).toDF(),
      "t_domgate_novel", "append").collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "src9.example.com/fr")
    assert(got.head.getLong(2) == 0L && got.head.getLong(3) == -1L &&
      got.head.getString(4) == "keep", s"got ${got.head}")
  }

  test("streaming span scrub replays to batch q_span_scrub exactly, and scrubs arrivals against the at-rest dup set") {
    val spark = TestSpark.spark
    import spark.implicits._
    // replay equality: same corpus streamed — row-exact incl. the md5
    val got = Streams.runToCompletion(
      Streams.spanScrubStream(spark, TestSpark.sf0001).toDF(), "t_scrub", "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val want = operators.Text.spanScrub(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got.nonEmpty && got == want)
    assert(got.exists(_._3 > 0L) && got.exists(_._3 == 0L))
    // scrub-at-ingestion with DISJOINT corpora: the at-rest corpus holds a
    // duplicated span; an arriving doc carrying it loses exactly those
    // tokens, one carrying only novel text is untouched
    val trainDir = java.nio.file.Files.createTempDirectory("scrub_train").toString
    val scoreDir = java.nio.file.Files.createTempDirectory("scrub_score").toString
    def writeDocsFile(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
      writeSingleParquet(dir, "documents.parquet",
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val span = "v w x y z"
    writeDocsFile(trainDir, Seq(
      (1L, s"a b $span c d", "en", "src1", 0L),
      (2L, s"p q $span r s", "en", "src2", 0L)))
    writeDocsFile(scoreDir, Seq(
      (9L, s"new stuff $span more stuff", "en", "src9", 0L),
      (10L, "entirely novel tokens here now", "en", "src9", 0L)))
    val arr = Streams.runToCompletion(
      Streams.spanScrubStream(spark, trainDir, scoreDir).toDF(),
      "t_scrub_ingest", "append")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def m(s: String) = graft.functions.Hashing.md5Hex(s)
    assert(arr(9L) == ((9L, 5L, m("new stuff more stuff"))), s"got ${arr(9L)}")
    assert(arr(10L) == ((5L, 0L, m("entirely novel tokens here now"))))
  }

  test("streaming DSIR scorer scores novel-bucket documents at the smoothed prior instead of dying") {
    val spark = TestSpark.spark
    import spark.implicits._
    // train-offline / score-at-ingestion with DISJOINT corpora — the shape
    // the replay test above can never exercise (there the train and score
    // corpora coincide, so every scored bucket is in the model by
    // construction). A tiny 2-doc training corpus occupies a handful of the
    // 1024 buckets; the arriving document's tokens are picked to hash
    // OUTSIDE the occupied set, so a direct Map apply would have thrown.
    val mask = (operators.Text.DsirBuckets - 1).toLong
    def bucket(t: String): Long = graft.functions.Hashing.fnv64(t) & mask
    val trainDir = java.nio.file.Files.createTempDirectory("dsir_train").toString
    val scoreDir = java.nio.file.Files.createTempDirectory("dsir_score").toString
    def writeDocsFile(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
      writeSingleParquet(dir, "documents.parquet",
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
    writeDocsFile(trainDir, Seq((1L, "alpha beta alpha", "en", "src1", 16L),
      (2L, "alpha gamma", "en", "src2", 11L)))
    val occupied = Set("alpha", "beta", "gamma").map(bucket)
    val novel = Iterator.from(0).map(i => s"zqxv$i")
      .find(t => !occupied.contains(bucket(t))).get
    writeDocsFile(scoreDir,
      Seq((9L, s"$novel $novel $novel", "en", "src9", 3L * (novel.length + 1) - 1)))
    val got = Streams.runToCompletion(
      Streams.dsirScoreStream(spark, trainDir, scoreDir).toDF(),
      "t_dsir_novel", "append").collect()
    assert(got.length == 1)
    val prior = operators.Text.dsirDefaultLogr(spark, trainDir)
    val expect = BigDecimal(3.0 * prior)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head.getLong(1) == 3L && got.head.getDouble(2) == expect,
      s"got ${got.head} want (_, 3, $expect)")
  }

  test("watermarked stream-stream join replays to batch q_event_attribution exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.attributionStream(spark, TestSpark.sf0001), "t_attr", "append")
      .orderBy(col("purchase_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val want = operators.Events.eventAttribution(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("left-outer stream-stream join emits watermark-gated unmatched purchases across micro-batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Outer rows only emit when the watermark proves no future match can
    // arrive, and the watermark only advances BETWEEN micro-batches — so
    // replay the events as THREE time-ordered files (maxFilesPerTrigger=1):
    // two halves of the real data, then a far-future sentinel pair (user
    // -999, excluded from the comparison) that drags both sides' watermarks
    // past everything real; the engine's no-data micro-batch then evicts
    // and emits every held-back unmatched purchase.
    val src = Tables.events(spark, TestSpark.sf0001)
    val dir = java.nio.file.Files.createTempDirectory("attr_outer").toString
    def writeBatch(name: String, df: org.apache.spark.sql.DataFrame, mtime: Long): Unit =
      writeSingleParquet(dir, name, df, mtime)
    val (minUs, maxUs) = {
      val r = src.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val cutUs = (minUs + maxUs) / 2
    val sentinelUs = maxUs + 10L * 86400L * 1000000L
    val sentinel = Seq(
      (-1000L, sentinelUs, -999L, "purchase", 0.0, "{}"),
      (-1001L, sentinelUs + 3600L * 1000000L, -999L, "view", 0.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val t0 = System.currentTimeMillis()
    writeBatch("events1.parquet", src.where(unix_micros(col("ts")) <= cutUs), t0)
    writeBatch("events2.parquet", src.where(unix_micros(col("ts")) > cutUs), t0 + 2000)
    writeBatch("events3.parquet", sentinel, t0 + 4000)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val got = Streams.runToCompletion(
      Streams.attributionStreamOuter(stream), "t_attr_outer", "append")
      .where(col("user_id") =!= -999L)
      .orderBy(col("purchase_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val want = operators.Events.eventAttributionOuter(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // the replay must reproduce BOTH populations: matched pairs and the
    // watermark-flushed unmatched purchases (view_id = -1)
    assert(want.exists(_._4 == -1L) && want.exists(_._4 != -1L),
      "fixture must exercise both outer populations")
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
  }

  test("streaming chunker replays to batch q_chunk_tokens exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.chunkStream(spark, TestSpark.sf0001), "t_chunk", "append")
      .orderBy(col("doc_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    val want = operators.Text.chunkTokens(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming HTML extractor replays to batch q_html_strip exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.htmlStripStream(spark, TestSpark.sf0001), "t_html", "append")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    val want = operators.Html.htmlStrip(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming bloom screen replays to batch q_bloom_dedup exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.bloomScreenStream(spark, TestSpark.sf0001), "t_bloom", "append")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = operators.Text.bloomDedup(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming minhash screen replays to batch on BOTH paths (broadcast / stream-static)") {
    val spark = TestSpark.spark
    // threshold forced each way: MaxValue → driver-broadcast maps (append,
    // stateless); 0 → stream-static index join + reduceGroups (update —
    // the fallback carries a streaming aggregation)
    def run(ceiling: Long, name: String, mode: String) = Streams.runToCompletion(
      Streams.minhashScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, mode)
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = operators.Vectors.minhashScreenAtRest(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val broadcast = run(Long.MaxValue, "t_mh_screen_bc", "append")
    assert(broadcast.nonEmpty && broadcast == want)
    val static = run(0L, "t_mh_screen_ss", "update")
    assert(static == want)
  }

  test("streaming screens respect index tombstones on both load paths") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the memoized at-rest index dir the stream screens resolve internally
    val idx = operators.Index.ensure(spark, operators.Index.Minhash, TestSpark.sf0001)
    def run(ceiling: Long, name: String, mode: String) = Streams.runToCompletion(
      Streams.minhashScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, mode)
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // victim: some incoming doc's current best at-rest match
    val victim = run(Long.MaxValue, "t_mh_ts_pre", "append")
      .collectFirst { case (_, 1L, ref) => ref }
    assume(victim.nonEmpty, "fixture has no at-rest dup to delete")
    try {
      operators.Index.delete(spark, idx, Seq(victim.get).toDF("doc_id"))
      val afterBc = run(Long.MaxValue, "t_mh_ts_bc", "append")
      assert(afterBc.forall(_._3 != victim.get),
        "broadcast path matched a tombstoned doc")
      val afterSs = run(0L, "t_mh_ts_ss", "update")
      assert(afterSs.forall(_._3 != victim.get),
        "stream-static path matched a tombstoned doc")
      // batch kernel agrees with both streaming paths post-delete
      val batchAfter = operators.Vectors.minhashScreenOf(spark, idx,
          Tables.documents(spark, TestSpark.sf0001)
            .where(col("source") === operators.Vectors.MinhashBatchSource))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(afterBc == batchAfter && afterSs == batchAfter)
    } finally {
      // restore the shared memoized index for the other suites
      val p = new org.apache.hadoop.fs.Path(s"$idx/_tombstones")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("streaming simhash screen replays to batch on BOTH paths (broadcast / stream-static)") {
    val spark = TestSpark.spark
    def run(ceiling: Long, name: String, mode: String) = Streams.runToCompletion(
      Streams.simhashScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, mode)
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = operators.Vectors.simhashScreenAtRest(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val broadcast = run(Long.MaxValue, "t_sh_screen_bc", "append")
    assert(broadcast.nonEmpty && broadcast == want)
    val static = run(0L, "t_sh_screen_ss", "update")
    assert(static == want)
  }

  test("streaming audio features replay to batch q_audio_features exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.audioFeaturesStream(spark, TestSpark.sf0001),
      "t_audio_features", "append")
      .orderBy(col("doc_id"), col("window_idx"))
      .collect().map(_.toSeq).toSeq
    val want = operators.Audio.audioFeatures(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming video scene detection replays to batch q_video_scenes exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.videoScenesStream(spark, TestSpark.sf0001),
      "t_video_scenes", "append")
      .orderBy(col("doc_id"), col("scene_id"))
      .collect().map(_.toSeq).toSeq
    val want = operators.Video.videoScenes(spark, TestSpark.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("streaming video screen replays to batch on BOTH paths (broadcast / static join)") {
    val spark = TestSpark.spark
    def run(ceiling: Long, name: String) = Streams.runToCompletion(
      Streams.vsigScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = operators.Video.videoScreenAtRest(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val broadcast = run(Long.MaxValue, "t_vsig_screen_bc")
    assert(broadcast.nonEmpty && broadcast == want)
    val static = run(0L, "t_vsig_screen_ss")
    assert(static == want)
  }

  test("streaming audio screen replays to batch on BOTH paths (broadcast / static join)") {
    val spark = TestSpark.spark
    def run(ceiling: Long, name: String) = Streams.runToCompletion(
      Streams.afpScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = operators.Audio.audioScreenAtRest(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val broadcast = run(Long.MaxValue, "t_afp_screen_bc")
    assert(broadcast.nonEmpty && broadcast == want)
    val static = run(0L, "t_afp_screen_ss")
    assert(static == want)
  }

  test("streaming image screen replays to batch on BOTH paths (broadcast / static join)") {
    val spark = TestSpark.spark
    def run(ceiling: Long, name: String) = Streams.runToCompletion(
      Streams.dhashScreenStream(spark, TestSpark.sf0001,
        maxBroadcastRefs = ceiling).toDF(), name, "append")
      .orderBy(col("docId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = operators.Multimodal.imageScreenAtRest(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val broadcast = run(Long.MaxValue, "t_dh_screen_bc")
    assert(broadcast.nonEmpty && broadcast == want)
    val static = run(0L, "t_dh_screen_ss")
    assert(static == want)
  }

  test("streaming PII scrub replays to batch q_pii_scrub exactly") {
    val spark = TestSpark.spark
    val got = Streams.runToCompletion(
      Streams.piiScrubStream(spark, TestSpark.sf0001), "t_pii", "append")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    val want = operators.Text.piiScrub(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("dropDuplicatesWithinWatermark keeps one row per event_id") {
    val spark = TestSpark.spark
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val got = Streams.runToCompletion(
      Streams.dedupStream(stream).select(col("event_id")), "t_dedup", "append")
    val total = Tables.events(spark, TestSpark.sf0001).count()
    assert(got.count() == total) // event_ids are unique → all kept, none dropped
    assert(got.distinct().count() == total)
  }

  test("append-mode parquet file sink with checkpoint is exactly-once across restarts") {
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("stream_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt").toString
    def run(): Unit = Streams.runToFiles(
      Streams.dedupStream(Streams.eventsStream(spark, TestSpark.sf0001))
        .select(col("event_id"), col("user_id"), col("event_type")),
      out, ckpt)
    run()
    val total = Tables.events(spark, TestSpark.sf0001).count()
    val first = spark.read.parquet(out)
    assert(first.count() == total && first.select(col("event_id")).distinct().count() == total)
    // restart from the same checkpoint with no new source data: the
    // committed batches must NOT re-emit — exactly-once, not at-least-once
    run()
    assert(spark.read.parquet(out).count() == total)
  }

  test("streaming top-k keyed state matches the batch TopKPerGroup operator") {
    val spark = TestSpark.spark
    val k = 5
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val updates = Streams.runToCompletion(
      Streams.streamingTopK(spark, stream, k).toDF(), "t_topk", "update")
    // final state per event_type = the snapshot with the max nSeen
    val got = updates.groupBy(col("eventType"))
      .agg(max(struct(col("nSeen"), col("topIds"), col("topVals"))).as("s"))
      .select(col("eventType"), col("s.topIds").as("ids"),
        transform(col("s.topVals"), v => round(v, 4)).as("vals"))
      .orderBy(col("eventType")).collect().toSeq
    val want = plans.TopKPerGroup.topK(
        Tables.events(spark, TestSpark.sf0001)
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), Seq(("value", false), ("event_id", true)), k)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("rn"), col("event_id"), col("value")))).as("t"))
      .select(col("event_type"),
        transform(col("t"), r => r.getField("event_id")).as("ids"),
        transform(col("t"), r => round(r.getField("value"), 4)).as("vals"))
      .orderBy(col("event_type")).collect().toSeq
    assert(got == want)
  }

  test("flatMapGroupsWithState running per-user aggregate matches batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val finalRows = Streams.runToCompletion(
      Streams.statefulUserAgg(spark, stream).toDF(), "t_state", "update")
    // in update mode the memory sink holds every emitted update; the final
    // state per user is the row with the max nEvents
    val got = finalRows.groupBy(col("userId"))
      .agg(max(struct(col("nEvents"), col("maxValue"))).as("s"))
      .select(col("userId"), col("s.nEvents").as("n"), round(col("s.maxValue"), 4).as("mx"))
      .orderBy(col("userId")).collect().toSeq
    val want = Tables.events(spark, TestSpark.sf0001)
      .groupBy(col("user_id").as("userId"))
      .agg(count(lit(1)).as("n"), round(max(col("value")), 4).as("mx"))
      .orderBy(col("userId")).collect().toSeq
    assert(got == want)
  }

  test("exactly-once index ingest: micro-batch replay leaves index state identical") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col => c}
    val base = java.nio.file.Files.createTempDirectory("ingest").toString
    val (idx, ckpt) = (s"$base/idx", s"$base/ckpt")

    def state(): (Seq[Seq[Any]], Seq[Seq[Any]]) = (
      spark.read.parquet(s"$idx/banded")
        .select(c("doc_id"), c("band"), c("key"), c("batch_id"))
        .orderBy(c("doc_id"), c("band")).collect().toSeq.map(_.toSeq),
      spark.read.parquet(s"$idx/sigs")
        .select(c("doc_id"), c("sig"), c("batch_id"))
        .orderBy(c("doc_id")).collect().toSeq.map(_.toSeq))

    // 1) the real stream: docs source → foreachBatch idempotent sink
    val q1 = Streams.minhashIngestSink(spark, TestSpark.sf0001, idx, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val once = state()
    assert(once._1.nonEmpty && once._2.nonEmpty)

    // 2) crash replay: Structured Streaming re-delivers the last
    // uncommitted micro-batch with the SAME batchId — invoke the sink
    // function literally again (batchId 0, same rows). Dynamic partition
    // overwrite must leave the index byte-identical, not doubled.
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(c("doc_id"), c("text"))
    operators.Index.Minhash.ingest(spark, idx, docs, 0L)
    assert(state() == once, "micro-batch replay changed index state")

    // 3) restart against the same checkpoint: committed batches re-emit
    // nothing — state still identical
    val q2 = Streams.minhashIngestSink(spark, TestSpark.sf0001, idx, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(state() == once, "checkpoint restart re-emitted a committed batch")

    // 4) readers are unaffected by the batch_id partition column: screening
    // the ingested docs against the ingested index flags every doc as a
    // dup of itself (perfect 32/32 self-agreement)
    val verdicts = operators.Vectors.minhashScreenOf(spark, idx, docs)
    assert(verdicts.where(c("is_dup") =!= 1).isEmpty)
  }

  test("incremental curation sink: gates + within/cross-batch dedup, exactly-once replay") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val base = java.nio.file.Files.createTempDirectory("curate").toString
    val (idx, out) = (s"$base/idx", s"$base/out")
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(c("doc_id"), c("text"))
    val split = 250L
    Streams.curateMicroBatch(spark, idx, out, docs.where(c("doc_id") < split), 0L)
    val acc0 = spark.read.parquet(out).select(c("doc_id")).as[Long].collect().sorted
    assert(acc0.nonEmpty)
    // batch 1 carries a verbatim CLONE (fresh id) of an accepted batch-0
    // doc — the cross-batch dedup witness
    val cloneText = docs.where(c("doc_id") === acc0.head)
      .select(c("text")).collect()(0).getString(0)
    val b1 = docs.where(c("doc_id") >= split)
      .union(Seq((100000L, cloneText)).toDF("doc_id", "text"))
    Streams.curateMicroBatch(spark, idx, out, b1, 1L)
    def state(): (Seq[Seq[Any]], Seq[Seq[Any]]) = (
      spark.read.parquet(out).select(c("doc_id"), c("batch_id"))
        .orderBy(c("doc_id")).collect().toSeq.map(_.toSeq),
      spark.read.parquet(s"$idx/sigs").select(c("doc_id"), c("batch_id"))
        .orderBy(c("doc_id")).collect().toSeq.map(_.toSeq))
    val once = state()
    val accepted = spark.read.parquet(out)
      .select(c("doc_id"), c("text")).collect()
    // cross-batch dedup: the clone was screened out by the ingested index
    assert(!accepted.map(_.getLong(0)).contains(100000L),
      "clone of an accepted prior-batch doc must be screened out")
    // quality gate: every accepted doc passes the shared Gopher kernel
    accepted.foreach { r =>
      assert(Streams.gopherSnapOf(r.getLong(0), r.getString(1)).keep == 1L)
    }
    // exact dedup: no two accepted docs share a text
    assert(accepted.map(_.getString(1)).distinct.length == accepted.length)
    // near-dup contract: no accepted pair is a banded candidate at >= the
    // family agreement floor (the same candidate relation the q_minhash_*
    // family verifies: >= 1 shared band, then exact agreement)
    val sigRows = graft.operators.Vectors
      .minhashSigsOf(spark.read.parquet(out).select(c("doc_id"), c("text")))
      .select(c("doc_id"), c("bands"), c("sig"))
      .as[(Long, Array[Long], Array[Long])].collect()
    for (i <- sigRows.indices; j <- i + 1 until sigRows.length) {
      val shareBand = sigRows(i)._2.zip(sigRows(j)._2).exists { case (x, y) => x == y }
      if (shareBand) {
        val m = sigRows(i)._3.zip(sigRows(j)._3).count { case (x, y) => x == y }
        assert(m < graft.operators.DedupCluster.MinhashRepsMinAgree,
          s"accepted near-dup pair ${sigRows(i)._1}/${sigRows(j)._1} at m=$m")
      }
    }
    // exactly-once: a literal crash replay of batch 1 (same batchId, same
    // rows, index already containing batch 1's own partitions) leaves
    // accepted output AND index state byte-identical
    Streams.curateMicroBatch(spark, idx, out, b1, 1L)
    assert(state() == once, "micro-batch replay changed curation state")
    // end-to-end stream form: the file source delivers the corpus as one
    // micro-batch; result equals the direct single-batch invocation
    val base2 = java.nio.file.Files.createTempDirectory("curate2").toString
    val q = Streams.curateIngestSink(spark, TestSpark.sf0001,
      s"$base2/idx", s"$base2/out", s"$base2/ckpt")
    try q.processAllAvailable() finally q.stop()
    val streamAcc = spark.read.parquet(s"$base2/out")
      .select(c("doc_id")).as[Long].collect().sorted.toSeq
    val base3 = java.nio.file.Files.createTempDirectory("curate3").toString
    Streams.curateMicroBatch(spark, s"$base3/idx", s"$base3/out", docs, 0L)
    val directAcc = spark.read.parquet(s"$base3/out")
      .select(c("doc_id")).as[Long].collect().sorted.toSeq
    assert(streamAcc == directAcc)
  }

  test("curation edge cases: null text degrades to a drop verdict; an all-rejected first batch does not brick the index") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    // null text -> zero tokens -> all-flags-zero drop, no NaN throw
    val snap = Streams.gopherSnapOf(7L, null)
    assert(snap.keep == 0L && snap.nTokens == 0L && snap.mwlR == 0.0)
    val base = java.nio.file.Files.createTempDirectory("curate_edge").toString
    val (idx, out) = (s"$base/idx", s"$base/out")
    // batch 0: every doc fails the Gopher token floor -> accepted empty ->
    // NO schema-less index dirs may be written
    val bad = Seq((1L, "too short"), (2L, "way too short")).toDF("doc_id", "text")
    Streams.curateMicroBatch(spark, idx, out, bad, 0L)
    // batch 1: a normal corpus screens and ingests cleanly afterwards
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(c("doc_id"), c("text"))
    Streams.curateMicroBatch(spark, idx, out, docs, 1L)
    val accepted = spark.read.parquet(out).select(c("doc_id")).as[Long].collect()
    assert(accepted.nonEmpty)
    assert(spark.read.parquet(s"$idx/sigs").count() == accepted.length)
  }

  test("streaming funnel keyed state matches the batch ordered funnel") {
    val spark = TestSpark.spark
    val stream = Streams.eventsStream(spark, TestSpark.sf0001)
    val updates = Streams.runToCompletion(
      Streams.streamingFunnel(spark, stream).toDF(), "t_funnel", "update")
    // latest snapshot per user = max nUpd
    val got = updates.groupBy(col("userId"))
      .agg(max(struct(col("nUpd"), col("viewUs"), col("clickUs"),
        col("purchaseUs"), col("stage"))).as("s"))
      .select(col("userId"), col("s.viewUs"), col("s.clickUs"),
        col("s.purchaseUs"), col("s.stage"))
      .orderBy(col("userId")).collect().toSeq
    val want = operators.Events.eventFunnel(spark, TestSpark.sf0001)
      .select(col("user_id"), col("view_us"), col("click_us"),
        col("purchase_us"), col("stage"))
      .orderBy(col("user_id")).collect().toSeq
    assert(got.nonEmpty && got == want)
  }
}
