package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Search

/** At-rest keyword serving. The BM25 arithmetic is oracle-hash-checked in
  * the driver gate; these specs pin the INDEX lifecycle: directory-level
  * partition pruning on the probe, the append path reproducing a one-shot
  * build bit-for-bit (postings + stats-log deltas), and determinism. */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"kwidx_$tag").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("a probe leaves nothing in the session's cache") {
    val idx = freshDir("nocache")
    Search.writeKeywordIndex(spark, sf, idx)
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    assert(Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().length == Search.Queries.size * Search.TopK)
    assert(cache.isEmpty, "probeKeywordIndex left a cached Dataset behind")
  }

  test("hybrid RRF leaves nothing in the session's cache") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    assert(Search.hybridRrf(spark, sf).collect().nonEmpty)
    assert(cache.isEmpty, "hybridRrf left a cached Dataset behind")
  }

  test("probe prunes to the query terms' tb partitions at directory level") {
    val idx = freshDir("prune")
    Search.writeKeywordIndex(spark, sf, idx)
    val nBuckets = new java.io.File(s"$idx/postings").listFiles()
      .count(_.getName.startsWith("tb="))
    val probed = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
    // collect exactly ONCE, then read the executed plan (a second action
    // re-executes with cached listings and driver metrics report 0)
    val rows = probed.collect()
    assert(rows.length == Search.Queries.size * Search.TopK)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined, plan)
    // the workload's distinct buckets are fewer than the on-disk fan-out,
    // so pruning must cut the directory count actually scanned
    val wantBuckets = Search.Queries
      .flatMap(_._2.split("\\s+")).distinct.map(Search.tbOfStr).distinct.size
    assert(wantBuckets < nBuckets, s"fixture degenerate: $wantBuckets vs $nBuckets dirs")
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("postings"))
    assert(scan.isDefined, plan)
  }

  test("append path reproduces the one-shot build bit-for-bit, stats log aggregates deltas") {
    val docs = Tables.documents(spark, sf)
    val oneShot = freshDir("full")
    Search.writeKeywordIndex(spark, sf, oneShot)
    val grown = freshDir("grown")
    Search.appendKeywordIndex(spark, grown, docs.where(col("source") =!= "src0"))
    // pre-append probe serves the partial corpus (its own exact stats)
    val partial = Search.probeKeywordIndex(spark, grown, Search.Queries, Search.TopK).collect()
    Search.appendKeywordIndex(spark, grown, docs.where(col("source") === "src0"))
    val after = Search.probeKeywordIndex(spark, grown, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    val full = Search.probeKeywordIndex(spark, oneShot, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    assert(after == full, "appended index diverges from the one-shot build")
    assert(partial.map(_.toSeq).toSeq != full, "fixture degenerate: src0 docs never rank")
    // the stats sidecar is an append-only delta log: one row per append,
    // aggregating to the exact corpus totals
    val log = spark.read.parquet(s"$grown/_statslog").collect()
    assert(log.length == 2)
    assert(log.map(_.getLong(0)).sum == docs.count())
    val wantSumDl = docs
      .select(size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("dl"))
      .agg(sum(col("dl"))).head().getLong(0)
    assert(log.map(_.getLong(1)).sum == wantSumDl)
  }

  test("takedown hides a doc immediately; compaction leaves no statistical residue") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val idx = freshDir("life")
    Search.writeKeywordIndex(spark, sf, idx)
    val before = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK).collect()
    val victim = before.head.getLong(2) // query 0's top hit
    val victimDf = Seq(victim).toDF("doc_id")
    operators.Vectors.deleteFromIndex(spark, idx, victimDf)
    val after = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK).collect()
    assert(!after.exists(_.getLong(2) == victim), "tombstoned doc still ranks")
    assert(after.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "query 0 lost its whole result instead of re-ranking")
    // physical compaction: postings rewritten without the victim, stats
    // log rebuilt — from here the index must be BIT-IDENTICAL to a fresh
    // build over the surviving corpus
    Search.compactKeywordIndex(spark, idx)
    val cleanIdx = freshDir("clean")
    Search.appendKeywordIndex(spark, cleanIdx,
      docs.where(col("doc_id") =!= victim))
    val compacted = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    val clean = Search.probeKeywordIndex(spark, cleanIdx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    assert(compacted == clean, "compacted index diverges from a fresh victim-free build")
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id") === victim).count() == 0, "victim rows survived compaction")
    assert(operators.Vectors.tombstonesOf(spark, idx).isEmpty, "tombstones not cleared")
    val st = spark.read.parquet(s"$idx/_statslog").collect()
    assert(st.length == 1 && st.head.getLong(0) == docs.count() - 1)
  }

  test("hybrid RRF: fusion arithmetic replays from the leg ranks, legs both live, probes excluded") {
    val got = Search.hybridRrf(spark, sf).collect()
    assert(got.length == Search.HybridProbes.size * Search.HybridK)
    got.foreach { r =>
      val rl = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val rs = if (r.isNullAt(5)) None else Some(r.getLong(5))
      // BigDecimal.decimal = valueOf semantics, matching Spark's round()
      val want = BigDecimal.decimal(
          rl.map(x => 1.0 / (Search.RrfK + x)).getOrElse(0.0) +
          rs.map(x => 1.0 / (Search.RrfK + x)).getOrElse(0.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - want) < 1e-9,
        s"rrf of (${r.getLong(0)}, ${r.getLong(2)}): ${r.getDouble(3)} vs $want")
      assert(rl.nonEmpty || rs.nonEmpty, "a fused row with no leg")
      assert(!Search.HybridProbes.contains(r.getLong(2)), "a probe retrieved itself")
    }
    // fusion is meaningful: some results carry both legs, and within each
    // query the rrf score is non-increasing with rank
    assert(got.exists(r => !r.isNullAt(4) && !r.isNullAt(5)), "no doc ranked by both legs")
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to Search.HybridK.toLong))
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"query $qid order")
    }
    val again = Search.hybridRrf(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("indexed hybrid: both legs index-served (plan-pruned), fused output equals brute when recall@SemTopN = 1") {
    val brute = Search.hybridRrf(spark, sf)
    val indexed = Search.hybridRrfIndexed(spark, sf)
    val gotIdx = indexed.collect()
    // both legs come off the persisted layouts: the postings scan prunes on
    // tb= and the vector scan prunes on cluster= (directory-level, the whole
    // point of the indexed mode)
    val plan = indexed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      "lexical leg not pruned to term buckets")
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      "semantic leg not pruned to probed clusters")
    assert(!plan.contains("documents.parquet") && !plan.contains("embeddings.parquet"),
      "indexed mode still scans the corpus")

    // referee: the brute semantic leg's top-SemTopN per probe, replayed
    // driver-side on the fixture (bounded: |fixture| vectors)
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect()
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double): Double =
      BigDecimal.decimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byId = vecs.toMap
    val bruteTop: Map[Long, Seq[Long]] = Search.HybridProbes.map { pid =>
      val pv = byId(pid)
      pid -> vecs.filter(_._1 != pid)
        .map { case (id, v) => (id, r4(cos(v, pv))) }
        .sortBy { case (id, c) => (-c, id) }
        .take(Search.SemTopN).map(_._1).toSeq
    }.toMap
    val idxIvf = operators.Vectors.ensureIndex(spark, "ivf", sf)(
      p => operators.Vectors.writeIvfIndex(spark, sf, p))
    val recalls = Search.HybridProbes.map { pid =>
      val retrieved = operators.Vectors.queryIvfIndex(spark, idxIvf, byId(pid),
          topK = Search.SemTopN + Search.SemSlack, nProbe = 4, excludeId = Some(pid))
        .collect().map(_.getLong(0)).toSet
      bruteTop(pid).count(retrieved).toDouble / Search.SemTopN
    }
    // serving-nProbe recall floor: measured, not assumed — the fixture's
    // near-uniform embeddings scatter neighbors across cells, so this bar
    // is a degeneracy tripwire, not a quality claim (equality is proven at
    // exhaustive nProbe below)
    assert(recalls.forall(_ >= 0.4), s"IVF recall@${Search.SemTopN} collapsed: $recalls")
    if (recalls.forall(_ == 1.0)) {
      assert(brute.collect().map(_.toSeq).toSeq == gotIdx.map(_.toSeq).toSeq,
        "recall@SemTopN = 1 but fused outputs diverge")
    } else info(s"serving-nProbe recall on fixture: $recalls")
    val again = Search.hybridRrfIndexed(spark, sf).collect()
    assert(gotIdx.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "rerun determinism")
  }

  test("indexed hybrid at exhaustive nProbe: fused output bit-equal to brute hybridRrf") {
    // nProbe = all 16 cells ⇒ the semantic retrieval covers every vector,
    // recall@SemTopN = 1 by construction — this pins the lexical leg, the
    // slacked (rounded score, doc_id) re-rank, and the RRF fusion against
    // the brute contract bit-for-bit; partition PRUNING is covered by the
    // serving-nProbe case above
    val brute = Search.hybridRrf(spark, sf).collect()
    val exhaustive = Search.hybridRrfIndexedWith(spark, sf, nProbe = 16).collect()
    assert(brute.map(_.toSeq).toSeq == exhaustive.map(_.toSeq).toSeq)
  }

  test("indexed hybrid PQ leg: exhaustive-candidate fused output bit-equal to brute; serving mode deterministic") {
    // pqCand >= fixture corpus makes the exact refine cover every vector —
    // recall 1 by construction, pinning the ADC plumbing + fusion exactly
    val brute = Search.hybridRrf(spark, sf).collect()
    val pq = Search.hybridRrfIndexedWith(spark, sf, nProbe = 16,
      semLeg = "pq", pqCand = 100000).collect()
    assert(brute.map(_.toSeq).toSeq == pq.map(_.toSeq).toSeq)
    // serving config (50 ADC candidates): well-formed + rerun-deterministic
    val serve = Search.hybridRrfIndexedWith(spark, sf, nProbe = 16, semLeg = "pq")
    val got = serve.collect()
    assert(got.length == Search.HybridProbes.size * Search.HybridK)
    val again = Search.hybridRrfIndexedWith(spark, sf, nProbe = 16, semLeg = "pq").collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("fixed indexed hybrid: sem leg cell-pruned at rest, no corpus scan, deterministic") {
    val df = Search.hybridRrfIndexedFixed(spark, sf)
    val got = df.collect()
    // both legs come off persisted layouts: postings prune on tb=, the
    // fixed-IVF vectors prune on cell= (directory-level)
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      "lexical leg not pruned to term buckets")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      "semantic leg not pruned to probed fixed cells")
    assert(!plan.contains("documents.parquet") && !plan.contains("embeddings.parquet"),
      "fixed indexed mode still scans the corpus")
    // fused contract shape: dense ranks, non-increasing rrf within a query
    Search.HybridProbes.foreach { qid =>
      val rows = got.filter(_.getLong(0) == qid)
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to Search.HybridK.toLong))
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"query $qid order")
      assert(!rows.exists(_.getLong(2) == qid), s"query $qid includes itself")
    }
    val again = Search.hybridRrfIndexedFixed(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("fixed PQ hybrid: sem leg is an 8-byte-codes ADC scan, deterministic, lex leg shared") {
    val df = Search.hybridRrfPqFixed(spark, sf)
    val got = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet") && !plan.contains("embeddings.parquet"),
      "fixed PQ mode still scans the corpus")
    // the persisted codes table really is PqM bytes per vector
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val codesDir = s"$wh/graft_index/pq_fixed_" + sf.replaceAll("[^A-Za-z0-9._-]", "_")
    val codes = spark.read.parquet(s"$codesDir/codes")
    import spark.implicits._
    val lens = codes.select(length(col("codes"))).distinct().as[Int].collect().toSeq
    assert(lens == Seq(graft.operators.Vectors.PqM),
      s"codes rows are $lens bytes, expected ${graft.operators.Vectors.PqM}")
    // the lexical ranks agree with the IVF-mode fixed key (shared leg)
    val ivf = Search.hybridRrfIndexedFixed(spark, sf).collect()
    def lexRanks(rows: Array[org.apache.spark.sql.Row]) =
      rows.flatMap(r => Option(r.get(4)).map(v => ((r.getLong(0), r.getLong(2)), v)))
        .toMap
    val shared = lexRanks(got).keySet.intersect(lexRanks(ivf).keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(lexRanks(got)(k) == lexRanks(ivf)(k), s"lex rank differs at $k"))
    val again = Search.hybridRrfPqFixed(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("brute fused referee persists at rest per corpus vintage; persisted ≡ recomputed (VERDICT r14 #1)") {
    // the contract key derives the referee (and writes the hybref vintage
    // on first certification of this corpus fingerprint)
    val first = Search.hybridRrfIndexedContract(spark, sf).collect()
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(
      s"$wh/graft_index/hybref_" + sf.replaceAll("[^A-Za-z0-9._-]", "_"))
    val fp = operators.DataFp.of(spark, sf)
    val vintages = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName == s"fp_${java.lang.Long.toHexString(fp)}")
    assert(vintages.length == 1,
      s"expected the current corpus vintage persisted, got ${vintages.toSeq}")
    // persisted ≡ recomputed: the sidecar rows ARE the brute contract rows
    val persisted = spark.read.parquet(vintages.head.getAbsolutePath)
      .orderBy(col("query_id"), col("rnk"))
      .collect().map(_.toSeq).toSeq
    val recomputed = Search.hybridRrf(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(persisted == recomputed, "persisted referee diverges from a brute recompute")
    // cross-session adoption: a NEW session (fresh memo identity) must
    // serve the contract from the sidecar — same rows, no brute pass
    val s2 = spark.newSession()
    GraftSession.install(s2)
    val adopted = Search.hybridRrfIndexedContract(s2, sf).collect()
    assert(first.map(_.toSeq).toSeq == adopted.map(_.toSeq).toSeq,
      "a fresh session's contract diverges from the certifying session's")
  }

  test("PQ serving leg holds the fused agreement bar vs brute (the >SemPqCorpusCeiling mode)") {
    // the suite key flips its semantic leg to the PQ-ADC scan above
    // SemPqCorpusCeiling (2M vectors at sf100); fixtures sit below, so pin
    // the flipped configuration explicitly: per-probe fused-top-HybridK
    // overlap with brute >= HybridAgreeBar — the same certificate the
    // contract key checks at scale
    import spark.implicits._
    val brute = Search.hybridRrf(spark, sf)
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val served = Search.hybridRrfIndexedWith(spark, sf, nProbe = 4,
        semLeg = "pq", pqCand = Search.ServingPqCand)
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    brute.foreach { case (q, ids) =>
      val overlap = served.getOrElse(q, Set.empty[Long]).intersect(ids).size
      assert(overlap >= Search.HybridAgreeBar,
        s"probe $q fused agreement $overlap < ${Search.HybridAgreeBar}")
    }
  }

  test("impact probe: exhaustive prefix is bit-equal to the exact probe, " +
      "df comes from the sidecar") {
    val idx = freshDir("impact_full")
    Search.writeKeywordIndex(spark, sf, idx)
    val exact = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    // fixture df << ImpactTailBand * ImpactBlockRows — every champion
    // prefix covers the whole posting list, so the budgeted probe must
    // reproduce the exact probe BIT-FOR-BIT (same contract as IVF at
    // nProbe = all cells / PQ at pqCand >= corpus)
    val imp = Search.probeKeywordIndexImpact(spark, idx, Search.Queries,
        Search.TopK, blocks = Search.ImpactTailBand.toInt)
      .collect().map(_.toSeq).toSeq
    assert(imp == exact, "exhaustive impact prefix diverges from the exact probe")
    // the sidecar's per-term Σn is the TRUE df — exact idf without
    // reading the excluded bands
    val bd = spark.read.parquet(s"$idx/_blockdir")
      .groupBy(col("term")).agg(sum(col("n")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truthDf = spark.read.parquet(s"$idx/postings")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bd == truthDf, "block directory df diverges from the postings")
  }

  test("impact probe with a biting prefix: bb= directory pruning, corpus-free " +
      "read, overlap floor vs the exact top-k") {
    val idx = freshDir("impact_small")
    // tiny blocks so the champion prefix actually bites at fixture scale
    Search.appendKeywordIndex(spark, idx, Tables.documents(spark, sf), blockRows = 4)
    val blocks = 2
    val imp = Search.probeKeywordIndexImpact(spark, idx, Search.Queries,
      Search.TopK, blocks = blocks)
    val rows = imp.collect()
    assert(rows.length == Search.Queries.size * Search.TopK)
    val plan = imp.queryExecution.executedPlan.toString
    // the budgeted probe prunes BOTH partition dimensions at directory
    // level: the terms' token buckets AND the champion bands
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined, plan)
    assert("PartitionFilters: \\[[^\\]]*bb".r.findFirstIn(plan).isDefined, plan)
    // read volume is the prefix, not df: every surviving posting sits in
    // the first `blocks` champion blocks of its term
    val read = spark.read.parquet(s"$idx/postings")
      .where(col("bb") < blocks && col("blk") < blocks)
    val terms = Search.Queries.flatMap(_._2.split("\\s+")).distinct
    terms.foreach { t =>
      val n = read.where(col("term") === t).count()
      assert(n <= blocks * 4L, s"term $t prefix holds $n rows > ${blocks * 4}")
    }
    // quality grows with the budget: at a deliberately hostile 8-row
    // prefix overlap is weak by design; at 32 rows (8.4% of df) the
    // prefix holds a measured 8/20 of the exact top-k — pin a floor
    // below it and the monotone improvement over the 8-row cut. (The
    // full dup-flood analysis — why constant-depth champion prefixes
    // lose precision as replication grows df, and why the factored
    // serving path is the exact decade-flat answer — is in PERF.md.)
    val exact = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    def overlapAt(b: Int): Int = {
      val got = Search.probeKeywordIndexImpact(spark, idx, Search.Queries,
          Search.TopK, blocks = b)
        .collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(2)).toSet).toMap
      exact.map { case (q, ids) =>
        got.getOrElse(q, Set.empty[Long]).intersect(ids).size }.sum
    }
    val at2 = overlapAt(2)
    val at8 = overlapAt(8)
    assert(at8 >= 6, s"overlap at 32-row prefix $at8/20 below the floor")
    assert(at8 >= at2, s"deeper prefix lost overlap: $at8 < $at2")
  }

  test("impact serving twin equals the suite key at fixture scale; " +
      "fused impact hybrid equals the PQ-fixed hybrid") {
    // fixture-scale prefixes are exhaustive, so the impact keys must
    // reproduce their exact twins bit-for-bit end-to-end
    val exact = Search.keywordTopkAtRest(spark, sf).collect().map(_.toSeq).toSeq
    val imp = Search.keywordTopkImpact(spark, sf).collect().map(_.toSeq).toSeq
    assert(imp == exact)
    val pqf = Search.hybridRrfPqFixed(spark, sf).collect().map(_.toSeq).toSeq
    val impf = Search.hybridRrfImpactFixed(spark, sf).collect().map(_.toSeq).toSeq
    assert(impf == pqf)
    // and the FLIPPED trained topology (what hybridRrfIndexed serves past
    // the corpus ceiling) still clears the fused agreement bar
    import spark.implicits._
    val brute = Search.hybridRrf(spark, sf)
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val flipped = Search.hybridRrfIndexedWith(spark, sf, nProbe = 4,
        semLeg = "pq", pqCand = Search.ServingPqCand, lexMode = "impact")
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    brute.foreach { case (q, ids) =>
      val overlap = flipped.getOrElse(q, Set.empty[Long]).intersect(ids).size
      assert(overlap >= Search.HybridAgreeBar,
        s"probe $q flipped-topology agreement $overlap < ${Search.HybridAgreeBar}")
    }
  }

  test("factored probe: bit-equal to the exact probe, scoring scan is " +
      "family-level, winners expand through fams/ point reads") {
    val idx = freshDir("factored")
    Search.writeKeywordIndex(spark, sf, idx)
    val exact = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    val fac = Search.probeKeywordIndexFactored(spark, idx, Search.Queries, Search.TopK)
    val got = fac.collect().map(_.toSeq).toSeq
    assert(got == exact, "factored serving diverges from the exact probe")
    // the expansion plan reads the factored relations, never the
    // doc-level postings, and prunes the membership read on fb=
    val plan = fac.queryExecution.executedPlan.toString
    assert(plan.contains("fams"), plan)
    assert(!plan.contains("/postings"), "factored expansion scanned doc-level postings")
    assert("PartitionFilters: \\[[^\\]]*fb".r.findFirstIn(plan).isDefined, plan)
  }

  test("factored probe under lifecycle: tombstones fall back to the exact " +
      "path; compaction restores the fast path bit-for-bit") {
    import spark.implicits._
    val idx = freshDir("factored_life")
    Search.writeKeywordIndex(spark, sf, idx)
    val victim = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().head.getLong(2)
    operators.Vectors.deleteFromIndex(spark, idx, Seq(victim).toDF("doc_id"))
    // live tombstones: the factored probe must serve the doc-level exact
    // path (family uniformity is broken mid-family)
    val during = Search.probeKeywordIndexFactored(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    val exactDuring = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    assert(during == exactDuring)
    assert(!during.exists(_(2) == victim), "tombstoned doc still ranks")
    // compaction rebuilds fpostings/fams from the surviving postings —
    // the fast path returns and still matches the exact probe
    Search.compactKeywordIndex(spark, idx)
    val after = Search.probeKeywordIndexFactored(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    val exactAfter = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().map(_.toSeq).toSeq
    assert(after == exactAfter, "post-compaction factored path diverges")
    // and the factored relations carry no victim residue
    assert(spark.read.parquet(s"$idx/fams")
      .where(col("doc_id") === victim).count() == 0)
  }

  test("factored suite key and factored hybrid leg equal their exact twins") {
    val exact = Search.keywordTopkAtRest(spark, sf).collect().map(_.toSeq).toSeq
    val fac = Search.keywordTopkFactored(spark, sf).collect().map(_.toSeq).toSeq
    assert(fac == exact)
    // the FLIPPED trained topology (what hybridRrfIndexed serves past the
    // corpus ceiling: PQ sem + factored lex) must equal the same topology
    // with the exact lex leg bit-for-bit — the flip changes cost, not
    // output, so the agreement certificate is untouched by construction
    val exactLex = Search.hybridRrfIndexedWith(spark, sf, nProbe = 4,
        semLeg = "pq", pqCand = Search.ServingPqCand)
      .collect().map(_.toSeq).toSeq
    val facLex = Search.hybridRrfIndexedWith(spark, sf, nProbe = 4,
        semLeg = "pq", pqCand = Search.ServingPqCand, lexMode = "factored")
      .collect().map(_.toSeq).toSeq
    assert(facLex == exactLex, "factored lex leg changes the fused output")
  }

  test("compaction rebuilds the block directory without statistical residue") {
    import spark.implicits._
    val idx = freshDir("impact_compact")
    Search.writeKeywordIndex(spark, sf, idx)
    val victim = Search.probeKeywordIndex(spark, idx, Search.Queries, Search.TopK)
      .collect().head.getLong(2)
    operators.Vectors.deleteFromIndex(spark, idx, Seq(victim).toDF("doc_id"))
    Search.compactKeywordIndex(spark, idx)
    val bd = spark.read.parquet(s"$idx/_blockdir")
      .groupBy(col("term")).agg(sum(col("n")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truthDf = spark.read.parquet(s"$idx/postings")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bd == truthDf, "compacted block directory carries victim residue")
    assert(spark.read.parquet(s"$idx/postings")
      .where(col("doc_id") === victim).count() == 0)
  }

  test("probe is rerun-deterministic and ranks are dense 1..k per query") {
    val got = Search.keywordTopkAtRest(spark, sf).collect()
    val again = Search.keywordTopkAtRest(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    Search.Queries.foreach { case (qid, _) =>
      val rs = got.filter(_.getLong(0) == qid).map(_.getLong(1)).toSeq
      assert(rs == (1L to Search.TopK.toLong), s"query $qid ranks $rs")
    }
    // scores within a query are non-increasing with rank
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }
}
