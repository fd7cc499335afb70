package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Keyword retrieval over the curated corpus — the text-side member of the
  * at-rest serving family (the ANN keys serve embeddings; this serves
  * tokens): a persisted INVERTED INDEX plus BM25 top-k ranking, answering
  * "which held documents best match this query" WITHOUT re-scanning the
  * corpus text. This is the retrieval half every training-data stack also
  * ships (eval-contamination lookups, targeted corpus audits, RAG source
  * serving) and the classic IR layout: postings partitioned by token
  * bucket so a probe touches only its terms' partitions.
  *
  * Layout under the index root (same lifecycle discipline as the
  * minhash/ANN at-rest indexes — build once, partition-append forever):
  *
  *   - `postings/` (term, doc_id, tf, dl, blk) partitioned by `tb =`
  *     crc32(term) mod [[TokenBuckets]] — a probe prunes to its terms'
  *     buckets at directory level, then filters term inside them — and by
  *     `bb =` min(blk, [[ImpactTailBand]]), the IMPACT-ORDERED champion
  *     band: `blk` is the per-term champion-list block (postings ranked
  *     (tf desc, dl asc, doc_id asc) within each term of the append unit,
  *     [[ImpactBlockRows]] rows per block — the classic impact-sorted /
  *     champion-list layout, e.g. Manning et al., IIR §7.1.3), so a
  *     budgeted probe reads only the first `bb` directories and its cost
  *     is Θ(terms · blocks · [[ImpactBlockRows]]) — CORPUS-FREE. Files
  *     are sorted (term, blk, doc_id) for row-group/page skipping.
  *     The exact probe reads every band — identical semantics as before;
  *   - `_statslog/` append-only (n_docs, sum_dl) DELTA rows — each append
  *     adds one row, a reader aggregates the log (O(appends), no
  *     read-modify-write, exactly the manifest discipline that keeps
  *     appends rebuild-free). `sum_dl` is an int64 token count, so the
  *     derived avgdl = sum_dl / n_docs is EXACT-summation arithmetic —
  *     bit-identical to a fresh avg() on any engine at any append order;
  *   - `_blockdir/` append-only (term, blk, n, max_tf, min_dl) block
  *     directory rows — Θ(vocab · blocks), rebuilt at compaction. The
  *     budgeted probe derives each term's FULL df = Σ n from it (exact
  *     idf without touching the excluded bands); max_tf/min_dl bound any
  *     excluded posting's BM25 contribution (f is monotone in tf,
  *     anti-monotone in dl), the standard block-max metadata.
  *
  * Scale: the build is one Θ(corpus tokens) tokenize + per-doc combine
  * (map-side), shuffled once on term to co-locate postings; a probe reads
  * Θ(df of the query terms) posting rows from ≤ |query| directories —
  * independent of corpus size on the text side; df/idf derive from the
  * pruned postings themselves so appended docs are searchable immediately
  * with exact statistics. Document text never enters the index. The
  * impact probe caps that further: df of a hot term grows with the corpus
  * (every replica of a document carries its postings), so Θ(df) is
  * corpus-linear in the worst case — the champion prefix is the
  * decade-flat serving mode, with quality pinned by SearchSpec's overlap
  * floor against the exact probe and, in the hybrid serving key, by the
  * per-serve fused-agreement certificate.
  */
object Search {
  type Q = (SparkSession, String) => DataFrame

  /** Posting-list fan-out. 64 here; at 100 TB this is the usual 4k–64k —
    * the probe cost model (terms' buckets only) is unchanged by the count. */
  val TokenBuckets = 64

  /** [[Vectors.ensureIndex]] kind id of the keyword layout, VERSIONED:
    * the r15 layout adds the champion bands + factored relations, and the
    * vintage fingerprint covers the CORPUS, not the index format — an
    * unversioned kind would adopt a committed v1 index (no `fpostings/`)
    * and the factored probe would fail at read. Bumping the kind gives
    * the new layout its own path; stale v1 dirs are orphaned, never
    * misread. */
  val KeywordKind = "keyword2"

  /** Results per query. */
  val TopK = 5

  /** Rows per champion-list block — the impact probe's read granularity.
    * 4096 rows ≈ one parquet page span per (term, blk) run, so the
    * (term, blk) predicate skips at page level inside the pruned `bb=`
    * dirs. */
  val ImpactBlockRows = 4096

  /** Highest DEDICATED champion band: `bb = min(blk, ImpactTailBand)` —
    * blocks past the band collapse into the tail directory, bounding the
    * partition fan-out at [[TokenBuckets]] · (ImpactTailBand + 1) while
    * keeping every budgeted prefix `blocks <= ImpactTailBand` a pure
    * directory-level prune. */
  val ImpactTailBand = 8L

  /** Default serving prefix of [[probeKeywordIndexImpact]] — 2 blocks =
    * [[ImpactBlockRows]]·2 postings per term, regardless of corpus size. */
  val ImpactServeBlocks = 2

  /** The suite key's fixed query workload (query_id, free-text query) —
    * multi-term queries over the fixture vocabulary. */
  val Queries: Seq[(Long, String)] = Seq(
    0L -> "spark window agg",
    1L -> "hash join table",
    2L -> "fast filter scan",
    3L -> "data column value")

  private def toks(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Token bucket of a term — crc32 mod [[TokenBuckets]], chosen because
    * the driver can compute the identical value (java.util.zip.CRC32) to
    * enumerate a probe's target partitions for directory-level pruning. */
  private def tbOf(term: Column): Column =
    pmod(crc32(term), lit(TokenBuckets.toLong))

  private[graft] def tbOfStr(term: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, TokenBuckets.toLong)
  }

  /** Build the inverted index: tokenize once, combine to per-(doc, term)
    * tf with the doc length carried on every posting (denormalized so a
    * probe never joins back to the corpus), land under `tb=` dirs. */
  def writeKeywordIndex(s: SparkSession, d: String, path: String): Unit = {
    // a BUILD is from-scratch: clear any prior layout at the path first —
    // the append path below uses mode("append"), and appending a rebuild
    // onto a surviving on-disk index (e.g. a fresh JVM over the memoized
    // warehouse path) would silently double every posting
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    appendKeywordIndex(s, path, Tables.documents(s, d))
  }

  /** Partition-APPEND a batch into the persisted layout — new postings
    * land as new files under their existing `tb=` dirs, the stats log
    * gains one delta row; no read of the existing index, no rebuild.
    * `batch` needs (doc_id, text). */
  def appendKeywordIndex(s: SparkSession, path: String, batch: DataFrame,
      blockRows: Int = ImpactBlockRows): Unit =
    IndexLease.withLease(s, s"$path/_lease") {
    val w = batch.select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("fam"),
        toks(col("text")).as("ws"))
      .select(col("doc_id"), col("fam"), col("ws"),
        size(col("ws")).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // champion ranking: per-term (tf desc, dl asc, doc_id asc) — a total
    // order (one posting per (term, doc)), so blk is deterministic under
    // any partitioning. The per-term window is the per-term posting-list
    // sort every IR build pays; a term's postings within one append unit
    // sort in one task (the unit is the corpus only at the initial build).
    val ranked = w
      .select(col("doc_id"), col("fam"), col("dl"), explode(col("ws")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("fam"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("blk",
        ((row_number().over(Window.partitionBy(col("term"))
            .orderBy(col("tf").desc, col("dl").asc, col("doc_id").asc))
          - 1) / blockRows).cast("long"))
      .withColumn("tb", tbOf(col("term")))
      .withColumn("bb", least(col("blk"), lit(ImpactTailBand)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ranked
      .repartition(col("tb"), col("bb"))
      .sortWithinPartitions(col("term"), col("blk"), col("doc_id"))
      .write.mode("append").partitionBy("tb", "bb").parquet(s"$path/postings")
    ranked.groupBy(col("term"), col("blk"))
      .agg(count(lit(1)).as("n"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .write.mode("append").parquet(s"$path/_blockdir")
    // the DEDUP-FACTORED projection: one posting row per (term, family)
    // where a family is an exact-text equivalence class (md5 — the
    // q_exact_dedup discipline). Members share ws verbatim, hence tf and
    // dl: max() below is a constant over the group, fam_n the family's
    // df contribution. Θ(vocab · families) rows — FLAT in the replica
    // count, which is what makes the factored probe decade-flat.
    writeFactored(ranked
      .groupBy(col("term"), col("fam"))
      .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"),
        count(lit(1)).as("fam_n"))
      .withColumn("tb", tbOf(col("term"))),
      ranked.select(col("fam"), col("doc_id")).distinct(), path)
    w.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("append").parquet(s"$path/_statslog")
    ranked.unpersist(blocking = false)
    w.unpersist(blocking = false)
    ()
  }

  /** Family bucket of a fam hash — the `fams/` membership layout's
    * `fb =` partition key, computed driver-side for point-read pruning
    * exactly like [[tbOfStr]]. */
  private[graft] def fbOfStr(fam: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(fam.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Math.floorMod(c.getValue, TokenBuckets.toLong)
  }

  private def fbOf(fam: Column): Column = pmod(crc32(fam), lit(TokenBuckets.toLong))

  /** Land the factored relations: `fpostings/` (term, fam, tf, dl, fam_n)
    * under `tb=` dirs, `fams/` membership (fam, doc_id) under `fb=` dirs
    * for winner point reads. */
  private def writeFactored(fposts: DataFrame, members: DataFrame,
      path: String): Unit = {
    fposts.write.mode("append").partitionBy("tb").parquet(s"$path/fpostings")
    members.withColumn("fb", fbOf(col("fam")))
      .write.mode("append").partitionBy("fb").parquet(s"$path/fams")
  }

  /** Probe the persisted index with a query workload: prune to the query
    * terms' `tb=` partitions (directory-level — the terms' buckets are
    * enumerated on the driver via the shared crc32), score BM25
    * (k1 = 1.2, b = 0.75, the q_bm25 arithmetic verbatim, idf from the
    * pruned postings' own df), rank per query on the ROUNDED score with
    * doc_id tie-break (deterministic on any engine), cut at `k` through
    * the row_number form the WindowTopKToHeap rule lowers to the heap
    * operator. Output Θ(queries · k). */
  def probeKeywordIndex(s: SparkSession, idx: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = s
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, q) => q.toLowerCase.trim.split("\\s+").map(qid -> _) }
      .distinct
    val terms = qterms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = qterms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$idx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    // tombstoned docs stop matching IMMEDIATELY (broadcast anti-join, the
    // shared index-lifecycle discipline); their df contribution drops with
    // them since df derives from the live postings below. The GLOBAL stats
    // (n_docs, avgdl) refresh at compaction — corpus statistics, not rows.
    val posts = Vectors.dropTombstoned(s, idx,
        spark.read.parquet(s"$idx/postings")
          .where(col("tb").isin(buckets: _*) && col("term").isin(terms: _*)),
        "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val dfT = posts.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val scored = posts
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("score_r"), count(lit(1)).as("n_terms"))
    scored
      .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score_r").desc, col("doc_id"))).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_r"), col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The IMPACT-ORDERED (champion-list) probe — [[probeKeywordIndex]]'s
    * arithmetic restricted to each term's first `blocks` champion blocks:
    * reads Θ(terms · blocks · [[ImpactBlockRows]]) posting rows through
    * `tb=` AND `bb=` directory pruning, CORPUS-FREE, where the exact
    * probe's Θ(df) grows with the corpus on hot terms. idf stays EXACT:
    * df comes from the `_blockdir` sidecar (Σ n over ALL of the term's
    * blocks — Θ(vocab·blocks) metadata, never the excluded postings).
    *
    * Semantics are the DETERMINISTIC prefix computation itself — the
    * champion rank is a total order, so the result replays on any engine
    * (the q_keyword_topk_impact oracle) — and quality versus the exact
    * top-k is pinned by SearchSpec's overlap floor, the q_ann_* serving
    * discipline (deterministic approximation + exact referee). With
    * `blocks · blockRows >= max df` the prefix is the whole posting list
    * and the result is BIT-EQUAL to [[probeKeywordIndex]] (asserted).
    *
    * Lifecycle: takedowns hide docs immediately (the tombstone anti-join
    * below); df/avgdl refresh at compaction — the `_statslog` discipline,
    * extended to `_blockdir`. Champion blocks are per append unit; a
    * compaction may thin them (victims drop out) but never reorders the
    * surviving prefix. */
  def probeKeywordIndexImpact(s: SparkSession, idx: String,
      queries: Seq[(Long, String)], k: Int,
      blocks: Int = ImpactServeBlocks): DataFrame = {
    require(blocks >= 1 && blocks <= ImpactTailBand,
      s"impact prefix must stay within the dedicated bands: $blocks vs [1, $ImpactTailBand]")
    val spark = s
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, q) => q.toLowerCase.trim.split("\\s+").map(qid -> _) }
      .distinct
    val terms = qterms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = qterms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$idx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    // FULL df from the block directory — exact idf without reading the
    // excluded bands (the whole point of the sidecar)
    val dfT = spark.read.parquet(s"$idx/_blockdir")
      .where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("n")).cast("double").as("df"))
    val posts = Vectors.dropTombstoned(s, idx,
        spark.read.parquet(s"$idx/postings")
          .where(col("tb").isin(buckets: _*) && col("bb") < blocks &&
            col("blk") < blocks && col("term").isin(terms: _*)),
        "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    posts
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("score_r"), count(lit(1)).as("n_terms"))
      .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score_r").desc, col("doc_id"))).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_r"), col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The DEDUP-FACTORED probe — EXACT BM25 top-k served from the family
    * granularity: every member of an exact-text family (md5 — the
    * q_exact_dedup discipline) has identical ws, hence identical tf, dl
    * and score, so scoring runs over `fpostings/` (one row per
    * (term, family), Θ(vocab · families)) and only the WINNING families'
    * members are fetched from `fams/` by pushed-down point reads. Result
    * is BIT-EQUAL to [[probeKeywordIndex]] (asserted in SearchSpec): df =
    * Σ fam_n is the true per-term posting count, scores are the same
    * doubles, the (score desc, doc_id) rank re-ranks the expanded
    * members. Candidate sufficiency: a family contributing to the final
    * top-k has fewer than k families strictly above it, so it is inside
    * the top-k family ranks or tied with the k-th — both kept below.
    *
    * THIS is the decade-flat serving mode on a replicated/dup-heavy
    * corpus, and it is exact — where a constant-depth champion prefix
    * ([[probeKeywordIndexImpact]]) loses precision as duplication floods
    * the impact order, factoring absorbs the duplication itself: probe
    * cost is Θ(families), independent of the replica count. (On a fully
    * deduped corpus families are singletons and the factored read equals
    * the doc-level read — the two modes meet.)
    *
    * Takedowns break family uniformity mid-family, so with live
    * tombstones the probe serves the doc-level exact path and the fast
    * path returns at compaction (which rebuilds the factored relations).
    */
  def probeKeywordIndexFactored(s: SparkSession, idx: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    if (Vectors.tombstonesOf(s, idx).isDefined)
      return probeKeywordIndex(s, idx, queries, k)
    val spark = s
    import spark.implicits._
    val qterms = queries
      .flatMap { case (qid, q) => q.toLowerCase.trim.split("\\s+").map(qid -> _) }
      .distinct
    val terms = qterms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = qterms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$idx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    // cross-batch merge: a family split over several append units holds
    // one fpostings row per unit; tf/dl are constants of the family text
    val fp = spark.read.parquet(s"$idx/fpostings")
      .where(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy(col("term"), col("fam"))
      .agg(max(col("tf")).cast("double").as("tf"),
        max(col("dl")).cast("double").as("dl"),
        sum(col("fam_n")).as("fam_n"))
    val dfT = fp.groupBy(col("term")).agg(sum(col("fam_n")).cast("double").as("df"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val wnd = Window.partitionBy(col("query_id"))
    val famScores = fp
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("fam"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("fam"))
      .agg(round(sum(col("contrib")), 4).as("score_r"), count(lit(1)).as("n_terms"))
      .withColumn("rn", row_number().over(
        wnd.orderBy(col("score_r").desc, col("fam"))))
      .withColumn("kth", max(when(col("rn") === k, col("score_r"))).over(wnd))
    // Θ(queries · k + boundary ties) rows — the point-read candidate set
    val cand = famScores
      .where(col("kth").isNull || col("score_r") >= col("kth"))
      .select(col("query_id"), col("fam"), col("score_r"), col("n_terms"))
      .collect()
    val famIds = cand.map(_.getString(1)).distinct.toSeq
    val fbs = famIds.map(fbOfStr).distinct
    val candDf = cand.toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toDF("query_id", "fam", "score_r", "n_terms")
    spark.read.parquet(s"$idx/fams")
      .where(col("fb").isin(fbs: _*) && col("fam").isin(famIds: _*))
      .join(broadcast(candDf), Seq("fam"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_r").desc, col("doc_id"))).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score_r"), col("n_terms"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Physical COMPACTION of the keyword layout — [[Vectors.compactIndex]]
    * over the `tb=`-partitioned postings, then the `_statslog` is REBUILT
    * to one exact row from the surviving postings' distinct (doc_id, dl)
    * pairs (staged to a sibling, swapped by FS rename): after compaction
    * the index is bit-identical to a fresh build over the surviving
    * corpus — deletes leave no statistical residue. Between takedown and
    * compaction the global (n_docs, avgdl) intentionally still count the
    * victims: immediate-takedown correctness is "the doc stops matching",
    * stats refresh on the maintenance schedule. */
  def compactKeywordIndex(s: SparkSession, dir: String): Unit =
    IndexLease.withLease(s, s"$dir/_lease") {
    val had = Vectors.tombstonesOf(s, dir).isDefined
    Vectors.compactIndexUnguarded(s, dir, Seq("postings"))
    if (had) {
      val conf = s.sparkContext.hadoopConfiguration
      val fresh = s.read.parquet(s"$dir/postings")
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/_statslog__compact_tmp")
      fresh.write.mode("overwrite").parquet(tmp.toString)
      val live = new org.apache.hadoop.fs.Path(s"$dir/_statslog")
      val fs = live.getFileSystem(conf)
      fs.delete(live, true)
      fs.rename(tmp, live)
      // the block directory follows the same discipline: recount the
      // SURVIVING postings per (term, blk) so the impact probe's df (and
      // its block-max bounds) carry no statistical residue either
      val freshBd = s.read.parquet(s"$dir/postings")
        .groupBy(col("term"), col("blk"))
        .agg(count(lit(1)).as("n"), max(col("tf")).as("max_tf"),
          min(col("dl")).as("min_dl"))
      val bdTmp = new org.apache.hadoop.fs.Path(s"$dir/_blockdir__compact_tmp")
      freshBd.write.mode("overwrite").parquet(bdTmp.toString)
      val bdLive = new org.apache.hadoop.fs.Path(s"$dir/_blockdir")
      fs.delete(bdLive, true)
      fs.rename(bdTmp, bdLive)
      // the factored relations rebuild from the compacted doc-level
      // postings (victims gone, families recounted) — this is also what
      // restores the factored fast path after a takedown window
      val posts = s.read.parquet(s"$dir/postings")
      Seq(
        ("fpostings", posts.groupBy(col("term"), col("fam"))
          .agg(max(col("tf")).as("tf"), max(col("dl")).as("dl"),
            count(lit(1)).as("fam_n"))
          .withColumn("tb", tbOf(col("term"))), "tb"),
        ("fams", posts.select(col("fam"), col("doc_id")).distinct()
          .withColumn("fb", fbOf(col("fam"))), "fb"))
        .foreach { case (sub, df, part) =>
          val tmp2 = new org.apache.hadoop.fs.Path(s"$dir/${sub}__compact_tmp")
          df.write.mode("overwrite").partitionBy(part).parquet(tmp2.toString)
          val live2 = new org.apache.hadoop.fs.Path(s"$dir/$sub")
          fs.delete(live2, true)
          fs.rename(tmp2, live2)
        }
    }
  }

  /** AT-REST keyword search as a suite key: the memoized index build (like
    * the ANN/minhash at-rest keys) probed with the fixed [[Queries]]
    * workload. The bench times the SERVING cost — pruned directory reads +
    * Θ(df) scoring — never a corpus scan. */
  val keywordTopkAtRest: Q = Vectors.served((s, d) => {
    val idx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    probeKeywordIndex(s, idx, Queries, TopK)
  })

  /** The impact-ordered serving twin of [[keywordTopkAtRest]] — the SAME
    * persisted index (one build serves both probes), answered from each
    * term's first [[ImpactServeBlocks]] champion blocks: Θ(terms · blocks
    * · [[ImpactBlockRows]]) posting reads per probe at ANY corpus size,
    * where the exact probe's Θ(df) grows with every replica of a hot
    * document. Fully deterministic (champion rank is a total order), so
    * the oracle replays the prefix computation end-to-end — this is a
    * hash-gated contract, not a recall-bounded one; the overlap against
    * the exact top-k is pinned separately in SearchSpec. */
  val keywordTopkImpact: Q = Vectors.served((s, d) => {
    val idx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    probeKeywordIndexImpact(s, idx, Queries, TopK)
  })

  /** The dedup-factored serving twin — SAME index, SAME answer as
    * [[keywordTopkAtRest]] (bit-equal, so it shares the exact oracle),
    * served at Θ(families) instead of Θ(df): the scoring scan is the
    * family-level `fpostings/` and only winning families expand to doc
    * ids. On the replicated bench fixtures this is the decade-flat EXACT
    * mode — sf100's 117M posting rows factor to ~155k family rows. */
  val keywordTopkFactored: Q = Vectors.served((s, d) => {
    val idx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    probeKeywordIndexFactored(s, idx, Queries, TopK)
  })

  /** Probe documents of the hybrid query-by-example key: each contributes
    * its own terms (lexical leg) and its own linked embedding (semantic
    * leg — vec_id ≡ doc_id, the q_multimodal_join contract). */
  val HybridProbes: Seq[Long] = Seq(0L, 7L, 42L)

  /** Corpus ceiling for the BRUTE hybrid's full probe set (r10 verdict #3):
    * the brute key's semantic leg is Θ(probes · corpus) BY DESIGN — it is
    * the oracle contract and recall referee for the indexed forms, which
    * serve the same fusion at Θ(df + nProbe/k·corpus). Past this ceiling
    * (between the sf1 and sf10 fixtures; the oracle gates run far below
    * it) the referee runs ONE probe instead of three — the r8 re-contract
    * precedent: bound the bench-time role of a deliberately-exact key
    * without touching its oracle-gated contract. */
  val BruteProbeCeiling = 50000L

  private def bruteProbes(s: SparkSession, d: String): Seq[Long] =
    if (Tables.embeddings(s, d).count() > BruteProbeCeiling) {
      // the hybrid oracles replay ALL probes, so comparing them against
      // this degraded referee would hash-mismatch confusingly — make the
      // degradation loud instead of a scaladoc footnote (ADVICE r11)
      System.err.println(
        s"[search] q_hybrid_rrf referee degraded to 1/${HybridProbes.size} " +
          s"probes above $BruteProbeCeiling embeddings ($d) — the hybrid " +
          "oracle SQL is NOT valid against this run")
      HybridProbes.take(1)
    } else HybridProbes
  val LexTopN = 20
  val SemTopN = 20
  val RrfK = 60
  val HybridK = 10

  /** HYBRID retrieval — reciprocal-rank fusion of a lexical (BM25) and a
    * semantic (cosine) leg, query-by-example: "find documents like this
    * one". The modern retrieval default (RRF is how production search
    * fuses keyword and vector hits without score calibration): each leg
    * ranks independently on its ROUNDED score with doc_id tie-break (so
    * ranks, the only thing RRF consumes, are bit-stable on any engine),
    * then rrf = Σ_leg 1/([[RrfK]] + rank), summed in fixed leg order,
    * missing legs contributing 0.
    *
    * Scale: the lexical leg is Θ(df of the probes' terms) — the posting
    * rows of ≤ probes·|doc| terms, never a corpus cross product; the
    * semantic leg is the brute-force cosine of a BROADCAST probe set
    * (Θ(probes · corpus) flops — the at-rest ANN keys are the indexed
    * path when probes·corpus outgrows it); fusion is a full outer join of
    * two Θ(probes · topN) relations. */
  val hybridRrf: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val probes = bruteProbes(s, d)
    // probe terms via pushed-down point reads; Tok.tokenize is the proven
    // bit-identical replica of the declarative toks spelling, and only the
    // SET of (query_id, term) matters (array_distinct order never did)
    val probeTerms: Seq[(Long, String)] = Tables.documents(s, d)
      .where(col("doc_id").isin(probes: _*))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      .flatMap { case (id, t) =>
        graft.functions.Tok.tokenize(t).distinct.map(id -> _)
      }
    val qt = probeTerms.toDF("query_id", "term")
    val bcTerms = spark.sparkContext.broadcast(probeTerms.map(_._2).toSet)
    // ONE tokenize pass over the corpus (was two — dl and the tf explode —
    // plus a 500k-row dl shuffle join): per doc emit one sentinel row
    // carrying dl for the global stats and one row per PROBE-TERM HIT
    // (the broadcast set filters in-task, so only Θ(df of probe terms)
    // rows materialize instead of the full exploded token stream). The
    // BM25 arithmetic below is unchanged; dl rides the tf rows.
    val stream = Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ts = graft.functions.Tok.tokenize(t)
        val set = bcTerms.value
        // null text ⇒ dl NULL (size(split(NULL)) and DuckDB len(NULL) are
        // NULL): the doc still counts in n_docs but stays out of avgdl,
        // matching the declarative form and the oracle exactly
        val dl: Option[Double] = if (t == null) None else Some(ts.length.toDouble)
        Iterator((id, dl, null: String)) ++
          ts.iterator.filter(set.contains).map(w => (id, dl, w))
      }
      .toDF("doc_id", "dl", "term")
    // not persisted: the key returns a lazy DataFrame, so nothing could
    // release a cached stream; its two consumers re-run the tokenize pass
    val st = stream.where(col("term").isNull)
      .agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val tf = stream.where(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val lex = tf
      .join(broadcast(qt), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("bm"))
      .withColumn("r_lex", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("bm").desc, col("doc_id"))).cast("long"))
      .where(col("r_lex") <= LexTopN)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pv = broadcast(e.where(col("vec_id").isin(probes: _*))
      .select(col("vec_id").as("query_id"), col("v").as("pv")))
    val sem = e.crossJoin(pv)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(graft.functions.CosineSimExpr.vec_cosine(col("v"), col("pv")), 4).as("cos_r"))
      .withColumn("r_sem", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos_r").desc, col("doc_id"))).cast("long"))
      .where(col("r_sem") <= SemTopN)
      .select(col("query_id"), col("doc_id"), col("r_sem"))
    fuseRrf(lex, sem)
  }

  /** RRF fusion shared by the brute and indexed hybrid forms: full outer
    * join of the two Θ(probes · topN) ranked legs, rrf = Σ 1/(K + rank)
    * with missing legs contributing 0, per-query heap-lowered cut. */
  private def fuseRrf(lex: DataFrame, sem: DataFrame): DataFrame =
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("r_lex"), col("r_sem"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(RrfK) + col("r_sem")), lit(0.0)), 4).as("rrf_r"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_r").desc, col("doc_id"))).cast("long"))
      .where(col("rnk") <= HybridK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf_r"),
        col("r_lex"), col("r_sem"))
      .orderBy(col("query_id"), col("rnk"))

  /** Retrieval slack on the semantic leg's index cut: [[queryIvfIndex]]
    * orders on the UNROUNDED cosine while the hybrid contract ranks on the
    * ROUNDED score with doc_id tie-break, so the index retrieves a few
    * extra rows and the leg re-ranks/cuts on the contract's key — the
    * retrieved set then matches the brute leg's whenever index recall
    * reaches the cut (SearchSpec measures it). */
  val SemSlack = 10

  /** Cell count of the trained at-rest IVF layout ([[Vectors.writeIvfIndex]]
    * default k) — `nProbe >=` this means every cell is probed. */
  val TrainedIvfCells = 16

  /** PQ candidate count that declares the refine exhaustive — must exceed
    * the corpus it is used against (SearchSpec's referee configuration;
    * the fixtures are orders of magnitude below it). A config intending
    * exhaustive PQ on a larger corpus must pass `pqCand >=` that corpus. */
  val ExhaustivePqCand = 100000

  /** INDEXED hybrid retrieval — [[hybridRrf]]'s contract served entirely
    * from the two persisted at-rest indexes instead of corpus scans: the
    * lexical leg prunes the keyword index to the probe docs' terms'
    * `tb=` buckets (Θ(df) posting rows, the [[probeKeywordIndex]] read
    * shape, self-hit excluded), and the semantic leg runs
    * [[Vectors.queryIvfIndex]] per probe — nProbe/k of the vector data via
    * directory-level partition pruning, NOT a corpus cross product. This is
    * the serving topology a production fused retriever runs at 100 TB: the
    * brute-force [[hybridRrf]] stays as the exact oracle contract (and the
    * recall referee), this key is the scale path — Θ(df + nProbe/k·corpus)
    * per probe set instead of Θ(probes · corpus) flops.
    *
    * Rows-only by the same declaration as the trained ANN keys (the IVF
    * codebook is FP-trained k-means). SearchSpec pins the contract in two
    * halves: fused-output EQUALITY with [[hybridRrf]] at `nProbe` = all
    * cells (recall 1 by exhaustive scan — validates the lexical leg, the
    * slacked re-rank, and the fusion bit-for-bit), and at the serving
    * `nProbe` a measured recall floor + PartitionFilters pruning (the
    * fixture's near-uniform random embeddings scatter true neighbors
    * across cells, so recall < 1 there is a fixture artifact — real
    * embedding corpora cluster, which is the premise of IVF itself). */
  /** Corpus ceiling above which the suite serving key's semantic leg flips
    * from the IVF pruned full-vector scan to the PQ-ADC 8-byte-code scan
    * (VERDICT r14 #3): the IVF leg reads nProbe/k of the corpus at 512
    * bytes per vector — linear in corpus BY CONTRACT, measured 66.6 s warm
    * at sf100 (2M vectors). The ADC scan reads [[Vectors.PqM]] = 8 bytes
    * per vector (64× less I/O than the raw doubles, ~16× less than the
    * pruned IVF read) plus a bounded exact refine of [[ServingPqCand]]
    * pushed-down point reads — the decade-flat serving mode. Below the
    * ceiling (every oracle fixture, sf0.001–1) the key keeps the IVF leg,
    * so the hash-gated contract is untouched; above it the
    * [[hybridRrfIndexedContract]] agreement certificate (fused-top-10
    * overlap ≥ [[HybridAgreeBar]] vs the brute referee) still gates every
    * serve, now against the persisted [[bruteFused]] referee. SearchSpec
    * pins the PQ leg's fused output bit-equal to brute at exhaustive
    * pqCand and ≥ the agreement bar at serving pqCand. */
  val SemPqCorpusCeiling = 1000000L

  /** Exact-refine candidate count for the flipped PQ serving leg — 10×
    * the [[SemTopN]] cut (vs 50 for the top-10 ANN keys): ADC ranks on
    * 8-byte codes, the refine re-ranks the true cosine, and the fused
    * agreement bar needs the semantic top-20 mostly right. Refine cost is
    * [[ServingPqCand]] pushed-down point reads per probe — corpus-free. */
  val ServingPqCand = 200

  val hybridRrfIndexed: Q =
    Vectors.served((s, d) =>
      if (Tables.embeddings(s, d).count() > SemPqCorpusCeiling)
        // past the ceiling BOTH legs flip to their decade-flat serving
        // modes: PQ-ADC codes on the semantic side (r14) and the
        // dedup-FACTORED lexical leg (r15) — Θ(df) was the last
        // corpus-linear term in the warm serve, and the factored leg is
        // BIT-EQUAL to the exact one, so the fused output (and its
        // agreement certificate) is unchanged from the r14 mode. (The
        // champion-prefix leg exists too, but constant-depth prefixes
        // lose precision exactly when duplication inflates df — the
        // measured dup-flood analysis in PERF.md — so the flip uses the
        // factored leg, which absorbs duplication instead.)
        hybridRrfIndexedWith(s, d, nProbe = 4, semLeg = "pq",
          pqCand = ServingPqCand, lexMode = "factored")
      else hybridRrfIndexedWith(s, d, nProbe = 4))

  /** Memoized brute fused referee per (session, dataset): ≤ probes ×
    * [[HybridK]] rows of bounded metadata (the ensureIndex discipline), so
    * the graduated serving key pays the Θ(probes·corpus) referee once per
    * dataset and keeps its index-serving cost on repeated passes. */
  private val bruteFusedMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, Long), Seq[(Long, Long, Long, Double, Option[Long], Option[Long])]]()

  /** The brute fused referee, memoized per (session, dataset, fingerprint)
    * AND persisted at rest (VERDICT r14 #1 — the [[Vectors.exactTop10]]
    * `annref_*` discipline applied to the fused contract): the referee is
    * Θ(probes·[[HybridK]]) rows of corpus METADATA, yet deriving it is a
    * Θ(probes·corpus) brute pass — 94 s isolated at sf30, dominant in the
    * 372 s sf100 cold hybrid. The first session to certify a corpus
    * vintage writes the rows to `graft_index/hybref_<d>/fp_<vintage>`;
    * every later session — not just this one — reads ≤ 30 rows instead of
    * re-scanning. The fingerprint key means an in-place rewrite recomputes
    * instead of certifying against a stale referee; superseded vintages
    * die with the write (same GC as annref). The persisted rows embed the
    * probe set the vintage was derived with ([[bruteProbes]] degrades
    * above [[BruteProbeCeiling]]) — deterministic per vintage, since the
    * degradation depends only on the corpus row count. */
  private def bruteFused(s: SparkSession, d: String)
      : Seq[(Long, Long, Long, Double, Option[Long], Option[Long])] = {
    val spark = s
    import spark.implicits._
    // fingerprint-keyed (ADVICE r12): an in-place dataset rewrite is a
    // referee MISS, not a stale certificate; a miss evicts the superseded
    // vintage so the map stays bounded by live vintages
    val fp = DataFp.of(s, d)
    val key = (System.identityHashCode(s), d, fp)
    val hit = bruteFusedMemo.get(key)
    if (hit != null) return hit
    bruteFusedMemo.keySet.removeIf(k => k._1 == key._1 && k._2 == key._2)
    bruteFusedMemo.computeIfAbsent(key, _ => {
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = s"$wh/graft_index/hybref_" + d.replaceAll("[^A-Za-z0-9._-]", "_")
      val vintage = new org.apache.hadoop.fs.Path(
        s"$dir/fp_${java.lang.Long.toHexString(fp)}")
      val fs = vintage.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(vintage))
        spark.read.parquet(vintage.toString)
          .orderBy(col("query_id"), col("rnk"))
          .as[(Long, Long, Long, Double, Option[Long], Option[Long])]
          .collect().toSeq
      else {
        val rows = hybridRrf(s, d)
          .as[(Long, Long, Long, Double, Option[Long], Option[Long])]
          .collect().toSeq
        IndexLease.withLease(s, s"${dir}__lock") {
          if (!fs.exists(vintage)) {
            val tmp = new org.apache.hadoop.fs.Path(
              s"$dir/__ref_${java.util.UUID.randomUUID().toString.take(8)}")
            rows.toDF("query_id", "rnk", "doc_id", "rrf_r", "r_lex", "r_sem")
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            fs.rename(tmp, vintage)
            // superseded vintages of this corpus die with the write —
            // matched by NAME (listStatus paths are scheme-qualified;
            // a Path != would match the vintage just written)
            org.apache.hadoop.fs.FileUtil.stat2Paths(
                fs.listStatus(new org.apache.hadoop.fs.Path(dir)))
              .filter(p => p.getName.startsWith("fp_") && p.getName != vintage.getName)
              .foreach(p => fs.delete(p, true))
          }
        }
        rows
      }
    })
  }

  /** Minimum per-query |indexed-top10 ∩ brute-top10| the graduated
    * contract pins — the SearchSpec serving-nProbe floor's fused
    * counterpart (measured ≥ 0.8 on every fixture decade; the lexical leg
    * is shared, so fused agreement sits well above the semantic-leg
    * recall floor). */
  private[graft] val HybridAgreeBar = 5

  /** ORACLE-GRADUATED q_hybrid_rrf_indexed (r11 verdict #1): the trained
    * IVF codebook keeps the indexed fused ranking engine-specific, so the
    * hash-checked contract is the BRUTE fused contract rows (the
    * q_hybrid_rrf relation, SQL-replayable) plus an agree_ok boolean the
    * engine certifies by running the REAL at-rest serving path and
    * checking per-probe fused-top-[[HybridK]] overlap ≥ [[HybridAgreeBar]].
    * Above [[BruteProbeCeiling]] the referee degrades to one probe (its
    * standing bench contract) and agreement is checked on that probe. */
  val hybridRrfIndexedContract: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val brute = bruteFused(s, d)
    val bruteIds = brute.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val served = hybridRrfIndexed(s, d)
      .select(col("query_id"), col("doc_id"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val agree = bruteIds.forall { case (q, ids) =>
      served.getOrElse(q, Set.empty[Long]).intersect(ids).size >= HybridAgreeBar }
    brute.toDF("query_id", "rnk", "doc_id", "rrf_r", "r_lex", "r_sem")
      .withColumn("agree_ok", lit(agree))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** `semLeg` picks the at-rest vector index serving the semantic leg:
    * "ivf" (partition-pruned cluster scan, `nProbe` of the cells — the
    * suite key's mode) or "pq" (ADC over the 8-byte codes table with
    * `pqCand` exact-refined candidates — the 32×-less-I/O mode for when
    * even the pruned full-vector scan is too much). Both re-rank the
    * slacked retrieval on the contract's (rounded score, doc_id) key;
    * SearchSpec pins BOTH modes' fused output bit-equal to the brute
    * contract at exhaustive settings (nProbe = all cells / pqCand ≥
    * corpus). */
  /** Probe embeddings via pushed-down point reads — bounded by |probes|. */
  private def probeVecsOf(s: SparkSession, d: String): Seq[(Long, Array[Double])] = {
    val spark = s
    import spark.implicits._
    Tables.embeddings(s, d)
      .where(col("vec_id").isin(HybridProbes: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])].collect().toSeq
  }

  /** Probe materialization: pushed-down point reads of the probe docs'
    * distinct terms — bounded by |probes|, never a scan. Tokenizes through
    * [[graft.functions.Tok.tokenize]], the proven bit-identical replica of
    * the declarative `toks` spelling — Java's `String.trim`/`toLowerCase`
    * diverge on non-space whitespace and locale-sensitive case, which
    * would silently shift the hash-gated BM25 term set. */
  private def probeTermsOf(s: SparkSession, d: String): Seq[(Long, String)] =
    Tables.documents(s, d)
      .where(col("doc_id").isin(HybridProbes: _*))
      .select(col("doc_id"), col("text")).collect().toSeq
      .flatMap(r => graft.functions.Tok.tokenize(r.getString(1)).distinct
        .map(t => (r.getLong(0), t)))

  /** The at-rest LEXICAL leg shared by every indexed hybrid form: ensure
    * the keyword index, prune the probes' terms' `tb=` buckets, BM25 with
    * df from the live postings and exact-summation global stats — the
    * [[probeKeywordIndex]] arithmetic with the query-by-example
    * self-exclusion. Returns (query_id, doc_id, r_lex) cut at [[LexTopN]]. */
  private def lexLegAtRest(s: SparkSession, d: String): DataFrame = {
    val kwIdx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    val spark = s
    import spark.implicits._
    val probeTerms = probeTermsOf(s, d)
    val terms = probeTerms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = probeTerms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$kwIdx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val posts = Vectors.dropTombstoned(s, kwIdx,
        spark.read.parquet(s"$kwIdx/postings")
          .where(col("tb").isin(buckets: _*) && col("term").isin(terms: _*)),
        "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val dfT = posts.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    posts
      .join(broadcast(qt), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("bm"))
      .withColumn("r_lex", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm").desc, col("doc_id"))).cast("long"))
      .where(col("r_lex") <= LexTopN)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
  }

  /** The champion-prefix twin of [[lexLegAtRest]]: BM25 over each probe
    * term's first `blocks` champion blocks (`tb=` + `bb=` directory
    * pruning — corpus-free read), df from the `_blockdir` sidecar so idf
    * stays exact. [[HybridLexImpactBlocks]] defaults deeper than the
    * standalone key's prefix because the fused contract consumes the lex
    * top-[[LexTopN]], not top-[[TopK]] — still Θ(terms · blocks ·
    * [[ImpactBlockRows]]) regardless of corpus size. */
  private def lexLegAtRestImpact(s: SparkSession, d: String,
      blocks: Int = HybridLexImpactBlocks): DataFrame = {
    val kwIdx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    val spark = s
    import spark.implicits._
    val probeTerms = probeTermsOf(s, d)
    val terms = probeTerms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = probeTerms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$kwIdx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val dfT = spark.read.parquet(s"$kwIdx/_blockdir")
      .where(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(sum(col("n")).cast("double").as("df"))
    val posts = Vectors.dropTombstoned(s, kwIdx,
        spark.read.parquet(s"$kwIdx/postings")
          .where(col("tb").isin(buckets: _*) && col("bb") < blocks &&
            col("blk") < blocks && col("term").isin(terms: _*)),
        "doc_id")
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    posts
      .join(broadcast(qt), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("bm"))
      .withColumn("r_lex", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm").desc, col("doc_id"))).cast("long"))
      .where(col("r_lex") <= LexTopN)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
  }

  /** Champion prefix of the impact hybrid lexical leg — deeper than the
    * standalone impact key's [[ImpactServeBlocks]] because the fusion
    * consumes the lex top-[[LexTopN]]: the full [[ImpactTailBand]] bands,
    * still corpus-free (≤ 8 · [[ImpactBlockRows]] rows per term). */
  val HybridLexImpactBlocks: Int = ImpactTailBand.toInt

  /** The dedup-factored twin of [[lexLegAtRest]] — BIT-EQUAL output
    * (family scores are the member scores; expansion re-ranks on the
    * contract's (bm desc, doc_id) key), served at Θ(families): the
    * scoring scan is `fpostings/`, winners expand through `fams/` point
    * reads. One extra candidate family absorbs the self-exclusion (the
    * probe doc's removal can promote at most one family into the cut).
    * Falls back to the doc-level leg under live tombstones, like
    * [[probeKeywordIndexFactored]]. */
  private def lexLegAtRestFactored(s: SparkSession, d: String): DataFrame = {
    val kwIdx = Vectors.ensureIndex(s, KeywordKind, d)(p => writeKeywordIndex(s, d, p))
    if (Vectors.tombstonesOf(s, kwIdx).isDefined) return lexLegAtRest(s, d)
    val spark = s
    import spark.implicits._
    val probeTerms = probeTermsOf(s, d)
    val terms = probeTerms.map(_._2).distinct
    val buckets = terms.map(tbOfStr).distinct
    val qt = probeTerms.toDF("query_id", "term")
    val st = spark.read.parquet(s"$kwIdx/_statslog")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val fp = spark.read.parquet(s"$kwIdx/fpostings")
      .where(col("tb").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy(col("term"), col("fam"))
      .agg(max(col("tf")).cast("double").as("tf"),
        max(col("dl")).cast("double").as("dl"),
        sum(col("fam_n")).as("fam_n"))
    val dfT = fp.groupBy(col("term")).agg(sum(col("fam_n")).cast("double").as("df"))
    val contrib = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (lit(1.2) + lit(1.0))) /
      (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val kk = LexTopN + 1 // self-exclusion slack
    val wnd = Window.partitionBy(col("query_id"))
    val famScores = fp
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(st))
      .join(broadcast(qt), Seq("term"))
      .select(col("query_id"), col("fam"), contrib.as("contrib"))
      .groupBy(col("query_id"), col("fam"))
      .agg(round(sum(col("contrib")), 4).as("bm"))
      .withColumn("rn", row_number().over(
        wnd.orderBy(col("bm").desc, col("fam"))))
      .withColumn("kth", max(when(col("rn") === kk, col("bm"))).over(wnd))
    val cand = famScores
      .where(col("kth").isNull || col("bm") >= col("kth"))
      .select(col("query_id"), col("fam"), col("bm"))
      .collect()
    val famIds = cand.map(_.getString(1)).distinct.toSeq
    val fbs = famIds.map(fbOfStr).distinct
    val candDf = cand.toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toDF("query_id", "fam", "bm")
    spark.read.parquet(s"$kwIdx/fams")
      .where(col("fb").isin(fbs: _*) && col("fam").isin(famIds: _*))
      .join(broadcast(candDf), Seq("fam"))
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("r_lex", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm").desc, col("doc_id"))).cast("long"))
      .where(col("r_lex") <= LexTopN)
      .select(col("query_id"), col("doc_id"), col("r_lex"))
  }

  def hybridRrfIndexedWith(s: SparkSession, d: String, nProbe: Int,
      semLeg: String = "ivf", pqCand: Int = 50,
      lexMode: String = "exact"): DataFrame = {
    val ivfIdx =
      if (semLeg == "ivf")
        Vectors.ensureIndex(s, "ivf", d)(p => Vectors.writeIvfIndex(s, d, p))
      else
        Vectors.ensureIndex(s, "pq", d)(p => Vectors.writePqIndex(s, d, p))
    val spark = s
    import spark.implicits._
    val probeVecs = probeVecsOf(s, d)

    val lex = lexMode match {
      case "factored" => lexLegAtRestFactored(s, d)
      case "impact"   => lexLegAtRestImpact(s, d)
      case _          => lexLegAtRest(s, d)
    }

    // semantic leg at rest: per-probe partition-pruned IVF scan, then the
    // contract's (rounded score, doc_id) re-rank over the slacked retrieval.
    // At EXHAUSTIVE settings (nProbe covers every cell / pqCand covers the
    // corpus — the SearchSpec referee configuration) the retrieval is
    // UNCUT: the index orders on the unrounded cosine while the contract
    // ranks on (rounded score, doc_id), so a fixed slack could in principle
    // drop a contract top-N doc behind >SemSlack rounding-boundary ties;
    // retrieving everything makes the brute-equality claim hold by
    // construction, not by fixture luck. Serving settings keep the cut.
    val exhaustive =
      (semLeg == "ivf" && nProbe >= TrainedIvfCells) ||
        (semLeg != "ivf" && pqCand >= ExhaustivePqCand)
    // [[ExhaustivePqCand]] is a fixed proxy for "pqCand covers the corpus";
    // on a corpus LARGER than the proxy the ADC refine would genuinely
    // truncate and the uncut-retrieval brute-equality rationale would not
    // hold — assert the real condition when the branch is taken (ADVICE r11)
    if (exhaustive && semLeg != "ivf") {
      val n = Tables.embeddings(s, d).count()
      require(pqCand >= n,
        s"exhaustive PQ mode requires pqCand >= corpus size ($pqCand < $n)")
    }
    val semFetch = if (exhaustive) Int.MaxValue else SemTopN + SemSlack
    val sem = probeVecs
      .map { case (pid, pv) =>
        (if (semLeg == "ivf")
          Vectors.queryIvfIndex(s, ivfIdx, pv,
            topK = semFetch, nProbe = nProbe, excludeId = Some(pid))
        else
          Vectors.queryPqIndex(s, d, ivfIdx, pv,
            topK = semFetch, excludeId = Some(pid), cand = pqCand))
          .withColumn("query_id", lit(pid))
      }
      .reduce(_ unionByName _)
      .withColumn("r_sem", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_r").desc, col("vec_id"))).cast("long"))
      .where(col("r_sem") <= SemTopN)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_sem"))

    fuseRrf(lex, sem)
  }

  /** ORACLE-GRADUATED indexed hybrid (r10 verdict #1) — the `_fixed`-twin
    * discipline applied to the fused serving topology: the at-rest lexical
    * leg ([[lexLegAtRest]] — the oracle-checked BM25 arithmetic over the
    * persisted keyword index) fused with a semantic leg served from the
    * PERSISTED fixed-centroid IVF layout ([[Vectors.writeIvfFixedIndex]] —
    * pinned integer centroids, `cell=` directory pruning at nProbe=4,
    * exact integer L2 rank by (d2 asc, vec_id asc)). Every step of both
    * legs and the [[fuseRrf]] tail is engine-replayable, so the DuckDB
    * oracle hash-certifies the END-TO-END at-rest fused path that the
    * trained [[hybridRrfIndexed]] (FP k-means codebook) can only pin by
    * spec equality. No retrieval slack: the semantic ranking key IS the
    * integer the index orders by, so the cut is exact by construction.
    *
    * Scale: identical serving shape to the trained key — Θ(df) pruned
    * posting reads + nProbe/[[Vectors.IvfFixedCells]] of the vectors via
    * partition pruning, fusion over two Θ(probes·topN) relations. */
  val hybridRrfIndexedFixed: Q = Vectors.served((s, d) => {
    val idx = Vectors.ensureIndex(s, "ivf_fixed", d)(
      p => Vectors.writeIvfFixedIndex(s, d, p))
    val lex = lexLegAtRest(s, d)
    val sem = probeVecsOf(s, d)
      .map { case (pid, pv) =>
        Vectors.queryIvfFixedIndex(s, idx, pv,
          topK = SemTopN, nProbe = 4, excludeId = Some(pid))
          .withColumn("query_id", lit(pid))
      }
      .reduce(_ unionByName _)
      .withColumn("r_sem", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("vec_id"))).cast("long"))
      .where(col("r_sem") <= SemTopN)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_sem"))
    fuseRrf(lex, sem)
  })

  /** The PQ-mode sibling of [[hybridRrfIndexedFixed]] (r10 verdict #9):
    * the semantic leg is an ADC scan of the PERSISTED fixed-codebook
    * 8-byte codes table ([[Vectors.writePqFixedIndex]] /
    * [[Vectors.queryPqFixedIndex]]) — the 32×-less-I/O serving mode the
    * trained `semLeg="pq"` option exercises, here in exact Long arithmetic
    * ranked by (adc asc, vec_id asc) so the oracle replays encode, table
    * lookup, rank, and fusion bit-for-bit. Scale: the scan body is
    * [[Vectors.PqM]] bytes per vector (vs 512 for the raw doubles) and the
    * lexical leg is shared with every other indexed form. */
  /** The fixed-codebook PQ-ADC semantic leg shared by [[hybridRrfPqFixed]]
    * and [[hybridRrfImpactFixed]]: per-probe ADC over the persisted 8-byte
    * codes, exact Long rank (adc asc, vec_id asc), [[SemTopN]] cut. */
  private def semLegPqFixed(s: SparkSession, d: String): DataFrame = {
    val idx = Vectors.ensureIndex(s, "pq_fixed", d)(
      p => Vectors.writePqFixedIndex(s, d, p))
    probeVecsOf(s, d)
      .map { case (pid, pv) =>
        Vectors.queryPqFixedIndex(s, idx, pv,
          topK = SemTopN, excludeId = Some(pid))
          .withColumn("query_id", lit(pid))
      }
      .reduce(_ unionByName _)
      .withColumn("r_sem", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("vec_id"))).cast("long"))
      .where(col("r_sem") <= SemTopN)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_sem"))
  }

  val hybridRrfPqFixed: Q = Vectors.served((s, d) =>
    fuseRrf(lexLegAtRest(s, d), semLegPqFixed(s, d)))

  /** The DECADE-FLAT fused serving pair, end-to-end oracle-replayable:
    * champion-prefix lexical leg ([[lexLegAtRestImpact]] — corpus-free
    * Θ(terms · [[HybridLexImpactBlocks]] · [[ImpactBlockRows]]) reads,
    * exact df from the block directory) fused with the fixed-codebook
    * PQ-ADC semantic leg ([[semLegPqFixed]] — 8 bytes per vector, exact
    * Long arithmetic). This is what [[hybridRrfIndexed]] serves past the
    * corpus ceiling, here in the `_fixed`-twin discipline so DuckDB
    * hash-certifies the whole flipped topology: champion ranking, prefix
    * cut, sidecar df, ADC encode/scan, and the RRF tail, bit-for-bit. */
  val hybridRrfImpactFixed: Q = Vectors.served((s, d) =>
    fuseRrf(lexLegAtRestImpact(s, d), semLegPqFixed(s, d)))

  val queries: Map[String, Q] = Map(
    "q_keyword_topk_at_rest" -> keywordTopkAtRest,
    "q_keyword_topk_impact"  -> keywordTopkImpact,
    "q_keyword_topk_factored" -> keywordTopkFactored,
    "q_hybrid_rrf"           -> hybridRrf,
    "q_hybrid_rrf_indexed"   -> hybridRrfIndexedContract,
    "q_hybrid_rrf_indexed_fixed" -> hybridRrfIndexedFixed,
    "q_hybrid_rrf_pq_fixed"  -> hybridRrfPqFixed,
    "q_hybrid_rrf_impact_fixed" -> hybridRrfImpactFixed,
  )

  /** Shared lexical-leg CTE fragment of the hybrid oracles (w … lexc):
    * query-by-example BM25 from the corpus with self-exclusion — replays
    * both the brute lex leg and [[lexLegAtRest]] (the at-rest leg's df/
    * avgdl/tf are pruned-postings-derived but value-identical). */
  private def lexCteSql: String = {
    val probes = HybridProbes.mkString(", ")
    s"""w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |qt AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(ws)) AS term
       |  FROM w WHERE doc_id IN ($probes)),
       |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
       |st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
       |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |lexsc AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tf.tf * (1.2 + 1.0)) /
       |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS contrib
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.doc_id <> qt.query_id),
       |lexg AS (
       |  SELECT query_id, doc_id, round(sum(contrib), 4) AS bm
       |  FROM lexsc GROUP BY query_id, doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY bm DESC, doc_id) AS BIGINT) AS r_lex
       |  FROM lexg),
       |lexc AS (SELECT query_id, doc_id, r_lex FROM lex WHERE r_lex <= $LexTopN)""".stripMargin
  }

  /** The champion-prefix twin of [[lexCteSql]] — replays
    * [[lexLegAtRestImpact]]: identical CTEs plus the per-term champion
    * rank (tf desc, dl asc, doc_id asc — the build's total order), with
    * scoring restricted to each term's first [[HybridLexImpactBlocks]] ·
    * [[ImpactBlockRows]] postings. df stays the FULL per-term count (the
    * `_blockdir` sidecar's Σ n), so idf is identical to the exact leg's. */
  private def lexCteImpactSql: String = {
    val probes = HybridProbes.mkString(", ")
    val prefix = HybridLexImpactBlocks * ImpactBlockRows
    s"""w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |qt AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(ws)) AS term
       |  FROM w WHERE doc_id IN ($probes)),
       |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
       |st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
       |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
       |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       |champ AS (
       |  SELECT ch.term, ch.doc_id,
       |    row_number() OVER (PARTITION BY ch.term
       |      ORDER BY ch.tf DESC, dl.dl ASC, ch.doc_id ASC) AS rk
       |  FROM tf AS ch JOIN dl USING (doc_id)),
       |tfp AS (
       |  SELECT tf.doc_id, tf.term, tf.tf
       |  FROM tf JOIN champ ON champ.term = tf.term AND champ.doc_id = tf.doc_id
       |  WHERE champ.rk <= $prefix),
       |lexsc AS (
       |  SELECT qt.query_id, tfp.doc_id,
       |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
       |      (tfp.tf * (1.2 + 1.0)) /
       |      (tfp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS contrib
       |  FROM qt JOIN tfp USING (term) JOIN df USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tfp.doc_id <> qt.query_id),
       |lexg AS (
       |  SELECT query_id, doc_id, round(sum(contrib), 4) AS bm
       |  FROM lexsc GROUP BY query_id, doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY bm DESC, doc_id) AS BIGINT) AS r_lex
       |  FROM lexg),
       |lexc AS (SELECT query_id, doc_id, r_lex FROM lex WHERE r_lex <= $LexTopN)""".stripMargin
  }

  /** Shared RRF fusion tail of the hybrid oracles (expects lexc + semc). */
  private def rrfTailSql: String =
    s"""f AS (
       |  SELECT query_id, doc_id, r_lex, r_sem,
       |    round(coalesce(1.0 / ($RrfK + r_lex), 0.0)
       |        + coalesce(1.0 / ($RrfK + r_sem), 0.0), 4) AS rrf_r
       |  FROM lexc FULL OUTER JOIN semc USING (query_id, doc_id)),
       |r AS (
       |  SELECT f.*, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY rrf_r DESC, doc_id) AS BIGINT) AS rnk
       |  FROM f)
       |SELECT query_id, rnk, doc_id, rrf_r, r_lex, r_sem
       |FROM r WHERE rnk <= $HybridK
       |ORDER BY query_id, rnk""".stripMargin

  /** The oracle replays the CONTRACT (BM25 ranking from the corpus), not
    * the index layout — exactly the at-rest screens' oracle discipline:
    * the persisted index is the implementation, the ranked answer is the
    * semantics. Same arithmetic as the q_bm25 oracle, extended with the
    * query dimension and the per-query row_number cut.
    *
    * SCOPE: the hybrid oracles always replay the FULL [[HybridProbes]]
    * set, so they are valid only below [[BruteProbeCeiling]] embeddings —
    * where every oracle gate runs. Past the ceiling the Spark brute key
    * deliberately degrades to one probe (referee mode, r10 verdict #3)
    * and these oracle strings must not be compared against it. */
  /** The brute fused-hybrid oracle body — shared between q_hybrid_rrf and
    * the graduated q_hybrid_rrf_indexed contract (which wraps it with the
    * pinned agreement boolean). */
  private def bruteHybridSql: String = {
    val probes = HybridProbes.mkString(", ")
    s"""WITH $lexCteSql,
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pv AS (SELECT vec_id AS query_id, v AS p FROM e WHERE vec_id IN ($probes)),
       |semsc AS (
       |  SELECT pv.query_id, e.vec_id AS doc_id,
       |    round(list_dot_product(e.v, pv.p) /
       |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(pv.p, pv.p))), 4) AS cos_r
       |  FROM e, pv WHERE e.vec_id <> pv.query_id),
       |sem AS (
       |  SELECT query_id, doc_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_r DESC, doc_id) AS BIGINT) AS r_sem
       |  FROM semsc),
       |semc AS (SELECT query_id, doc_id, r_sem FROM sem WHERE r_sem <= $SemTopN),
       |$rrfTailSql""".stripMargin
  }

  /** The exact at-rest keyword oracle — shared VERBATIM by
    * q_keyword_topk_at_rest and q_keyword_topk_factored: the factored
    * probe is bit-equal to the exact probe by construction (family
    * members share tf/dl/score; same df, same rank key), so both keys
    * hash-check against the same corpus BM25 replay. */
  private def exactKeywordSql: String = {
      val qvals = Queries
        .flatMap { case (qid, q) => q.toLowerCase.trim.split("\\s+").map(qid -> _) }
        .distinct
        .map { case (qid, t) => s"($qid, '$t')" }
        .mkString(", ")
      val terms = Queries.flatMap(_._2.toLowerCase.trim.split("\\s+"))
        .distinct.map(t => s"'$t'").mkString(", ")
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
         |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
         |st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
         |q(query_id, term) AS (VALUES $qvals),
         |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
         |  WHERE term IN ($terms) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |sc AS (
         |  SELECT q.query_id, tf.doc_id,
         |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |      (tf.tf * (1.2 + 1.0)) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS contrib
         |  FROM q JOIN tf USING (term) JOIN df USING (term)
         |    JOIN dl USING (doc_id) CROSS JOIN st),
         |g AS (
         |  SELECT query_id, doc_id, round(sum(contrib), 4) AS score_r,
         |    CAST(count(*) AS BIGINT) AS n_terms
         |  FROM sc GROUP BY query_id, doc_id),
         |r AS (
         |  SELECT g.*, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS BIGINT) AS rnk
         |  FROM g)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rnk, doc_id, score_r, n_terms
         |FROM r WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_keyword_topk_at_rest" -> exactKeywordSql,
    // bit-equal serving mode — same contract, same replay
    "q_keyword_topk_factored" -> exactKeywordSql,
    // the impact-serving twin: identical CTEs plus the per-term champion
    // rank, scoring restricted to each term's first ImpactServeBlocks ·
    // ImpactBlockRows postings — df (hence idf) stays the full count,
    // replaying probeKeywordIndexImpact's sidecar-df arithmetic
    "q_keyword_topk_impact" -> {
      val qvals = Queries
        .flatMap { case (qid, q) => q.toLowerCase.trim.split("\\s+").map(qid -> _) }
        .distinct
        .map { case (qid, t) => s"($qid, '$t')" }
        .mkString(", ")
      val terms = Queries.flatMap(_._2.toLowerCase.trim.split("\\s+"))
        .distinct.map(t => s"'$t'").mkString(", ")
      val prefix = ImpactServeBlocks * ImpactBlockRows
      s"""WITH w AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
         |dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
         |st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
         |q(query_id, term) AS (VALUES $qvals),
         |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t
         |  WHERE term IN ($terms) GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |champ AS (
         |  SELECT ch.term, ch.doc_id,
         |    row_number() OVER (PARTITION BY ch.term
         |      ORDER BY ch.tf DESC, dl.dl ASC, ch.doc_id ASC) AS rk
         |  FROM tf AS ch JOIN dl USING (doc_id)),
         |tfp AS (
         |  SELECT tf.doc_id, tf.term, tf.tf
         |  FROM tf JOIN champ ON champ.term = tf.term AND champ.doc_id = tf.doc_id
         |  WHERE champ.rk <= $prefix),
         |sc AS (
         |  SELECT q.query_id, tfp.doc_id,
         |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |      (tfp.tf * (1.2 + 1.0)) /
         |      (tfp.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS contrib
         |  FROM q JOIN tfp USING (term) JOIN df USING (term)
         |    JOIN dl USING (doc_id) CROSS JOIN st),
         |g AS (
         |  SELECT query_id, doc_id, round(sum(contrib), 4) AS score_r,
         |    CAST(count(*) AS BIGINT) AS n_terms
         |  FROM sc GROUP BY query_id, doc_id),
         |r AS (
         |  SELECT g.*, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_r DESC, doc_id) AS BIGINT) AS rnk
         |  FROM g)
         |SELECT CAST(query_id AS BIGINT) AS query_id, rnk, doc_id, score_r, n_terms
         |FROM r WHERE rnk <= $TopK
         |ORDER BY query_id, rnk""".stripMargin
    },
    "q_hybrid_rrf" -> bruteHybridSql,
    // graduated indexed-hybrid contract: the brute fused relation + the
    // per-probe fused-agreement bound pinned TRUE (the engine certifies it
    // against the real at-rest serving path)
    "q_hybrid_rrf_indexed" ->
      s"""SELECT query_id, rnk, doc_id, rrf_r, r_lex, r_sem, TRUE AS agree_ok
         |FROM ($bruteHybridSql) t
         |ORDER BY query_id, rnk""".stripMargin,
    // full integer replay of the fixed indexed-hybrid serving path: the
    // shared lex CTEs + the q_ann_ivf_fixed cell assignment generalized to
    // the probe set (nProbe=4 pruned cells, exact integer L2 rank) + the
    // shared RRF fusion tail
    "q_hybrid_rrf_indexed_fixed" -> {
      val probes = HybridProbes.mkString(", ")
      s"""WITH $lexCteSql,
         |e AS (
         |  SELECT vec_id, j - 1 AS j,
         |    CAST(floor(CAST(val AS DOUBLE) * 1000) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(embedding) AS val,
         |          generate_subscripts(embedding, 1) AS j FROM embeddings)),
         |cb AS (
         |  SELECT c, j,
         |    CAST((((c*41 + j*13) % 23) - 11) * 10 AS BIGINT) AS v
         |  FROM (SELECT unnest(range(16)) AS c),
         |       (SELECT unnest(range(64)) AS j)),
         |cd2 AS (
         |  SELECT e.vec_id, cb.c,
         |    CAST(sum((e.q - cb.v) * (e.q - cb.v)) AS BIGINT) AS d2
         |  FROM e JOIN cb ON cb.j = e.j
         |  GROUP BY e.vec_id, cb.c),
         |assign AS (
         |  SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
         |  FROM cd2),
         |cells AS (SELECT vec_id, c FROM assign WHERE rn = 1),
         |probecells AS (
         |  SELECT vec_id AS query_id, c FROM assign
         |  WHERE vec_id IN ($probes) AND rn <= 4),
         |pq AS (SELECT vec_id AS query_id, j, q FROM e WHERE vec_id IN ($probes)),
         |pd AS (
         |  SELECT pq.query_id, e.vec_id AS doc_id,
         |    CAST(sum((e.q - pq.q) * (e.q - pq.q)) AS BIGINT) AS d2
         |  FROM e JOIN pq ON pq.j = e.j
         |  WHERE e.vec_id <> pq.query_id
         |  GROUP BY pq.query_id, e.vec_id),
         |semk AS (
         |  SELECT pd.query_id, pd.doc_id, pd.d2
         |  FROM pd JOIN cells ON cells.vec_id = pd.doc_id
         |  JOIN probecells pc ON pc.query_id = pd.query_id AND pc.c = cells.c),
         |sem AS (
         |  SELECT query_id, doc_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY d2, doc_id) AS BIGINT) AS r_sem
         |  FROM semk),
         |semc AS (SELECT query_id, doc_id, r_sem FROM sem WHERE r_sem <= $SemTopN),
         |$rrfTailSql""".stripMargin
    },
    // the PQ-mode twin: the q_ann_pq_fixed encode/ADC arithmetic
    // generalized to the probe set, fused through the shared RRF tail
    "q_hybrid_rrf_pq_fixed" ->
      s"""WITH $lexCteSql,
         |$semPqFixedCteSql,
         |$rrfTailSql""".stripMargin,
    // the decade-flat fused pair: the champion-prefix lex CTEs fused with
    // the same PQ-ADC sem CTEs — the full replay of what the trained
    // serving key runs past the corpus ceiling
    "q_hybrid_rrf_impact_fixed" ->
      s"""WITH $lexCteImpactSql,
         |$semPqFixedCteSql,
         |$rrfTailSql""".stripMargin,
  )

  /** The fixed-codebook PQ-ADC semantic-leg CTE fragment (e … semc) shared
    * by the q_hybrid_rrf_pq_fixed and q_hybrid_rrf_impact_fixed oracles —
    * the q_ann_pq_fixed encode/ADC arithmetic generalized to the probe
    * set. */
  private def semPqFixedCteSql: String = {
    val probes = HybridProbes.mkString(", ")
    s"""e AS (
       |  SELECT vec_id, j - 1 AS j,
       |    CAST(floor(CAST(val AS DOUBLE) * 1000) AS BIGINT) AS q
       |  FROM (SELECT vec_id, unnest(embedding) AS val,
       |          generate_subscripts(embedding, 1) AS j FROM embeddings)),
       |cb AS (
       |  SELECT m, k, j,
       |    CAST((((k*37 + m*11 + j*7) % 19) - 9) * 10 AS BIGINT) AS c
       |  FROM (SELECT unnest(range(8)) AS m),
       |       (SELECT unnest(range(16)) AS k),
       |       (SELECT unnest(range(8)) AS j)),
       |d2 AS (
       |  SELECT e.vec_id, cb.m, cb.k,
       |    CAST(sum((e.q - cb.c) * (e.q - cb.c)) AS BIGINT) AS d2
       |  FROM e JOIN cb ON cb.m = e.j // 8 AND cb.j = e.j % 8
       |  GROUP BY e.vec_id, cb.m, cb.k),
       |codes AS (
       |  SELECT vec_id, m, k,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
       |  FROM d2),
       |t2 AS (SELECT vec_id AS query_id, m, k, d2 AS tv FROM d2
       |       WHERE vec_id IN ($probes)),
       |adc AS (
       |  SELECT t2.query_id, c.vec_id AS doc_id, CAST(sum(t2.tv) AS BIGINT) AS adc
       |  FROM codes c JOIN t2 ON t2.m = c.m AND t2.k = c.k
       |  WHERE c.rn = 1 AND c.vec_id <> t2.query_id
       |  GROUP BY t2.query_id, c.vec_id),
       |sem AS (
       |  SELECT query_id, doc_id, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc, doc_id) AS BIGINT) AS r_sem
       |  FROM adc),
       |semc AS (SELECT query_id, doc_id, r_sem FROM sem WHERE r_sem <= $SemTopN)""".stripMargin
  }
}
