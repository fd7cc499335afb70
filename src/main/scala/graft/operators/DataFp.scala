package graft.operators

import org.apache.spark.sql.SparkSession

/** Dataset-content fingerprints for the engine's memo caches — the
  * [[Bpe]] fingerprint discipline generalized (ADVICE r12): any memo keyed
  * only by (session, dataset-dir) returns STALE results after an in-place
  * dataset rewrite in the same process (Verify-style rewrite-then-query
  * flows), and entries accumulate unboundedly across sessions. Keying on
  * (session, dir, fingerprint) makes a rewrite a cache MISS, and a miss
  * evicts the superseded vintage's entries.
  *
  * r14 (VERDICT r13 #1): the fingerprint is now a splitmix fold over the
  * dataset's sorted DATA-FILE manifest — (relative path, length, mtime)
  * per file, metadata files (`_SUCCESS`, dot-files) excluded — and the
  * manifest itself is exposed ([[snapshot]]) so [[Index.ensure]]
  * can DIFF two vintages: an append-only delta (old files intact, new
  * files added) routes through the index append verbs at Θ(batch) instead
  * of a full Θ(corpus) rebuild. Deriving the fp FROM the manifest keeps
  * the two coherent by construction (one listing, one snapshot), and
  * makes committer-metadata churn (a rewritten `_SUCCESS`) a non-event.
  * Still one driver metadata call, no data read. A short TTL memo
  * ([[ttlNanos]], same contract as `graft.bpe.fp.ttl.ms`) skips the
  * relisting on back-to-back calls; verification mains set the TTL to 0
  * so every gate query re-lists. */
private[graft] object DataFp {

  /** One data file of a dataset vintage: relative path, length, mtime. */
  final case class Entry(rel: String, len: Long, mtime: Long)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (Long, Seq[Entry], Long)]()

  private def ttlNanos: Long =
    sys.props.get("graft.fp.ttl.ms").map(_.toLong * 1000000L)
      .getOrElse(30L * 1000 * 1000 * 1000)

  /** Fingerprint of the dataset under `dir` (any data file rewritten,
    * added, or removed changes the fold). 0 for a missing/empty dir. */
  def of(s: SparkSession, dir: String): Long = snapshot(s, dir)._1

  /** Coherent (fingerprint, manifest) pair — both from ONE listing, so a
    * vintage stamped with this fp is exactly described by this manifest. */
  def snapshot(s: SparkSession, dir: String): (Long, Seq[Entry]) = {
    val key = (System.identityHashCode(s), dir)
    val now = System.nanoTime()
    val hit = cache.get(key)
    if (hit != null && now - hit._3 < ttlNanos) (hit._1, hit._2)
    else {
      val man = list(s, dir)
      val fp = fpOf(man)
      cache.put(key, (fp, man, now))
      (fp, man)
    }
  }

  /** The fold over a sorted manifest — pure, so a manifest read back from
    * an index's `_manifest` sidecar reproduces its vintage's fp. */
  def fpOf(manifest: Seq[Entry]): Long = {
    var h = 0xcbf29ce484222325L
    manifest.foreach { e =>
      h = graft.functions.Hashing.mix64(h ^ e.rel.hashCode.toLong)
      h = graft.functions.Hashing.mix64(h ^ e.len)
      h = graft.functions.Hashing.mix64(h ^ e.mtime)
    }
    h
  }

  /** Committer metadata (`_SUCCESS`, `.crc`, `_temporary`) is rewritten on
    * every append and carries no row data — excluded from the manifest so
    * a pure append diffs as exactly its new part-files. Matches parquet's
    * own discovery rule (underscore/dot paths are invisible). */
  private def isMeta(rel: String): Boolean =
    rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))

  private def list(s: SparkSession, dir: String): Seq[Entry] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val base = fs.getFileStatus(p).getPath.toUri.getPath
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Entry]
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (!isMeta(rel)) buf += Entry(rel, f.getLen, f.getModificationTime)
      }
      buf.sortBy(_.rel).toSeq
    }
  }

  /** Explicit reset (tests / same-process rewrite flows that cannot wait
    * out the TTL). */
  def invalidate(): Unit = cache.clear()
}
