package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The library's front door: builds (or upgrades) a SparkSession with the
  * full graft surface installed — native expressions (`fnv_hash64`,
  * `vec_dot`, `vec_cosine`), the `VectorizeDotProduct` optimizer rule, the `TopKPerGroup`
  * planner strategy, and the scalar codec/hashing SQL UDFs — plus the
  * engine's recommended execution config (AQE with partition coalescing and
  * skew handling, UTC session time).
  *
  * Cluster deploys get the Catalyst pieces with
  * `--conf spark.sql.extensions=graft.GraftExtensions` at submit time;
  * `GraftSession.builder(...)` covers local/driver-built sessions, and
  * `GraftSession.install(spark)` upgrades a session someone else built
  * (notebook kernels, test harnesses).
  */
object GraftSession {

  /** A session builder preconfigured for the engine. `parallelism` sizes
    * both the local master and `spark.sql.shuffle.partitions` — on a real
    * cluster, drop `master` and size shuffle partitions to ~2-3× total
    * cores instead. */
  def builder(parallelism: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$parallelism]")
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r16 note: parallelismFirst=false (size-only AQE coalescing) was
      // measured and REJECTED — it collapses small-byte but CPU-heavy
      // reduce stages (token-explode aggregations: q_tfidf,
      // q_source_overlap) to one task at sf0.1 while buying nothing on the
      // stage-latency-bound keys; Spark's parallelism-first default is the
      // right policy when compute, not shuffle block count, bounds a stage.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // r16 (guide §1.1/§7.3 — profile first): thread samples during the
      // bench put the hot path in BypassMergeSortShuffleWriter: the bypass
      // path opens one temp file PER REDUCE PARTITION per map task, i.e.
      // tasks × partitions × stages file creations per query — tens of
      // thousands of open(2)+rename(2) calls on multi-stage queries. The
      // sort path writes ONE spill file per map task. The bypass exists to
      // skip the sort for small partition counts on cheap-file-handle
      // filesystems; with any nontrivial stage count the syscall storm
      // costs more than the sort it avoids (and at cluster scale partition
      // counts exceed any threshold, so bypass never fires there — this is
      // scale-neutral). Measured (q_minhash_lsh / q_simhash_dedup sf0.1
      // min-of-5): bypass on 2.78/2.15 s, off 1.87/1.52 s.
      .config("spark.shuffle.sort.bypassMergeThreshold", 1)
      .config("spark.ui.enabled", "false")
    defaultLocalDir(new SparkConf(), sys.env).fold(b)(b.config("spark.local.dir", _))
  }

  /** Shuffle/spill scratch for a deploy that configures none: the fastest
    * local storage available (`/dev/shm` is RAM where a local disk is slow),
    * or `SPARK_GRAFT_LOCAL_DIR`. None — keep the deploy's choice — when
    * `spark.local.dir` is already in the conf (spark-submit `--conf`,
    * `spark-defaults.conf`) or `SPARK_LOCAL_DIRS` is set: a tmpfs default
    * there could fill memory or run out of space under a real job. */
  private[graft] def defaultLocalDir(conf: SparkConf, env: Map[String, String]): Option[String] =
    if (conf.contains("spark.local.dir") || env.contains("SPARK_LOCAL_DIRS")) None
    else Some(env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-graft-local"
      else System.getProperty("java.io.tmpdir", "/tmp")))

  /** Build the session and install everything. */
  def create(parallelism: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(parallelism).getOrCreate()
    install(spark)
    spark
  }

  /** Install the full graft surface on an already-running session
    * (idempotent): SQL UDFs, plus everything `GraftExtensions` injects
    * (native expressions, planner strategy, optimizer rule) — the extensions
    * object is the single registration site, applied here via the bridge.
    *
    * SESSION-WIDE SIDE EFFECT (ADVICE r7): this flips
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` for the WHOLE
    * session — every parquet read, not just the framework's tables, will
    * infer tz-naive timestamps as TimestampType from here on. That is the
    * engine's documented contract (its oracles are written against the
    * UTC-epoch reading); callers embedding graft in a session that also
    * reads NTZ-dependent external data should scope those reads with
    * `.option("inferTimestampNTZ", ...)` per read. One further per-call
    * exception to "loaders stay pure": [[Tables.events]] /
    * [[graft.streaming.Streams.eventsStream]] set the session-level
    * `legacy.parquet.nanosAsLong` when (and only when) they meet the
    * legacy INT64-nanos events vintage, because that knob has no per-read
    * `option(...)` equivalent. */
  def install(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    functions.Codec.register(spark)
    functions.Hashing.register(spark)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.GraftBridge.applyExtensions(ext, spark)
  }
}
