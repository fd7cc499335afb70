package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Reference-semantics operators (SURVEY.md §2.1 R7, R8, R12, R14, R17–R24)
  * recast onto the driver's `events` table: `user_id` ≈ GLL point, `ts` ≈
  * step, `event_type` ≈ force/param label, `value` ≈ field amplitude.
  *
  * The seisdb-specific binary ingest + encode pipeline itself lives in
  * [[graft.sources]] / [[graft.functions]]; these queries exercise the same
  * relational semantics on oracle-checkable data.
  */
object RefOps {
  type Q = (SparkSession, String) => DataFrame

  /** Reference R7 (`ibool_reader.py:133-141`): monotone first-occurrence
    * dedup — scanning in `orderCol` order, keep a row only when `idCol`
    * strictly exceeds the running maximum seen so far. NOT a plain
    * dropDuplicates: an id whose first occurrence is below the running max is
    * dropped entirely (e.g. ids [0,5,3,7] keep 0,5,7 — never 3).
    *
    * Scalable two-phase implementation (no single-partition global window):
    *  1. range-repartition by `orderCol` and sort within partitions — global
    *     order across sorted partition ranges;
    *  2. per-partition max of `idCol` → driver (one long per partition);
    *  3. broadcast exclusive prefix maxima; each partition streams its rows
    *     against its own running max seeded with the prefix.
    * Cost: 2 passes over the (cached) partitioned data, one tiny collect.
    * At 1000 executors this is the textbook distributed prefix-scan; the
    * naive `Window.orderBy` form (see [[monotoneDedupWindow]]) would funnel
    * 100 TB through one task.
    */
  def monotoneDedup(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val parted = df.repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val schema = parted.schema
    val idIdx = schema.fieldIndex(idCol)
    def idOf(r: Row): Long = r.get(idIdx) match {
      case l: Long => l
      case i: Int  => i.toLong
      case other   => other.toString.toLong
    }
    val maxes = parted.rdd
      .mapPartitionsWithIndex { (i, it) =>
        var m = Long.MinValue
        it.foreach { r => val v = idOf(r); if (v > m) m = v }
        Iterator((i, m))
      }
      .collect().sortBy(_._1).map(_._2)
    // exclusive prefix max: partition i only needs the max over partitions < i
    val prefix = maxes.scanLeft(Long.MinValue)(math.max).dropRight(1)
    val bc = spark.sparkContext.broadcast(prefix)
    val kept = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var m = bc.value(i)
      it.filter { r => val v = idOf(r); if (v > m) { m = v; true } else false }
    }
    val out = spark.createDataFrame(kept, schema)
    parted.unpersist(blocking = false)
    out
  }

  /** Single-window reference implementation of R7 — correct but serial
    * (global order); kept for parity testing against [[monotoneDedup]]. */
  def monotoneDedupWindow(df: DataFrame, orderCol: String, idCol: String): DataFrame = {
    val w = Window.orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__runmax", max(col(idCol)).over(w))
      .where(col("__runmax").isNull || col(idCol) > col("__runmax"))
      .drop("__runmax")
  }

  val refMonotoneDedup: Q = (s, d) =>
    monotoneDedup(
      Tables.events(s, d).select(col("event_id"), col("user_id")),
      "event_id", "user_id")
      .orderBy(col("event_id"))

  /** R8/R12: strided subsample within a step range (every 50th id). */
  val refSubsample: Q = (s, d) =>
    Tables.events(s, d)
      .where(col("event_id") % 50 === 0 &&
        col("event_id").between(1000, 9000))
      .select(col("event_id"), col("user_id"), round(col("value"), 4).as("value_r"))
      .orderBy(col("event_id"))

  /** R14 (`strainfield_reader.py:57-59`): tensor reconstruction from
    * deviatoric components — pivot 3 measure types to columns, then the
    * derived-column arithmetic xx = xx_dev + trace/3, yy = yy_dev + trace/3,
    * zz = trace − xx − yy. Done with conditional aggregation (map-side
    * partial agg; shuffle is one row per user). */
  val refTensorReconstruct: Q = (s, d) => {
    val t  = coalesce(sum(when(col("event_type") === "view", col("value"))), lit(0.0))
    val xd = coalesce(sum(when(col("event_type") === "purchase", col("value"))), lit(0.0))
    val yd = coalesce(sum(when(col("event_type") === "click", col("value"))), lit(0.0))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(t.as("trace"), xd.as("xx_dev"), yd.as("yy_dev"))
      .select(col("user_id"),
        round(col("trace"), 4).as("trace_r"),
        round(col("xx_dev") + col("trace") / 3.0, 4).as("xx"),
        round(col("yy_dev") + col("trace") / 3.0, 4).as("yy"),
        round(col("trace") - (col("xx_dev") + col("trace") / 3.0) - (col("yy_dev") + col("trace") / 3.0), 4).as("zz"))
      .orderBy(col("user_id"))
  }

  /** R17 (`DSGT.py:128-135`): gather a per-key ordered series into an array
    * column (collect_list + sort_array over (ts, id, value) structs), then
    * emit hashable arity stats. Scale note: per-key series must fit one
    * executor's task memory — true of the reference too (its dense buffer);
    * beyond that, series would be chunked by time range. */
  val refGatherSeries: Q = (s, d) => {
    val series = sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), series.as("series"))
      .select(col("user_id"), col("n"),
        round(element_at(col("series"), 1).getField("value"), 4).as("first_v"),
        round(element_at(col("series"), size(col("series"))).getField("value"), 4).as("last_v"))
      .orderBy(col("user_id"))
  }

  /** R18/R19 (`DSGT.py:139-146`): per-group min-offset + max-normalize to
    * [0,1], with the reference's ÷0-on-constant-series quirk guarded
    * (documented divergence, SURVEY §2.1 R19). */
  val refMinmaxNormalize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .withColumn("offset", min(col("value")).over(w))
      .withColumn("scale", max(col("value")).over(w) - col("offset"))
      .select(col("event_id"), col("user_id"),
        round(when(col("scale") === 0.0, 0.0)
          .otherwise((col("value") - col("offset")) / col("scale")), 4).as("norm_v"))
      .orderBy(col("event_id"))
  }

  /** R20/R24 (`DSGT.py:149-152`): truncating 8-bit quantizer + dequantize;
    * reports per-group max/avg absolute error — the quantization-error bound
    * max_err < scale/255 is the property the golden test asserts. */
  val refQuantizeRoundtrip: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, d)
      .withColumn("offset", min(col("value")).over(w))
      .withColumn("scale", max(col("value")).over(w) - col("offset"))
      .withColumn("code",
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor((col("value") - col("offset")) / col("scale") * 255.0)))
      .withColumn("deq", col("code") / 255.0 * col("scale") + col("offset"))
      .withColumn("err", abs(col("value") - col("deq")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(max(col("err")), 6).as("max_err"),
        round(avg(col("err")), 6).as("avg_err"),
        round(max(col("scale")), 4).as("scale_r"))
      .orderBy(col("user_id"))
  }

  /** R23 (`DSGT.py:179-194`): the header/stats catalog — per-key multi-agg
    * (count, min, max, scale, distinct series, byte size of an 8-bit
    * encoding). */
  val refHeaderStats: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ngll_samples"),
        countDistinct(col("event_type")).as("n_series"),
        round(min(col("value")), 4).as("offset_r"),
        round(max(col("value")) - min(col("value")), 4).as("scale_r"),
        count(lit(1)).as("est_bytes"))
      .orderBy(col("user_id"))

  /** R17–R22 fused on events-as-proxy series: each user's samples sorted
    * into (param, step) order, then encoded and decoded by
    * [[graft.functions.Codec]]. ORACLE-CHECKED since r11 (r10 verdict #2
    * family): the hashed columns are the zlib-FREE half of the encode chain
    * — offset/scale stats and the decoded round-trip error, all
    * order-independent quantize arithmetic DuckDB replays directly over
    * `events` — while the real payload is still deflated and inflated
    * (maxErr is computed from the INFLATED bytes, so a corrupted zlib round
    * trip cannot hash-pass). */
  val refBlobEncode: Q = (s, d) => {
    val typeIdx = map_from_arrays(
      array(lit("click"), lit("error"), lit("purchase"), lit("signup"), lit("view")),
      array(lit(0), lit(1), lit(2), lit(3), lit(4)))
    val encodeStats = udf { (series: Seq[Double]) =>
      val vals = series.toArray
      val blob = graft.functions.Codec.encodeSeries(vals)
      (blob.n, blob.offset, blob.scale, graft.functions.Codec.roundTripError(vals, blob))
    }
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(element_at(typeIdx, col("event_type")).as("param"),
        col("event_id").cast("int").as("step"), col("value")))).as("series"))
      .select(col("user_id"), encodeStats(col("series.value")).as("enc"))
      .select(col("user_id"), col("enc._1").as("n"),
        round(col("enc._2"), 12).as("offset_r"),
        round(col("enc._3"), 12).as("scale_r"),
        round(col("enc._4"), 6).as("max_err_r"),
        (col("enc._4") <= col("enc._3") / 255.0 + lit(1e-12)).as("within_bound"))
      .orderBy(col("user_id"))
  }

  /** R1–R4/R14 binary ingest smoke over the synthetic SPECFEM fixture
    * (FIXTURES.md §B): per (force, step) record counts + checksums of the
    * reconstructed tensor. Oracle-checked since r10: DuckDB can't read
    * Fortran bins, but the fixture is deterministic state — the oracle is
    * a VALUES relation from an INDEPENDENT float32-exact replay of the
    * generator truth + the reader's reconstruction arithmetic (same
    * discipline as ref_element_lookup), so a hash match certifies the
    * whole on-disk path: record framing, little-endian float parse,
    * tensor reconstruction, and the per-file summation order. */
  val refFortranScan: Q = (s, _) => {
    val dir = graft.sources.SeisFixture.ensure()
    graft.sources.SeisPipeline.readStrain(s, dir)
      .groupBy(col("force"), col("step"))
      .agg(count(lit(1)).as("n_values"),
        round(sum(col("value")) * 1e7, 4).as("sum_scaled"))
      .orderBy(col("force"), col("step"))
  }

  /** E1 end-to-end: full SGT build on the fixture. ORACLE-CHECKED since
    * r11 (r10 verdict #2): the oracle is a VALUES relation from an
    * independent driver-side replay — generator truth → deviatoric encode →
    * float32 reconstruction → 27-subsample + monotone dedup → series order →
    * quantize/dequantize stats ([[graft.sources.SeisFixture.sgtSeriesReplay]]
    * chain) — so a hash match certifies the ENTIRE pipeline: Fortran
    * framing, tensor math, the dedup scan order, the gather join, and the
    * encode arithmetic. zlib bytes stay out of the contract (PipelineSpec
    * still drives the real deflate/inflate through maxErr). */
  val refSgtPipeline: Q = (s, _) =>
    graft.sources.SeisPipeline.sgtPipeline(s, graft.sources.SeisFixture.ensure())

  /** E2 end-to-end: DGF build on the fixture — oracle-checked by the same
    * replay discipline as [[refSgtPipeline]] (comp-major series order,
    * `DDGF.py:128-132`). */
  val refDgfPipeline: Q = (s, _) =>
    graft.sources.SeisPipeline.dgfPipeline(s, graft.sources.SeisFixture.ensure())

  /** R5/R6/E3: element point-lookup read path on the fixture.
    * Oracle-checked: the fixture's ibool is deterministic state and the
    * (k,j,i) transposed permutation is pinned reference semantics
    * (`ibool_reader.py:81-86`), so the expected 27 (pos, gll) rows
    * materialize as a VALUES relation from an independent replay of
    * [[graft.sources.SeisFixture.iboolIds]] — the hash check then
    * certifies the on-disk path (Fortran record read, 1→0 shift, the
    * point filter, the reorder). Exact permutation semantics additionally
    * pinned by PipelineSpec/SinkSpec. */
  val refElementLookup: Q = (s, _) => {
    val dir = graft.sources.SeisFixture.ensure()
    graft.sources.SeisPipeline.elementLookup(s, dir, indexElement = 2, use27 = true)
      .orderBy(col("pos"))
  }

  /** R24/R25 full cycle as a driver-visible query: build a 16-bit SGT
    * database, read it back through the consumer API ([[graft.sources
    * .SeisPipeline.readSgtDb]]), and report per-point decode stats — sample
    * count, the `step × dt` derived time span the stored `dt` enables, and
    * two POSITIONAL decoded samples (the first sample and the
    * (force=1, param=3, step=50) one), which pin the blob's (major, minor,
    * step) decomposition as well as the dequantize arithmetic.
    * ORACLE-CHECKED since r11 (r10 verdict #2): a generator-replay VALUES
    * relation through quantize→dequantize at 16 bits — zlib bytes stay out
    * of the contract but a corrupted inflate could not reproduce the
    * decoded samples. */
  val refDbRoundtrip: Q = (s, _) => {
    val dir = graft.sources.SeisFixture.ensure()
    val out = graft.sources.SeisFixture.defaultDir + "_dbrt"
    graft.sources.SeisPipeline.createSgtDb(s, dir, out, "CI", "RT", bits = 16)
    graft.sources.SeisPipeline.readSgtDb(s, out)
      .groupBy(col("gll"))
      .agg(count(lit(1)).as("n_samples"),
        round(max(col("t_sec")), 4).as("t_max_r"),
        max(col("step")).cast("long").as("step_max"),
        round(sum(when(col("force") === 0 && col("param") === 0 &&
          col("step") === 0, col("value"))) * 1e7, 4).as("v_first_r"),
        round(sum(when(col("force") === 1 && col("param") === 3 &&
          col("step") === 50, col("value"))) * 1e7, 4).as("v_mid_r"))
      .orderBy(col("gll"))
  }

  /** R12: valid-step scan over the fixture's 3 force dirs. Oracle-checked:
    * the fixture's snapshot listing is deterministic state
    * ([[graft.sources.SeisFixture.Steps]] written to all three force dirs),
    * so the expected semi-join survivors materialize as a VALUES relation —
    * the hash check then certifies the whole metadata path (binaryFile
    * listing, the force/step regex parse, the 3-dir completeness gate). */
  val refValidSteps: Q = (s, _) => {
    val dir = graft.sources.SeisFixture.ensure()
    graft.sources.SeisPipeline.validSteps(s, dir, 0, 101, 10)
  }

  /** Sketch surface: approximate distinct (HLL++). The raw estimate differs
    * engine to engine by design (SURVEY §7.4 bans approx_* VALUES in
    * oracle-checked outputs), so the key emits the sketch's CONTRACT
    * instead: the exact distinct count beside `hll_ok`, the deterministic
    * relative-error bound |approx − exact| ≤ exact/10 + 1 (rsd = 0.02, so
    * the 10% bar is ≥5σ at any group size) — which makes the whole row
    * oracle-checkable (the oracle asserts the bound holds as TRUE) while
    * the HLL++ sketch still runs and its estimate still gates the output. */
  val refApproxDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") / 10.0 + 1.0).as("hll_ok"))
      .orderBy(col("event_type"))

  /** Custom TypedImperativeAggregate sketch (KMV) beside the exact count.
    * Oracle-checked: on integral keys the sketch hashes through the
    * engine-portable splitmix64 chain, so the k-minimum set and the
    * (k−1)/u(k) estimate replay bit-exactly in DuckDB (staged HUGEINT
    * wrapping-arithmetic CTEs — the q_minhash_lsh discipline). */
  val refKmvDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvDistinct.kmv_distinct(col("user_id"), 256).as("kmv_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  val queries: Map[String, Q] = Map(
    "ref_monotone_dedup"     -> refMonotoneDedup,
    "ref_subsample"          -> refSubsample,
    "ref_tensor_reconstruct" -> refTensorReconstruct,
    "ref_gather_series"      -> refGatherSeries,
    "ref_minmax_normalize"   -> refMinmaxNormalize,
    "ref_quantize_roundtrip" -> refQuantizeRoundtrip,
    "ref_header_stats"       -> refHeaderStats,
    "ref_blob_encode"        -> refBlobEncode,
    "ref_fortran_scan"       -> refFortranScan,
    "ref_sgt_pipeline"       -> refSgtPipeline,
    "ref_dgf_pipeline"       -> refDgfPipeline,
    "ref_db_roundtrip"       -> refDbRoundtrip,
    "ref_element_lookup"     -> refElementLookup,
    "ref_valid_steps"        -> refValidSteps,
    "ref_approx_distinct"    -> refApproxDistinct,
    "ref_kmv_distinct"       -> refKmvDistinct,
  )

  val oracles: Map[String, String] = Map(
    "ref_monotone_dedup" ->
      """WITH x AS (
        |  SELECT event_id, user_id,
        |    max(user_id) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |  FROM events)
        |SELECT event_id, user_id FROM x
        |WHERE rm IS NULL OR user_id > rm
        |ORDER BY event_id""".stripMargin,
    "ref_subsample" ->
      """SELECT event_id, user_id, round(value, 4) AS value_r
        |FROM events
        |WHERE event_id % 50 = 0 AND event_id BETWEEN 1000 AND 9000
        |ORDER BY event_id""".stripMargin,
    "ref_tensor_reconstruct" ->
      """WITH g AS (
        |  SELECT user_id,
        |    coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0.0) AS trace,
        |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0.0) AS xx_dev,
        |    coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0.0) AS yy_dev
        |  FROM events GROUP BY user_id)
        |SELECT user_id, round(trace, 4) AS trace_r,
        | round(xx_dev + trace / 3.0, 4) AS xx,
        | round(yy_dev + trace / 3.0, 4) AS yy,
        | round(trace - (xx_dev + trace / 3.0) - (yy_dev + trace / 3.0), 4) AS zz
        |FROM g ORDER BY user_id""".stripMargin,
    "ref_gather_series" ->
      """SELECT user_id, count(*) AS n,
        | round(first(value ORDER BY ts, event_id), 4) AS first_v,
        | round(last(value ORDER BY ts, event_id), 4) AS last_v
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ref_minmax_normalize" ->
      """WITH x AS (
        |  SELECT event_id, user_id, value,
        |    min(value) OVER (PARTITION BY user_id) AS o,
        |    max(value) OVER (PARTITION BY user_id) - min(value) OVER (PARTITION BY user_id) AS s
        |  FROM events)
        |SELECT event_id, user_id,
        | round(CASE WHEN s = 0.0 THEN 0.0 ELSE (value - o) / s END, 4) AS norm_v
        |FROM x ORDER BY event_id""".stripMargin,
    // the source cast pins the arithmetic type on BOTH engines: DuckDB and
    // the DataFrame kernel promote (value-o)/s to DOUBLE anyway, but Spark
    // SQL would evaluate the FLOAT intermediates in FLOAT and diverge by
    // one ulp at bin edges — CAST(value AS DOUBLE) is exact, so the DuckDB
    // result is unchanged and the verbatim spark.sql replay now agrees
    // (the r13 float32-promotion dialect gap, closed)
    "ref_quantize_roundtrip" ->
      """WITH x AS (
        |  SELECT event_id, user_id, CAST(value AS DOUBLE) AS value,
        |    min(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) AS o,
        |    max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) - min(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) AS s
        |  FROM events),
        |q AS (
        |  SELECT user_id, value, s,
        |    CASE WHEN s = 0.0 THEN 0 ELSE CAST(floor((value - o) / s * 255.0) AS BIGINT) END AS code,
        |    o FROM x),
        |e AS (
        |  SELECT user_id, s, abs(value - (code / 255.0 * s + o)) AS err FROM q)
        |SELECT user_id, count(*) AS n,
        | round(max(err), 6) AS max_err,
        | round(avg(err), 6) AS avg_err,
        | round(max(s), 4) AS scale_r
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ref_header_stats" ->
      """SELECT user_id, count(*) AS ngll_samples,
        | count(DISTINCT event_type) AS n_series,
        | round(min(value), 4) AS offset_r,
        | round(max(value) - min(value), 4) AS scale_r,
        | count(*) AS est_bytes
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ref_fortran_scan" -> {
      // independent replay: generator truth (strainTruth + the deviatoric
      // encoding) chained through the reader's float32 reconstruction
      // (xx = xx_dev + tr/3f etc.) and the exact per-point emission order
      // (xx, yy, zz, xy, xz, yz) — each (force, step) group is one file =
      // one task, so the double summation order is pinned too. The final
      // round replicates Spark's BigDecimal.valueOf HALF_UP.
      import graft.sources.SeisFixture
      val nPoints = SeisFixture.NSPEC * SeisFixture.NGLL_LOCAL
      val rows = for {
        (fi, step) <- SeisFixture.Forces.indices
          .flatMap(fi => SeisFixture.Steps.map(st => (fi, st)))
      } yield {
        val phase = fi * 100000
        def truth(p: Int, pt: Int): Float = SeisFixture.strainTruth(p, pt + phase, step)
        var sum = 0.0
        var pt = 0
        while (pt < nPoints) {
          val xx0 = truth(0, pt); val yy0 = truth(1, pt); val zz0 = truth(2, pt)
          val tr = xx0 + yy0 + zz0
          val xx = (xx0 - tr / 3f) + tr / 3f
          val yy = (yy0 - tr / 3f) + tr / 3f
          val zz = tr - xx - yy
          sum += xx.toDouble; sum += yy.toDouble; sum += zz.toDouble
          sum += truth(3, pt).toDouble; sum += truth(4, pt).toDouble
          sum += truth(5, pt).toDouble
          pt += 1
        }
        val scaled = BigDecimal.decimal(sum * 1e7)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        s"($fi, $step, ${6L * nPoints}, $scaled)"
      }
      s"""SELECT CAST(force AS INT) AS force, CAST(step AS INT) AS step,
         |  CAST(n_values AS BIGINT) AS n_values,
         |  CAST(sum_scaled AS DOUBLE) AS sum_scaled
         |FROM (VALUES ${rows.mkString(", ")}) AS t(force, step, n_values, sum_scaled)
         |ORDER BY force, step""".stripMargin
    },
    "ref_sgt_pipeline" -> {
      // independent replay: generator truth → float32 reconstruction →
      // 27-subsample + monotone dedup → (force, param, step) series order →
      // 8-bit quantize/dequantize stats; Spark's round replicated via
      // BigDecimal.valueOf HALF_UP (the ref_fortran_scan discipline)
      import graft.sources.SeisFixture
      def r12(x: Double): Double =
        BigDecimal.decimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = SeisFixture.keptIndexReplay().sortBy(_._3).map { case (spec, p, g) =>
        val vals = SeisFixture.sgtSeriesReplay(spec, p)
        val (o, sc, me, _) = SeisFixture.encodeRoundtripReplay(vals, 8)
        val wb = me <= sc / 255.0 + 1e-12
        s"($g, ${vals.length}, ${r12(o)}, ${r12(sc)}, ${r12(me)}, $wb)"
      }
      s"""SELECT CAST(gll AS BIGINT) AS gll, CAST(n AS INT) AS n,
         |  CAST(offset_r AS DOUBLE) AS offset_r, CAST(scale_r AS DOUBLE) AS scale_r,
         |  CAST(max_err_r AS DOUBLE) AS max_err_r,
         |  CAST(within_bound AS BOOLEAN) AS within_bound
         |FROM (VALUES ${rows.mkString(", ")})
         |  AS t(gll, n, offset_r, scale_r, max_err_r, within_bound)
         |ORDER BY gll""".stripMargin
    },
    "ref_dgf_pipeline" -> {
      // same replay discipline, comp-major series order (DDGF.py:128-132);
      // retained points are the distinct kept glls of the subsample replay
      import graft.sources.SeisFixture
      def r12(x: Double): Double =
        BigDecimal.decimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = SeisFixture.keptIndexReplay().map(_._3).distinct.sorted.map { g =>
        val vals = SeisFixture.dgfSeriesReplay(g)
        val (o, sc, me, _) = SeisFixture.encodeRoundtripReplay(vals, 8)
        val wb = me <= sc / 255.0 + 1e-12
        s"($g, ${vals.length}, ${r12(o)}, ${r12(sc)}, ${r12(me)}, $wb)"
      }
      s"""SELECT CAST(gll AS BIGINT) AS gll, CAST(n AS INT) AS n,
         |  CAST(offset_r AS DOUBLE) AS offset_r, CAST(scale_r AS DOUBLE) AS scale_r,
         |  CAST(max_err_r AS DOUBLE) AS max_err_r,
         |  CAST(within_bound AS BOOLEAN) AS within_bound
         |FROM (VALUES ${rows.mkString(", ")})
         |  AS t(gll, n, offset_r, scale_r, max_err_r, within_bound)
         |ORDER BY gll""".stripMargin
    },
    "ref_db_roundtrip" -> {
      // generator replay through the 16-bit quantize→dequantize: positional
      // decoded samples pin the (major, minor, step) blob decomposition;
      // t_max = max(step)·dt in the same double arithmetic as the reader
      import graft.sources.SeisFixture
      def r4(x: Double): Double =
        BigDecimal.decimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val nStep = SeisFixture.Steps.length
      val stepMax = SeisFixture.Steps.max
      val tMax = r4(stepMax.toLong * SeisFixture.Dt)
      // series index of (force=1, param=3, step=50): force·(6·nStep) +
      // param·nStep + indexOf(step)
      val iMid = 1 * (6 * nStep) + 3 * nStep + SeisFixture.Steps.indexOf(50)
      val rows = SeisFixture.keptIndexReplay().sortBy(_._3).map { case (spec, p, g) =>
        val vals = SeisFixture.sgtSeriesReplay(spec, p)
        val (_, _, _, deq) = SeisFixture.encodeRoundtripReplay(vals, 16)
        s"($g, ${vals.length}, $stepMax, $tMax, ${r4(deq(0) * 1e7)}, ${r4(deq(iMid) * 1e7)})"
      }
      s"""SELECT CAST(gll AS BIGINT) AS gll, CAST(n_samples AS BIGINT) AS n_samples,
         |  CAST(t_max_r AS DOUBLE) AS t_max_r, CAST(step_max AS BIGINT) AS step_max,
         |  CAST(v_first_r AS DOUBLE) AS v_first_r, CAST(v_mid_r AS DOUBLE) AS v_mid_r
         |FROM (VALUES ${rows.mkString(", ")})
         |  AS t(gll, n_samples, step_max, t_max_r, v_first_r, v_mid_r)
         |ORDER BY gll""".stripMargin
    },
    // the zlib-free half of the encode chain replays directly over events:
    // offset/scale window stats + truncating quantize/dequantize error —
    // the ref_quantize_roundtrip arithmetic with the blob key's rounding
    "ref_blob_encode" ->
      """WITH x AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS value,
        |    min(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) AS o,
        |    max(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) - min(CAST(value AS DOUBLE)) OVER (PARTITION BY user_id) AS s
        |  FROM events),
        |q AS (
        |  SELECT user_id, value, o, s,
        |    CASE WHEN s = 0.0 THEN 0
        |         ELSE CAST(floor((value - o) / s * 255.0) AS BIGINT) END AS code
        |  FROM x),
        |e AS (
        |  SELECT user_id, o, s, abs(value - (code / 255.0 * s + o)) AS err FROM q)
        |SELECT user_id, CAST(count(*) AS INT) AS n,
        |  round(min(o), 12) AS offset_r, round(max(s), 12) AS scale_r,
        |  round(max(err), 6) AS max_err_r,
        |  (max(err) <= max(s) / 255.0 + 1e-12) AS within_bound
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ref_valid_steps" -> {
      // deterministic fixture state: SeisFixture.Steps lands in all 3 force
      // dirs, and the query's [0,101) stride-10 range covers exactly them
      val vals = graft.sources.SeisFixture.Steps.map(s => s"($s)").mkString(", ")
      s"""SELECT CAST(step AS INT) AS step FROM (VALUES $vals) AS t(step)
         |ORDER BY step""".stripMargin
    },
    "ref_element_lookup" -> {
      // independent replay of the reference permutation over the fixture's
      // deterministic ibool: spec 2's 125 local ids, 27-lattice selection in
      // k-major order, emitted (i,j,k) <- [k][j][i] (ibool_reader.py:81-86),
      // 1-based ids shifted to 0
      val ids = graft.sources.SeisFixture.iboolIds()
      val n = graft.sources.SeisFixture.NGLL_LOCAL
      val sel = graft.sources.SeisFixture.Index27.map(p => (ids(2 * n + p) - 1).toLong)
      val out = for (i <- 0 until 3; j <- 0 until 3; k <- 0 until 3) yield sel(k * 9 + j * 3 + i)
      val vals = out.zipWithIndex.map { case (g, p) => s"($p, $g)" }.mkString(", ")
      s"""SELECT CAST(pos AS INT) AS pos, CAST(gll AS BIGINT) AS gll
         |FROM (VALUES $vals) AS t(pos, gll) ORDER BY pos""".stripMargin
    },
    "ref_approx_distinct" ->
      // the sketch's CONTRACT, not its value: the oracle asserts the
      // engine's HLL++ estimate sat inside the deterministic 10% bound by
      // pinning hll_ok TRUE beside the exact counts
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ref_kmv_distinct" -> {
      // bit-exact DuckDB replay of the KMV sketch on integral keys: the
      // splitmix64 chain (golden-ratio increment + 3-stage avalanche) in
      // staged HUGEINT wrapping arithmetic — the q_minhash_lsh discipline —
      // then per-group k-th-minimum and the (k-1)/u(k) double estimate with
      // math.round's floor(x+0.5) tie rule
      val M64 = "18446744073709551616::HUGEINT"
      val M32 = "4294967296::HUGEINT"
      // signed BIGINT view of an unsigned HUGEINT in [0, 2^64)
      def sgn(x: String) =
        s"CAST(CASE WHEN $x >= 9223372036854775808::HUGEINT THEN $x - $M64 ELSE $x END AS BIGINT)"
      // unsigned HUGEINT view of a signed BIGINT
      def uns(x: String) =
        s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $M64 ELSE CAST($x AS HUGEINT) END)"
      // x ^ (x >>> s) on the unsigned view (div = 2^s; quotient fits BIGINT)
      def xs(x: String, div: Long) =
        uns(s"xor(${sgn(x)}, CAST($x // $div::HUGEINT AS BIGINT))")
      // wrapping multiply by the 64-bit constant c (cLo = c mod 2^32)
      def wm(x: String, c: String, cLo: String) =
        s"((($x % $M32) * $c::HUGEINT + ((($x // $M32) * $cLo::HUGEINT) % $M32) * $M32) % $M64)"
      val k = 256
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         |h0 AS (SELECT event_type,
         |  ((${uns("user_id")}) + 11400714819323198485::HUGEINT) % $M64 AS u0 FROM du),
         |h1 AS (SELECT event_type, ${wm(xs("u0", 1073741824L), "13787848793156543929", "484763065")} AS u1 FROM h0),
         |h2 AS (SELECT event_type, ${wm(xs("u1", 134217728L), "10723151780598845931", "321982955")} AS u2 FROM h1),
         |h3 AS (SELECT event_type, xor(${sgn("u2")}, CAST(u2 // 2147483648::HUGEINT AS BIGINT)) AS h FROM h2),
         |f AS (SELECT DISTINCT event_type, xor(h, -9223372036854775808) AS flip FROM h3),
         |r AS (SELECT event_type, flip,
         |        row_number() OVER (PARTITION BY event_type ORDER BY flip) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS nh FROM f),
         |est AS (SELECT event_type,
         |  CASE WHEN max(nh) < $k THEN CAST(max(nh) AS BIGINT)
         |       ELSE CAST(floor(${k - 1}.0 /
         |         (CAST(max(CASE WHEN rn = $k THEN flip END) AS DOUBLE) / 1.8446744073709552e19 + 0.5)
         |         + 0.5) AS BIGINT) END AS kmv_users
         |  FROM r GROUP BY event_type),
         |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         |       FROM events GROUP BY event_type)
         |SELECT est.event_type, est.kmv_users, ex.exact_users
         |FROM est JOIN ex USING (event_type)
         |ORDER BY est.event_type""".stripMargin
    },
  )
}
