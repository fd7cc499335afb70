package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every query builder takes `(SparkSession, sfDir)` and loads through here so
  * that the scan always goes through the vectorized parquet reader with
  * predicate pushdown / column pruning intact (never cached globally — Catalyst
  * prunes per-query).
  */
object Tables {
  /** The fixture's timestamp columns (o_orderdate, l_shipdate, events.ts in
    * its current vintage) are tz-naive parquet TIMESTAMP(MICROS); Spark 4
    * would infer those as TIMESTAMP_NTZ, which refuses comparison against
    * TimestampType literals and breaks the UTC-session epoch contract every
    * oracle is written against. `GraftSession.install` (and the test/plans
    * session builders) set `inferTimestampNTZ.enabled=false` ONCE at
    * session setup — the loaders themselves stay pure, with ONE exception:
    * [[events]] (and `Streams.eventsStream`) must still set the
    * session-level `legacy.parquet.nanosAsLong` per call when the legacy
    * INT64-nanos vintage is on disk, because that knob has no per-read
    * `option(...)` form (documented on `GraftSession.install`). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` has shipped in two fixture vintages: parquet
    * TIMESTAMP(NANOS) — which Spark's reader rejects unless read as a long
    * (nanos since epoch) and converted to microseconds (integer `div`, no
    * double rounding) — and plain tz-naive TIMESTAMP(MICROS), which needs no
    * conversion. Dispatch on the schema actually on disk so both vintages
    * load identically. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** `embeddings.parquet`'s columns: a read through it opens the table
    * without a schema-inference job. */
  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** SQL front door: register every table as a temp view so users can run
    * plain `spark.sql` against the engine (with the events nanos→micros
    * normalization applied). The ANSI subset of the oracle corpus runs
    * verbatim on these views — asserted by SqlParitySpec, which is the
    * "switch engines, keep your SQL" story made concrete. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => apply(spark, sfDir, t).createOrReplaceTempView(t))
    events(spark, sfDir).createOrReplaceTempView("events")
  }
}
