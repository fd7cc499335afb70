package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{TopKPerGroup, VectorizeDotProduct}

/** The custom TopKPerGroup logical/physical operator: semantics pinned to
  * the declarative row_number window spelling, physical plan pinned to the
  * partial/final heap shape (no Window, no full sort before the shuffle). */
class PlansSpec extends AnyFunSuite {

  test("TopKPerGroup matches the row_number window spelling exactly") {
    val spark = TestSpark.spark
    val cust = Tables.customer(spark, TestSpark.sf0001)
    val custom = TopKPerGroup.topK(cust,
      groupCols = Seq("c_nationkey"),
      order = Seq("c_acctbal" -> false, "c_custkey" -> true), k = 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val reference = cust
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("c_nationkey"), col("rn"), col("c_custkey"), col("c_acctbal"))
    assert(custom.count() == reference.count())
    assert(custom.exceptAll(reference).isEmpty && reference.exceptAll(custom).isEmpty)
  }

  test("k larger than any group returns whole groups, ranked densely from 1") {
    val spark = TestSpark.spark
    val nat = Tables.nation(spark, TestSpark.sf0001)
    val all = TopKPerGroup.topK(nat,
      groupCols = Seq("n_regionkey"),
      order = Seq("n_nationkey" -> true), k = 1000)
    assert(all.count() == nat.count())
    val ranks = all.groupBy(col("n_regionkey"))
      .agg(min(col("rn")).as("lo"), max(col("rn")).as("hi"), count(lit(1)).as("n"))
      .collect()
    ranks.foreach(r => assert(r.getLong(1) == 1L && r.getLong(2) == r.getLong(3), r))
  }

  test("physical plan is partial+final heap execs around one shuffle — no Window, no Sort of the input") {
    val spark = TestSpark.spark
    val df = TopKPerGroup.topK(Tables.customer(spark, TestSpark.sf0001),
      groupCols = Seq("c_nationkey"),
      order = Seq("c_acctbal" -> false, "c_custkey" -> true), k = 3)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert("TopKPerGroup \\[".r.findAllIn(p).size == 2, p)
    assert(p.contains("Exchange hashpartitioning(c_nationkey"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p)
  }

  test("TopKPerGroup equals the window spelling on random data (seeded), incl. ties and skew") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(0xC0FFEE)
    // skewed groups (g=0 holds ~half the rows), duplicate scores to force
    // tie-breaking through the id column
    val rows = (0 until 5000).map { i =>
      val g = if (rnd.nextBoolean()) 0 else rnd.nextInt(40)
      (i.toLong, g, rnd.nextInt(25).toDouble)
    }
    val df = rows.toDF("id", "g", "score")
    // maxGroupsInFlight=2 forces many partial-phase flushes (40 groups),
    // exercising the bounded-memory path; results must be unaffected
    for ((k, cap) <- Seq((1, 1 << 17), (3, 2), (17, 2))) {
      val custom = graft.plans.TopKPerGroup
        .topK(df, Seq("g"), Seq("score" -> false, "id" -> true), k,
          maxGroupsInFlight = cap)
        .select(col("g"), col("rn"), col("id"), col("score"))
      val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
      val reference = df.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= k)
        .select(col("g"), col("rn"), col("id"), col("score"))
      assert(custom.exceptAll(reference).isEmpty &&
        reference.exceptAll(custom).isEmpty, s"mismatch at k=$k")
    }
  }

  test("VectorizeDotProduct rule rewrites aggregate(zip_with) into the native vec_dot") {
    val spark = TestSpark.spark
    VectorizeDotProduct.install(spark)
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val declarative = e.select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    val optimized = declarative.queryExecution.optimizedPlan.toString
    assert(optimized.contains("vec_dot") && !optimized.contains("aggregate("), optimized)
    // bit-identical to the interpreted evaluation (same accumulation order):
    // compare against the un-rewritten session result via the expression API
    val expected = e.select(col("vec_id"),
      graft.functions.DotProductExpr.vec_dot(col("v"), col("v")).as("d"))
    val joined = declarative.withColumnRenamed("d", "da")
      .join(expected.withColumnRenamed("d", "db"), "vec_id")
    assert(joined.count() == e.count())
    assert(joined.where(col("da") =!= col("db")).isEmpty)
  }

  test("WindowTopKToHeap rewrites the row_number filter spelling into the heap operator") {
    val spark = TestSpark.spark
    graft.plans.WindowTopKToHeap.install(spark)
    val cust = Tables.customer(spark, TestSpark.sf0001)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    def spelled = cust.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    val p = spelled.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), p.take(2500))
    assert(!p.contains("Window"), p.take(2500))
    // identical rows AND schema (rn stays the window's INT) vs the genuine
    // Window plan, obtained by disabling the rewrite
    val got = spelled.orderBy(col("c_nationkey"), col("rn"), col("c_custkey")).collect().toSeq
    assert(spelled.schema("rn").dataType == org.apache.spark.sql.types.IntegerType)
    spark.conf.set("spark.graft.windowTopK.enabled", "false")
    val want =
      try {
        val ref = spelled
        assert(ref.queryExecution.executedPlan.toString.contains("Window"))
        ref.orderBy(col("c_nationkey"), col("rn"), col("c_custkey")).collect().toSeq
      } finally spark.conf.set("spark.graft.windowTopK.enabled", "true")
    assert(got == want)
  }

  test("WindowTopKToHeap handles k=1 dedup, residual predicates, and leaves ineligible shapes alone") {
    val spark = TestSpark.spark
    graft.plans.WindowTopKToHeap.install(spark)
    val cust = Tables.customer(spark, TestSpark.sf0001)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    // keep-first (rn = 1): the q_stateful_dedup spelling
    val first = cust.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    assert(first.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(first.count() == cust.select(col("c_nationkey")).distinct().count())
    // compound filter: rank bound is consumed, the rest survives as a Filter
    val mixed = cust.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2 && col("c_acctbal") > 0)
    val mp = mixed.queryExecution.executedPlan.toString
    assert(mp.contains("TopKPerGroup") && !mp.contains("Window"), mp.take(2500))
    spark.conf.set("spark.graft.windowTopK.enabled", "false")
    val wantMixed =
      try mixed.orderBy(col("c_nationkey"), col("rn")).collect().toSeq
      finally spark.conf.set("spark.graft.windowTopK.enabled", "true")
    assert(mixed.orderBy(col("c_nationkey"), col("rn")).collect().toSeq == wantMixed)
    // rank() has different tie semantics — must stay a Window
    val ranked = cust.withColumn("rk", rank().over(w)).where(col("rk") <= 3)
    assert(ranked.queryExecution.executedPlan.toString.contains("Window"))
    // pagination (lower bound) — must stay a Window
    val page = cust.withColumn("rn", row_number().over(w))
      .where(col("rn") >= 2 && col("rn") <= 4)
    assert(page.queryExecution.executedPlan.toString.contains("Window"))
    // the rewrite reaches SQL-text queries too — optimizer rules see the
    // same logical plan regardless of the front end
    Tables.registerViews(spark, TestSpark.sf0001)
    val viaSql = spark.sql(
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3""".stripMargin)
    assert(viaSql.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val expected = TopKPerGroup.topK(cust, Seq("c_nationkey"),
      Seq("c_acctbal" -> false, "c_custkey" -> true), 3).count()
    assert(viaSql.count() == expected)
  }

  test("GraftSession.builder keeps a configured local dir, defaults only without one") {
    val bare = new org.apache.spark.SparkConf(false)
    assert(GraftSession.defaultLocalDir(bare, Map.empty).nonEmpty)
    assert(GraftSession.defaultLocalDir(bare, Map("SPARK_GRAFT_LOCAL_DIR" -> "/scratch/g"))
      .contains("/scratch/g"))
    val configured = new org.apache.spark.SparkConf(false).set("spark.local.dir", "/data/spark")
    assert(GraftSession.defaultLocalDir(configured, Map.empty).isEmpty)
    assert(GraftSession.defaultLocalDir(bare, Map("SPARK_LOCAL_DIRS" -> "/data/a,/data/b")).isEmpty)
  }

  test("GraftSession.install puts the full surface on a live session") {
    val spark = TestSpark.spark
    GraftSession.install(spark)
    GraftSession.install(spark) // idempotent
    assert(spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) == 11.0)
    assert(spark.sql("SELECT fnv_hash64('x') AS h").head().getLong(0) ==
      graft.functions.Hashing.fnv64("x"))
    assert(spark.experimental.extraStrategies.count(_ eq graft.plans.TopKPerGroupStrategy) == 1)
    assert(spark.experimental.extraOptimizations.count(_ eq graft.plans.VectorizeDotProduct) == 1)
  }
}
