package graft

/** Times a single query (or a comma-separated list) repeatedly — the
  * iteration loop for optimizing one operator, or timing a named subset of
  * keys, without paying the full Bench suite. Each rep reports its wall
  * time split into DataFrame construction (driver-side plan building, incl.
  * any Spark jobs the operator runs while assembling the plan), Catalyst
  * analysis+optimization of the final frame, and execution, plus one line
  * per Spark job.
  *
  * Usage: `sbt "runMain graft.Time q_join_range[,q_foo,...] [sfDir] [reps]"`.
  */
object Time {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown key $n"))
    val spark = Harness.session(defaultCpus = 32)
    // per-job breakdown (know WHERE the seconds go before touching
    // anything): one row per Spark job with wall time; jobs the query runs
    // during construction show up before the final count() job.
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          // SparkListenerJobStart.properties can itself be null
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty)
            .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
            .getOrElse("")
          jobs.put(js.jobId, (js.time, desc))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobs.remove(je.jobId)
          if (st != null) println(
            f"[job] id=${je.jobId}%4d ${(je.time - st._1) / 1e3}%8.3f s  ${st._2}")
        }
      })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (0 until reps).map { i =>
        println(s"[time] --- $name rep$i ---")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.optimizedPlan // force analysis + optimization
        val t2 = System.nanoTime()
        val n = df.count()
        val t3 = System.nanoTime()
        def s(a: Long, b: Long): String = Harness.fmt((b - a) / 1e9)
        println(s"[time] $name rep$i: ${s(t0, t3)} s ($n rows) " +
          s"construct=${s(t0, t1)} analyze=${s(t1, t2)} exec=${s(t2, t3)}")
        Harness.isolate(spark)
        (t3 - t0) / 1e9
      }
      println(s"[time] $name min=${Harness.fmt(times.min)} s over $reps reps")
    }
    spark.stop()
  }
}
