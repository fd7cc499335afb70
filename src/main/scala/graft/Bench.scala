package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Driver-run benchmark: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints two JSON lines ([[Harness.benchLines]]):
  * the full per-key line, then the compact line the driver parses.
  *
  * Methodology: (1) a warmup pass at sf0.001 pays Catalyst codegen
  * compilation and JIT warmup outside the timed region; (2) the sf-dir
  * inputs are read once untimed so the page cache is warm; (3) two full
  * timed passes run and each query reports its minimum. The numbers then
  * reflect steady-state engine throughput (what a long-running cluster job
  * sees), not single-shot JVM start or the disk state the suite happened to
  * start in. Failed queries report negated times and an `errors` list.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(defaultCpus = 32)

    // Leg-exclusivity guard (r11 verdict #3): a concurrent sbt/Spark JVM
    // contends for all 32 cores and uniformly inflates a leg 20–40% (the
    // r11 sf1 adjudication: 252.6 s vs a same-binary 202.3 s). min-of-2
    // passes absorbs per-key spikes but NOT steady contention, so a leg is
    // only comparable when it ran alone — warn loudly if it didn't.
    Try {
      var anc = Set.empty[Long]
      var cur = java.util.Optional.of(ProcessHandle.current())
      var i = 0
      while (cur.isPresent && i < 10) {
        anc += cur.get.pid(); cur = cur.get.parent(); i += 1
      }
      val others = ProcessHandle.allProcesses().filter { h =>
        val cmd = h.info().commandLine().orElse("")
        (cmd.contains("sbt-launch") || cmd.contains("SparkSubmit")) &&
          !anc.contains(h.pid())
      }.count()
      if (others > 0) System.err.println(
        s"[bench] WARNING: $others concurrent sbt/Spark JVM(s) detected — " +
          "this leg's timings are contended and not comparable")
    }

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        Try(fn(spark, warmDir).count())
      }
    // touch the benchmark inputs once untimed (file listing, footers, page
    // cache) so the timed passes start from a warm state
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Try(Tables(spark, sfDir, t).foreach(_ => ()))
    }
    Try(Tables.events(spark, sfDir).foreach(_ => ()))

    // a query that throws is marked, not silently folded into the numbers:
    // its per-query time is negated and it's excluded from the total
    def timedPass(): Seq[Harness.Timing] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.isolate(spark)
        (name, dt, ok)
      }
    // two full timed passes, per-query minimum: environment noise (CPU
    // steal, GC/JIT pauses) lands multi-second spikes on arbitrary queries
    // (identical suite runs measured 186s vs 42.6s on 17 MB of input —
    // PERF.md); min-of-2 reports the engine's steady-state time, which is
    // what regressions are judged against
    val pass1 = timedPass()
    val pass2 = timedPass()
    val best = pass1.zip(pass2).map { case ((k, v1, ok1), (_, v2, ok2)) =>
      (k, math.min(v1, v2), ok1 && ok2)
    }
    val (fullLine, compactLine) = Harness.benchLines(best, pass1, sfDir)
    // both lines also land as files a driver can read directly; stdout
    // stays the fallback for drivers that only capture output
    def archive(name: String, line: String): Unit = Try {
      Files.createDirectories(Paths.get("bench"))
      Files.writeString(Paths.get(s"bench/$name"), line + "\n")
    }
    archive("driver_full_last.json", fullLine)
    println(fullLine)
    archive("driver_compact_last.json", compactLine)
    println(compactLine)
    spark.stop()
  }
}
