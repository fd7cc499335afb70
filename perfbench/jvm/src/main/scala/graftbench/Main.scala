package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Benchmark harness entry point. One JVM runs one workload against inputs
  * that `perfbench/run.py` generated, and writes `result.json` (timings,
  * counters and the locations of the outputs to check) into `--out`.
  *
  * {{{
  * java -cp <classpath> graftbench.Main --workload seis_build --data D \
  *   --out O --tmp T --seconds 20 --trace 0 --cores 4
  * }}}
  *
  * All Spark state (warehouse, local dirs, written databases and indexes)
  * lives under `--tmp`, which the caller owns and removes.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(opt("workload"), opt("data"), opt("out"), opt("tmp"),
      opt("seconds").toDouble, opt("trace") == "1", opt("cores").toInt)
    val spark = GraftSession.builder(cfg.cores)
      .appName("graft-perfbench")
      .config("spark.local.dir", s"${cfg.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.tmp}/warehouse")
      .getOrCreate()
    try {
      GraftSession.install(spark)
      val ctx = new Ctx(spark, cfg)
      ctx.result("session_ready_ms") = System.currentTimeMillis()
      cfg.workload match {
        case "seis_build" => SeisBuild.run(ctx)
        case "corpus_curation" => Curation.run(ctx)
        case "vector_serving" => Serving.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (cfg.trace) ctx.layer ++= Kernels.all()
      ctx.finish()
    } finally spark.stop()
  }
}

final case class Config(workload: String, data: String, out: String, tmp: String,
    seconds: Double, trace: Boolean, cores: Int)

/** What a workload sees: the session, its configuration, the probe and the
  * result record it fills in. */
final class Ctx(val spark: SparkSession, val cfg: Config) {
  val probe = new Probe(spark, cfg.trace)
  /** Result entries, written as one JSON object by [[finish]]. */
  val result = mutable.LinkedHashMap[String, Any]()
  /** Per-layer metrics; only the traced run reports them. */
  val layer = mutable.LinkedHashMap[String, Double]()
  private var attempted = 0L

  /** Marks the end of set-up (session and first touch of the inputs) and
    * starts the probe's counters from zero. */
  def setupDone(): Unit = {
    result("setup_end_ms") = System.currentTimeMillis()
    probe.reset()
  }

  /** Warm units (passes) a run makes after its cold one: one per six of
    * `--seconds`, at least one. A count rather than a deadline, so that
    * every run of a workload measures the same sequence of calls: the JVM
    * keeps warming up for minutes, and runs that stopped at a deadline
    * would compare passes from different points of that curve. */
  def warmUnits: Int = math.max(1, math.round(cfg.seconds / 6.0).toInt)

  /** Counts one attempted operation; a failure propagates and fails the run. */
  def op[T](f: => T): (T, Cost) = { attempted += 1; Cost.of(f) }

  /** Counts and runs one DataFrame-returning call through the probe. */
  def call(build: => DataFrame): Called = { attempted += 1; probe.call(build) }

  /** Drops every cached Dataset: several operators persist intermediates
    * they never unpersist, and a growing cache would slow later planning. */
  def clearCache(): Unit = spark.catalog.clearCache()

  def finish(): Unit = {
    result("attempted") = attempted
    result("failed") = 0L
    result("heap_peak_mb") = probe.heapPeakAfterGcMb
    if (cfg.trace) result("layer") = layer
    Files.write(new File(cfg.out, "result.json").toPath, Json(result).getBytes(UTF_8))
  }
}

/** Wall time and work CPU time over one operation, in seconds. Work CPU is
  * the CPU time of the JVM's Java threads: the calling thread, Spark's task,
  * scheduler and listener threads. It leaves out the JIT compiler and GC
  * threads, whose work depends on when they were scheduled more than on the
  * operation (GC time is the per-layer `spark.gc_s`), and the kernel's
  * per-thread clock leaves out time the host held a virtual CPU. */
final case class Cost(wall: Double, cpu: Double) {
  def +(o: Cost): Cost = Cost(wall + o.wall, cpu + o.cpu)
}

object Cost {
  val zero: Cost = Cost(0, 0)

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread, by thread id. */
  def snapshot(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Work CPU seconds since `s0`: per thread the difference, a thread born
    * since counting whole. A thread that ended since is lost, with the part
    * of its time after `s0`. */
  def cpuSince(s0: Map[Long, Long]): Double =
    snapshot().iterator.map { case (id, ns) => ns - s0.getOrElse(id, 0L) }.sum / 1e9

  def of[T](f: => T): (T, Cost) = {
    val s0 = snapshot()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    (r, Cost(wall, cpuSince(s0)))
  }

  def sum(xs: Iterable[Cost]): Cost = xs.foldLeft(zero)(_ + _)
}

object Ctx {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** `op_ms` and `op_cpu_ms` of a workload's warm single calls: per kind of
    * call the median, then the mean over kinds, so that a mix of cheap and
    * dear calls does not put the median in the gap between them. */
  def callFigures(calls: Seq[(String, Phases)]): Map[String, Double] = {
    val byKind = calls.groupBy(_._1).values.toSeq
    def fig(f: Phases => Double) = mean(byKind.map(cs => median(cs.map(c => f(c._2)))))
    Map("op_ms" -> fig(_.total * 1e3), "op_cpu_ms" -> fig(_.cpu * 1e3))
  }

  /** Bytes and regular-file count under a directory tree. */
  def du(dir: File): (Long, Long) = {
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (b2, n2) = du(f); (b + b2, n + n2) }
      else (b + f.length(), n + 1)
    }
  }
}

/** Minimal JSON writer for the result record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
