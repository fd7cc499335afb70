package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Counters read from outside the program: JVM MXBeans always (heap
  * occupancy after each GC), and in the traced run a `SparkListener` that
  * sums what Spark itself reports per job, stage and task. */
final class Probe(spark: SparkSession, traced: Boolean) {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapPeak = new AtomicLong(0L)

  private val gcListener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        heapPeak.accumulateAndGet(used, math.max)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  /** Highest heap occupancy right after a GC since the last [[reset]]. */
  def heapPeakAfterGcMb: Double = heapPeak.get / 1048576.0

  private val jobs, stages, tasks, shuffleWrite, shuffleRead, spill, cpuNs = new LongAdder

  if (traced) spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.diskBytesSpilled)
        cpuNs.add(m.executorCpuTime)
      }
    }
  })

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) BenchBridge.drainListeners(spark.sparkContext)

  /** Totals since the last [[reset]] (Spark counters only in the traced run). */
  def sparkCounters(): Map[String, Double] = {
    drain()
    Map("spark.jobs" -> jobs.sum.toDouble, "spark.stages" -> stages.sum.toDouble,
      "spark.tasks" -> tasks.sum.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
      "spark.spill_bytes" -> spill.sum.toDouble,
      "spark.executor_cpu_s" -> cpuNs.sum / 1e9,
      "spark.gc_s" -> (gcMs - gcBase) / 1e3)
  }

  private var gcBase = 0L

  def reset(): Unit = {
    drain()
    Seq(jobs, stages, tasks, shuffleWrite, shuffleRead, spill, cpuNs).foreach(_.reset())
    heapPeak.set(0L)
    gcBase = gcMs
  }

  def jobsStarted: Long = { drain(); jobs.sum }

  /** Runs one public call that returns a DataFrame and collects it. Untraced:
    * one wall time. Traced: the time to build the DataFrame (with the Spark
    * jobs the build itself fires), to plan it, and to execute it. */
  def call(build: => DataFrame): Called =
    if (!traced) {
      val ((df, rows), cost) = Cost.of { val df = build; (df, df.collect()) }
      Called(df.schema, rows, Phases(cost.wall, cost.cpu, 0, 0, 0, 0))
    } else {
      val s0 = Cost.snapshot()
      val j0 = jobsStarted
      val (df, tc) = Ctx.timed(build)
      val cj = jobsStarted - j0
      val (_, tp) = Ctx.timed(df.queryExecution.executedPlan)
      val (rows, te) = Ctx.timed(df.collect())
      Called(df.schema, rows, Phases(tc + tp + te, Cost.cpuSince(s0), tc, cj, tp, te))
    }
}

/** The collected result of one call. */
final case class Called(schema: StructType, rows: Array[Row], phases: Phases)

/** Wall and work CPU time (see [[Cost]]) of one call and, in the traced
  * run, the split of its wall time. */
final case class Phases(total: Double, cpu: Double, construct: Double, constructJobs: Long,
    plan: Double, exec: Double) {
  def +(o: Phases): Phases = Phases(total + o.total, cpu + o.cpu, construct + o.construct,
    constructJobs + o.constructJobs, plan + o.plan, exec + o.exec)
}

object Phases {
  val zero: Phases = Phases(0, 0, 0, 0, 0, 0)

  /** The operators.* layer metrics as medians of per-pass sums. */
  def perPass(passes: Seq[Phases]): Map[String, Double] = split(passes, Ctx.median)

  /** The operators.* layer metrics as means over single calls. */
  def perCall(calls: Seq[Phases]): Map[String, Double] = split(calls, Ctx.mean)

  private def split(xs: Seq[Phases], agg: Seq[Double] => Double): Map[String, Double] = Map(
    "operators.construct_s" -> agg(xs.map(_.construct)),
    "operators.construct_jobs" -> agg(xs.map(_.constructJobs.toDouble)),
    "operators.plan_s" -> agg(xs.map(_.plan)),
    "operators.exec_s" -> agg(xs.map(_.exec)))
}
