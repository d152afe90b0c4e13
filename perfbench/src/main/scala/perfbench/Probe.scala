package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-runtime and JVM counters over a timed window, read through
  * the public SparkListener API and the platform MXBeans. */
final class Probe(spark: SparkSession) extends SparkListener {
  private final case class TaskRec(stage: Int, attempt: Int,
      launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long)

  private val tasks = ArrayBuffer.empty[TaskRec]
  private var jobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += TaskRec(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
      e.taskInfo.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.diskBytesSpilled + x.memoryBytesSpilled).getOrElse(0L))
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))
  private def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

  private var startMs = 0L
  private var endMs = 0L
  private var gc0 = 0L
  private var gc1 = 0L

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    oldGen.foreach(_.resetPeakUsage())
    gc0 = gcMs
    startMs = System.currentTimeMillis()
  }

  def stop(): Unit = {
    endMs = System.currentTimeMillis()
    gc1 = gcMs
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  /** The window's counters. */
  def metrics(): Seq[Metric] = synchronized {
    val inWin = tasks.filter(t => t.finishMs >= startMs && t.launchMs <= endMs)
    val busy = Trace.unionLength(inWin.map(t =>
      (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs))).toSeq)
    val stages = inWin.groupBy(t => (t.stage, t.attempt)).values.toSeq
    val skew = if (stages.isEmpty) 0.0 else {
      val longest = stages.maxBy(ts => ts.map(_.finishMs).max - ts.map(_.launchMs).min)
      val times = longest.map(_.runMs.toDouble).toSeq
      val med = Stats.median(times)
      if (med > 0) times.max / med else 1.0
    }
    val cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Seq(
      ("spark.jobs", jobs.toDouble, "count"),
      ("spark.tasks", inWin.length.toDouble, "count"),
      ("spark.task_run_s", inWin.map(_.runMs).sum / 1e3, "s"),
      ("spark.task_cpu_s", inWin.map(_.cpuNs).sum / 1e9, "s"),
      ("spark.driver_gap_s", ((endMs - startMs) - busy).max(0L) / 1e3, "s"),
      ("spark.shuffle_write_mb", inWin.map(_.shuffleWrite).sum / 1e6, "MB"),
      ("spark.spill_mb", inWin.map(_.spill).sum / 1e6, "MB"),
      ("spark.task_skew", skew, "ratio"),
      ("spark.cached_mb", cachedBytes / 1e6, "MB"),
      ("jvm.gc_s", (gc1 - gc0) / 1e3, "s"),
      ("jvm.old_gen_peak_mb",
        oldGen.map(_.getPeakUsage.getUsed).sum / 1e6, "MB"))
      .map { case (n, v, u) => Metric(n, v, u) }
  }
}
