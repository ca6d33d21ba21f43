package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Counters the JVM and Spark already keep, read at pass boundaries. */
final case class JvmSnap(wallNs: Long, wallMs: Long, cpuNs: Long, jitMs: Long,
    classes: Long, gcMs: Long, compiles: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(wallNs - o.wallNs, wallMs - o.wallMs,
    cpuNs - o.cpuNs, jitMs - o.jitMs, classes - o.classes, gcMs - o.gcMs,
    compiles - o.compiles)
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val cl = ManagementFactory.getClassLoadingMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def snap(): JvmSnap = JvmSnap(System.nanoTime(), System.currentTimeMillis(),
    os.getProcessCpuTime, jit.getTotalCompilationTime, cl.getTotalLoadedClassCount,
    gcs.map(_.getCollectionTime).sum, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Live heap after full collections, in MB. Spark's ContextCleaner
    * frees unreferenced broadcasts and shuffles only after a GC has
    * enqueued them, so collect until the heap stops shrinking.
    */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (prev - cur > 0.5 && rounds < 10) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }
}

/** Host CPU steal share from /proc/stat's aggregate line, read-only. */
object Steal {
  final case class Ticks(steal: Long, total: Long)

  def read(): Option[Ticks] =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      Some(Ticks(f(7), f.take(8).sum))
    } catch { case _: Throwable => None }

  def share(a: Option[Ticks], b: Option[Ticks]): Double = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      (y.steal - x.steal).toDouble / (y.total - x.total)
    case _ => 0.0
  }
}

/** Spark scheduler counters for one pass. */
final case class SparkDelta(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    taskCpuNs: Long, taskGcMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, jobBusyMs: Long, skewMax: Double)

/** Task, stage and job counters from the listener bus. Events arrive on
  * the bus thread; `take` is called after the bus has drained.
  */
final class TaskListener extends SparkListener {
  private var jobs, stages, tasks, taskMs, taskCpuNs, taskGcMs = 0L
  private var inBytes, shwBytes, shrBytes, spillBytes = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      shwBytes += m.shuffleWriteMetrics.bytesWritten
      shrBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  /** Counters since the last call; job time is clipped to [fromMs, toMs]. */
  def take(fromMs: Long, toMs: Long): SparkDelta = synchronized {
    val spans = jobSpans.map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- spans) {
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    busy += curE - curS
    // Skew over the stages that carry at least 5% of the pass's task time:
    // a stage of a few 1 ms tasks would otherwise read as extreme skew.
    val skew = stageTasks.values.filter(ts => ts.size >= 2 && ts.sum * 20 >= taskMs)
      .map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        s.last.toDouble / med
      }.maxOption.getOrElse(1.0)
    val d = SparkDelta(jobs, stages, tasks, taskMs, taskCpuNs, taskGcMs, inBytes,
      shwBytes, shrBytes, spillBytes, busy, skew)
    jobs = 0; stages = 0; tasks = 0; taskMs = 0; taskCpuNs = 0; taskGcMs = 0
    inBytes = 0; shwBytes = 0; shrBytes = 0; spillBytes = 0
    jobSpans.clear(); stageTasks.clear()
    d
  }
}
