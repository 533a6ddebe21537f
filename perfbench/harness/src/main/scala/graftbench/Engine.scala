package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._

/** Engine counters taken by a listener the benchmark registers itself. */
final case class EngineCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, taskRunMs: Long = 0, taskWaitMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, gcMs: Long = 0, resultBytes: Long = 0,
    outputBytes: Long = 0) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs, taskWaitMs - o.taskWaitMs,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs, resultBytes - o.resultBytes,
    outputBytes - o.outputBytes)
}

class EngineListener extends SparkListener {
  private var c = EngineCounts()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  // (start, end) wall-clock ms of every finished job, in completion order
  private val jobTimes = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def counts: EngineCounts = synchronized(c)
  def jobsBetween(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobTimes.filter { case (s, _) => s >= from && s <= to }.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobTimes += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val sub = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
    val wait = sub.map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    synchronized {
      c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
        tasks = c.tasks + 1,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskWaitMs = c.taskWaitMs + wait,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        gcMs = c.gcMs + m.jvmGCTime,
        resultBytes = c.resultBytes + m.resultSize,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
    }
  }
}

/** Readings of this process and of the machine, from the JVM and /proc. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of every thread of this JVM. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb: Double = status("VmHWM") / 1024.0

  private def status(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  /** Machine-wide (busy, steal) CPU seconds since boot, from /proc/stat. */
  def machineCpuS: (Double, Double) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
      // user nice system idle iowait irq softirq steal ...
      val busy = v(0) + v(1) + v(2) + v(5) + v(6)
      (busy / 100.0, v(7) / 100.0)
    } finally f.close()
  }
}
