package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One finished task, as the scheduler reported it. */
final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         failed: Boolean, launchMs: Long, finishMs: Long)

/** One finished job: its stages and its start/end wall clock. */
final case class JobRec(jobId: Int, stageIds: Seq[Int], startMs: Long, endMs: Long)

/** Collects task, job and block events from the benchmark's side of the
  * scheduler. `clear()` between measured units; read after [[org.apache.spark.BenchBus.drain]]. */
final class Recorder extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Seq[Int], Long)]
  private val jobs = ArrayBuffer.empty[JobRec]
  private var rddBlockBytes = 0L

  def clear(): Unit = synchronized {
    tasks.clear(); jobs.clear(); jobStarts.clear(); rddBlockBytes = 0L
  }
  def taskRecs: Seq[TaskRec] = synchronized(tasks.toList)
  def jobRecs: Seq[JobRec] = synchronized(jobs.toList)
  /** Bytes of RDD blocks stored (memory + disk) since the last clear. */
  def blockBytes: Long = synchronized(rddBlockBytes)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null)
      TaskRec(e.stageId, info.duration, 0, 0, 0, 0, 0, info.failed, info.launchTime, info.finishTime)
    else TaskRec(e.stageId, info.duration, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, info.failed, info.launchTime, info.finishTime))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.stageIds, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (stages, start) =>
      jobs += JobRec(e.jobId, stages, start, e.time)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) rddBlockBytes += b.memSize + b.diskSize
  }
}

/** Task-set statistics shared by the per-layer reports. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Slowest task ÷ median task (1.0 when every task took as long). */
  def skew(durationsMs: Seq[Long]): Double = {
    val med = median(durationsMs.map(_.toDouble))
    if (med <= 0) 0.0 else durationsMs.max / med
  }
  def mb(bytes: Long): Double = bytes / 1e6
  /** Share of the wall window [t0, t1] (ms) in which at least one task ran;
    * the rest is driver-side work: planning, job submission, scheduling. */
  def taskFrac(tasks: Seq[TaskRec], t0: Long, t1: Long): Double = {
    if (t1 <= t0) return 0.0
    var covered = 0L
    var end = t0
    tasks.map(t => (math.max(t.launchMs, t0), math.min(t.finishMs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered.toDouble / (t1 - t0)
  }
}

/** Host-noise probes: a fixed single-thread spin loop and the CPU steal
  * share from /proc/stat. They explain noise; they change nothing. */
object Host {
  /** Millions of splitmix64 steps per second over a fixed 40M-step loop. */
  def probeMops(): Double = {
    val n = 40000000
    var z = 0x1234L
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      z ^= x >>> 31
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (z == 42L) println() // keeps the loop live
    n / s / 1e6
  }

  /** (steal ticks, total ticks) of the aggregate cpu line, or zeros where
    * /proc/stat is not readable. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Peak resident set of this process in MB (VmHWM), 0 where unavailable. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
