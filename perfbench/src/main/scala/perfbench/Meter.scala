package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work counters of one time window: what the tasks and jobs that ran inside
  * it cost. Attribution is by event time, not by job group, because
  * `Materialize.run` replaces the caller's job group.
  */
final case class Work(wallS: Double, driverS: Double, cpuS: Double, jobs: Long,
    tasks: Long, shuffleMb: Double, inputMb: Double) {
  def +(o: Work): Work = Work(wallS + o.wallS, driverS + o.driverS, cpuS + o.cpuS,
    jobs + o.jobs, tasks + o.tasks, shuffleMb + o.shuffleMb, inputMb + o.inputMb)
  def -(o: Work): Work = Work(wallS - o.wallS, driverS - o.driverS, cpuS - o.cpuS,
    jobs - o.jobs, tasks - o.tasks, shuffleMb - o.shuffleMb, inputMb - o.inputMb)
}

object Work {
  val zero: Work = Work(0, 0, 0, 0, 0, 0, 0)
}

/** One listener for the whole run. It keeps every task's finish time and
  * metrics, every job's start and end, and the bytes of every persisted RDD
  * block, so any time window can be costed after the fact.
  */
final class Meter extends SparkListener {
  import Meter.TaskRec
  private val taskRecs = ArrayBuffer.empty[TaskRec]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  private val blockBytes = scala.collection.mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L
  private var events = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      taskRecs += TaskRec(e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1; jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1; jobEnd(e.jobId) = e.time
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    events += 1
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      peakBytes = math.max(peakBytes, cachedBytes)
    }
  }

  /** Wait until the listener bus has delivered every event of the actions
    * that already returned: all started jobs ended and no event arrived for
    * a quiet period.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      val (n, open) = synchronized((events, jobStart.keySet.diff(jobEnd.keySet).nonEmpty))
      quiet = n == last && !open
      last = n
      if (!quiet) Thread.sleep(100)
    }
  }

  def cachedMb: Double = synchronized(cachedBytes / 1e6)

  /** Restart the peak at the current cached total. */
  def resetPeak(): Unit = synchronized { peakBytes = cachedBytes }

  def peakMb: Double = synchronized(peakBytes / 1e6)

  /** Cost of the window (startMs, endMs]. Call after [[drain]]. */
  def window(startMs: Long, endMs: Long, wallS: Double): Work = synchronized {
    val ts = taskRecs.filter(t => t.finishMs > startMs && t.finishMs <= endMs)
    val js = jobStart.collect { case (id, s) if s >= startMs && s <= endMs =>
      (s, jobEnd.getOrElse(id, endMs)) }.toSeq.sortBy(_._1)
    // the union of job intervals inside the window is time a job ran
    var busyMs = 0L
    var curS = -1L
    var curE = -1L
    js.foreach { case (s, e0) =>
      val e = math.min(e0, endMs)
      if (s > curE) { busyMs += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busyMs += math.max(0L, curE - curS)
    Work(wallS, math.max(0.0, wallS - busyMs / 1e3), ts.map(_.cpuNs).sum / 1e9,
      js.size.toLong, ts.size.toLong, ts.map(_.shuffleBytes).sum / 1e6,
      ts.map(_.inputBytes).sum / 1e6)
  }
}

object Meter {
  private final case class TaskRec(finishMs: Long, cpuNs: Long, shuffleBytes: Long,
      inputBytes: Long)

  def attach(sc: SparkContext): Meter = {
    val m = new Meter
    sc.addSparkListener(m)
    m
  }
}
