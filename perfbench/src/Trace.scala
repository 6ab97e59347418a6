package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** In-memory span log. Times are epoch nanoseconds (nanoTime offset to the
  * wall clock once), so they line up with Spark's millisecond event times. */
final class Spans {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()

  /** (request, id, parent, name, start, end) */
  val rows = new ArrayBuffer[(Int, Int, Int, String, Long, Long)]()
  private var nextId = 0

  def add(req: Int, parent: Int, name: String, start: Long, end: Long): Int = synchronized {
    nextId += 1
    rows += ((req, nextId, parent, name, start, end))
    nextId
  }

  /** Times `f` as a span; children opened inside it name the returned id. */
  def span[T](req: Int, parent: Int, name: String)(f: Int => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = now()
    try f(id)
    finally synchronized(rows += ((req, id, parent, name, t0, now())))
  }
}

/** Per-job Spark counters, recorded by a listener the benchmark adds. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    var end = 0L
    var stagesRun = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stagesRun += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}
