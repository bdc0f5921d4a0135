package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is the id of the span that caused it (-1 for
  * a root); `layer` names the program module the interval was spent in. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span store, written out once when the run ends. Times are
  * epoch nanoseconds so they line up with the Spark listener's
  * millisecond event times and with file modification times. */
final class Spans(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile var current: Int = -1 // the innermost open span, parent of the next one

  private def newId(): Int = synchronized { val id = nextId; nextId += 1; id }

  def add(parent: Int, name: String, layer: String, startNs: Long, endNs: Long,
          attrs: Map[String, Any] = Map.empty): Int = {
    val id = newId()
    if (enabled) synchronized(buf += Span(id, parent, name, layer, startNs, endNs, attrs))
    id
  }

  /** Time `body` as a child of `parent`; while it runs it is the current
    * span. Returns the result, the elapsed nanoseconds and the span id. */
  def timed[T](parent: Int, name: String, layer: String)(body: => T): (T, Long, Int) = {
    val id = newId()
    val prev = current
    current = id
    val t0 = Clock.nowNs()
    try {
      val r = body
      val t1 = Clock.nowNs()
      if (enabled) synchronized(buf += Span(id, parent, name, layer, t0, t1))
      (r, t1 - t0, id)
    } finally current = prev
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Epoch nanoseconds from the monotonic clock, anchored once. */
object Clock {
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  def nowNs(): Long = wall0 + (System.nanoTime() - mono0)
  def toEpochNs(mono: Long): Long = wall0 + (mono - mono0)
}

/** A Spark job as the listener saw it, with the task metrics of its stages. */
final case class Job(id: Int, startMs: Long, var endMs: Long, callSite: String,
                     var stages: Int = 0, var tasks: Int = 0, var taskRunMs: Long = 0,
                     var schedDelayMs: Long = 0, var shuffleReadBytes: Long = 0,
                     var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0)

/** Jobs, stages and task metrics from Spark's public listener bus. Jobs are
  * matched to the benchmark's spans by time afterwards; the call site says
  * which program frame submitted each job. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private def graftFrames(site: String) = site.split("\n").map(_.trim).filter(_.startsWith("graft."))

  // Jobs that adaptive execution submits from its own threads carry that
  // thread's stack as call site; the SQL execution's start event keeps the
  // caller's stack, so it stands in when the stage's own site has no
  // program frame.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlSites.get(id.toLong)))
    val job = Job(e.jobId, e.time, -1L,
      if (graftFrames(site).nonEmpty) site else sqlSite.getOrElse(site))
    jobs.put(e.jobId, job)
    e.stageInfos.foreach(s => stageJob.put(s.stageId, job))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.synchronized { j.stages += 1; j.tasks += e.stageInfo.numTasks }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
      val run = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
      j.synchronized {
        j.taskRunMs += m.executorRunTime
        j.schedDelayMs += math.max(0L, e.taskInfo.duration - run - e.taskInfo.gettingResultTime)
        j.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs as plain records; the call site is cut to its first frame (the
    * Spark API called) and its program frames, innermost first. */
  def jobRecords(): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      Map("start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_run_ms" -> j.taskRunMs, "sched_delay_ms" -> j.schedDelayMs,
        "shuffle_read_bytes" -> j.shuffleReadBytes, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "api" -> j.callSite.takeWhile(_ != '\n'),
        "frames" -> graftFrames(j.callSite).take(8).toSeq)
    }
  }
}

/** Process-level readings: GC time and peak resident memory. */
object Proc {
  import scala.jdk.CollectionConverters._
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size (VmHWM) in MB. */
  def rssPeakMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** JVM start as epoch nanoseconds: the first set-up counts from here. */
  def jvmStartNs(): Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
}
