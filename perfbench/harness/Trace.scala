package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Traced-run recorder. It is installed only with `--trace 1`, so
  * end-to-end numbers are always taken with it off.
  *
  * Listener callbacks only copy raw events. `Trace.attribute` assigns
  * them to units of work at the end of the run:
  *  - a job is assigned to a trigger by its streaming query id and
  *    `streaming.sql.batchId` local properties;
  *  - otherwise it is assigned to a query by the job group the harness
  *    set around the call;
  *  - otherwise, for jobs that the program submits from its own
  *    threads under its own group, by the harness span that was open
  *    when the job started.
  *
  * Each stage is assigned through the job that submitted it.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[JobEvent]
  private val stages = mutable.ArrayBuffer.empty[StageEvent]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val handlerNs = new java.util.concurrent.atomic.AtomicLong

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val trigger = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
      yield s"$q:$b"
    val ev = JobEvent(e.jobId, e.time, trigger, prop("spark.jobGroup.id"), e.stageIds)
    synchronized(jobs += ev)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val tm = Option(si.taskMetrics)
    val ev = StageEvent(si.stageId, si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      tm.map(_.executorCpuTime).getOrElse(0L),
      tm.map(_.jvmGCTime).getOrElse(0L),
      tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      tm.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).getOrElse(0L),
      tm.map(_.inputMetrics.bytesRead).getOrElse(0L))
    synchronized(stages += ev)
  }

  /** The streaming half: Structured Streaming's own progress reports. */
  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(Trace.this.synchronized(progress += e.progress))
  }

  /** Span around one public call the harness makes. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally synchronized(spans += Span(name, t0, System.currentTimeMillis()))
  }

  def progressReports: Seq[StreamingQueryProgress] = synchronized(progress.toList)
  def handlerSeconds: Double = handlerNs.get / 1e9

  /** Per-unit totals: key "t:<queryId>:<batchId>" for a trigger,
    * "q:<name>" for a query, "other" for anything outside both.
    */
  def attribute(queryNames: Set[String]): Map[String, Work] = synchronized {
    val spanList = spans.toList
    val stageUnit = mutable.Map.empty[Int, String]
    val out = mutable.Map.empty[String, Work]
    jobs.foreach { j =>
      val unit = j.trigger.map(t => s"t:$t")
        .orElse(j.group.filter(queryNames).map(g => s"q:$g"))
        .orElse(spanList.find(s => s.start <= j.time && j.time <= s.end).map(s => s"q:${s.name}"))
        .getOrElse("other")
      j.stageIds.foreach(stageUnit(_) = unit)
      val u = out.getOrElseUpdate(unit, new Work)
      u.jobs += 1
    }
    stages.foreach { s =>
      val u = out.getOrElseUpdate(stageUnit.getOrElse(s.id, "other"), new Work)
      u.stages += 1
      u.tasks += s.tasks
      u.cpuNs += s.cpuNs
      u.gcMs += s.gcMs
      u.shuffleBytes += s.shuffleBytes
      u.spillBytes += s.spillBytes
      u.inputBytes += s.inputBytes
      if (s.end > 0) u.intervals += ((s.start, s.end))
    }
    out.toMap
  }
}

object Trace {
  final case class JobEvent(id: Int, time: Long, trigger: Option[String], group: Option[String],
      stageIds: Seq[Int])
  final case class StageEvent(id: Int, tasks: Int, start: Long, end: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long, inputBytes: Long)
  final case class Span(name: String, start: Long, end: Long)

  /** Work attributed to one trigger or query. */
  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Milliseconds of `wallMs` during which none of this unit's stages
      * ran: driver-side planning, scheduling and collection.
      */
    def driverMs(wallMs: Double): Double = {
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s
          curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      math.max(0.0, wallMs - covered)
    }
  }
}
