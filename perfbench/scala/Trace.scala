package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Spans and Spark events of one traced pass, held in memory and written
  * once at the end. A span is (id, parent, name, start, end, thread);
  * times are epoch microseconds so they line up with listener events.
  * The analysis (self time, attribution, percentiles) lives in
  * traceops.py; this side only records.
  */
final class Tracer(val runId: String, spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  final case class Span(id: Int, parent: Int, name: String, start: Long,
                        end: Long, thread: String)
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  // Spans opened on a pooled thread (a pipeline stage's Future, a fetcher
  // called by the feed pager) have no open span of their own: they are
  // parented to the innermost span open on the client thread.
  @volatile private var clientOpen: List[Int] = Nil
  private val clientThread = Thread.currentThread()

  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val onClient = Thread.currentThread() eq clientThread
    val parent = stack.get().headOption
      .orElse(if (onClient) None else clientOpen.headOption).getOrElse(0)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    stack.set(id :: stack.get())
    if (onClient) clientOpen = id :: clientOpen
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = nowMicros
    try body
    finally {
      val end = nowMicros
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
      stack.set(stack.get().tail)
      if (onClient) clientOpen = clientOpen.tail
      spans.synchronized(spans += Span(id, parent, name, start, end,
        Thread.currentThread().getName))
    }
  }

  val jobs = new JobListener
  val stream = new ProgressListener

  def spansJson: String = spans.synchronized(spans.toSeq).sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start":${s.start},"end":${s.end},"thread":${Json.str(s.thread)},"run":${Json.str(runId)}}"""
  }.mkString("[", ",", "]")
}

object Tracer {
  val SpanProp = "graftbench.span"
  /** Optional tracer: every call site reads `Tracer.span(name) { … }`
    * and pays nothing but a closure when tracing is off.
    */
  @volatile var current: Option[Tracer] = None
  def span[T](name: String)(body: => T): T = current match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** Per-job and per-stage aggregates from the scheduler's events. Task
  * metrics are folded into their stage as they end, so memory is
  * O(stages + tasks-of-open-stages), not O(all tasks).
  */
final class JobListener extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var spill = 0L; var inBytes = 0L
    var outBytes = 0L; var submitted = 0L; var completed = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobRows = ArrayBuffer.empty[String]
  private val jobInfo = scala.collection.mutable.HashMap.empty[Int, (Long, String, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .getOrElse("0")
    jobInfo(e.jobId) = (e.time * 1000L, span, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (start, span, stageIds) =>
      jobRows += s"""{"job":${e.jobId},"span":$span,"start":$start,"end":${e.time * 1000L},""" +
        s""""stages":${stageIds.mkString("[", ",", "]")},"ok":${e.jobResult == JobSucceeded}}"""
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def json: String = synchronized {
    val st = stages.toSeq.sortBy(_._1).map { case (id, a) =>
      val d = a.durations.sorted
      val med = if (d.isEmpty) 0L else d(d.size / 2)
      s"""{"stage":$id,"job":${stageJob.getOrElse(id, -1)},"tasks":${a.tasks},""" +
        s""""run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},""" +
        s""""shuffle_write":${a.shufW},"shuffle_read":${a.shufR},"spill":${a.spill},""" +
        s""""input":${a.inBytes},"output":${a.outBytes},"start":${a.submitted},""" +
        s""""end":${a.completed},"task_max_ms":${d.lastOption.getOrElse(0L)},"task_med_ms":$med}"""
    }
    s"""{"jobs":${jobRows.mkString("[", ",", "]")},"stages":${st.mkString("[", ",", "]")}}"""
  }
}

/** Micro-batch phase durations from StreamingQueryProgress.durationMs. */
final class ProgressListener extends StreamingQueryListener {
  private val rows = ArrayBuffer.empty[String]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val d = e.progress.durationMs.asScala.map { case (k, v) => s"${Json.str(k)}:$v" }
    rows += s"""{"batch":${e.progress.batchId},"durations":${d.mkString("{", ",", "}")}}"""
  }
  def json: String = synchronized(rows.mkString("[", ",", "]"))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
