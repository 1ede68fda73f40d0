package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. Times are epoch milliseconds (fractional). */
final case class Span(
    id: Long,
    parent: Long, // 0 = root
    op: Long,     // op id shared by every span of one operation; 0 = none
    name: String,
    start: Double,
    end: Double,
    attrs: Map[String, Double] = Map.empty,
    label: String = ""
)

/** In-memory span recorder. Disabled, it records nothing and costs a
  * branch; enabled, spans are kept in memory and written out at the end.
  */
final class Tracer {
  @volatile var enabled = false

  private val ids   = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]

  // epoch ms with nanoTime resolution
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0    = System.nanoTime()
  def now(): Double    = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s; () }

  /** Time `body` as a span; records only when enabled. */
  def span[T](name: String, parent: Long, op: Long)(body: Long => T): T = {
    val id = nextId()
    val t0 = now()
    try body(id)
    finally add(Span(id, parent, op, name, t0, now()))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def replace(ss: Seq[Span]): Unit = spans.synchronized { spans.clear(); spans ++= ss; () }

  /** Write `header` as the first line, then one JSON line per span. */
  def dump(path: String, header: Map[String, String]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    w.println(header.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{\"header\":true,", ",", "}"))
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      w.println(
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
          s""""label":${Json.str(s.label)},"start":${Json.num(s.start)},"end":${Json.num(s.end)},""" +
          s""""attrs":{${attrs.mkString(",")}}}"""
      )
    }
    finally w.close()
  }
}

/** Spark listener that turns jobs and stages into spans and sums task
  * metrics. A job belongs to the op whose client thread set the
  * [[ExecListener.OpProperty]] local property, under that op's
  * `exec.collect` span (resolved afterwards, by time, in [[SpanReport]]);
  * layout-build jobs carry `layout: <family>` as their description and are
  * labelled with it.
  */
final class ExecListener(tracer: Tracer) extends SparkListener {
  import ExecListener._

  private final class JobRec(val op: Long, val span: Long, val start: Double, val label: String)
  private final class StageRec(val span: Long, val parent: Long, val op: Long, val submitted: Double) {
    var firstLaunch = Double.MaxValue
    val sums        = new Sums
  }

  private val jobs       = new ConcurrentHashMap[Int, JobRec]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)]() // stage -> (job span, op)
  private val stages     = new ConcurrentHashMap[(Int, Int), StageRec]()

  val totals = new Sums
  val jobCount   = new AtomicLong(0)
  val stageCount = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op    = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(0L)
    val desc  = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val rec   = new JobRec(op, tracer.nextId(), e.time.toDouble, desc)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (rec.span, op)))
    jobCount.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = jobs.remove(e.jobId)
    if (rec != null)
      tracer.add(Span(rec.span, 0, rec.op, "exec.job", rec.start, e.time.toDouble, label = rec.label))
  }

  /** Wait (up to 10 s) until every started job and stage has ended, so
    * the listener bus has delivered the last traced round's events.
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((!jobs.isEmpty || !stages.isEmpty) && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info        = e.stageInfo
    val (job, op)   = Option(stageOwner.get(info.stageId)).getOrElse((0L, 0L))
    val submitted   = info.submissionTime.map(_.toDouble).getOrElse(tracer.now())
    stages.put((info.stageId, info.attemptNumber()), new StageRec(tracer.nextId(), job, op, submitted))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val rec = stages.get((e.stageId, e.stageAttemptId))
    if (rec != null) rec.synchronized { rec.firstLaunch = math.min(rec.firstLaunch, e.taskInfo.launchTime.toDouble) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stages.get((e.stageId, e.stageAttemptId))
    val failed = !e.taskInfo.successful
    Seq(Some(totals), Option(rec).map(_.sums)).flatten.foreach(_.add(e.taskInfo, e.taskMetrics, failed))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val rec  = stages.remove((info.stageId, info.attemptNumber()))
    stageCount.incrementAndGet()
    if (rec != null) {
      val end  = info.completionTime.map(_.toDouble).getOrElse(tracer.now())
      val wait = if (rec.firstLaunch == Double.MaxValue) 0.0 else math.max(0.0, rec.firstLaunch - rec.submitted)
      tracer.add(Span(rec.span, rec.parent, rec.op, "exec.stage", rec.submitted, end,
        attrs = rec.sums.asMap + ("wait_ms" -> wait)))
    }
  }
}

object ExecListener {
  /** Local property a client thread sets to the id of its current op. */
  val OpProperty = "perfbench.op"
}

/** Task-metric sums over a set of tasks. */
final class Sums {
  var tasks, failedTasks                              = 0L
  var runMs, cpuNs, gcMs, schedMs, fetchWaitMs        = 0.0
  var inputBytes, inputRecords, shuffleRead, shuffleWrite, spill, result = 0L

  def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics, failed: Boolean): Unit = synchronized {
    tasks += 1
    if (failed) failedTasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      schedMs += math.max(0L, info.duration - overhead - info.gettingResultTime)
      inputBytes += m.inputMetrics.bytesRead
      inputRecords += m.inputMetrics.recordsRead
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      result += m.resultSize
    }
  }

  def asMap: Map[String, Double] = synchronized {
    Map(
      "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble, "task_run_ms" -> runMs,
      "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "sched_delay_ms" -> schedMs,
      "input_bytes" -> inputBytes.toDouble, "input_records" -> inputRecords.toDouble,
      "shuffle_read_bytes" -> shuffleRead.toDouble, "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "shuffle_fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill.toDouble, "result_bytes" -> result.toDouble
    )
  }
}

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
