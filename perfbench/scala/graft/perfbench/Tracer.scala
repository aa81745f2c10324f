package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the scheduler's event timestamps.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call into a layer. `phases` split the span into
  * consecutive named windows (e.g. queries.build / catalyst.plan /
  * execute for a query).
  */
final class Span(val id: Int, val name: String, val kind: String,
    val layer: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  var ok: Boolean = true
  var error: String = ""
  val phases = ArrayBuffer.empty[(String, Double, Double)]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  def group: String = s"perfbench-$id"
  def wallMs: Double = endMs - startMs
}

/** Spans around every call the benchmark makes, plus (when enabled) a
  * SparkListener and a DAGScheduler log appender whose events are
  * attributed to spans by job group and time window. Disabled, it only
  * times the spans: no listener, no appender, no job groups.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var sc: SparkContext = _

  private final case class JobRec(id: Int, timeMs: Long, group: String,
      stageIds: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, peakMem: Long, input: Long)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val submittedStages = ArrayBuffer.empty[Int]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val binaries = ArrayBuffer.empty[(Long, Double)]
  @volatile private var handlerNs = 0L

  private val listener = new SparkListener {
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      handlerNs += System.nanoTime() - t0
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .flatMap(Option(_)).getOrElse("")
      jobs.synchronized { jobs += JobRec(e.jobId, e.time, g, e.stageIds) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      submittedStages.synchronized { submittedStages += e.stageInfo.stageId }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.inputMetrics.bytesRead)
      }
    }
  }

  private val LargeBinary = """Broadcasting large task binary with size ([0-9.]+) (B|KiB|MiB|GiB)""".r
  private lazy val appender = {
    import org.apache.logging.log4j.core.{LogEvent, Filter, Layout}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val a = new AbstractAppender("perfbench-task-binaries", null.asInstanceOf[Filter],
        null.asInstanceOf[Layout[_ <: java.io.Serializable]], true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == "org.apache.spark.scheduler.DAGScheduler")
          LargeBinary.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
            val kib = m.group(1).toDouble * (m.group(2) match {
              case "B" => 1.0 / 1024; case "KiB" => 1.0; case "MiB" => 1024.0
              case _ => 1024.0 * 1024.0 })
            binaries.synchronized { binaries += (e.getTimeMillis -> kib) }
          }
    }
    a.start()
    a
  }

  /** Attach to a session's context (the listener and the appender are
    * only installed when tracing is enabled).
    */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) {
      sc.addSparkListener(listener)
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val root = ctx.getConfiguration.getRootLogger
      if (!root.getAppenders.containsKey(appender.getName)) {
        root.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
        ctx.updateLoggers()
      }
    }
  }

  def detach(): Unit = {
    if (enabled && sc != null) {
      org.apache.spark.perfbench.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    sc = null
  }

  /** Run `body` inside a new span. Jobs it (or threads it starts)
    * submits carry the span's job group. Failures are recorded on the
    * span and rethrown only when `rethrow`.
    */
  def span[T](name: String, kind: String, layer: String, rethrow: Boolean = false)
      (body: Span => T): Span = {
    val s = new Span(spans.length, name, kind, layer, Clock.nowMs)
    spans += s
    if (enabled && sc != null) sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body(s) catch {
      case e: Throwable =>
        s.ok = false
        s.error = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(1).mkString.take(300)
        if (rethrow) { s.endMs = Clock.nowMs; throw e }
    } finally {
      if (s.endMs.isNaN) s.endMs = Clock.nowMs
      if (enabled && sc != null) sc.clearJobGroup()
      println(f"[span] ${s.id}%4d ${s.kind}%-7s ${s.name}%-28s ${s.wallMs / 1000}%8.3f s" +
        (if (s.ok) "" else s"  FAILED ${s.error}"))
    }
    s
  }

  /** Per-span job/stage/task/exec figures plus the count of jobs no span
    * claims. A job belongs to the span named by its job group, and its
    * submission time must fall inside that span's window; anything else
    * is unattributed.
    */
  def attribute(): (Map[Int, Map[String, Double]], Int) = {
    if (!enabled) return (Map.empty, 0)
    val tolMs = 2.0
    val byGroup = spans.map(s => s.group -> s).toMap
    val jobSpan = scala.collection.mutable.Map.empty[Int, Span]
    var unattributed = 0
    for (j <- jobs) byGroup.get(j.group) match {
      case Some(s) if j.timeMs >= s.startMs - tolMs && j.timeMs <= s.endMs + tolMs =>
        jobSpan(j.id) = s
      case _ => unattributed += 1
    }
    val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val out = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[String, Double]]
    def acc(s: Span) = out.getOrElseUpdate(s.id, scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0))
    def add(s: Span, k: String, v: Double) = { val m = acc(s); m(k) = m(k) + v }
    for (j <- jobs; s <- jobSpan.get(j.id)) {
      add(s, "jobs", 1)
      val build = s.phases.find(_._1 == "queries.build")
      if (build.exists(p => j.timeMs <= p._3 + tolMs)) add(s, "build_jobs", 1)
    }
    for (st <- submittedStages; j <- stageJob.get(st); s <- jobSpan.get(j)) add(s, "stages", 1)
    val spanTasks = tasks.flatMap(t => stageJob.get(t.stageId).flatMap(jobSpan.get).map(_ -> t))
    for ((s, t) <- spanTasks) {
      add(s, "tasks", 1)
      add(s, "task_ms", t.runMs.toDouble)
      add(s, "cpu_ms", t.cpuNs / 1e6)
      add(s, "gc_ms", t.gcMs.toDouble)
      add(s, "shuffle_write_bytes", t.shuffleWrite.toDouble)
      add(s, "shuffle_read_bytes", t.shuffleRead.toDouble)
      add(s, "spill_bytes", t.spill.toDouble)
      add(s, "input_bytes", t.input.toDouble)
      val m = acc(s)
      m("peak_exec_mem_bytes") = math.max(m("peak_exec_mem_bytes"), t.peakMem.toDouble)
    }
    // idle = the span's action window (its `execute` phase, or the whole
    // span) minus the union of its tasks' run intervals
    for (s <- spans) {
      val (w0, w1) = s.phases.find(_._1 == "execute").map(p => (p._2, p._3))
        .getOrElse((s.startMs, s.endMs))
      val iv = spanTasks.collect { case (sp, t) if sp eq s =>
        (math.max(t.launchMs.toDouble, w0), math.min(t.finishMs.toDouble, w1)) }
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      for ((a, b) <- iv) {
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      add(s, "idle_ms", math.max(0.0, (w1 - w0) - covered))
    }
    for ((tMs, kib) <- binaries) {
      spans.find(s => tMs >= s.startMs - tolMs && tMs <= s.endMs + tolMs).foreach { s =>
        add(s, "large_task_binaries", 1)
        val m = acc(s)
        m("max_task_binary_kib") = math.max(m("max_task_binary_kib"), kib)
      }
    }
    (out.map { case (k, v) => k -> v.toMap }.toMap, unattributed)
  }

  /** Wall time spent inside the listener's callbacks (the tracer's own
    * cost on the listener-bus thread).
    */
  def handlerMs: Double = handlerNs / 1e6
}
