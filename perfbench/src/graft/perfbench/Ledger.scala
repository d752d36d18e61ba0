package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark cost attributed to one span by [[JobLedger]]. */
final class Cost {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** (start, end) wall-clock ms of each attributed job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Cost): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Attributes every Spark job, and its tasks' metrics, to the span named
  * by the submitting thread's [[JobLedger.Prop]] local property. Jobs
  * that carry no such property are counted, not dropped: they are the
  * work the benchmark cannot place (`spark.unattributed_jobs`). Jobs of
  * deliberately untraced calls carry [[JobLedger.Off]] and are ignored. */
final class JobLedger extends SparkListener {
  private val costs = new ConcurrentHashMap[Long, Cost]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  /** (job id, start ms, call site) of every job no span claimed. */
  val unattributed = mutable.ArrayBuffer.empty[(Int, Long, String)]

  private def cost(span: Long): Cost = costs.computeIfAbsent(span, _ => new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(JobLedger.Prop))) match {
      case None =>
        unattributed += ((e.jobId, e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")))
      case Some(JobLedger.Off) => ()
      case Some(id) =>
        val span = id.toLong
        cost(span).jobs += 1
        jobSpan.put(e.jobId, span)
        jobStart.put(e.jobId, e.time)
        e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobSpan.get(e.jobId)).foreach { span =>
      cost(span).jobIntervals += ((jobStart.get(e.jobId), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = cost(span)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // file scans of each SQL execution: the "number of files read" metric
  // of every scan node, and the values the driver posts for them
  private val scanAccums = new ConcurrentHashMap[Long, (Long, String)]()
  private val accumValues = new ConcurrentHashMap[Long, Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    import org.apache.spark.sql.execution.ui._
    e match {
      case s: SparkListenerSQLExecutionStart => scanNodes(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scanNodes(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accumValues.merge(id, v, _ + _) }
      case _ => ()
    }
  }

  private def scanNodes(x: Long, p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
    p.metadata.get("Location").foreach { loc =>
      p.metrics.filter(_.name == "number of files read")
        .foreach(m => scanAccums.putIfAbsent(m.accumulatorId, (x, loc)))
    }
    p.children.foreach(scanNodes(x, _))
  }

  /** Files read by execution `x`'s scans of the table at `dir`: scans of
    * the directory or of data files under it, not of its `_` sidecars. */
  def filesUnder(x: Long, dir: String): Long = {
    val at = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(dir.stripSuffix("/")) + "(/[^_\\],\\s][^\\],\\s]*)?[\\],\\s]")
    scanAccums.asScala.collect {
      case (acc, (`x`, loc)) if at.matcher(loc + " ").find() =>
        Option(accumValues.get(acc)).getOrElse(0L)
    }.sum
  }

  /** SQL executions whose jobs ran in `span`. */
  def executionsOf(span: Long): Seq[Long] = synchronized {
    execSpan.asScala.collect { case (x, s) if s == span => x }.toSeq
  }

  def costOf(span: Long): Cost = synchronized {
    Option(costs.get(span)).getOrElse(new Cost)
  }
}

object JobLedger {
  val Prop = "graft.perfbench.span"
  val Off = "-"
}

/** One recorded call: a layer boundary crossed by the benchmark. */
final case class Span(id: Long, op: Long, parent: Long, layer: String,
                      name: String, startMs: Long, endMs: Long, secs: Double,
                      traced: Boolean, inBytes: Long)

/** The benchmark's own clock and, when tracing, its span recorder.
  *
  * Every call into the engine goes through [[call]], which times it from
  * outside. With tracing on, [[op]] opens an operation whose calls share
  * one id, each call becomes a span (name, start, end, parent), and the
  * calling thread's local property tells [[JobLedger]] which span a
  * Spark job belongs to. Spans stay in memory until [[writeTrace]]. */
final class Ledger(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  val jobs: Option[JobLedger] =
    if (!tracing) None
    else { val l = new JobLedger; sc.addSparkListener(l); Some(l) }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var opId = 0L
  private var stack: List[Long] = Nil
  private var opTraced = tracing

  private def setProp(v: String): Unit = sc.setLocalProperty(JobLedger.Prop, v)
  // the benchmark's own jobs between calls (answer checks) are not
  // engine work: mark them untraced rather than unattributed
  if (tracing) setProp(JobLedger.Off)

  /** One operation of the workload. In a traced run `traced = false`
    * runs it as an untraced run would, with [[JobLedger]] detached from
    * the listener bus: the calibration half that prices the tracing. */
  def op[T](name: String, traced: Boolean = true)(f: => T): T = {
    val prevOp = opId
    val prevTraced = opTraced
    opId = nextId
    opTraced = tracing && traced
    try {
      if (tracing && !traced) detached(call("op", name)(f))
      else call("op", name)(f)
    } finally { opId = prevOp; opTraced = prevTraced }
  }

  private def detached[T](f: => T): T = {
    val l = jobs.get
    settle()
    sc.removeSparkListener(l)
    try f
    finally { settle(); sc.addSparkListener(l) }
  }

  /** Time one call into `layer`, recording it as a span. `inBytes` is
    * the input the call covers, for write-amplification ratios. */
  def call[T](layer: String, name: String, inBytes: Long = 0L)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(JobLedger.Prop)
    if (tracing) setProp(if (opTraced) id.toString else JobLedger.Off)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      if (tracing) setProp(prevProp)
      spans += Span(id, opId, parent, layer, name, startMs, endMs, secs,
        opTraced, inBytes)
    }
  }

  /** Wall seconds of the calls named `name` that the run measures: all
    * of them untraced, the traced ones in a traced run. */
  def secs(name: String): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.traced == tracing).map(_.secs).toSeq

  /** Wall seconds of a traced run's deliberately untraced calls. */
  def untracedSecs(name: String): Seq[Double] =
    spans.iterator.filter(s => s.name == name && !s.traced).map(_.secs).toSeq

  def named(name: String): Seq[Span] =
    spans.iterator.filter(s => s.name == name && s.traced).toSeq

  /** Drain the listener bus: after this every job of every finished
    * span is in the ledger. */
  def settle(): Unit = if (tracing) org.apache.spark.PerfbenchBus.drain(sc)

  private lazy val children: Map[Long, Seq[Span]] =
    spans.toSeq.groupBy(_.parent)

  def childrenOf(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  /** The span's own cost plus that of every span below it. */
  def costOf(s: Span): Cost = {
    val c = new Cost
    def walk(x: Span): Unit = {
      jobs.foreach(j => c.add(j.costOf(x.id)))
      childrenOf(x).foreach(walk)
    }
    walk(s)
    c
  }

  /** Files under `dir` that the SQL executions of the span, and of every
    * span below it, scanned. */
  def filesScanned(s: Span, dir: String): Long = {
    val j = jobs.get
    def walk(x: Span): Long =
      j.executionsOf(x.id).map(j.filesUnder(_, dir)).sum +
        childrenOf(x).map(walk).sum
    walk(s)
  }

  /** Milliseconds of the span during which none of its jobs ran. */
  def driverGapMs(s: Span): Double = {
    val busy = costOf(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    busy.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0.0, s.secs * 1000.0 - covered)
  }

  /** Span duration minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    s.secs * 1000.0 - children.getOrElse(s.id, Nil).map(_.secs * 1000.0).sum

  def allSpans: Seq[Span] = spans.toSeq

  /** Spans as JSON lines, written once when the run ends. */
  def writeTrace(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        val c = if (s.traced) costOf(s) else new Cost
        out.println(Json.obj(Seq(
          "id" -> s.id, "op" -> s.op, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "traced" -> s.traced,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "dur_ms" -> s.secs * 1000.0, "self_ms" -> selfMs(s),
          "jobs" -> c.jobs, "tasks" -> c.tasks,
          "driver_gap_ms" -> (if (s.traced) driverGapMs(s) else 0.0),
          "exec_run_ms" -> c.runMs, "exec_cpu_ms" -> c.cpuNs / 1e6,
          "gc_ms" -> c.gcMs, "input_bytes" -> c.inputBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes)))
      }
      jobs.foreach(_.unattributed.foreach { case (id, t, site) =>
        out.println(Json.obj(Seq("unattributed_job" -> id, "start_ms" -> t,
          "call_site" -> site)))
      })
    } finally out.close()
  }
}

/** Just enough JSON for the result line and the trace. */
object Json {
  def value(v: Any): String = v match {
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => value(other.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }
      .mkString("{", ",", "}")
}
