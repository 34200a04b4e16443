package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are wall-clock milliseconds since the epoch,
  * the clock Spark's listener events use, so harness spans and Spark's
  * job intervals nest against each other. `query` is the streaming query
  * the interval belongs to, empty for the harness's own calls.
  */
final case class Span(id: Long, name: String, layer: String,
    start: Double, end: Double, parent: Long, runId: String, query: String) {
  def ms: Double = end - start
}

/** A finished Spark job with the task metrics summed over its stages. */
final case class JobRec(id: Int, start: Long, end: Long, props: Map[String, String],
    tasks: Int, cpuMs: Double, gcMs: Double,
    shuffleBytes: Long, spillBytes: Long) {
  def ms: Double = (end - start).toDouble
  def batchId: Option[Long] = props.get("streaming.sql.batchId").map(_.toLong)
  def queryId: String = props.getOrElse("sql.streaming.queryId", "")
}

/** One action seen by a [[QueryExecutionListener]]: its name, the kind the
  * harness gives its plan, and its duration; `at` is when it was reported.
  */
final case class ActionRec(funcName: String, kind: String, ms: Double, at: Double)

/** Spans and Spark-channel observations for one run.
  *
  * Spans are kept in memory and written out once, at exit. With
  * `enabled = false` the harness still times what the end-to-end metrics
  * need, but installs no listener and records no span, so the untraced run
  * pays nothing for the per-layer split.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val ids = new AtomicLong(0)
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  // the parent stack is per thread: foreachBatch bodies run on the
  // streaming query's thread, not on the harness thread
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  // the streaming query whose micro-batch the calling thread runs, if any
  private var currentQuery: () => String = () => ""

  /** Times `body`; when tracing, also records it as a span. A span opened
    * inside a micro-batch is parented later, by containment.
    */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val query = currentQuery()
    val parent = stack.get.headOption.getOrElse(if (query.isEmpty) 0L else -1L)
    stack.set(id :: stack.get)
    val s = now()
    try body
    finally {
      stack.set(stack.get.tail)
      spanQ.add(Span(id, name, layer, s, now(), parent, runId, query))
    }
  }

  /** Adds an interval measured elsewhere (a streaming epoch from its
    * progress event, a Spark job) as a span; its parent is found later by
    * containment.
    */
  def record(name: String, layer: String, start: Double, end: Double, query: String): Unit =
    if (enabled) spanQ.add(Span(ids.incrementAndGet(), name, layer, start, end, -1L, runId, query))

  def spans: Seq[Span] = spanQ.asScala.toSeq

  // ---- Spark channels (installed only when tracing) ----

  private val jobQ = new ConcurrentLinkedQueue[JobRec]()
  private val actionQ = new ConcurrentLinkedQueue[ActionRec]()

  def jobs: Seq[JobRec] = jobQ.asScala.toSeq.sortBy(_.start)
  def actions: Seq[ActionRec] = actionQ.asScala.toSeq

  private final class JobListener extends SparkListener {
    private case class Acc(start: Long, props: Map[String, String],
        var tasks: Int = 0, var cpuMs: Double = 0,
        var gcMs: Double = 0, var shuffle: Long = 0, var spill: Long = 0)
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
      open.put(e.jobId, Acc(e.time, props))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = if (stageJob.containsKey(e.stageId)) open.get(stageJob.get(e.stageId)) else null
      if (a != null && e.taskMetrics != null) a.synchronized {
        val m = e.taskMetrics
        a.tasks += 1
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val a = open.remove(e.jobId)
      if (a != null) jobQ.add(JobRec(e.jobId, a.start, e.time, a.props, a.tasks,
        a.cpuMs, a.gcMs, a.shuffle, a.spill))
    }
  }

  /** Names each action by what its plan writes or reads: the harness
    * attributes dedup-loop time by these kinds.
    */
  private final class ActionListener(classify: QueryExecution => String)
    extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actionQ.add(ActionRec(funcName, classify(qe), durationNs / 1e6, now()))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actionQ.add(ActionRec(funcName, "failed", 0.0, now()))
  }

  def install(spark: SparkSession, classify: QueryExecution => String): Unit =
    if (enabled) {
      currentQuery = () =>
        Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse("")
      spark.sparkContext.addSparkListener(new JobListener)
      spark.listenerManager.register(new ActionListener(classify))
    }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) {
    // the bus has no public flush; a short settle is enough on one host
    val deadline = System.currentTimeMillis() + 2000
    var last = -1
    var n = jobQ.size + actionQ.size
    while (n != last && System.currentTimeMillis() < deadline) {
      last = n; Thread.sleep(150); n = jobQ.size + actionQ.size
    }
  }

  /** Parents the recorded intervals by containment and returns every
    * span: the parent is the shortest span that contains it and belongs to
    * the same streaming query or to none, so the concurrent queries of one
    * workload do not adopt each other's jobs.
    */
  def tree(): Seq[Span] = {
    val all = spans
    all.map { s =>
      if (s.parent >= 0) s
      else s.copy(parent = all
        .filter(p => p.id != s.id && (p.query.isEmpty || p.query == s.query) &&
          p.start <= s.start && p.end >= s.end && p.ms > s.ms)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(0L))
    }
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer.
    */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      cs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = curE max b
      }
      if (!curS.isNaN) covered += curE - curS
      s.layer -> (s.ms - covered).max(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeSpans(path: String, all: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${Json.esc(s.name)}","layer":"${s.layer}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"parent":${s.parent},"run_id":"${s.runId}","query":"${s.query}"}""")
    } finally w.close()
  }
}

/** Counts codegen compile failures: Spark logs one line and silently
  * falls back to interpreted evaluation, so a broken expression shows up
  * only as slowness unless someone counts the log lines.
  */
object CodegenFallbacks {
  private val n = new AtomicLong(0)
  def count: Long = n.get

  def install(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val app = new AbstractAppender("graftbench-codegen", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage
        if (m != null && m.getFormattedMessage != null &&
            m.getFormattedMessage.contains("Failed to compile")) n.incrementAndGet()
      }
    }
    app.start()
    LogManager.getContext(false) match {
      case ctx: LoggerContext =>
        val cfg = ctx.getConfiguration
        cfg.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.ALL, null)
        ctx.updateLoggers()
      case _ => ()
    }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
