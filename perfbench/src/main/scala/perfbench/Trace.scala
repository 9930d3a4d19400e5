package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spans around every call into a layer, plus the Spark-side counters of
  * the jobs each span ran.
  *
  * A span sets the Spark job group of its thread to `pb-<span id>`, so
  * every job (and, through its stages, every task) and every SQL
  * execution it starts can be attributed to it. Micro-batches of a
  * streaming query run on the query's own thread under the query's job
  * group; [[Trace.batchSpan]] adopts those jobs by their batch number
  * after the query ends.
  *
  * Spans and counters stay in memory and are written once, at the end of
  * the run. With tracing off, [[span]] only runs its body: no job group,
  * no listener.
  */
object Trace {

  @volatile var enabled = false
  @volatile var recording = false
  val runId: String = java.util.UUID.randomUUID().toString

  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Long) {
    @volatile var end: Long = 0L
    @volatile var rowsReturned: Long = -1L
    @volatile var frontendNs: Long = -1L
    def wallNs: Long = end - start
  }

  /** Spark-side counters of one span. */
  final class Counters {
    var jobs = 0
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var planMs = 0.0
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val nextId = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val execPlanMs = new ConcurrentHashMap[Long, java.lang.Double]()
  private val batchGroups = new ConcurrentHashMap[String, Span]()
  /** wall-clock ↔ nanoTime anchor: Spark events carry epoch millis */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private def countersOf(group: String): Counters =
    counters.computeIfAbsent(group, _ => new Counters)

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!enabled || !recording) return body
    val parent = current.get
    val s = new Span(nextId.incrementAndGet(), name,
      if (parent == null) 0 else parent.id, System.nanoTime())
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.jobGroup.id", s"pb-${s.id}")
    sc.setLocalProperty("spark.job.description", name)
    current.set(s)
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  /** The innermost open span of this thread (null when none). */
  def currentSpan: Span = current.get

  /** Record a span for a micro-batch that ran on a streaming query's own
    * thread: its jobs carry the query's job group and a description that
    * names the batch, and are re-keyed to this span.
    */
  def batchSpan(name: String, streamGroup: String, batchId: Long,
      startMs: Long, durationMs: Long): Unit = if (enabled && recording) {
    val s = new Span(nextId.incrementAndGet(), name, 0, msToNs(startMs))
    s.end = s.start + durationMs * 1000000L
    spans.add(s)
    batchGroups.put(s"$streamGroup#$batchId", s)
  }

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val key = group.map { g =>
        if (g.startsWith("pb-")) g
        else {
          // a streaming micro-batch: "... batch = <id>" in the description
          val m = "batch = (\\d+)".r.findFirstMatchIn(desc)
          m.map(x => s"$g#${x.group(1)}").getOrElse(g)
        }
      }
      key.foreach { k =>
        jobGroup.put(e.jobId, k)
        jobStartNs.put(e.jobId, msToNs(e.time))
        e.stageIds.foreach(sid => stageGroup.put(sid, k))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execGroup.putIfAbsent(x.toLong, k))
        val c = countersOf(k)
        c.synchronized { c.jobs += 1 }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val k = jobGroup.get(e.jobId)
      if (k != null) {
        val c = countersOf(k)
        val st: Long = jobStartNs.get(e.jobId)
        c.synchronized { c.jobIntervals += ((st, msToNs(e.time))) }
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (k != null && m != null) {
        val c = countersOf(k)
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    /** Planning time (analysis + optimisation + physical planning) of
      * every SQL execution, keyed by execution id; attributed to a span
      * through the job group of the jobs the execution ran.
      */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        // the event's query execution is package-private in Spark
        Option(end.getClass.getMethod("qe").invoke(end)).foreach { qe =>
          val phases = qe.asInstanceOf[QueryExecution].tracker.phases
          execPlanMs.put(end.executionId, Seq("analysis", "optimization", "planning")
            .flatMap(phases.get).map(_.durationMs).sum.toDouble)
        }
      case _ => ()
    }
  }

  /** Counters keyed by span (micro-batch spans resolved through their
    * stream group), plan time folded in.
    */
  def finish(): (Seq[Span], Map[Int, Counters]) = {
    execPlanMs.asScala.foreach { case (exec, ms) =>
      val g = execGroup.get(exec)
      if (g != null) { val c = countersOf(g); c.synchronized { c.planMs += ms } }
    }
    val bySpan = mutable.Map[Int, Counters]()
    counters.asScala.foreach { case (k, c) =>
      if (k.startsWith("pb-")) bySpan(k.stripPrefix("pb-").toInt) = c
      else Option(batchGroups.get(k)).foreach(s => bySpan(s.id) = c)
    }
    (spans.asScala.toSeq.sortBy(_.start), bySpan.toMap)
  }

  /** Wall time of `s` that no job of the span covers. */
  def idleGapNs(s: Span, c: Counters): Long = {
    val iv = c.jobIntervals.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var curA = 0L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, s.wallNs - covered)
  }
}
