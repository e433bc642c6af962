package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer, plus the
  * Spark-side detail (jobs, Catalyst phases, streaming triggers) the
  * listeners see while a span is open.
  *
  * A span is recorded only while `enabled`; otherwise `span` is a plain
  * call, so untraced operations pay nothing but one volatile read. Spark
  * jobs are tied to the innermost open span through the `SpanProperty`
  * local property, which Spark copies into each job's properties; Catalyst
  * phases and trigger progress carry no such property and are tied to
  * spans by time (the benchmark is a single client, so the driver thread
  * runs one span stack at a time). Everything is kept in memory and
  * written out when the run ends. */
final class Trace(sc: SparkContext) {
  import Trace._

  @volatile var enabled: Boolean = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Time in microseconds since the epoch, from the monotonic clock. */
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000

  def current: Option[Span] = stack.headOption

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        nowUs(), -1L, mutable.LinkedHashMap.empty)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try f
      finally {
        s.endUs = nowUs()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a value to the innermost open span (no-op when untraced). */
  def attr(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  // ---- listener side: filled on Spark's listener-bus thread -------------

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Streaming query id → span that started it (set on the driver). */
  val streamSpans = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt)
      span.foreach { sid =>
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("")
        val j = Job(e.jobId, sid, e.time, -1L, site)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageToJob.put(_, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      val j = stageToJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      lastEventMs = System.currentTimeMillis()
      val phases = qe.tracker.phases
      def ph(n: String) = phases.get(n)
      queries.add(Map(
        "start_ms" -> phases.values.map(_.startTimeMs).minOption.getOrElse(0L),
        "end_ms" -> phases.values.map(_.endTimeMs).maxOption.getOrElse(0L)) ++
        Seq("analysis", "optimization", "planning").map(n =>
          n + "_ms" -> ph(n).map(_.durationMs).getOrElse(0L)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEventMs = System.currentTimeMillis()
      val p = e.progress
      val span = Option(streamSpans.get(p.id.toString)).map(_.intValue).getOrElse(-1)
      progress.add(Map("span" -> span, "batch" -> p.batchId,
        "rows" -> p.numInputRows) ++
        p.durationMs.asScala.map { case (k, v) => (k + "_ms") -> v.longValue })
    }
  }

  def install(spark: SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait (bounded) until the listener bus has delivered every job end and
    * gone quiet, so the recorded intervals are complete. */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = jobs.values.asScala.forall(_.endMs >= 0) &&
      System.currentTimeMillis() - lastEventMs > 500
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
      "attrs" -> s.attrs.toMap)).toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "site" -> j.site, "tasks" -> j.tasks,
      "executor_cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "shuffle_read_bytes" -> j.shuffleRead,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)),
    "queries" -> queries.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}

object Trace {
  val SpanProperty = "perfbench.span"

  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000

  final case class Span(id: Int, parent: Int, name: String, startUs: Long,
      var endUs: Long, attrs: mutable.LinkedHashMap[String, Any])

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long,
      site: String) {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
}
