package perfbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer spans, recorded from outside the library.
  *
  * A span wraps one call into a module's public functions and is named
  * `<module>.<role>`. While a span is open the client thread carries a
  * Spark job group naming it. Spark's public listeners record jobs,
  * stages, query planning phases and streaming progress; [[summary]]
  * attributes them to spans after the run. A job carrying one of our
  * job groups belongs to that span. Any other job (a streaming
  * micro-batch thread, a library worker pool) belongs to the innermost
  * span open when it started: the client is a single thread in a
  * closed loop, so at most one chain of spans is open at any time.
  *
  * Spans are recorded only while [[active]] is set; the listeners are
  * registered only when `traced` is set, so an untraced run pays for
  * neither. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the `time` of Spark's listener events. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var active: Boolean = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, e.time.toDouble, group))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.add(StageRec(e.stageInfo.stageId,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.recordsRead))
    }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans.add(PlanRec(
        ph.values.map(_.startTimeMs).min.toDouble,
        ph.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(Progress(Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0L) / 1e3,
        d.getOrElse("addBatch", 0L) / 1e3, p.numInputRows))
    }
  }

  if (traced) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside the span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        nowMs)
      spans += s
      stack.push(s)
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s.group, name)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.endMs = nowMs
        stack.pop()
        if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prevDesc)
      }
    }

  /** Rows a read span returned to its caller (for the pruning ratio). */
  def returned(name: String, rows: Long): Unit =
    if (active) rowsOut(name) += rows

  /** Per-layer totals over every span recorded so far. `opWalls` are
    * the [start, end] intervals of the traced ops; time inside them
    * that no top-level span covers is reported as `unattributed_s`. */
  def summary(opWalls: Seq[(Double, Double)]): Summary = {
    Trace.drainListenerBus(sc)
    val jobList = jobs.values.asScala.toSeq.sortBy(_.startMs)
    val byGroup = spans.map(s => s.group -> s).toMap
    def innermostAt(t: Double): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs)
    val jobSpan: Map[Int, Span] = jobList.flatMap { j =>
      Option(j.group).flatMap(byGroup.get).orElse(innermostAt(j.startMs))
        .map(j.id -> _)
    }.toMap
    val stageRecs = stages.asScala.toSeq
    val jobIntervals = jobList.map(j => (j.startMs, math.max(j.endMs, j.startMs)))

    val layers = mutable.LinkedHashMap.empty[String, Layer]
    def layer(n: String) = layers.getOrElseUpdate(n, new Layer)
    for (s <- spans) {
      val l = layer(s.name)
      val wall = (s.endMs - s.startMs) / 1e3
      l.calls += 1
      if (s.failed) l.failed += 1
      l.wallS += wall
      val childCover = covered(spans.filter(_.parent == s.id)
        .map(c => (c.startMs, c.endMs)).toSeq, s.startMs, s.endMs)
      l.selfS += wall - childCover / 1e3
      l.driverS += wall - covered(jobIntervals, s.startMs, s.endMs) / 1e3
    }
    for ((jid, s) <- jobSpan) layer(s.name).jobs += 1
    for (st <- stageRecs if stageJob.containsKey(st.stageId);
         s <- jobSpan.get(stageJob.get(st.stageId))) {
      val l = layer(s.name)
      l.cpuS += st.cpuNs / 1e9
      l.shuffleMb += st.shuffleBytes / 1048576.0
      l.spillMb += st.spillBytes / 1048576.0
      l.inputRecords += st.inputRecords
    }
    for (p <- plans.asScala; s <- innermostAt(p.startMs)) layer(s.name).planS += p.planS
    val streamSpans = spans.filter(_.name == "stream")
    val batches = progress.asScala.toSeq.filter(p =>
      p.rows > 0 && streamSpans.exists(s => s.startMs - 1000 <= p.startMs &&
        p.startMs <= s.endMs))
    val addBatch = progress.asScala.toSeq.filter(p =>
      streamSpans.exists(s => s.startMs - 1000 <= p.startMs && p.startMs <= s.endMs))
      .map(_.addBatchS).sum
    val streamWall = streamSpans.map(s => (s.endMs - s.startMs) / 1e3).sum
    val topLevel = spans.filter(_.parent < 0).map(s => (s.startMs, s.endMs)).toSeq
    val unattributed = opWalls.map { case (a, b) =>
      (b - a - covered(topLevel, a, b)) / 1e3 }.sum[Double]
    Summary(layers.toMap.map { case (k, v) => k -> v }, rowsOut.toMap,
      batches.size, median(batches.map(_.triggerS)),
      streamWall - addBatch, unattributed)
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startMs: Double) {
    var endMs: Double = startMs
    var failed: Boolean = false
    def group: String = s"perfbench:$name#$id"
  }
  final case class Job(id: Int, startMs: Double, var endMs: Double, group: String)
  final case class StageRec(stageId: Int, cpuNs: Long, shuffleBytes: Long,
      spillBytes: Long, inputRecords: Long)
  final case class PlanRec(startMs: Double, planS: Double)
  final case class Progress(startMs: Double, triggerS: Double,
      addBatchS: Double, rows: Long)

  final class Layer {
    var calls = 0L; var failed = 0L; var jobs = 0L
    var wallS = 0.0; var selfS = 0.0; var driverS = 0.0; var cpuS = 0.0
    var shuffleMb = 0.0; var spillMb = 0.0; var planS = 0.0
    var inputRecords = 0L
  }

  final case class Summary(layers: Map[String, Layer], rowsOut: Map[String, Long],
      streamBatches: Int, streamBatchP50S: Double, streamOverheadS: Double,
      unattributedS: Double)

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Wait until every posted listener event has been delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)
}
