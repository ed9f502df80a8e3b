package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced request. Times are epoch microseconds;
  * `parent` is 0 for a request's root span. */
final case class Span(rid: String, id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long)

final class JobRec(val rid: String, val id: Int, val startUs: Long,
    val stageIds: Seq[Int]) { @volatile var endUs: Long = -1L }

final class StageAgg {
  var completed = false
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

final case class Phases(rid: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** One streaming micro-batch as the StreamingQueryListener reported it. */
final case class Progress(batchId: Long, startMs: Long, inputRows: Long,
    durations: Map[String, Long])

/** Spans and Spark listener events of the traced run, kept in memory.
  *
  * Every listener event is tagged with the request id that is current
  * when the event is delivered; [[close]] drains the listener bus before
  * the request id changes, so a request's events all carry its id. Only
  * one request is traced at a time.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var current = ""

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong()
  private val spans = ArrayBuffer.empty[Span]

  def record(rid: String, parent: Long, name: String, startUs: Long, endUs: Long): Span = {
    val s = Span(rid, ids.incrementAndGet(), parent, name, startUs, endUs)
    spans.synchronized(spans += s)
    s
  }

  /** Run `body` inside a span named `name`; `body` gets the span's id to
    * parent its own spans on. Returns the result and the span. */
  def span[T](rid: String, parent: Long, name: String)(body: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val t0 = nowUs
    val r = body(id)
    val s = Span(rid, id, parent, name, t0, nowUs)
    spans.synchronized(spans += s)
    (r, s)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  // ---------------------------------------------------------------- events

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val phases = ArrayBuffer.empty[Phases]
  private val progress = ArrayBuffer.empty[Progress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobRec(current, e.jobId, e.time * 1000L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      agg(e.stageInfo.stageId).synchronized(agg(e.stageInfo.stageId).completed = true)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val a = agg(e.stageId)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def agg(stageId: Int): StageAgg =
    stages.computeIfAbsent(stageId, _ => new StageAgg)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.synchronized(phases += Phases(current, ms("analysis"),
        ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.synchronized(progress += Progress(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Make `rid` the request that listener events are charged to. */
  def open(rid: String): Unit = { drain(); current = rid }

  /** Deliver the pending events of the current request and stop charging. */
  def close(): Unit = { drain(); current = "" }

  def streamProgress: Seq[Progress] = progress.synchronized(progress.toList)

  // ---------------------------------------------------------------- views

  def jobsOf(rid: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.rid == rid).toSeq.sortBy(_.id)

  /** Microseconds of [startUs, endUs] covered by the union of `jobs`. */
  def busyUs(js: Seq[JobRec], startUs: Long, endUs: Long): Long = {
    val iv = js.map(j => (math.max(j.startUs, startUs),
        math.min(if (j.endUs < 0) endUs else j.endUs, endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Jobs of `rid` that started inside the interval. */
  def jobsIn(rid: String, startUs: Long, endUs: Long): Seq[JobRec] =
    jobsOf(rid).filter(j => j.startUs >= startUs - 1000L && j.startUs <= endUs)

  /** Spark-side numbers of `rid` over its interval: the `exec.*` and
    * `catalyst.*` metrics of one request. */
  def execStats(rid: String, startUs: Long, endUs: Long): Map[String, Double] = {
    val js = jobsOf(rid)
    val stageIds = js.flatMap(_.stageIds).distinct
    val aggs = stageIds.flatMap(s => Option(stages.get(s)))
    def sum(f: StageAgg => Long): Double = aggs.map(a => a.synchronized(f(a))).sum.toDouble
    val busy = busyUs(js, startUs, endUs) / 1e6
    val ph = phases.synchronized(phases.filter(_.rid == rid).toList)
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> aggs.count(a => a.synchronized(a.completed)).toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.busy_s" -> busy,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.input_bytes" -> sum(_.inputBytes),
      "exec.records_read" -> sum(_.recordsRead),
      "exec.shuffle_bytes" -> sum(_.shuffleBytes),
      "exec.spill_bytes" -> sum(_.spillBytes),
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.driver_gap_s" -> ((endUs - startUs) / 1e6 - busy),
      "catalyst.analysis_s" -> ph.map(_.analysisMs).sum / 1e3,
      "catalyst.optimization_s" -> ph.map(_.optimizationMs).sum / 1e3,
      "catalyst.planning_s" -> ph.map(_.planningMs).sum / 1e3)
  }
}
