package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer, recorded by the benchmark around the call.
  * Times are epoch milliseconds (fractional) so they line up with Spark's
  * listener timestamps. */
final case class Span(id: Long, name: String, layer: String, parent: Long, run: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job, tied to the span that was open when it was submitted and
  * to the engine module that submitted it. */
final class JobRec(val id: Int, val span: Long, val query: String, val batch: Long,
    val start: Double) {
  /** Engine module and compaction flag; set from the job's own call site,
    * or from its SQL execution's when the job was submitted from a pool
    * thread (adaptive query stages) whose stack holds no engine frame. */
  var module = ""
  var compaction = false
  @volatile var end: Double = start
  var tasks = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var recordsRead = 0L
}

/** Spans in memory plus the listeners that attribute Spark's jobs to them.
  * The listeners are registered only for traced runs. Spans are recorded,
  * and listener events handled, only while `enabled`: an event stamped
  * outside every enabled window returns at once, so untraced cycles of a
  * traced run pay for neither. */
final class Tracer(sc: SparkContext, val run: String, traced: Boolean) {
  import Tracer._
  @volatile private var on = false
  @volatile private var onSince = 0L
  /** Closed enabled windows, epoch ms. Listener events arrive late, so an
    * event is matched against the window its own timestamp falls in. */
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  def enabled: Boolean = on
  def enabled_=(v: Boolean): Unit = if (v != on) {
    val now = System.currentTimeMillis()
    if (v) onSince = now else windows.synchronized(windows += (onSince -> now))
    on = v
  }
  private def tracedAt(t: Long): Boolean =
    (on && t >= onSince) || windows.synchronized(windows.exists(w => w._1 <= t && t <= w._2))
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** Per-trigger progress of streaming queries: (query id, batch id, durationMs). */
  val progress = mutable.ArrayBuffer.empty[(String, Long, Map[String, Long])]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL executions: call site, and whether the plan writes files. */
  private val execs = new ConcurrentHashMap[Long, (String, Boolean)]()
  private var open = List.empty[Long]
  private var nextId = 1L
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      open = id :: open
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans += Span(id, name, layer, parent, run, t0, nowMs)
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracedAt(e.time)) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val rec = new JobRec(e.jobId, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("sql.streaming.queryId").getOrElse(""), prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        e.time.toDouble)
      val exec = prop("spark.sql.execution.id").flatMap(x => Option(execs.get(x.toLong)))
      val origin = if (moduleOf(site).isDefined) site else exec.map(_._1).getOrElse(site)
      rec.module =
        // a stream pins every job's call site to where the query started;
        // its table writes are told apart by their plan instead
        if (rec.query.nonEmpty && exec.exists(_._2)) "lake"
        else moduleOf(origin).getOrElse("")
      rec.compaction = origin.contains("Merge$.compact")
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if tracedAt(x.time) =>
        execs.put(x.executionId, x.details -> x.physicalPlanDescription.contains("InsertIntoHadoopFsRelation")): Unit
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      val i = e.taskInfo
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.schedulerDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
          j.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0 && tracedAt(java.time.Instant.parse(e.progress.timestamp).toEpochMilli))
        progress.synchronized {
          progress += ((e.progress.id.toString, e.progress.batchId,
            e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq

  def register(spark: org.apache.spark.sql.SparkSession): Unit = if (traced) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = if (traced) org.apache.spark.BenchBridge.drainListeners(sc)

  /** The span each job ran under: the one named by the local property, or,
    * for jobs submitted from a thread that did not inherit it, the innermost
    * span open when the job started (the loop issues one call at a time). */
  def resolveSpans(): Map[Int, Long] = jobs.values.asScala.map { j =>
    j.id -> (if (j.span != 0) j.span
      else spans.filter(s => s.start <= j.start && j.start <= s.end)
        .maxByOption(_.start).map(_.id).getOrElse(0L))
  }.toMap
  /** Jobs that ran under `root` or any span below it. */
  def jobsUnder(root: Span): Seq[JobRec] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    val ids = go(root.id)
    allJobs.filter(j => spanOfJob.get(j.id).exists(ids))
  }
  /** [[resolveSpans]], taken once the listeners are drained. */
  private lazy val spanOfJob = resolveSpans()
}

object Tracer {
  val SpanProp = "graftbench.span"
  private val Frame = """(?m)^\s*(?:at\s+)?graft\.([a-z]+)\.""".r

  /** The engine module of a call site: the first `graft.<module>` frame of
    * Spark's long call-site form (innermost frame first). */
  def moduleOf(callSite: String): Option[String] =
    Frame.findFirstMatchIn(callSite).map(_.group(1))

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
