package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval and the span that caused it. Times are milliseconds
  * since [[Clock]]'s origin; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double], tags: Map[String, String])

/** One clock for harness spans (nanoTime) and Spark events (epoch ms). */
object Clock {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def now: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - originMs).toDouble
}

/** Records spans from outside the program: around every call the harness
  * makes, plus Spark jobs/stages (SparkListener), Catalyst phases
  * (QueryExecution.tracker via a QueryExecutionListener) and streaming
  * triggers (StreamingQueryListener). Spans stay in memory until [[dump]].
  *
  * When `enabled` is false nothing is installed and [[span]] only runs its
  * body, so untraced runs carry no listener or local-property cost.
  *
  * Attribution: each harness span sets the `perfbench.span` local property,
  * so every job it launches names its parent. Jobs a streaming query runs
  * outside a harness span are attributed through Spark's own
  * `streaming.sql.batchId` property to the trigger span of that batch. A
  * Catalyst phase record goes to the innermost harness span containing it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private final class Frame(val id: Long, val attrs: mutable.Map[String, Double])
  private val stack = new ThreadLocal[List[Frame]] { override def initialValue() = Nil }

  /** Run `body` inside a span. Returns its value; records only if enabled. */
  def span[T](kind: String, name: String, tags: Map[String, String] = Map.empty)
             (body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val outer = stack.get
    val frame = new Frame(id, mutable.Map.empty)
    stack.set(frame :: outer)
    val prevProp = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = Clock.now
    try body
    finally {
      val t1 = Clock.now
      sc.setLocalProperty(SpanKey, prevProp)
      stack.set(outer)
      spans.add(Span(id, outer.headOption.map(_.id).getOrElse(0L), kind, name,
        t0, t1, frame.attrs.toMap, tags))
    }
  }

  /** Add to a count on the innermost open span of this thread. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.get.headOption.foreach(f =>
      f.attrs(key) = f.attrs.getOrElse(key, 0.0) + v)

  /** Detach the calling thread from its span for the duration of `body`
    * (a streaming query's thread inherits local properties at start). */
  def detached[T](body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  // ---- Spark listeners ---------------------------------------------------

  private final class JobRec(val id: Int, val start: Double, val span: Long,
                             val batch: Option[Long]) {
    @volatile var end: Double = Double.NaN
    @volatile var failed: Boolean = false
  }
  private final class StageRec(val id: Int) {
    var start, end = Double.NaN
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shufW, shufR, spill, peakMem = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Map[String, Double])]()
  private val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var triggerParent = 0L

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong)
      jobs.put(e.jobId, new JobRec(e.jobId, Clock.fromEpochMs(e.time), span, batch))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = Clock.fromEpochMs(e.time)
        j.failed = e.jobResult != JobSucceeded
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shufW += m.shuffleWriteMetrics.bytesWritten
          s.shufR += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.synchronized {
        s.start = i.submissionTime.map(Clock.fromEpochMs).getOrElse(Double.NaN)
        s.end = i.completionTime.map(Clock.fromEpochMs).getOrElse(Double.NaN)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // analysis runs when the Dataset is built, often in an earlier span;
      // the span is placed by its optimization and planning phases, which
      // run when the plan executes
      val ph = qe.tracker.phases
      val exec = ph.filter { case (k, _) => k != "analysis" }.values
      if (exec.nonEmpty) {
        val start = Clock.fromEpochMs(exec.map(_.startTimeMs).min)
        val end = Clock.fromEpochMs(exec.map(_.endTimeMs).max)
        plans.add((start, end, PlanPhases.map(p =>
          s"${p}_ms" -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)).toMap))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val state = p.stateOperators.toSeq
      val attrs = TriggerPhases.map(k => s"${k}_ms" -> d.getOrElse(k, 0.0)).toMap ++ Map(
        "input_rows" -> p.numInputRows.toDouble,
        "state_rows" -> state.map(_.numRowsTotal.toDouble).sum,
        "state_mem_bytes" -> state.map(_.memoryUsedBytes.toDouble).sum)
      triggers.add(Span(0, triggerParent, "trigger", s"batch-${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0.0), attrs,
        Map("batch" -> p.batchId.toString)))
    }
  }

  /** Streaming triggers reported from now on are children of `parent`. */
  def triggersUnder(parent: Long): Unit = triggerParent = parent
  /** The id of this thread's innermost open span (0 outside any span). */
  def current: Long = stack.get.headOption.map(_.id).getOrElse(0L)

  def install(spark: SparkSession): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span recorded, with jobs, stages, Catalyst phases and triggers
    * attached to their parents. Call after [[uninstall]]. */
  def dump(): Seq[Span] = {
    val harness = spans.asScala.toVector
    val trig = triggers.asScala.toVector.map(t => t.copy(id = ids.incrementAndGet()))
    val trigByBatch = trig.map(t => t.tags("batch").toLong -> t.id).toMap
    // a harness span opened inside foreachBatch (stream thread) has no
    // parent of its own; hang it under its batch's trigger
    val harnessFixed = harness.map { s =>
      if (s.parent == 0L && s.tags.contains("batch"))
        s.copy(parent = trigByBatch.getOrElse(s.tags("batch").toLong, 0L))
      else s
    }
    val jobSpanId = mutable.Map.empty[Int, Long]
    val jobSpans = jobs.values.asScala.toVector.sortBy(_.id).map { j =>
      val id = ids.incrementAndGet()
      jobSpanId(j.id) = id
      val parent =
        if (j.span != 0L) j.span
        else j.batch.flatMap(trigByBatch.get).getOrElse(0L)
      Span(id, parent, "job", s"job-${j.id}", j.start,
        if (j.end.isNaN) j.start else j.end,
        Map("failed" -> (if (j.failed) 1.0 else 0.0)), Map.empty)
    }
    val stageSpans = stages.asScala.toVector.sortBy(_._1).flatMap { case ((sid, att), s) =>
      if (s.start.isNaN) None
      else Some(Span(ids.incrementAndGet(),
        Option(stageJob.get(sid)).flatMap(j => jobSpanId.get(j)).getOrElse(0L),
        "stage", s"stage-$sid.$att", s.start, if (s.end.isNaN) s.start else s.end,
        Map("tasks" -> s.tasks.toDouble, "failed_tasks" -> s.failedTasks.toDouble,
          "run_ms" -> s.runMs.toDouble, "cpu_ms" -> s.cpuNs / 1e6,
          "gc_ms" -> s.gcMs.toDouble, "shuffle_write_bytes" -> s.shufW.toDouble,
          "shuffle_read_bytes" -> s.shufR.toDouble, "spill_bytes" -> s.spill.toDouble,
          "peak_task_mem_bytes" -> s.peakMem.toDouble), Map.empty))
    }
    val planSpans = plans.asScala.toVector.map { case (start, end, attrs) =>
      val inside = harnessFixed.filter(o => o.start <= start && end <= o.end)
      val parent = if (inside.isEmpty) 0L else inside.minBy(o => o.end - o.start).id
      Span(ids.incrementAndGet(), parent, "plan", "catalyst", start, end, attrs, Map.empty)
    }
    harnessFixed ++ trig ++ jobSpans ++ stageSpans ++ planSpans
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"
  val PlanPhases: Seq[String] = Seq("analysis", "optimization", "planning")
  val TriggerPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
      "getBatch", "triggerExecution")
}
