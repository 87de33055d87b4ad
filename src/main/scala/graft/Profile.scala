package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The query profiler: graft's one per-query timing loop and its one
  * `SparkListener`, used by `Bench`, `ScaleRehearsal` (so both scale-gate
  * tiers) and the specs' job counter.
  *
  * Per query the loop runs `System.gc()`, then times construction
  * (`fn(spark, dir)`) and the action apart, catching a failure as the
  * record's `error`. Only after the clock stops does it read the row
  * count, drain the listener bus and read the query's counters, so a slow
  * listener's backlog never lands in the measured seconds.
  *
  * Jobs are attributed by a local property the loop sets, outside the
  * clock, around construction and around the action. Threads started
  * inside either inherit it, so a streaming harness's micro-batch jobs
  * count for the query that started it. Jobs under a tag the loop did not
  * open, or has already read, are ignored; nothing is reset. */
object Profile {

  type Q = (SparkSession, String) => DataFrame

  /** One measured query. Seconds are driver wall time; busy time and the
    * byte counts sum both phases' task metrics; the phase times come from
    * the final plan's `QueryExecution.tracker` (analysis runs at
    * construction, optimization and planning at the action). The JSON
    * names follow perfbench's per-layer metrics. */
  final case class Record(
      name: String,
      constructS: Double = 0, actionS: Double = 0,
      constructJobs: Long = 0, actionJobs: Long = 0,
      stages: Long = 0, tasks: Long = 0, busyS: Double = 0,
      shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
      spillBytes: Long = 0, peakTaskMemBytes: Long = 0,
      analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
      rows: Long = 0, error: Option[String] = None) {

    def sec: Double = constructS + actionS
    def jobs: Long = constructJobs + actionJobs

    /** One JSON object, sizes in MiB. */
    def json: String = {
      def num(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      def mb(bytes: Long) = num(bytes / 1048576.0)
      Seq("construct_s" -> num(constructS), "action_s" -> num(actionS),
        "construct_jobs" -> constructJobs, "action_jobs" -> actionJobs,
        "stages" -> stages, "tasks" -> tasks, "busy_s" -> num(busyS),
        "shuffle_read_mb" -> mb(shuffleReadBytes), "shuffle_write_mb" -> mb(shuffleWriteBytes),
        "spill_mb" -> mb(spillBytes), "peak_task_mem_mb" -> mb(peakTaskMemBytes),
        "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
        "planning_ms" -> planningMs, "rows" -> rows,
        "error" -> error.map(e => "\"" + e.replaceAll("[\"\\\\\\s]+", " ") + "\"").getOrElse("null"))
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
  }

  /** What a timed action hands back: the Dataset it executed (its tracker
    * holds the final plan's phases) and its row count, read after the
    * clock stops. */
  final class Ran(val plan: Dataset[_], rowCount: => Long) {
    def rows: Long = rowCount
  }

  type Action = DataFrame => Ran

  /** Bench's action: the ordered result collected, the same full
    * materialization Verify performs. */
  val collect: Action = df => {
    val n = df.collect().length.toLong
    new Ran(df, n)
  }

  /** ScaleRehearsal's action: the noop sink runs the full physical plan,
    * final sorts included, without moving the result to the driver; the
    * row count rides an Observation instead of a second action. */
  val noopWrite: Action = df => {
    val obs = new Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"))
    observed.write.format("noop").mode("overwrite").save()
    new Ran(observed, obs.get("n").asInstanceOf[Long])
  }

  /** Measures each query in turn (a name given twice, twice). */
  def run(spark: SparkSession, dir: String, queries: Seq[(String, Q)],
          action: Action): Seq[Record] =
    withListener(spark.sparkContext)(l => queries.map { case (name, fn) =>
      one(spark, l, name, fn, dir, action)
    })

  /** The Spark jobs `body` launches, as the loop attributes them. */
  def jobs(sc: SparkContext)(body: => Any): Long = withListener(sc) { l =>
    val tag = l.open("jobs")
    clocked(sc, tag)(body)._1.fold(e => throw e, identity)
    ListenerDrain(sc)
    l.take(tag).jobs.sum
  }

  private def one(spark: SparkSession, l: Listener, name: String, fn: Q,
                  dir: String, action: Action): Record = {
    val sc = spark.sparkContext
    val (cTag, aTag) = (l.open(name), l.open(name))
    System.gc()
    val (built, constructS) = clocked(sc, cTag)(fn(spark, dir))
    val (ran, actionS): (Either[Throwable, Ran], Double) =
      built.fold(e => (Left(e), 0.0), df => clocked(sc, aTag)(action(df)))
    // the clock has stopped: the row count, the bus, the counters
    val rows = ran.flatMap(r => attempt(r.rows))
    ListenerDrain(sc)
    val cs = Seq(l.take(cTag), l.take(aTag))
    def total(f: Counters => LongAdder) = cs.map(f(_).sum).sum
    val phases = ran.toOption.map(_.plan.queryExecution.tracker.phases).getOrElse(Map.empty)
    def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
    Record(name, constructS, actionS, cs(0).jobs.sum, cs(1).jobs.sum,
      total(_.stages), total(_.tasks), total(_.runMs) / 1e3,
      total(_.shuffleRead), total(_.shuffleWrite), total(_.spill),
      cs.map(_.peakMem.get).max, ms("analysis"), ms("optimization"), ms("planning"),
      rows.getOrElse(0L), rows.left.toOption.map(e =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
  }

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }

  private val Key = "graft.profile"

  /** `body` with its jobs tagged `tag`, and its wall seconds. */
  private def clocked[T](sc: SparkContext, tag: String)(body: => T): (Either[Throwable, T], Double) = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    val t0 = System.nanoTime()
    val r = attempt(body)
    val sec = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(Key, prev)
    (r, sec)
  }

  private def withListener[T](sc: SparkContext)(body: Listener => T): T = {
    val l = new Listener
    sc.addSparkListener(l)
    try body(l) finally sc.removeSparkListener(l)
  }

  private final class Counters {
    val jobs, stages, tasks, runMs, shuffleRead, shuffleWrite, spill = new LongAdder
    val peakMem = new AtomicLong
  }

  /** Per open tag: the jobs started under it, and their stages and tasks. */
  private final class Listener extends SparkListener {
    private val ids = new AtomicLong
    private val byTag = new ConcurrentHashMap[String, Counters]
    private val byStage = new ConcurrentHashMap[Int, Counters]

    def open(name: String): String = {
      val tag = s"${ids.incrementAndGet()}:$name"
      byTag.put(tag, new Counters)
      tag
    }

    def take(tag: String): Counters = {
      val c = byTag.remove(tag)
      byStage.values.removeIf(_ eq c)
      c
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(t => Option(byTag.get(t))).foreach { c =>
          c.jobs.increment()
          e.stageIds.foreach(byStage.put(_, c))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages.increment())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { c =>
        c.tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          c.runMs.add(m.executorRunTime)
          c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          c.spill.add(m.diskBytesSpilled)
          c.peakMem.accumulateAndGet(m.peakExecutionMemory, (x, y) => math.max(x, y))
        }
      }
  }
}
