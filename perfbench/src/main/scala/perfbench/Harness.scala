package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Options run.py passes on the command line (`--key value`). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, cores: Int,
                      streamIntervalMs: Long, streamBacklog: Int)

/** What one measured phase saw. An op is one call the workload counts as
  * attempted (a stage, a query, a dropped file); a check is one output
  * check (also attempted). */
final class Phase(val traced: Boolean) {
  val passes = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, detail: String): Unit = {
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    checks += ((name, ok, detail))
  }

  def json: Map[String, Any] = Map(
    "traced" -> traced,
    "passes_s" -> passes.toSeq,
    "ops" -> ops.toSeq.map { case (n, ms, ok) => Seq(n, ms, ok) },
    "checks" -> checks.toSeq.map { case (n, ok, d) => Seq(n, ok, d) },
    "info" -> info.toMap)
}

/** A workload: set-up in named steps, then measured phases. */
trait Workload {
  /** Named set-up steps, run in order and timed. */
  def setup: Seq[(String, () => Unit)]
  def measure(t: Tracer, ph: Phase): Unit
  /** Extra measurements taken after a traced phase, outside it. */
  def probe(t: Tracer, ph: Phase): Unit = ()
  /** Digest of the output, the same for every run of one seed. */
  def outputDigest: Option[String]
  def extra: Map[String, Any] = Map.empty
}

object Harness {
  @volatile private var sparkRef: SparkSession = _
  def spark: SparkSession = sparkRef

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sparkRef = s
    s
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("cores").toInt, get("stream-interval-ms").toLong,
      get("stream-backlog").toInt)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  val Workloads: Seq[String] = Seq("curate_batch", "query_mix", "stream_ingest")

  def workload(o: Opts): Workload = o.workload match {
    case "curate_batch" => new Curate(o)
    case "query_mix" => new QueryMix(o)
    case "stream_ingest" => new StreamIngest(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** `--workload train`: each workload once, untimed and unchecked, over the
    * small inputs run.py wrote under `work/<workload>`, so that this one JVM
    * loads every class the measured runs load. run.py records them in a
    * class-data archive as the JVM exits. */
  def train(o: Opts): Unit = Workloads.foreach { name =>
    val w = workload(o.copy(workload = name, work = s"${o.work}/$name"))
    w.setup.foreach { case (_, step) => step() }
    w.measure(new Tracer(spark.sparkContext, enabled = false), new Phase(false))
    w.extra
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.workload == "train") {
      train(o)
      Runtime.getRuntime.halt(0)
    }
    val jvmStart = Clock.fromEpochMs(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val w = workload(o)
    val setup = mutable.LinkedHashMap[String, Double]("jvm_s" -> (Clock.now - jvmStart) / 1e3)
    w.setup.foreach { case (name, step) =>
      val t0 = Clock.now
      step()
      setup(name) = (Clock.now - t0) / 1e3
    }
    val sc = spark.sparkContext
    def measure(t: Tracer, x: Workload, name: String): Phase = {
      val ph = new Phase(t.enabled)
      t.span("measure", name)(x.measure(t, ph))
      if (t.enabled) t.span("probe", "probe")(x.probe(t, ph))
      ph
    }
    // Phase 0 gives the end-to-end metrics. A traced run then measures an
    // untraced and a traced phase, both warm; their difference is the
    // tracing overhead (biased low by whatever warming is left). A traced
    // curate_batch run also measures the streaming layer, as one more traced
    // phase (after its own warm-up stream) over the stream inputs run.py
    // generated next to the posts.
    val phases = mutable.ArrayBuffer(measure(new Tracer(sc, enabled = false), w, o.workload))
    val spans =
      if (!o.trace) Nil
      else {
        phases += measure(new Tracer(sc, enabled = false), w, o.workload)
        val stream = if (o.workload == "curate_batch") Some(new StreamIngest(o)) else None
        stream.foreach(_.setup.foreach { case (_, step) => step() })
        val t = new Tracer(sc, enabled = true)
        t.install(spark)
        phases += measure(t, w, o.workload)
        stream.foreach(x => phases += measure(t, x, "stream_ingest"))
        t.uninstall(spark)
        t.dump()
      }
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "setup" -> setup.toMap, "output_digest" -> w.outputDigest,
      "phases" -> phases.map(_.json).toSeq,
      "peak_rss_mb" -> peakRssMb()) ++ w.extra
    Files.writeString(Paths.get(o.work, "result.json"), Json(result))
    if (o.trace)
      Files.write(Paths.get(o.work, "spans.jsonl"), spans.map(Json.span).asJava)
    // everything is written; skip Spark's shutdown (the work directory is
    // removed by run.py)
    Runtime.getRuntime.halt(0)
  }

  // ---- small file helpers shared by the workloads ------------------------

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val dst = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(dst) else Files.copy(x, dst)
    } finally s.close()
  }

  /** Data files under a table directory: path → size. */
  def dataFiles(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala
        .filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith(".") &&
          !x.getFileName.toString.startsWith("_"))
        .map(x => x.toString -> Files.size(x)).toMap
      finally s.close()
    }
  }
}
