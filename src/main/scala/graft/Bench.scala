package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line on stdout for the driver (→ BENCH_r{N}.json).
  *
  * Each shot goes through the [[Profile]] loop with the same full
  * materialization Verify performs (`collect()` of the ordered result, so
  * final sorts are not optimized away); a failure is reported on stderr
  * and recorded as -1. An untimed warmup absorbs JVM/codegen/parquet init.
  * The full per-query line goes to `BENCH.json` (and stdout once); the
  * first shot's layer profile to `BENCH_PROFILE.json`. The LAST stdout
  * line is a compact (<1 kB) JSON the driver's 2000-char tail capture
  * always holds whole: the 11-query relational baseline set (the
  * BASELINE.md bench gate), whole-surface totals and a pointer to the
  * full file.
  */
object Bench {

  /** Session-speed calibration: the bench times a FIXED probe — a frozen
    * q01-shaped scan-aggregate over sf0.1 lineitem, inlined so query-code
    * evolution never moves the yardstick — and reports `session_index` =
    * probe / [[NominalProbeSec]] in both JSON lines. An index of 1.15
    * says "this box ran 15% slow; divide the headline by that before
    * believing a regression" (round 12's +17% "regression" was pure
    * session noise). The index also scales the flag rule's absolute
    * slowdown guard; the per-query ratios self-normalize by their median.
    *
    * [[NominalProbeSec]]: mid of four fresh-JVM probe runs
    * (0.344/0.319/0.335/0.329 s) on a nominal-speed box. Re-baseline only
    * if the probe itself changes; `runMain graft.Bench --probe-only`
    * prints the raw probe. */
  val NominalProbeSec: Double = 0.332

  def probeSec(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val probe: Profile.Q = (s, _) =>
      s.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          avg("l_discount"), count(lit(1)))
    // a single ~0.5 s shot varies ±20% ACROSS fresh JVMs (JIT state);
    // discard two extra JIT-warm shots, then MIN-of-8 — the min is the
    // least-noisy timing statistic (it strips GC/scheduler jitter but
    // still rises under genuine box contention, which throttles every
    // shot). Measured cross-JVM spread: median-of-8 ±11%, min-of-8 ±5%
    // — the latter is the resolution the index needs (it exists to
    // expose 15%+ box drift).
    Profile.run(spark, "", Seq.fill(10)("probe" -> probe), Profile.collect).drop(2)
      .map(p => p.error.fold(p.sec)(e => sys.error(s"session probe failed: $e"))).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus, "graft-bench", "WARN")

    // warmup (sf0.001, untimed): JVM/codegen + one query per table family
    // (TPC-H star, documents, embeddings, events) so the first timed query
    // of each family doesn't absorb parquet-reader/codegen init
    // Best-effort: a missing warmup path or renamed query key must cost
    // only the warmup, never kill the bench before BENCH.json is written
    // (timed-query failures are recorded as -1; the warmup gets the same
    // tolerance).
    Seq(() => SparkEntry.entry(spark).collect(): Unit) ++ Seq(
      "q12_token_stats", "q21_cosine_topk", "q09_events_hourly").map(n =>
      () => SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").collect(): Unit)
    match { case warmups => warmups.foreach { w =>
      try w() catch { case e: Exception =>
        System.err.println(s"[bench] warmup skipped: $e") }
    } }

    // session-speed probe, after warmup. --probe-only must fail loudly on
    // a probe failure (a fall-through would overwrite BENCH.json on a
    // broken box); in a full run a failure costs only calibration (1.0).
    if (args.contains("--probe-only")) {
      val p = probeSec(spark)
      println(f"""{"probe_sec":$p%.3f,"nominal_sec":$NominalProbeSec%.3f,"session_index":${p / NominalProbeSec}%.3f}""")
      spark.stop(); return
    }
    val (probeMinSec, sessionIndex): (Double, Double) =
      try { val p = probeSec(spark); (p, p / NominalProbeSec) }
      catch { case e: Exception =>
        System.err.println(s"[bench] session probe failed, index=1.0: $e")
        (-1.0, 1.0)
      }

    // Variance protocol: the bench is single-shot on a box with 1.5-3x
    // session noise, so a query is flagged against two baselines:
    //  - "run":   BENCH.json as last written (catches step regressions);
    //  - "round": BENCH_base_r{N}.json, the BENCH.json this round
    //             inherited, snapshot by the first run after the driver
    //             drops BENCH_r{N}.json (catches cross-round drift).
    // A query whose ratio exceeds that pair's median ratio (the noise
    // normalizer, as in tools/bench_diff.py) by >1.5x AND slowed by
    // >0.5 s gets ONE re-run; the min is reported and the first shot
    // recorded under "reruns" with the baseline that tripped.
    def readBench(path: java.nio.file.Path): Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val json = org.json4s.jackson.JsonMethods.parse(txt)
      (json \ "queries") match {
        case org.json4s.JObject(fields) => fields.collect {
          case (k, org.json4s.JDouble(v)) => k -> v
          case (k, org.json4s.JInt(v)) => k -> v.toDouble
          case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    } catch { case _: Throwable => Map.empty }
    val benchPath = java.nio.file.Paths.get("BENCH.json")
    val roundBase: Option[java.nio.file.Path] = {
      val rs = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json"))
      if (rs.isEmpty) None
      else {
        val n = rs.map(_.stripPrefix("BENCH_r").stripSuffix(".json").toInt).max
        val p = java.nio.file.Paths.get(f"BENCH_base_r$n%02d.json")
        // first Bench run of round N+1: BENCH.json is still last round's
        // final value (only Bench overwrites it) — snapshot it as the
        // sticky baseline for the whole round
        if (!java.nio.file.Files.exists(p) &&
            java.nio.file.Files.exists(benchPath))
          java.nio.file.Files.copy(benchPath, p)
        if (java.nio.file.Files.exists(p)) Some(p) else None
      }
    }
    val prev: Map[String, Double] = readBench(benchPath)
    val prevRound: Map[String, Double] =
      roundBase.map(readBench).getOrElse(Map.empty)

    // Profile's loop: System.gc() before each query (carryover GC debt
    // would bleed into the next measurement), the profile read after the
    // clock stops
    def shots(names: Seq[String]): Seq[Profile.Record] =
      Profile.run(spark, sfDir, names.map(n => n -> SparkEntry.queries(n)), Profile.collect)
    def secOf(p: Profile.Record): Double = p.error match {
      case Some(e) => System.err.println(s"[bench] ${p.name} FAILED: $e"); -1.0
      case None => p.sec
    }
    // the timed loop starts from a computed-staging-cold warehouse, even
    // if a future call site forgets the run scoping
    try graft.queries.KeyedWorkDir.dropComputedStaged(spark)
    catch { case e: Exception =>
      System.err.println(s"[bench] staged-state sweep failed: $e") }
    val profiles = shots(SparkEntry.queries.keys.toSeq.sorted)
    val firstShot = profiles.map(p => p.name -> secOf(p))
    val failed = profiles.filter(_.error.nonEmpty).map(_.name).reverse
    val firstByName = firstShot.toMap
    def flaggedVs(base: Map[String, Double]): Set[String] = {
      val ratios = firstShot.collect {
        case (k, v) if v > 0 && base.getOrElse(k, -1.0) > 0 => k -> v / base(k)
      }
      if (ratios.isEmpty) Set.empty
      else {
        val medianRatio = ratios.map(_._2).sorted.apply(ratios.size / 2)
        // the 0.5 s absolute guard is calibrated to a NOMINAL box — scale
        // it by the session index (floored at 1: a fast box must not
        // shrink the guard and flag sub-noise slowdowns)
        val absGuard = 0.5 * math.max(sessionIndex, 1.0)
        ratios.collect {
          case (k, r) if r > medianRatio * 1.5 && firstByName(k) - base(k) > absGuard => k
        }.toSet
      }
    }
    val flaggedRun = flaggedVs(prev)
    val flaggedRound = flaggedVs(prevRound)
    val flagged = flaggedRun ++ flaggedRound
    def vsLabel(k: String): String =
      if (flaggedRun(k) && flaggedRound(k)) "both"
      else if (flaggedRound(k)) "round" else "run"
    // Before each rerun, drop run-scoped COMPUTED staged tables (trained
    // centroids, kNN edges, q157 dedup stages): otherwise a first shot
    // that pays a staged build is min-of-2'd against a rerun that only
    // reads it (q104 8.2 s → 1.9 s in BENCH_r15). Raw-input stream
    // staging is untouched.
    val reruns = flagged.toSeq.sorted.map { name =>
      try graft.queries.KeyedWorkDir.dropComputedStaged(spark)
      catch { case e: Exception =>
        System.err.println(s"[bench] staged-state drop before rerun failed: $e") }
      val again = secOf(shots(Seq(name)).head)
      System.err.println(f"[bench] rerun $name (vs ${vsLabel(name)}): " +
        f"first=${firstByName(name)}%.2f s rerun=$again%.2f s")
      name -> again
    }.toMap
    val results = firstShot.map { case (k, v) =>
      k -> (reruns.get(k) match {
        case Some(r) if r > 0 => math.min(v, r) // min-of-2 by protocol
        case _ => v
      })
    }
    def ms(v: Double): String = // ms precision keeps the line compact
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rr = flagged.toSeq.sorted.map { k =>
      "\"" + k + "\":{\"first\":" + ms(firstByName(k)) +
        ",\"rerun\":" + ms(reruns.getOrElse(k, -1.0)) +
        ",\"vs\":\"" + vsLabel(k) + "\"}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val cal = s""""session_index":${ms(sessionIndex)},"probe_sec":${ms(probeMinSec)}"""
    val fullLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec",$cal,"queries":$qs,"errors":$errs,"reruns":$rr,"sf":"$sfDir"}"""
    println(fullLine) // human logs; too long for the driver's 2000-char tail
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    // the first shot's layer profile, one entry per query (Profile.Record)
    val prof = profiles.map(p => "\"" + p.name + "\":" + p.json).mkString("{", ",\n", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_PROFILE.json"),
      s"""{$cal,"sf":"$sfDir","queries":$prof}\n""".getBytes("UTF-8"))

    // Compact driver-facing line, printed LAST so the stdout tail capture
    // always contains it whole: the BASELINE.md bench-gate set (the 11
    // round-1 relational queries) individually + whole-surface summary.
    val baseline11 = results.filter { case (k, _) =>
      k.matches("q(0[1-9]|1[01])_.*") }
    val bSum = baseline11.collect { case (_, v) if v >= 0 => v }.sum
    val bqs = baseline11.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"baseline11_total","value":${ms(bSum)},"unit":"sec",$cal,"queries":$bqs,""" +
      s""""surface":{"n":${results.size},"total_sec":${ms(total)},"errors":$errs},""" +
      s""""sf":"$sfDir","full_per_query":"BENCH.json"}"""
    println(compact)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
