package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Build a Zipf-SKEWED-KEY rehearsal corpus (round-12 verdict #4): the
  * ScaleUp corpora grow volume uniformly, so no rehearsal has pushed a
  * HOT KEY through the aggregation/window paths — yet SURVEY §7.4 names
  * skewed tickers (a few dominate the feed) as a hard part of the
  * domain.
  *
  * The corpus derives FROM an already-scaled uniform ScaleUp dir and
  * remaps ONLY the key distribution, so a zipf-vs-uniform A/B at the
  * same scale isolates skew: identical row volume, identical key-domain
  * cardinality, only the per-key mass moves. Keys are redrawn by a
  * truncated-Pareto (continuous Zipf) inverse CDF with exponent `s`
  * (default 1.2), under which the RANK-1 key holds ~13–14% of ALL rows
  * (P(X≤2) = (1−2^(1−s))/(1−N^(1−s))) — a genuinely adversarial hot
  * key, not mild imbalance:
  *
  *   - `lineitem.l_orderkey` — the q23/q24 vote-group key: one "order"
  *     (ticker analog) receives ~14% of all line items, stressing the
  *     groupBy(doc, code) base reduction and the typed per-key cascade;
  *   - `events.user_id` — the q128/q158 sessionize key: one user owns
  *     ~14% of all events, stressing the per-key ordered window (whose
  *     own scaladoc names the degenerate-key hazard) and the streaming
  *     sessionize state store;
  *   - `part`, `documents` — copied through unchanged: q23/q24 join
  *     part on the (unskewed) l_partkey, and q97's heavy-hitter item
  *     domain (tokens) is already Zipf-distributed by construction of
  *     natural text, which is exactly what Misra–Gries is for.
  *
  * Keys are drawn DETERMINISTICALLY (xxhash64 of the row's identity →
  * uniform in (0,1) → inverse CDF), so reruns measure the same corpus.
  *
  * Usage: runMain graft.ZipfCorpus [srcScaledDir] [outDir] [s]
  *        (defaults /tmp/graft-sf3 → /tmp/graft-zipf3, s=1.2)
  * Writes lineitem/part/events/documents — the tables the five skew
  * rehearsal queries (q23/q24/q128/q158/q97) read.
  */
object ZipfCorpus {

  /** Truncated-Pareto rank in [1, n] from a uniform column: the
    * continuous inverse CDF over [1, n+1),
    * x = (1 − u·(1 − (n+1)^(1−s)))^(1/(1−s)), rank = floor(x).
    * (The first spelling — domain [1, n], ceil — could never emit rank
    * 1: u is strictly positive so x > 1 strictly and ceil(x) ≥ 2. The
    * round-13 ×30/×100 measurements ran with that spelling; per-key
    * masses are identical up to a one-label shift — the hot key was
    * labeled 2 — so the recorded numbers stand.) Requires s > 1. */
  def zipfRank(uniform: Column, n: Long, s: Double): Column = {
    require(s > 1.0, s"zipfRank needs s > 1 (got $s)")
    val tail = math.pow((n + 1).toDouble, 1.0 - s)
    floor(pow(lit(1.0) - uniform * lit(1.0 - tail), lit(1.0 / (1.0 - s))))
      .cast("long")
  }

  /** Deterministic uniform in (0,1) from arbitrary columns. */
  def uniformOf(cols: Column*): Column =
    (pmod(xxhash64(cols: _*), lit(1000000L)) + lit(0.5)) / lit(1000000.0)

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/tmp/graft-sf3")
    val out = args.lift(1).getOrElse("/tmp/graft-zipf3")
    val s = args.lift(2).map(_.toDouble).getOrElse(1.2)
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)

    def partsOf(name: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$src/$name.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      math.max(1, fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")))
    }

    val li = Tables(spark, src, "lineitem")
    val nOrders = li.select("l_orderkey").distinct().count()
    li.withColumn("l_orderkey",
        zipfRank(uniformOf(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey")), nOrders, s))
      .repartition(partsOf("lineitem"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ev = Tables(spark, src, "events")
    val nUsers = ev.select("user_id").distinct().count()
    ev.withColumn("user_id", zipfRank(uniformOf(col("event_id")), nUsers, s))
      .repartition(partsOf("events"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    Seq("part", "documents").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").repartition(partsOf(t))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    val hot = spark.read.parquet(s"$out/events.parquet")
      .groupBy("user_id").count().orderBy(col("count").desc).limit(3).collect()
      .map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(", ")
    val hotLi = spark.read.parquet(s"$out/lineitem.parquet")
      .groupBy("l_orderkey").count().orderBy(col("count").desc).limit(3).collect()
      .map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(", ")
    println(s"ZIPFCORPUS s=$s from $src at $out; hot users [$hot]; hot orders [$hotLi]")
    spark.stop()
  }
}
