package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full distributed k-means (Lloyd) TRAINING over an embedding column —
  * the loop whose single step q49 maintains (`IvfFlat.recomputeCentroids`)
  * and whose fitted index q34/q65 search. Designed for the 100 TB regime:
  *
  *  - **Zero corpus shuffles.** The centroid set is k×d doubles held on
  *    the driver between rounds (the [[Pca]] d-vector precedent). A
  *    training round is one treeAggregate of per-cell decimal sums and
  *    counts ([[train]]); the final assignment ([[assignCells]]) embeds
  *    the centroids as LITERAL arrays and computes the argmin as a
  *    statically unrolled `least(struct(dist_1, id_1), …)` — pure
  *    whole-stage-codegen projection, no crossJoin, no exchange.
  *  - **Engine-exact determinism.** dist = ((x·x − 2·(x·c)) + c·c) with
  *    every product a sequential-fold dot ([[graft.expressions.DotProduct]]
  *    ≡ DuckDB `list_inner_product`) and the formula text pinned, so
  *    distances are bit-identical across engines and partitionings;
  *    per-dim means are decimal-summed (exact, associative). Assignment
  *    therefore never depends on float tie-luck, and the DuckDB oracle
  *    ([[oracleSql]]) unrolls the same rounds CTE-for-CTE.
  *
  * Empty cells (a centroid losing its last member) drop out of the next
  * round on both engines identically — k may shrink, never misalign.
  */
object KMeans {

  /** Sequential-fold self-dot on the driver — MUST match
    * [[graft.expressions.DotProduct]]'s order (and DuckDB's
    * list_inner_product) so the embedded `c·c` literal equals what
    * either engine would compute. */
  private def selfDot(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }

  /** Nearest-centroid assignment against driver-held centroids:
    * (idCol, cell, dist), tie-break on lower centroid id, computed as an
    * unrolled `least(struct…)` projection — no join, no shuffle. */
  def assignCells(vecs: DataFrame, idCol: String, vecCol: String,
                  cens: Seq[(Long, Array[Double])]): DataFrame = {
    require(cens.size >= 2, "k-means needs at least 2 centroids")
    // The unrolled least(struct…) is built for driver-held indexes
    // (k × d doubles; k in the tens-to-hundreds). For k beyond what one
    // generated expression should carry, use IvfFlat.assign's
    // broadcast-join + min(struct) form — same semantics, one exchange.
    require(cens.size <= 1024,
      s"unrolled assignment is for small-k driver-held centroid sets; " +
        s"got k=${cens.size} — use IvfFlat.assign for large k")
    val candidates = cens.sortBy(_._1).map { case (cid, cv) =>
      val dp = Cosine.dot(col(vecCol), array(cv.map(lit): _*))
      val dist = (col("__xx") - (lit(2.0) * dp)) + lit(selfDot(cv))
      struct(dist.as("dist"), lit(cid).as("cell"))
    }
    // Null guard: a vector with any null element has null dist for EVERY
    // candidate, and Spark's struct ordering sorts a null field FIRST
    // while an ORDER BY dist ASC oracle sorts nulls LAST — so instead of
    // assigning such a vector divergently, exclude it on both engines
    // with the same predicate (__xx = dot(v,v) is null iff the vector is
    // null or has a null element; the oracle mirror adds
    // `WHERE xx.xx IS NOT NULL` — see [[trainCtes]]).
    vecs.withColumn("__xx", Cosine.dot(col(vecCol), col(vecCol)))
      .filter(col("__xx").isNotNull)
      .withColumn("__m", least(candidates: _*))
      .select(col(idCol), col("__m.cell").as("cell"), col("__m.dist").as("dist"))
  }

  /** Spark SQL's total order on doubles (SQLOrderingUtil /
    * nanSafeCompareDoubles): NaN is largest, NaN equals NaN, -0.0 equals
    * 0.0 — the ordering least(struct(dist, cell)) compares dist with. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else if (java.lang.Double.isNaN(a)) { if (java.lang.Double.isNaN(b)) 0 else 1 }
    else -1

  /** `rounds` Lloyd iterations from `seed`; returns the trained
    * centroids (driver-side, k×d doubles — the index you then persist
    * or hand to `IvfFlat`).
    *
    * Each round is one RDD treeAggregate, so training launches exactly
    * `rounds` Spark jobs (fewer if it collapses) and no round pays
    * Catalyst analysis or a codegen compile for k×d centroid literals
    * (the q94 Pca finding: q149's cold shot was ~6.9 s vs ~0.7 s warm
    * when every round was a new relational plan). The round replays
    * [[assignCells]]' arithmetic exactly: dist = ((x·x − 2·(x·c)) + c·c)
    * with the same sequential-fold dots and the same double comparison
    * as least(struct(dist, cell)) (NaN largest, ties → lower cell id),
    * and per-(cell, dim) means as the same BigDecimal.valueOf +
    * setScale(12, HALF_UP) quantize-then-sum over member count.
    *
    * A vector takes no part when it is null, has a null element (it
    * fails [[assignCells]]' `__xx IS NOT NULL` gate) or its length
    * differs from the centroids'. The seed's centroids must share one
    * length.
    *
    * Empty cells drop out of the next round, and training stops with
    * the survivors once fewer than 2 remain (all vectors assigned to one
    * centroid, or an empty/all-null corpus) instead of forfeiting the
    * run. The unrolled oracle (q149) assumes no collapse, which holds for
    * any corpus whose seeds attract at least one vector each. */
  def train(corpus: DataFrame, vecCol: String,
            seed: Seq[(Long, Array[Double])], rounds: Int): Seq[(Long, Array[Double])] = {
    val dims = seed.headOption.map(_._2.length).getOrElse(0)
    require(seed.forall(_._2.length == dims),
      s"k-means seed centroids must share one length; got ${seed.map(_._2.length).distinct}")
    // one conversion plan, built once: widen to double exactly as the
    // kernels do per element (ieee-exact float→double)
    val rows = corpus.select(col(vecCol).cast("array<double>")).rdd
    var cens = seed
    var round = 0
    while (round < rounds && cens.size >= 2) {
      val sorted = cens.sortBy(_._1)
      val k = sorted.size
      val cIds = sorted.map(_._1).toArray
      val cVecs = sorted.map(_._2).toArray
      val cc = cVecs.map(selfDot)
      val (sums, cnts) = rows.treeAggregate(
        (Array.fill(k * dims)(java.math.BigDecimal.ZERO), new Array[Long](k)))(
        (acc, row) => {
          if (!row.isNullAt(0)) {
            val xv = row.getSeq[Any](0)
            if (xv.length == dims && !xv.contains(null)) {
              val x = new Array[Double](dims)
              var d = 0
              while (d < dims) { x(d) = xv(d).asInstanceOf[Double]; d += 1 }
              var xx = 0.0
              d = 0
              while (d < dims) { xx += x(d) * x(d); d += 1 }
              var best = 0
              var bestDist = 0.0
              var j = 0
              while (j < k) {
                val cv = cVecs(j)
                var dp = 0.0
                d = 0
                while (d < dims) { dp += x(d) * cv(d); d += 1 }
                val dist = (xx - (2.0 * dp)) + cc(j)
                if (j == 0 || cmpDouble(dist, bestDist) < 0) {
                  best = j; bestDist = dist
                }
                j += 1
              }
              val base = best * dims
              d = 0
              while (d < dims) {
                val t = x(d)
                // Spark double→decimal(28,12) cast: null (skip) when
                // non-finite or past precision; the row still counts
                if (java.lang.Double.isFinite(t) && math.abs(t) < 1e16) {
                  acc._1(base + d) = acc._1(base + d).add(
                    java.math.BigDecimal.valueOf(t)
                      .setScale(12, java.math.RoundingMode.HALF_UP))
                }
                d += 1
              }
              acc._2(best) += 1L
            }
          }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < k * dims) { a._1(i) = a._1(i).add(b._1(i)); i += 1 }
          i = 0
          while (i < k) { a._2(i) += b._2(i); i += 1 }
          a
        })
      cens = (0 until k).collect {
        case j if cnts(j) > 0 =>
          cIds(j) -> Array.tabulate(dims)(d =>
            sums(j * dims + d).doubleValue() / cnts(j))
      }
      round += 1
    }
    cens
  }

  /** The `nprobe` nearest trained centroids per query — the IVF probe
    * step over a trained index: (idCol, cell, probe_rank). Same pinned
    * distance text as [[assignCells]] (here cc is the kernel fold over
    * the centroid ARRAY column — identical doubles to the driver
    * literal). The top-k runs over queries × k rows (the query set is
    * broadcast-small by IVF contract). */
  def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                 cens: Seq[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = cens.sortBy(_._1).map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("__cen_id", "__cen_vec")
    val dist = (Cosine.dot(col(vecCol), col(vecCol)) -
      (lit(2.0) * Cosine.dot(col(vecCol), col("__cen_vec")))) +
      Cosine.dot(col("__cen_vec"), col("__cen_vec"))
    graft.plans.BoundedTopK.perGroup(
        queries.crossJoin(broadcast(centDf))
          .select(col(idCol), col("__cen_id"), dist.as("__dist")),
        Seq(idCol), Seq(col("__dist").asc, col("__cen_id").asc), nprobe)
      .select(col(idCol), col("__cen_id").as("cell"), col("rank").as("probe_rank"))
  }

  /** Collect a deterministic seed (e.g. the first k corpus vectors) to
    * the driver as (id, double-widened vector). */
  def collectSeed(df: DataFrame, idCol: String, vecCol: String): Seq[(Long, Array[Double])] =
    df.select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toSeq.sortBy(_._1)

  /** The [[assignCells]] distance, as DuckDB text over corpus alias `c`
    * (joined to per-vector norms CTE `xx`) and a centroid relation. */
  def distSql(cenRel: String): String =
    s"((xx.xx - (2.0 * list_inner_product(c.cvec, $cenRel.cen_vec))) + " +
      s"list_inner_product($cenRel.cen_vec, $cenRel.cen_vec))"

  /** GENERATED unrolled training CTE chain (no WITH keyword): requires
    * a preceding corpus CTE `C (vec_id, cvec DOUBLE[])`, defines
    * `xx`/`x`/`cen0..cen$rounds` — reusable by any consumer of the
    * trained centroids (the q149 report, the q150 IVF search). */
  def trainCtes(seedPredSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""xx AS MATERIALIZED (SELECT vec_id, list_inner_product(cvec, cvec) AS xx FROM C
        WHERE list_inner_product(cvec, cvec) IS NOT NULL),
      x AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(cvec))) AS d, unnest(cvec) AS xv FROM C),
      cen0 AS MATERIALIZED (SELECT vec_id AS cen_id, cvec AS cen_vec FROM C WHERE $seedPredSql)"""
    for (r <- 0 until rounds) {
      sb ++= s""",
      a$r AS MATERIALIZED (SELECT vec_id, cell FROM (
          SELECT c.vec_id, cen.cen_id AS cell,
            row_number() OVER (PARTITION BY c.vec_id ORDER BY ${distSql("cen")} ASC, cen.cen_id ASC) AS rn
          FROM C c JOIN xx USING (vec_id) CROSS JOIN cen$r cen) t WHERE rn = 1),
      m$r AS MATERIALIZED (SELECT cell, d,
            CAST(sum(CAST(xv AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS w
          FROM a$r JOIN x USING (vec_id) GROUP BY cell, d),
      cen${r + 1} AS MATERIALIZED (SELECT cell AS cen_id, list(w ORDER BY d) AS cen_vec
          FROM m$r GROUP BY cell)"""
    }
    sb.toString
  }

  /** GENERATED unrolled DuckDB mirror: `rounds` assign→mean rounds from
    * the same seed over corpus CTE `C (vec_id, cvec DOUBLE[])`, then the
    * final-assignment report (cell, n_members, m0, m1, sse). The dist
    * expression text matches [[assignCells]] token-for-token modulo
    * engine function names, and every cross-row sum is the same decimal
    * quantize-then-sum. */
  def oracleSql(partsCte: String, seedPredSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $partsCte,
      ${trainCtes(seedPredSql, rounds)}"""
    sb ++= s""",
      af AS MATERIALIZED (SELECT vec_id, cell, dist FROM (
          SELECT c.vec_id, cen.cen_id AS cell, ${distSql("cen")} AS dist,
            row_number() OVER (PARTITION BY c.vec_id ORDER BY ${distSql("cen")} ASC, cen.cen_id ASC) AS rn
          FROM C c JOIN xx USING (vec_id) CROSS JOIN cen$rounds cen) t WHERE rn = 1)
      SELECT af.cell, count(*) AS n_members,
        round(max(m.m0), 4) + 0 AS m0, round(max(m.m1), 4) + 0 AS m1,
        round(CAST(sum(CAST(af.dist AS DECIMAL(28,12))) AS DOUBLE), 4) + 0 AS sse
      FROM af JOIN (SELECT cen_id, cen_vec[1] AS m0, cen_vec[2] AS m1 FROM cen$rounds) m
        ON m.cen_id = af.cell
      GROUP BY 1 ORDER BY 1"""
    sb.toString
  }
}
