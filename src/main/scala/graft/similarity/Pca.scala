package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed power-iteration PCA over an embedding column — the
  * "all-but-the-top" debiasing pass (Mu & Viswanath 2018): embedding
  * corpora concentrate mass in a few dominant directions; removing the
  * top component(s) before cosine search measurably improves retrieval
  * and semantic dedup. This is the linear-algebra-at-scale member of the
  * similarity family: SemDeDup/IVF consume its output.
  *
  * Shape (round-7 redesign): the corpus stays in ARRAY form — one
  * (id, centered double[]) row per vector. Each power-iteration round is
  *   s_i = xc_i · v      (a per-ROW codegen'd dot against the LITERAL
  *                        round vector — no join, no exchange, no
  *                        corpus-sized s table anywhere)
  *   u_d = Σ_i xc_{i,d}·s_i  (posexplode carrying s, then ONE hash agg
  *                            by dim — map-side combined, so the only
  *                            exchange per round is dims × partitions
  *                            partial rows)
  * and the driver holds only the d-vector between rounds. The previous
  * exploded-corpus form needed a corpus-sized groupBy(id) for s plus an
  * id-join to pair it back each round — at warehouse scale that is a
  * corpus-sized exchange (or worse, a corpus-sized broadcast) × rounds;
  * this form has ZERO corpus-sized exchanges after the one-time
  * centering.
  *
  * Determinism (and the DuckDB oracle): s is a sequential-fold dot
  * ([[graft.expressions.DotProduct]] ≡ DuckDB `list_inner_product` over
  * the d-ordered list) — within-row, so partitioning cannot reorder it;
  * every cross-ROW sum (per-dim means, u, the norm) is a DECIMAL(28,12)
  * quantize-then-sum — exact, associative. Each round's v is therefore
  * bit-identical under any partitioning and in any engine; the oracle
  * UNROLLS the fixed iteration count into generated CTEs ([[oracleSql]])
  * and matches hash-for-hash.
  */
object Pca {

  private val DecTerm = "decimal(28,12)"

  /** Decimal-exact per-dimension means, collected to the driver
    * (d doubles — the [[KMeans]]/d-vector precedent). */
  def dimMeans(df: DataFrame, idCol: String, vecCol: String): Array[Double] = {
    val x = df.select(posexplode(col(vecCol)).as(Seq("d", "xvf")))
      .select(col("d"), col("xvf").cast("double").as("xv"))
    x.groupBy("d")
      .agg((sum(col("xv").cast(DecTerm)).cast("double") / count(lit(1))).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)
  }

  /** Mean-centered corpus in array form: (idCol, xv double[]). The
    * zip_with against the literal mean array runs once (callers
    * checkpoint before iterating); element order is preserved, so
    * downstream sequential-fold dots see the d-ordered sequence. */
  def centered(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mu = dimMeans(df, idCol, vecCol)
    df.select(col(idCol),
      zip_with(transform(col(vecCol), x => x.cast("double")),
        array(mu.map(lit): _*), (x, m) => x - m).as("xv"))
  }

  /** Dominant principal component by `iters` fixed power-iteration
    * rounds from the uniform start 1/√dims. Sign-canonicalized: the
    * largest-|component| entry is non-negative (ties to the lowest
    * dim). One job per round; no corpus-sized exchange in any of them.
    *
    * Round form (r15 optimization): each round is a `treeAggregate` over
    * the checkpointed corpus instead of a per-round DataFrame
    * (dot → posexplode → decimal hash agg). The DataFrame form paid
    * ~0.3 s/round of Catalyst analysis+planning+codegen on a BRAND-NEW
    * plan per round (the round vector is a literal, so no plan is ever
    * reused), vs 0.04 s to re-execute an already-planned identical query
    * — measured at sf0.1 (OPTIMIZATION_r15.md). The aggregate ships only the
    * d-vector of partial sums per partition (depth-2 tree), strictly
    * less traffic than the old dims×partitions shuffle, and the RDD is
    * built from `xca` ONCE so the row-decode plan is compiled once.
    *
    * Bit-exactness vs the old form (and the DuckDB oracle): per term the
    * engine computed `cast(x*s as decimal(28,12))` summed per dim, where
    * s is the sequential-fold [[Cosine.dot]] against the round vector.
    * This replays exactly that: s is the same left-to-right double fold;
    * a row contributes iff dot would be non-null (length == dims, no
    * null element — null s poisons every term of the row in the old
    * form); each term is `BigDecimal.valueOf(x*s)` (Spark's non-ANSI
    * double→decimal cast: Double.toString-based valueOf, then
    * setScale(12, HALF_UP); non-finite or >28-digit values cast to null,
    * i.e. the term is skipped). Decimal addition is exact and
    * associative, so partition order cannot move the sum. */
  def principalComponent(xca: DataFrame, dims: Int, iters: Int): Array[Double] = {
    val rows = xca.select(col("xv")).rdd
    def round(v: Array[Double]): Array[java.math.BigDecimal] = {
      val zero = Array.fill(dims)(java.math.BigDecimal.ZERO)
      rows.treeAggregate(zero)(
        (acc, row) => {
          if (!row.isNullAt(0)) {
            val xv = row.getSeq[Any](0)
            if (xv.length == dims && !xv.contains(null)) {
              // s: same sequential fold as the codegen dot kernel
              var s = 0.0
              var d = 0
              while (d < dims) {
                s += xv(d).asInstanceOf[Double] * v(d); d += 1
              }
              d = 0
              while (d < dims) {
                val t = xv(d).asInstanceOf[Double] * s
                // Spark double→decimal(28,12) cast: null (skip) when
                // non-finite or the quantized value exceeds precision
                if (java.lang.Double.isFinite(t) && math.abs(t) < 1e16) {
                  acc(d) = acc(d).add(java.math.BigDecimal.valueOf(t)
                    .setScale(12, java.math.RoundingMode.HALF_UP))
                }
                d += 1
              }
            }
          }
          acc
        },
        (a, b) => {
          var d = 0
          while (d < dims) { a(d) = a(d).add(b(d)); d += 1 }
          a
        })
    }
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    for (_ <- 0 until iters) {
      val uArr = round(v).map(_.doubleValue())
      // norm² as the same decimal sum the oracle uses (HALF_UP per term)
      val n2 = uArr.map(x => new java.math.BigDecimal(x * x)
          .setScale(12, java.math.RoundingMode.HALF_UP))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val norm = math.sqrt(n2.doubleValue())
      if (norm > 0) v = uArr.map(_ / norm)
    }
    val lead = v.indices.maxBy(d => (math.abs(v(d)), -d))
    if (v(lead) < 0) v.map(-_) else v
  }

  /** Per-vector projection onto `v`: (idCol, proj) — a pure codegen
    * projection (the same within-row fold as each round's s). The debias
    * residual is x − proj·v; proj itself is the curation signal (extreme
    * |proj| = boilerplate direction). */
  def project(xca: DataFrame, idCol: String, v: Array[Double]): DataFrame =
    xca.select(col(idCol), Cosine.dot(col("xv"), array(v.map(lit): _*)).as("proj"))

  /** The unrolled-iteration DuckDB mirror of
    * centered → principalComponent(iters) → project, emitting
    * (vec_id, proj rounded 4) over the embeddings table. Generated, not
    * hand-written: one CTE triple per round. */
  def oracleSql(dims: Int, iters: Int): String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
    // iteration chain references xc/xca/v_i multiple times — un-hinted,
    // the expansion re-evaluates xc ~3^iters times (measured: 3 rounds
    // 0.67 s, 8 rounds minutes; materialized, 8 rounds 0.12 s).
    // The final `+ 0` normalizes IEEE negative zero: a projection in
    // (-5e-5, 0) rounds to -0.0 in DuckDB (sign-preserving) but 0.0 in
    // Spark (BigDecimal), and the hash compare is on strings.
    val sb = new StringBuilder
    sb ++= s"""WITH allv AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
      x AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(v))) AS d, unnest(v) AS xv FROM allv),
      mu AS MATERIALIZED (SELECT d, CAST(sum(CAST(xv AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
             FROM x GROUP BY d),
      xc AS MATERIALIZED (SELECT vec_id, x.d, xv - m AS xc FROM x JOIN mu USING (d)),
      xca AS MATERIALIZED (SELECT vec_id, list(xc ORDER BY d) AS xv FROM xc GROUP BY vec_id),
      v0 AS MATERIALIZED (SELECT unnest(range(0, $dims)) AS d, 1.0 / sqrt($dims) AS w)"""
    for (i <- 0 until iters) {
      sb ++= s""",
      vl$i AS MATERIALIZED (SELECT list(w ORDER BY d) AS vl FROM v$i),
      s$i AS MATERIALIZED (SELECT vec_id, list_inner_product(xv, vl) AS s FROM xca CROSS JOIN vl$i),
      u$i AS MATERIALIZED (SELECT d, CAST(sum(CAST(xc * s AS DECIMAL(28,12))) AS DOUBLE) AS u
              FROM xc JOIN s$i USING (vec_id) GROUP BY d),
      n$i AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE)) AS nn FROM u$i),
      v${i + 1} AS MATERIALIZED (SELECT d, u / nn AS w FROM u$i, n$i)"""
    }
    sb ++= s""",
      flip AS MATERIALIZED (SELECT CASE WHEN (SELECT w FROM v$iters ORDER BY abs(w) DESC, d ASC LIMIT 1) < 0
                           THEN -1.0 ELSE 1.0 END AS f),
      vlf AS MATERIALIZED (SELECT list(w * f ORDER BY d) AS vl FROM v$iters, flip)
      SELECT vec_id, round(list_inner_product(xv, vl), 4) + 0 AS proj
      FROM xca CROSS JOIN vlf
      ORDER BY vec_id"""
    sb.toString
  }
}
