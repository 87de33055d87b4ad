package graft.dedup

import graft.ops.{Checkpoints, GraphIds}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over a near-dup pair list — the step that turns
  * pairwise similarity output (MinHashLSH / SimHash / embedding LSH)
  * into DEDUP CLUSTERS, so a corpus keeps one representative per group
  * of mutual near-duplicates. (The reference dedups exact ids only,
  * `/root/reference/src/base.py:210-218`; clustering is the north-star
  * generalization a training-data pipeline needs.)
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labeled with itself; each round, a vertex adopts the minimum label in
  * its closed neighborhood; converged when no label changes. Rounds are
  * RDD jobs keyed by vertex id (shuffle on vertex id — no driver state,
  * no collect), so each round scales like any other equi-join.
  * Rounds needed = graph diameter, and near-dup components are
  * shallow (duplicates of a common source), so convergence is fast; for
  * adversarially long chains use the large-star/small-star alternation
  * ([[connectedComponentsStar]], Kiveris et al., "Connected Components
  * in MapReduce"), which converges in O(log n) rounds.
  *
  * The driver loop only evaluates a COUNT per round (the changed-label
  * tally); labels stay distributed. Each round is persisted and the
  * previous one released, and the result is one checkpoint
  * (`Checkpoints` states the policy).
  *
  * Ids (both entry points): integral ids are cast to long once, inside
  * the edge checkpoint, and the output is cast back to the endpoints'
  * type. An edge with a null endpoint links nothing; its non-null
  * endpoint is still a vertex, and a null endpoint is one vertex whose
  * component is null — it matches no edge, as in an equi-join.
  */
object Clusters {

  /** (vertex, component) for every vertex in `edges` (both endpoint
    * columns); component = min vertex id reachable.
    *
    * Every propagation round's per-vertex work is a LONG MIN — nothing
    * for Catalyst to codegen that an RDD `reduceByKey(min)` doesn't
    * already do, while a relational round paid a fresh
    * analyze/optimize/codegen pass (measured 0.92 s for a 256-edge graph
    * at sf0.1: ~100% planning, OPTIMIZATION_r16.md). So the rounds are
    * RDD jobs over one hash partitioner — edges partitioned by dst once,
    * labels co-partitioned by vertex, so each round is ONE reduceByKey
    * shuffle plus narrow joins: min label over the closed neighborhood,
    * `changed` = vertices whose neighbor-min undercut their label,
    * converged when none did. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val ends = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val t = GraphIds.idType(ends, "src")
    // Materialize the edge list ONCE: `edges` is typically the lazy plan
    // of a whole near-dup pipeline (shingle → MinHash → band join →
    // verify); without this, every propagation round re-executes it.
    // Edges are pair-sized (≪ corpus), so the checkpoint is cheap. A
    // null-endpoint edge leaves a vertex-only row (src, null), and every
    // null src collapses into one (null, null) row.
    val und = Checkpoints.materialize(ends.select(col("src").cast(LongType).as("src"),
        when(col("src").isNotNull, col("dst").cast(LongType)).as("dst"))
      .distinct())
    val out = ccRoundsRdd(und, maxIter)
    // the returned plan reads only the label checkpoint; the edge table
    // was a loop-only input
    Checkpoints.release(und)
    GraphIds.narrow(out, t, "v", "component")
  }

  /** The label-propagation rounds over the normalized edge checkpoint
    * `und` (src, dst): long ids, (src, null) for a vertex-only row. */
  private def ccRoundsRdd(und: DataFrame, maxIter: Int): DataFrame = {
    val rows = und.rdd
    // data-adaptive width: the checkpointed edge table's partition count
    // (AQE-coalesced small locally, wide at scale) — never a constant
    val p = new HashPartitioner(math.max(1, rows.getNumPartitions))
    // edges keyed by dst ONCE (the side each round joins labels on)
    val byDst = Checkpoints.persistRound(rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(1), r.getLong(0))).partitionBy(p))
    var labels: RDD[(Long, Long)] = Checkpoints.persistRound(rows.filter(!_.isNullAt(0))
      .map(_.getLong(0)).distinct(p.numPartitions)
      .map(v => (v, v)).partitionBy(p))
    // the PERSISTED handle backing `labels` (mapValues below wraps it in
    // a new RDD — unpersisting the wrapper would leak the blocks)
    var owner: RDD[_] = labels
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // both sides share `p`, so the join is narrow; the reduceByKey is
      // the round's ONE shuffle (min per neighbor-of-dst's src)
      val nmin = byDst.join(labels)
        .map { case (_, (src, lab)) => (src, lab) }
        .reduceByKey(p, math.min(_: Long, _: Long))
      val next = Checkpoints.persistRound(labels.leftOuterJoin(nmin).mapValues {
        case (l, o) =>
          val m = o.fold(l)(math.min(l, _))
          (m, o.exists(_ < l))
      })
      changed = next.filter(_._2._2).count()
      owner.unpersist(blocking = false)
      owner = next
      labels = next.mapValues(_._1)
      iter += 1
    }
    val nullable = und.schema("src").nullable
    val schema = StructType(Seq(StructField("v", LongType, nullable),
      StructField("component", LongType, nullable)))
    val outRdd = labels.map { case (v, l) => Row(v, l) }
      .union(rows.filter(_.isNullAt(0)).map(_ => Row(null, null)))
    val out = Checkpoints.materialize(und.sparkSession.createDataFrame(outRdd, schema))
    owner.unpersist(blocking = false)
    byDst.unpersist(blocking = false)
    out
  }

  /** Cluster assignment for near-dup pairs + representative flag:
    * (id, cluster, is_representative). */
  def assign(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("v").as("id"), col("component").as("cluster"),
        (col("v") === col("component")).as("is_representative"))

  // ---- large-star / small-star alternation ------------------------------

  /** Connected components by the large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the adversarial-graph escape hatch for [[connectedComponents]]:
    * label propagation needs DIAMETER rounds, this converges in
    * O(log² n) (O(log n) in practice), so a 10⁶-vertex chain costs ~20
    * rounds instead of 10⁶. Near-dup graphs are shallow, so propagation
    * usually wins on constant factors; prefer this variant when
    * components may be long chains (linked citations, threaded
    * conversations).
    *
    * One round, over the loop-free distinct edge set:
    *   - large-star: for each vertex u, link every LARGER neighbor to the
    *     min of u's closed neighborhood;
    *   - small-star: direct every edge large→small, then link each
    *     vertex's smaller neighbors (and itself) to the neighborhood min.
    * Both are connectivity-preserving long min/compare work, so the
    * rounds run as RDD jobs (the [[connectedComponents]] argument).
    * Convergence = edge-set fixed point, detected by an
    * order-independent signature (count + Σ xxhash64(u, v), the same
    * XXH64 kernel Spark's `xxhash64` evaluates) — one tiny aggregate per
    * round, no driver-side edge list. The fixed point is a forest of
    * stars rooted at each component's min. Same output contract as
    * [[connectedComponents]]: (v, component = min reachable vertex),
    * every endpoint of `edges` present. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 25): DataFrame = {
    val raw = edges.select(col(aCol).cast(LongType).as("u"),
      col(bCol).cast(LongType).as("v"))
    val ends = edges.select(col(aCol).as("v")).union(edges.select(col(bCol).as("v")))
    val t = GraphIds.idType(ends, "v")
    // all vertices up front (before the self-loop filter: a vertex seen
    // only in a self-loop still owes an output row)
    val verts = Checkpoints.materialize(
      raw.select(col("u").as("v")).union(raw.select("v")).distinct())
    // u =!= v also drops every null-endpoint edge (null <> x is null)
    val e0 = Checkpoints.materialize(raw.filter(col("u") =!= col("v")).distinct())
    val fixed = starFixedPointRdd(e0, maxIter)
    Checkpoints.release(e0)
    // children point at the root; roots label themselves, and a null
    // vertex matches no edge
    GraphIds.narrow(
      verts.join(fixed.select(col("u").as("v"), col("v").as("__root")), Seq("v"), "left")
        .select(col("v"), coalesce(col("__root"), col("v")).as("component")),
      t, "v", "component")
  }

  /** The star rounds over the checkpointed loop-free edge set `e0`, to
    * the edge-set fixed point (or `maxIter` rounds). */
  private def starFixedPointRdd(e0: DataFrame, maxIter: Int): DataFrame = {
    val spark = e0.sparkSession
    var e: RDD[(Long, Long)] =
      Checkpoints.persistRound(e0.rdd.map(r => (r.getLong(0), r.getLong(1))))
    val np = math.max(1, e.getNumPartitions)
    val p = new HashPartitioner(np)
    def signature(d: RDD[(Long, Long)]): (Long, BigInt) =
      d.map { case (u, v) => (1L, BigInt(XXH64.hashLong(v, XXH64.hashLong(u, 42L)))) }
        .aggregate((0L, BigInt(0)))(
          (a, b) => (a._1 + b._1, a._2 + b._2),
          (a, b) => (a._1 + b._1, a._2 + b._2))
    def largeStar(d: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val sym = d.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      val mins = sym.reduceByKey(p, math.min(_: Long, _: Long))
      // no trailing distinct (one shuffle per round saved): smallStar's
      // `dir ... distinct` dedups this output anyway, so every post-round
      // edge set (and so the signature and the fixed point) is the same;
      // only the multiset between the two star ops carries duplicates,
      // bounded by 2|E| rows and collapsed by the distinct's map-side
      // combine.
      sym.partitionBy(p).join(mins).flatMap { case (u, (v, minv)) =>
        val m = math.min(u, minv)
        if (v > u && v != m) Iterator((v, m)) else Iterator.empty
      }
    }
    def smallStar(d: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val dir = d.map { case (u, v) => (math.max(u, v), math.min(u, v)) }
        .filter { case (u, v) => u != v }.distinct(np)
      val mins = dir.reduceByKey(p, math.min(_: Long, _: Long))
      // (v, m) always, plus (u, m) on the one row whose v IS the min;
      // self links dropped
      dir.partitionBy(p).join(mins).flatMap { case (u, (v, m)) =>
        if (v == m) { if (u != m) Iterator((u, m)) else Iterator.empty }
        else Iterator((v, m))
      }.distinct(np)
    }
    var sig = signature(e)
    var iter = 0
    var converged = sig._1 == 0L
    while (!converged && iter < maxIter) {
      val prev = e
      e = Checkpoints.persistRound(smallStar(largeStar(e)))
      val next = signature(e) // materializes the round
      prev.unpersist(blocking = false)
      converged = next == sig
      sig = next
      iter += 1
    }
    val schema = StructType(Seq(StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    val out = Checkpoints.materialize(
      spark.createDataFrame(e.map { case (u, v) => Row(u, v) }, schema))
    e.unpersist(blocking = false)
    out
  }

  /** Best-member representative per cluster: production dedup keeps the
    * BEST copy of each duplicate group (longest, cleanest, highest
    * quality score), not the lowest id `assign` flags. One
    * `min(struct(-priority, id))` aggregation per cluster (argmax on
    * priority, ties to the lowest id — deterministic); Spark plans it as
    * a SortAggregate, since a struct buffer is not mutable in place.
    *
    * @param memberClusters (idCol, clusterCol) rows, one per member,
    *                       with whatever priority feeds `priority`
    * @return (clusterCol, n_members, keeper, keeper_priority)
    */
  def representativesBy(memberClusters: DataFrame, idCol: String,
                        clusterCol: String,
                        priority: org.apache.spark.sql.Column): DataFrame =
    memberClusters
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-priority).as("np"), col(idCol).as("id"))).as("__m"))
      .select(col(clusterCol), col("n_members"),
        col("__m.id").as("keeper"), (-col("__m.np")).as("keeper_priority"))
}
