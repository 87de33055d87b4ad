package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{KCore, PageRank, Triangles}
import graft.similarity.{Cosine, IvfFlat, KMeans, Pca, ProductQuantizer, RandomHyperplaneLSH, ScalarQuantizer, SemanticDedup}

/** Similarity-search operator coverage over `embeddings` (north-star ANN
  * operators; reference analog N8/N9 `tencent_api.py:111-136`).
  *
  * q21 is the exact baseline: brute-force cosine top-k with the query set
  * broadcast (corpus is never shuffled; per-group top-k is
  * `plans/BoundedTopK`, so no low-cardinality window over raw rows). Its oracle
  * is ground truth.
  *
  * q22 is the scale path: random-hyperplane LSH bucketing. Its oracle
  * replicates the *identical deterministic algorithm* (md5-derived
  * hyperplanes) in DuckDB — implementation parity, since exact-recall of an
  * ANN cannot be guaranteed on unstructured data. Empirical recall vs the
  * exact baseline is asserted separately in SimilaritySpec.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  val Dims = 64
  val K = 5
  val NumTables = 8
  val Bits = 6
  // Near-dup detection runs at a different LSH operating point than
  // top-1 search: more bits per table so random pairs rarely collide
  // (0.61^10 ≈ 0.7% per table vs 5% at 6 bits) while true near-dups
  // (cos ≥ 0.95 → p_bit ≈ 0.9) still collide in some table w.p. ≈ 0.97.
  val NearDupBits = 10

  /** Corpus-adaptive sign-LSH width — the PRIMARY remedy the
    * selfCandidates hot-bucket cap backstops: at a fixed width the
    * signature space saturates and bucket pair mass grows quadratically,
    * so bits grow with the corpus, bits = max(10, ⌈log2(n/20)⌉), keeping
    * expected occupancy ≈ 20 per (table, signature). Integer-exact
    * cross-engine: ⌈log2 m⌉ = bit-length(m−1) (DuckDB: length(bin(m−1));
    * JVM: 64 − numberOfLeadingZeros), never floating log2, whose last-ulp
    * rounding could flip a ceil at powers of two. Capped at 16 (the
    * oracle's plane-generation ceiling). At the three oracle SFs
    * (n ≤ 2000) the rule yields exactly 10, so gate results are
    * byte-identical to the fixed-width era. */
  private def adaptiveNearDupBits(corpus: DataFrame): Int = {
    val m = corpus.count() / 20
    val b = if (m <= 1L) 1
            else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(16, math.max(NearDupBits, b))
  }

  /** The oracle-side twin of [[adaptiveNearDupBits]] over CTE `from`. */
  private def bitsCte(from: String): String =
    s"""(SELECT least(16, greatest($NearDupBits,
       |   CASE WHEN m <= 1 THEN 1 ELSE length(bin(m - 1)) END))
       | FROM (SELECT count(*) // 20 AS m FROM $from))""".stripMargin

  /** The n-th lowest id of `df.idCol` — the driver scalar that turns a
    * RANK contract ("the 10 query vectors are the 10 lowest vec_ids")
    * into a pushdown-able range filter. The old literal spellings
    * (`vec_id < 10`, `< 26`) encoded the driver corpus's dense-from-0
    * ids; the corpus-B probe (XOR-remapped ids) made every one of them
    * empty — loud require failures in the k-means family, silently
    * VACUOUS greens in the top-k family. One TakeOrdered job per call
    * (single id column, no shuffle) is the cost of stating the contract
    * on data rather than on an accident. An EMPTY input returns
    * Long.MinValue so `<= tau` filters stay empty — matching the old
    * literals' clean empty-result behavior instead of NPE'ing on the
    * null max. */
  private def nthLowestId(df: DataFrame, idCol: String, n: Int): Long = {
    val r = df.select(col(idCol)).orderBy(col(idCol)).limit(n)
      .agg(max(col(idCol))).head()
    if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
  }

  // The float embedding column feeds the kernels directly: DotProduct /
  // L2Squared widen per element (exact), so no transform(cast) pass —
  // which would run interpreted AND knock the scan projection out of
  // whole-stage codegen — ever touches the corpus.
  private def parts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.vectors(s, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
    val tauQ = nthLowestId(e, "vec_id", 10)
    (e.filter(col("vec_id") <= tauQ), e.filter(col("vec_id") > tauQ))
  }

  /** The 16 k-means/IVF seed centroids = the 16 LOWEST corpus vec_ids
    * (rank contract; ≡ the old `vec_id < 26` on the driver corpus). */
  private def seedOf(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") <= nthLowestId(corpus, "vec_id", 16))

  /** Exact brute-force cosine top-5 for 10 query vectors. Selection and
    * ranks come from the custom top-k operator (`plans/BoundedTopK`) —
    * the few-groups/hot-key shape is exactly where its map-side heaps
    * pay (measured 2× over the salted-window spelling on this workload;
    * identical selection, see BoundedTopKSpec + the q144 parity
    * oracle). */
  val q21CosineTopK: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val scored = corpus.crossJoin(
        broadcast(queries.select(col("vec_id").as("query_id"), col("vec").as("qvec"))))
      .withColumn("sim", Cosine.cosine(col("qvec"), col("vec")))
    graft.plans.BoundedTopK.perGroup(scored, Seq("query_id"),
        Seq(col("sim").desc, col("vec_id").asc), K)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed approximate top-1 per query (deterministic buckets). */
  val q22AnnLsh: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val cands = RandomHyperplaneLSH.candidates(
      queries, corpus, "vec_id", "vec", NumTables, Bits, Dims)
    val scored = cands
      .join(queries.select(col("vec_id").as("query_id"), col("vec").as("qvec")), "query_id")
      .join(corpus.select(col("vec_id").as("cand_id"), col("vec").as("cvec")), "cand_id")
      .withColumn("sim", Cosine.cosine(col("qvec"), col("cvec")))
    // per-query argmax as the BoundedTopK heap (k=1, rank never
    // published): map-side prune instead of two salted window sorts of
    // the scored candidate table; same total order (sim desc, cand asc),
    // q144 pins heap ≡ window parity
    graft.plans.BoundedTopK.perGroup(
        scored.select(col("query_id"), col("cand_id"), col("sim")),
        Seq("query_id"), Seq(col("sim").desc, col("cand_id").asc), 1)
      .select(col("query_id"), col("cand_id").as("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id")
  }

  /** IVF-flat ANN: 16 deterministic centroids (first corpus vectors),
    * nprobe=4; oracle replicates the identical index + probe in DuckDB. */
  val q34AnnIvf: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val centroids = seedOf(corpus)
      .select(col("vec_id").as("cen_id"), col("vec").as("cen_vec"))
    val cells = IvfFlat.assign(corpus, "vec_id", "vec", centroids, "cen_id", "cen_vec")
    val probes = IvfFlat.probes(queries, "vec_id", "vec", centroids, "cen_id", "cen_vec", nprobe = 4)
    val cands = IvfFlat.candidates(probes, cells, "vec_id", "vec_id")
    val scored = cands
      .join(queries.select(col("vec_id").as("query_id"), col("vec").as("qvec")), "query_id")
      .join(corpus.select(col("vec_id").as("cand_id"), col("vec").as("cvec")), "cand_id")
      .withColumn("sim", Cosine.cosine(col("qvec"), col("cvec")))
    // same heap form as q22 (k=1, rank never published)
    graft.plans.BoundedTopK.perGroup(
        scored.select(col("query_id"), col("cand_id"), col("sim")),
        Seq("query_id"), Seq(col("sim").desc, col("cand_id").asc), 1)
      .select(col("query_id"), col("cand_id").as("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id")
  }

  /** Embedding-cosine near-dup pairs: LSH bucket SELF-join (a < b) for
    * candidates, exact cosine >= 0.45 on candidates only. Oracle is the
    * identical deterministic algorithm (implementation parity, like q22):
    * on random data LSH recall isn't guaranteeable, so ground truth would
    * be unverifiable — the spec under test is the operator itself.
    *
    * The selfCandidates hot-bucket cap (drop (table, sig) buckets larger
    * than RandomHyperplaneLSH.DefaultMaxBucket = 64) IS modeled by the
    * oracle's `bsz`/`capped` CTEs since round 14: the ×30 oracle run
    * found 96 oversized buckets (max 114) at 60k vectors — the cap was
    * output-invisible at every driver SF (max bucket 14) but a real
    * divergence at scale, exactly the class the ×30 gate exists for.
    * Bucket size is an exact integer, so the mirror is engine-exact. */
  val q37CosineNearDup: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
    val cands = RandomHyperplaneLSH.selfCandidates(all, "vec_id", "vec",
      NumTables, adaptiveNearDupBits(all), Dims, ordered = true)
    cands
      .join(all.select(col("vec_id").as("a"), col("vec").as("va")), "a")
      .join(all.select(col("vec_id").as("b"), col("vec").as("vb")), "b")
      .withColumn("sim", Cosine.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.45)
      .select(col("a").as("vec_a"), col("b").as("vec_b"), round(col("sim"), 6).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Pre-normalized exact top-k: unit-normalize BOTH sides once at the
    * scan (native L2Normalize kernel), then similarity is a bare dot
    * product — q21 recomputes `norm(q)·norm(c)` per candidate pair, an
    * O(pairs × dim) tax; at corpus scale the normalized vectors are what
    * you'd persist. Oracle normalizes identically in DuckDB. Selection
    * and ranking is the second composite consumer of
    * `plans/BoundedTopK` (same few-groups regime as q21). */
  val q43NormalizedTopK: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val qn = queries.select(col("vec_id").as("query_id"),
      Cosine.normalize(col("vec")).as("qvec"))
    val cn = corpus.select(col("vec_id"), Cosine.normalize(col("vec")).as("cvec"))
    val scored = cn.crossJoin(broadcast(qn))
      .withColumn("sim", Cosine.dot(col("qvec"), col("cvec")))
    graft.plans.BoundedTopK.perGroup(scored, Seq("query_id"),
        Seq(col("sim").desc, col("vec_id").asc), K)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF index maintenance: one k-means centroid-recompute step over the
    * assigned cells (assign → recompute is the loop a production IVF
    * runs until stable; q34 searches the index this maintains). Output
    * is per-cell membership + the first two centroid components. */
  val q49KmeansStep: Q = (s, dir) => {
    val (_, corpus) = parts(s, dir)
    val centroids = seedOf(corpus)
      .select(col("vec_id").as("cen_id"), col("vec").as("cen_vec"))
    val cells = IvfFlat.assign(corpus, "vec_id", "vec", centroids, "cen_id", "cen_vec")
    IvfFlat.recomputeCentroids(cells, corpus, "vec_id", "vec")
      .select(col("cell"), col("n_members"),
        round(element_at(col("cen_vec"), 1), 4).as("m0"),
        round(element_at(col("cen_vec"), 2), 4).as("m1"))
      .orderBy("cell")
  }

  /** Trained k-means centroids, STAGED train-once-PER-RUN (the knnEdges
    * pattern): q149/q150/q154 all consume the same 3-round Lloyd fit,
    * and per-query retraining is the anti-pattern a warehouse pays for
    * at scale — a production pipeline trains the index once and stages
    * it. The FIRST consumer in each application run trains and writes
    * the (tiny) centroid table; the run's later consumers read it. The
    * key is run-scoped ([[KeyedWorkDir.runScoped]], round-15 verdict
    * #1): computed state must never cross runs, so every bench/verify
    * run pays exactly one training. Doubles round-trip parquet exactly,
    * so the collected literals — and every downstream oracle — are
    * byte-identical either way.
    *
    * The staged name is keyed by CORPUS CONTENT (the KeyedWorkDir
    * fingerprint: every embeddings file's name/length/mtime), not by
    * the dir string alone: a corpus regenerated at the same path within
    * one session would otherwise silently reuse STALE centroids (the
    * catalog remembers the dir-derived name), and two sessions pointed
    * at different corpora under one recycled path would collide in the
    * shared warehouse. Layout tag L1 — bump on any change to the seed
    * rule or training rounds below. Concurrent WRITERS on the same
    * (warehouse, corpus) remain single-writer by contract, like every
    * stagedTable/mergeUpsert site: plain parquet has no transaction to
    * serialize the stage-once write, so two simultaneous first
    * consumers race; serialize deployments at the scheduler level. */
  private def trainedCentroids(s: SparkSession, dir: String): Seq[(Long, Array[Double])] = {
    import s.implicits._
    val staged = graft.sinks.Sinks.stagedTable(s,
      KeyedWorkDir.contentKeyedTable(s, "graft_kmeans_cens_", dir, "embeddings",
        KeyedWorkDir.runScoped(s, "L1")),
      key = "cen_id", numBuckets = 1, sortCols = Seq("cen_id")) {
      val (_, corpus) = parts(s, dir)
      val seed = KMeans.collectSeed(seedOf(corpus), "vec_id", "vec")
      KMeans.train(corpus, "vec", seed, rounds = 3)
        .map { case (id, arr) => (id, arr.toSeq) }.toDF("cen_id", "cen_vec")
    }
    staged.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toSeq.sortBy(_._1)
  }

  /** FULL k-means training (`similarity/KMeans`): 3 Lloyd rounds from
    * the q49 seed (corpus vec_ids < 26, k=16), then the final
    * assignment report. Each round's assignment is a statically
    * unrolled `least(struct(dist, id))` projection over driver-held
    * centroid LITERALS — zero corpus shuffle, pure codegen; the only
    * exchange per round is the (cell, dim) decimal-mean (k×d rows).
    * Distances share their exact formula text (sequential-fold dots)
    * with the generated unrolled oracle, so assignment is bit-identical
    * cross-engine — no float tie-luck, and SSE decimal-sums safely. */
  val q149KmeansTrain: Q = (s, dir) => {
    import s.implicits._
    val (_, corpus) = parts(s, dir)
    val cens = trainedCentroids(s, dir)
    val cells = KMeans.assignCells(corpus, "vec_id", "vec", cens)
    val centDf = cens.map { case (id, arr) => (id, arr(0), arr(1)) }
      .toDF("cell", "m0", "m1")
    cells.groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("dist").cast("decimal(28,12)")).cast("double"), 4).as("sse"))
      .join(broadcast(centDf), Seq("cell"))
      .select(col("cell"), col("n_members"),
        round(col("m0"), 4).as("m0"), round(col("m1"), 4).as("m1"), col("sse"))
      .orderBy("cell")
  }

  /** IVF-flat ANN over the TRAINED index — the production composition
    * the IvfFlat scaladoc promises ("in production swap in k-means
    * centroids"): q149's 3-round Lloyd centroids, corpus assigned by the
    * zero-shuffle unrolled argmin, queries probing their 2 nearest
    * trained cells, exact cosine rerank to top-3. Candidate generation
    * is the cell equi-join — corpus × queries never cross. The oracle
    * reuses the GENERATED training CTE chain (`KMeans.trainCtes`) and
    * mirrors probe/assignment with the same pinned distance text, so
    * the candidate sets are bit-identical, not recall-lucky. */
  val q150AnnIvfTrained: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val cens = trainedCentroids(s, dir)
    val cells = KMeans.assignCells(corpus, "vec_id", "vec", cens)
      .select(col("vec_id").as("cand_id"), col("cell"))
    val probes = KMeans.probeCells(
        queries.select(col("vec_id").as("query_id"), col("vec")),
        "query_id", "vec", cens, nprobe = 2)
      .select("query_id", "cell")
    val cands = probes.join(cells, Seq("cell")).select("query_id", "cand_id")
    val scored = cands
      .join(queries.select(col("vec_id").as("query_id"), col("vec").as("qv")), "query_id")
      .join(corpus.select(col("vec_id").as("cand_id"), col("vec").as("cv")), "cand_id")
      .withColumn("sim", Cosine.cosine(col("qv"), col("cv")))
    graft.plans.BoundedTopK.perGroup(
        scored.select(col("query_id"), col("cand_id"), col("sim")),
        Seq("query_id"), Seq(col("sim").desc, col("cand_id").asc), 3)
      .select(col("query_id"), col("rank"), col("cand_id").as("vec_id"),
        round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** Embedding OUTLIER detection on the trained index — the curation
    * pass that drops far-from-every-cluster junk vectors (mislabeled,
    * corrupted, or off-distribution embeddings): assign each vector to
    * its trained k-means cell (q149's centroids, zero-shuffle argmin),
    * then per-cell MAD fences on the assignment distance
    * (`ops/RobustStats`, the q112 machinery — median/MAD have a 50%
    * breakdown point, so the junk can't drag its own baseline).
    * Distances are bit-identical cross-engine (pinned formula text), so
    * the exact-percentile fences agree exactly. */
  val q154EmbeddingOutliers: Q = (s, dir) => {
    val (_, corpus) = parts(s, dir)
    val cens = trainedCentroids(s, dir)
    val cells = KMeans.assignCells(corpus, "vec_id", "vec", cens)
    graft.ops.RobustStats.madOutlierStats(cells, Seq("cell"), col("dist"))
      .orderBy("cell")
  }

  /** EMBEDDING-SPACE DRIFT between two corpus cohorts — "did the new
    * crawl move in embedding space?", the distribution-shift monitor a
    * continuously-ingesting training pipeline runs next to q102's
    * token-level drift (this is its semantic-space twin) and q154/q155's
    * geometry health checks. Cohorts here are the deterministic vec_id
    * parity split (the harness stand-in for old-corpus vs new-batch);
    * per dimension: cohort means, mean shift, and the standardized mean
    * difference smd = Δmean / pooled σ (Cohen's d — scale-free, so one
    * alerting threshold works across dimensions of different variance).
    *
    * Scale shape: one codegen'd posexplode pass, then a single partial
    * (map-side) aggregation to d rows — no window, no join; cross-row
    * sums are DECIMAL(28,12) quantize-then-sum (exact, associative — the
    * Pca/KMeans determinism contract), so means/variances are
    * bit-identical under any partitioning and in any engine; the n·mean²
    * variance form is computed in doubles from those exact sums with an
    * identical formula tree in the oracle. */
  val q159EmbeddingDrift: Q = (s, dir) => {
    val dec = "decimal(28,12)"
    val x = Tables.vectors(s, dir)
      .select(pmod(col("vec_id"), lit(2)).as("cohort"),
        posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("cohort"), col("dim"), col("vf").cast("double").as("v"))
    val g = x.groupBy(col("dim")).agg(
      sum(when(col("cohort") === 0, lit(1L))).as("n_a"),
      sum(when(col("cohort") === 1, lit(1L))).as("n_b"),
      sum(when(col("cohort") === 0, col("v")).cast(dec)).cast("double").as("sa"),
      sum(when(col("cohort") === 1, col("v")).cast(dec)).cast("double").as("sb"),
      sum(when(col("cohort") === 0, col("v") * col("v")).cast(dec))
        .cast("double").as("qa"),
      sum(when(col("cohort") === 1, col("v") * col("v")).cast(dec))
        .cast("double").as("qb"))
    val ma = col("sa") / col("n_a")
    val mb = col("sb") / col("n_b")
    val va = (col("qa") - col("sa") * col("sa") / col("n_a")) / (col("n_a") - 1)
    val vb = (col("qb") - col("sb") * col("sb") / col("n_b")) / (col("n_b") - 1)
    g.select(col("dim"), col("n_a"), col("n_b"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round(mb - ma, 6).as("shift"),
        round((mb - ma) / sqrt((va + vb) / lit(2.0)), 4).as("smd"))
      .orderBy("dim")
  }

  /** Product-quantization ANN (third scale path; see
    * `similarity/ProductQuantizer.scala`): 8 subspaces x 8 dims, 16
    * codewords from the q34 seed set, ADC shortlist of 10, exact cosine
    * rerank to top-1. Oracle replicates the identical deterministic
    * algorithm (implementation parity, as q22/q34) — decimal ADC sums
    * make the shortlist ranking association-free on both engines. */
  val q60AnnPq: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    val seed = seedOf(corpus)
    ProductQuantizer.searchTop1(queries, corpus, seed, "vec_id", "vec",
        numSub = 8, subDim = 8, shortlist = 10)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"))
      .orderBy("query_id")
  }

  /** SemDeDup semantic deduplication: IVF cells confine the O(n²) pair
    * comparison to single clusters (equi-join on cell — the shuffle
    * partitions by cell, no corpus-wide cross join), then every vector
    * with a lower-id within-cell neighbour at cosine ≥ 0.3 is dropped,
    * keep-lowest-id. The index is sized to the corpus — k =
    * max(16, ⌈√n⌉) centroids — so BOTH the centroid assignment (n·k)
    * and the within-cell pair mass (n²/k) scale as n^1.5, the classic
    * IVF balance point; at a FIXED k the pair mass is quadratic (the
    * ×30 rehearsal measured 8.3→36.1 s for ×3 data before this rule).
    * The sizing is integer-exact cross-engine (sqrt of an integral
    * double is correctly rounded everywhere), so the oracle computes
    * the SAME k from count(*) and replicates the identical algorithm
    * (assignment + pairs + keeper min) at any SF. */
  val q65SemanticDedup: Q = (s, dir) => {
    val (_, corpus) = parts(s, dir)
    val k = math.max(16L,
      math.ceil(math.sqrt(corpus.count().toDouble)).toLong)
    val centroids = corpus
      .filter(col("vec_id") <= nthLowestId(corpus, "vec_id", k.toInt))
      .select(col("vec_id").as("cen_id"), col("vec").as("cen_vec"))
    val cells = IvfFlat.assign(corpus, "vec_id", "vec", centroids, "cen_id", "cen_vec")
    SemanticDedup.dropReport(cells, corpus, "vec_id", "vec", tau = 0.3)
      .select(col("vec_id"), col("cell"), col("keeper"), col("n_dups"),
        round(col("max_sim"), 6).as("max_sim"))
      .orderBy("vec_id")
  }

  /** kNN-GRAPH construction: every vector's top-3 cosine neighbors among
    * its LSH bucket-mates (both directions — each vector is a query).
    * The input to graph-based semantic dedup / diversity scoring; same
    * implementation-parity oracle story as q22/q37, then exact rerank +
    * `plans/BoundedTopK`. Vectors whose buckets are all singletons emit
    * no rows (an honest ANN answer, mirrored by the oracle). */
  val q93KnnGraph: Q = (s, dir) =>
    knnEdges(s, dir)
      .select(col("src"), col("rank"), col("dst"), round(col("sim"), 6).as("sim"))
      .orderBy("src", "rank")

  /** Shared kNN edges, STAGED build-once-PER-RUN: q93/q104/q109/q113/
    * q134 all consume this edge list, and per-query rebuild of the
    * LSH → rerank → top-3 construction is exactly the anti-pattern a
    * warehouse pays for at 100 TB, where the edge table is corpus-sized.
    * The first consumer in each application run builds and bucket-writes
    * it on `src` (the downstream join/agg key); the run's later
    * consumers read the staged table. The key is run-scoped
    * ([[KeyedWorkDir.runScoped]], round-15 verdict #1): computed state
    * must never cross runs, so every bench/verify run pays exactly one
    * build. Edges are byte-identical either way (doubles round-trip
    * parquet exactly), so the generated unrolled oracles are
    * untouched. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    // content-keyed like trainedCentroids (same staleness/collision
    // argument — see its scaladoc); layout tag bumps with the edge
    // construction (LSH params, k, rerank rule)
    graft.sinks.Sinks.stagedTable(s,
      KeyedWorkDir.contentKeyedTable(s, "graft_knn_edges_", dir, "embeddings",
        KeyedWorkDir.runScoped(s, "L1")),
      key = "src", numBuckets = 8, sortCols = Seq("src", "rank")) {
      knnTop3(s, dir).select(col("src"), col("rank"), col("dst"), col("sim"))
    }

  /** Shared kNN-graph edge builder (q93 output / q104 input): LSH bucket
    * candidates → exact cosine rerank → ranked top-3 per source.
    * Same cap note as [[q37CosineNearDup]]: the candidate set drops
    * buckets above RandomHyperplaneLSH.DefaultMaxBucket (64), and since
    * round 14 the oracle CTEs model the cap exactly (`bsz`/`capped` in
    * [[knnCtes]]) — the ×30 run proved it binds at 60k vectors. */
  private[graft] def knnTop3(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.vectors(s, dir)
      .select(col("vec_id"), col("embedding").as("vec"))
    // FETCH form, kept after measuring the in-band alternative (the q35
    // in-band-verify lesson does NOT transfer here): scoring inside the
    // bucket self-join cut shuffle 6.9 → 2.1 GiB at ×100 but RAISED wall
    // time 60 → 92 s (and 5.7 → 8.5 s at sf0.1) — a 64-dim vector is
    // ~512 B, so re-fetching it per candidate partner is cheap, while
    // the in-band join materializes two vector payloads per PAIR ROW and
    // drags them through the capBuckets window. In-band wins when the
    // ridden payload is corpus-text-sized (MinHash shingle arrays,
    // 4–16 KB/doc); for short fixed-width vectors fetch is the right
    // physical form at every measured scale.
    val cands = RandomHyperplaneLSH.selfCandidates(all, "vec_id", "vec",
        NumTables, adaptiveNearDupBits(all), Dims, ordered = false)
      .toDF("src", "dst")
    val scored = cands
      .join(all.select(col("vec_id").as("src"), col("vec").as("vs")), "src")
      .join(all.select(col("vec_id").as("dst"), col("vec").as("vd")), "dst")
      .withColumn("sim", Cosine.cosine(col("vs"), col("vd")))
    // BoundedTopK instead of the salted double window: the bucket cap
    // already bounds every src's candidate set (≤ NumTables×cap rows),
    // so the salt pass bought no skew safety here while sorting the
    // whole scored candidate table TWICE (two exchanges). The partial
    // phase prunes to ≤3 rows per src per task map-side, so the
    // exchange and the final's sort carry only survivors. Total order
    // (sim desc, dst asc — dst unique per src), so the top-3 sets and
    // ranks match the window spelling (q144 pins that parity).
    graft.plans.BoundedTopK.perGroup(
      scored.select(col("src"), col("dst"), col("sim")),
      Seq("src"), Seq(col("sim").desc, col("dst").asc), 3)
  }

  /** kNN LABEL AGREEMENT — the standard embedding-health probe (and the
    * eval primitive behind kNN classifiers): predict each vector's
    * label by majority vote of its staged top-3 neighbors (ties → the
    * lowest label, via one lexicographic max(struct) — the argmin
    * pattern, never a window over raw votes), then report per-label
    * agreement. High agreement = the embedding space respects the
    * labeling; a label whose agreement collapses is mislabeled or
    * entangled. Consumes the SAME staged edge table as q93/q104 — no
    * rebuild. Vectors with no bucket-mates emit no vote (mirrored by
    * the oracle). */
  val q155KnnLabelAgreement: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    val edges = knnEdges(s, dir).select("src", "dst")
    val votes = edges
      .join(all.select(col("vec_id").as("dst"), col("label").as("nl")), "dst")
      .groupBy("src", "nl").agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy("src")
      .agg(max(struct(col("cnt"), (-col("nl")).as("negl"))).as("m"))
      .select(col("src"), (-col("m.negl")).as("pred"))
    pred.join(all.select(col("vec_id").as("src"), col("label")), "src")
      .groupBy("label")
      .agg(count(lit(1)).as("n_voted"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agreement",
        round(col("n_agree").cast("double") / col("n_voted"), 6))
      .orderBy("label")
  }

  /** PageRank centrality over the q93 kNN graph (5 damped rounds) —
    * graph-based data selection: high-rank vectors sit in dense semantic
    * neighborhoods (prototypes), low-rank ones are outliers. Oracle is
    * the GENERATED unrolled-round mirror over the same edge CTEs
    * (`ops/PageRank` holds the determinism contract). */
  val q104Pagerank: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    val edges = knnEdges(s, dir).select("src", "dst")
    PageRank.run(all.select("vec_id"), "vec_id", edges, "src", "dst",
        iters = 5)
      .select(col("vec_id"), round(col("pr"), 8).as("pr"))
      .orderBy("vec_id")
  }

  /** Similarity-weighted PageRank over the same kNN edges: rank mass
    * flows proportionally to cosine similarity, so hubs in TIGHT
    * neighborhoods pull ahead of equally-connected loose ones —
    * the soft-density refinement of q104's structural centrality. */
  val q109WeightedPagerank: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    val edges = knnEdges(s, dir).select("src", "dst", "sim")
    PageRank.runWeighted(all.select("vec_id"), "vec_id", edges,
        "src", "dst", "sim", iters = 5)
      .select(col("vec_id"), round(col("pr"), 8).as("pr"))
      .orderBy("vec_id")
  }

  /** Dominant-direction projection (power-iteration PCA, 8 unrolled
    * rounds): the "all-but-the-top" debias signal per vector. Oracle is
    * the GENERATED unrolled-CTE mirror (`Pca.oracleSql`) — decimal sums
    * make every round bit-identical cross-engine. */
  val q94PcaProject: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    // Array-form rounds (round-7 redesign): s is a per-row codegen dot
    // against the literal round vector, so NO corpus-sized exchange or
    // broadcast exists anywhere — each round's only shuffle is the
    // dims-keyed partial agg. The centered corpus is checkpointed once
    // and re-scanned 9× (8 rounds + the projection).
    val xc = Pca.centered(all, "vec_id", "embedding").localCheckpoint(true)
    val v = Pca.principalComponent(xc, Dims, iters = 8)
    Pca.project(xc, "vec_id", v)
      .select(col("vec_id"), round(col("proj"), 4).as("proj"))
      .orderBy("vec_id")
  }

  /** Triangle count + local clustering coefficient over the q93 kNN
    * graph (`ops/Triangles`, degree-oriented wedge joins): coefficient
    * near 1 = the vector sits in a mutually-similar clique (coherent
    * cluster core, safe to subsample); near 0 = a bridge/noise point.
    * The oracle finds the same (orientation-invariant) triangle set via
    * id-ordered joins. */
  val q113Triangles: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    val edges = knnEdges(s, dir).select("src", "dst")
    Triangles.countPerNode(all.select("vec_id"), "vec_id", edges,
        "src", "dst")
      .orderBy("vec_id")
  }

  /** SQ8 scalar-quantized top-10: the 8-bit-per-dimension compression
    * tier between q21's exact floats and q60's PQ codebooks. Corpus
    * bounds fit → asymmetric (query-exact) distance over reconstructed
    * codes → `plans/BoundedTopK`; per-dimension contributions decimal-quantized
    * so the oracle reproduces the score bit-for-bit
    * (`similarity/ScalarQuantizer`). */
  val q127AnnSq8: Q = (s, dir) => {
    val (queries, corpus) = parts(s, dir)
    ScalarQuantizer.topKAsymmetric(corpus,
        queries.select(col("vec_id").as("query_id"), col("vec").as("qvec")),
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** Core-size profile of the kNN graph: nodes and degree mass surviving
    * iterative k-core peeling (`ops/KCore`) at k = 2, 3, 4 — the
    * global-density complement of q113's local clustering coefficient.
    * 8 rounds, provably ≥ the peel depth here (KCoreSpec asserts a no-op
    * extra round); the oracle unrolls the identical rounds per k over
    * the shared q93 edge CTEs. The profile shape replaced the original
    * "emit the 4-core's nodes" answer: this corpus's 4-core peels to
    * EMPTY at every SF (top-3 kNN edges rarely sustain mutual degree-4
    * neighborhoods), so that query was green-but-vacuous — rows 0 == 0.
    * Reporting (k, core_nodes, core_degree_sum) keeps the same cascade
    * under test, records the empty 4-core as an explicit (4, 0, 0) row,
    * and makes the k = 2/3 regimes (partial peeling: singleton-bucket
    * vectors emit < 3 edges) falsifiable too. */
  val q134Kcore: Q = (s, dir) => {
    // The symmetrize step is k-independent: share ONE distinct-shuffle +
    // checkpoint across the three peels instead of rebuilding it per k.
    val sym = KCore.symmetrize(knnEdges(s, dir).select("src", "dst"),
      "src", "dst")
    Seq(2, 3, 4).map { k =>
      KCore.kCoreOfSymmetrized(sym, k = k, rounds = 8)
        .agg(count(lit(1)).as("core_nodes"),
          coalesce(sum("deg"), lit(0L)).as("core_degree_sum"))
        .select(lit(k).as("k"), col("core_nodes"), col("core_degree_sum"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  /** Metadata-FILTERED vector search (the vector-store "hybrid filter"
    * pattern): top-5 cosine per query among corpus vectors sharing the
    * query's label — filter-THEN-search, the constraint joins as a key
    * so each query scores only its label slice (pre-filtering; a
    * search-then-filter plan would over-fetch k and still miss). Same
    * exact-cosine + `plans/BoundedTopK` machinery as q21. */
  val q135FilteredAnn: Q = (s, dir) => {
    val e = Tables.vectors(s, dir)
    val tauQ = nthLowestId(e, "vec_id", 10) // rank contract, see parts()
    val corpus = e.filter(col("vec_id") > tauQ)
      .select(col("vec_id"), col("embedding").as("vec"), col("label"))
    val queries = e.filter(col("vec_id") <= tauQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val scored = corpus.join(broadcast(queries), "label")
      .withColumn("sim", Cosine.cosine(col("qvec"), col("vec")))
    graft.plans.BoundedTopK.perGroup(
        scored.select(col("query_id"), col("vec_id"), col("label"), col("sim")),
        Seq("query_id"), Seq(col("sim").desc, col("vec_id").asc), 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"),
        round(col("sim"), 6).as("sim"))
      .orderBy("query_id", "rank")
  }

  /** HARD-NEGATIVE MINING — for each anchor, the most similar staged
    * kNN neighbor with a DIFFERENT label: the contrastive-training
    * negative every embedding-model pipeline mines (in-batch negatives
    * are easy; the ones that move the loss live just across the label
    * boundary). Consumes the SAME staged edge table as
    * q93/q104/q109/q113/q134/q155 — no rebuild; anchors whose top-3
    * neighbors all share their label emit no row (an honest answer,
    * mirrored by the oracle). Argmax by one lexicographic max(struct)
    * with (sim DESC, dst ASC) tie order — never a window over the
    * corpus-sized edge join. */
  val q165HardNegatives: Q = (s, dir) => {
    val all = Tables.vectors(s, dir)
    val lbl = all.select(col("vec_id"), col("label"))
    val hn = knnEdges(s, dir).select("src", "dst", "sim")
      .join(lbl.select(col("vec_id").as("src"), col("label").as("anchor_label")), "src")
      .join(lbl.select(col("vec_id").as("dst"), col("label").as("neg_label")), "dst")
      .filter(col("anchor_label") =!= col("neg_label"))
    hn.groupBy("src", "anchor_label")
      .agg(max(struct(col("sim"), (-col("dst")).as("negd"),
        col("dst"), col("neg_label"))).as("m"))
      .select(col("src"), col("anchor_label"),
        col("m.dst").as("hard_negative"), col("m.neg_label").as("neg_label"),
        round(col("m.sim"), 6).as("sim"))
      .orderBy("src")
  }

  val defs: Map[String, Q] = Map(
    "q165_hard_negatives" -> q165HardNegatives,
    "q135_filtered_ann" -> q135FilteredAnn,
    "q134_kcore" -> q134Kcore,
    "q127_ann_sq8" -> q127AnnSq8,
    "q113_triangles" -> q113Triangles,
    "q109_weighted_pagerank" -> q109WeightedPagerank,
    "q104_pagerank" -> q104Pagerank,
    "q94_pca_project" -> q94PcaProject,
    "q93_knn_graph" -> q93KnnGraph,
    "q65_semantic_dedup" -> q65SemanticDedup,
    "q60_ann_pq" -> q60AnnPq,
    "q49_kmeans_step" -> q49KmeansStep,
    "q149_kmeans_train" -> q149KmeansTrain,
    "q150_ann_ivf_trained" -> q150AnnIvfTrained,
    "q154_embedding_outliers" -> q154EmbeddingOutliers,
    "q159_embedding_drift" -> q159EmbeddingDrift,
    "q155_knn_label_agreement" -> q155KnnLabelAgreement,
    "q21_cosine_topk" -> q21CosineTopK,
    "q22_ann_lsh" -> q22AnnLsh,
    "q34_ann_ivf" -> q34AnnIvf,
    "q37_cosine_neardup" -> q37CosineNearDup,
    "q43_normalized_topk" -> q43NormalizedTopK,
  )

  /** The q93 kNN-edge CTE chain (hyperplanes → signatures → bucket
    * candidates → exact rerank → ranked). `mat` = "MATERIALIZED " when a
    * consumer references the chain repeatedly (the Pca.oracleSql lesson:
    * DuckDB inlines plain CTEs and re-evaluates the whole prefix per
    * reference). */
  private def knnCtes(mat: String): String =
    s"""pl AS $mat(SELECT t.range AS t, b.range AS b, d.range AS d,
             CAST(('0x' || substr(md5('rp:' || t.range || ':' || b.range || ':' || d.range), 1, 8)) AS BIGINT)
               / 2147483648.0 - 1.0 AS w
           FROM range(0, $NumTables) t, range(0, 16) b, range(0, $Dims) d
           WHERE b.range < ${bitsCte("embeddings")}),
         allv AS $mat(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         dots AS $mat(SELECT a.vec_id, p.t, p.b, sum(a.v[p.d + 1] * p.w) AS dp
           FROM allv a, pl p GROUP BY 1, 2, 3),
         sigs AS $mat(SELECT vec_id, t, sum(CASE WHEN dp > 0 THEN (1 << b) ELSE 0 END) AS sig
           FROM dots GROUP BY 1, 2),
         bsz AS $mat(SELECT t, sig, count(*) AS c FROM sigs GROUP BY 1, 2),
         capped AS $mat(SELECT s.vec_id, s.t, s.sig FROM sigs s
           JOIN bsz USING (t, sig)
           WHERE bsz.c <= ${graft.similarity.RandomHyperplaneLSH.DefaultMaxBucket}),
         cand AS $mat(SELECT DISTINCT l.vec_id AS src, r.vec_id AS dst
           FROM capped l JOIN capped r ON l.t = r.t AND l.sig = r.sig
           WHERE l.vec_id <> r.vec_id),
         scored AS $mat(SELECT cand.src, cand.dst,
             list_inner_product(x.v, y.v)
               / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) AS sim
           FROM cand JOIN allv x ON x.vec_id = cand.src JOIN allv y ON y.vec_id = cand.dst),
         ranked AS $mat(SELECT src, dst, sim,
             row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
           FROM scored)"""

  /** GENERATED unrolled PageRank mirror: q93 edges, then one
    * (in-mass, rank) CTE pair per round — `ops/PageRank` semantics:
    * decimal-quantized contributions, dangling mass dropped, teleport
    * written as the literal 0.15/n (never 1−0.85). */
  private def q104OracleSql(iters: Int): String =
    s"""WITH ${knnCtes("MATERIALIZED ")},
         edges AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rank <= 3),
         deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         e AS MATERIALIZED (SELECT edges.src, edges.dst,
             CAST(CAST(1.0 / outdeg AS DECIMAL(28,12)) AS DOUBLE) AS recip
           FROM edges JOIN deg USING (src)),
         ${pagerankRounds(iters)}"""

  /** q109's weighted mirror: edge mass ∝ decimal-quantized cosine sim;
    * the share is a double division re-quantized (never decimal÷decimal —
    * engines disagree on division result scales). */
  private def q109OracleSql(iters: Int): String =
    s"""WITH ${knnCtes("MATERIALIZED ")},
         edges AS MATERIALIZED (SELECT src, dst, CAST(sim AS DECIMAL(28,12)) AS w
           FROM ranked WHERE rank <= 3),
         sw AS MATERIALIZED (SELECT src, sum(w) AS sumw FROM edges GROUP BY 1),
         e AS MATERIALIZED (SELECT edges.src, edges.dst,
             CAST(CAST(CAST(w AS DOUBLE) / CAST(sumw AS DOUBLE) AS DECIMAL(28,12)) AS DOUBLE) AS recip
           FROM edges JOIN sw USING (src)),
         ${pagerankRounds(iters)}"""

  /** Shared unrolled damped-iteration tail over a prepared
    * (src, dst, recip) edge CTE `e` — `ops/PageRank.iterate` mirrored
    * one CTE pair per round. */
  private def pagerankRounds(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""ids AS MATERIALIZED (SELECT vec_id AS id FROM allv),
         nn AS MATERIALIZED (SELECT count(*) AS n FROM ids),
         p0 AS MATERIALIZED (SELECT id, 1.0 / n AS pr FROM ids, nn)"""
    for (i <- 0 until iters) {
      sb ++= s""",
         i$i AS MATERIALIZED (SELECT e.dst AS id,
             CAST(sum(CAST(p.pr * e.recip AS DECIMAL(28,12))) AS DOUBLE) AS inm
           FROM e JOIN p$i p ON p.id = e.src GROUP BY 1),
         p${i + 1} AS MATERIALIZED (SELECT ids.id, 0.15 / n + 0.85 * coalesce(inm, 0.0) AS pr
           FROM ids LEFT JOIN i$i USING (id), nn)"""
    }
    sb ++= s"""
         SELECT id AS vec_id, round(pr, 8) AS pr FROM p$iters ORDER BY 1"""
    sb.toString
  }

  // rank-contract split (corpus-B): queries = the 10 LOWEST vec_ids,
  // seeds = the 16 lowest corpus vec_ids — stated as data-derived taus
  private val tauQSql = "(SELECT max(vec_id) FROM (SELECT vec_id FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 ORDER BY vec_id LIMIT 10) __tq)"
  private val tauSeedSql = "(SELECT max(vec_id) FROM (SELECT vec_id FROM C ORDER BY vec_id LIMIT 16) __ts)"
  private val cosineParts =
    s"""Q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
             FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id <= $tauQSql),
       C AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec
             FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id > $tauQSql)"""

  val oracles: Map[String, String] = Map(
    "q165_hard_negatives" ->
      s"""WITH ${knnCtes("MATERIALIZED ")},
         e AS (SELECT src, dst, sim FROM ranked WHERE rank <= 3),
         lab AS (SELECT vec_id, label FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         hn AS (SELECT e.src, la.label AS anchor_label, e.dst,
             lb.label AS neg_label, e.sim,
             row_number() OVER (PARTITION BY e.src
               ORDER BY e.sim DESC, e.dst ASC) AS rn
           FROM e JOIN lab la ON la.vec_id = e.src
                  JOIN lab lb ON lb.vec_id = e.dst
           WHERE la.label <> lb.label)
         SELECT src, anchor_label, dst AS hard_negative, neg_label,
           round(sim, 6) AS sim
         FROM hn WHERE rn = 1 ORDER BY src""",
    "q135_filtered_ann" ->
      s"""WITH Q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec,
               label FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id <= $tauQSql),
         C AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec, label
               FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id > $tauQSql),
         sims AS (SELECT q.query_id, c.vec_id, c.label,
             list_inner_product(q.qvec, c.cvec)
               / (sqrt(list_inner_product(q.qvec, q.qvec))
                  * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
           FROM Q q JOIN C c USING (label)),
         ranked AS (SELECT query_id, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id ASC) AS rank
           FROM sims)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, label,
           round(sim, 6) + 0 AS sim
         FROM ranked WHERE rank <= 5 ORDER BY 1, 2""",
    // identical unrolled peeling rounds over the shared kNN edge CTEs,
    // one prefixed CTE chain per k; count(*) over an empty final CTE is
    // the explicit (4, 0, 0) row. sum(BIGINT) is HUGEINT in DuckDB —
    // cast back so the schema compare sees bigint on both sides.
    "q134_kcore" ->
      s"""WITH ${knnCtes("MATERIALIZED ")},
         ke AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rank <= 3),
         ${KCore.oracleRounds(k = 2, rounds = 8, prefix = "c2")},
         ${KCore.oracleRounds(k = 3, rounds = 8, prefix = "c3")},
         ${KCore.oracleRounds(k = 4, rounds = 8, prefix = "c4")}
         SELECT k, core_nodes, core_degree_sum FROM (
           SELECT 2 AS k, count(*) AS core_nodes,
             CAST(coalesce(sum(deg), 0) AS BIGINT) AS core_degree_sum
           FROM c2kcore_final
           UNION ALL
           SELECT 3 AS k, count(*) AS core_nodes,
             CAST(coalesce(sum(deg), 0) AS BIGINT) AS core_degree_sum
           FROM c3kcore_final
           UNION ALL
           SELECT 4 AS k, count(*) AS core_nodes,
             CAST(coalesce(sum(deg), 0) AS BIGINT) AS core_degree_sum
           FROM c4kcore_final) ORDER BY k""",
    // identical per-dim bounds -> identical codes -> decimal-summed
    // asymmetric scores, bit-for-bit
    // recon list built with the kernel's pinned-association arithmetic,
    // then list_inner_product = the kernel's ascending within-row fold
    "q127_ann_sq8" ->
      s"""WITH C AS (SELECT vec_id, embedding AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id > $tauQSql),
         Q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
               FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0 AND vec_id <= $tauQSql),
         dims AS (SELECT unnest(generate_series(1, $Dims)) AS i),
         ex AS (SELECT c.vec_id, d.i, CAST(c.v[d.i] AS DOUBLE) AS x
                FROM C c, dims d),
         st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1),
         rl AS (SELECT e.vec_id, e.i,
             s.mn + CASE
               WHEN s.mx = s.mn THEN 0.0
               ELSE (round(((e.x - s.mn) / (s.mx - s.mn)) * 255.0)
                     * (s.mx - s.mn)) / 255.0
             END AS r
           FROM ex e JOIN st s ON s.i = e.i),
         recon AS (SELECT vec_id, list(r ORDER BY i) AS rlist FROM rl GROUP BY 1),
         sums AS (SELECT q.query_id, r.vec_id,
             list_inner_product(q.q, r.rlist) AS simd
           FROM recon r CROSS JOIN Q q),
         ranked AS (SELECT query_id, vec_id, simd,
             row_number() OVER (PARTITION BY query_id
               ORDER BY simd DESC, vec_id ASC) AS rank
           FROM sums)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(simd, 6) + 0 AS sim
         FROM ranked WHERE rank <= 10 ORDER BY 1, 2""",
    // generated unrolled-CTE mirror of the 8-round power iteration
    "q94_pca_project" -> Pca.oracleSql(Dims, iters = 8),
    // identical md5 hyperplanes -> identical buckets -> exact top-3
    // among bucket-mates, both directions
    "q93_knn_graph" ->
      s"""WITH ${knnCtes("")}
         SELECT src, CAST(rank AS INT) AS rank, dst, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 3 ORDER BY 1, 2""",
    "q104_pagerank" -> q104OracleSql(iters = 5),
    "q109_weighted_pagerank" -> q109OracleSql(iters = 5),
    // id-ordered triangle join — the triangle set is orientation-
    // invariant, so this verifies the degree-oriented Spark plan
    "q113_triangles" ->
      s"""WITH ${knnCtes("MATERIALIZED ")},
         e AS MATERIALIZED (SELECT src, dst FROM ranked WHERE rank <= 3),
         und AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM e WHERE src <> dst),
         deg AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
             SELECT a AS id FROM und UNION ALL SELECT b FROM und)
           GROUP BY 1),
         tri AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM und e1 JOIN und e2 ON e1.b = e2.a
           JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         tc AS (SELECT id, count(*) AS triangles FROM (
             SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY 1)
         SELECT v.vec_id,
           coalesce(deg.deg, 0) AS degree,
           coalesce(tc.triangles, 0) AS triangles,
           round(CASE WHEN deg.deg >= 2
             THEN 2.0 * coalesce(tc.triangles, 0)
               / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) END, 6) AS clustering
         FROM allv v
         LEFT JOIN deg ON v.vec_id = deg.id
         LEFT JOIN tc ON v.vec_id = tc.id
         ORDER BY 1""",
    // same deterministic cell assignment as q34's oracle, then pairs
    // within each cell only, keep-lowest-id
    "q65_semantic_dedup" ->
      s"""WITH $cosineParts,
         cen AS (SELECT cen_id, cen_vec FROM (
                 SELECT vec_id AS cen_id, cvec AS cen_vec,
                   row_number() OVER (ORDER BY vec_id) AS __rn FROM C) __rc
                 WHERE __rn <= (SELECT greatest(16,
                   CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM C)),
         cells AS (SELECT vec_id, cell FROM (
             SELECT c.vec_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY
                 (list_inner_product(c.cvec, c.cvec)
                  - 2 * list_inner_product(c.cvec, cen.cen_vec)
                  + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS rn
             FROM C c, cen) t WHERE rn = 1),
         pairs AS (SELECT x.cell, x.vec_id AS a, y.vec_id AS b,
             list_inner_product(cx.cvec, cy.cvec)
               / (sqrt(list_inner_product(cx.cvec, cx.cvec))
                  * sqrt(list_inner_product(cy.cvec, cy.cvec))) AS sim
           FROM cells x
           JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
           JOIN C cx ON cx.vec_id = x.vec_id
           JOIN C cy ON cy.vec_id = y.vec_id)
         SELECT b AS vec_id, cell, min(a) AS keeper, count(*) AS n_dups,
           round(max(sim), 6) AS max_sim
         FROM pairs WHERE sim >= 0.3
         GROUP BY 1, 2 ORDER BY 1""",
    "q60_ann_pq" ->
      s"""WITH $cosineParts,
         cbseed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, cvec
                    FROM C WHERE vec_id <= $tauSeedSql),
         cb AS (SELECT r.range AS m, code_id,
                  cvec[r.range*8+1 : r.range*8+8] AS cw
                FROM cbseed CROSS JOIN range(8) r),
         csub AS (SELECT c.vec_id, r.range AS m,
                    c.cvec[r.range*8+1 : r.range*8+8] AS sub
                  FROM C c CROSS JOIN range(8) r),
         enc AS (SELECT vec_id, m, code_id AS code FROM (
             SELECT csub.vec_id, csub.m, cb.code_id,
               row_number() OVER (PARTITION BY csub.vec_id, csub.m ORDER BY
                 (list_inner_product(csub.sub, csub.sub)
                  - 2 * list_inner_product(csub.sub, cb.cw)
                  + list_inner_product(cb.cw, cb.cw)) ASC, cb.code_id ASC) AS rn
             FROM csub JOIN cb USING (m)) t WHERE rn = 1),
         qsub AS (SELECT q.query_id, r.range AS m,
                    q.qvec[r.range*8+1 : r.range*8+8] AS sub
                  FROM Q q CROSS JOIN range(8) r),
         adct AS (SELECT query_id, m, code_id,
                    CAST(list_inner_product(sub, sub)
                         - 2 * list_inner_product(sub, cw)
                         + list_inner_product(cw, cw) AS DECIMAL(28,12)) AS d
                  FROM qsub JOIN cb USING (m)),
         adc AS (SELECT a.query_id, e.vec_id AS cand_id, sum(a.d) AS adc
                 FROM enc e JOIN adct a ON a.m = e.m AND a.code_id = e.code
                 GROUP BY 1, 2),
         short AS (SELECT query_id, cand_id FROM (
             SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, cand_id ASC) AS rn
             FROM adc) t WHERE rn <= 10),
         rr AS (SELECT s.query_id, s.cand_id,
                  list_inner_product(q.qvec, c.cvec)
                    / (sqrt(list_inner_product(q.qvec, q.qvec))
                       * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
                FROM short s
                JOIN Q q USING (query_id)
                JOIN C c ON c.vec_id = s.cand_id),
         fin AS (SELECT query_id, cand_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, cand_id ASC) AS rn
                 FROM rr)
         SELECT query_id, cand_id AS vec_id, round(sim, 6) AS sim
         FROM fin WHERE rn = 1 ORDER BY query_id""",
    // generated unrolled Lloyd rounds — see KMeans.oracleSql
    "q149_kmeans_train" -> KMeans.oracleSql(cosineParts, s"vec_id <= $tauSeedSql", rounds = 3),
    // staged kNN edges -> neighbor-label majority (ties: lowest label)
    "q155_knn_label_agreement" ->
      s"""WITH ${knnCtes("")},
         edges AS (SELECT src, dst FROM ranked WHERE rank <= 3),
         votes AS (SELECT e.src, l.label AS nl, count(*) AS cnt
                   FROM edges e JOIN embeddings l ON l.vec_id = e.dst
                   GROUP BY 1, 2),
         pred AS (SELECT src, nl AS pred FROM (
             SELECT src, nl, cnt,
               row_number() OVER (PARTITION BY src ORDER BY cnt DESC, nl ASC) AS rn
             FROM votes) t WHERE rn = 1)
         SELECT l.label, count(*) AS n_voted,
           CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           round(CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS agreement
         FROM pred p JOIN embeddings l ON l.vec_id = p.src
         GROUP BY 1 ORDER BY 1""",
    // identical formula tree over the same decimal-exact sums: n·mean²
    // variance form in doubles, FILTERed per cohort
    "q159_embedding_drift" ->
      """WITH x AS (SELECT vec_id % 2 AS cohort,
             unnest(range(0, len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS v
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         g AS (SELECT dim,
             CAST(count(*) FILTER (WHERE cohort = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE cohort = 1) AS BIGINT) AS n_b,
             CAST(sum(CAST(v AS DECIMAL(28,12))) FILTER (WHERE cohort = 0) AS DOUBLE) AS sa,
             CAST(sum(CAST(v AS DECIMAL(28,12))) FILTER (WHERE cohort = 1) AS DOUBLE) AS sb,
             CAST(sum(CAST(v * v AS DECIMAL(28,12))) FILTER (WHERE cohort = 0) AS DOUBLE) AS qa,
             CAST(sum(CAST(v * v AS DECIMAL(28,12))) FILTER (WHERE cohort = 1) AS DOUBLE) AS qb
           FROM x GROUP BY dim)
         SELECT dim, n_a, n_b,
           round(sa / n_a, 6) + 0 AS mean_a,
           round(sb / n_b, 6) + 0 AS mean_b,
           round(sb / n_b - sa / n_a, 6) + 0 AS shift,
           round((sb / n_b - sa / n_a)
             / sqrt(((qa - sa * sa / n_a) / (n_a - 1)
                   + (qb - sb * sb / n_b) / (n_b - 1)) / 2.0), 4) + 0 AS smd
         FROM g ORDER BY dim""",
    // trained-index assignment distances, then the q112 MAD-fence shape
    "q154_embedding_outliers" ->
      s"""WITH $cosineParts,
         ${KMeans.trainCtes(s"vec_id <= $tauSeedSql", rounds = 3)},
         af AS MATERIALIZED (SELECT vec_id, cell, dist FROM (
             SELECT c.vec_id, cen.cen_id AS cell, ${KMeans.distSql("cen")} AS dist,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY ${KMeans.distSql("cen")} ASC, cen.cen_id ASC) AS rn
             FROM C c JOIN xx USING (vec_id) CROSS JOIN cen3 cen) t WHERE rn = 1),
         meds AS (SELECT cell, quantile_cont(dist, 0.5) AS med FROM af GROUP BY 1),
         d AS (SELECT af.cell, af.dist, m.med FROM af JOIN meds m USING (cell)),
         mads AS (SELECT cell, quantile_cont(abs(dist - med), 0.5) AS mad
                  FROM d GROUP BY 1)
         SELECT d.cell, count(*) AS n,
           round(any_value(d.med), 6) AS med,
           round(any_value(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(d.dist - d.med) > 3 * 1.4826 * m.mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM d JOIN mads m USING (cell)
         GROUP BY 1 ORDER BY 1""",
    // trained-index IVF search: the same generated training chain, then
    // probe (2 nearest trained cells per query, pinned dist text),
    // cell-join candidates, exact cosine rerank to top-3
    "q150_ann_ivf_trained" ->
      s"""WITH $cosineParts,
         ${KMeans.trainCtes(s"vec_id <= $tauSeedSql", rounds = 3)},
         af AS MATERIALIZED (SELECT vec_id, cell FROM (
             SELECT c.vec_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY ${KMeans.distSql("cen")} ASC, cen.cen_id ASC) AS rn
             FROM C c JOIN xx USING (vec_id) CROSS JOIN cen3 cen) t WHERE rn = 1),
         pr AS (SELECT query_id, cell FROM (
             SELECT q.query_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 ((list_inner_product(q.qvec, q.qvec) - (2.0 * list_inner_product(q.qvec, cen.cen_vec)))
                   + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS prn
             FROM Q q CROSS JOIN cen3 cen) t WHERE prn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS cand_id
                  FROM pr p JOIN af a USING (cell)),
         rr AS (SELECT cd.query_id, cd.cand_id,
                  list_inner_product(q.qvec, c.cvec)
                    / (sqrt(list_inner_product(q.qvec, q.qvec)) * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
                FROM cand cd
                JOIN Q q USING (query_id)
                JOIN C c ON c.vec_id = cd.cand_id),
         fin AS (SELECT query_id, cand_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, cand_id ASC) AS rank
                 FROM rr)
         SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS vec_id,
           round(sim, 6) AS sim
         FROM fin WHERE rank <= 3 ORDER BY 1, 2""",
    // same deterministic assignment as q34's oracle, then per-cell means
    "q49_kmeans_step" ->
      s"""WITH $cosineParts,
         cen AS (SELECT vec_id AS cen_id, cvec AS cen_vec FROM C WHERE vec_id <= $tauSeedSql),
         cells AS (SELECT vec_id, cell FROM (
             SELECT c.vec_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY
                 (list_inner_product(c.cvec, c.cvec)
                  - 2 * list_inner_product(c.cvec, cen.cen_vec)
                  + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS rn
             FROM C c, cen) t WHERE rn = 1)
         SELECT cells.cell, count(*) AS n_members,
           round(avg(c.cvec[1]), 4) AS m0, round(avg(c.cvec[2]), 4) AS m1
         FROM cells JOIN C c USING (vec_id)
         GROUP BY 1 ORDER BY 1""",
    "q43_normalized_topk" ->
      s"""WITH $cosineParts,
         qn AS (SELECT query_id,
             list_transform(qvec, x -> x / sqrt(list_inner_product(qvec, qvec))) AS qv
           FROM Q),
         cn AS (SELECT vec_id,
             list_transform(cvec, x -> x / sqrt(list_inner_product(cvec, cvec))) AS cv
           FROM C),
         sims AS (SELECT qn.query_id, cn.vec_id,
             list_inner_product(qn.qv, cn.cv) AS sim
           FROM qn, cn),
         ranked AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
           FROM sims)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 5 ORDER BY 1, 2""",
    "q21_cosine_topk" ->
      s"""WITH $cosineParts,
         sims AS (SELECT q.query_id, c.vec_id,
             list_inner_product(q.qvec, c.cvec)
               / (sqrt(list_inner_product(q.qvec, q.qvec)) * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
           FROM Q q, C c),
         ranked AS (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
           FROM sims)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(sim, 6) AS sim
         FROM ranked WHERE rank <= 5 ORDER BY 1, 2""",
    "q22_ann_lsh" ->
      s"""WITH $cosineParts,
         pl AS (SELECT t.range AS t, b.range AS b, d.range AS d,
             CAST(('0x' || substr(md5('rp:' || t.range || ':' || b.range || ':' || d.range), 1, 8)) AS BIGINT)
               / 2147483648.0 - 1.0 AS w
           FROM range(0, 8) t, range(0, 6) b, range(0, 64) d),
         allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         dots AS (SELECT a.vec_id, p.t, p.b, sum(a.v[p.d + 1] * p.w) AS dp
           FROM allv a, pl p GROUP BY 1, 2, 3),
         sigs AS (SELECT vec_id, t, sum(CASE WHEN dp > 0 THEN (1 << b) ELSE 0 END) AS sig
           FROM dots GROUP BY 1, 2),
         cand AS (SELECT DISTINCT qs.vec_id AS query_id, cs.vec_id AS cand_id
           FROM sigs qs JOIN sigs cs ON qs.t = cs.t AND qs.sig = cs.sig
           WHERE qs.vec_id <= $tauQSql AND cs.vec_id > $tauQSql),
         scored AS (SELECT cand.query_id, cand.cand_id,
             list_inner_product(q.qvec, c.cvec)
               / (sqrt(list_inner_product(q.qvec, q.qvec)) * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
           FROM cand
           JOIN Q q ON q.query_id = cand.query_id
           JOIN C c ON c.vec_id = cand.cand_id),
         ranked AS (SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
           FROM scored)
         SELECT query_id, cand_id AS vec_id, round(sim, 6) AS sim
         FROM ranked WHERE rn = 1 ORDER BY query_id""",
    // parity oracle: identical md5 hyperplanes → identical buckets →
    // identical candidate pairs → exact cosine threshold
    "q37_cosine_neardup" ->
      s"""WITH pl AS (SELECT t.range AS t, b.range AS b, d.range AS d,
             CAST(('0x' || substr(md5('rp:' || t.range || ':' || b.range || ':' || d.range), 1, 8)) AS BIGINT)
               / 2147483648.0 - 1.0 AS w
           FROM range(0, 8) t, range(0, 16) b, range(0, 64) d
           WHERE b.range < ${bitsCte("embeddings")}),
         allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
         dots AS (SELECT a.vec_id, p.t, p.b, sum(a.v[p.d + 1] * p.w) AS dp
           FROM allv a, pl p GROUP BY 1, 2, 3),
         sigs AS (SELECT vec_id, t, sum(CASE WHEN dp > 0 THEN (1 << b) ELSE 0 END) AS sig
           FROM dots GROUP BY 1, 2),
         bsz AS (SELECT t, sig, count(*) AS c FROM sigs GROUP BY 1, 2),
         capped AS (SELECT s.vec_id, s.t, s.sig FROM sigs s
           JOIN bsz USING (t, sig)
           WHERE bsz.c <= ${graft.similarity.RandomHyperplaneLSH.DefaultMaxBucket}),
         cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
           FROM capped l JOIN capped r ON l.t = r.t AND l.sig = r.sig
           WHERE l.vec_id < r.vec_id),
         scored AS (SELECT cand.a, cand.b,
             list_inner_product(x.v, y.v)
               / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) AS sim
           FROM cand JOIN allv x ON x.vec_id = cand.a JOIN allv y ON y.vec_id = cand.b)
         SELECT a AS vec_a, b AS vec_b, round(sim, 6) AS sim
         FROM scored WHERE sim >= 0.45 ORDER BY 1, 2""",
    // IVF parity oracle: same deterministic centroids, same L2 ordering
    // (expanded form; gaps dwarf fp rounding), same nprobe, same top-1.
    "q34_ann_ivf" ->
      s"""WITH $cosineParts,
         cen AS (SELECT vec_id AS cen_id, cvec AS cen_vec FROM C WHERE vec_id <= $tauSeedSql),
         cells AS (SELECT vec_id, cell FROM (
             SELECT c.vec_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY c.vec_id ORDER BY
                 (list_inner_product(c.cvec, c.cvec)
                  - 2 * list_inner_product(c.cvec, cen.cen_vec)
                  + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS rn
             FROM C c, cen) t WHERE rn = 1),
         probes AS (SELECT query_id, cell FROM (
             SELECT q.query_id, cen.cen_id AS cell,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 (list_inner_product(q.qvec, q.qvec)
                  - 2 * list_inner_product(q.qvec, cen.cen_vec)
                  + list_inner_product(cen.cen_vec, cen.cen_vec)) ASC, cen.cen_id ASC) AS rn
             FROM Q q, cen) t WHERE rn <= 4),
         cand AS (SELECT DISTINCT p.query_id, s.vec_id AS cand_id
                  FROM probes p JOIN cells s USING (cell)),
         scored AS (SELECT cand.query_id, cand.cand_id,
             list_inner_product(q.qvec, c.cvec)
               / (sqrt(list_inner_product(q.qvec, q.qvec)) * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
           FROM cand
           JOIN Q q ON q.query_id = cand.query_id
           JOIN C c ON c.vec_id = cand.cand_id),
         ranked AS (SELECT query_id, cand_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rn
           FROM scored)
         SELECT query_id, cand_id AS vec_id, round(sim, 6) AS sim
         FROM ranked WHERE rn = 1 ORDER BY query_id""",
  )
}
