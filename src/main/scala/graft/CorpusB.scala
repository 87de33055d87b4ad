package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Second-seed ORACLE-ROBUSTNESS corpus (round-12 verdict #5): all 173
  * correctness greens certify against the driver's single seed-42
  * corpus, so a query whose correctness — or whose non-vacuity
  * `require` — leans on a corpus ACCIDENT (a literal id threshold like
  * q149's `vec_id < 26` seed, a harness constant tuned to seed-42 batch
  * sizes) would pass forever without being load-bearing. This main
  * derives a schema-identical corpus-B from a driver corpus by
  * seed-driven perturbations that preserve the SEMANTIC structure (the
  * near-dup groups, source conventions, value distributions the suite
  * legitimately depends on) while moving every accident:
  *
  *   - every key column is remapped by a seed-derived XOR bijection,
  *     applied consistently across FK pairs (o_custkey moves with
  *     c_custkey, vec_id with doc_id), so joins survive but NO literal
  *     id threshold does;
  *   - a seeded ~7% of fact/document/embedding rows are dropped, so
  *     every count/batch-size constant moves;
  *   - timestamps shift +26 h, so day/hour window boundaries move while
  *     literal date-range predicates stay non-vacuous;
  *   - a seeded ~10% of documents get one appended token (n_chars
  *     recomputed), so text hashes/fingerprints move while near-dup
  *     pair structure survives;
  *   - rows are rewritten in hash order, so nothing can lean on the
  *     driver corpus's physical row/file order.
  *
  * The DuckDB oracle runs on the SAME corpus-B (check.py takes the data
  * dir), so this is a pure robustness probe: Verify + check.py on the
  * output must report 173/173, or the failing query has a corpus-
  * accident dependency to parameterize.
  *
  * `--b2` (round-13 verdict #4) adds the two axes the XOR/drop/shift
  * family cannot move, forming corpus-B2:
  *
  *   - every LONG-typed key is lifted by +3·2³¹ (≈6.4e9, past both 2³¹
  *     and 2³²) AFTER the XOR, consistently across FK pairs — any code
  *     path that truncates an id to 32 bits (a `.toInt` in a JVM
  *     kernel, an int accumulator) breaks loudly or hash-mismatches;
  *     int32-typed dim keys (nation/region) keep their schema width,
  *     which IS the contract;
  *   - every continuous MEASURE column is scaled ×7 (odd prime — moves
  *     decimal/binary accidents alike), so magnitude-tuned constants
  *     (bin widths, epsilons, a decimal(p,s) intermediate sized to
  *     driver-corpus magnitudes) move while filter predicates on those
  *     measures stay NON-VACUOUS (a ×1000 scale would push e.g. every
  *     l_quantity past its literal thresholds and turn those greens
  *     vacuous-empty — the exact failure mode corpus-B exists to kill).
  *     Rate columns (l_discount, l_tax ∈ [0,1]) are semantic structure
  *     and stay; embeddings stay (cosine is per-vector-scale-invariant,
  *     so a uniform scale probes nothing there).
  *
  * `--b3` (round-14 verdict #2) adds the NULL-injection axis — the one
  * perturbation family XOR/drop/shift/scale never exercises. Cross-
  * engine null semantics (null ordering inside windows, null keys in
  * grouping/joins, null propagation through string/array expression
  * chains) are classic both-engines-agree-by-accident territory:
  *
  *   - a seeded [[NullPct]]% of every NON-KEY column's values go NULL
  *     (keys and FK pairs stay intact — join/dedup identity is semantic
  *     structure, not an accident to move); the draw is per (row-key,
  *     column, seed), so columns null independently;
  *   - ARRAY-typed columns (embeddings.embedding) get the EMPTY array
  *     instead of NULL for half the drawn rows and NULL for the other
  *     half — malformed-vector rows probe zero-norm/empty-reduce paths
  *     that plain NULL (which aggregates simply skip) never reaches.
  *
  * Usage: runMain graft.CorpusB [srcDir] [outDir] [seed] [--b2|--b3]
  *        (defaults /root/testdata/sf0.01 → /tmp/graft-corpusB, 1337)
  */
object CorpusB {

  /** Key columns per table, remapped with ONE shared XOR constant so
    * every FK relationship is preserved by construction. */
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val tsCols = Map(
    "events" -> "ts", "orders" -> "o_orderdate", "lineitem" -> "l_shipdate")

  /** Fact-grain tables that tolerate row drops (dims stay complete so
    * dimension joins keep full coverage). */
  private val droppable = Set("lineitem", "events", "documents", "embeddings")

  /** Measure columns scaled ×[[ValueScale]] under `--b2`. */
  val measureCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_acctbal"), "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice"), "orders" -> Seq("o_totalprice"),
    "lineitem" -> Seq("l_quantity", "l_extendedprice"),
    "events" -> Seq("value"))
  val ValueScale = 7.0
  val IdLift: Long = 3L << 31

  /** --b3 null-injection rate (percent of values per non-key column). */
  val NullPct = 5

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val b2 = flags("--b2")
    val b3 = flags("--b3")
    val pos = args.filterNot(_.startsWith("--"))
    val src = pos.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = pos.lift(1).getOrElse("/tmp/graft-corpusB")
    val seed = pos.lift(2).map(_.toLong).getOrElse(1337L)
    // 30-bit XOR constant: bijective on every key domain, keeps int32
    // keys positive (max remapped value < 2^31), moves every literal
    val k: Long = (seed * 2654435761L) & 0x3FFFFFFFL
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)

    def remapKeys(name: String, df: DataFrame): DataFrame = {
      // the 30-bit XOR is bijective and sign-preserving only while the
      // source key domain sits inside the type's positive range with
      // headroom for the flipped low bits — true for every current
      // corpus; fail loudly (round-13 verdict nit) if corpus generation
      // ever scales key domains instead of silently wrapping
      val aggCols = keyCols(name).map(c => max(col(c).cast("long")).as(c))
      val maxes = df.agg(aggCols.head, aggCols.tail: _*).head()
      keyCols(name).zipWithIndex.foreach { case (c, i) =>
        val bound = df.schema(c).dataType match {
          case org.apache.spark.sql.types.IntegerType => 1L << 30
          case _ => 1L << 62
        }
        require(maxes.isNullAt(i) || maxes.getLong(i) < bound,
          s"CorpusB: $name.$c max ${maxes.getLong(i)} exceeds the XOR-remap " +
            s"domain bound $bound — widen the remap before trusting corpus-B")
      }
      keyCols(name).foldLeft(df) { (d, c) =>
        val t = d.schema(c).dataType
        val remapped = col(c).cast("long").bitwiseXOR(lit(k))
        // --b2: lift long-typed keys past 2³¹/2³² (int32 dim keys keep
        // their schema width — that width IS the contract)
        val lifted =
          if (b2 && t == org.apache.spark.sql.types.LongType) remapped + lit(IdLift)
          else remapped
        d.withColumn(c, lifted.cast(t))
      }
    }

    Tables.names.foreach { name =>
      var df = Tables(spark, src, name)
      if (droppable(name))
        df = df.filter(
          pmod(xxhash64(col(keyCols(name).head), lit(seed + 1)), lit(100)) >= 7)
      df = remapKeys(name, df)
      if (b2) measureCols.getOrElse(name, Nil).foreach { c =>
        df = df.withColumn(c, col(c) * lit(ValueScale))
      }
      tsCols.get(name).foreach { c =>
        df = df.withColumn(c, col(c) + expr("INTERVAL 26 HOURS"))
      }
      if (name == "documents")
        df = df
          .withColumn("text",
            when(pmod(xxhash64(col("doc_id"), lit(seed + 2)), lit(10)) === 0,
              concat(col("text"), lit(s" zb$seed"))).otherwise(col("text")))
          .withColumn("n_chars", length(col("text")))
      if (b3) {
        import org.apache.spark.sql.types.ArrayType
        val keyHead = col(keyCols(name).head)
        df.schema.fields.filterNot(f => keyCols(name).contains(f.name))
          .foreach { f =>
            // per-(row, column) draw: NullPct% of values move; array
            // columns split the draw between NULL and the EMPTY array
            val draw = pmod(xxhash64(keyHead, lit(f.name), lit(seed + 3)),
              lit(200))
            val nulled = f.dataType match {
              case _: ArrayType =>
                when(draw < NullPct, lit(null).cast(f.dataType))
                  .when(draw >= lit(100) && draw < lit(100 + NullPct),
                    array().cast(f.dataType))
                  .otherwise(col(f.name))
              case _ =>
                when(draw < 2 * NullPct, lit(null).cast(f.dataType))
                  .otherwise(col(f.name))
            }
            df = df.withColumn(f.name, nulled)
          }
      }
      // hash order: nothing downstream may lean on driver file order
      df.repartition(4, xxhash64(col(keyCols(name).head)))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      val n = spark.read.parquet(s"$out/$name.parquet").count()
      println(f"CORPUSB $name%-12s rows=$n%9d")
    }
    println(s"CORPUSB seed=$seed xor=0x${k.toHexString} b2=$b2 b3=$b3 at $out")
    spark.stop()
  }
}
