package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-union scale-up: synthesize an ~Nx copy of a scale-factor directory
  * so the library can be rehearsed beyond the driver-provided sf0.1
  * WITHOUT touching /root/testdata (TESTDATA.md forbids regenerating).
  *
  * Usage: runMain graft.ScaleUp [srcDir] [outDir] [copies]
  *        (defaults /root/testdata/sf0.1 → /tmp/graft-sf1 ×10)
  *
  * Design — model the realistic 100 TB growth axis (more entities over the
  * same time period and the same dimension universe), not a degenerate one:
  *
  *   - `region`/`nation` stay single-copy: real warehouses grow facts, not
  *     the country list. Every broadcast-dim join therefore keeps its
  *     broadcast-ability, which is exactly the property to rehearse.
  *   - Every surrogate key is remapped per copy by `key + i*stride` with
  *     stride > max(key), so foreign keys stay consistent INSIDE a copy and
  *     never collide ACROSS copies: join fan-out grows linearly, join
  *     cardinality per key is preserved.
  *   - `documents.text` gets a per-copy salt token appended to every 4th
  *     word. With 3-word shingles that perturbs ~3/4 of each copy's shingle
  *     set, so copies of one document are NOT near-duplicates of each other
  *     (Jaccard « the 0.6–0.7 thresholds): the dedup family's pair/cluster
  *     structure scales linearly instead of forming size-N cliques of
  *     synthetic twins, matching how a real corpus grows.
  *   - `embeddings.embedding` is rotated by i dimensions per copy: norm and
  *     per-dim distribution are preserved exactly, while rotated copies of
  *     one vector decorrelate (cosine ≈ 0 for random-ish vectors), so ANN
  *     neighbor structure also grows linearly, not in copy-cliques.
  *   - Timestamps default to the original time range: N× rows per
  *     window/day is the DENSITY increase a 100 TB corpus has. Pass
  *     `span` as the 4th arg (or `eventsSpan = true`) for the other
  *     growth axis — copy i of events shifts i×30 days, so N copies
  *     cover N contiguous months at original density (more windows/
  *     days/sessions instead of bigger ones).
  *
  * Output is written with enough files for local[32] to parallelize
  * (`repartition` before write, sized ≈ source files × copies).
  */
object ScaleUp {

  /** Build the scaled tables under `out`; returns (table, rowCount).
    *
    * `eventsSpan = true` switches the events table from the default
    * DENSITY growth axis (N× rows on the same 30-day range) to SPAN
    * growth: copy i shifts timestamps by i×30 days, so N copies cover
    * N contiguous months at the original density. The two axes stress
    * different shapes — density grows per-window/per-day group SIZES
    * (sort/agg state), span grows the NUMBER of windows/days/sessions
    * (parallelism and partition pruning). A warehouse grows along both. */
  def build(spark: SparkSession, src: String, out: String, copies: Int,
            quiet: Boolean = false, eventsSpan: Boolean = false): Seq[(String, Long)] = {
    // stride per keyed table: strictly greater than the observed max key,
    // rounded to a power of ten so remapped ids stay human-readable.
    def stride(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key).cast("long"))).head
      require(!row.isNullAt(0),
        s"ScaleUp: '$key' has no non-null values (empty source table?) — cannot derive a stride")
      val mx = row.getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    /** Union `copies` remapped instances of df. remap(i) builds copy i. */
    def fanOut(df: DataFrame, remap: Int => DataFrame => DataFrame): DataFrame =
      (0 until copies).map(i => remap(i)(df)).reduce(_ unionByName _)

    def shiftKeys(keys: Map[String, Long])(i: Int)(df: DataFrame): DataFrame =
      keys.foldLeft(df) { case (d, (k, s)) =>
        d.withColumn(k, (col(k).cast("long") + lit(i) * lit(s)).cast(d.schema(k).dataType))
      }

    val t = Tables.names.map(n => n -> Tables(spark, src, n)).toMap
    val cS = stride(t("customer"), "c_custkey")
    val sS = stride(t("supplier"), "s_suppkey")
    val pS = stride(t("part"), "p_partkey")
    val oS = stride(t("orders"), "o_orderkey")
    val eS = stride(t("events"), "event_id")
    val uS = stride(t("events"), "user_id")
    // doc_id and vec_id are a CROSS-MODAL join key (q65/q87 join
    // documents to embeddings on it), so both tables must remap with the
    // SAME stride — independent strides only agree today because both
    // maxima round to the same power of ten; maxima straddling a power
    // of ten would silently mispair copies (vector copy 1 joining doc
    // copy 0).
    val dS = math.max(stride(t("documents"), "doc_id"),
      stride(t("embeddings"), "vec_id"))
    val vS = dS

    val scaled: Seq[(String, DataFrame, Int)] = Seq(
      ("region", t("region"), 1),
      ("nation", t("nation"), 1),
      ("customer", fanOut(t("customer"), shiftKeys(Map("c_custkey" -> cS))), copies),
      ("supplier", fanOut(t("supplier"), shiftKeys(Map("s_suppkey" -> sS))), copies),
      ("part", fanOut(t("part"), shiftKeys(Map("p_partkey" -> pS))), copies),
      ("orders", fanOut(t("orders"),
        shiftKeys(Map("o_orderkey" -> oS, "o_custkey" -> cS))), copies),
      ("lineitem", fanOut(t("lineitem"),
        shiftKeys(Map("l_orderkey" -> oS, "l_partkey" -> pS, "l_suppkey" -> sS))), 4 * copies),
      ("events", fanOut(t("events"), { i => df =>
        val shifted = shiftKeys(Map("event_id" -> eS, "user_id" -> uS))(i)(df)
        if (!eventsSpan || i == 0) shifted
        else shifted.withColumn("ts",
          col("ts") + expr(s"INTERVAL ${i * 30} DAYS"))
      }), copies),
      ("documents", fanOut(t("documents"), { i => df =>
        val shifted = shiftKeys(Map("doc_id" -> dS))(i)(df)
        if (i == 0) shifted
        else shifted
          // salt every 4th word with the copy index; keeps length stats
          // close while decorrelating the shingle sets between copies
          .withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "),
              (w, j) => when(j % 4 === 0, concat(w, lit("·" + i.toString)))
                .otherwise(w))))
          .withColumn("n_chars", length(col("text")))
      }), copies),
      ("embeddings", fanOut(t("embeddings"), { i => df =>
        val shifted = shiftKeys(Map("vec_id" -> vS))(i)(df)
        if (i == 0) shifted
        else shifted
          // rotate dims by i mod d (norm-preserving decorrelation);
          // past d copies the rotation wraps, so copies ≥ d addition-
          // ally sign-flip dims by the parity of popcount(dim & i/d) —
          // also norm-exact, ~half the dims flipped for any nonzero
          // mask, so wrapped copies decorrelate instead of duplicating
          // copy (i mod d). Masks differ per wrap generation, keeping
          // every copy pair decorrelated. ≤ d copies are byte-identical
          // to the pre-mask builder (mask 0 flips nothing).
          .withColumn("embedding", {
            val d = size(col("embedding"))
            val rot = pmod(lit(i), d)
            val mask = floor(lit(i) / d).cast("long") // floorDiv, i ≥ 0
            val rotated = concat(
              slice(col("embedding"), rot + 1, d - rot),
              slice(col("embedding"), lit(1), rot))
            transform(rotated, (x, j) =>
              when(bit_count(j.cast("long").bitwiseAND(mask.cast("long"))) % 2 === 1, -x)
                .otherwise(x))
          })
      }), copies),
    )

    scaled.map { case (name, df, parts) =>
      val t0 = System.nanoTime()
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      val rows = spark.read.parquet(s"$out/$name.parquet").count()
      if (!quiet)
        println(f"SCALEUP $name%-12s rows=$rows%10d files=$parts%3d ${(System.nanoTime() - t0) / 1e9}%6.1f s")
      name -> rows
    }
  }

  /** [[build]] `out` only when a table's `_SUCCESS` marker is missing:
    * the build is minutes of parquet writes, a gate reusing the corpus
    * should re-run in seconds to minutes. */
  def ensure(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val complete = Tables.names.forall { t =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet/_SUCCESS"))
    }
    if (!complete) {
      println(s"SCALEUP building ×$copies corpus at $out")
      build(spark, src, out, copies, quiet = true)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val eventsSpan = args.lift(3).contains("span")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus, "graft-scaleup", "WARN")
    build(spark, src, out, copies, eventsSpan = eventsSpan)
    spark.stop()
  }
}
