package graft

import org.apache.spark.sql.functions._

/** Build a MIXED-density documents corpus for router validation
  * (round-12 verdict #3): the κ = 2.9 fetch-vs-in-band boundary was
  * calibrated on uniform `ScaleUp` self-union corpora — one global
  * clone density per call. A real 100 TB corpus is mixed: boilerplate-
  * dense sources next to unique ones in the SAME near-dup call. This
  * main writes a documents table with the ×100 rehearsal's doc count
  * (500k from sf0.1) where
  *
  *   - the DENSE half (source docs with even doc_id, ×copies) uses
  *     ScaleUp's standard every-4th-word salt — char-8 shingle sets
  *     stay collision-amplified across copies (the regime that made
  *     ×100 route in-band);
  *   - the SPARSE half (odd doc_id, ×copies) salts EVERY word — char-8
  *     sets decorrelate, so its copies contribute band rows but almost
  *     no candidate pairs (the unique-corpus regime).
  *
  * Timing q35's pair miner on the result under each forced verify form
  * and under the routed decision tests the router on a mixture (the
  * numbers are in `MinHashLSH`'s "MIXED-density validation" note). The
  * cost model should survive mixing BY CONSTRUCTION — it compares
  * actual shipment counts (2C vs κ·n·B),
  * both of which aggregate correctly over a mixture — and this corpus
  * is the measurement that either confirms that or makes the case for
  * per-source routing.
  *
  * Usage: runMain graft.MixedCorpus [srcDir] [outDir] [copies]
  *        (defaults /root/testdata/sf0.1 → /tmp/graft-mixed ×100)
  */
object MixedCorpus {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-mixed")
    val copies = args.lift(2).map(_.toInt).getOrElse(100)
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)

    val d = Tables(spark, src, "documents")
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    var stride = 1L
    while (stride <= mx) stride *= 10

    def salted(base: org.apache.spark.sql.DataFrame, every: Int, i: Int) =
      base
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * stride))
        .withColumn("text",
          if (i == 0) col("text")
          else concat_ws(" ", transform(split(col("text"), " "),
            (w, j) => when(j % every === 0, concat(w, lit("·" + i.toString)))
              .otherwise(w))))
        .withColumn("n_chars", length(col("text")))

    val dense = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val sparse = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val mixed = (0 until copies).map(i => salted(dense, 4, i))
      .reduce(_ unionByName _)
      .unionByName((0 until copies).map(i => salted(sparse, 1, i))
        .reduce(_ unionByName _))
    mixed.repartition(copies).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val n = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"MIXEDCORPUS docs=$n (dense+sparse halves, x$copies) at $out")
    spark.stop()
  }
}
