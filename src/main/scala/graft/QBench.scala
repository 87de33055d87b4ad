package graft

/** Dev micro-bench: time specific queries, N reps each, on a given SF dir.
  * Usage: runMain graft.QBench <sfDir> <reps> <queryName>...
  * (Bench is the driver-facing harness; this is the iteration loop.) */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    SparkEntry.entry(spark).collect() // warmup
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"QBENCH $name%-24s min=${times.min}%.2f med=${times.sorted.apply(times.size / 2)}%.2f times=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
