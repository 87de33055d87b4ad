package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Extra args beyond (sfDir, outDir) restrict the run to those query
  * names — local iteration only; the driver always passes exactly two. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val cpus = Session.cpus(4)
    // Config-sensitivity overrides (round-13 verdict #7): a green that
    // depends on a partition-count or AQE-coalesce accident (tie order
    // inside a window, a coalesce that happens to keep one file) is
    // invisible while every run uses the same config. The standing probe
    // re-runs Verify with SPARK_GRAFT_SHUFFLE_PARTITIONS=7 (prime —
    // different plans everywhere) and SPARK_GRAFT_AQE=false; 173/173
    // must hold there too.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = Session.local(cpus, shufflePartitions, logLevel = "WARN")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name)) {
        // Delete any PREVIOUS run's output for this query up front: the
        // overwrite only happens on success, so a query that now throws
        // would otherwise leave the stale parquet in place and the
        // driver's compare would score a broken query as passing.
        val outPath = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        outPath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(outPath, true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
