package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe graft's mains and specs share: a local master,
  * a pinned shuffle-partition count, UTC session time, no UI, and
  * `spark.sql.legacy.parquet.nanosAsLong` — `Tables` adapts to whichever
  * physical type `events.ts` ships as (generations have alternated
  * between TIMESTAMP(NANOS) and TIMESTAMP(MICROS)/NTZ), and the nanos
  * generation needs the flag. */
object Session {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** A session on `local[threads]` (`threads` may carry a max-failures
    * suffix, e.g. "8, 3"). An empty `appName` leaves Spark's generated
    * name. */
  def local(threads: String, partitions: String, appName: String = "",
            logLevel: String = "ERROR"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (appName.nonEmpty) b.appName(appName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
