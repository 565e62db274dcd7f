package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession every dev tool runs on: the session shape of
  * [[Bench.main]], so a tool's timings and plans are the bench's.
  */
object LocalSession {
  def apply(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // parquet-scan split size governs the FEATURE CACHE's partition
      // count (the cache inherits scan partitioning), and the default
      // 128 MB yields ~1.5 task waves at 32 cores on the bench tables —
      // wave-quantization, not compute, then caps measured scaling. 32 MB
      // keeps every level at ≥4 tasks/core (the same sizing a production
      // cluster job would set: partitions fit and cores stay busy).
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the feature cache carries raw text; columnar compression burns CPU
      // on the memory-bandwidth-bound stage for nothing at bench lifetimes
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
