package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, Smoke,
  * RunPipeline, Explain and the specs all build through [[local]], so the
  * session certified correct is the session that gets timed.
  */
object Sessions {

  /** Partition-dir discovery: the persisted indexes' datasets fan out to
    * 16-64 hive leaves, and the default threshold (32 paths) launches a
    * DISTRIBUTED listing job for anything wider — one extra Spark job per
    * read of a 64-leaf dataset, far slower than the driver listing a
    * local/fast filesystem. Raised so listing stays driver-side up to
    * 1024 dirs. */
  private val ListingThreshold = 1024

  /** Generated-class cache: one warehouse load compiles about 330
    * whole-stage classes, and Spark's default cache of 100 evicts them
    * before the same load, or the next one, asks for them again. Sized
    * well above one load's classes, so a repeated load compiles none. */
  private val CodegenCacheEntries = 5000

  // AQE stays at Spark's defaults. Bytes-based coalescing
  // (coalescePartitions.parallelismFirst=false + a 64m advisory) was
  // A/B-tested and rejected (OPTIMIZATION_r19.md): this catalog's
  // shuffles are byte-small but compute-dense, so sizing reducers by
  // bytes serializes CPU-bound stages.

  /** `local[cpus]` with `cpus` shuffle partitions, UI off, UTC session
    * time zone, a throwaway warehouse dir and WARN logging. Parquet
    * TIMESTAMP(NANOS) columns read as long; `engine.Tables` normalizes
    * them back to microsecond timestamps. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        ListingThreshold.toString)
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
