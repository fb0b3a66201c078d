package graft

import org.apache.spark.sql.SparkSession

/** The one builder for the program's own local sessions. */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI and WARN logging. The `execution.window` logger is
    * silenced: the whitelisted k-bounded unpartitioned windows (each
    * justified in PlanAuditSpec) log `WindowExec: No Partition Defined`
    * on every run and bury the one JSON line Bench prints.
    *
    * The partition-discovery threshold is 128, not Spark's 32: a stored
    * `Layout` version's `rows/` holds one partition dir per file (64 at
    * the base grid), so at 32 every version read planned a distributed
    * listing job (about 0.13 s each, measured) to list 64 local dirs the
    * driver stats in under a millisecond. Stores past 128 partition dirs
    * still take the distributed listing. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
