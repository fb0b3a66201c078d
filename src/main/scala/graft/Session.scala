package graft

import org.apache.spark.sql.SparkSession

/** The one builder for the program's own local sessions. */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI and WARN logging. The `execution.window` logger is
    * silenced: the whitelisted k-bounded unpartitioned windows (each
    * justified in PlanAuditSpec) log `WindowExec: No Partition Defined`
    * on every run and bury the one JSON line Bench prints. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
