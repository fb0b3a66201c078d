// Plan-inspection harness (dev tooling): prints formatted physical plans
// for selected queries so pushdown/broadcast/codegen can be reviewed.
// Run: sbt "runMain graft.tools.Explain q01_agg q17_join_agg"
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.local(4)
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
