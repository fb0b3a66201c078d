package graft.pipeline

import org.apache.spark.sql.{SparkSession, functions => F}

import graft.ml.Quality

/** Quality-audit entry point mirroring `scripts/validate_quality.py`
  * (SURVEY.md §3.3): sample scored rows, compute homogeneity /
  * completeness vs the source+level-style truth label and silhouette over
  * the embeddings, apply the reference's own thresholds
  * (validate_quality.py:84-102: homogeneity >0.8 pass / >0.5 warn;
  * silhouette >0.4 / >0.1), print the top-3-clusters eyeball sample.
  *
  * Usage: runMain graft.pipeline.QualityRunner <sfDir> [limit]
  */
object QualityRunner {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val limit = if (args.length > 1) args(1).toInt else 2000
    val spark =
      graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, sfDir, limit) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, limit: Int): Unit = {
    import spark.implicits._
    Enrich.trainingBatch(spark, sfDir, limit = limit) { (enriched, _) =>
      val scored = enriched.filter($"cluster_id" >= 0).cache()

      def verdict(v: Double, pass: Double, warn: Double): String =
        if (v > pass) "PASS" else if (v > warn) "WARN" else "FAIL"

      // two truth granularities: the reference's source+"_"+level analog
      // (fine, 15 classes — harsher than 3 event-type clusters can satisfy)
      // and the event-type truth the pipeline is calibrated against
      Seq(
        "source_event" -> F.concat_ws("_", $"source", $"event_type"),
        "event_type" -> $"event_type")
        .foreach { case (name, truthCol) =>
          val hc = Quality.homogeneityCompleteness(
            scored.withColumn("truth", truthCol), "truth", "cluster_id")
            .collect()(0)
          println(f"[$name] homogeneity=${hc.getDouble(0)}%.4f " +
            f"[${verdict(hc.getDouble(0), 0.8, 0.5)}] " +
            f"completeness=${hc.getDouble(1)}%.4f")
        }
      val sil = Quality.silhouette(scored, "log_id", "embedding", "cluster_id")
        .collect()(0).getDouble(0)
      println(f"silhouette=$sil%.4f [${verdict(sil, 0.4, 0.1)}]")

      // eyeball sample: top-3 clusters x 3 messages (D6 + F6)
      val top = scored.groupBy($"cluster_id").count()
        .orderBy($"count".desc, $"cluster_id").limit(3)
        .select($"cluster_id").as[Int].collect()
      top.foreach { cid =>
        println(s"cluster $cid samples:")
        scored.filter($"cluster_id" === cid)
          .orderBy($"log_id").limit(3)
          .select(F.substring($"message", 1, 60))
          .collect().foreach(r => println(s"  ${r.getString(0)}"))
      }
      scored.unpersist()
    }
  }
}
