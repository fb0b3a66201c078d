package graft

import org.apache.spark.TestJobs
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Centroids, DenStream}
import graft.pipeline.PipelineRunner

object RunnerSpec {
  /** What one incremental batch left behind, observed right after it. */
  final case class Batch(jobs: Int, historyFiles: Int, incidentFiles: Int,
      enrichedNonNoise: Long, historyRows: Long, historyLogCount: Long,
      batchTs: java.sql.Timestamp)
}

/** End-to-end entry-point coverage: the train → incremental CLI cycle
  * produces all reference-analog sink tables with committed batches.
  */
class RunnerSpec extends AnyFunSuite {
  import RunnerSpec.Batch
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def partFiles(dir: String): Int =
    new java.io.File(dir).list().count(_.endsWith(".parquet"))

  /** train, then two incremental batches; each batch is observed before
    * the next one overwrites `log_embeddings_incr`. */
  lazy val run: (String, Seq[Batch]) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sinks").toString
    val out = s"$tmp/out"
    PipelineRunner.train(spark, sf, s"$tmp/state", out)
    val batches = Seq((400L, 699L), (700L, 999L)).map { case (lo, hi) =>
      val jobs = TestJobs.count(spark.sparkContext)(
        PipelineRunner.incremental(spark, sf, s"$tmp/state", out, lo, hi))
      val hist = spark.read.parquet(s"$out/cluster_volume_history")
      val ts = hist.agg(F.max("batch_timestamp")).head().getTimestamp(0)
      val last = hist.filter(F.col("batch_timestamp") === ts)
        .agg(F.count("*"), F.sum("log_count")).head()
      Batch(jobs, partFiles(s"$out/cluster_volume_history"),
        partFiles(s"$out/incidents"),
        spark.read.parquet(s"$out/log_embeddings_incr")
          .filter(F.col("cluster_id") >= 0).count(),
        last.getLong(0), last.getLong(1), ts)
    }
    (tmp, batches)
  }

  test("train then two incremental batches fill all sink tables") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-run").toString
    PipelineRunner.train(spark, sf, s"$tmp/state", s"$tmp/out")
    PipelineRunner.incremental(spark, sf, s"$tmp/state", s"$tmp/out",
      400, 699)
    PipelineRunner.incremental(spark, sf, s"$tmp/state", s"$tmp/out",
      700, 999)

    val emb = spark.read.parquet(s"$tmp/out/log_embeddings")
    assert(emb.count() > 0)
    assert(emb.columns.contains("cluster_id") &&
      emb.columns.contains("semantic_group") &&
      emb.columns.contains("embedding"))

    val hist = spark.read.parquet(s"$tmp/out/cluster_volume_history")
    assert(hist.count() > 0)
    assert(hist.columns.sorted
      .sameElements(Array("batch_timestamp", "cluster_id", "log_count")))

    val order = spark.read.parquet(s"$tmp/out/batch_order")
    assert(order.count() == 2)
    assert(order.collect().forall(_.getAs[String]("status") == "COMPLETED"))

    // incidents table exists (may be empty when the guard trips)
    val inc = spark.read.parquet(s"$tmp/out/incidents")
    assert(inc.columns.contains("action") && inc.columns.contains("status"))
  }

  test("sink parity: one file per batch, counts match the batch's " +
      "non-noise rows, batch timestamps increase") {
    val batches = run._2
    assert(batches.map(_.historyFiles) == Seq(1, 2))
    assert(batches.map(_.incidentFiles) == Seq(1, 2))
    batches.foreach { b =>
      assert(b.historyRows > 0)
      assert(b.historyLogCount == b.enrichedNonNoise)
    }
    assert(batches(0).batchTs.before(batches(1).batchTs))
  }

  test("sink schemas: incidents and batch_order unchanged, state and " +
      "sinks read back as the fixed read schemas") {
    val (tmp, _) = run
    def schema(dir: String) = spark.read.parquet(dir).schema
    def namesTypes(dir: String) =
      schema(dir).fields.map(f => f.name -> f.dataType.simpleString).toSeq
    assert(namesTypes(s"$tmp/out/incidents") == Seq("cluster_id" -> "int",
      "action" -> "string", "status" -> "string",
      "assigned_role" -> "string", "created_at" -> "timestamp"))
    assert(namesTypes(s"$tmp/out/batch_order") == Seq(
      "start_id" -> "bigint", "end_id" -> "bigint", "status" -> "string",
      "last_processed_timestamp" -> "timestamp"))
    // a column change in any writer must fail here, not silently break
    // the schema-given reads
    assert(schema(s"$tmp/state/denstream") == DenStream.StateSchema)
    assert(schema(s"$tmp/state/centroids") == Centroids.StateSchema)
    assert(schema(s"$tmp/out/cluster_volume_history") ==
      PipelineRunner.HistorySchema)
    assert(schema(s"$tmp/out/incidents") == PipelineRunner.IncidentsSchema)
  }

  test("job budget: one incremental batch submits at most 15 Spark jobs") {
    // the second batch is the costlier one: it also reads the history
    // and incidents the first batch wrote
    run._2.foreach(b => assert(b.jobs <= 15, s"${b.jobs} jobs"))
  }
}
