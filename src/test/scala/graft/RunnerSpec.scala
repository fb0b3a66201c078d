package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TestJobs
import org.apache.spark.sql.{Row, functions => F}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Centroids, DenStream}
import graft.pipeline.PipelineRunner

object RunnerSpec {
  /** What one incremental batch left behind, observed right after it. */
  final case class Batch(jobs: Int, historyFiles: Int, incidentFiles: Int,
      enrichedNonNoise: Long, historyRows: Long, historyLogCount: Long,
      batchTs: java.sql.Timestamp)

  /** The parquet footer schema of every table `train` and `incremental`
    * write, `required` (not null) marks included: readers of these
    * tables see the same types and nullability whichever way a writer
    * builds its rows (a `lit` stamp keeps `required`, a value read back
    * from a Row schema would not). */
  val FooterSchemas: Map[String, String] = Map(
    "state/denstream" -> """message spark_schema {
      |  required int32 cluster_id;
      |  optional group center (LIST) {
      |    repeated group list {
      |      required double element;
      |    }
      |  }
      |  required double weight;
      |  required int64 last_t;
      |  required double epsilon;
      |  required double lambda;
      |}""",
    "state/centroids" -> """message spark_schema {
      |  optional binary semantic_group (STRING);
      |  optional group center (LIST) {
      |    repeated group list {
      |      optional float element;
      |    }
      |  }
      |  required int64 n;
      |}""",
    "out/log_embeddings" -> """message spark_schema {
      |  optional int64 log_id;
      |  optional int96 ts;
      |  required binary level (STRING);
      |  optional binary source (STRING);
      |  optional binary message (STRING);
      |  optional binary parsed_data (STRING);
      |  optional binary event_type (STRING);
      |  optional group embedding (LIST) {
      |    repeated group list {
      |      required float element;
      |    }
      |  }
      |  required int32 cluster_id;
      |  optional binary semantic_group (STRING);
      |}""",
    "out/log_embeddings_incr" -> """message spark_schema {
      |  optional int64 log_id;
      |  optional int96 ts;
      |  required binary level (STRING);
      |  optional binary source (STRING);
      |  optional binary message (STRING);
      |  optional binary parsed_data (STRING);
      |  optional binary event_type (STRING);
      |  optional group embedding (LIST) {
      |    repeated group list {
      |      required float element;
      |    }
      |  }
      |  optional binary semantic_group (STRING);
      |  required int32 cluster_id;
      |}""",
    "out/cluster_volume_history" -> """message spark_schema {
      |  optional int32 cluster_id;
      |  optional int64 log_count;
      |  required int96 batch_timestamp;
      |}""",
    "out/incidents" -> """message spark_schema {
      |  optional int32 cluster_id;
      |  optional binary action (STRING);
      |  optional binary status (STRING);
      |  optional binary assigned_role (STRING);
      |  required int96 created_at;
      |}""",
    "out/batch_order" -> """message spark_schema {
      |  required int64 start_id;
      |  required int64 end_id;
      |  optional binary status (STRING);
      |  required int96 last_processed_timestamp;
      |}""").map { case (k, v) => k -> v.stripMargin }
}

/** End-to-end entry-point coverage: the train → incremental CLI cycle
  * produces all reference-analog sink tables with committed batches.
  */
class RunnerSpec extends AnyFunSuite {
  import RunnerSpec.{Batch, FooterSchemas}
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def partFiles(dir: String): Int =
    new java.io.File(dir).list().count(_.endsWith(".parquet"))

  /** The footer schema of the first part file under `dir`. */
  private def footer(dir: String): String = {
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val in = HadoopInputFile.fromPath(new Path(part.toString),
      new Configuration())
    scala.util.Using.resource(ParquetFileReader.open(in))(
      _.getFooter.getFileMetaData.getSchema.toString.trim)
  }

  /** Persisted RDDs and their summed storage memory after a full GC: a
    * cache or checkpoint nothing holds any more is gone (Spark tracks
    * them weakly), one the program still holds is not. */
  private def persisted(): (Int, Long) = {
    System.gc()
    val sc = spark.sparkContext
    TestJobs.drain(sc)
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum)
  }

  /** train, then two incremental batches; each batch is observed before
    * the next one overwrites `log_embeddings_incr`. */
  lazy val run: (String, Int, Seq[Batch]) = {
    val tmp = Files.createTempDirectory("graft-sinks").toString
    val out = s"$tmp/out"
    val trainJobs = TestJobs.count(spark.sparkContext)(
      PipelineRunner.train(spark, sf, s"$tmp/state", out))
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
    (tmp, trainJobs, batches)
  }

  test("train then two incremental batches fill all sink tables") {
    val tmp = Files.createTempDirectory("graft-run").toString
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
    val batches = run._3
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
    val (tmp, _, _) = run
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

  test("footer schemas: every state and sink table keeps its parquet " +
      "types and not-null marks") {
    val (tmp, _, _) = run
    FooterSchemas.foreach { case (table, want) =>
      assert(footer(s"$tmp/$table") == want, table)
    }
  }

  test("job budget: one incremental batch submits at most 12 Spark jobs") {
    // the second batch is the costlier one: it also reads the history
    // and incidents the first batch wrote
    run._3.foreach(b => assert(b.jobs <= 12, s"${b.jobs} jobs"))
  }

  test("job budget: train submits at most 7 Spark jobs") {
    assert(run._2 <= 7, s"${run._2} jobs")
  }

  test("a batch scores its own counts once, however far the history " +
      "append beside it has got") {
    val dir = Files.createTempDirectory("graft-hist").toString + "/h"
    def counts(rows: Seq[Row], at: String) = spark.createDataFrame(
        rows.asJava, StructType(PipelineRunner.HistorySchema.init))
      .withColumn("batch_timestamp", F.lit(java.time.Instant.parse(at)))
    counts(Seq(Row(0, 3L), Row(1, 4L)), "2099-01-01T00:00:00Z")
      .write.parquet(dir)
    val now = "2100-01-01T00:00:00Z"
    val batch = counts(Seq(Row(0, 5L), Row(1, 7L)), now)
    val scored = PipelineRunner.historyWith(spark, dir, batch)
    // the append lands after the scoring input was built, before it runs
    batch.coalesce(1).write.mode("append").parquet(dir)
    val current = scored
      .filter(F.col("batch_timestamp") === F.lit(java.time.Instant.parse(now)))
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(current == Map(0 -> 1L, 1 -> 1L))
    assert(scored.count() == 4)
  }

  test("train publishes neither state table when one of its writes " +
      "fails") {
    val tmp = Files.createTempDirectory("graft-trainfail").toString
    val state = s"$tmp/state"
    PipelineRunner.train(spark, sf, state, s"$tmp/out")
    def rows(name: String) = spark.read.parquet(s"$state/$name")
      .collect().map(_.toString).sorted.toSeq
    val before = Seq("denstream", "centroids").map(rows)
    // an output path under a plain file: the log_embeddings write fails
    // while both state tables stage
    Files.createFile(Paths.get(s"$tmp/blocked"))
    intercept[Exception](
      PipelineRunner.train(spark, sf, state, s"$tmp/blocked"))
    assert(Seq("denstream", "centroids").map(rows) == before)
    assert(!Files.exists(Paths.get(s"$state/denstream_backup")))
    assert(!Files.exists(Paths.get(s"$state/centroids_backup")))
    // and leaves no staged attempt behind
    val staging = Paths.get(s"$state/_staging")
    assert(!Files.exists(staging) ||
      scala.util.Using.resource(Files.list(staging))(_.count()) == 0,
      s"train left staged dirs under $staging")
  }

  test("a failing incident scoring writes no incidents and no marker") {
    val tmp = Files.createTempDirectory("graft-scorefail").toString
    val (state, out) = (s"$tmp/state", s"$tmp/out")
    PipelineRunner.train(spark, sf, state, out)
    PipelineRunner.incremental(spark, sf, state, out, 400, 699)
    // a corrupt part file in the history fails the volume features
    Files.write(Paths.get(s"$out/cluster_volume_history/part-99999.parquet"),
      "not parquet".getBytes)
    intercept[Exception](
      PipelineRunner.incremental(spark, sf, state, out, 700, 999))
    assert(partFiles(s"$out/incidents") == 1)
    assert(spark.read.parquet(s"$out/batch_order").count() == 1)
  }

  test("train, incremental, q33 and q34 leave no persisted RDD behind") {
    val tmp = Files.createTempDirectory("graft-leak").toString
    val (state, out) = (s"$tmp/state", s"$tmp/out")
    val steps: Seq[(String, () => Unit)] = Seq(
      "train" -> (() => PipelineRunner.train(spark, sf, state, out)),
      "incremental" -> (() =>
        PipelineRunner.incremental(spark, sf, state, out, 400, 699)),
      "q33" -> (() =>
        SparkEntry.queries("q33_denstream")(spark, sf).collect()),
      "q34" -> (() =>
        SparkEntry.queries("q34_pipeline_e2e")(spark, sf).collect()))
    steps.foreach { case (name, step) =>
      val before = persisted()
      step()
      assert(persisted() == before, name)
    }
  }
}
