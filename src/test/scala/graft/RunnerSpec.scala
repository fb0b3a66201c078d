package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TestJobs
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Centroids, DenStream, VolumeAnomaly}
import graft.ml.VolumeAnomaly.ClusterVolume
import graft.pipeline.PipelineRunner

object RunnerSpec {
  /** What one incremental batch left behind, observed right after it. */
  final case class Batch(jobs: Int, historyFiles: Int, incidentFiles: Int,
      enrichedNonNoise: Long, historyRows: Long, historyLogCount: Long,
      batchTs: java.sql.Timestamp)

  /** What one batch scored: the rows it appended to `incidents` (without
    * their creation time), sorted, and the `volume_state` it left. */
  final case class Scored(incidents: Seq[(Int, String, String, String)],
      state: Seq[ClusterVolume])

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
    "out/volume_state" -> """message spark_schema {
      |  required int32 cluster_id;
      |  optional group counts (LIST) {
      |    repeated group list {
      |      required int64 element;
      |    }
      |  }
      |  required boolean open;
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
  import RunnerSpec.{Batch, FooterSchemas, Scored}
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
    assert(schema(s"$tmp/out/volume_state") == VolumeAnomaly.StateSchema)
  }

  test("footer schemas: every state and sink table keeps its parquet " +
      "types and not-null marks") {
    val (tmp, _, _) = run
    FooterSchemas.foreach { case (table, want) =>
      assert(footer(s"$tmp/$table") == want, table)
    }
  }

  test("job budget: one incremental batch submits at most 8 Spark jobs") {
    // the second batch is the costlier one: it also loads the volume
    // state the first batch published
    run._3.foreach(b => assert(b.jobs <= 8, s"${b.jobs} jobs"))
  }

  test("job budget: train submits at most 7 Spark jobs") {
    assert(run._2 <= 7, s"${run._2} jobs")
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
    // a corrupt part file in the volume state fails the scoring input
    val volume = Paths.get(s"$out/volume_state")
    Files.write(volume.resolve("part-99999.parquet"), "not parquet".getBytes)
    val listing = new java.io.File(volume.toString).list().sorted.toSeq
    intercept[Exception](
      PipelineRunner.incremental(spark, sf, state, out, 700, 999))
    assert(partFiles(s"$out/incidents") == 1)
    assert(spark.read.parquet(s"$out/batch_order").count() == 1)
    // and the state was not republished
    assert(new java.io.File(volume.toString).list().sorted.toSeq == listing)
    assert(!Files.exists(Paths.get(s"$out/volume_state_backup")))
  }

  val sf01 = Paths.get(sf).resolveSibling("sf0.01").toString
  /** sf0.01's ids after the training sample, in batches of 500: the third
    * batch opens an incident that the sixth refreshes. */
  val ranges01: Seq[(Long, Long)] =
    (0 until 6).map(i => (5000L + 500 * i, 5499L + 500 * i))

  private def incidentRows(out: String): Seq[(Int, String, String, String)] =
    if (!Files.exists(Paths.get(s"$out/incidents"))) Seq.empty
    else spark.read.parquet(s"$out/incidents").collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))
      .sorted

  private def volumeState(out: String): Seq[ClusterVolume] =
    VolumeAnomaly.fromStateRows(
      spark.read.parquet(s"$out/volume_state").collect().toSeq)
      .sortBy(_.clusterId)

  /** Runs one incremental batch of sf0.01 over `tmp`'s state and sinks. */
  private def batch01(tmp: String, range: (Long, Long)): Scored = {
    val before = incidentRows(s"$tmp/out")
    PipelineRunner.incremental(spark, sf01, s"$tmp/state", s"$tmp/out",
      range._1, range._2)
    Scored(incidentRows(s"$tmp/out").diff(before), volumeState(s"$tmp/out"))
  }

  /** train on sf0.01, then every batch of `ranges01`, each paired with
    * the DataFrame scorer's result over the sinks as read back at that
    * point: `features` → `rankAnomalies` → `mergeIncidents` over the
    * whole history and the incidents open before the batch, and the
    * last 5 counts of each cluster in the history. */
  lazy val run01: Seq[(Scored, Scored)] = {
    val tmp = Files.createTempDirectory("graft-run01").toString
    val out = s"$tmp/out"
    PipelineRunner.train(spark, sf01, s"$tmp/state", out)
    def open() =
      if (!Files.exists(Paths.get(s"$out/incidents")))
        Set.empty[Int]
      else spark.read.parquet(s"$out/incidents")
        .filter(F.col("status").isin("NEW", "OPEN"))
        .collect().map(_.getInt(0)).toSet
    ranges01.map { range =>
      val openBefore = open()
      val got = batch01(tmp, range)
      val history = spark.read.parquet(s"$out/cluster_volume_history")
        .select(F.col("cluster_id"),
          F.unix_micros(F.col("batch_timestamp")).as("batch_ts"),
          F.col("log_count"))
      val flagged = VolumeAnomaly.rankAnomalies(
        VolumeAnomaly.features(history))
      val incidents = VolumeAnomaly.mergeIncidents(flagged,
          spark.createDataFrame(openBefore.toSeq.map(Tuple1(_)))
            .toDF("cluster_id"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3)))
        .sorted
      val openAfter = open()
      val state = history.collect().groupBy(_.getInt(0)).toSeq
        .map { case (c, rs) => ClusterVolume(c,
          rs.sortBy(_.getLong(1)).map(_.getLong(2)).toVector
            .takeRight(VolumeAnomaly.WindowSize), openAfter(c)) }
        .sortBy(_.clusterId)
      (got, Scored(incidents, state))
    }
  }

  test("every batch's incidents and volume state equal the DataFrame " +
      "scorer's over the history and incidents sinks") {
    run01.zipWithIndex.foreach { case ((got, want), i) =>
      assert(got == want, s"batch $i")
    }
    // the run opens an incident and later refreshes it
    val actions = run01.map(_._1.incidents.map(r => (r._1, r._2)))
    val opened = actions.indexWhere(_.exists(_._2 == "create"))
    assert(opened >= 0, actions)
    val c = actions(opened).find(_._2 == "create").get._1
    assert(actions.drop(opened + 1).exists(_.contains(c -> "refresh")),
      actions)
  }

  test("a batch whose history append fails retries to the incidents " +
      "and volume state of an uninterrupted run") {
    val tmp = Files.createTempDirectory("graft-histfail").toString
    val out = s"$tmp/out"
    PipelineRunner.train(spark, sf01, s"$tmp/state", out)
    ranges01.take(2).foreach(batch01(tmp, _))
    val state = volumeState(out)
    // a plain file where the history dir was: the history append fails
    val history = Paths.get(s"$out/cluster_volume_history")
    val aside = Paths.get(s"$tmp/history_aside")
    Files.move(history, aside)
    Files.createFile(history)
    intercept[Exception](PipelineRunner.incremental(spark, sf01,
      s"$tmp/state", out, ranges01(2)._1, ranges01(2)._2))
    assert(volumeState(out) == state)
    assert(spark.read.parquet(s"$out/batch_order").count() == 2)
    val staging = Paths.get(s"$out/_staging")
    assert(scala.util.Using.resource(Files.list(staging))(_.count()) == 0)
    Files.delete(history)
    Files.move(aside, history)
    // the retry, and the batch after it
    val retried = ranges01.slice(2, 4).map(batch01(tmp, _))
    assert(retried == run01.slice(2, 4).map(_._1))
  }

  test("a batch rebuilds a deleted volume state from the sinks to the " +
      "incidents and state of a run that kept it") {
    val tmp = Files.createTempDirectory("graft-rebuild").toString
    val out = s"$tmp/out"
    PipelineRunner.train(spark, sf01, s"$tmp/state", out)
    ranges01.take(3).foreach(batch01(tmp, _))
    Seq("volume_state", "volume_state_backup")
      .foreach(n => graft.util.Fs.deleteRecursively(Paths.get(out, n)))
    val rebuilt = ranges01.drop(3).map(batch01(tmp, _))
    assert(rebuilt == run01.drop(3).map(_._1))
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
