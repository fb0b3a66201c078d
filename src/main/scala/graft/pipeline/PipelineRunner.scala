package graft.pipeline

import scala.jdk.CollectionConverters._

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession,
  functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.ml.{Centroids, DenStream, VolumeAnomaly}
import graft.ml.VolumeAnomaly.ClusterVolume
import graft.state.ModelStore
import graft.util.Par

/** CLI entry points mirroring the reference's scripts (SURVEY.md §3):
  *
  *   train       — run_training_batch.py: bounded ordered sample → fit →
  *                 persist state blue/green → write enriched embeddings
  *   incremental — run_incremental_batch.py: load state, score an id
  *                 range, write enriched rows + volume history + incidents
  *
  * Usage:
  *   runMain graft.pipeline.PipelineRunner train <sfDir> <stateDir> <outDir>
  *   runMain graft.pipeline.PipelineRunner incremental <sfDir> <stateDir>
  *     <outDir> <loId> <hiId>
  */
object PipelineRunner {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val spark =
      graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try mode match {
      case "train" => train(spark, args(1), args(2), args(3))
      case "incremental" =>
        incremental(spark, args(1), args(2), args(3),
          args(4).toLong, args(5).toLong)
      case other => sys.error(s"unknown mode: $other")
    } finally spark.stop()
  }

  /** `cluster_volume_history` as parquet reads it back: one row per
    * cluster per batch. */
  val HistorySchema: StructType = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("log_count", LongType),
    StructField("batch_timestamp", TimestampType)))

  /** `incidents` as parquet reads it back: the rows of
    * [[graft.ml.VolumeAnomaly.scoreBatch]] plus their creation time. */
  val IncidentsSchema: StructType = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("action", StringType),
    StructField("status", StringType),
    StructField("assigned_role", StringType),
    StructField("created_at", TimestampType)))

  /** §3.2: train + blue/green publish + bulk enriched write (the
    * reference's CSV-staging-then-one-transaction, as a single parquet
    * write).
    *
    * Every plan runs once: the sample is embedded once and cached, the
    * one-partition semantic fold runs once, and the centroid state is
    * derived from its assignments. The Spark jobs, in order (7; budget,
    * pinned by RunnerSpec: at most 7):
    *   1. the `DenStream.fit` collect, which reads `events` once and
    *      fills the cache of the embedded sample — 1 job
    *   2. the semantic fold over the cache, collected — 2 jobs (the
    *      one-partition exchange, then the fold)
    *   3. three writes that overlap — 4 jobs: stage `denstream` (1),
    *      stage `centroids`, founder and size per group joined to the
    *      founder's vector (2), and write `log_embeddings` (1)
    *   4. publish both state tables — renames, no job
    * A failure in any of the three writes publishes no state and
    * leaves no staged attempt behind. */
  def train(spark: SparkSession, sfDir: String, stateDir: String,
      outDir: String): Unit =
    Enrich.trainingBatch(spark, sfDir) { (enriched, model) =>
      // log_embeddings-analog sink: one set-oriented write (A5 bulk
      // form); the row count rides along as an observed metric
      val written = Observation("log_embeddings")
      // persist model state (A12) with blue/green swap (A13): centroids
      // fit from the same enriched frame the model scored
      var den, cen: Path = null
      try Par.inParallel(
        () => den = ModelStore.stage(DenStream.stateDF(spark, model),
          stateDir, "denstream"),
        () => cen = ModelStore.stage(
          Centroids.fitCentroids(enriched, "log_id", "embedding"),
          stateDir, "centroids"),
        () => enriched
          .observe(written, F.count(F.lit(1)).as("rows"))
          .withColumn("embedding", F.col("embedding").cast("array<float>"))
          .write.mode("overwrite").parquet(s"$outDir/log_embeddings"))
      catch { case t: Throwable =>
        // a write failed: the attempts that did stage are never published
        Seq(den, cen).filter(_ != null).foreach(ModelStore.discard)
        throw t
      }
      ModelStore.publish(stateDir, "denstream", den)
      ModelStore.publish(stateDir, "centroids", cen)
      println(s"[train] micro-clusters=${model.clusters.length} " +
        s"rows=${written.get("rows")}")
    }

  /** §3.1: inference-only scoring of [lo, hi] + volume history append +
    * incident merge + batch commit marker.
    *
    * Every plan runs exactly once and every table is read with its
    * fixed schema (no inference job). The batch's incidents are scored
    * on the driver from `volume_state`, the bounded per-cluster state
    * under `outDir` ([[graft.ml.VolumeAnomaly.scoreBatch]]), so no job
    * reads the history or the incidents table. The batch's Spark jobs,
    * in order (7 or 8; budget, pinned by RunnerSpec: at most 8):
    *   1. load `denstream`, `centroids` and `volume_state` and collect
    *      them — 3 jobs that overlap. An absent `volume_state` is
    *      rebuilt from the sinks instead ([[volumeState]]): no job while
    *      neither sink exists, as on the first batch after `train`
    *   2. score the id range and write `log_embeddings_incr`; the
    *      per-cluster counts are observed metrics of that write — 1 job
    *   3. score the counts against the state on the driver — no job
    *   4. three writes that overlap — 3 jobs: append the non-noise
    *      counts to `cluster_volume_history`, append the incidents to
    *      `incidents`, and stage the next `volume_state`
    *   5. publish `volume_state` — renames, no job
    *   6. append the `batch_order` commit marker — 1 job
    * A failure before step 5 publishes no state and writes no marker:
    * the retry scores from the state the failed attempt started with,
    * so it counts the batch once. An append of step 4 that did land
    * stays in its sink (ROADMAP item 2). */
  def incremental(spark: SparkSession, sfDir: String, stateDir: String,
      outDir: String, lo: Long, hi: Long): Unit = {
    // hyperparameters come from the persisted state itself — inference
    // can never drift from the trained epsilon (args are only fallback)
    var model: DenStream.Model = null
    var centroids: Array[Centroids.Centroid] = null
    var volume: Seq[ClusterVolume] = null
    Par.inParallel(
      () => model = DenStream.fromStateDF(
        ModelStore.load(spark, stateDir, "denstream", DenStream.StateSchema)),
      () => centroids = ModelStore.load(spark, stateDir, "centroids",
          Centroids.StateSchema).collect()
        .map(r => Centroids.Centroid(r.getString(0),
          r.getSeq[Float](1).toArray, r.getLong(2))),
      () => volume = volumeState(spark, outDir))
    val enriched = Enrich.incrementalBatch(spark, sfDir, model, centroids,
      lo, hi)
    // per-cluster counts as observed metrics of the write, noise (-1)
    // included, so the enrichment plan runs once; every predicted id is
    // a model cluster or -1, so the counts must sum to the row total
    val ids = -1 +: model.clusters.map(_.id).sorted.toSeq
    val written = Observation("log_embeddings_incr")
    enriched
      .observe(written, F.count(F.lit(1)).as("rows"),
        ids.map(c => F.count_if(F.col("cluster_id") === c).as(s"c$c")): _*)
      .withColumn("embedding", F.col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$outDir/log_embeddings_incr")
    val observed = written.get
    val counts = ids.map(c => c -> observed(s"c$c").asInstanceOf[Long])
    val rows = observed("rows").asInstanceOf[Long]
    require(counts.map(_._2).sum == rows,
      s"per-cluster counts ${counts.mkString(",")} do not sum to $rows rows")

    // this batch's volume rows (A7) score against the state, on the
    // driver (E1 window + I4 features + C2 merge)
    val counted = counts.filter { case (c, n) => c >= 0 && n > 0 }
    val (incidents, next) = VolumeAnomaly.scoreBatch(volume, counted)
    var staged: Path = null
    try Par.inParallel(
      () => appendStamped(spark, counted.map { case (c, n) => Row(c, n) },
        HistorySchema, s"$outDir/cluster_volume_history"),
      () => appendStamped(spark, incidents, IncidentsSchema,
        s"$outDir/incidents"),
      () => staged = ModelStore.stage(
        VolumeAnomaly.stateDF(spark, next).coalesce(1), outDir,
        "volume_state"))
    catch { case t: Throwable =>
      // the batch failed: it is retried from the state it started with
      if (staged != null) ModelStore.discard(staged)
      throw t
    }
    ModelStore.publish(outDir, "volume_state", staged)

    // batch commit marker (A9/I1)
    spark.createDataFrame(Seq((lo, hi, "COMPLETED")))
      .toDF("start_id", "end_id", "status")
      .withColumn("last_processed_timestamp", F.current_timestamp())
      .write.mode("append").parquet(s"$outDir/batch_order")
    println(s"[incremental] range=[$lo,$hi] rows=$rows " +
      s"incidents=${incidents.length}")
  }

  /** The `volume_state` a batch of `outDir` starts from: the published
    * table, with ModelStore's fallback to its backup, or else the state
    * rebuilt from the sinks it summarizes — the last `WindowSize` counts
    * per cluster of `cluster_volume_history` (the reference's E1 fetch)
    * and the clusters with a `NEW`/`OPEN` row in `incidents`. A sink
    * that does not exist reads as empty, with no job. */
  private def volumeState(spark: SparkSession,
      outDir: String): Seq[ClusterVolume] =
    if (Seq("volume_state", "volume_state_backup")
        .exists(ModelStore.exists(outDir, _)))
      VolumeAnomaly.fromStateRows(ModelStore.load(spark, outDir,
        "volume_state", VolumeAnomaly.StateSchema).collect().toSeq)
    else {
      def read(name: String, schema: StructType)(f: DataFrame => Array[Row]) =
        if (!Files.exists(Paths.get(outDir, name))) Array.empty[Row]
        else f(spark.read.schema(schema).parquet(s"$outDir/$name"))
      var last, open: Array[Row] = null
      Par.inParallel(
        () => last = read("cluster_volume_history", HistorySchema)(
          _.withColumn("rn", F.row_number().over(Window
              .partitionBy("cluster_id")
              .orderBy(F.col("batch_timestamp").desc)))
            .filter(F.col("rn") <= VolumeAnomaly.WindowSize)
            .select("cluster_id", "rn", "log_count").collect()),
        () => open = read("incidents", IncidentsSchema)(
          _.filter(F.col("status").isin("NEW", "OPEN"))
            .select("cluster_id").distinct().collect()))
      // rn 1 is the newest count: a window lists its counts oldest first
      val windows = last.groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.sortBy(-_.getInt(1)).map(_.getLong(2)).toVector }
      val isOpen = open.map(_.getInt(0)).toSet
      (windows.keySet ++ isOpen).toSeq.sorted.map(c => ClusterVolume(c,
        windows.getOrElse(c, Vector.empty), isOpen(c)))
    }

  /** Append in-memory `rows` (every column of `schema` but the last) as
    * ONE part file, stamped with `current_timestamp()` in the last
    * column. A local frame is scanned in up to one partition per row,
    * hence the coalesce. */
  private def appendStamped(spark: SparkSession, rows: Seq[Row],
      schema: StructType, dir: String): Unit =
    spark.createDataFrame(rows.asJava, StructType(schema.init))
      .withColumn(schema.last.name, F.current_timestamp())
      .coalesce(1)
      .write.mode("append").parquet(dir)
}
