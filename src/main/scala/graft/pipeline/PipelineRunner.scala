package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Observation, Row, SparkSession,
  functions => F}
import org.apache.spark.sql.types._

import graft.ml.{Centroids, DenStream, Embed}
import graft.state.ModelStore

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
    * [[graft.ml.VolumeAnomaly.mergeIncidents]] plus their creation time. */
  val IncidentsSchema: StructType = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("action", StringType),
    StructField("status", StringType),
    StructField("assigned_role", StringType),
    StructField("created_at", TimestampType)))

  /** §3.2: train + blue/green publish + bulk enriched write (the
    * reference's CSV-staging-then-one-transaction, as a single parquet
    * write). */
  def train(spark: SparkSession, sfDir: String, stateDir: String,
      outDir: String): Unit = {
    val (enriched, model) = Enrich.trainingBatch(spark, sfDir)
    // persist model state (A12) with blue/green swap (A13); centroids fit
    // from the SAME cached embedded frame the model trained on — no
    // re-embedding, no drift between persisted state and fitted model
    ModelStore.save(DenStream.stateDF(spark, model), stateDir, "denstream")
    ModelStore.save(
      Centroids.fitCentroids(enriched, "log_id", "embedding",
        Enrich.DefaultSemThreshold),
      stateDir, "centroids")
    // log_embeddings-analog sink: one set-oriented write (A5 bulk form);
    // the row count rides along as an observed metric of that write, so
    // the enrichment plan (with its sequential fold) runs once
    val written = Observation("log_embeddings")
    enriched
      .observe(written, F.count(F.lit(1)).as("rows"))
      .withColumn("embedding", F.col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$outDir/log_embeddings")
    println(s"[train] micro-clusters=${model.clusters.length} " +
      s"rows=${written.get("rows")}")
  }

  /** §3.1: inference-only scoring of [lo, hi] + volume history append +
    * incident merge + batch commit marker.
    *
    * Every plan runs exactly once and every table is read with its
    * fixed schema (no inference job; the `events` fixture's is
    * `Tables.EventsSchema`). The batch's Spark jobs, in order (11 to 13;
    * budget, pinned by RunnerSpec: at most 15):
    *   1. load `denstream` state (schema given) and collect it — 1 job
    *   2. load `centroids` state (schema given) and collect it — 1 job
    *   3. score the id range, cache it, write `log_embeddings_incr` — 1 job
    *   4. per-cluster counts over the cached batch, noise included, so
    *      their sum is the row total — 1 job
    *   5. append the non-noise counts to `cluster_volume_history` from a
    *      one-partition local frame — 1 job
    *   6. volume features over the history (schema given) and
    *      `VolumeAnomaly`'s scored checkpoint — 1 job
    *   7. merge against open `incidents` (schema given) and collect the
    *      ≤ 3 flagged rows — 3 to 5 jobs, one per adaptive query stage
    *   8. append those rows to `incidents` from a local frame — 1 job
    *   9. append the `batch_order` commit marker — 1 job
    */
  def incremental(spark: SparkSession, sfDir: String, stateDir: String,
      outDir: String, lo: Long, hi: Long): Unit = {
    // hyperparameters come from the persisted state itself — inference
    // can never drift from the trained epsilon (args are only fallback)
    val model = DenStream.fromStateDF(
      ModelStore.load(spark, stateDir, "denstream", DenStream.StateSchema))
    val centroids = ModelStore.load(spark, stateDir, "centroids",
        Centroids.StateSchema).collect()
      .map(r => Centroids.Centroid(r.getString(0),
        r.getSeq[Float](1).toArray, r.getLong(2)))
    val enriched = Enrich.incrementalBatch(spark, sfDir, model, centroids,
      lo, hi)
    enriched.cache() // consumed by two actions: the write and the counts
    enriched
      .withColumn("embedding", F.col("embedding").cast("array<float>"))
      .write.mode("overwrite").parquet(s"$outDir/log_embeddings_incr")
    // per-cluster counts, noise (-1) included so they sum to the batch's
    // rows; an RDD reduce is one job where an AQE aggregate is two
    val counts = enriched.select("cluster_id").as(Encoders.scalaInt).rdd
      .countByValue()
    enriched.unpersist()

    // volume history append with ingest timestamp (A7)
    appendStamped(spark,
      counts.toSeq.sorted.collect { case (c, n) if c >= 0 => Row(c, n) },
      HistorySchema, s"$outDir/cluster_volume_history")

    // incidents over the full history (E1 last-5 window feeds features)
    val history = spark.read.schema(HistorySchema)
      .parquet(s"$outDir/cluster_volume_history")
      .withColumn("batch_ts", F.unix_micros(F.col("batch_timestamp")))
      .select("cluster_id", "batch_ts", "log_count")
    val feats = graft.ml.VolumeAnomaly.features(history)
    val flagged = graft.ml.VolumeAnomaly.rankAnomalies(feats)
    // absent table = no open incidents; any other read failure propagates
    // (a corrupt incidents table must not silently become "create all")
    val open =
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$outDir/incidents")))
        spark.read.schema(IncidentsSchema).parquet(s"$outDir/incidents")
          .filter(F.col("status").isin("NEW", "OPEN"))
          .select("cluster_id").distinct()
      else flagged.select("cluster_id").limit(0)
    // at most `rankAnomalies`' cap rows: collect once and write what was
    // collected, so the scoring plan is not run a second time for a count
    val incidents =
      graft.ml.VolumeAnomaly.mergeIncidents(flagged, open).collect()
    appendStamped(spark, incidents.toSeq, IncidentsSchema,
      s"$outDir/incidents")

    // batch commit marker (A9/I1)
    spark.createDataFrame(Seq((lo, hi, "COMPLETED")))
      .toDF("start_id", "end_id", "status")
      .withColumn("last_processed_timestamp", F.current_timestamp())
      .write.mode("append").parquet(s"$outDir/batch_order")
    println(s"[incremental] range=[$lo,$hi] rows=${counts.values.sum} " +
      s"incidents=${incidents.length}")
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
