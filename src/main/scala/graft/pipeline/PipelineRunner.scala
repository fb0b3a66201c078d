package graft.pipeline

import scala.jdk.CollectionConverters._

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession,
  functions => F}
import org.apache.spark.sql.types._

import graft.ml.{Centroids, DenStream}
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
    * [[graft.ml.VolumeAnomaly.mergeIncidents]] plus their creation time. */
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
    * fixed schema (no inference job). The batch's Spark jobs, in order
    * (10 to 12; budget, pinned by RunnerSpec: at most 12):
    *   1. load `denstream` and `centroids` state and collect them — 2
    *      jobs that overlap
    *   2. score the id range and write `log_embeddings_incr`; the
    *      per-cluster counts are observed metrics of that write — 1 job
    *   3. these two overlap:
    *      - append the non-noise counts to `cluster_volume_history` from
    *        a one-partition local frame — 1 job
    *      - score incidents over the history as listed before that
    *        append, plus the same counts: volume features and
    *        `VolumeAnomaly`'s scored checkpoint (1 job), then the merge
    *        against open `incidents` and the collect of the ≤ 3 flagged
    *        rows (3 to 5 jobs, one per adaptive query stage)
    *   4. append those rows to `incidents` from a local frame — 1 job
    *   5. append the `batch_order` commit marker — 1 job
    * A failure in step 3's scoring writes no incidents and no marker. */
  def incremental(spark: SparkSession, sfDir: String, stateDir: String,
      outDir: String, lo: Long, hi: Long): Unit = {
    // hyperparameters come from the persisted state itself — inference
    // can never drift from the trained epsilon (args are only fallback)
    var model: DenStream.Model = null
    var centroids: Array[Centroids.Centroid] = null
    Par.inParallel(
      () => model = DenStream.fromStateDF(
        ModelStore.load(spark, stateDir, "denstream", DenStream.StateSchema)),
      () => centroids = ModelStore.load(spark, stateDir, "centroids",
          Centroids.StateSchema).collect()
        .map(r => Centroids.Centroid(r.getString(0),
          r.getSeq[Float](1).toArray, r.getLong(2))))
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

    // this batch's volume rows (A7), stamped once on the driver: the
    // history append writes them and the scoring reads them from memory
    val stamp = java.time.Instant.now()
    val batch = spark.createDataFrame(
        counts.collect { case (c, n) if c >= 0 && n > 0 => Row(c, n) }
          .asJava, StructType(HistorySchema.init))
      .withColumn(HistorySchema.last.name, F.lit(stamp))
    val historyDir = s"$outDir/cluster_volume_history"
    // incidents over the full history (E1 last-5 window feeds features)
    val history = historyWith(spark, historyDir, batch)
      .withColumn("batch_ts", F.unix_micros(F.col("batch_timestamp")))
      .select("cluster_id", "batch_ts", "log_count")
    val feats = graft.ml.VolumeAnomaly.features(history)
    val flagged = graft.ml.VolumeAnomaly.rankAnomalies(feats)
    // absent table = no open incidents; any other read failure propagates
    // (a corrupt incidents table must not silently become "create all")
    val open =
      if (Files.exists(Paths.get(s"$outDir/incidents")))
        spark.read.schema(IncidentsSchema).parquet(s"$outDir/incidents")
          .filter(F.col("status").isin("NEW", "OPEN"))
          .select("cluster_id").distinct()
      else flagged.select("cluster_id").limit(0)
    // at most `rankAnomalies`' cap rows: collect once and write what was
    // collected, so the scoring plan is not run a second time for a count
    var incidents: Array[Row] = null
    Par.inParallel(
      () => batch.coalesce(1).write.mode("append").parquet(historyDir),
      () => incidents =
        graft.ml.VolumeAnomaly.mergeIncidents(flagged, open).collect())
    appendStamped(spark, incidents.toSeq, IncidentsSchema,
      s"$outDir/incidents")

    // batch commit marker (A9/I1)
    spark.createDataFrame(Seq((lo, hi, "COMPLETED")))
      .toDF("start_id", "end_id", "status")
      .withColumn("last_processed_timestamp", F.current_timestamp())
      .write.mode("append").parquet(s"$outDir/batch_order")
    println(s"[incremental] range=[$lo,$hi] rows=$rows " +
      s"incidents=${incidents.length}")
  }

  /** The volume history a batch scores: the history under `dir` as
    * listed now, plus the batch's own rows `batch` (in [[HistorySchema]]).
    * The file listing is fixed here, before the append of `batch` to
    * `dir` starts, so that append can run beside the scoring without
    * its rows being counted twice. */
  private[graft] def historyWith(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    if (Files.exists(Paths.get(dir)))
      spark.read.schema(HistorySchema).parquet(dir).unionByName(batch)
    else batch

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
