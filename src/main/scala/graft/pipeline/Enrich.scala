package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Centroids, DenStream, Embed}
import graft.ops.Tables

/** End-to-end enrichment pipelines — the engine's equivalents of the
  * reference entry points (`scripts/run_incremental_batch.py`,
  * `scripts/run_training_batch.py`; lifecycle in SURVEY.md §3).
  *
  * The `events` fixture stands in for the `logs` table via [[logView]]:
  * event_type maps onto `level`-like severity, `props` onto `parsed_data`,
  * and `message` is synthesized the way the reference synthesizes embedding
  * text (`f"{message}. Parsed: {parsed_data}"`,
  * run_incremental_batch.py:77).
  */
object Enrich {

  /** Calibrated defaults (CalibrateSpec; hashing-embedder space). */
  val DefaultLimit = 5000
  val DefaultEpsilon = 1.0
  val DefaultSemThreshold = 1.8

  /** Log-shaped view of events (SURVEY.md §7.2 step 3 recast). */
  def logView(spark: SparkSession, sfDir: String): DataFrame =
    logColumns(Tables.events(spark, sfDir))

  /** [[logView]]'s projection, over any frame with the `events`
    * columns (a table scan or a stream's micro-batch). */
  def logColumns(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("log_id"),
      col("ts"),
      when(col("event_type") === "error", "error")
        .when(col("event_type").isin("signup", "purchase"), "warning")
        .otherwise("info").as("level"),
      concat(lit("svc_"), pmod(col("user_id"), lit(5))).as("source"),
      concat(col("event_type"), lit(" user="), col("user_id")).as("message"),
      col("props").as("parsed_data"),
      col("event_type"))

  /** The rows the reference enriches: warning and error levels, over
    * any [[logColumns]] frame. */
  def kept(logs: DataFrame): DataFrame =
    logs.filter(col("level").isin("warning", "error"))

  /** The embedding of the text exactly as the reference composes it
    * (H2), over any [[logColumns]] frame. One expression, with no text
    * column of its own: over the training sample's `orderBy.limit` it
    * then plans as one top-k pass over `events`, where a separate text
    * column would plan a range sort with its own sampling scan. */
  def withEmbedding(logs: DataFrame): DataFrame =
    logs.withColumn("embedding", Embed.embedCol(
      concat(col("message"), lit(". Parsed: "), col("parsed_data"))))

  /** Training batch (§3.2): bounded ordered sample → embed → semantic
    * grouping → DenStream fit → distributed predict. Runs `f` over the
    * enriched frame (sample columns plus `embedding`, `cluster_id` and
    * `semantic_group`) and the fitted model, and returns its result.
    *
    * The sample is embedded once and cached, and the semantic fold runs
    * once, into a driver-side map of assignments looked up by id; so
    * every plan `f` builds on the enriched frame reads the cache, never
    * the `events` scan or the fold. The cache is released
    * before this returns, so `f` must materialize whatever it keeps. */
  def trainingBatch[T](spark: SparkSession, sfDir: String,
      limit: Int = DefaultLimit, epsilon: Double = DefaultEpsilon,
      semThreshold: Double = DefaultSemThreshold)(
      f: (DataFrame, DenStream.Model) => T): T = {
    // epsilon/semThreshold are calibrated for the hashing-embedder space
    // (CalibrateSpec sweep: eps=1.0 → homogeneity .99 vs event_type); the
    // reference's 0.9 / 0.35 are MiniLM-space values (model.py:10-15,
    // run_incremental_batch.py:49) and do not transfer (SURVEY §7.4 r3).
    val logs = kept(logView(spark, sfDir))
      .orderBy("log_id")
      .limit(limit)
    val embedded = withEmbedding(logs)
    embedded.cache()
    try {
      // the fit's collect fills the cache; the fold then reads it
      val model = DenStream.fit(embedded, "log_id", "embedding", epsilon)
      val groups = Centroids.assign(embedded, "log_id", "embedding",
          semThreshold).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // assignments joined back by id through a lookup (null: no group)
      val group = udf((id: java.lang.Long) =>
        if (id == null) null else groups.getOrElse(id.longValue, null))
      val enriched = DenStream
        .withPredictions(embedded, model, "embedding")
        .withColumn("semantic_group", group(col("log_id")))
      f(enriched, model)
    } finally embedded.unpersist(blocking = true)
  }

  /** Incremental batch (§3.1): score a [lo, hi] id range with a frozen
    * model — inference only (the incremental path never learns,
    * SURVEY.md §3.1 note). */
  def incrementalBatch(spark: SparkSession, sfDir: String,
      model: DenStream.Model, centroids: Array[Centroids.Centroid],
      lo: Long, hi: Long,
      semThreshold: Double = DefaultSemThreshold): DataFrame =
    score(logView(spark, sfDir).filter(col("log_id").between(lo, hi)),
      model, centroids, semThreshold)

  /** The scoring step of an incremental batch, over any [[logColumns]]
    * frame: keep the warning and error rows, embed them, then assign
    * each its semantic group against `centroids` and its cluster
    * against the frozen `model`. */
  def score(logs: DataFrame, model: DenStream.Model,
      centroids: Array[Centroids.Centroid],
      semThreshold: Double = DefaultSemThreshold): DataFrame = {
    val withSem = Centroids.scoreAgainst(withEmbedding(kept(logs)), centroids,
      "embedding", semThreshold)
    DenStream.withPredictions(withSem, model, "embedding")
  }
}
