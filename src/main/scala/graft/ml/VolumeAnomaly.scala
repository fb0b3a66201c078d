package graft.ml

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-cluster volume time-series features + batch-relative anomaly
  * ranking (reference `src/ml/volume_analyzer.py`).
  *
  * Feature semantics (volume_analyzer.py:40-73, last-5 window per cluster):
  *   current   = last count
  *   velocity  = last − previous
  *   roll_mean = mean of visible window
  *   z_dev     = (last − roll_mean) / (roll_std + 1e-5)
  *
  * Scoring: the reference fits an IsolationForest and then *only* consumes
  * its scores through a batch-relative z-threshold (flag z < −1, cap 3,
  * skip if >30% flagged — volume_analyzer.py:125-156, incident_ops.py:87-97).
  * The engine's score is −|z_dev| (lower = more anomalous, same ordering
  * contract), which passes the identical gate without a driver-side forest
  * — a pure shuffle-once DataFrame plan (SURVEY.md §7.3 justification).
  *
  * The incremental batch scores on the driver instead, from bounded
  * per-cluster state ([[ClusterVolume]], [[scoreBatch]]): the last
  * `WindowSize` counts are all [[features]] reads of a cluster's
  * history, so the state scores a batch as the whole history would.
  */
object VolumeAnomaly {

  /** The rolling window of [[features]], in batches per cluster. */
  val WindowSize = 5

  /** The batch-relative gate of every scorer (volume_analyzer.py:125-156):
    * flag a score-z below `ZThresh`, emit none when more than `MaxRatio`
    * of the evaluated clusters flag, keep the worst `Cap`. */
  val ZThresh = -1.0
  val Cap = 3
  val MaxRatio = 0.3

  /** counts: (cluster_id, batch_ts, log_count) — one row per cluster per
    * batch. Returns latest-batch features per cluster. */
  def features(counts: DataFrame, windowSize: Int = WindowSize): DataFrame = {
    val byCluster = Window.partitionBy("cluster_id").orderBy("batch_ts")
    val lastN = byCluster.rowsBetween(-(windowSize - 1), 0)
    counts
      .withColumn("velocity",
        col("log_count") - lag("log_count", 1).over(byCluster))
      .withColumn("roll_mean", avg("log_count").over(lastN))
      .withColumn("roll_std", stddev_pop("log_count").over(lastN))
      .withColumn("z_dev",
        (col("log_count") - col("roll_mean")) / (col("roll_std") + lit(1e-5)))
      .withColumn("rn",
        row_number().over(Window.partitionBy("cluster_id")
          .orderBy(col("batch_ts").desc)))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("batch_ts"), col("log_count"),
        coalesce(col("velocity"), lit(0L)).as("velocity"),
        col("roll_mean"), col("roll_std"), col("z_dev"))
  }

  /** All clusters with score = −|z_dev| and batch-relative score_z
    * (volume_analyzer.py:125-139 before thresholding). `zdevRound`
    * stabilizes the flag set for oracle-differential comparison. */
  def scoredFeatures(feats: DataFrame,
      zdevRound: Option[Int] = None): DataFrame =
    withScoreZ(zdevScored(feats, zdevRound))

  /** `feats` with score = −|z_dev|. The batch stats aggregate AND the
    * main side both consume it — lazy checkpoint so the window pipeline
    * upstream materializes once (per-cluster rows, tiny) instead of
    * twice. */
  private def zdevScored(feats: DataFrame,
      zdevRound: Option[Int]): DataFrame = {
    val zdev = zdevRound.map(sc => round(col("z_dev"), sc))
      .getOrElse(col("z_dev"))
    feats.withColumn("score", -abs(zdev)).localCheckpoint(false)
  }

  /** `scored` plus its batch stats (`mu`, `sigma`, `n_eval`) and the
    * batch-relative `score_z` of its `score` column. */
  private def withScoreZ(scored: DataFrame): DataFrame = {
    val stats = scored.agg(
      avg("score").as("mu"), stddev_pop("score").as("sigma"),
      count(lit(1)).as("n_eval"))
    scored.crossJoin(stats)
      .withColumn("score_z",
        (col("score") - col("mu")) / (col("sigma") + lit(1e-5)))
  }

  /** The batch-relative gate both scorers share: flag score-z < zThresh;
    * guard if flagged/evaluated > maxRatio; keep worst `cap`. */
  private def zGate(scored: DataFrame, zThresh: Double, cap: Int,
      maxRatio: Double): DataFrame =
    withScoreZ(scored)
      .filter(col("score_z") < zThresh)
      .withColumn("n_flagged", count(lit(1)).over(Window.partitionBy()))
      // J6 sanity guard: >30% flagged ⇒ assume miscalibration, emit none
      .filter(col("n_flagged") <= col("n_eval") * maxRatio)
      .orderBy(col("score"), col("cluster_id"))
      .limit(cap)
      .select("cluster_id", "batch_ts", "log_count", "score", "score_z")

  /** Batch-relative ranking by score = −|z_dev| through [[zGate]]. */
  def rankAnomalies(feats: DataFrame, zThresh: Double = ZThresh,
      cap: Int = Cap, maxRatio: Double = MaxRatio,
      zdevRound: Option[Int] = None): DataFrame =
    zGate(zdevScored(feats, zdevRound), zThresh, cap, maxRatio)

  /** [[rankAnomalies]] with the reference's actual model: an
    * IsolationForest (volume_analyzer.py:19-24 — 100 trees, contamination
    * 0.05, seed 42) fit on the per-cluster feature matrix, scores consumed
    * through the identical batch-relative z-gate. The fit input is at most
    * one row per cluster (driver-scale by construction — guarded), scoring
    * distributes via a broadcast model. Engine score = −IF score so lower
    * = more anomalous, matching [[scoredFeatures]]'s ordering contract. */
  def rankAnomaliesIF(feats: DataFrame, zThresh: Double = ZThresh,
      cap: Int = Cap, maxRatio: Double = MaxRatio, nTrees: Int = 100,
      seed: Long = 42L, contamination: Double = 0.05): DataFrame = {
    val spark = feats.sparkSession
    // the fit's collect AND the scoring pass both consume feats — lazy
    // checkpoint so the collect materializes it once and scoring reuses
    // the cached partitions instead of recomputing the window pipeline
    val f = feats.localCheckpoint(false)
    val collected = f.select(
      col("log_count").cast("double"), col("velocity").cast("double"),
      col("roll_mean"), col("z_dev")).collect()
    // empty input → empty ranking, matching rankAnomalies (fit would throw)
    if (collected.isEmpty)
      return f
        .withColumn("score", lit(0.0)).withColumn("score_z", lit(0.0))
        .select("cluster_id", "batch_ts", "log_count", "score", "score_z")
        .limit(0)
    // the reference trains on the latest-batch per-cluster matrix — tiny.
    // Fail loudly if a caller hands this a row-scale frame: the fit is
    // driver-side by design and must never see table-sized input.
    require(collected.length <= 100000,
      s"rankAnomaliesIF fit input has ${collected.length} rows — this is " +
        "a per-cluster (driver-scale) model; aggregate first")
    val data = collected.map(r =>
      Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val model = IsolationForest.fit(data, nTrees, seed,
      sampleSize = 256, contamination = contamination)
    val bc = spark.sparkContext.broadcast(model)
    val scoreUdf = udf((lc: Double, v: Double, rm: Double, zd: Double) =>
      -IsolationForest.score(bc.value, Array(lc, v, rm, zd)))
    zGate(f.withColumn("score",
        scoreUdf(col("log_count").cast("double"),
          col("velocity").cast("double"), col("roll_mean"), col("z_dev"))),
      zThresh, cap, maxRatio)
  }

  /** Incident merge (reference A8/C2, incident_ops.py:6-41): split flagged
    * clusters into refresh (already open) vs create (new), one set-oriented
    * pass replacing the per-key existence probes. */
  def mergeIncidents(flagged: DataFrame, openIncidents: DataFrame): DataFrame =
    // one pass: a semi/anti split would scan flagged's whole upstream
    // scoring pipeline twice; a left join with a presence marker computes
    // the same refresh-vs-create decision in a single scan
    flagged.join(
        openIncidents.select(col("cluster_id")).distinct()
          .withColumn("is_open", lit(true)),
        Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        when(col("is_open"), lit("refresh")).otherwise(lit("create"))
          .as("action"),
        lit("NEW").as("status"), lit("SRE").as("assigned_role"))

  /** One row of the `volume_state` table: a cluster's last ≤ `WindowSize`
    * non-zero counts, oldest first (the reference's E1 fetch,
    * cluster_ops.py:39-53), and whether it has a `NEW`/`OPEN` incident.
    * Nothing closes an incident, so `open` never reverts. */
  final case class ClusterVolume(clusterId: Int, counts: Vector[Long],
      open: Boolean)

  /** [[stateDF]]'s schema as parquet reads it back (every column
    * nullable), for schema-given loads through ModelStore. */
  val StateSchema: StructType = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("counts", ArrayType(LongType)),
    StructField("open", BooleanType)))

  def stateDF(spark: SparkSession, state: Seq[ClusterVolume]): DataFrame = {
    import spark.implicits._
    state.map(v => (v.clusterId, v.counts: Seq[Long], v.open))
      .toDF("cluster_id", "counts", "open")
  }

  def fromStateRows(rows: Seq[Row]): Seq[ClusterVolume] =
    rows.map(r => ClusterVolume(r.getInt(0), r.getSeq[Long](1).toVector,
      r.getBoolean(2)))

  /** `state` after a batch counted `counts` (cluster id → non-zero
    * count): each count joins its cluster's window, and a cluster new
    * to the state gets a row. Sorted by cluster id. */
  def observe(state: Seq[ClusterVolume],
      counts: Seq[(Int, Long)]): Seq[ClusterVolume] = {
    val batch = counts.toMap
    val known = state.map(_.clusterId).toSet
    (state ++ batch.keys.filterNot(known)
        .map(ClusterVolume(_, Vector.empty, open = false)))
      .map(v => batch.get(v.clusterId).fold(v)(n =>
        v.copy(counts = (v.counts :+ n).takeRight(WindowSize))))
      .sortBy(_.clusterId)
  }

  /** One cluster's latest-batch row of [[features]]. */
  final case class Feature(clusterId: Int, logCount: Long, velocity: Long,
      rollMean: Double, rollStd: Double, zDev: Double) {
    /** The score [[rankAnomalies]] ranks by: −|z_dev|. */
    def score: Double = -math.abs(zDev)
  }

  /** `avg` and `stddev_pop` of `xs`, folded in order as Spark's
    * `Average` (a double sum over the count) and `CentralMomentAgg`
    * (Welford's update) fold their input. */
  private def avgStdPop(xs: Iterable[Double]): (Double, Double) = {
    var sum, n, mean, m2 = 0.0
    xs.foreach { x =>
      sum += x
      n += 1.0
      val delta = x - mean
      val deltaN = delta / n
      mean += deltaN
      m2 += delta * (delta - deltaN)
    }
    (sum / n, math.sqrt(m2 / n))
  }

  /** [[features]]' row, bit for bit, for a cluster whose history ends in
    * `counts` (oldest first, non-empty). Spark evaluates a sliding row
    * frame by folding the frame's rows afresh, oldest first, for every
    * output row, so the same fold over the last `WindowSize` counts
    * gives the same `roll_mean` and `roll_std`. */
  def featureOf(clusterId: Int, counts: Seq[Long]): Feature = {
    val last = counts.last
    val (rollMean, rollStd) =
      avgStdPop(counts.takeRight(WindowSize).map(_.toDouble))
    val velocity =
      if (counts.length > 1) last - counts(counts.length - 2) else 0L
    Feature(clusterId, last, velocity, rollMean, rollStd,
      (last - rollMean) / (rollStd + 1e-5))
  }

  /** [[rankAnomalies]] over driver-side features: the flagged ones,
    * worst first. The batch's score mean and deviation are folded in
    * `feats` order, where Spark merges per-partition partial aggregates,
    * so `score_z` may differ in its last bits: the flag set differs
    * only for a `score_z` within those bits of `ZThresh`. */
  def rankLocal(feats: Seq[Feature]): Seq[Feature] = {
    val (mu, sigma) = avgStdPop(feats.map(_.score))
    val flagged =
      feats.filter(f => (f.score - mu) / (sigma + 1e-5) < ZThresh)
    // a score is never NaN and every zero score is −0.0, so the total
    // order sorts as Spark does
    if (flagged.length > feats.length * MaxRatio) Seq.empty
    else flagged.sortBy(f => (f.score, f.clusterId))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(Cap)
  }

  /** One batch scored on the driver from the volume state: the batch's
    * non-zero `counts` join `state`, every counted cluster runs through
    * [[featureOf]] and [[rankLocal]], and the flagged ones split into
    * refresh and create by `open`. That is what [[features]] →
    * [[rankAnomalies]] → [[mergeIncidents]] give over the full history
    * and the open incidents. Returns the incident rows (cluster_id,
    * action, status, assigned_role) and the next state, in which every
    * flagged cluster is open. */
  def scoreBatch(state: Seq[ClusterVolume],
      counts: Seq[(Int, Long)]): (Seq[Row], Seq[ClusterVolume]) = {
    val counted = observe(state, counts)
    val flagged = rankLocal(counted.collect {
      case v if v.counts.nonEmpty => featureOf(v.clusterId, v.counts)
    }).map(_.clusterId)
    val open = counted.filter(_.open).map(_.clusterId).toSet
    (flagged.map(c =>
        Row(c, if (open(c)) "refresh" else "create", "NEW", "SRE")),
      counted.map(v => v.copy(open = v.open || flagged.contains(v.clusterId))))
  }
}
