package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** DenStream online density micro-clustering (Cao et al., SDM 2006 — public
  * algorithm; the reference uses river's implementation with
  * decaying_factor=0.0005, epsilon=0.9, n_samples_init=300,
  * `src/ml/model.py:10-15`).
  *
  * Engine shape (SURVEY.md §2.J3): micro-cluster state is a plain table
  * `(cluster_id, center, weight, last_t)`; training is the reference's
  * ordered `learn_one` loop (`run_training_batch.py:133-136`) — bounded at
  * 5k rows, so the fit folds on the driver exactly like the reference's
  * Python loop; inference (`predict_one`, `run_incremental_batch.py:82-83`)
  * is a broadcast nearest-micro-cluster probe, fully distributed and the
  * only part that runs at data scale.
  */
object DenStream {

  final case class MicroCluster(id: Int, center: Array[Double],
      var weight: Double, var lastT: Long)

  /** Euclidean distance from an embedding to a micro-cluster centre. */
  private def dist(v: Array[Float], c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val d = v(i) - c(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** predict_one over an `(id, center)` snapshot of the micro-clusters:
    * the id of the [[Centroids.nearestWithin]] micro-cluster within
    * `eps`, else -1 (noise; also for a null embedding from null source
    * text). [[Model.predictOne]] and the [[withPredictions]] UDF both
    * probe through it. */
  private final class Snapshot(ids: Array[Int], centers: Array[Array[Double]],
      eps: Double) extends Serializable {
    private val toCentre: Distance.CentreDist = (v, i) => dist(v, centers(i))
    def predict(vec: Array[Float]): Int =
      if (vec == null) -1
      else {
        val k = Centroids.nearestWithin(vec, centers.length, eps, toCentre)
        if (k >= 0) ids(k) else -1
      }
  }

  final class Model(val epsilon: Double, val lambda: Double,
      val clusters: ArrayBuffer[MicroCluster] = ArrayBuffer.empty) {
    private var nextId = 0
    private var clock = 0L
    private val toCluster: Distance.CentreDist =
      (v, i) => dist(v, clusters(i).center)

    /** Restore id allocation + decay clock after state reload. */
    private[DenStream] def resumeAt(id: Int, t: Long): Unit = {
      nextId = id
      clock = t
    }

    private def decay(mc: MicroCluster, t: Long): Unit = {
      if (t > mc.lastT) {
        mc.weight *= math.pow(2.0, -lambda * (t - mc.lastT))
        mc.lastT = t
      }
    }

    /** Every micro-cluster decays to the new tick, then the vector joins
      * the nearest within epsilon or founds a new one. Decay changes
      * weights, never centres, so decaying first leaves the probe's
      * answer unchanged. */
    def learnOne(vec: Array[Float]): Unit = {
      clock += 1
      var i = 0
      while (i < clusters.length) { decay(clusters(i), clock); i += 1 }
      val k = Centroids.nearestWithin(vec, clusters.length, epsilon,
        toCluster)
      if (k >= 0) {
        val mc = clusters(k)
        val w = mc.weight
        i = 0
        while (i < vec.length) {
          mc.center(i) = (mc.center(i) * w + vec(i)) / (w + 1.0); i += 1
        }
        mc.weight = w + 1.0
      } else {
        clusters += MicroCluster(nextId, vec.map(_.toDouble), 1.0, clock)
        nextId += 1
      }
      // prune fully-decayed outlier micro-clusters (paper's o-buffer cull)
      if ((clock & 0xFF) == 0)
        clusters.filterInPlace(_.weight >= 0.1)
    }

    private[DenStream] def snapshot: Snapshot = new Snapshot(
      clusters.map(_.id).toArray, clusters.map(_.center).toArray, epsilon)

    /** predict_one: nearest micro-cluster within epsilon, else -1 (noise). */
    def predictOne(vec: Array[Float]): Int = snapshot.predict(vec)
  }

  /** Ordered training fold (reference training loop shape: bounded input,
    * strict id order). Collects only (id, vec) pairs, in one job that
    * reads `df` once, and orders them on the driver. */
  def fit(df: DataFrame, idCol: String, vecCol: String, epsilon: Double,
      lambda: Double = 0.0005): Model = {
    val m = new Model(epsilon, lambda)
    // Driver-side fold is bounded-parity only (reference caps training at
    // 5k rows) — enforce the contract BEFORE collecting: limit(max+1)
    // keeps the driver fetch bounded even when the input is 100 TB, and
    // one extra row proves the bound was exceeded. Under the bound the
    // limit keeps every row, so sorting them here is the id order; a
    // global sort in the plan would add a sampling job over the input.
    val max = math.min(Centroids.foldMaxRows(df), Int.MaxValue - 1L).toInt
    val rows = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .limit(max + 1)
      .collect()
    if (rows.length > max) throw new IllegalStateException(
      s"DenStream.fit: input exceeds ${Centroids.FoldMaxRowsKey}=$max rows; " +
        "training is a bounded driver-side fold — pre-sample the batch or " +
        "raise the conf deliberately")
    rows.sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .foreach(r => m.learnOne(r.getSeq[Float](1).toArray))
    m
  }

  /** Distributed inference: broadcast the micro-cluster table, probe each
    * row. This is the path that must scale — state is O(#clusters), data
    * streams through executors. */
  def withPredictions(df: DataFrame, model: Model, vecCol: String,
      out: String = "cluster_id"): DataFrame = {
    val snap = model.snapshot
    val predict = udf((vec: Array[Float]) => snap.predict(vec))
    df.withColumn(out, predict(col(vecCol).cast("array<float>")))
  }

  /** Micro-cluster state as a table — the engine's model.pkl analog
    * (model.py:18-29); round-trips through ModelStore. Hyperparameters
    * travel WITH the state so a reloading process can never score with a
    * different epsilon than the model was trained with. */
  def stateDF(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.clusters
      .map(c => (c.id, c.center, c.weight, c.lastT, model.epsilon,
        model.lambda))
      .toSeq
      .toDF("cluster_id", "center", "weight", "last_t", "epsilon", "lambda")
  }

  /** [[stateDF]]'s schema as parquet reads it back (every column
    * nullable), for schema-given loads through ModelStore. */
  val StateSchema: StructType = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("center", ArrayType(DoubleType)),
    StructField("weight", DoubleType),
    StructField("last_t", LongType),
    StructField("epsilon", DoubleType),
    StructField("lambda", DoubleType)))

  /** Rebuild a model from persisted state. Persisted hyperparameters (if
    * present — older state tables may lack the columns, which a
    * [[StateSchema]] read yields as nulls) override the arguments, so
    * inference always uses the training-time epsilon. */
  def fromStateDF(df: DataFrame, epsilon: Double = 1.0,
      lambda: Double = 0.0005): Model = {
    val rows = df.collect()
    val hasHyper = df.columns.contains("epsilon") && rows.nonEmpty &&
      !rows.head.isNullAt(rows.head.fieldIndex("epsilon"))
    val eps = if (hasHyper) rows.head.getAs[Double]("epsilon") else epsilon
    val lam = if (hasHyper) rows.head.getAs[Double]("lambda") else lambda
    val m = new Model(eps, lam)
    rows.foreach { r =>
      m.clusters += MicroCluster(r.getInt(0), r.getSeq[Double](1).toArray,
        r.getDouble(2), r.getLong(3))
    }
    // resume id allocation and the decay timeline where the saved model
    // left off — otherwise continued learning would mint duplicate
    // cluster ids and freeze decay until the clock catches up
    if (m.clusters.nonEmpty) {
      m.resumeAt(m.clusters.map(_.id).max + 1,
        m.clusters.map(_.lastT).max)
    }
    m
  }
}
