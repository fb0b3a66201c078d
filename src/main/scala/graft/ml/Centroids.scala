package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Online nearest-centroid semantic grouping (reference
  * `src/ml/vector_engine.py:21-45`).
  *
  * Semantics being matched: vectors arrive in strict id order; each is
  * compared to all live centroids under Minkowski p=1.5; min distance under
  * `threshold` joins that group, otherwise a new centroid is created named
  * `sem_grp_<firstId>` (vector_engine.py:43). Centroids do not drift (the
  * reference's drift update is commented out, vector_engine.py:38-39).
  *
  * Order sensitivity makes this inherently sequential (SURVEY.md §7.4 risk
  * 1), so the parity path folds a *narrow* (id, vec) projection through one
  * partition — only 8B + 4B·dim per row crosses the shuffle, never the full
  * row. The caller joins assignments back by id. At 100 TB the sharded
  * variant splits the stream by a stable hash prefix and folds shards in
  * parallel with per-shard group namespaces (documented approximation).
  */
object Centroids {

  final case class Centroid(semanticId: String, center: Array[Float], var n: Long)

  /** The sequential folds are safe only because the reference bounds their
    * input at training-batch size (`run_training_batch.py:87` caps at 5k
    * rows); feeding a 100-TB table into a one-partition fold would hang a
    * single task for days. Enforce the contract: fold entry points throw
    * once the input exceeds this many rows. Raise it deliberately (e.g.
    * for stress runs) via the session conf, don't remove the guard. */
  val FoldMaxRowsKey = "spark.graft.fold.maxRows"
  val FoldMaxRowsDefault = 1000000L

  private[ml] def foldMaxRows(df: DataFrame): Long =
    df.sparkSession.conf.get(FoldMaxRowsKey, FoldMaxRowsDefault.toString).toLong

  /** Pass-through iterator that fails loudly past `max` rows. */
  private[ml] def boundedFold[T](it: Iterator[T], max: Long,
      what: String): Iterator[T] = {
    var n = 0L
    it.map { r =>
      n += 1
      if (n > max) throw new IllegalStateException(
        s"$what: sequential-fold input exceeds $FoldMaxRowsKey=$max rows; " +
          "this path is bounded-parity only — use the sharded variant " +
          "(Centroids.assignSharded) or raise the conf deliberately")
      r
    }
  }

  /** THE nearest-centre rule, shared by every sequential fold and
    * per-row probe in the engine (the semantic-group folds, the frozen
    * scorer, DenStream's learn and predict): the index of the centre in
    * `0 until n` nearest to `q` — strict `<`, so the first minimum wins
    * and a NaN distance never seats — if that distance is strictly below
    * `threshold`, else -1 (no join). The probe is built once per centre
    * table, so the kernel costs no allocation or boxing per row. */
  def nearestWithin(q: Array[Float], n: Int, threshold: Double,
      dist: Distance.CentreDist): Int = {
    var best = -1
    var bestD = Double.MaxValue
    var i = 0
    while (i < n) {
      val d = dist(q, i)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    if (best >= 0 && bestD < threshold) best else -1
  }

  /** Sequential fold with a pluggable pair distance — the reference's loop
    * shape (compare to all live centroids, [[nearestWithin]]'s first-min
    * argmin, strict `< threshold` join-else-found). [[foldAssign]]
    * specializes it to Minkowski; q68 runs the same control flow under
    * squared Euclidean so the fold is oracle-reproducible on
    * exact-integer geometry. `seed` is the centroids carried in from
    * earlier input (the streaming fold's state store). */
  def foldAssignWith(rows: Iterator[(Long, Array[Float])], threshold: Double,
      dist: Distance.PairDist, seed: Seq[Centroid] = Nil)
      : (ArrayBuffer[Centroid], ArrayBuffer[(Long, String)]) = {
    val cs = ArrayBuffer.from(seed)
    val toCentre: Distance.CentreDist = (v, i) => dist(v, cs(i).center)
    val out = ArrayBuffer.empty[(Long, String)]
    rows.foreach { case (id, vec) =>
      val k = nearestWithin(vec, cs.length, threshold, toCentre)
      if (k >= 0) {
        cs(k).n += 1
        out += ((id, cs(k).semanticId))
      } else {
        val cent = Centroid(s"sem_grp_$id", vec, 1L)
        cs += cent
        out += ((id, cent.semanticId))
      }
    }
    (cs, out)
  }

  /** Sequential fold over an ordered iterator — the reference algorithm. */
  def foldAssign(rows: Iterator[(Long, Array[Float])], threshold: Double,
      p: Double = 1.5): (ArrayBuffer[Centroid], ArrayBuffer[(Long, String)]) =
    foldAssignWith(rows, threshold, Distance.minkowskiS(_, _, p))

  /** [[assign]] with a pluggable distance (same narrow one-partition
    * parity path). */
  def assignWith(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dist: Distance.PairDist): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val max = foldMaxRows(df)
    // null vectors (null source text) carry no geometry: excluded from
    // the fold; callers left-join assignments so such ids get null group
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .repartition(1)
      .sortWithinPartitions(col(idCol))
      .mapPartitions { it =>
        foldAssignWith(boundedFold(it, max, "Centroids.assignWith"),
          threshold, dist)._2.iterator
      }
      .toDF(idCol, "semantic_group")
  }

  /** Parity path: assignments `(id, semantic_group)` for every row of `df`,
    * computed in strict `idCol` order. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, p: Double = 1.5): DataFrame =
    assignWith(df, idCol, vecCol, threshold, Distance.minkowskiS(_, _, p))

  /** Centroid state table `(semantic_group, center, n)` — the engine's
    * analog of centroids.pkl (vector_engine.py:47-61).
    *
    * Derived relationally from a frame whose rows already carry
    * [[assign]]'s `semantic_group` beside `idCol` and `vecCol`, instead
    * of a second sequential fold: because centroids never drift, each
    * centroid IS the founder row's vector (`sem_grp_<founderId>`, the
    * group's minimum id) and `n` is the group size — so one fold (the
    * pipeline's sequential bottleneck) serves both assignment and state,
    * and the two can never diverge. Rows without a group (null vectors)
    * found no centroid. */
  def fitCentroids(assigned: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val founders = assigned.filter(col("semantic_group").isNotNull)
      .groupBy(col("semantic_group"))
      .agg(min(col(idCol).cast("long")).as("founder_id"),
        count(lit(1)).as("n"))
    val vecs = assigned.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("founder_id"),
        col(vecCol).cast("array<float>").as("center"))
    founders.join(vecs, "founder_id")
      .select(col("semantic_group"), col("center"), col("n"))
  }

  /** [[fitCentroids]]'s schema as parquet reads it back (every column
    * nullable), for schema-given loads through ModelStore. */
  val StateSchema: StructType = StructType(Seq(
    StructField("semantic_group", StringType),
    StructField("center", ArrayType(FloatType)),
    StructField("n", LongType)))

  /** Scale-out variant: stable shard key → parallel per-shard folds with
    * per-shard namespaces. Trades the reference's single global namespace
    * for shard-local ones; same threshold semantics within a shard. */
  def assignSharded(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, shards: Int, p: Double = 1.5): DataFrame =
    assignShardedWith(df, idCol, vecCol, threshold, shards,
      Distance.minkowskiS(_, _, p))

  /** [[assignSharded]] with a pluggable distance (q87's oracle path). */
  def assignShardedWith(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, shards: Int,
      dist: Distance.PairDist): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val max = foldMaxRows(df)
    // same null-vector exclusion (and rationale) as [[assignWith]]
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => (id % shards).toInt }
      .flatMapGroups { (shard, it) =>
        val sorted = boundedFold(it, max, s"Centroids.assignSharded(shard=$shard)")
          .toArray.sortBy(_._1)
        foldAssignWith(sorted.iterator, threshold, dist)._2.iterator
          .map { case (id, g) => (id, s"s${shard}_$g") }
      }
      .toDF(idCol, "semantic_group")
  }

  /** Batch scoring against a frozen centroid table (the incremental path
    * once state is loaded): a per-row [[nearestWithin]] probe of the
    * captured centroids, C4 shape.
    * Null vectors (e.g. from null source text) score to null group. */
  def scoreAgainst(df: DataFrame, centroids: Array[Centroid],
      vecCol: String, threshold: Double, p: Double = 1.5): DataFrame = {
    val toCentre: Distance.CentreDist =
      (v, i) => Distance.minkowskiS(v, centroids(i).center, p)
    val score = udf { (vec: Array[Float]) =>
      if (vec == null) null
      else {
        val k = nearestWithin(vec, centroids.length, threshold, toCentre)
        if (k >= 0) centroids(k).semanticId else null
      }
    }
    df.withColumn("semantic_group", score(col(vecCol).cast("array<float>")))
  }
}
