package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Diversity-driven data selection over an embedding column — the
  * coreset family (greedy k-center / farthest-point-first, Gonzalez
  * 1985; its data-selection use is the k-Center-Greedy of Sener &
  * Savarese 2018, ICLR): pick the k points that best COVER the corpus
  * in embedding space, the complement of dedup's "drop what is too
  * close" — keep what is maximally spread. A training-data pipeline
  * uses it to seed curriculum anchors, pick eval-probe exemplars, and
  * prune redundant mass beyond what near-dup thresholds see.
  *
  * Scale shape: every iteration is ONE map-only pass over the corpus
  * (the current centers are a driver-side literal of k·dim longs
  * unrolled into codegen'd HOF arithmetic — no join, no shuffle)
  * followed by a global top-1 reduce (TakeOrdered, k-bounded). State
  * never exceeds k vectors. At 100 TB with large k one would batch
  * rounds (take the m farthest per pass — same plan, LIMIT m); the
  * per-pass cost is unchanged.
  *
  * Determinism: coordinates are fixed-point quantized
  * (`floor(x·1e6 + 0.5)` longs) so every distance is an exact integer,
  * all argmax/argmin orders carry an id tiebreak, and the greedy
  * trajectory is therefore bit-identical across engines — the oracle
  * replays it as an unrolled CTE chain.
  */
object Select {

  /** Upper bound on [[kCenterGreedy]]'s k — the selection unrolls all
    * chosen centers as literals into one codegen'd least(...) chain,
    * so k caps the per-round expression at k·dim literal longs (8k at
    * dim 64), well inside JVM constant-pool / codegen limits. */
  val MaxGreedyK: Int = 128

  /** Fixed-point squared L2 between the row's quantized vector and one
    * literal center — exact integer, summation-order-free. */
  private def distFp(vq: Column, center: Array[Long]): Column =
    aggregate(zip_with(vq, typedLit(center.toSeq),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)

  private def quantized(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      graft.ml.Distance.fixedPointVec(col(vecCol).cast("array<double>"))
        .as("vq"))

  /** Greedy k-center selection trace: seed = the min id, then k−1
    * rounds of "the point farthest from its nearest selected center"
    * (ties to the smaller id). Emits `(sel_rank, id, dist_fp)` —
    * `dist_fp` is the max-min distance AT selection time, i.e. the
    * coverage radius the corpus had before this pick; the decreasing
    * sequence is the selection's diminishing-returns curve. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Each round unrolls ALL selected centers as driver-side literals
    // into one least(...) chain — per-round expression size is
    // O(k·dim) literals and total codegen work O(k²·dim). Bound k so a
    // caller can't push the generated code past JVM constant-pool /
    // codegen limits; a coreset larger than this wants the batched
    // take-m-per-pass variant, not a longer literal chain.
    require(k <= MaxGreedyK,
      s"k must be <= $MaxGreedyK (per-round codegen is O(k*dim) " +
        s"literals; use a batched selection for larger coresets), got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // k actions run over this frame — cache so the scan+quantize work
    // is paid once, not once per round, and RELEASE it when the greedy
    // loop ends (the Ivf.fitCentroids try/finally discipline: a
    // selection utility must not leave corpus-sized blocks pinned)
    val pts = quantized(df, idCol, vecCol).cache()
    try {
      val first = pts.orderBy($"id".asc).limit(1)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      require(first.nonEmpty, "kCenterGreedy: empty input")
      val sel = scala.collection.mutable.ArrayBuffer[
        (Long, Array[Long], Long)]((first.head._1, first.head._2, 0L))
      var exhausted = false
      while (sel.length < k && !exhausted) {
        val minDist = sel.map { case (_, c, _) => distFp($"vq", c) }
          .reduce(least(_, _))
        val picked = pts
          .filter(!$"id".isInCollection(sel.map(_._1)))
          .withColumn("md", minDist)
          .orderBy($"md".desc, $"id".asc).limit(1)
          .collect()
        if (picked.isEmpty) exhausted = true
        else {
          val r = picked.head
          sel += ((r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
        }
      }
      sel.zipWithIndex.map { case ((id, _, d), rank) => (rank, id, d) }
        .toSeq.toDF("sel_rank", "id", "dist_fp")
    } finally pts.unpersist()
  }

  /** Nearest-center (d, cid) struct for a QUANTIZED vector column under
    * the exact integer (d, cid) order — the assignment expression
    * [[kCenterCoverage]] and the streaming coverage monitor share, so
    * the batch audit and the live monitor can never assign
    * differently. */
  def nearestCenter(vq: Column,
      centers: Seq[(Long, Array[Long])]): Column =
    array_min(graft.ml.Distance.byDistance(
      centers.map { case (cid, c) => (cid, distFp(vq, c)) }, "cid"))

  /** Coverage report for a [[kCenterGreedy]] selection: every corpus
    * point (selected ones included — they cover themselves at distance
    * zero) assigns to its nearest center under the exact integer
    * (dist, center_id) order; per center emits how much mass it covers
    * and the worst distance inside its cell. ONE map-only assignment
    * pass (centers are again a literal) plus one k-bounded
    * aggregation — the audit costs a single scan regardless of corpus
    * size. Emits `(center_id, n_assigned, max_dist_fp)`. */
  def kCenterCoverage(df: DataFrame, idCol: String, vecCol: String,
      centers: Seq[(Long, Array[Long])]): DataFrame = {
    require(centers.nonEmpty, "kCenterCoverage: no centers")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = quantized(df, idCol, vecCol)
    pts.withColumn("m", nearestCenter($"vq", centers))
      .groupBy($"m.cid".as("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        max($"m.d").as("max_dist_fp"))
  }

  /** Global coverage objective for a center set: the k-center quantity
    * itself — the worst point-to-[[nearestCenter]] distance. One map-only
    * pass (centers literal, as everywhere in this family) + a 1-row
    * aggregate. Long-safe at any corpus size: only a max crosses the
    * aggregation, never a sum of distances. */
  def coverageRadius(df: DataFrame, idCol: String, vecCol: String,
      centers: Seq[(Long, Array[Long])]): DataFrame = {
    require(centers.nonEmpty, "coverageRadius: no centers")
    val spark = df.sparkSession
    import spark.implicits._
    quantized(df, idCol, vecCol)
      .select(nearestCenter($"vq", centers).getField("d").as("d"))
      .agg(max($"d").as("max_radius_fp"))
  }

  /** Driver-side helper: re-materialize the selected centers' quantized
    * vectors for [[kCenterCoverage]] from a [[kCenterGreedy]] result.
    * k-bounded collect by construction. */
  def centersOf(df: DataFrame, idCol: String, vecCol: String,
      selected: DataFrame): Seq[(Long, Array[Long])] = {
    val spark = df.sparkSession
    import spark.implicits._
    quantized(df, idCol, vecCol)
      .join(broadcast(selected.select(col("id"))), "id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .toSeq.sortBy(_._1)
  }
}
