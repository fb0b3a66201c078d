package graft.ml

import scala.util.Random

/** Pure-Scala Isolation Forest (Liu, Ting & Zhou 2008 — public algorithm)
  * for parity with the reference's anomaly model
  * (`/root/reference/src/ml/volume_analyzer.py:19-24`: 100 trees,
  * contamination 0.05, seed 42).
  *
  * The reference fits on the per-cluster latest-batch feature matrix — at
  * most one row per cluster, a driver-scale input by construction — and
  * then consumes the scores only through the batch-relative z-gate
  * (volume_analyzer.py:125-147). [[fit]] therefore runs on the driver
  * (seed-fixed, deterministic) and scoring distributes via a broadcast
  * model; see [[VolumeAnomaly.rankAnomaliesIF]].
  *
  * Determinism note: a Scala RNG cannot replay numpy's Mersenne stream, so
  * tree shapes differ from sklearn's — the parity contract (gated in
  * MlSpec) is that the z-thresholded FLAG SET matches, which is the only
  * part of the forest the reference pipeline consumes.
  */
object IsolationForest {

  sealed trait Node
  final case class Leaf(size: Int) extends Node
  final case class Split(feature: Int, value: Double, lo: Node, hi: Node)
    extends Node

  /** threshold = (1 − contamination)-quantile of the training scores:
    * points scoring above it are the contamination fraction sklearn's
    * `predict` would flag as −1. */
  final case class Model(trees: Seq[Node], psi: Int, threshold: Double)
    extends Serializable

  private val EulerGamma = 0.5772156649015329

  /** Average unsuccessful-search path length in a BST of n nodes —
    * the normalizer c(n) from the paper. n=2 is exact (H(1)=1, so
    * c(2)=1): the ln+γ approximation would give 0.154 and systematically
    * inflate scores of points in size-2 leaves. */
  def avgPathLength(n: Int): Double =
    if (n <= 1) 0.0
    else if (n == 2) 1.0
    else 2.0 * (math.log(n - 1.0) + EulerGamma) - 2.0 * (n - 1.0) / n

  /** A node's split choice from its candidate features (those with
    * spread), their per-feature bounds `lo`/`hi`, and the node's path
    * from the root ("" at the root, then one L/R per level). */
  private type Choose =
    (IndexedSeq[Int], Array[Double], Array[Double], String) => (Int, Double)

  /** Grows one tree depth-first, left subtree before right; only
    * `choose` differs between [[fit]] and [[fitMd5]]. */
  private def grow(data: Array[Array[Double]], idx: Array[Int],
      path: String, height: Int, maxHeight: Int, choose: Choose): Node = {
    if (height >= maxHeight || idx.length <= 1) Leaf(idx.length)
    else {
      val nf = data(0).length
      // candidate features = those with spread in this node (a constant
      // feature cannot split; choosing it would loop to the height cap)
      val lo = new Array[Double](nf)
      val hi = new Array[Double](nf)
      java.util.Arrays.fill(lo, Double.MaxValue)
      java.util.Arrays.fill(hi, Double.MinValue)
      idx.foreach { i =>
        val row = data(i)
        var f = 0
        while (f < nf) {
          if (row(f) < lo(f)) lo(f) = row(f)
          if (row(f) > hi(f)) hi(f) = row(f)
          f += 1
        }
      }
      val candidates = (0 until nf).filter(f => hi(f) > lo(f))
      if (candidates.isEmpty) Leaf(idx.length)
      else {
        val (f, split) = choose(candidates, lo, hi, path)
        val (l, r) = idx.partition(i => data(i)(f) < split)
        Split(f, split,
          grow(data, l, path + "L", height + 1, maxHeight, choose),
          grow(data, r, path + "R", height + 1, maxHeight, choose))
      }
    }
  }

  /** `trees` with the threshold set to the (1 − contamination)-quantile
    * of the training scores. */
  private def withThreshold(trees: Seq[Node], psi: Int,
      data: Array[Array[Double]], contamination: Double): Model = {
    val m = Model(trees, psi, threshold = 0.0)
    val scores = data.map(x => score(m, x)).sorted
    val k = math.min(scores.length - 1, math.max(0,
      math.ceil((1.0 - contamination) * scores.length).toInt - 1))
    m.copy(threshold = scores(k))
  }

  def fit(data: Array[Array[Double]], nTrees: Int = 100, seed: Long = 42L,
      sampleSize: Int = 256, contamination: Double = 0.05): Model = {
    require(data.nonEmpty, "IsolationForest.fit on empty data")
    val rnd = new Random(seed)
    val psi = math.min(sampleSize, data.length)
    val maxH = math.max(1,
      math.ceil(math.log(psi.toDouble) / math.log(2.0)).toInt)
    val all = (0 until data.length).toVector
    val choose: Choose = (candidates, lo, hi, _) => {
      val f = candidates(rnd.nextInt(candidates.length))
      (f, lo(f) + rnd.nextDouble() * (hi(f) - lo(f)))
    }
    val trees = (0 until nTrees).map { _ =>
      val sample = rnd.shuffle(all).take(psi).toArray
      grow(data, sample, "", 0, maxH, choose)
    }
    withThreshold(trees, psi, data, contamination)
  }

  /** md5-derived deterministic forest (the q98 twin): identical
    * Leaf/Split machinery, scoring math and threshold quantile as
    * [[fit]], but each node's randomness comes from
    * md5("<tag>:<tree>:<path>:f|s") — a pure function of the node's
    * position — instead of a sequential RNG stream. That makes
    * construction ORDER-FREE: an oracle can replay it breadth-first in a
    * recursive SQL CTE while this builder recurses depth-first, and both
    * produce the same trees. No subsampling (psi = n): the twin's fit
    * input is the per-cluster matrix, driver-scale by contract, and
    * skipping the sample keeps the replay free of shuffle-order state.
    * [[fit]] (seeded java Random, 100 trees, psi 256) remains the
    * production model; this pins the split/partition/path-length/score
    * machinery they share. */
  def fitMd5(data: Array[Array[Double]], nTrees: Int, tag: String = "ift",
      contamination: Double = 0.05): Model = {
    require(data.nonEmpty, "IsolationForest.fitMd5 on empty data")
    val psi = data.length
    // smallest h with 2^h >= psi — an exact integer formula on purpose:
    // ceil(log2(n)) via doubles can land either side of an integer at
    // powers of two, and the oracle must agree on tree height exactly
    var maxH = 0
    while ((1L << maxH) < psi) maxH += 1
    maxH = math.max(1, maxH)
    val all = (0 until data.length).toArray
    val trees = (0 until nTrees).map { t =>
      val choose: Choose = (candidates, lo, hi, path) => {
        val bf = md5Long60(s"$tag:$t:$path:f")
        val f = candidates((bf % candidates.length).toInt)
        val bs = md5Long60(s"$tag:$t:$path:s")
        // 30 hash bits over 2^30: a dyadic rational, exact in binary64 —
        // split = lo + u·(hi−lo) is then the same fixed IEEE op sequence
        // in both engines
        val u = (bs % 1073741824L).toDouble / 1073741824.0
        (f, lo(f) + u * (hi(f) - lo(f)))
      }
      grow(data, all, "", 0, maxH, choose)
    }
    withThreshold(trees, psi, data, contamination)
  }

  /** First 15 hex chars of md5 as a non-negative Long — the engine-side
    * twin of DuckDB `CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)`
    * (the repo's standard oracle-expressible hash, Embed.md5BucketSums). */
  private def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def pathLength(node: Node, x: Array[Double], depth: Int): Double =
    node match {
      case Leaf(sz) => depth + avgPathLength(sz)
      case Split(f, v, l, r) =>
        if (x(f) < v) pathLength(l, x, depth + 1)
        else pathLength(r, x, depth + 1)
    }

  /** Anomaly score in (0, 1]: higher = more anomalous (paper eq. 2).
    * A degenerate model (psi=1 → c(psi)=0) has no isolation information;
    * every point gets the paper's "indistinct" score 0.5 instead of NaN. */
  def score(m: Model, x: Array[Double]): Double = {
    val denom = avgPathLength(m.psi)
    if (denom <= 0.0) 0.5
    else {
      var sum = 0.0
      m.trees.foreach(t => sum += pathLength(t, x, 0))
      math.pow(2.0, -(sum / m.trees.size) / denom)
    }
  }

  /** sklearn-style predict: true = anomalous (score above the
    * contamination threshold fixed at fit time). */
  def isAnomaly(m: Model, x: Array[Double]): Boolean =
    score(m, x) > m.threshold
}
