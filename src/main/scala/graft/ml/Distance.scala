package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector distance/similarity as Catalyst column expressions.
  *
  * Built from higher-order functions (`zip_with` + `aggregate`) so they stay
  * inside whole-stage codegen — no UDF serialization on the hot path. The
  * reference computes Minkowski p=1.5 per pair in Python
  * (`src/ml/vector_engine.py:18-19`, scipy `distance.minkowski`); here a pair
  * distance is one codegen'd expression evaluated across a column.
  *
  * All helpers expect `array<double>` (cast float arrays first).
  */
object Distance {

  private def zsum(a: Column, b: Column, f: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, f), lit(0.0), (acc, x) => acc + x)

  /** Minkowski distance: (Σ|aᵢ−bᵢ|^p)^(1/p). Reference vector_engine.py:18.
    * Delegates to the fused codegen expression (graft.functions.VectorExprs)
    * — the HOF twin below documents the declarative formulation. */
  def minkowski(a: Column, b: Column, p: Double): Column =
    graft.functions.VectorExprs.minkowski(a, b, p)

  def minkowskiHof(a: Column, b: Column, p: Double): Column =
    pow(zsum(a, b, (x, y) => pow(abs(x - y), p)), 1.0 / p)

  /** The column side of the nearest-centre rule: one `(d, <idName>)`
    * struct per `(id, distance)` pair. Struct order compares `d` first,
    * then the id, so `array_min` over the array is the nearest centre
    * with ties to the smaller id, and `array_sort` ranks every centre by
    * that same order. Built once per row from literal centres, it stays
    * a map-only per-row expression: no join, no shuffle. */
  def byDistance(ds: Seq[(Any, Column)], idName: String): Column =
    array(ds.map { case (id, d) => struct(d.as("d"), lit(id).as(idName)) }: _*)

  /** Squared Euclidean (cheaper when only ordering matters). */
  def sqEuclidean(a: Column, b: Column): Column =
    graft.functions.VectorExprs.sqEuclidean(a, b)

  def euclidean(a: Column, b: Column): Column = sqrt(sqEuclidean(a, b))

  /** THE fixed-point scale of every hash-exact distance oracle in the
    * repo (RP projection, k-center, prefix rerank, the L2 eval truth):
    * one definition so a precision change can never drift between
    * families — a single stale copy would surface only as an opaque
    * oracle hash mismatch. */
  val FpScale: Double = 1e6

  /** Vector fixed-point quantization: `floor(x·1e6 + 0.5)` longs per
    * coordinate. Exact integers make every downstream sum
    * order-independent — the property that lets a distributed run and a
    * single-node oracle hash-match. */
  def fixedPointVec(v: Column): Column =
    transform(v, x => floor(x * lit(FpScale) + lit(0.5)).cast("long"))

  /** Scalar fixed-point: the `floor(d·1e6 + 0.5)` long total order the
    * L2 eval ground truth and the rerank tails rank by. */
  def fixedPointLong(c: Column): Column =
    floor(c * lit(FpScale) + lit(0.5)).cast("long")

  /** Cosine similarity; 0-vector guarded via 1e-12 floor. Fused one-pass
    * codegen (dot + both norms in a single loop). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine(a, b)

  /** Unboxed pair-distance SAM for the sequential folds. A plain
    * `(Array[Float], Array[Float]) => Double` would box the Double return
    * on every call of the fold's innermost O(n·k) loop (Function2 is not
    * specialized for reference-typed arguments); a SAM trait keeps the
    * call site primitive-returning. */
  trait PairDist extends Serializable {
    def apply(a: Array[Float], b: Array[Float]): Double
  }

  /** Distance from a query vector to centre `i` of the centre table the
    * probe closes over — [[graft.ml.Centroids.nearestWithin]]'s argument.
    * A SAM like [[PairDist]], taking the query as an argument, so one
    * probe per table serves every row with no capture per row. */
  trait CentreDist extends Serializable {
    def apply(q: Array[Float], i: Int): Double
  }

  /** Plain-Scala twins for driver-side/fold code (same formulas). */
  def minkowskiS(a: Array[Float], b: Array[Float], p: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      s += math.pow(math.abs(a(i) - b(i)), p); i += 1
    }
    math.pow(s, 1.0 / p)
  }

  def sqEuclideanS(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val dd = a(i) - b(i); s += dd * dd; i += 1
    }
    s
  }

  def cosineS(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12)
  }
}
