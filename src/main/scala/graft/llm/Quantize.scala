package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) embedding quantization — the memory-bandwidth lever for
  * corpus-scale similarity search: a 64-dim float32 embedding is 256
  * bytes, its int8 code is 64, so a scan-bound brute/IVF pass moves 4×
  * less data (8× vs float64) for a small, bounded ranking error. The
  * classic IVF-SQ pairing: coarse lists from [[Ivf]], int8 codes inside
  * each list, exact integer dot products for ranking.
  *
  * Reference behavior anchor: the reference's vector path ranks by
  * Minkowski distance over raw float embeddings
  * (`src/ml/vector_engine.py:30-44`, nearest-centroid); the cosine kNN
  * it approximates is this repo's own q22 extension of that path.
  * Quantized search reproduces that ranking at a fraction of the scan
  * bandwidth, which is the 100 TB deployment shape.
  *
  * Design for determinism (the oracle replays every step bit-for-bit):
  *  - symmetric per-vector quantization `q_i = floor(127·x_i/m + 0.5)`
  *    with `m = max_i |x_i|` — the multiply/divide/add/floor sequence is
  *    fixed IEEE ops on doubles, identical in any engine, and the result
  *    is guaranteed in [-127, 127] (no clamp needed: |127·x/m| ≤ 127 up
  *    to half an ulp, absorbed by the +0.5 rounding window);
  *  - integer dot products and integer squared norms are exact in any
  *    summation order (|dot| ≤ dim·127² ≪ 2⁵³), so the only float steps
  *    in quantized cosine are one sqrt·sqrt·divide chain — again a fixed
  *    IEEE sequence.
  *
  * Scale shape: quantization is a scan-local projection — one fused
  * whole-stage-codegen pass per vector
  * ([[graft.functions.ArrayQuantizeInt8]]; the HOF formulation was three
  * lambda passes outside codegen and measured ~10× slower at the ×100
  * stress scale); search is the same broadcast-small-queries ×
  * candidate-scan plan as the float brute path, with the inner loop a
  * fused whole-stage-codegen integer dot
  * ([[graft.functions.VectorExprs.dotLong]]).
  */
object Quantize {

  /** Adds `qCol` (array<int> int8 codes) and `normCol` (long Σq²) for
    * `vecCol`. Zero vectors quantize to all-zero codes with norm 0 —
    * callers ranking by cosine must filter `normCol > 0` (as
    * [[graft.ops.LlmQueries]] q111 does) to keep 0/0 out of the plan. */
  def withInt8(df: DataFrame, vecCol: String, qCol: String = "qvec",
      normCol: String = "qnorm"): DataFrame = {
    // one fused codegen pass (max-abs + quantize + norm together,
    // ArrayQuantizeInt8); the struct binds in its own projection so the
    // two field extractions don't re-evaluate it (CollapseProject keeps
    // non-cheap expressions materialized)
    df.withColumn("_qz",
        graft.functions.VectorExprs.quantizeInt8(
          col(vecCol).cast("array<double>")))
      .withColumn(qCol, col("_qz.q"))
      .withColumn(normCol, col("_qz.n"))
      .drop("_qz")
  }

  /** Quantized cosine from int8 codes and precomputed norms: one exact
    * integer dot, then the fixed sqrt·sqrt·divide chain. If the caller
    * also emits the raw dot as a sibling column, bind the dot first and
    * divide the bound column instead (Catalyst does not CSE sibling
    * columns, so this helper beside a `dotLong` column would evaluate
    * the dot twice — the q111/q112 pattern). */
  def cosQ(aVec: Column, aNorm: Column, bVec: Column,
      bNorm: Column): Column =
    graft.functions.VectorExprs.dotLong(aVec, bVec).cast("double") /
      (sqrt(aNorm.cast("double")) * sqrt(bNorm.cast("double")))
}
