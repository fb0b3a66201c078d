package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.ml.Distance

/** Approximate-nearest-neighbor search over an embedding column.
  * North-star extension (SURVEY.md §2.J note): the reference's only vector
  * search is the brute nearest-centroid loop (src/ml/vector_engine.py:21-45).
  *
  * Two paths:
  *  - [[knnBrute]]: exact top-k by cosine — the correctness baseline. Cost
  *    O(|Q|·|C|); fine when the query side broadcasts.
  *  - [[knnLsh]]: random-hyperplane LSH (Charikar 2002) with L independent
  *    hash tables (Indyk–Motwani): a candidate meets a query if they share
  *    a bucket in ANY table. Candidates are bucket-local, the join
  *    shuffles on (table, bucket) — the 100 TB path. Recall/cost is tuned
  *    by (bits, tables): more bits → smaller buckets, more tables →
  *    higher recall. On near-random vectors (this fixture) the achievable
  *    recall/cost tradeoff is fundamentally modest; clustered real
  *    embeddings fare far better.
  */
object SimSearch {

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim): ±1 from a fixed murmur stream — no RNG state. */
  private def planeSign(table: Int, plane: Int, dim: Int): Float =
    if (MurmurHash3.productHash((table, plane, dim, 0x9e3779b9)) < 0) -1f
    else 1f

  /** Sign matrices are constant per (table, bits, dim) — memoize so the
    * per-row hot loop reads a flat array instead of re-hashing a tuple
    * per (plane, dim) element per row. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Float]]()

  private def planes(table: Int, bits: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((table, bits, dim), { key =>
      val (t, b, d) = key
      Array.tabulate(b * d)(i => planeSign(t, i / d, i % d))
    })

  def lshBucket(vec: Array[Float], bits: Int, table: Int = 0): Int = {
    val m = planes(table, bits, vec.length)
    var bucket = 0
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      val off = p * vec.length
      while (i < vec.length) { dot += vec(i) * m(off + i); i += 1 }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Per-table buckets, encoded as table*2^bits + bucket so one int keys
    * the (table, bucket) pair. */
  def lshBuckets(vec: Array[Float], bits: Int, tables: Int): Array[Int] =
    Array.tabulate(tables)(t => (t << bits) | lshBucket(vec, bits, t))

  /** Exact top-k cosine neighbors of `queries` among `candidates`. */
  def knnBrute(queries: DataFrame, candidates: DataFrame, qId: String,
      cId: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val c = candidates.select(col(cId).as("cid"),
      col(vecCol).cast("array<double>").as("cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_sim", round(Distance.cosine(col("cv"), col("qv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Exact squared-L2 top-k under a FIXED-POINT total order
    * (`floor(d·1e6 + 0.5)` longs, ties by cid) — the hash-exact eval
    * ground truth the PQ report card ranks against (q189 and the
    * m/ksub tuning sweep in BASELINE.md share THIS definition). Labeled O(|q|·N) eval baseline: queries broadcast, the
    * corpus streams through one fused distance + k-bounded rank. Emits
    * `(qid, cid, l2_fp, rn)`. */
  def knnBruteL2Fp(queries: DataFrame, candidates: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qId).as("qid"),
      col(vecCol).cast("array<double>").as("__qv"))
    val c = candidates.select(col(cId).as("cid"),
      col(vecCol).cast("array<double>").as("__cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("l2_fp").asc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("l2_fp", Distance.fixedPointLong(
        Distance.sqEuclidean(col("__cv"), col("__qv"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("l2_fp"), col("rn"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix: s(j,d) = +1
    * when the first hex nibble of md5("rp_<j>_<d>") is < 8, else −1 —
    * the md5-derived pseudo-random stream both engines can replay
    * (DuckDB: `substr(md5('rp_' || j || '_' || d), 1, 1) BETWEEN '0'
    * AND '7'`), so the projection is oracle-expressible end to end.
    * outDim×inDim entries, computed once on the driver and shipped as
    * a literal — at any corpus scale the matrix stays a few KiB. */
  def rpSigns(outDim: Int, inDim: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, d) =>
      val h = md.digest(s"rp_${j}_${d}".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1L else -1L
    }
  }

  /** Map-only fixed-point random projection (Johnson–Lindenstrauss
    * lemma; Achlioptas 2003's ±1 database-friendly variant): quantize
    * each coordinate to a `floor(x·1e6 + 0.5)` long, then emit
    * `r[j] = Σ_d s(j,d)·x_q[d]` for the [[rpSigns]] matrix. All-integer
    * arithmetic makes the result independent of summation order — the
    * property that lets a distributed run and a single-node oracle
    * hash-match exactly. NO shuffle and no state: the sign matrix is a
    * driver literal unrolled into `outDim` codegen'd HOF aggregates,
    * so at 100 TB this is one narrow scan — the cheap first stage that
    * buys a 4× smaller vector for every downstream index build. */
  def rpReduce(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int = 16, inDim: Int = 64, outCol: String = "rv")
      : DataFrame = {
    val signs = rpSigns(outDim, inDim)
    val vq = Distance.fixedPointVec(col(vecCol).cast("array<double>"))
    val comps = (0 until outDim).map { j =>
      aggregate(
        zip_with(col("__vq"), typedLit(signs(j).toSeq), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
    }
    df.select(col(idCol), vq.as("__vq"))
      .select(col(idCol), array(comps: _*).as(outCol))
  }

  /** Exact top-k by squared L2 in the [[rpReduce]] space — integer
    * distances, ties by cid, so the full ranking is hash-exact. The
    * scale shape mirrors [[knnBruteL2Fp]] (queries broadcast, corpus
    * streams) but each distance touches `outDim` longs instead of
    * `inDim` doubles — the arithmetic saving a reduced-dim index
    * inherits everywhere downstream. Emits `(qid, cid, rp_fp, rn)`. */
  def knnRp(queries: DataFrame, candidates: DataFrame, qId: String,
      cId: String, vecCol: String, k: Int, outDim: Int = 16,
      inDim: Int = 64): DataFrame = {
    val q = rpReduce(queries, qId, vecCol, outDim, inDim)
      .select(col(qId).as("qid"), col("rv").as("__qr"))
    val c = rpReduce(candidates, cId, vecCol, outDim, inDim)
      .select(col(cId).as("cid"), col("rv").as("__cr"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rp_fp").asc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("rp_fp",
        aggregate(zip_with(col("__cr"), col("__qr"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("rp_fp"), col("rn"))
  }

  /** Matryoshka-style two-stage search (Kusupati et al. 2022's
    * coarse-to-fine usage): rank ALL candidates by fixed-point squared
    * L2 over the first `prefixDims` coordinates only, keep a
    * `shortlist` per query, then rerank just the shortlist by the
    * full-dimension [[knnBruteL2Fp]] fixed-point distance. The coarse
    * pass touches prefixDims/inDim of the arithmetic for the whole
    * corpus; the full-width distance is paid by shortlist rows only —
    * the same shortlist-then-rerank economics as [[graft.llm.Pq
    * .adcRerank]], with dimension prefixes instead of codebooks. Both
    * windows partition on qid, so the two ranks share one exchange.
    * Emits `(qid, cid, l2_fp, rn)` — comparable row-for-row with the
    * exact searcher when the shortlist holds the true top-k. */
  def knnPrefixRerank(queries: DataFrame, candidates: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int,
      prefixDims: Int = 16, shortlist: Int = 50): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) or the rerank can " +
        "never return k rows")
    // Loud size guard: a vector shorter than prefixDims would make
    // zip_with null-pad the prefix, c_fp go null, and null-first
    // ascending ordering silently promote the broken candidate to the
    // top of the shortlist — fail the job instead.
    def prefixFp(v: Column, side: String): Column =
      when(size(v) >= lit(prefixDims),
        Distance.fixedPointVec(slice(v, 1, prefixDims)))
        .otherwise(raise_error(concat(
          lit(s"knnPrefixRerank: $side vector has "),
          size(v).cast("string"),
          lit(s" dims, need >= $prefixDims"))).cast("array<bigint>"))
    val q = queries.select(col(qId).as("qid"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qp", prefixFp(col("__qv"), "query"))
    val c = candidates.select(col(cId).as("cid"),
        col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cp", prefixFp(col("__cv"), "candidate"))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("c_fp").asc, col("cid").asc)
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("l2_fp").asc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("c_fp",
        aggregate(zip_with(col("__cp"), col("__qp"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .withColumn("rn_c", row_number().over(wc))
      .filter(col("rn_c") <= shortlist)
      .withColumn("l2_fp", Distance.fixedPointLong(
        Distance.sqEuclidean(col("__cv"), col("__qv"))))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("l2_fp"), col("rn"))
  }

  /** Oracle-expressible multi-table LSH top-k (q54): 8 tables, table t's
    * 4-bit bucket = signs of coordinates 4t..4t+3 — axis-aligned
    * hyperplanes, the SQL-derivable member of the same Charikar family as
    * [[knnLsh]]'s murmur hyperplanes. Identical two-phase plan: a
    * candidate meets a query in ANY table, pair ids dedup BEFORE the
    * cosine joins back. */
  def knnLshSql(queries: DataFrame, candidates: DataFrame, qId: String,
      cId: String, vecCol: String, k: Int, tables: Int = 8): DataFrame = {
    def buckets(vf: org.apache.spark.sql.Column) =
      array((0 until tables).map(t =>
        (0 until 4).map(i =>
          when(element_at(vf, 4 * t + i + 1) > lit(0f), lit(1 << i))
            .otherwise(lit(0)))
          .reduce(_ + _) + lit(t << 4)): _*)
    val qB = queries
      .select(col(qId).as("qid"),
        explode(buckets(col(vecCol).cast("array<float>"))).as("bucket"))
    val cB = candidates
      .select(col(cId).as("cid"),
        explode(buckets(col(vecCol).cast("array<float>"))).as("bucket"))
    val pairIds = cB.join(qB, "bucket")
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid")
      .distinct()
    rerankTopK(pairIds, queries, candidates, qId, cId, vecCol, k)
  }

  /** Shared exact-rerank tail: deduped candidate pair ids joined back to
    * their vectors, ranked by cosine per query, top-k kept. */
  private def rerankTopK(pairIds: DataFrame, queries: DataFrame,
      candidates: DataFrame, qId: String, cId: String, vecCol: String,
      k: Int): DataFrame = {
    val qv = queries.select(col(qId).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val cv = candidates.select(col(cId).as("cid"),
      col(vecCol).cast("array<double>").as("cv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    pairIds.join(qv, "qid").join(cv, "cid")
      .withColumn("cos_sim", round(Distance.cosine(col("cv"), col("qv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos_sim"), col("rn"))
  }

  /** Multi-table LSH approximate top-k. Both sides hash once per table;
    * the candidate set is the union over tables of same-bucket pairs.
    * Pair ids are deduplicated BEFORE vectors join back, so a pair that
    * collides in several tables pays the cosine exactly once (same
    * two-phase shape as Dedup.jaccardPairs). */
  def knnLsh(queries: DataFrame, candidates: DataFrame, qId: String,
      cId: String, vecCol: String, k: Int, bits: Int = 4,
      tables: Int = 8): DataFrame = {
    val bucketsUdf = udf((v: Array[Float]) => lshBuckets(v, bits, tables))
    val qB = queries
      .select(col(qId).as("qid"), col(vecCol).cast("array<float>").as("qvf"))
      .withColumn("bucket", explode(bucketsUdf(col("qvf"))))
      .select(col("qid"), col("bucket"))
    val cB = candidates
      .select(col(cId).as("cid"), col(vecCol).cast("array<float>").as("cvf"))
      .withColumn("bucket", explode(bucketsUdf(col("cvf"))))
      .select(col("cid"), col("bucket"))
    val pairIds = cB.join(qB, "bucket")
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid")
      .distinct() // a pair can meet in several tables
    rerankTopK(pairIds, queries, candidates, qId, cId, vecCol, k)
  }
}
