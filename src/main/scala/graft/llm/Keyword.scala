package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.state.ModelStore

/** Keyword (inverted-index) retrieval — the lexical complement to the
  * ANN stack (SimSearch/Ivf): RAG serving in practice is HYBRID, a
  * keyword candidate set fused with a vector candidate set, because
  * each recalls what the other misses (exact identifiers and rare
  * names vs paraphrase). The reference has no search surface at all
  * (north-star extension, SURVEY.md §2.J note); everything here is
  * deterministic integer arithmetic so the whole retrieval path —
  * postings, boolean AND, match-count ranking, reciprocal-rank fusion
  * — is DuckDB-oracle-checkable.
  *
  * Scale design: the posting "index" is the NORMALIZED (token, doc_id)
  * table, NOT per-token arrays — `collect_list` postings would build a
  * row the size of the corpus for "the" (the same reason the IVF lists
  * are a partitioned table, not a struct). Deduplication to distinct
  * (token, doc) pairs happens map-side under partial aggregation; at
  * rest the table would be written bucketed/partitioned by token hash
  * exactly like the IVF layout (q115), so a query term reads one
  * bucket. Query-side joins are per-TERM semi-joins (a query has a few
  * terms; each probe is key-local), with match-count AND/OR semantics
  * from one aggregation.
  */
object Keyword {

  /** The posting table: one row per DISTINCT (token, doc) pair, tokens
    * lowercased via [[TextOps.regexTokens]]. `df_count` (document
    * frequency) rides along per token — rankers and stop-word gates
    * both need it, and it is one window away from the pairs. */
  def postings(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = df
      .select(col(idCol).as("doc_id"),
        explode(TextOps.regexTokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf")) // term frequency, exact
    pairs.withColumn("df_count",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
  }

  /** Boolean retrieval over [[postings]]: docs matching at least
    * `minMatch` of the `terms` (AND = terms.size, OR = 1). Emits
    * `(doc_id, n_matched, sum_tf)` — integer rank keys. The terms
    * frame is tiny and broadcasts; the postings side is probed
    * key-locally on the token. */
  def search(postings: DataFrame, terms: DataFrame,
      minMatch: Int): DataFrame = {
    require(minMatch >= 1, s"minMatch must be >= 1, got $minMatch")
    // distinct: a repeated query term ("foo bar foo") would duplicate
    // every matching posting row and silently inflate sum_tf (the
    // countDistinct match count would mask it)
    postings.join(broadcast(terms.select(col("token")).distinct()), "token")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("token")).as("n_matched"),
        sum(col("tf")).as("sum_tf"))
      .filter(col("n_matched") >= minMatch)
  }

  /** BM25 ranking (Robertson & Zaragoza 2009) made HASH-EXACT across
    * engines. Two deliberate departures from the textbook float form,
    * both for cross-engine determinism, neither changing the shape of
    * the ranking function:
    *
    *   - the idf is `sqrt((N - df + 0.5)/(df + 0.5))` instead of
    *     `ln(1 + ...)`: `ln` is NOT an IEEE correctly-rounded operation
    *     (platform libm vs JVM intrinsic can differ in the last ulp and
    *     a 1-ulp flip would flip a hash gate), while `+ - * / sqrt` all
    *     are — the q119 discipline. sqrt is a monotone compression of
    *     the same rarity ratio, so per-term ordering is identical.
    *   - the per-(doc,term) contribution is floored to a FIXED-POINT
    *     long (micro units) and the document score is a sum of exact
    *     longs — float sums are merge-order-sensitive in the last ulp
    *     (the integer-RRF argument in [[rrf]]).
    *
    * The tf saturation is the standard k1=1.2, b=0.75 form:
    * `tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))`.
    *
    * Scale: `dl` (doc length) is derived here with one window over the
    * postings — at rest it is index-build-time metadata stored beside
    * `df_count` (the q115 stored-index argument), so the serve path
    * only ever scans the matched postings; the final top-k is the
    * k-bounded partial aggregation ([[graft.functions.TopKAgg]]), not a
    * corpus-wide window. */
  def bm25(postings: DataFrame, terms: DataFrame, nDocs: Long,
      avgdl: Double, k: Int): DataFrame = {
    require(nDocs > 0, s"bm25 needs nDocs > 0, got $nDocs")
    require(avgdl > 0, s"bm25 needs avgdl > 0, got $avgdl")
    val dlW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
    val matched = postings
      .withColumn("dl", sum(col("tf")).over(dlW))
      .join(broadcast(terms.select(col("token")).distinct()), "token")
    val idf = sqrt(
      ((lit(nDocs) - col("df_count")).cast("double") + lit(0.5)) /
        (col("df_count").cast("double") + lit(0.5)))
    val tnorm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
    matched
      .withColumn("contrib",
        floor(idf * tnorm * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score_fp"))
      .agg(graft.functions.TopKAgg.topKByCos(k)(
        col("doc_id"), col("score_fp"), col("score_fp").cast("double"))
        .as("top"))
      .select(posexplode(col("top.items")))
      .select(col("col.cid").as("doc_id"), col("col.dot_q").as("score_fp"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) kept INTEGER-exact:
    * contribution of rank r is `1000000 DIV (60 + r)` — the standard
    * RRF k=60 shape scaled to integers so the fused score is a sum of
    * exact longs (float RRF sums are order-sensitive in the last ulp
    * and would need a tolerance gate). Inputs are two (doc_id, rn)
    * ranked lists; fusion is a FULL outer join — a doc found by either
    * side scores, an absent side contributes 0. */
  def rrf(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("doc_id"), col("rn").as("rank_a"))
    val r = b.select(col("doc_id"), col("rn").as("rank_b"))
    l.join(r, Seq("doc_id"), "full_outer")
      .withColumn("score",
        coalesce(expr("1000000 DIV (60 + rank_a)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + rank_b)"), lit(0L)))
  }

  /** The raw (token, doc_id, tf) collapse [[postings]] builds on —
    * exposed separately because it is the STORED layout of the lexical
    * index: df is index metadata that a serving replica recomputes
    * from its own postings ([[bm25Serve]]), not a stored column that
    * every delta append would invalidate. */
  def docTermPairs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.regexTokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** q140's full serving recipe from a raw (token, doc_id, tf)
    * postings set: df recount, 5th/6th-most-frequent term selection,
    * avgdl, BM25 top-k. ONE code path shared by the batch build
    * (q140), the streamed-index serve (q164) and the compacted-store
    * serve (q165), so "serves bit-identically" is the same code
    * everywhere, not three copies that can drift. */
  def bm25Serve(pairs: DataFrame, nDocs: Long, k: Int = 10): DataFrame = {
    val posts = pairs
      .withColumn("df_count", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
      .localCheckpoint(false) // term selection, totals AND probe reuse it
    // top-6 by (df DESC, token) via orderBy+limit — a distributed
    // TakeOrdered, never a vocabulary-sized one-task sort; the rank
    // window then covers SIX rows (picking ranks 5..6)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("df_count").desc, col("token"))
    val terms = posts.select(col("token"), col("df_count")).distinct()
      .orderBy(col("df_count").desc, col("token")).limit(6)
      .withColumn("r", row_number().over(w))
      .filter(col("r").between(5, 6)).select(col("token"))
    val totalTokens = posts.agg(sum(col("tf"))).head.getLong(0)
    // exact long-to-double conversions + one IEEE division == the
    // oracle's CAST(total AS DOUBLE) / CAST(n AS DOUBLE)
    val avgdl = totalTokens.toDouble / nDocs.toDouble
    bm25(posts, terms, nDocs, avgdl, k)
  }

  /** Persist the postings store partitioned by TERM-SHARD bucket
    * (md5-range of the token, `nBuckets` directories), staged in a
    * private attempt dir and published by [[ModelStore.publish]]'s
    * blue/green atomic rename —
    * the lexical twin of the IVF list store. Partitioning by raw
    * token would mean one directory per vocabulary word (a metadata
    * storm at any real vocabulary); hash bucketing keeps the
    * directory count fixed while still letting compaction land each
    * bucket wholly in one task. */
  def savePostings(pairs: DataFrame, root: String,
      name: String = "postings", nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    ModelStore.publish(root, name, ModelStore.stageWith(root, name) { a =>
      pairs.select(col("token"), col("doc_id"), col("tf"))
        .withColumn("bucket", pmod(xxhash64(col("token")),
          lit(nBuckets.toLong)))
        .write.partitionBy("bucket")
        .parquet(a.resolve("posts").toString)
    })
  }

  /** Load the published postings store (falling back to the backup if
    * prod is missing mid-publish, the ModelStore crash-window rule). */
  def loadPostings(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String = "postings"): DataFrame = {
    val base = graft.state.PartitionedStore.resolve(root, name)
    spark.read.parquet(s"$root/$base/posts")
      .select(col("token"), col("doc_id"), col("tf"))
  }

  /** Compact DELTA postings into the stored index and republish — the
    * lexical twin of [[graft.llm.Ivf.compactIndex]]: a streaming
    * postings writer (q146's ingest) appends one small file per
    * micro-batch per bucket; compaction is one union + one hash
    * repartition on the SAME bucket expression the writer partitions
    * by, so each term shard lands wholly in one task and the
    * partitioned write emits ONE file per bucket directory
    * (CompactionSpec pins the property). Values are untouched — a
    * BM25 serve over the compacted store is bit-identical to one over
    * base+delta, which q165 pins against q140's oracle. */
  def compactPostings(spark: org.apache.spark.sql.SparkSession,
      root: String, delta: DataFrame, name: String = "postings",
      nBuckets: Int = 16): Unit = {
    val base = loadPostings(spark, root, name)
    val merged = base
      .unionByName(delta.select(col("token"), col("doc_id"), col("tf")))
      .repartition(pmod(xxhash64(col("token")), lit(nBuckets.toLong)))
    savePostings(merged, root, name, nBuckets)
  }

  /** Delete propagation into the lexical index — the maintenance step
    * every LIVE index needs when an upstream policy drops documents
    * (dedup keepers, per-source caps, a right-to-delete request):
    * account the dropped docs out of the postings and report, per
    * affected token, the document frequency before/after and the
    * removed term mass. `tombstones` must expose a `doc_id` column.
    *
    * Scale shape: the tombstone list is BROADCAST (a drop list is
    * small next to a 100 TB index — and if it is not, the right tool
    * is a rebuild, not a purge); before/after/removed all come from
    * ONE aggregation keyed by token with conditional sums — no
    * window, no second scan, no corpus-wide re-rank. Only affected
    * tokens (removed_tf > 0) are emitted: the report is
    * drop-list-sized, not vocabulary-sized. */
  def purgeReport(df: DataFrame, idCol: String, textCol: String,
      tombstones: DataFrame): DataFrame = {
    val pairs = docTermPairs(df, idCol, textCol)
    val dead = tombstones.select(col("doc_id")).distinct()
      .withColumn("__dead", lit(1))
    pairs.join(broadcast(dead), Seq("doc_id"), "left")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_before"),
        sum(when(col("__dead").isNull, 1L).otherwise(0L)).as("df_after"),
        sum(when(col("__dead").isNotNull, col("tf")).otherwise(lit(0L)))
          .as("removed_tf"))
      .filter(col("removed_tf") > 0)
  }
}
