package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.ml.Distance

/** Deduplication operators for large-scale training-data pipelines.
  * North-star extension beyond the reference (SURVEY.md §2.J note): the
  * reference's only dedup is key-based upsert (`ON CONFLICT (log_id) DO
  * NOTHING`, src/db/log_ops.py:47-55); these generalize to content dedup.
  *
  * Scale design: every variant is a shuffle-on-key plan — no driver
  * loops, no cross join over the full corpus. MinHash/SimHash candidate
  * generation is the LSH band trick (Broder 1997 / Charikar 2002, public):
  * candidates meet only inside a band bucket, so the pair space is
  * bucket-local, then exact verification runs on the candidate set only.
  */
object Dedup {

  /** Canonical oracle-pinned whitespace class ([[TextOps.WsClass]]). */
  val WsClass = TextOps.WsClass

  /** Exact content dedup via hash-groupBy (keep = min id per content).
    * At 100 TB this is one shuffle on a 128-bit key; no sort. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Token-set Jaccard on a column pair (codegen'd array ops). */
  def tokenJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  private def tokensOf(textCol: Column): Column =
    array_distinct(split(textCol, " "))

  /** N-gram (token-set) Jaccard near-dup pairs within a blocking group.
    * Blocking (`groupCol`) bounds the pair space — the 100 TB analog is
    * blocking by LSH bucket (see [[minHashCandidates]]); here the fixture's
    * `source` plays that role for the oracle-checkable variant. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, threshold: Double): DataFrame = {
    // Two-phase pair generation: phase 1 joins only (group, id, size) —
    // a few ints per row — and applies the lossless size prefilter
    // (jaccard >= t implies min(|A|,|B|) >= t*max(|A|,|B|)), so the
    // O(n²/groups) pair blowup never materializes token arrays. Phase 2
    // broadcast-joins the token arrays back for surviving pairs only and
    // verifies with a linear sorted-merge intersection
    // (SortedIntersectSize) — sort once per doc, not per pair.
    // fanOutSmall: both phases tokenize every doc (split + distinct +
    // sort) — orders of magnitude more CPU than the row bytes, so the
    // per-doc work must not ride a 1-split scan (guide §2.5).
    val src = graft.util.Par.fanOutSmall(df)
    val narrow = src.select(col(groupCol).as("g"), col(idCol).as("id"),
      size(tokensOf(col(textCol))).as("sz"))
    verifyCandidates(src, sizeFilteredCandidates(narrow, threshold),
      idCol, textCol, threshold)
  }

  /** Phase 1: bucket-local self-join of the narrow (g, id, sz) table with
    * the lossless size prefilter. */
  def sizeFilteredCandidates(narrow: DataFrame,
      threshold: Double): DataFrame = {
    val aN = narrow.select(col("g"), col("id").as("id_a"),
      col("sz").as("sz_a"))
    val bN = narrow.select(col("g"), col("id").as("id_b"),
      col("sz").as("sz_b"))
    aN.join(bN, "g")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
  }

  /** Phase 2: join token arrays back for surviving candidates only and
    * verify with the codegen sorted-merge intersection. */
  private def verifyCandidates(df: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      array_sort(tokensOf(col(textCol))).as("toks"))
    val inter = graft.functions.VectorExprs
      .sortedIntersectSize(col("toks_a"), col("toks_b")).cast("double")
    // no broadcast hint: AQE broadcasts the token table when it is small
    // and falls back to a shuffle join at corpus scale (the candidate
    // side stays narrow either way)
    candidates
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")),
        "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")),
        "id_b")
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("g"), col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[jaccardPairs]] reading phase 1 from a PRE-BUCKETED narrow table:
    * the 100 TB posture — a corpus pipeline maintains the (blocking-key,
    * id, size) layout bucketed by the blocking key once (`bucketBy(g)` at
    * ingest), and every dedup pass's dominant candidate self-join then
    * reads co-located buckets with NO shuffle exchange on either side
    * (asserted in BucketingSpec). `table` is the bucketed catalog table
    * to (re)write; at scale it would already exist. */
  def jaccardPairsBucketed(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, threshold: Double,
      table: String = "graft_jaccard_narrow", buckets: Int = 8): DataFrame = {
    val spark = df.sparkSession
    df.select(col(groupCol).as("g"), col(idCol).as("id"),
        size(tokensOf(col(textCol))).as("sz"))
      .write.bucketBy(buckets, "g").sortBy("g")
      .mode("overwrite").saveAsTable(table)
    verifyCandidates(df,
      sizeFilteredCandidates(spark.table(table), threshold),
      idCol, textCol, threshold)
  }

  // ---------------- MinHash + LSH ----------------

  /** One representative (min id) per distinct content. Signature-based
    * near-dup runs exact-dedup FIRST (standard pipeline order): identical
    * texts share identical signatures, so an exact-dup group of size m
    * lands whole in every band bucket and the bucket-local pair space
    * grows with m² — measured 100× candidate blowup (q43: 1.2 s → 87 s)
    * on a 10×-replicated stress corpus (BASELINE.md). Representatives
    * collapse that to one row per content; exact-dup membership itself is
    * [[exact]]'s output (q40) and the keeper closure is q57's components.
    * On a corpus with no exact dups this is a no-op. */
  private def representatives(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("_h"))
      // texts in a group are identical (md5 key) — first() deterministic
      .agg(min(col(idCol)).as(idCol), first(col(textCol)).as(textCol))
      .drop("_h")

  /** K minhash values over token n-gram shingles; seeds are fixed so the
    * signature is a pure function of the text. */
  def minHashSignature(text: String, k: Int = 64, shingle: Int = 3): Array[Int] = {
    val toks = text.toLowerCase.split(WsClass).filter(_.nonEmpty)
    val shingles: Iterator[String] =
      if (toks.length < shingle) Iterator(toks.mkString(" "))
      else toks.sliding(shingle).map(_.mkString(" "))
    val sig = Array.fill(k)(Int.MaxValue)
    shingles.foreach { sh =>
      val base = MurmurHash3.stringHash(sh, 0x5bd1e995)
      var i = 0
      while (i < k) {
        // universal-hash family: h_i(x) = murmur(x) * a_i + b_i (odd a_i)
        val h = base * (2 * i + 1) + MurmurHash3.productHash((i, 0x27d4eb2f))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Candidate pairs via banded minhash: rows agreeing on any band bucket.
    * bands × rowsPerBand must equal k. One explode + one shuffle on
    * (band, bucket) + bucket-local pairing. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && k % bands == 0 && k / bands > 0,
      s"bands ($bands) must evenly divide k ($k) with >=1 row per band — " +
        "otherwise banding degenerates to one global bucket (full cross " +
        "product) or silently ignores part of the signature")
    val rowsPer = k / bands
    val sigUdf = udf((t: String) => minHashSignature(t, k))
    val banded = df
      .select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .select(col("id"), posexplode(
        // hash each band's slice into one bucket key
        (0 until bands).foldLeft(array()) { (acc, b) =>
          concat(acc, array(hash(slice(col("sig"), b * rowsPer + 1, rowsPer))))
        }))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Shingle set of a text (n-token windows) — the similarity space the
    * minhash signature estimates. Word-order sensitive by design: MinHash
    * dedup targets *sequence* near-dups (standard web-dedup formulation);
    * bag-level dups are [[jaccardPairs]]'s territory. */
  def shingleSet(text: String, n: Int = 3): Array[String] = {
    val toks = text.toLowerCase.split(WsClass).filter(_.nonEmpty)
    if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** [[shingleSet]] over the SORTED token sequence — bag normalization:
    * sorting first makes the shingles reordering-invariant, so BAG-level
    * near-dups (same tokens, shuffled order) become sequence near-dups
    * the k-gram signature can see. q183 measures the recall difference
    * between the two on a reordering-heavy corpus. ASCII-safe sort
    * parity: Scala sorts by UTF-16 code units, the DuckDB replay
    * (`list_sort`) by UTF-8 bytes — identical on ASCII tokens (the
    * fixture), divergent only on supplementary-plane text. */
  def shingleSetSorted(text: String, n: Int = 3): Array[String] = {
    val toks = text.toLowerCase.split(WsClass).filter(_.nonEmpty).sorted
    if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
  }

  /** Full MinHash-LSH near-dup: banded candidates → exact shingle-Jaccard
    * verification (only candidates pay the verification cost, and the
    * verified metric is the one the signature estimates). */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16,
      shingle: Int = 3): DataFrame = {
    val reps = representatives(df, idCol, textCol)
    val cands = minHashCandidates(reps, idCol, textCol, k, bands)
    val sh = udf((t: String) => shingleSet(t, shingle))
    val shingles = reps.select(col(idCol).as("id"),
      sh(col(textCol)).as("shs"))
    verifyShingleJaccard(cands, shingles, threshold)
  }

  /** Shared verify tail: join shingle arrays back to the candidate pairs
    * and keep those meeting the exact-Jaccard threshold. */
  private def verifyShingleJaccard(cands: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(shingles.select(col("id").as("id_a"), col("shs").as("shs_a")),
        "id_a")
      .join(shingles.select(col("id").as("id_b"), col("shs").as("shs_b")),
        "id_b")
      .withColumn("jaccard", tokenJaccard(col("shs_a"), col("shs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Oracle-expressible MinHash-LSH near-dup (q52): the same banded-LSH
    * shape as [[minHashNearDups]], but with every hash derivable in SQL —
    * shingle base = first 60 bits of md5, then k=16 universal hashes
    * h_i = (a_i·base + b_i) mod (2⁶¹−1) in exact integer arithmetic,
    * per-doc minima, 4 bands of 4 bucketed by md5 of the band minima.
    * [[minHashNearDups]] keeps murmur hashing (one cheap hash per
    * shingle-slot vs an md5) as the throughput path; this variant trades
    * hash cost for END-TO-END DuckDB verifiability of the banding
    * machinery itself. Same two-phase plan: narrow bucket self-join for
    * candidates, shingle arrays joined back only for survivors. */
  private val P = 2305843009213693951L // 2^61 - 1 (Mersenne)

  /** (a·base + c) mod p computed entirely in codegen'd long arithmetic
    * (no BigDecimal in the per-shingle hot loop): base < 2^60 splits as
    * hi·2^30 + lo, and ×2^30 mod the MERSENNE p folds as
    * (x<<30 & p) + (x >>> 31) — partially reduced (< p + 2^36), so one
    * conditional subtract finishes. Congruent to the DuckDB oracle's
    * HUGEINT (a·base + c) % p exactly; the q52 oracle hash-checks it.
    * Shared by the batch signature path ([[minHashNearDupsSql]]) and the
    * per-row streaming one ([[bandBucketKeysSql]]). */
  private def hmodExpr(b: Column, a: Int, c: Int): Column = {
    val hi = shiftright(b, 30)                        // < 2^30
    val lo = b.bitwiseAND(lit((1L << 30) - 1))
    val t = hi * lit(a.toLong)                        // < 2^35
    val folded = shiftleft(t, 30).bitwiseAND(lit(P)) +
      shiftright(t, 31)
    val h0 = folded + lo * lit(a.toLong) + lit(c.toLong)
    when(h0 >= P, h0 - P).otherwise(h0)
  }

  /** The q52 band-bucket keys as ONE per-row codegen expression: an
    * array of 4 md5 bucket strings (band = array position). Same
    * shingles (3-token windows, lowercase, whitespace class, distinct,
    * short texts → the whole text), same md5-derived base, same 16
    * universal hashes and 4×4 banding as [[minHashNearDupsSql]] — but
    * computed per row in ONE JIT-compiled scalar pass
    * ([[md5BandBuckets]]) so a STREAM can tag documents with their
    * buckets map-only: no shuffle, no streaming aggregation, state
    * stays in the keyed store downstream
    * ([[graft.streaming.StreamOps.streamingNearDupFlags]]).
    *
    * Why a Scala function and not builtin column expressions: lambda
    * variables are excluded from Spark's subexpression elimination AND
    * higher-order functions never enter codegen, so 16 tidy
    * `array_min(transform(…))` minima each re-evaluated the whole
    * tokenize → shingle → distinct → md5 subtree (179 s at sf0.1,
    * ProfileQ106); even folded into one `aggregate` HOF the interpreted
    * per-element eval cost 15 s. Hash crunching is exactly the
    * byte-level work the repo's UDF rule reserves UDFs for (the batch
    * q52 path already computes shingles via the [[shingleSet]] UDF);
    * the scalar pass is ~40× the interpreted fold. Parity with the
    * DuckDB oracle is by construction: same [[shingleSet]] shingles,
    * base = first 15 md5 hex chars as a long (≡ CAST('0x'||substr(md5,
    * 1,15) AS BIGINT)), the EXACT [[hmodExpr]] fold arithmetic ported
    * to longs, bucket = md5 of the comma-joined minima — q106
    * hash-checks the whole chain end to end. */
  def bandBucketKeysSql(text: Column): Column = {
    val f = udf((t: String) => md5BandBuckets(t))
    f(text)
  }

  /** [[bandBucketKeysSql]]'s SimHash sibling ([[simHashBandKeys]]) — the
    * q53 signature as per-row state keys, completing the streaming
    * ingest story for BOTH signature families. */
  def simHashBandKeysSql(text: Column): Column = {
    val f = udf((t: String) => simHashBandKeys(t))
    f(text)
  }

  /** The EMBEDDING modality's band keys — random-hyperplane sign LSH
    * (Charikar's SimHash over real vectors) specialized to coordinate
    * hyperplanes so the bucket is SQL-derivable in any engine (q91's
    * 4-bit sign bucket, widened and banded): band j = the sign pattern
    * of coordinates [j*width, (j+1)*width) packed into an int, key =
    * "j:bits". Two vectors share a band iff ALL `width` signs in that
    * band agree — near-identical embeddings agree on almost every
    * coordinate sign, so they collide on ≥1 band with the standard
    * (1-(1-p^r)^b) banding probability. Unlike the text signatures
    * (md5 crunching → UDF by the measured rule), this is a pure
    * when/element_at expression chain — codegen-friendly, map-only,
    * no lambda. Requires dim ≥ bands*width. */
  def embeddingSignBandKeysSql(vec: Column, bands: Int = 6,
      width: Int = 10): Column = {
    val keys = (0 until bands).map { j =>
      val bits = (0 until width).map(i =>
          when(element_at(vec, j * width + i + 1) > lit(0d), lit(1 << i))
            .otherwise(lit(0)))
        .reduce(_ + _)
      concat(lit(s"$j:"), bits.cast("string"))
    }
    array(keys: _*)
  }

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** Plain-Scala twin of the q52 signature machinery (see
    * [[bandBucketKeysSql]]): the 4 band-bucket keys for one text,
    * band-prefixed ("0:<md5>") so a key is self-contained state-store
    * material — the same md5 in different bands must stay distinct
    * entries. */
  def md5BandBuckets(text: String): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // (a·b + c) mod P — the hmodExpr fold verbatim in long arithmetic
    // (b < 2^60 is non-negative, so >> ≡ >>> and the congruence proof
    // carries over unchanged)
    def hmod(b: Long, a: Long, c: Long): Long = {
      val hi = b >> 30
      val lo = b & ((1L << 30) - 1)
      val t = hi * a
      val folded = ((t << 30) & P) + (t >> 31)
      val h0 = folded + lo * a + c
      if (h0 >= P) h0 - P else h0
    }
    val minima = Array.fill(16)(Long.MaxValue)
    shingleSet(text, 3).foreach { sh =>
      val b = java.lang.Long.parseLong(md5Hex(md, sh).substring(0, 15), 16)
      var i = 0
      while (i < 16) {
        val h = hmod(b, 2 * i + 1, 7919 * i + 13)
        if (h < minima(i)) minima(i) = h
        i += 1
      }
    }
    Array.tabulate(4) { bnd =>
      s"$bnd:" + md5Hex(md,
        (4 * bnd until 4 * bnd + 4).map(minima(_)).mkString(","))
    }
  }

  /** Plain-Scala twin of the q53 simhash banding: the 4 16-bit band keys
    * for one text ("band:value"), or NO keys for a token-free text —
    * matching the batch path, where a doc with no tokens contributes no
    * vote rows and so never reaches the band table (an all-zero band
    * would instead collide every empty doc into one near-dup group).
    * Same md5 bit source as q53: b1 = hex[1..15], b2 = hex[16..30],
    * bit i from b1 below 60 and b2 above, votes over token REPEATS,
    * band value = the 16 vote signs packed little-endian. */
  def simHashBandKeys(text: String): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    var any = false
    text.toLowerCase.split(WsClass).filter(_.nonEmpty).foreach { t =>
      any = true
      val hex = md5Hex(md, t)
      val b1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val b2 = java.lang.Long.parseLong(hex.substring(15, 30), 16)
      var i = 0
      while (i < 64) {
        val bit = if (i < 60) (b1 >> i) & 1L else (b2 >> (i - 60)) & 1L
        votes(i) += (if (bit == 1L) 1 else -1)
        i += 1
      }
    }
    if (!any) Array.empty
    else Array.tabulate(4) { b =>
      var v = 0L
      var j = 0
      while (j < 16) {
        if (votes(16 * b + j) > 0) v |= (1L << j)
        j += 1
      }
      s"$b:$v"
    }
  }

  /** The q52 signature machinery through CANDIDATE generation: returns
    * the representatives' shingle frame `(id, shs)`, the signature
    * frame `(id, m0..m15)` and the distinct band-bucket candidate
    * pairs — exposed so the banding-quality eval (q183) can score the
    * candidate set itself and the estimate-accuracy eval (q185) can
    * compare signature agreement against exact Jaccard. `sortTokens`
    * switches to [[shingleSetSorted]]'s bag-normalized shingles (same
    * hashes, same banding). */
  def minHashSqlCandidates(df: DataFrame, idCol: String, textCol: String,
      sortTokens: Boolean = false): (DataFrame, DataFrame, DataFrame) =
    // exact-dedup-first like every signature path (identical texts share
    // identical signatures — band buckets otherwise grow with duplicate
    // multiplicity and pair space with its square);
    // fanOutSmall: AQE folds the rep aggregation's output to one
    // partition at small size, serializing the shingle UDF + 16-hash
    // mins that follow; the reps frame is exactly the small-bytes/
    // heavy-CPU shape the guard targets (guide §2.5)
    minHashSqlCandidatesOf(
      graft.util.Par.fanOutSmall(representatives(df, idCol, textCol)),
      idCol, textCol, sortTokens)

  /** [[minHashSqlCandidates]] over a PREPARED representatives frame —
    * callers that run several signature families over the same corpus
    * (q183) build the exact-dedup reps ONCE (fanned out + checkpointed)
    * and thread the frame through each generator instead of each
    * re-running the md5 grouping + scan (r15 verdict item 5: q183's
    * plan held three independent reps subtrees). */
  def minHashSqlCandidatesOf(reps: DataFrame, idCol: String,
      textCol: String, sortTokens: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh =
      if (sortTokens) udf((t: String) => shingleSetSorted(t, 3))
      else udf((t: String) => shingleSet(t, 3))
    // lazy checkpoint: shingles are used twice (hashing + verify) but
    // constructing the frame must not launch a job (plan audits build
    // queries unexecuted)
    val docs = reps
      .select(col(idCol).as("id"), sh(col(textCol)).as("shs"))
      .localCheckpoint(false)
    val base = docs.select(col("id"), explode(col("shs")).as("sh"))
      .withColumn("b",
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long"))
    // 16 parallel min-aggregates over per-shingle hash values: one
    // map-side-combining groupBy of the shingle rows, no k-way explode
    // (exploding would shuffle k× the rows for the same minima)
    val withH = base.select(col("id") +: (0 until 16).map(i =>
      hmodExpr(col("b"), 2 * i + 1, 7919 * i + 13).as(s"h$i")): _*)
    val sig = withH.groupBy(col("id"))
      .agg(min(col("h0")).as("m0"),
        (1 until 16).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .localCheckpoint(false) // bucketing AND the q185 eval read it
    val buckets = sig.select(col("id"), posexplode(array(
      (0 until 4).map(b => md5(concat_ws(",",
        (0 until 4).map(j => col(s"m${4 * b + j}").cast("string")): _*))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkt")
    val cands = buckets.select(col("band"), col("bkt"), col("id").as("id_a"))
      .join(buckets.select(col("band"), col("bkt"), col("id").as("id_b")),
        Seq("band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    (docs, sig, cands)
  }

  def minHashNearDupsSql(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val (docs, _, cands) = minHashSqlCandidates(df, idCol, textCol)
    verifyShingleJaccard(cands, docs, threshold)
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash (Charikar 2002) over tokens: majority vote of signed
    * feature-hash bits. */
  def simHash64(text: String): Long = {
    val counts = new Array[Int](64)
    text.toLowerCase.split(WsClass).filter(_.nonEmpty).foreach { t =>
      val h1 = MurmurHash3.stringHash(t, 0x9747b28c)
      val h2 = MurmurHash3.stringHash(t, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash near-dups: band the 64 bits into 4 × 16-bit keys (any exact
    * band match is a candidate — guarantees recall for hamming ≤ 3),
    * verify by bit_count(xor) ≤ maxHamming. */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val shUdf = udf((t: String) => simHash64(t))
    val hashed = representatives(df, idCol, textCol)
      .select(col(idCol).as("id"), shUdf(col(textCol)).as("sh"))
    val banded = hashed.select(col("id"), col("sh"), posexplode(array(
      (0 until 4).map(b =>
        shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"),
      col("sh").as("sh_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"),
      col("sh").as("sh_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle-expressible SimHash near-dup (q53): same majority-vote-of-bits
    * construction as [[simHashNearDups]], but the per-token 64 bits come
    * from md5 (60 from the first 15 hex chars, 4 from the next) instead of
    * murmur, and the fingerprint is kept as four 16-bit band values — so
    * signature, banding, candidate generation and hamming verification
    * are all reproducible in DuckDB. The murmur variant stays the
    * throughput path (one cheap hash vs an md5 per token). */
  def simHashNearDupsSql(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 16): DataFrame =
    simHashSqlCandidates(df, idCol, textCol)
      .filter(col("hamming") <= maxHamming)

  /** The q53 machinery through its distinct band-equality CANDIDATE
    * pairs (hamming attached, unfiltered) — exposed for q183's
    * signature-family eval, shared by [[simHashNearDupsSql]]. */
  def simHashSqlCandidates(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    // exact-dedup-first, as in every signature path; fanOutSmall for the
    // per-token double-md5 + 64 vote aggregates that follow (same
    // small-bytes/heavy-CPU shape as the minhash path)
    simHashSqlCandidatesOf(
      graft.util.Par.fanOutSmall(representatives(df, idCol, textCol)),
      idCol, textCol)

  /** [[simHashSqlCandidates]] over a PREPARED representatives frame
    * (the q183 shared-reps move — see [[minHashSqlCandidatesOf]]). */
  def simHashSqlCandidatesOf(reps: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = reps
      .select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), WsClass)).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("b1",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .withColumn("b2",
        conv(substring(md5(col("tok")), 16, 15), 16, 10).cast("long"))
    def bit(i: Int): Column =
      if (i < 60) shiftright(col("b1"), i).bitwiseAND(lit(1L))
      else shiftright(col("b2"), i - 60).bitwiseAND(lit(1L))
    // 64 vote aggregates in one map-side-combining pass
    val votes = toks.groupBy(col("id"))
      .agg(sum(when(bit(0) === 1, 1).otherwise(-1)).as("v0"),
        (1 until 64).map(i =>
          sum(when(bit(i) === 1, 1).otherwise(-1)).as(s"v$i")): _*)
    val sig = votes.select(col("id") +: (0 until 4).map(b =>
      (0 until 16).map(j =>
        when(col(s"v${16 * b + j}") > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).as(s"band$b")): _*)
    val banded = sig.select(col("id"), col("band0"), col("band1"),
      col("band2"), col("band3"),
      posexplode(array(col("band0"), col("band1"), col("band2"),
        col("band3"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkt")
    val l = banded.select(col("band"), col("bkt"), col("id").as("id_a"),
      col("band0").as("a0"), col("band1").as("a1"), col("band2").as("a2"),
      col("band3").as("a3"))
    val r = banded.select(col("band"), col("bkt"), col("id").as("id_b"),
      col("band0").as("b0"), col("band1").as("b1"), col("band2").as("b2"),
      col("band3").as("b3"))
    l.join(r, Seq("band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        ((0 until 4).map(b =>
          bit_count(col(s"a$b").bitwiseXOR(col(s"b$b"))))
          .reduce(_ + _)).as("hamming"))
      .distinct()
  }

  // ---------------- Connected components / canonical keeper ----------

  /** Connected components over a near-dup pair graph via min-label
    * propagation: every doc ends up labeled with the smallest id in its
    * component — the canonical "keep" id a dedup pass retains. Iterative
    * join plan (O(diameter) rounds, each one shuffle); lineage is cut per
    * round with localCheckpoint so round N does not re-execute rounds
    * 1..N-1. Converges because labels are monotonically non-increasing
    * and bounded.
    *
    * With `allIds` the output covers EXACTLY that id universe (unpaired
    * ids keep themselves); `pairs` must be derived from the same table,
    * since a paired id absent from `allIds` is dropped, not labeled. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      allIds: Option[DataFrame] = None): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter, allIds)._1

  /** Path-compressed union-find over a partition's (src, dst) rows —
    * the building block of both CC fast paths. Duplicate and
    * self-referential edges cost one map probe each, so callers never
    * need to pre-distinct their edge sets. Returns the parent map plus
    * the find function (call find again after all unions — interior
    * entries may still point at stale roots until compressed). */
  private def unionFindOf(rows: Iterator[org.apache.spark.sql.Row])
      : (java.util.HashMap[Any, Any], Any => Any) = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r)
        r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val next = parent.getOrDefault(c, c)
        parent.put(c, r); c = next
      }
      r
    }
    rows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    (parent, find)
  }

  /** [[connectedComponents]] that also reports the number of propagation
    * rounds it ran — the per-round job count is the 100 TB cost driver, so
    * tests pin it (ScaleOpsSpec). */
  def connectedComponentsWithRounds(pairs: DataFrame, maxIter: Int = 50,
      allIds: Option[DataFrame] = None): (DataFrame, Int) = {
    // both edge directions from ONE pass over `pairs`: a union of two
    // selects evaluates the (often expensive) upstream pair join twice
    // before the checkpoint cuts lineage — measured 2x the whole jaccard
    // join cost on q57. No distinct anywhere on the raw edges: the fast
    // path absorbs duplicates at a map-probe each and min-label
    // propagation is idempotent over them; a caller whose pair set is
    // heavily duplicated BY CONSTRUCTION (e.g. banded LSH emitting a
    // pair once per matching band) should dedup before calling.
    val bidir = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .localCheckpoint()
    // Size the loop's parallelism from the graph, not the session conf:
    // the per-round cost at small scale is pure scheduling/planning
    // overhead, and at large scale a fixed count under-partitions. ~1M
    // edge rows per partition keeps a partition's union-find/join state
    // comfortably in executor memory; the count is free (bidir is
    // already materialized by the checkpoint).
    val loopParts =
      math.max(1L, math.min((bidir.count() - 1) / 1000000L + 1, 65536L)).toInt
    // Two-level CC: a graph that fits ONE partition (≤1M edge rows by
    // construction) is solved by a local union-find in a single task —
    // one job, zero shuffles — instead of paying O(diameter) rounds of
    // Catalyst planning + checkpoint machinery (~0.3 s/round measured,
    // dominating q57 at test scale). Bigger graphs first CONTRACT
    // partition-locally, then run the distributed min-label loop on the
    // contracted graph.
    val idType = bidir.schema("src").dataType
    val localOrd: Option[Ordering[Any]] = idType match {
      case org.apache.spark.sql.types.LongType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case org.apache.spark.sql.types.IntegerType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case org.apache.spark.sql.types.StringType =>
        // UTF-8 byte order, NOT Java's UTF-16 compareTo: Spark's min()
        // in the distributed loop compares UTF-8 binary, and the two
        // orders disagree on supplementary-plane characters — the fast
        // path must pick the same keeper as the loop (and as a SQL MIN)
        Some(new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val x = a.asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val y = b.asInstanceOf[String]
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0
            val n = math.min(x.length, y.length)
            while (i < n) {
              val d = (x(i) & 0xFF) - (y(i) & 0xFF)
              if (d != 0) return d
              i += 1
            }
            x.length - y.length
          }
        })
      case _ => None // exotic id type: use the distributed loop
    }
    val (labels, rounds) = (loopParts, localOrd) match {
      case (1, Some(ord)) =>
        val sch = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("label", idType)))
        val uf = bidir.coalesce(1).mapPartitions { it =>
          // union-find; roots then relabel to the component minimum so
          // output matches the distributed loop
          val (parent, find) = unionFindOf(it)
          val minOfRoot = new java.util.HashMap[Any, Any]()
          val nodes = new java.util.ArrayList[Any](parent.keySet())
          nodes.forEach { n =>
            val r = find(n)
            val cur = minOfRoot.get(r)
            if (cur == null || ord.lt(n, cur)) minOfRoot.put(r, n)
          }
          val out = new scala.collection.mutable.ArrayBuffer[
            org.apache.spark.sql.Row](nodes.size())
          nodes.forEach { n =>
            out += org.apache.spark.sql.Row(n, minOfRoot.get(find(n)))
          }
          out.iterator
        }(org.apache.spark.sql.Encoders.row(sch))
        (uf.localCheckpoint(), 1)
      case _ =>
        // Every shuffle in the loop is pinned to loopParts by an explicit
        // hash repartition; ENSURE_REQUIREMENTS then matches the other
        // join sides to the existing layout, leaving ONE loopParts-wide
        // shuffle per round (the groupBy(src)) instead of three
        // conf-width ones. The checkpoint after the repartition pins
        // HashPartitioning(dst) for the planner AND stops each round's
        // two jobs from re-running the repartition's map side.
        // (A partition-local union-find contraction level was tried here
        // and measured a wash at sf1x100: hash(dst) partitioning spreads
        // each component across partitions, so the stitched star graph
        // keeps the original diameter — same 5 rounds — and the extra
        // full pass over the edges costs what the smaller loop graph
        // saves. Min-label propagation is idempotent over duplicate
        // edges, so no distinct on the raw edge set either: a dedup
        // shuffle costs more than dup rows riding through the joins.)
        val edges = bidir.repartition(loopParts, col("dst"))
          .localCheckpoint()
        // the loop runs on the PAIRED subgraph only — unpaired docs can
        // never change label (they are their own keeper), so carrying the
        // whole universe through every round's joins is wasted shuffle;
        // they are attached with one broadcast left-join after convergence
        val paired = edges.select(col("src").as("id"))
          .repartition(loopParts, col("id")).distinct()
        var labels = paired
          .withColumn("label", col("id"))
          .localCheckpoint()
        var changed = true
        var i = 0
        while (changed && i < maxIter) {
          // each node adopts the min label among itself and its neighbors;
          // the convergence flag rides along in the SAME pass (materialized
          // by the eager localCheckpoint), so detecting quiescence costs a
          // scan of the checkpointed partitions — not the extra shuffle
          // join + full recount per round the naive formulation pays.
          // Round 1's labels are the identity map, so its neighbor minimum
          // is min(dst) per src straight off the edge list — no join.
          val neighborMin =
            if (i == 0)
              edges.repartition(loopParts, col("src"))
                .groupBy(col("src").as("id"))
                .agg(min(col("dst")).as("min_n"))
            else edges
              .join(labels.withColumnRenamed("id", "dst")
                .withColumnRenamed("label", "n_label"), "dst")
              .repartition(loopParts, col("src"))
              .groupBy(col("src").as("id"))
              .agg(min(col("n_label")).as("min_n"))
          val updated = labels.join(neighborMin, Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("min_n"), col("label")))
                .as("label"),
              (coalesce(col("min_n"), col("label")) < col("label"))
                .as("_moved"))
            .localCheckpoint()
          changed = !updated.filter(col("_moved")).isEmpty
          labels = updated.drop("_moved")
          i += 1
        }
        // silent truncation would corrupt keeper assignment downstream —
        // a component wider than maxIter hops must fail loudly
        require(!changed,
          s"connectedComponents did not converge after $maxIter rounds " +
            "(labels still moving) — raise maxIter")
        (labels, i)
    }
    // with allIds the output covers EXACTLY that universe: unpaired ids
    // label themselves, and (contract, documented in the scaladoc) a
    // paired id outside allIds does not appear — pairs must derive from
    // the same table as allIds, as every in-repo caller's do. The
    // converged label set is usually small next to the universe, so no
    // explicit broadcast hint: AQE sees the checkpointed labels' real
    // size at runtime and picks a broadcast join when it fits, while a
    // dedup-heavy corpus whose paired set approaches the universe
    // degrades to a shuffle join instead of an 8GB broadcast failure.
    val total = allIds match {
      case Some(ids) =>
        ids.toDF("id").join(labels, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("label"), col("id")).as("label"))
      case None => labels
    }
    (total.select(col("id"), col("label").as("keep_id")), rounds)
  }

  // ---------------- Embedding near-dup ----------------

  /** Cosine near-dup pairs. Brute pair space — correct baseline; at scale
    * block first with [[SimSearch.lshBucket]] and join on bucket. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"),
      col(vecCol).cast("array<double>").as("v_a"))
    val b = df.select(col(idCol).as("id_b"),
      col(vecCol).cast("array<double>").as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(Distance.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Keeper assignment over embedding near-dups, representatives-first —
    * the scale path for [[embeddingNearDups]]'s all-pairs output. The
    * measured super-linear growth of the pair form is output-driven: m
    * exact copies of one vector contribute C(m,2) pairs, so 100× data
    * with constant distinct content grows the OUTPUT ~110× per decade.
    * Collapsing exact-duplicate vectors to one representative (min id
    * per distinct content, same trick as the MinHash/SimHash paths)
    * kills that m² term before any pairwise work; near-dup pairing then
    * runs bucket-local over representatives only, connected components
    * label the rep graph, and every row inherits its representative's
    * component label. Because each rep is its group's min id, component
    * labels are true min member ids — identical keeper semantics to
    * [[connectedComponents]] over the full pair graph, at a pair space
    * bounded by distinct content, not corpus size.
    *
    * `bucket` is the LSH blocking expression applied to the (double-cast)
    * vector column: q91 passes the SQL-derivable 4-coordinate sign bucket
    * (oracle-checkable in DuckDB); production can pass
    * [[SimSearch.lshBucket]]'s murmur hyperplanes.
    *
    * Plan shape at 100 TB: the rep table is a partial AGGREGATE (not a
    * window), so map-side combine sends only distinct contents across
    * its shuffle — on a duplicated corpus that collapse happens before
    * the exchange, which is the whole point; it is then lazily
    * checkpointed (it is small — one row per distinct content) so its
    * two consumers (pair generation, final join) don't recompute the
    * aggregation. Total over the raw data: one aggregation scan plus
    * one join shuffle on content; everything else is rep-sized. */
  def embeddingKeepers(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucket: Column => Column): DataFrame = {
    val rows = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val repTbl = rows.groupBy(col("v")).agg(min(col("id")).as("rep"))
      .localCheckpoint(false)
    val reps = repTbl.select(col("rep").as("id"), col("v"),
      bucket(col("v")).as("bucket"))
    val a = reps.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"))
    val b = reps.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"))
    val pairs = a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(Distance.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b")
    val labels = connectedComponents(pairs,
      allIds = Some(reps.select(col("id"))))
    rows.join(repTbl, "v")
      .join(labels.withColumnRenamed("id", "rep"), "rep")
      .select(col("id"), col("keep_id"))
  }

  /** SUBSTRING-level dedup, stage 1: maximal duplicate token spans. The
    * gap both whole-document dedup families share: a repeated PASSAGE
    * inside otherwise-distinct documents (boilerplate headers, license
    * blocks, navigation chrome) passes exact hash AND near-dup
    * signatures. The public fix family is suffix-array / k-gram
    * frequency dedup; this is the deterministic k-gram variant: a token
    * k-gram occurring in ≥ `minDocs` DISTINCT documents is duplicate
    * mass, and maximal runs of duplicate k-gram start positions merge
    * into spans (two flagged grams at starts s, s' chain iff
    * s' ≤ s + k — their token coverage overlaps or touches).
    *
    * Emits one row per maximal span: `(doc_id, span_start, span_end,
    * span_tokens, n_dup_grams)`, token positions 1-based inclusive.
    * Fully relational (explode → count → join → islands window), so a
    * SQL oracle replays it exactly.
    *
    * Scale shape: one shuffle aggregates (gram → doc-frequency) with
    * map-side partial aggregation on the (doc, gram) distinct pass; the
    * duplicate-gram set — bounded by CONTENT THAT ACTUALLY REPEATS, a
    * tiny fraction of a deduplicated corpus — broadcasts back onto the
    * scan-local gram stream; the island merge windows per document
    * (parallel across docs, never global). At 100 TB the gram string
    * shuffle key becomes its 60-bit md5 half ([[graft.llm.Corpus
    * .digestKey60]] idiom) — same semantics modulo negligible collision
    * mass; the raw-string key here is what the oracle pins. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2,
      tok: Column => Column = TextOps.tokens): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDocs >= 2,
      s"minDocs must be >= 2 (a 1-doc 'duplicate' is every gram), " +
        s"got $minDocs")
    // fanOutSmall: the k-gram explode is consumed TWICE (doc-frequency
    // distinct + the flagged join) and each pass re-runs the per-doc
    // gram construction — on a 1-split scan both passes serialize
    val grams = graft.util.Par.fanOutSmall(df)
      .select(col(idCol).as("doc_id"),
        posexplode(Corpus.kGrams(col(textCol), k, tok))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
    // doc-frequency over DISTINCT (doc, gram): a gram repeated inside
    // one doc is intra-doc repetition (repetitionStats' business), not
    // cross-doc duplicate mass
    val dupGrams = grams.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDocs)
      .select(col("gram"))
    val flagged = grams.join(broadcast(dupGrams), "gram")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + lit(k), 1)
          .when(lag(col("pos"), 1).over(byDoc).isNull, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k) - 1).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_dup_grams"))
  }

  /** SUBSTRING-level dedup, stage 2: REMOVE the duplicate spans. Every
    * token position covered by a [[duplicateSpans]] span is dropped and
    * the survivors re-join with single spaces — the drop/flag action
    * suffix-array pipelines apply to duplicate passages. Emits
    * `(doc_id, clean_text, n_tokens, n_kept)`; documents with no
    * duplicate spans pass through whole, documents that are ENTIRELY
    * duplicate mass come out as the empty string (n_kept = 0), and
    * documents with fewer than k tokens are never flagged (no k-gram
    * exists to be duplicated).
    *
    * Shape: [[duplicateSpans]] → explode spans to covered positions →
    * anti-join the per-token stream → ordered re-assembly per doc (one
    * window-free sort inside a per-doc aggregation: collect the
    * (pos, token) structs and sort the bounded per-doc array). All
    * relational + per-doc-bounded array ops, so the oracle replays it;
    * the span explode fan-out is bounded by actual duplicate mass. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int = 2,
      tok: Column => Column = TextOps.tokens): DataFrame = {
    val covered = duplicateSpans(df, idCol, textCol, k, minDocs, tok)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(tok(col(textCol))).as(Seq("pos0", "tokn")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tokn"))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"),
            col("tokn")))), s => s.getField("tokn")), " ")
          .as("clean_text"))
    df.select(col(idCol).as("doc_id"),
        size(tok(col(textCol))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication by clustering embeddings first and comparing pairs
    * only WITHIN a cluster — the move that turns the O(N²) global
    * cosine sweep (q44's labeled correctness baseline) into
    * O(Σ n_c²) bounded by cluster size, which is how embedding-level
    * dedup runs at corpus scale (the paper uses ~100k clusters over
    * LAION/C4). This repo's composition: coarse clusters from the
    * sample-fitted Lloyd quantizer ([[graft.llm.Ivf]], q99's
    * deployment shape), int8 codes from [[graft.llm.Quantize]] so the
    * within-cluster cosine is an exact integer dot plus one fixed
    * sqrt·sqrt·divide chain — every keep/drop decision replays
    * bit-for-bit in the oracle (a float-sum cosine would wobble in the
    * last ulp exactly at the threshold).
    *
    * `index` must carry (id, list_id, qvec, qnorm) — the
    * [[graft.llm.Ivf.assignIndex]] → [[graft.llm.Quantize.withInt8]]
    * pipeline. A row is a duplicate iff some SMALLER id in the same
    * cluster has quantized cosine ≥ `tau` (the paper keeps one point
    * per ε-ball; smallest-id-wins is this repo's deterministic stand-in
    * for the paper's arbitrary representative). Zero-norm vectors never
    * pair (0/0 cosine is undefined); they are always keepers. Emits
    * every id with (list_id, is_dup, dup_of = smallest qualifying
    * earlier id, NULL for keepers).
    *
    * Scale shape: one self-join co-partitioned on `list_id` (the
    * cluster), integer-dot inner loop in whole-stage codegen; no
    * global shuffle beyond the cluster key. Skewed clusters are the
    * documented operational knob: raise nlist (the paper's regime) so
    * the largest cluster stays executor-sized. */
  def semDedup(index: DataFrame, tau: Double): DataFrame = {
    val a = index.filter(col("qnorm") > 0)
      .select(col("id").as("aid"), col("list_id"),
        col("qvec").as("aq"), col("qnorm").as("an"))
    val b = index.filter(col("qnorm") > 0)
      .select(col("id").as("bid"), col("list_id"),
        col("qvec").as("bq"), col("qnorm").as("bn"))
    // bind the dot once, divide the bound column (no CSE across sibling
    // columns — the q111 convention)
    val dups = a.join(b, Seq("list_id")).filter(col("aid") < col("bid"))
      .withColumn("dot_q",
        graft.functions.VectorExprs.dotLong(col("aq"), col("bq")))
      .withColumn("cos_q", col("dot_q").cast("double") /
        (sqrt(col("an").cast("double")) * sqrt(col("bn").cast("double"))))
      .filter(col("cos_q") >= lit(tau))
      .groupBy(col("bid")).agg(min(col("aid")).as("dup_of"))
    index.join(dups, index("id") === dups("bid"), "left")
      .select(index("id"), index("list_id"),
        when(col("dup_of").isNull, 0).otherwise(1).as("is_dup"),
        col("dup_of"))
  }

  /** Perceptual-hash near-dup pairs with EXACT banded search: from
    * per-item `(idCol, hashCol)` aHash rows, emit every pair of
    * DISTINCT hash values within `maxHamming` bits, found by LSH-style
    * banding that is exact by pigeonhole — `nBands > maxHamming` bands
    * means any two hashes within the radius agree on at least one whole
    * band, so band-equality candidates plus a `bit_count(xor)` filter
    * lose nothing. Output per pair: both hashes, the hamming distance,
    * and each side's image count + min id (the cluster representative).
    *
    * Scale shape: the pair stage runs on DISTINCT hashes — grouping
    * first means a 100×-duplicated corpus (or any exact-dup-heavy
    * crawl) collapses before the join, and the candidate space is
    * bounded by min(distinct hashes, 2^bits) regardless of corpus
    * size. Candidates meet only inside a (band, value) bucket — one
    * shuffle on the band key, no all-pairs. A production 64-bit aHash
    * at radius 3 uses 4 bands of 16 bits (65k buckets per band); the
    * 20-bit fixture hash gives 5-bit bands by the same rule. */
  def phashBandPairs(hashes: DataFrame, idCol: String,
      hashCol: String = "phash", bits: Int = 20, nBands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(nBands > 0 && bits % nBands == 0,
      s"bits=$bits must split evenly into nBands=$nBands")
    require(maxHamming < nBands,
      s"banded search is exact only for maxHamming < nBands " +
        s"(pigeonhole); got maxHamming=$maxHamming, nBands=$nBands")
    val bw = bits / nBands
    val hd = hashes.groupBy(col(hashCol).as("ph"))
      .agg(count(lit(1)).as("n_imgs"), min(col(idCol)).as("min_id"))
    val bands = hd.select(col("ph"), col("n_imgs"), col("min_id"),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("ph"), b * bw)
            .bitwiseAND(lit((1L << bw) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    val l = bands.select(col("ph").as("ha"), col("n_imgs").as("n_a"),
      col("min_id").as("rep_a"), col("band"), col("bval"))
    val r = bands.select(col("ph").as("hb"), col("n_imgs").as("n_b"),
      col("min_id").as("rep_b"), col("band"), col("bval"))
    l.join(r, Seq("band", "bval")).filter(col("ha") < col("hb"))
      .select(col("ha"), col("hb"), col("n_a"), col("n_b"),
        col("rep_a"), col("rep_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Asymmetric k-gram containment pairs — the inclusion detector the
    * symmetric near-dup family misses: a short document quoted whole
    * inside a long one scores low Jaccard (the union is big) but high
    * CONTAINMENT `|A∩B| / |A|` (Broder's other resemblance measure).
    * Emits `(src, dst, n_src, n_shared, cont_bp)` for every ordered
    * pair where src's distinct k-gram shingles are ≥ `minContainBp`
    * covered by dst's — both directions can fire independently.
    *
    * Scale shape: pairs meet through the shared-shingle join (shuffle
    * on the shingle key), so cost is driven by shingle co-occurrence —
    * which is why callers should run this AFTER exact dedup (the q106
    * composition lesson: exact copies share every shingle and square
    * the pair space; keepers don't). q180 does exactly that. The
    * second hot-key source exact dedup can NOT remove is boilerplate:
    * one license header shared by millions of otherwise-distinct docs
    * makes its shingles quadratic join keys. `maxDocFreq` caps that —
    * shingles appearing in more than that many docs are dropped BEFORE
    * the pair join (one window count over the same shingle
    * partitioning the join shuffles on), and `n_src` counts only the
    * surviving informative shingles, so containment is measured over
    * identifying content (the IDF argument: a shingle in >1000 docs
    * identifies nothing). Default on at 1000; pair-join work is then
    * bounded at df² per shingle ≤ 10⁶ rows per hot key instead of
    * corpus².
    *
    * @note BEHAVIOR CHANGE vs the pre-cap version (rounds ≤ 9, which
    *       joined on every shared shingle): with the cap ON by
    *       default, (a) a true containment pair whose only shared
    *       shingles are common-but-legitimate (df > maxDocFreq) is no
    *       longer emitted, and (b) `n_src` counts only post-filter
    *       shingles, so `cont_bp` shifts even for surviving pairs.
    *       Callers that need the uncapped Broder containment (small
    *       corpora, forensic diffing) must opt out explicitly with
    *       `maxDocFreq = Long.MaxValue`; at corpus scale the capped
    *       measure is the intended semantics. */
  /** The default [[containmentPairs]] boilerplate cap — ONE constant so
    * the q180 oracle SQL and q192's over-cap flag can interpolate it
    * instead of repeating a literal that would silently drift. */
  val DefaultMaxDocFreq: Long = 1000L

  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minContainBp: Long = 8000L,
      maxDocFreq: Long = DefaultMaxDocFreq): DataFrame = {
    require(minContainBp >= 1 && minContainBp <= 10000,
      s"minContainBp must be in [1, 10000], got $minContainBp")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val shAll = df.select(col(idCol).as("doc_id"),
      explode(Corpus.shingles(col(textCol), k)).as("shingle"))
    // doc-frequency via window, not groupBy+self-join: one shuffle on
    // the shingle key, which the pair join below reuses
    val sh = shAll.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .filter(col("df") <= maxDocFreq)
      .select(col("doc_id"), col("shingle"))
    val sized = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_src")) // shingles() is already distinct
    val a = sh.select(col("doc_id").as("src"), col("shingle"))
    val b = sh.select(col("doc_id").as("dst"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sized.withColumnRenamed("doc_id", "src"), Seq("src"))
      .withColumn("cont_bp", expr("(10000 * n_shared) DIV n_src"))
      .filter(col("cont_bp") >= minContainBp)
  }

  /** Frame-fingerprint video near-dup pairs — the video modality's
    * entry in the dedup family: each clip is its SET of distinct frame
    * perceptual hashes ([[Multimodal.aHash]] per decoded frame), and
    * two clip CONTENTS pair when the smaller side's frame set is ≥
    * `minOverlapBp` covered by shared hashes — sub-clip detection
    * (a clip re-posted inside a longer cut), the containment measure
    * (q180) applied to frames instead of k-grams. Emits
    * `(clip_a, clip_b, n_clips_a, n_clips_b, n_shared, n_a, n_b,
    * overlap_bp)` where clip_a/b are each content's min-id
    * representative and n_clips its exact-dup multiplicity.
    *
    * Scale shape, two collapses before any pairing: duplicate frame
    * rows collapse per clip, then clips with IDENTICAL frame-hash
    * sets collapse to one representative (fingerprint = md5 of the
    * sorted hash list — the q172 distinct-hash move lifted to sets).
    * A re-post-heavy corpus (or a copy-multiplied stress set) never
    * reaches the shared-hash join with its copies: the pair space is
    * bounded by DISTINCT clip contents, and within it by hash
    * collisions (a production 64-bit frame hash makes collisions ≈
    * real matches; the 10-bit fixture hash is dense by construction,
    * which is why the full-coverage default threshold matters). */
  /** The identical-set representative collapse [[frameHashPairs]] is
    * built on, exposed for direct use (the q191 manifest counts these
    * reps as the video modality's keepers): duplicate frame rows
    * collapse per clip, then clips with IDENTICAL frame-hash sets
    * collapse to one min-id representative (fingerprint = md5 of the
    * sorted hash list) carrying its exact-dup multiplicity `n_clips`
    * and the set itself (`hl`). This collapse is what bounds the pair
    * space by DISTINCT clip contents on re-post-heavy corpora. */
  def frameSetReps(frames: DataFrame, idCol: String,
      hashCol: String): DataFrame = {
    val h = frames.select(col(idCol).as("clip"), col(hashCol).as("fhash"))
      .distinct()
    val sets = h.groupBy(col("clip"))
      .agg(sort_array(collect_list(col("fhash"))).as("hl"))
      .withColumn("fp",
        md5(concat_ws(",", col("hl").cast("array<string>"))))
    sets.groupBy(col("fp"))
      .agg(min(col("clip")).as("clip"), count(lit(1)).as("n_clips"),
        first(col("hl")).as("hl")) // hl identical within an fp group
      .drop("fp")
  }

  def frameHashPairs(frames: DataFrame, idCol: String, hashCol: String,
      minOverlapBp: Long = 10000L): DataFrame = {
    require(minOverlapBp >= 1 && minOverlapBp <= 10000,
      s"minOverlapBp must be in [1, 10000], got $minOverlapBp")
    val reps = frameSetReps(frames, idCol, hashCol)
      .localCheckpoint(false) // sizes AND the pair join read it
    val hr = reps.select(col("clip"), col("n_clips"),
      explode(col("hl")).as("fhash"))
    val sz = reps.select(col("clip"), col("n_clips"),
      size(col("hl")).cast("long").as("n_h"))
    val p = hr.select(col("clip").as("clip_a"), col("fhash"))
      .join(hr.select(col("clip").as("clip_b"), col("fhash")),
        Seq("fhash"))
      .filter(col("clip_a") < col("clip_b"))
      .groupBy(col("clip_a"), col("clip_b"))
      .agg(count(lit(1)).as("n_shared"))
    p.join(sz.select(col("clip").as("clip_a"),
        col("n_clips").as("n_clips_a"), col("n_h").as("n_a")),
        Seq("clip_a"))
      .join(sz.select(col("clip").as("clip_b"),
        col("n_clips").as("n_clips_b"), col("n_h").as("n_b")),
        Seq("clip_b"))
      .withColumn("overlap_bp",
        expr("(10000 * n_shared) DIV least(n_a, n_b)"))
      .filter(col("overlap_bp") >= minOverlapBp)
  }

  /** Incremental exact dedup — classify a batch of arriving items
    * against a STORED fingerprint set (the batch twin of the streaming
    * q101 ingest, for version-to-version loads): each batch row gets
    * `dup_of_store` (fingerprint already in the store),
    * `dup_in_batch` (an earlier batch item — smaller `itemCol` — has
    * the same fingerprint) or `new`. `store` must expose `fp`; `batch`
    * must expose `itemCol` and `fp`.
    *
    * Scale shape: only fingerprints cross the exchanges (the q160
    * digest-join argument) — one groupBy on fp for the in-batch
    * first-arrival, one join against the store on fp. The store side
    * is a parquet fingerprint index at rest; the probe is key-local.
    * No text ever shuffles. */
  def incrementalExact(store: DataFrame, batch: DataFrame,
      itemCol: String): DataFrame = {
    val firsts = batch.groupBy(col("fp"))
      .agg(min(col(itemCol)).as("first_id"))
    val stored = store.select(col("fp")).distinct()
      .withColumn("__stored", lit(1))
    batch.join(firsts, Seq("fp"))
      .join(stored, Seq("fp"), "left")
      .withColumn("status",
        when(col("__stored").isNotNull, lit("dup_of_store"))
          .when(col(itemCol) > col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")))
      .drop("first_id", "__stored")
  }
}
