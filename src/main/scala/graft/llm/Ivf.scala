package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.Distance
import graft.state.PartitionedStore

/** IVF (inverted-file) approximate nearest-neighbor index — the
  * k-means-partitioned scale path alongside [[SimSearch.knnLsh]].
  *
  * Build: deterministic Lloyd iterations (seeds = first nlist vectors by
  * id — no RNG, reproducible) assign every vector to its nearest coarse
  * centroid; the "index" is just the dataset repartitioned by list id plus
  * a tiny centroid table. Search: rank coarse centroids per query, probe
  * the `nprobe` nearest lists, exact-rank inside the probed lists only —
  * candidate space |C|·nprobe/nlist instead of |C|.
  *
  * All stages are DataFrame plans: centroid update is a groupBy-avg over
  * (list, dim) after posexplode — one shuffle per Lloyd iteration; at
  * 100 TB the iteration input is a sample and only the final assign runs
  * over the full corpus.
  */
object Ivf {

  /** The Lloyd loop is `iters` full shuffles over its input — fine for a
    * sample, catastrophic for a 100 TB corpus. The scaladoc contract
    * ("at 100 TB the iteration input is a sample") is enforced the same
    * way as `spark.graft.fold.maxRows` (Centroids.scala): fitCentroids
    * throws once the fit input exceeds this row bound. Pre-sample
    * deterministically (e.g. `df.filter(pmod(col(id), lit(k)) === 0)`)
    * and reserve the full corpus for the single final assign, or raise
    * the conf deliberately for a stress run. */
  val FitMaxRowsKey = "spark.graft.ivf.maxFitRows"
  val FitMaxRowsDefault = 10000000L

  /** Above this many centroids the unrolled [[assignExpr]] (one struct
    * expression per list) would bloat the plan and risk Janino's 64 KB
    * method limit — production IVF runs thousands of lists. Past the
    * bound the argmin switches to [[assignExprPacked]]: the SAME map-only
    * per-row scan, but the centroid table travels as ONE array literal
    * (data, not unrolled code) folded with an `aggregate` HOF, so plan
    * size stays O(1) in nlist. */
  private val MaxInlineNlist = 256

  /** Deterministic k-means: returns (listId, centroid) table. The
    * centroid set is tiny (nlist × dim) and lives on the DRIVER between
    * iterations — this truncates the lineage (an un-materialized loop
    * re-executes every prior iteration per stage) and is exactly what a
    * 100 TB run does: iterate on a sample/driver, broadcast the final
    * centroids for the one full-corpus assign. With driver-resident
    * centroids each Lloyd iteration is ONE shuffle (the (list, dim)
    * partial-agg mean): the argmin is a per-row codegen expression
    * ([[assignExpr]]), not a crossJoin + per-id re-shuffle, and the
    * per-list arrays are assembled from the collected nlist×dim rows on
    * the driver instead of a third distributed regroup. Same arithmetic,
    * a third of the shuffles (BENCH r5 flagged q55's drift; the fit was
    * 9 shuffle rounds of pure overhead at sample size). */
  def fitCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    fitCentroidsLocal(df, idCol, vecCol, nlist, iters)
      .toDF("list_id", "c")
  }

  /** [[fitCentroids]] returning the driver-resident centroid list
    * (list_id → centroid, sorted by list_id). */
  private def fitCentroidsLocal(df: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val spark = df.sparkSession
    val pts = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")).cache()
    // try/finally: the guard's throw is this feature's DESIGNED failure
    // mode and must not leak the cached (possibly >maxFitRows) partitions
    try {
      // enforce the sample-fit contract before paying any Lloyd shuffle;
      // limit(max+1) keeps even this guard's scan bounded (the DenStream
      // convention — never count the full input just to reject it).
      // Validate the conf like Bench validates its env vars: a typo must
      // fail with the knob's name, not a bare NumberFormatException, and
      // maxFit=Long.MaxValue must clamp instead of overflowing maxFit+1
      // into a negative limit()
      val rawMax = spark.conf.get(FitMaxRowsKey, FitMaxRowsDefault.toString)
      val maxFit = rawMax.trim.toLongOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"$FitMaxRowsKey must be a non-negative integer, got '$rawMax'"))
      val probe = (math.min(maxFit, Int.MaxValue.toLong - 1) + 1).toInt
      if (pts.limit(probe).count() > maxFit)
        throw new IllegalStateException(
          s"Ivf.fitCentroids: fit input exceeds $FitMaxRowsKey=$maxFit rows; " +
            "the Lloyd loop is bounded to sample-sized inputs — fit on a " +
            "deterministic sample and assign the full corpus afterwards, " +
            "or raise the conf deliberately")
      // seeds = first nlist vectors by id, list_id in id order (the
      // collected twin of the old row_number-over-id-window formulation)
      var cents: Seq[(Int, Seq[Double])] = pts.orderBy("id").limit(nlist)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](1)) }
      var i = 0
      while (i < iters && cents.nonEmpty) {
        val updated = pts
          .withColumn("list_id", argminExpr(col("v"), cents))
          .select(col("list_id"), posexplode(col("v")))
          .groupBy(col("list_id"), col("pos"))
          // decimal sum → mean: order-independent, so centroids are
          // bit-reproducible across partitionings (double avg() is not —
          // partial-aggregation order would leak into the last ulps and
          // Lloyd iterations would amplify the divergence). Cast to double
          // BEFORE the division: exact decimal
          // sum, then one IEEE division — the same two steps DuckDB's
          // CAST(SUM(DECIMAL) AS DOUBLE)/COUNT performs, so the oracle
          // (q59) reproduces the centroids bit for bit
          .agg((sum(col("col").cast("decimal(28,14)")).cast("double") /
            count(lit(1))).as("m"))
          .collect() // nlist×dim rows — lineage cut, not a data collect
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        // per-list array assembly happens here on the driver — same values
        // and same pos order the old groupBy(list) + array_sort(collect_
        // list) round produced, without its extra shuffle
        cents = updated.groupBy(_._1).toSeq
          .map { case (lid, rows) => (lid, rows.sortBy(_._2).map(_._3).toSeq) }
          .sortBy(_._1)
        i += 1
      }
      cents
    } finally pts.unpersist()
  }

  /** Nearest-centroid argmin as ONE per-row codegen expression over the
    * driver-resident centroid list: `array_min` over (distance, list_id)
    * structs — struct ordering compares distance first, then list_id, so
    * ties break to the smaller list_id EXACTLY like the
    * `min_by(list_id, struct(d, list_id))` aggregate it replaces, with
    * the same `Distance.sqEuclidean` doubles. No join, no shuffle: at
    * 100 TB the assign is a map-only pass over the corpus. An empty
    * centroid list yields null list_ids (an empty `array()` literal
    * would not even analyze) — callers with an empty fit keep the old
    * crossJoin path's empty-in → empty-out behavior via [[assignIndex]]/
    * [[buildIndex]]'s limit(0). */
  private[graft] def assignExpr(v: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    if (cents.isEmpty) lit(null).cast("int")
    else array_min(listsByDistance(v, cents)).getField("list_id")

  /** The row's `(d, list_id)` struct per centroid
    * ([[Distance.byDistance]]), with the same `Distance.sqEuclidean`
    * doubles everywhere the IVF index ranks lists. */
  private def listsByDistance(v: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    Distance.byDistance(cents.map { case (lid, c) =>
      (lid, Distance.sqEuclidean(v, typedLit(c))) }, "list_id")

  /** [[assignExpr]]'s large-nlist twin: the SAME per-row map-only argmin
    * and the SAME tie-break (the ascending-list_id scan keeps the FIRST
    * minimal distance, which is exactly what `array_min` over
    * (d, list_id) structs picks), but the centroid table travels as ONE
    * `typedLit` array-of-structs VALUE folded with an `aggregate` HOF —
    * plan/codegen size is O(1) in nlist instead of one unrolled struct
    * expression per list. Still no join, no shuffle at any nlist. */
  private[graft] def assignExprPacked(v: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    if (cents.isEmpty) lit(null).cast("int")
    else aggregate(
      typedLit(cents.sortBy(_._1)),
      struct(lit(Double.PositiveInfinity).as("d"),
        lit(null).cast("int").as("list_id")),
      (acc, c) => {
        val d = Distance.sqEuclidean(v, c.getField("_2"))
        // the isNull arm makes the FIRST candidate stick even when its
        // distance is NaN (NaN < anything is false in Spark, so the
        // strict compare alone would never seat it) — matching
        // array_min, which ranks NaN ties by list_id and lets any
        // finite distance beat NaN (probe-verified orderings)
        when(acc.getField("list_id").isNull || d < acc.getField("d"),
          struct(d.as("d"), c.getField("_1").as("list_id")))
          .otherwise(acc)
      },
      acc => acc.getField("list_id"))

  /** Dispatch between the unrolled argmin (fastest: straight-line fused
    * codegen, right for the fitted nlist≈16..256 range) and the packed
    * fold (bounded plan size, right for production thousands-of-lists
    * IVF); both paths are map-only. */
  private def argminExpr(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    guarded(if (cents.size <= MaxInlineNlist) assignExpr else assignExprPacked,
      v, cents)

  /** `argmin` under the null guard every assign path shares: a NULL
    * vector assigns a NULL list, identically on BOTH paths. Unguarded,
    * the unrolled array_min's nulls-first struct ordering would assign
    * list 0 while the packed fold's null-propagating `<` would assign
    * null — the dispatch bound must never change results. (NaN-element
    * vectors DO agree without a guard: both paths seat the
    * smallest-list NaN candidate and let any finite distance beat it —
    * see assignExprPacked's merge comment.) */
  private[graft] def guarded(
      argmin: (Column, Seq[(Int, Seq[Double])]) => Column, v: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    if (cents.isEmpty) argmin(v, cents)
    else when(v.isNotNull, argmin(v, cents))

  /** Tag every row of `df` with its nearest-centroid list id using an
    * ALREADY FITTED centroid table — the deployment shape the
    * `maxFitRows` guard points at: fit on a bounded sample
    * ([[fitCentroids]]), then ONE map-only pass over the full corpus
    * (no join, no shuffle — [[assignExpr]]). The centroid table is tiny
    * (nlist rows) and is collected to drive the expression. */
  def assignIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, carryCols: Seq[String] = Nil): DataFrame = {
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    // carryCols ride the assign pass so filterable attributes land in
    // the index WITHOUT a join-back (at corpus scale an id join just to
    // re-attach a label the row already had is a full shuffle)
    val carryClash = carryCols.filter(Set("id", "v", "list_id"))
    require(carryClash.isEmpty,
      s"assignIndex: carryCols ${carryClash.mkString(", ")} collide with " +
        "the index layout (id, v, list_id) — rename before carrying")
    val tagged = df.select(col(idCol).as("id") +:
          col(vecCol).cast("array<double>").as("v") +:
          carryCols.map(col): _*)
      .withColumn("list_id", argminExpr(col("v"), cents))
    // no centroids (empty fit) → empty index, the old crossJoin behavior
    if (cents.isEmpty) tagged.limit(0) else tagged
  }

  /** Build the index: rows tagged with their inverted-list id (one
    * map-only pass — [[assignExpr]]). */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = fitCentroidsLocal(df, idCol, vecCol, nlist, iters = 3)
    val index = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("list_id", argminExpr(col("v"), cents))
    (if (cents.isEmpty) index.limit(0) else index,
      cents.toDF("list_id", "c"))
  }

  /** Approximate top-k: probe the nprobe nearest lists per query. */
  def knn(queries: DataFrame, index: DataFrame, centroids: DataFrame,
      qId: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val q = queries.select(col(qId).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cd"), col("list_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cd", Distance.sqEuclidean(col("qv"), col("c")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("list_id"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("cid"))
    // probes is queries × nprobe — tiny next to the index; broadcasting
    // it keeps the candidate join map-only (the index side, the corpus,
    // never shuffles: its list_id tag is itself a map-only expression).
    // The index is materialized BEFORE the join: in deployment it is a
    // stored table (built once, scanned by every query), and when the
    // fit→assign→search composition runs as one plan the assign
    // expression sits under the probe join, where it drops out of
    // whole-stage codegen and is re-evaluated interpreted per candidate
    // row — measured 52 s vs 0.4 s on the candidate scan at the ×100
    // stress decade (ProfileQ112). One eager narrow checkpoint restores
    // the stored-index shape.
    index.select(col("id").as("cid"), col("v"), col("list_id"))
      .localCheckpoint()
      .join(broadcast(probes), "list_id")
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos_sim", round(Distance.cosine(col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos_sim"), col("rn"))
  }

  /** IVF-SQ: the full quantized deployment shape. Coarse probe as in
    * [[knn]] (float query vector vs the nlist float centroids — the
    * standard pairing keeps the tiny coarse quantizer full-precision),
    * then in-list ranking by int8-QUANTIZED cosine: the index carries
    * `qvec`/`qnorm` from [[Quantize.withInt8]] and the inner loop is the
    * exact integer dot ([[graft.functions.VectorExprs.dotLong]]), so the
    * list scan — the part that touches the corpus — moves int8 codes,
    * not floats. Candidates with `qnorm = 0` (zero vectors) are dropped
    * before ranking, as are zero-norm queries ([[Quantize.withInt8]]'s
    * documented contract). Emits `(qid, cid, dot_q, cos_q, rn)`;
    * `dot_q`/`cos_q` are engine-replayable exactly (integer sums + one
    * fixed sqrt·sqrt·divide chain). */
  def knnQuantized(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, qId: String, vecCol: String, k: Int,
      nprobe: Int, materializeIndex: Boolean = true): DataFrame = {
    val q = Quantize.withInt8(
        queries.select(col(qId).as("qid"),
          col(vecCol).cast("array<double>").as("qv")),
        "qv", qCol = "qq", normCol = "qqn")
      .filter(col("qqn") > 0)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cd"), col("list_id"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cd", Distance.sqEuclidean(col("qv"), col("c")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qq"), col("qqn"), col("list_id"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos_q").desc, col("cid"))
    // materialize the narrow index before the join (same rationale and
    // measurement as [[knn]]) — and narrow it to the QUANTIZED columns:
    // the float vectors are dead weight in int8 ranking, which is the
    // whole point of SQ (the stored per-row payload is codes + norm).
    // materializeIndex=false is for an index ALREADY materialized as a
    // stored table ([[loadIndex]]): a checkpoint there would read the
    // whole store up front, defeating the dynamic partition pruning
    // that makes the stored shape probe-local (q115 pins the pruned
    // plan)
    val narrow = index.select(col("id").as("cid"), col("list_id"),
        col("qvec"), col("qnorm"))
      .filter(col("qnorm") > 0)
    (if (materializeIndex) narrow.localCheckpoint() else narrow)
      .join(broadcast(probes), "list_id")
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot_q",
        graft.functions.VectorExprs.dotLong(col("qvec"), col("qq")))
      // cos from the BOUND dot column — Quantize.cosQ would evaluate the
      // dot expression a second time (no CSE into sibling columns)
      .withColumn("cos_q", col("dot_q").cast("double") /
        (sqrt(col("qnorm").cast("double")) * sqrt(col("qqn").cast("double"))))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("dot_q"), col("cos_q"),
        col("rn"))
  }

  /** Probe-list selection as ONE per-row codegen expression: the nprobe
    * nearest coarse centroids for a query vector, ordered by
    * (distance, list_id) — `array_sort` over the same (d, list_id)
    * structs [[assignExpr]] argmins over, sliced to nprobe and projected
    * to the list ids. Exactly the probe set [[knnQuantized]]'s
    * crossJoin + `row_number` window selects (same
    * `Distance.sqEuclidean` doubles, same tie-break — struct order
    * compares d first, then list_id), but with NO shuffle: the window
    * formulation repartitions the query batch by qid just to rank nlist
    * centroid distances per query, which at a large serving batch is a
    * wasted exchange. Scan-local like [[assignExpr]]; same small-nlist
    * bound (one unrolled struct per list — fitted-range nlist, the
    * serving path's coarse table). */
  private def probeListsExpr(v: Column, cents: Seq[(Int, Seq[Double])],
      nprobe: Int): Column =
    slice(transform(array_sort(listsByDistance(v, cents)),
      x => x.getField("list_id")), 1, nprobe)

  /** The SERVING-optimized IVF-SQ search: [[knnQuantized]]'s exact
    * semantics (bit-identical output — q112's oracle replays it) with
    * both of its query-side shuffles designed out for large query
    * batches:
    *
    *  - probe selection is the scan-local [[probeListsExpr]] (the
    *    crossJoin + window formulation repartitions the query batch by
    *    qid just to rank nlist distances);
    *  - per-query top-k is the k-BOUNDED partial aggregation
    *    [[graft.functions.TopKAgg]] instead of a `row_number` window:
    *    candidates rank map-side and only k rows per query per
    *    partition reach the merge, so the one remaining exchange moves
    *    k·partitions rows per query, not |corpus|·nprobe/nlist.
    *
    * The index side stays a map-only scan (stored table or checkpoint,
    * as in [[knnQuantized]]). At a 100 TB corpus with a million-query
    * serving batch this is the plan you want: quantize + probe-select
    * per query row, broadcast the probe rows, scan the probed lists,
    * and ship only top-k rows to the final merge. */
  def knnQuantizedServe(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, qId: String, vecCol: String, k: Int,
      nprobe: Int, materializeIndex: Boolean = true): DataFrame = {
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val probes = Quantize.withInt8(
        queries.select(col(qId).as("qid"),
          col(vecCol).cast("array<double>").as("qv")),
        "qv", qCol = "qq", normCol = "qqn")
      .filter(col("qqn") > 0)
      .select(col("qid"), col("qq"), col("qqn"),
        explode(probeListsExpr(col("qv"), cents, nprobe)).as("list_id"))
    val narrow = index.select(col("id").as("cid"), col("list_id"),
        col("qvec"), col("qnorm"))
      .filter(col("qnorm") > 0)
    (if (materializeIndex) narrow.localCheckpoint() else narrow)
      .join(broadcast(probes), "list_id")
      .filter(col("cid") =!= col("qid"))
      .withColumn("dot_q",
        graft.functions.VectorExprs.dotLong(col("qvec"), col("qq")))
      .withColumn("cos_q", col("dot_q").cast("double") /
        (sqrt(col("qnorm").cast("double")) * sqrt(col("qqn").cast("double"))))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKByCos(k)(
        col("cid"), col("dot_q"), col("cos_q")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), col("col.cid").as("cid"),
        col("col.dot_q").as("dot_q"), col("col.cos_q").as("cos_q"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** IVF-SQ search with a FLOAT RE-RANK refinement stage — the standard
    * recall recovery for quantized indexes (FAISS's `IndexRefineFlat`
    * shape, public): retrieve the top-`m` candidates per query by
    * quantized score ([[knnQuantizedServe]] — scan-local probes,
    * k-bounded partial top-m), then re-rank ONLY those m with exact
    * float cosine against a flat vector store and emit the top-`k`.
    * Int8 ranking error is confined to the top-m boundary: any true
    * neighbor the quantized scan ranks within m comes back in exact
    * order, so recall approaches the probe-limited ceiling for bounded
    * extra work (m float fetches per query instead of a full-corpus
    * float scan). The residual loss is probe misses (true neighbor in
    * an unprobed list) — that knob is `nprobe`, not `m`.
    *
    * `vectors` is the flat float store (`vId`, `vVec`) — in deployment
    * the corpus table the index was built from; the quantized list
    * table stays the only corpus-wide scan, and the re-rank fetch is a
    * broadcast-candidates join against the flat store (map-only on the
    * store side, fan-in bounded by |queries|·m).
    *
    * Determinism: stage 1 is bit-identical to q112's oracle-replayed
    * semantics (total order at the m boundary: cos_q DESC, cid); stage
    * 2 ranks by ROUND(cosine, 6) DESC, cid — the q22 idiom — via the
    * same k-bounded [[graft.functions.TopKAgg]] merge (total order ⇒
    * partition-independent). Emits `(qid, cid, dot_q, cos_sim, rn)`. */
  def knnQuantizedRerank(queries: DataFrame, index: DataFrame,
      centroids: DataFrame, vectors: DataFrame, vId: String,
      vVec: String, qId: String, vecCol: String, k: Int, nprobe: Int,
      m: Int, materializeIndex: Boolean = true): DataFrame = {
    require(m >= k, s"re-rank pool m=$m must be >= k=$k")
    val cand = knnQuantizedServe(queries, index, centroids, qId, vecCol,
        m, nprobe, materializeIndex)
      .select(col("qid"), col("cid"), col("dot_q"))
    val q = queries.select(col(qId).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    // flat store scans map-only against the broadcast (qid, cid) pool;
    // query vectors re-attach AFTER the store join so the broadcast
    // candidate rows stay narrow (no qv duplicated m times)
    vectors.select(col(vId).as("cid"),
        col(vVec).cast("array<double>").as("cv"))
      .join(broadcast(cand), "cid")
      .join(broadcast(q), "qid")
      .withColumn("cos_sim",
        round(Distance.cosine(col("cv"), col("qv")), 6))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topKByCos(k)(
        col("cid"), col("dot_q"), col("cos_sim")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), col("col.cid").as("cid"),
        col("col.dot_q").as("dot_q"),
        col("col.cos_q").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** Persist a fitted IVF-SQ pair (coarse centroid table + quantized
    * list table) as versioned parquet under
    * [[graft.state.ModelStore]]'s blue/green protocol. The two tables
    * are staged under ONE name and published by ONE atomic rename —
    * centroids from one build serving lists from another would
    * mis-probe silently, so the pair must never tear. The list table is
    * written partitioned by `list_id`: on disk the directory layout IS
    * the inverted file, and a probe-time reader joining on `list_id`
    * against a broadcast probe set reads only the probed list
    * directories via dynamic partition pruning — the stored twin of the
    * map-only assign (at 100 TB a search touches nprobe/nlist of the
    * corpus files, not all of them). Expected index columns: `id`,
    * `list_id`, `qvec`, `qnorm` ([[assignIndex]] → [[Quantize.withInt8]],
    * float vector dropped — the stored payload is codes + norm). */
  def saveIndex(index: DataFrame, centroids: DataFrame, root: String,
      name: String = "ivfsq", extraCols: Seq[String] = Nil): Unit = {
    val extraClash = extraCols.filter(Set("id", "qvec", "qnorm", "list_id"))
    require(extraClash.isEmpty,
      s"saveIndex: extraCols ${extraClash.mkString(", ")} collide with " +
        "the stored layout (id, qvec, qnorm, list_id)")
    PartitionedStore.save(root, name, table,
      // extraCols: filterable attribute payload stored NEXT TO the codes
      // (the filtered-search deployment shape, q134): a metadata
      // predicate then evaluates scan-local on the probed list files —
      // no side lookup, no join — and parquet pushes it down
      index.select(Seq("id", "qvec", "qnorm").++(extraCols).:+("list_id")
        .map(col): _*),
      onePerPartition = false, "centroids" -> centroids)
  }

  /** How a stored index lays out a version: the lists partitioned by
    * `list_id` and their id-Bloom ([[idBlooms]]) keyed by `list_id`,
    * with the centroid table carried beside them. */
  val table: PartitionedStore.Table = PartitionedStore.Table("lists",
    "list_id", PartitionedStore.Sidecar("idbloom", "list_id", idBlooms))

  /** Per-list Bloom over row IDS (k=3, 64 words — [[graft.llm.Layout]]'s
    * parameters), saved beside the lists: the membership metadata a
    * DELETE/UPDATE-by-id consults to name the lists to rewrite WITHOUT
    * re-deriving the rows' vectors (the [[Layout.fileBlooms]] move
    * applied to the inverted file; nlist × 64 words). [[maintainIndex]]
    * locates an id's list with it exactly (no false negatives), so
    * removal by id is immune to the drifted-vector hazard of
    * re-assigning a request's vectors under the centroids
    * ([[purgeIndex]]'s precondition, whose drift audit it also
    * prunes). */
  def idBlooms(index: DataFrame): DataFrame =
    graft.llm.Sketch.bloomBuild(
      index.select(col("list_id"), col("id").cast("string").as("k")),
      "k", Layout.BloomK, Layout.BloomWords, groupCols = Seq("list_id"))

  /** Compact DELTA rows into the stored index and republish — the
    * maintenance step that closes the deployment loop build
    * ([[saveIndex]]) → streaming ingest (q114's map-only
    * assign+quantize) → serve ([[knnQuantizedServe]]): a streaming
    * writer appends one small file per micro-batch per list, and a
    * year of micro-batches turns every probe into a small-file
    * metadata storm even though dynamic pruning still skips the
    * unprobed DIRECTORIES. Compaction is one union + one hash
    * repartition on `list_id` — each inverted list then lands wholly
    * in one task, so the partitioned write emits ONE file per list
    * directory (CompactionSpec pins that property) — republished via
    * [[saveIndex]]'s blue/green pair-atomic rename, so readers never
    * see a torn index and in-flight searches keep the old version
    * until their next load.
    *
    * The delta must be in the stored layout (`id`,`qvec`,`qnorm`,
    * `list_id`) and assigned under the SAME centroids as the base —
    * rows routed by a different centroid fit would silently mis-probe,
    * so list ids outside the stored centroid table fail loudly here
    * (one count over the delta, which is micro-batch-scale by
    * construction). Values are untouched: a search over the compacted
    * index is bit-identical to one over base+delta, which q130 pins
    * against the one-shot q112 build oracle. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      delta: DataFrame, name: String = "ivfsq"): Unit = {
    val (lists, cents) = loadIndex(spark, root, name)
    val nlist = cents.count() // driver-bounded: nlist rows
    // the STORED schema is the contract: a filtered-search index built
    // with saveIndex extraCols (q134's attribute payload) must survive
    // compaction with its extras intact — compacting down to the base
    // layout would silently destroy stored columns
    val cols = lists.columns.toSeq
    val missing = cols.filterNot(delta.columns.contains)
    require(missing.isEmpty,
      s"compactIndex: delta is missing column(s) ${missing.mkString(", ")}" +
        s" — the stored index carries (${cols.mkString(", ")})")
    // NULL-safe: a NULL list_id makes both range predicates NULL and
    // would slip past an unguarded filter into an unsearchable
    // __HIVE_DEFAULT_PARTITION__ directory
    val badLists = delta
      .filter(col("list_id").isNull || col("list_id") < 0 ||
        col("list_id") >= nlist)
      .limit(1).count()
    require(badLists == 0,
      s"compactIndex: delta carries NULL list ids or ids outside " +
        s"[0, $nlist) — it was assigned under different centroids than " +
        "the stored index")
    val merged = lists.select(cols.map(col): _*)
      .unionByName(delta.select(cols.map(col): _*))
      .repartition(col("list_id"))
    saveIndex(merged, cents, root, name,
      extraCols = cols.filterNot(Set("id", "qvec", "qnorm", "list_id")))
  }

  /** Load the production IVF-SQ pair saved by [[saveIndex]]; falls back
    * to the backup PAIR if prod is missing (the pair-level twin of
    * [[graft.state.ModelStore.load]]'s crash-window rule — falling back
    * per-table could tear the pair). Returns (lists, centroids); the
    * partition-derived `list_id` is cast back to int (partition-column
    * inference widens it). */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String = "ivfsq"): (DataFrame, DataFrame) = {
    val base = PartitionedStore.resolve(root, name)
    (spark.read.parquet(s"$root/$base/lists")
       .withColumn("list_id", col("list_id").cast("int")),
      spark.read.parquet(s"$root/$base/centroids"))
  }

  /** Right-to-be-forgotten PURGE of the stored IVF index — deletion
    * propagated to the DERIVED artifact (q238 deletes the rows; a
    * search index that still returns the purged ids is a leak). The
    * deletion request carries the user's vectors, so the lists to
    * rewrite are named by ONE map-only assignment of the tombstones
    * under the STORED centroids ([[assignIndex]] — assignment is
    * deterministic, so a stored tombstone provably lives in its
    * assigned list; no Bloom needed where the router is exact). Only
    * those list directories rewrite (partition-pruned scan + broadcast
    * anti-join); every other list carries into the new version
    * byte-for-byte at the filesystem level, and the pair publishes
    * through [[PartitionedStore.commit]] (first-writer-wins; a reader
    * is always on a complete pair). Centroids are KEPT:
    * they are small aggregates of the historical fit — the index must
    * stop RETURNING purged rows immediately, while re-fitting is a
    * separate scheduled rebuild (the standard unlearning split).
    * Returns (touched, untouched) list ids. 100 TB shape: bytes
    * rewritten ∝ the tombstones' list fan-out, not index size.
    *
    * PRECONDITION (r13 ADVICE): the request's vectors must be
    * BIT-IDENTICAL copies of the stored embeddings — the touch set is
    * named by re-assigning them under the stored centroids, so a
    * vector that drifted (re-derived, re-quantized, a different float
    * path) can assign to a different list and the purged id would
    * survive in an untouched list. That failure mode is NOT silent
    * here: after naming the touch set, the untouched lists are audited
    * for the tombstone ids (Bloom-pruned to the id-positive lists when
    * the stored [[idBlooms]] exist — no false negatives, so a clean
    * Bloom proves absence without a scan) and any remaining id throws
    * before anything publishes. Callers that cannot guarantee
    * bit-identical vectors should remove by id instead
    * ([[maintainIndex]] with `delete` ops — id-Bloom located, no
    * vector needed). */
  def purgeIndex(spark: org.apache.spark.sql.SparkSession, root: String,
      tombVecs: DataFrame, idCol: String, vecCol: String,
      name: String = "ivfsq", purgedName: String = "ivfsq_purged")
      : (Seq[Int], Seq[Int]) = {
    require(purgedName != name,
      s"purgeIndex: purged index must not shadow the incumbent '$name'")
    val (lists, cents) = loadIndex(spark, root, name)
    val touched = assignIndex(tombVecs, idCol, vecCol, cents)
      .select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    require(touched.nonEmpty, "purgeIndex: empty tombstone set")
    // drift audit (see PRECONDITION above): a tombstone id found in an
    // UNTOUCHED list means the request's vector assigned differently
    // than the stored row's — fail loudly instead of leaking. Request-
    // sized collect (the RTBF request is bounded by construction); the
    // audit scans only the untouched lists whose id-Bloom may hold a
    // tombstone (every untouched list of a pre-Bloom store)
    val tombIds = broadcast(tombVecs.select(col(idCol).cast("long").as("id")))
    val suspect = PartitionedStore.consultPartitions(spark, root, name,
      table, tombIds.distinct().collect().map(_.getLong(0).toString).toSeq)
      ._2.filterNot(l => touched.contains(l.toInt))
    if (suspect.nonEmpty) {
      val leaked = lists.filter(col("list_id").isin(suspect: _*))
        .join(tombIds, Seq("id"), "left_semi").count()
      require(leaked == 0,
        s"purgeIndex: $leaked tombstoned id(s) live outside the " +
          "assigned touch set — the request's vectors drifted from the " +
          "stored embeddings; remove by id (maintainIndex delete ops) " +
          "instead")
    }
    val cleaned = lists.filter(col("list_id").isin(touched: _*))
      .join(tombIds, Seq("id"), "left_anti")
      .select(lists.columns.map(col): _*)
    val untouched = PartitionedStore.commit(spark, root, name, purgedName,
      table, touched.map(_.toLong), cleaned)
    (touched, untouched.map(_.toInt))
  }

  /** CDC-DRIVEN INCREMENTAL MAINTENANCE of the stored IVF-SQ index —
    * the consumer that keeps the DERIVED search artifact fresh from a
    * change feed instead of rebuilding (r13 verdict item 3: q251
    * handles DELETE; this closes insert/update, so an upsert to the
    * base table no longer leaves the index stale). `feed` rows are
    * `(op ∈ insert|delete|update, id, vec)` with `vec` the POST-image
    * embedding (NULL for deletes — a delete needs no vector: its list
    * is located by id). Semantics per op, all id-keyed:
    *
    *  - every feed id is first REMOVED from wherever it lives — lists
    *    located by the stored per-list id-Bloom ([[idBlooms]], no
    *    false negatives), which makes removal exact with NO
    *    bit-identical-vector precondition (the [[purgeIndex]] hazard
    *    does not exist here) and makes insert-of-existing-id safe
    *    (upsert, the at-least-once delivery contract);
    *  - insert/update post-images are then assigned MAP-ONLY under the
    *    STORED centroids ([[assignIndex]] — the q114 streaming-ingest
    *    machinery) and int8-quantized ([[graft.llm.Quantize]]) into
    *    the stored layout.
    *
    * Only the union of removal-touched and addition-target lists
    * rewrites (partition-pruned scan + broadcast anti-join + union);
    * every other list carries byte-for-byte, id-Blooms split with the
    * rewrite, and the pair publishes first-writer-wins
    * ([[PartitionedStore.commit]]). Centroids are KEPT (the [[purgeIndex]]
    * unlearning split: serve fresh now, re-fit on schedule). Returns
    * (touched, untouched) list ids. 100 TB shape: feed is
    * commit-sized (broadcast), assignment is map-only, bytes
    * rewritten ∝ the feed's list fan-out — never index size. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, feed: DataFrame, name: String = "ivfsq",
      newName: String = "ivfsq_m2"): (Seq[Int], Seq[Int]) = {
    require(newName != name,
      s"maintainIndex: new index must not shadow the incumbent '$name'")
    // NULL-safe: a NULL op makes the isin NULL and a bare !isin filter
    // would DROP the row from the check — its id would then be removed
    // (removal is id-keyed over the whole feed) but never re-added
    val badOps = feed.filter(col("op").isNull ||
        !col("op").isin("insert", "delete", "update"))
      .limit(1).collect()
    require(badOps.isEmpty,
      s"maintainIndex: unknown op '${badOps.headOption.map(_.get(0))
        .getOrElse("")}' (expected insert/delete/update)")
    val (lists, cents) = loadIndex(spark, root, name)
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root,
        PartitionedStore.resolve(root, name), table.bloom.dir)),
      s"maintainIndex: stored index '$name' carries no per-list " +
        "id-Blooms — rebuild it with saveIndex first")
    // removal arm: EVERY feed id leaves its current list (delete, the
    // update pre-image, and any re-delivered insert's stored version) —
    // located by the ROUTED id-Bloom consult (PartitionedStore.consult:
    // driver bit-test while nlist fits the threshold, distributed
    // membership join above it), feed-sized collect
    val feedIds = feed.select(col("id").cast("long")).distinct()
      .collect().map(_.getLong(0))
    require(feedIds.nonEmpty, "maintainIndex: empty feed")
    val (_, removalTouched) = PartitionedStore.consultPartitions(spark,
      root, name, table, feedIds.map(_.toString).toSeq)
    // addition arm: post-images assigned under the STORED centroids,
    // quantized into the stored layout
    val post = feed.filter(col("op").isin("insert", "update"))
      .select(col("id"), col("vec"))
    val nullVecs = post.filter(col("vec").isNull).limit(1).count()
    require(nullVecs == 0,
      "maintainIndex: insert/update rows must carry a post-image vec")
    val additions = graft.llm.Quantize.withInt8(
        assignIndex(post, "id", "vec", cents), "v")
      .drop("v")
      .localCheckpoint() // fan-out collect + rewrite union both scan it
    val addTouched = additions.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val storedCols = lists.columns.toSeq
    val missing = storedCols.filterNot(additions.columns.contains)
    require(missing.isEmpty,
      s"maintainIndex: feed post-images are missing stored column(s) " +
        s"${missing.mkString(", ")} — the stored index carries " +
        s"(${storedCols.mkString(", ")})")
    val touched = (removalTouched.map(_.toInt) ++ addTouched).distinct.sorted
    import spark.implicits._
    val rewritten = lists.filter(col("list_id").isin(touched: _*))
      .join(broadcast(feedIds.toSeq.toDF("id")), Seq("id"), "left_anti")
      .select(storedCols.map(col): _*)
      .unionByName(additions.select(storedCols.map(col): _*))
    val untouched = PartitionedStore.commit(spark, root, name, newName,
      table, touched.map(_.toLong), rewritten)
    (touched, untouched.map(_.toInt))
  }
}
