package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan audit over the whole query surface: no query may degenerate into
  * an unintended cartesian/nested-loop join. Queries that *deliberately*
  * broadcast a tiny side into a cross join (distance-to-reference-vector,
  * query-side kNN, scalar stat attachment) are whitelisted; everything
  * else must plan hash/sort-merge joins only.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  // intentional broadcast-cross shapes: tiny side (1..10 rows or a scalar
  // stats row) against the corpus, or an exact pairwise metric
  private val intendedCross = Set(
    "q16_zscore",            // scalar stats crossJoin
    "q21_minkowski",         // reference-vector broadcast
    "q22_cosine_knn",        // query-side broadcast kNN
    "q27_anomaly_rank",      // scalar stats
    "q28_incident_merge",    // scalar stats
    "q29_homogeneity",       // entropy scalar combination
    "q30_silhouette",        // exact pairwise (validation-bounded)
    "q34_pipeline_e2e",      // scalar stats
    "q66_pipeline_prefix",   // scalar stats (q34's oracle twin)
    "q89_pipeline_fold_e2e", // scalar stats (q34's fully-pinned twin)
    "q44_embedding_neardup", // brute pair baseline (blocked variant = q42/q45)
    "q55_knn_ivf",           // centroid-table broadcast
    "q111_quantized_knn",    // query-side broadcast kNN (q22's shape, int8)
    "q112_ivfsq_knn",        // centroid-table broadcast (q55's shape, int8)
    "q113_ann_recall",       // composes q112 + the q22 exact baseline
    "q127_rerank_recall",    // composes q126 + the q22 exact baseline
    "q115_stored_index_knn", // centroid-table broadcast (q112's shape, stored)
    "q78_vector_mix",        // reference-vector broadcast
    "q138_hybrid_rrf",       // 1-row query-vector broadcast (q78's shape)
    "q163_hard_negatives",   // same 1-row query-vector broadcast (shares
                             // q138's hybridKwVec machinery)
    "q45_knn_lsh",           // stats-free, but plans via tiny bucket join
    "q37_anomaly_iforest",   // scalar stats (same gate as q27)
    "q38_silhouette_simplified", // k-row centroid-table broadcast
    "q75_onehot",            // 1-row dictionary-size broadcast
    "q148_pq_adc",           // query-side LUT broadcast (q111's shape)
    "q149_ivf_pq",           // centroid-table broadcast (q112's shape)
    "q150_pq_rerank",        // q148's shortlist stage + id-probe joins
    "q189_pq_recall",        // composes q148 + the q22-style exact baseline
    "q191_crossmodal_manifest", // 1-row per-modality stats crossJoins
    "q192_boilerplate_audit", // 1-row n_docs stats crossJoin
    "q183_band_eval",        // 1-row n_true stats crossJoin
    "q193_rp_knn",           // query-side broadcast kNN (q22's shape, RP ints)
    "q194_rp_recall",        // composes q193 + the exact fixed-point baseline
    "q195_prefix_rerank",    // query-side broadcast, prefix coarse + rerank
    "q198_rp_ivf",           // centroid-table broadcast (q112's shape, RP dims)
    "q199_rp_ivf_recall",    // composes q198 + the exact fixed-point baseline
    "q205_zorder_layout",    // 1-row domain-stats crossJoin (Layout.eventLayout)
    "q206_zorder_pruning",   // same stats crossJoin + 16-pred × 64-file
                             // zone-overlap BNLJ (range condition, both tiny)
    "q207_layout_depth",     // same stats crossJoin, twice (two layouts)
    "q208_point_lookup_eval",// stats + probes × 64-file bloom/zone broadcasts
    "q211_optimize_plan",    // stats crossJoin + 1-row rows_moved broadcast
    "q212_layout_capstone",  // composes q206 + q208 (1-row rollup crossJoin)
    "q213_join_size_est",    // 1-row exact-truth crossJoin (eval anchor)
    "q214_gapfill",          // 1-row hour-span crossJoin (grid axis)
    "q215_funnel",           // 1-row stage-1 anchor crossJoin (conv_bp)
    "q216_retention",        // 1-row first-day crossJoin (cohort origin)
    "q218_stickiness",       // 1-row day-span crossJoin (grid axis)
    "q219_outage_detector",  // composes q214 (1-row hour-span crossJoin)
    "q222_layout_drift",     // files×batches forward-fill (non-equi
                             // batch_id <= b join, both frames tiny)
    "q225_stream_optimize",  // same forward-fill shape (q222's join)
    "q226_stored_optimize_exec", // 1-row domain-stats crossJoin
                             // (Layout.eventLayout, the q205 shape)
    "q228_kmv_overlap",      // source-pair (20×20) sketch cross — both
                             // sides source-domain-sized by construction
    "q230_join_planner")     // 1-row estimate/stat crossJoins per pair

  test("no unintended cartesian or nested-loop joins anywhere") {
    val skip = Set("q72_csv_roundtrip") // side-effect
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip.contains)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val hasCross = plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")
        if (hasCross && !intendedCross.contains(name)) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"unintended cross joins in: ${offenders.mkString(", ")}")
  }

  test("hot relational queries execute inside whole-stage codegen") {
    // AQE wraps the plan until execution; disable it here so the
    // WholeStageCodegen spans are visible in the static physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("q01_agg", "q04_filter_counts", "q07_bucket_hist", "q17_join_agg")
        .foreach { name =>
          val plan = SparkEntry.queries(name)(spark, sf)
            .queryExecution.executedPlan.toString
          // codegen stages print as "*(n) Operator" in plan.toString
          assert(plan.contains("*("),
            s"$name has no codegen span:\n$plan")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("parquet filters are pushed down where filters exist") {
    import org.apache.spark.sql.functions._
    val df = graft.ops.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1995-01-01").cast("timestamp"))
      .select("l_orderkey")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("LessThanOrEqual"), scan)
  }

  test("categorical filters reach the parquet scan in shipped queries") {
    // q77's event_type equality filters must appear as pushed predicates
    // on the events scan, not as post-scan Filter-only evaluation
    val plan = SparkEntry.queries("q77_set_ops2")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type"),
      s"event_type filter not pushed:\n$plan")
  }

  test("scans prune to the projected columns in shipped queries") {
    // q46 consumes only doc_id/text/n_chars — the documents scan must not
    // read lang or source
    val plan = SparkEntry.queries("q46_text_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id"), s"no ReadSchema line:\n$plan")
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"documents scan reads unprojected columns: $scanLine")
  }

  test("chunk→pack boundary: the fan-out stays map-only into the window") {
    // the q105 seam: chunkLongDocuments' posexplode must flow into
    // packSequences' per-shard window with EXACTLY one exchange — the
    // window's own hash partition by shard. A second exchange would mean
    // the chunk fan-out itself started shuffling, which at 100 TB turns
    // a map-only pass into a corpus-wide reshuffle of the chunk rows.
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val chunks = graft.llm.Corpus.chunkLongDocuments(
      docs, "doc_id", "text", 64)
    val packed = graft.llm.Corpus.packSequences(
      chunks.withColumn("cid", struct(col("doc_id"), col("chunk_id"))),
      "cid", "chunk_tokens", "source", 512L)
    val plan = packed.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"chunk→pack has $exchanges exchanges:\n$plan")
  }

  test("stored-index search prunes the list scan dynamically (q115)") {
    // q115's scale claim: the lists table is partitioned by list_id, so
    // the probe join against the broadcast probe set must reach the scan
    // as a dynamic partition pruning filter — a search READS nprobe/nlist
    // of the stored files. Without the pruning subquery the stored shape
    // silently degrades to a full-index scan per query batch.
    val plan = graft.ops.LlmQueries.q115StoredIndexKnn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"q115 list scan carries no dynamic pruning filter:\n$plan")
  }

  test("serving search ranks by partial aggregation, not a window (q116)") {
    // q116's scale claim: per-query top-k is a k-bounded partial
    // aggregate — candidates rank map-side and only k rows per query per
    // partition cross the exchange. A Window operator in this plan means
    // the formulation regressed to shuffling EVERY candidate row; a
    // missing partial/final ObjectHashAggregate split means the
    // aggregation lost its map-side half.
    val plan = graft.ops.LlmQueries.q116ServeKnn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q116 plans a window rank:\n$plan")
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"q116 lost the partial/final aggregate split:\n$plan")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"q116 stored scan carries no dynamic pruning filter:\n$plan")
  }

  test("filtered search stacks attribute pushdown on dynamic pruning (q134)") {
    // q134's scale claim: the metadata predicate evaluates SCAN-LOCAL on
    // the probed list files — label is stored NEXT TO the codes
    // (saveIndex extraCols) and must reach the parquet scan as a pushed
    // filter, while the probe join still prunes whole list directories
    // dynamically. Losing the pushdown means every probed row is decoded
    // just to be thrown away; losing the pruning means a full-index scan.
    val plan = graft.ops.LlmQueries.q134Serve(spark, sf)(
      _.queryExecution.executedPlan.toString)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"q134 stored scan carries no dynamic pruning filter:\n$plan")
    val listScan = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("lists"))
      .mkString("\n")
    assert(listScan.contains("PushedFilters") &&
      listScan.contains("EqualTo(label,1)"),
      s"q134 label predicate not pushed to the stored list scan:\n$plan")
    assert(!plan.contains("Window"), s"q134 plans a window rank:\n$plan")
  }

  test("capstones scan documents exactly once past the rep checkpoint") {
    // q97/q105 rest on ONE localCheckpoint of the representatives table
    // (LlmQueries.q97Stages): every post-checkpoint stage (pairs,
    // keepers, decontamination, mix, pack) must reuse it. The only
    // legitimate documents scan in the FINAL plan is the eval side of
    // decontamination (tier 3 never enters reps). A refactor that loses
    // the checkpoint re-derives reps per consumer and the scan count
    // multiplies — silently doubling the dominant cost of the pipeline.
    for (name <- Seq("q97_corpus_pipeline", "q105_chunked_capstone",
        "q121_split_capstone")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val docScans = plan.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("documents"))
      assert(docScans == 1,
        s"$name scans documents $docScans times (expect 1 — the eval " +
          s"side of decontamination):\n$plan")
    }
    // the retrieval capstone's twin property: the chunk-embed table is
    // localCheckpointed ONCE and sample-fit, full assign AND the query
    // batch all reuse it — the final serve plan must contain ZERO
    // documents scans (losing the checkpoint re-chunks and re-embeds
    // the corpus once per consumer: 3× the dominant cost)
    val q136Plan = SparkEntry
      .queries("q136_retrieval_capstone")(spark, sf)
      .queryExecution.executedPlan.toString
    val q136DocScans = q136Plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(q136DocScans == 0,
      s"q136 re-derives the chunk embeddings ($q136DocScans documents " +
        s"scans in the serve plan; expect 0 past the checkpoint):\n$q136Plan")
  }

  test("map-only corpus fan-outs shuffle only for their output ordering") {
    // q104 (long-doc chunking) advertises a map-only scan+explode: the
    // ONLY Exchange in its plan must be the final ORDER BY's range
    // partitioning — a second one would mean the fan-out itself started
    // shuffling (the property that makes it safe at 100 TB)
    val plan = SparkEntry.queries("q104_chunk_docs")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"q104 has $exchanges exchanges:\n$plan")
  }

  test("the split-aware capstone adds zero exchanges over q97 (q121)") {
    // leakageSafeSplit is scan-local arithmetic and the packing window
    // just re-keys from source to split|source — q121's plan must have
    // exactly as many exchanges as q97's, or the holdout step started
    // shuffling on its own
    def exchanges(name: String): Int =
      SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    val (base, split) =
      (exchanges("q97_corpus_pipeline"), exchanges("q121_split_capstone"))
    assert(split <= base, s"q121 has $split exchanges vs q97's $base")
  }

  test("training shards shuffle once for the per-shard window (q118)") {
    // q118's whole permutation must cost ONE hash exchange (the window's
    // partitionBy(shard)) plus the output ORDER BY's range exchange —
    // the shape that writes a shuffled 100 TB corpus as nShards
    // independent files. A third exchange means the hash/position
    // arithmetic started shuffling on its own.
    val plan = SparkEntry.queries("q118_training_shards")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"q118 has $exchanges exchanges:\n$plan")
    assert(plan.contains("Window"), s"q118 lost its window:\n$plan")
  }

  test("bm25 final ranking is the k-bounded partial aggregate (q140)") {
    // q140's scale claim: the index-build half may window (df/dl are
    // index metadata), but the candidate RANKING must be TopKAgg — an
    // ObjectHashAggregate partial/final split after the last window, so
    // only k rows per partition cross the final exchange. If a
    // window ranks the candidates, the plan regressed to shuffling the
    // whole match set.
    val plan = graft.ops.LlmQueries.q140Bm25(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"q140 lost the partial/final top-k split:\n$plan")
    // windows exist (df_count, dl, term rank) but none may consume the
    // scored candidates: the TopKAgg must sit ABOVE every Window line
    val lines = plan.linesIterator.toSeq
    val firstAgg = lines.indexWhere(_.contains("ObjectHashAggregate"))
    val firstWin = lines.indexWhere(_.contains("Window"))
    assert(firstWin == -1 || firstAgg < firstWin,
      s"q140 ranks candidates in a window:\n$plan")
  }

  test("pq encoding is map-only over the corpus scan (q148)") {
    // the PQ encode claim: m unrolled argmins are ONE projection — the
    // codes frame must contain no Exchange and no Join below the
    // crossJoin with the broadcast query LUTs. Count exchanges in the
    // full search plan: the only ones allowed are the query-side LUT
    // build (tiny) and the final window's per-qid hash (bounded by the
    // 10-query batch), never a corpus-wide shuffle for encoding.
    val e = graft.ops.Tables.embeddings(spark, sf)
    val sample = e.filter(org.apache.spark.sql.functions.pmod(
      e("vec_id"), org.apache.spark.sql.functions.lit(10)) === 0)
    val cbs = graft.llm.Pq.fitCodebooks(sample, "vec_id", "embedding",
      dim = 64, m = 4, ksub = 16)
    val plan = graft.llm.Pq.encode(e, "vec_id", "embedding", cbs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"q148 encode shuffles:\n$plan")
    assert(!plan.contains("Join"), s"q148 encode joins:\n$plan")
  }

  test("source caps are one per-source window, no extra exchange (q153)") {
    // the flood-guard claim: sampleKey priority is scan-local
    // arithmetic and ranking shuffles ONCE, on the source key — the
    // same bound q118 pins for shards. A second exchange would mean
    // the priority column forced a pre-shuffle projection pass.
    val plan = graft.llm.Corpus.sourceCap(
        graft.ops.Tables.documents(spark, sf), "doc_id", "source", 10)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"q153 has $exchanges exchanges:\n$plan")
    assert(plan.contains("Window"), s"q153 lost its window:\n$plan")
  }

  test("video pair space is reps-bounded past the set collapse (q182)") {
    // frameHashPairs' scale claim: clips with identical frame-hash sets
    // collapse to min-id representatives BEHIND the rep checkpoint, so
    // the visible plan past it holds only the shared-hash pair stage —
    // one shuffle for the (clip_a, clip_b) pair aggregation plus the
    // caller's ORDER BY; everything else joins broadcast-sized rep
    // frames. A third shuffle (or a cartesian) would mean raw clip
    // rows leaked past the collapse — the exact ×100 quadratic the
    // round-9 stress run caught.
    import org.apache.spark.sql.functions._
    withDefaultBroadcast {
      val media = graft.llm.Multimodal.mediaTableAvi(spark, sf)
        .filter(col("meta.kind") === "video" && col("meta.n_bytes") >= 60)
      val hashes = graft.llm.Multimodal.aviFrameHashFeatures(media)
      val plan = graft.llm.Dedup.frameHashPairs(hashes, "media_id", "fhash")
        .orderBy(col("clip_a"), col("clip_b"))
        .queryExecution.executedPlan.toString
      val shuffles = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(shuffles <= 2, s"q182 pair stage has $shuffles shuffles:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"q182 pairs via cross join:\n$plan")
    }
  }

  test("q227/q228 plan shapes: no windows, k-bounded sketch aggregate") {
    // q227's entire winnowing chain is HOF projections + hash
    // aggregations — a Window anywhere means the rank/window
    // formulation crept back in
    val p227 = SparkEntry.queries("q227_winnow_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p227.contains("Window"), s"q227 plans a window:\n$p227")
    // q228's KMV build must be the MinKAgg partial/final split
    // (ObjectHashAggregate), never a per-source sort or window over
    // the shingle-digest domain
    val p228 = SparkEntry.queries("q228_kmv_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p228.contains("ObjectHashAggregate"),
      s"q228 lost the k-bounded aggregate:\n$p228")
    assert(!p228.contains("Window"), s"q228 plans a window:\n$p228")
  }

  // the reps-bounded pins count NON-broadcast exchanges, so they must
  // run under the production broadcast threshold — BucketingSpec's
  // force-SMJ tests share this session and may leave (or create) it
  // with broadcasts disabled, which would turn every rep-sized
  // broadcast join into a counted shuffle
  private def withDefaultBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "10485760b")
    try body finally spark.conf.set(key, prev)
  }

  test("eval queries stay reps-bounded: q185/q186 shuffle at most twice") {
    // q185 (minhash error audit) runs entirely on exact-dedup reps and
    // q186 (IVF balance audit) on a sample-bounded fit + map-only
    // assign: past their checkpoints each plans ONE aggregation
    // exchange plus the output ORDER BY. More would mean an audit
    // stage re-shuffling corpus-sized data the collapse already paid
    // for.
    withDefaultBroadcast {
      Seq("q185_minhash_err", "q186_ivf_balance").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val shuffles = plan.linesIterator.count(l =>
          l.contains("Exchange") && !l.contains("BroadcastExchange"))
        assert(shuffles <= 2, s"$name has $shuffles shuffles:\n$plan")
      }
    }
  }

  test("cms build aggregates map-side so the exchange is sketch-sized " +
      "(q176)") {
    // the mergeable-sketch claim: cmsBuildWeighted's single exchange
    // must be fed by a PARTIAL sum over the cell keys — each partition
    // collapses to ≤ depth×width cells before anything crosses the
    // wire. No partial aggregate would mean token-level rows shuffle.
    import org.apache.spark.sql.functions._
    val exact = graft.ops.Tables.documents(spark, sf)
      .select(explode(graft.llm.TextOps.regexTokens(lower(col("text"))))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .localCheckpoint()
    val plan = graft.llm.Sketch.cmsBuildWeighted(exact, "token",
        "exact_n", depth = 4, width = 64)
      .queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"cms build has $shuffles shuffles:\n$plan")
    assert(plan.contains("partial_sum"),
      s"cms build exchange is not map-side combined:\n$plan")
  }

  test("random projection is map-only; RP/prefix kNN shuffle once " +
      "(q193/q195)") {
    // the dimension-reduction scale claim: rpReduce is a literal sign
    // matrix unrolled into per-row arithmetic — NO exchange of any
    // kind (an exchange would mean the projection materializes an
    // intermediate keyed stage at corpus scale). The searchers built
    // on it shuffle exactly once, for the per-qid rank window; the
    // query side must ship as a broadcast, never a shuffled join side.
    import org.apache.spark.sql.functions._
    withDefaultBroadcast {
      val e = graft.ops.Tables.embeddings(spark, sf)
      val rp = graft.llm.SimSearch.rpReduce(e, "vec_id", "embedding")
        .queryExecution.executedPlan.toString
      assert(!rp.contains("Exchange"),
        s"rpReduce plans an exchange:\n$rp")
      Seq("q193_rp_knn", "q195_prefix_rerank").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val shuffles = plan.linesIterator.count(l =>
          l.contains("Exchange") && !l.contains("BroadcastExchange"))
        // window rank + the caller's ORDER BY
        assert(shuffles <= 2, s"$name has $shuffles shuffles:\n$plan")
        assert(plan.contains("BroadcastNestedLoopJoin"),
          s"$name query side is not broadcast:\n$plan")
      }
    }
  }

  test("k-center coverage assigns with a literal, join-free, one " +
      "exchange (q197)") {
    // the coreset scale claim: centers ship as a driver literal inside
    // the assignment expression, so the coverage pass is scan →
    // map-only argmin → one k-bounded aggregation exchange. A Join
    // (or a second exchange) would mean corpus rows shuffled against
    // a center relation — the shape the literal unroll exists to
    // avoid. The greedy rounds themselves pin the same way: filter +
    // literal min-dist + TakeOrdered, no exchange at all.
    val e = graft.ops.Tables.embeddings(spark, sf)
    val sel = graft.llm.Select.kCenterGreedy(e, "vec_id", "embedding", 3)
    val centers = graft.llm.Select.centersOf(e, "vec_id", "embedding", sel)
    val plan = graft.llm.Select
      .kCenterCoverage(e, "vec_id", "embedding", centers)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"coverage pass joins:\n$plan")
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"coverage has $shuffles shuffles:\n$plan")
  }

  test("session-sequence corpus prunes the wide events columns (q200)") {
    // the events table's props JSON is its widest column; a sequence
    // corpus build that drags it through the session aggregation would
    // multiply the shuffle by the payload it never reads
    val plan = SparkEntry.queries("q200_session_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("event_type"), s"no ReadSchema line:\n$plan")
    assert(!scanLine.contains("props"), s"props not pruned:\n$scanLine")
  }

  test("sequence capstone stays keyed end to end: five exchanges, no " +
      "cartesian (q204)") {
    // one exchange per keyed stage — session aggregation, seq_fp dedup
    // window, per-user pack window, manifest aggregation, output sort.
    // A sixth would mean a stage lost its key (e.g. packing falling
    // back to a global window); a cartesian would mean the dedup
    // degenerated to pair comparison.
    withDefaultBroadcast {
      val plan = SparkEntry.queries("q204_sequence_capstone")(spark, sf)
        .queryExecution.executedPlan.toString
      val shuffles = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(shuffles <= 5, s"q204 has $shuffles shuffles:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"q204 plans a cross join:\n$plan")
    }
  }

  test("bloom probe filters scan-locally, no join on the filter (q187)") {
    // the 100 TB decontamination shape: the collected filter ships as
    // a broadcast array inside a scalar UDF, so the probe side is scan
    // → filter → partial count — NO join against a bloom relation and
    // exactly one exchange (the per-doc aggregation). A Join here
    // would mean the probe went back to shuffling the corpus against
    // the filter, which is what the sketch exists to avoid.
    import org.apache.spark.sql.functions._
    val k = 3; val words = 2048
    val docs = graft.ops.Tables.documents(spark, sf)
    val evalSh = docs.limit(50)
      .select(explode(graft.llm.Corpus.shingles(col("text"), 8))
        .as("shingle")).distinct()
    val bits = graft.llm.Sketch.bloomCollect(
      graft.llm.Sketch.bloomBuild(evalSh, "shingle", k, words), words)
    val hit = graft.llm.Sketch.bloomHitUdf(bits, k, words)
    val plan = docs
      .select(col("doc_id"),
        explode(graft.llm.Corpus.shingles(col("text"), 8)).as("shingle"))
      .filter(hit(col("shingle")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bloom probe joins:\n$plan")
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 1, s"bloom probe has $shuffles shuffles:\n$plan")
  }

  test("percentile probe is join-free after the rank window (q157)") {
    // exactPercentiles' claim: the percentile lookup is an explode of
    // the literal pct list plus a rank-equality FILTER — not a join
    // against the ranked frame (which would plan a broadcast
    // nested-loop over a non-equi rank condition).
    val scored = graft.llm.TextOps.bigramFamiliarity(
      graft.ops.Tables.documents(spark, sf), "doc_id", "text")
    val plan = graft.llm.Corpus.exactPercentiles(
        scored, "avg_bp", "doc_id", Seq(33, 66))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q157 probes percentiles via a cross join:\n$plan")
    assert(plan.contains("Generate"), s"q157 lost the pct explode:\n$plan")
  }

  test("join-size estimation scans the corpus zero times past the " +
      "key-count checkpoints (q213)") {
    // q213's three consumers (two sketch widths + the exact truth)
    // must all read the localCheckpointed per-key counts — a parquet
    // scan in the final plan means a consumer re-derived its side and
    // the corpus pays 6 scans instead of 2
    val plan = SparkEntry.queries("q213_join_size_est")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan parquet"),
      s"q213 re-scans the corpus past the checkpoints:\n$plan")
  }

  test("layout bucketing is map-only behind a 1-row stats broadcast and " +
      "prunes the wide events columns (q205)") {
    // Layout.eventLayout's scale claim: the Morton bucketing adds NO
    // corpus-keyed shuffle of its own — the only exchanges in q205 are
    // the 1-row domain-stats aggregation, the file-count-sized zone-map
    // aggregation, and the output sort. And the scan must read only
    // (ts, user_id): a layout pass that drags props/value along reads
    // 3× the bytes at 100 TB for nothing.
    val plan = SparkEntry.queries("q205_zorder_layout")(spark, sf)
      .queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 3, s"q205 has $shuffles shuffles:\n$plan")
    plan.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("props") && !l.contains("value") &&
        !l.contains("event_type"),
        s"events scan reads unprojected columns: $l")
    }
  }

  // Queries whose plans legitimately contain a Window with an EMPTY
  // partition spec: every one runs over an input BOUNDED by construction
  // (a groupBy output whose key domain is a fixture-independent
  // cardinality), so the single-partition pass holds k rows, not the
  // corpus. Anything else is the q152/q157 scale wall and must fail.
  private val boundedGlobalWindow = Set(
    "q75_onehot",              // event_type dictionary (category-count rows)
    "q119_temperature_mix",    // temperedRates wsum over per-SOURCE counts
    "q125_temp_upsample",      // same per-source rate table (T<1 regime)
    "q144_token_budget",       // tokenBudgetPlan wsum over per-source aggs
    "q27_anomaly_rank",        // n_flagged guard over the FLAGGED subset of
                               // per-(cluster, batch_ts) aggregates — group
                               // cardinality, never event rows
    "q28_incident_merge",      // same flagged-cluster guard
    "q37_anomaly_iforest")     // same guard, isolation-forest scores

  test("no query plans an unpartitioned window over an unbounded input") {
    // the q152/q157 lesson made mechanical: row_number()/sum() OVER ()
    // with no PARTITION BY moves the whole input through ONE task — at
    // corpus scale an executor OOM. After the round-12 rewrites (the
    // Ranks two-pass rank, the harness's bounded-aggregation NTILE,
    // the keyword family's TakeOrdered term selection) no query may
    // plan one unless the window's input is k-bounded: structurally (a
    // Limit below it — the orderBy+limit TakeOrdered shape) or by the
    // whitelisted per-source/per-category aggregation cardinality.
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, Window => LWindow}
    val skip = Set("q72_csv_roundtrip")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(skip.contains)
      .flatMap { name =>
        val bad = SparkEntry.queries(name)(spark, sf)
          .queryExecution.optimizedPlan.collect {
            case w: LWindow if w.partitionSpec.isEmpty &&
              w.child.collectFirst {
                case l: GlobalLimit => l
                case l: LocalLimit => l
              }.isEmpty => w
          }
        if (bad.nonEmpty && !boundedGlobalWindow.contains(name)) Some(name)
        else None
      }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded inputs in: " +
        offenders.mkString(", "))
  }

  test("stored layout: partition pruning + pushed box filters, and " +
      "partitions read == the zone-map prediction (q223)") {
    // the q223 claim made mechanical: a pruning reader consults the
    // stored zone maps, then issues a scan whose literal file_z
    // IN-list prunes whole directories (PartitionFilters) and whose
    // (ub, tb) box evaluates at the parquet scan (PushedFilters) —
    // and the number of partitions the scan ACTUALLY reads equals the
    // zone-map prediction, closing the cost model → storage loop.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_layoutpin")
    graft.llm.Layout.saveLayout(laid, root.toString)
    val (rows, zm) = graft.llm.Layout.loadLayout(spark, root.toString)
    val zones = zm.select(col("file_id"), col("min_ub"), col("max_ub"),
        col("min_tb"), col("max_tb")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val (ubLo, ubHi, tbLo, tbHi) = (0L, 63L, 0L, 63L)
    val cand = zones.filter { case (_, mnU, mxU, mnT, mxT) =>
      mxU >= ubLo && mnU <= ubHi && mxT >= tbLo && mnT <= tbHi
    }.map(_._1)
    assert(cand.nonEmpty && cand.length < zones.length,
      s"degenerate fixture: box keeps ${cand.length}/${zones.length}")
    // AQE wraps the scan inside opaque query stages; disable it so the
    // FileSourceScanExec (and its metrics) are reachable — the q01
    // codegen-span precedent
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = rows
        .filter(col("file_z").isin(cand: _*) &&
          col("ub").between(ubLo, ubHi) && col("tb").between(tbLo, tbHi))
        .agg(count(lit(1)).as("n_rows"))
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("file_z"),
        s"q223 scan carries no partition filter:\n$plan")
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(ub"),
        s"q223 box predicate not pushed to parquet:\n$plan")
      val scanNodes = scan.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scanNodes.nonEmpty, s"no file scan in:\n$plan")
      // the plan STRING truncates PushedFilters; assert the full box
      // on the scan node's data filters (both dimensions, both bounds)
      val df = scanNodes.flatMap(_.dataFilters).mkString("; ")
      for (frag <- Seq("ub#", "tb#"); op <- Seq(">=", "<="))
        assert(df.split("; ").exists(e =>
          e.contains(frag) && e.contains(op)),
          s"q223 scan lost a box bound ($frag $op): $df")
      val partsRead = scanNodes.map(
        _.metrics("numPartitions").value).sum
      assert(partsRead == cand.length,
        s"scan read $partsRead partitions; zone maps predicted " +
          s"${cand.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("stored bloom point lookup: literal file IN-list partition " +
      "filter, and partitions read == the Bloom prediction (q235)") {
    // the q223 move applied to the Bloom: the reader consults the
    // stored per-file filter, issues ONE scan over the union of
    // predicted files, and that scan's partition pruning must read
    // exactly the predicted directories — no more (pruning works), no
    // fewer (no false negatives lost rows).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_bloompin")
    graft.llm.Layout.saveLayout(laid, root.toString, "events_t", "file_t")
    val (rows, _) = graft.llm.Layout.loadLayout(spark, root.toString,
      "events_t", "file_t")
    val cache = graft.state.PartitionedStore.bloomCache(spark,
      root.toString, "events_t", graft.llm.Layout.table("file_t"))
    val probes = rows.select(col("user_id")).distinct()
      .filter(col("user_id") % 17 === 0).collect().map(_.getLong(0))
    assert(probes.nonEmpty)
    val cand = probes.flatMap { u =>
      cache.toSeq.collect { case (f, bits)
        if graft.llm.Sketch.bloomContains(bits, u.toString,
          graft.llm.Layout.BloomK, graft.llm.Layout.BloomWords) => f }
    }.distinct.sorted
    assert(cand.nonEmpty && cand.length < cache.size,
      s"degenerate fixture: bloom keeps ${cand.length}/${cache.size}")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = rows.filter(col("file_t").isin(cand: _*))
        .agg(count(lit(1)).as("n_rows"))
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("file_t"),
        s"q235 scan carries no partition filter:\n$plan")
      val scanNodes = scan.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scanNodes.nonEmpty, s"no file scan in:\n$plan")
      val partsRead = scanNodes.map(
        _.metrics("numPartitions").value).sum
      assert(partsRead == cand.length,
        s"scan read $partsRead partitions; bloom predicted " +
          s"${cand.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("split-store point lookup: partitions read == the Bloom " +
      "prediction on the REFINED tiles (q257)") {
    // the q235 pin re-run against the adaptive fan-out: after
    // splitOnBudget + a routed merge, the stored per-TILE Blooms must
    // still drive partition pruning to exactly the predicted tile
    // directories — carried metadata and recomputed metadata both.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_splitpin")
    graft.llm.Layout.saveLayout(laid, root.toString)
    val budget = laid.count() / 100 + 1
    graft.llm.Layout.splitOnBudget(spark, root.toString, "events_z",
      "file_z", budget, "events_z_sp")
    val (rows, _) = graft.llm.Layout.loadLayout(spark, root.toString,
      "events_z_sp")
    val cache = graft.state.PartitionedStore.bloomCache(spark,
      root.toString, "events_z_sp", graft.llm.Layout.table("file_z"))
    val probes = rows.select(col("user_id")).distinct()
      .filter(col("user_id") % 17 === 0).collect().map(_.getLong(0))
    assert(probes.nonEmpty)
    val cand = probes.flatMap { u =>
      cache.toSeq.collect { case (f, bits)
        if graft.llm.Sketch.bloomContains(bits, u.toString,
          graft.llm.Layout.BloomK, graft.llm.Layout.BloomWords) => f }
    }.distinct.sorted
    assert(cand.nonEmpty && cand.length < cache.size,
      s"degenerate fixture: bloom keeps ${cand.length}/${cache.size}")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scan = rows.filter(col("file_z").isin(cand: _*))
        .agg(count(lit(1)).as("n_rows"))
      scan.collect()
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("file_z"),
        s"q257 scan carries no partition filter:\n$plan")
      val scanNodes = scan.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scanNodes.nonEmpty, s"no file scan in:\n$plan")
      val partsRead = scanNodes.map(
        _.metrics("numPartitions").value).sum
      assert(partsRead == cand.length,
        s"scan read $partsRead partitions; bloom predicted " +
          s"${cand.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("k-anonymity audit is pure keyed aggregation — no joins (q209)") {
    // q209 stacks session_window -> per-pattern -> per-class rollups;
    // any Join in its plan means the governance gate started pairing
    // rows instead of aggregating them.
    val plan = SparkEntry.queries("q209_kanon_audit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q209 grew a join:\n$plan")
  }
}
