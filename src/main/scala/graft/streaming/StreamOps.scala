package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.ml.{Centroids, DenStream}
import graft.pipeline.Enrich

/** Structured Streaming interpretation of the reference's batch-simulated
  * stream (SURVEY.md §2.I).
  *
  * The reference simulates streaming with externally-framed id ranges and
  * a `batch_order` commit table (run_incremental_batch.py:29-35, 101-110);
  * here the same semantics land on real streaming primitives:
  *   I1 offsets/commits → checkpointed file source + idempotent sink
  *   I3 tumbling volume → event-time window + watermark
  *   I5 per-event state → flatMapGroupsWithState centroid state
  */
object StreamOps {

  /** File-source stream over the events fixture, with the batch
    * reader's fixed schema ([[graft.ops.Tables.EventsSchema]]), so `ts`
    * is the same event-time column in both. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(graft.ops.Tables.EventsSchema)
      // file source needs a directory; glob-filter to the events table
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)

  /** I3 — tumbling event-time volume counts with a watermark (the
    * reference's per-batch `GROUP BY cluster_id COUNT(*)`,
    * incident_ops.py:52-61, with the batch id as the window). */
  def tumblingVolume(events: DataFrame, keyCol: String = "event_type",
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col(keyCol), col("cnt"))

  /** Carried centroid state for [[statefulSemanticGroups]]. */
  case class CentroidState(centroids: Seq[(String, Seq[Float])])

  case class SemAssign(log_id: Long, semantic_group: String)

  /** I5 — order-sensitive online semantic grouping as streaming state
    * (reference J2 across batches: the centroid map lives in the engine's
    * state store instead of centroids.pkl). Single logical key ⇒ strict
    * global order, matching the reference exactly; shard the key for the
    * 100 TB variant (per-shard namespaces, SURVEY.md §7.4 risk 2). */
  def statefulSemanticGroups(events: Dataset[(Long, Array[Float])],
      threshold: Double, p: Double = 1.5): Dataset[SemAssign] =
    statefulSemanticGroupsWith(events, threshold,
      graft.ml.Distance.minkowskiS(_, _, p))

  /** [[statefulSemanticGroups]] with a pluggable pair distance: each
    * micro-batch is `Centroids.foldAssignWith` seeded with the state's
    * centroids; q86 runs it under squared Euclidean so the streaming
    * state machinery is oracle-checkable. */
  def statefulSemanticGroupsWith(events: Dataset[(Long, Array[Float])],
      threshold: Double,
      dist: graft.ml.Distance.PairDist): Dataset[SemAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0) // single global namespace (reference semantics)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, Array[Float])],
         state: GroupState[CentroidState]) =>
          val seed = state.getOption
            .map(_.centroids.map(c =>
              Centroids.Centroid(c._1, c._2.toArray, 0L)))
            .getOrElse(Nil)
          // strict id order within the batch, the state's centroids first
          val (cs, out) = Centroids.foldAssignWith(
            rows.toArray.sortBy(_._1).iterator, threshold, dist, seed)
          state.update(CentroidState(
            cs.toSeq.map(c => (c.semanticId, c.center.toSeq))))
          out.iterator.map { case (id, g) => SemAssign(id, g) }
      }
  }

  /** One maintained-view emission of [[streamingViewMaintain]]: the
    * user's view row as of that update, stamped with a per-user update
    * sequence so the finish side can take the LAST emission per user. */
  case class ViewRow(user_id: Long, n_events: Long, e_mass: Long,
    seq: Long)

  /** INCREMENTAL VIEW MAINTENANCE kept live on a CDC feed stream, with
    * the state BOOTSTRAPPED from the batch-computed view — the
    * `initialState` form of `flatMapGroupsWithState`, i.e. the
    * lakehouse "backfill once, stream forever" pattern and the
    * streaming twin of q244's fold. Input rows are typed change events
    * `(op ∈ insert/delete, event_id, user_id)`; keyed state per user is
    * the maintained (count, mass) pair plus an update sequence — the
    * view row ITSELF, nothing corpus-sized — seeded per user from
    * `base` in the first batch. Each micro-batch folds its ± deltas
    * (insert = +1/+id, delete = −1/−id; the fold is commutative, so
    * in-batch order is irrelevant) and re-emits the user's new
    * maintained row (OutputMode.Update). Spark invokes every
    * initial-state key once in the first batch even with no data (the
    * bootstrap pass — the one view-sized batch); such a pure-bootstrap
    * invocation emits NOTHING, so emissions are exactly the
    * feed-touched rows and the untouched majority keeps being served
    * from the base snapshot (merge-on-read serving). After bootstrap,
    * per-batch work ∝ that batch's FEED, not the view. The only
    * exchanges are the two groupByKey hash shuffles (bootstrap +
    * feed). */
  def streamingViewMaintain(feed: Dataset[(String, Long, Long)],
      base: Dataset[(Long, Long, Long)]): Dataset[ViewRow] = {
    import feed.sparkSession.implicits._
    val init = base.groupByKey(_._1)
      .mapValues(r => (r._2, r._3, 0L))
    feed.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout, init) {
        (u: Long, it: Iterator[(String, Long, Long)],
         st: GroupState[(Long, Long, Long)]) =>
          if (it.isEmpty) Iterator.empty // bootstrap-only invocation
          else {
            var (n, m, seq) = st.getOption.getOrElse((0L, 0L, 0L))
            it.foreach { case (op, eid, _) =>
              op match { // strict: a typo'd/future op must fail loudly,
                // not silently decrement the maintained view (r13 ADVICE)
                case "insert" => n += 1; m += eid
                case "delete" => n -= 1; m -= eid
                case other => throw new IllegalArgumentException(
                  s"streamingViewMaintain: unknown op '$other' " +
                    "(expected insert/delete)")
              }
            }
            seq += 1
            st.update((n, m, seq))
            Iterator.single(ViewRow(u, n, m, seq))
          }
      }
  }

  /** One maintained-value-view emission of
    * [[streamingValueViewMaintain]]: the user's view row as of that
    * update, with the per-user update sequence. */
  case class ValueViewRow(user_id: Long, n_events: Long,
    n_weighted: Long, w_mass: Long, seq: Long)

  /** [[streamingViewMaintain]] with the UPDATE ARM — the streaming twin
    * of the batch value fold (`LlmQueries.maintainValueView`, q259).
    * Input rows are CDF-form change events `(op, event_id, user_id,
    * value)` with op ∈ insert / delete / update_preimage /
    * update_postimage and the value OPTIONAL (a pre-evolution row
    * carries none). Every op folds under ONE signed rule — +1 for
    * insert/update_postimage, −1 for delete/update_preimage — applied
    * to the row count, the value-presence count and the value sum, so
    * a view over a column an update can change stays exact (the
    * insert/delete-only fold would silently hold the stale sum). The
    * fold is commutative, so in-batch order is irrelevant, and an
    * update whose two images land in DIFFERENT micro-batches still
    * converges (each image is a self-contained signed contribution).
    * Unknown ops fail loudly (the [[streamingViewMaintain]] rule).
    * State per user is the maintained triple — view-row-sized, never
    * corpus-sized; per-batch work ∝ that batch's feed. */
  def streamingValueViewMaintain(
      feed: Dataset[(String, Long, Long, Option[Long])],
      base: Dataset[(Long, Long, Long, Long)]): Dataset[ValueViewRow] = {
    import feed.sparkSession.implicits._
    val init = base.groupByKey(_._1)
      .mapValues(r => (r._2, r._3, r._4, 0L))
    feed.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout, init) {
        (u: Long, it: Iterator[(String, Long, Long, Option[Long])],
         st: GroupState[(Long, Long, Long, Long)]) =>
          if (it.isEmpty) Iterator.empty // bootstrap-only invocation
          else {
            var (n, wc, wm, seq) = st.getOption.getOrElse((0L, 0L, 0L, 0L))
            it.foreach { case (op, _, _, w) =>
              val sign = op match {
                case "insert" | "update_postimage" => 1L
                case "delete" | "update_preimage" => -1L
                case other => throw new IllegalArgumentException(
                  s"streamingValueViewMaintain: unknown op '$other' " +
                    "(expected insert/delete/update_preimage/" +
                    "update_postimage)")
              }
              n += sign
              w.foreach { v => wc += sign; wm += sign * v }
            }
            seq += 1
            st.update((n, wc, wm, seq))
            Iterator.single(ValueViewRow(u, n, wc, wm, seq))
          }
      }
  }

  /** Streaming exact dedup — the ingest twin of [[graft.llm.Dedup.exact]]
    * for a corpus arriving as a stream: keyed state per content hash;
    * each DISTINCT content emits exactly one (hash, id) row, in the
    * micro-batch where it first arrives, with id = the minimum among
    * that batch's copies (deterministic under any partitioning — the
    * group iterator sees every same-batch copy). Later arrivals are
    * absorbed silently. 100 TB shape: state is one boolean per distinct
    * content hash, sharded by the keyed state store across executors;
    * the only exchange is the groupByKey hash shuffle. */
  def streamingExactDedup(rows: Dataset[(String, Long)])
      : Dataset[(String, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (hash: String, it: Iterator[(String, Long)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((hash, it.map(_._2).min))
          }
      }
  }

  /** Streaming near-dup dedup, phase 1 — minhash-band keyed state: input
    * rows are (bucketKey, docId) — each document fans out to its 4 LSH
    * band buckets ([[graft.llm.Dedup.bandBucketKeysSql]], a map-only
    * per-row expression) — and the state store holds one boolean per
    * DISTINCT band bucket ever seen. For every input row the operator
    * emits (docId, seen): whether that bucket was already registered by
    * an earlier document — earlier batch via state, or same batch with a
    * smaller id via the sorted group iterator. EVERY document registers
    * its buckets, kept or not, which is what makes the semantics
    * batch-boundary-free: a document's fate depends only on documents
    * before it in global id order, so the 4-batch streaming run equals
    * the one-shot batch query ("kept iff no earlier doc shares a
    * bucket") — a plain self-join in SQL, the oracle of q106. The
    * per-document AND over its 4 flags is sink-side ([[graft.ops
    * .StreamQueries]] q106's finish): a second keyed-state pass over
    * docId inside the same streaming query would chain two
    * flatMapGroupsWithState operators, which append mode does not
    * support. 100 TB shape: state is one boolean per distinct bucket
    * (≤4 per distinct content), sharded across executors by the keyed
    * store; the only exchange is the groupByKey hash shuffle. */
  def streamingNearDupFlags(rows: Dataset[(String, Long)])
      : Dataset[(Long, Boolean)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[(String, Long)],
         state: GroupState[Boolean]) =>
          val ids = it.map(_._2).toArray.sorted
          val seenBefore = state.exists
          state.update(true)
          ids.iterator.zipWithIndex.map { case (id, k) =>
            (id, seenBefore || k > 0)
          }
      }
  }

  /** Streaming inverted-index ingest — the WRITE path of the keyword
    * retrieval stack ([[graft.llm.Keyword.postings]]) for a corpus
    * arriving as a stream. Input rows are (token, doc_id) OCCURRENCES —
    * a map-only explode of each arriving document (no pre-aggregation:
    * append mode disallows an aggregate upstream of keyed state).
    * Keyed state per token is ONE long — the running document
    * frequency. Each batch's group iterator holds every occurrence of
    * its token in that batch; the operator collapses them to per-doc tf
    * in memory (bounded by the trigger size, the centroid-fold
    * discipline), bumps df by the batch's new-doc count, and emits
    * `(token, doc_id, tf, df_seen)` with df_seen = the index's df AFTER
    * this batch — the live statistic an online BM25/rarity ranker
    * reads. A document arrives whole in one micro-batch, so the emitted
    * tf is the document's global tf; df_seen is batch-granular by
    * design and the ascending-split harness makes it the
    * tiles-≤-mine count the oracle replays with one NTILE window.
    * 100 TB shape: state is 8 bytes per distinct token; the only
    * exchange is the groupByKey hash shuffle — the same key the batch
    * postings build aggregates on. */
  def streamingPostingsIngest(rows: Dataset[(String, Long)])
      : Dataset[(String, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (token: String, it: Iterator[(String, Long)],
         state: GroupState[Long]) =>
          val tf = scala.collection.mutable.LongMap.empty[Long]
          it.foreach { case (_, id) => tf(id) = tf.getOrElse(id, 0L) + 1L }
          val df = state.getOption.getOrElse(0L) + tf.size
          state.update(df)
          tf.toArray.sortBy(_._1).iterator
            .map { case (id, n) => (token, id, n, df) }
      }
  }

  /** Streaming sequence packing — the ingest twin of
    * [[graft.llm.Corpus.packSequences]]: documents arriving as a stream
    * are assigned their training pack ONLINE. Keyed state per shard is
    * ONE long (the cumulative token count); each arriving doc reads the
    * running prefix, advances it, and emits
    * `(shard, id, prefix_tokens, pack_id = prefix DIV budget)`.
    * In-batch rows are processed in id order (the group iterator is
    * sorted in memory — a micro-batch's per-shard slice is bounded by
    * the trigger, the same discipline as the centroid fold), so when
    * arrival order is id order per shard — the q101/q106 ascending-split
    * harness contract — the streamed assignment equals the batch
    * window's exactly and q93's SQL is the oracle. 100 TB shape: state
    * is 8 bytes per shard; the only exchange is the groupByKey hash
    * shuffle, the same key the batch packer windows by. */
  def streamingPackSequences(rows: Dataset[(String, Long, Long)],
      budget: Long): Dataset[(String, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    require(budget > 0, s"pack budget must be positive, got $budget")
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (shard: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var prefix = state.getOption.getOrElse(0L)
          val out = it.toArray.sortBy(_._2).map { case (_, id, n) =>
            val p = prefix
            prefix += n
            // Long / is floor for the non-negative sums involved = DIV;
            // n rides along so the sink needs no second pass to recover
            // per-doc token counts
            (shard, id, n, p, p / budget)
          }
          state.update(prefix)
          out.iterator
      }
  }

  /** Streaming per-source document caps — the ingest twin of
    * [[graft.llm.Corpus.sourceCap]] for the ARRIVAL-ORDER policy:
    * admit the first `cap` docs per source as they arrive (the online
    * guard a crawler front-end actually runs — hash-priority selection
    * needs the whole corpus in hand; an ingest gate can only rank by
    * arrival). Keyed state per source is ONE long (docs seen);
    * in-batch rows are processed in id order (bounded in-memory sort
    * per micro-batch group — the streamingPackSequences discipline),
    * so under the ascending-split harness contract arrival order IS id
    * order and `ROW_NUMBER() OVER (PARTITION BY source ORDER BY
    * doc_id)` replays the streamed ranks exactly. 100 TB shape: 8
    * bytes per distinct source; one groupByKey hash exchange — the
    * same key the batch window partitions by. */
  def streamSourceCap(rows: Dataset[(String, Long)], cap: Int)
      : Dataset[(String, Long, Long, Int)] = {
    import rows.sparkSession.implicits._
    require(cap >= 1, s"cap must be positive, got $cap")
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[(String, Long)],
         state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val out = it.map(_._2).toArray.sorted.map { id =>
            seen += 1L
            (source, id, seen, if (seen <= cap) 1 else 0)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming per-source corpus statistics — the live ingest monitor
    * (the q169 drift report's ONLINE half): after every micro-batch,
    * each source that received documents emits its updated running
    * (docs_seen, tokens_seen) totals from 16 bytes of keyed state.
    * This is the signal an ingest operator watches to catch drift AS
    * IT HAPPENS — a source going quiet or ballooning mid-crawl —
    * rather than at the next release diff. Emission is one row per
    * (source, batch); under the ascending-split harness the replay is
    * a per-source cumulative sum over NTILE groups (the q146 df_seen
    * pattern). */
  def streamSourceStats(rows: Dataset[(String, Long)])
      : Dataset[(String, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (source: String, it: Iterator[(String, Long)],
         state: GroupState[(Long, Long)]) =>
          var (d, tk) = state.getOption.getOrElse((0L, 0L))
          it.foreach { case (_, n) => d += 1L; tk += n }
          state.update((d, tk))
          Iterator.single((source, d, tk))
      }
  }

  /** Streaming shingle-novelty monitor — the crawl-freshness signal an
    * ingest pipeline watches: per micro-batch, how much of the arriving
    * k-gram content has never been seen before. Input rows are
    * `(shingle, doc_id)` occurrences (a map-only per-doc distinct-
    * shingle explode); keyed state is one boolean per DISTINCT shingle
    * ever seen (the q106/q110 distinct-bounded state argument). Each
    * batch a present shingle emits exactly ONE row
    * `(shingle, is_new, min_doc_id_in_batch)` — is_new from the state,
    * the min id so the sink can place the row in its batch under the
    * ascending-split harness (the replay: first-tile-of-shingle over
    * NTILE groups). A novelty rate falling toward zero means the crawl
    * is re-fetching known content — the spend-stop signal; a rate
    * pinned at 10000 bp after dedup should alarm too (the dedup is
    * broken). 100 TB shape: 1 bit of state per distinct shingle,
    * sharded by the keyed store; one groupByKey exchange. */
  def streamingShingleNovelty(rows: Dataset[(String, Long)])
      : Dataset[(String, Boolean, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (sh: String, it: Iterator[(String, Long)],
         state: GroupState[Boolean]) =>
          val minId = it.map(_._2).min
          val isNew = !state.exists
          state.update(true)
          Iterator.single((sh, isNew, minId))
      }
  }

  /** Streaming count–min sketch ingest — [[graft.llm.Sketch]] kept live
    * across micro-batches: input rows are `(cellKey, doc_id)` where
    * cellKey encodes the (row, cell) a token instance lands in (the
    * map-only d-fold fan-out of [[graft.llm.Sketch.cmsCell]]); keyed
    * state is ONE long per touched cell — the running count, i.e. the
    * sketch itself, sharded across executors by the keyed store. After
    * each batch every touched cell emits `(cellKey, cnt_seen,
    * min_doc_id_in_batch)` — the post-batch cell value a monitoring
    * tick reads, placed in its batch by the min id under the
    * ascending-split harness. This is the mergeability property of the
    * CMS made operational: the state update IS the cell-wise sum, so
    * the streamed sketch equals the batch-built sketch at every
    * prefix. State is bounded by depth×width (256 cells here) no
    * matter how much data arrives — the whole point of a sketch. */
  def streamingCmsIngest(rows: Dataset[(String, Long)])
      : Dataset[(String, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long)],
         state: GroupState[Long]) =>
          var n = 0L
          var minId = Long.MaxValue
          it.foreach { case (_, id) =>
            n += 1L
            if (id < minId) minId = id
          }
          val total = state.getOption.getOrElse(0L) + n
          state.update(total)
          Iterator.single((key, total, minId))
      }
  }

  /** Streaming KMV distinct-sketch ingest — q228's corpus-overlap
    * summaries kept live: input rows are `(source, digest, doc_id)`
    * (the 60-bit md5 shingle digests, pre-collapsed per batch); keyed
    * state is the ascending distinct k-minimum array per source — the
    * KMV sketch itself, k longs no matter how much data arrives. The
    * state update IS [[graft.functions.MinKAgg]]'s merge (k smallest
    * of the union), so the streamed sketch equals the batch-built one
    * at every prefix — the mergeability property made operational,
    * the q179 CMS / q190 quantile convention. After each batch every
    * touched source emits `(source, ku, theta, sum_mod, min_doc_id)`:
    * cardinality of the sketch, its largest retained digest (θ_k, the
    * estimator's denominator) and an order-free mod-1e9+7 checksum
    * over the retained digests — three numbers that pin the ENTIRE
    * sketch for the oracle without shipping k columns.
    *
    * Shuffle shape: the raw digest stream never reaches the state
    * exchange — a `mapPartitions` MAP-SIDE COMBINE folds each
    * partition into one bounded [[graft.functions.MinKAgg.MinKBuf]]
    * per touched source (k longs + the partition-min id), so the
    * keyed-state shuffle carries ≤ k candidates per (partition,
    * source) instead of every shingle instance. Sound because KMV
    * merge is associative over partial k-minimum sets — the same
    * argument as the Aggregator's partial/final split. Measured at the
    * ×100 decade: the raw-shuffle formulation spent 196 s pushing
    * 300 M rows through the state store; the combine makes the
    * exchange candidate-sized. */
  def streamingKmvIngest(rows: Dataset[(String, Long, Long)], k: Int)
      : Dataset[(String, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    val agg = new graft.functions.MinKAgg.MinK(k)
    val combined = rows.mapPartitions { it =>
      val bufs = scala.collection.mutable.HashMap
        .empty[String, (graft.functions.MinKAgg.MinKBuf, Long)]
      it.foreach { case (src, v, id) =>
        val (buf, mn) = bufs.getOrElseUpdate(src,
          (new graft.functions.MinKAgg.MinKBuf(k), Long.MaxValue))
        buf.add(v)
        if (id < mn) bufs(src) = (buf, id)
      }
      bufs.iterator.flatMap { case (src, (buf, mn)) =>
        buf.items.iterator.map(v => (src, v, mn))
      }
    }
    combined.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[(String, Long, Long)],
         state: GroupState[Seq[Long]]) =>
          var minId = Long.MaxValue
          var batch = agg.zero
          it.foreach { case (_, v, id) =>
            batch = agg.reduce(batch, v)
            if (id < minId) minId = id
          }
          val merged = agg.merge(graft.functions.MinKAgg.MinKList(
            state.getOption.getOrElse(Vector.empty)), batch)
          state.update(merged.items)
          val sumMod = merged.items.map(_ % 1000000007L).sum
          Iterator.single((src, merged.items.length.toLong,
            merged.items.last, sumMod, minId))
      }
  }

  /** Streaming zone-map maintenance — the [[graft.llm.Layout]] footer
    * stats kept live as an append-only ingest rolls files: input rows
    * are `(file_id, user_id, us, event_id)` (file_id = the writer's
    * rollover key, e.g. `event_id DIV rowsPerFile`); keyed state is
    * the file's running `(n, min_user, max_user, min_us, max_us)` —
    * the zone map itself, five longs per OPEN file, sharded by the
    * keyed store. After each batch every touched file emits its
    * post-batch zone map plus the batch's min event_id (placement
    * under the ascending-split harness, the q179/q190 convention) —
    * the live feed a pruning reader's metadata cache and q207's
    * re-clustering monitor both tail. The state update is
    * min/max/sum — associative and order-free, so the streamed zone
    * map equals the batch-computed one at every prefix, which is
    * exactly what the oracle replays. State is bounded by the number
    * of files, never by rows. */
  def streamingZoneMapIngest(rows: Dataset[(Long, Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (fileId: Long, it: Iterator[(Long, Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var n = 0L
          var minU = Long.MaxValue; var maxU = Long.MinValue
          var minT = Long.MaxValue; var maxT = Long.MinValue
          var minId = Long.MaxValue
          it.foreach { case (_, u, t, id) =>
            n += 1L
            if (u < minU) minU = u
            if (u > maxU) maxU = u
            if (t < minT) minT = t
            if (t > maxT) maxT = t
            if (id < minId) minId = id
          }
          val prev = state.getOption.getOrElse(
            (0L, Long.MaxValue, Long.MinValue, Long.MaxValue,
              Long.MinValue))
          val next = (prev._1 + n, math.min(prev._2, minU),
            math.max(prev._3, maxU), math.min(prev._4, minT),
            math.max(prev._5, maxT))
          state.update(next)
          Iterator.single((fileId, next._1, next._2, next._3, next._4,
            next._5, minId))
      }
  }

  /** Streaming funnel state — q215's strictly-ordered
    * view → click → purchase funnel kept live per user: input rows are
    * `(user_id, event_type, us, event_id)`; keyed state is the three
    * stage timestamps (−1 = not reached). Each batch's events fold in
    * (us, event_id) order — arrival is per-user time-ordered under an
    * event-time-ordered source, so the 3-timestamp state IS the full
    * prefix funnel (a first view pins the click window forever; no
    * later arrival can reopen it — the property that makes the state
    * O(1) instead of event-history-sized). After each batch every
    * touched user emits `(user_id, stage_reached, min_event_id)` —
    * the live funnel dashboard feed, placed in its batch by the min
    * id under the ascending-split harness. `windowUs` is the per-stage
    * conversion window (q215's 24 h).
    *
    * Memory note: one (user, batch) group's events materialize for the
    * in-batch sort — bounded by a single user's arrivals per
    * micro-batch, not by history. A production source that delivers
    * per-key time-ordered partitions lets the sort collapse to a pass;
    * either way the STATE stays five longs.
    *
    * Ordering guard (r11 advice): the 3-timestamp fold is only the
    * full prefix funnel when arrivals are per-user time-ordered ACROSS
    * batches (a click landing in an earlier batch than a
    * later-timestamped view would never be reconsidered). The state
    * carries the last folded (us, event_id); a batch whose earliest
    * event precedes it throws instead of silently drifting from the
    * batch recompute. */
  def streamingFunnelIngest(rows: Dataset[(Long, String, Long, Long)],
      windowUs: Long): Dataset[(Long, Int, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, String, Long, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (tv, tc, tb, lastUs, lastId) = state.getOption
            .getOrElse((-1L, -1L, -1L, Long.MinValue, Long.MinValue))
          var minId = Long.MaxValue
          it.toSeq.sortBy(e => (e._3, e._4)).foreach {
            case (_, tpe, us, id) =>
              if (us < lastUs || (us == lastUs && id <= lastId))
                throw new IllegalStateException(
                  s"funnel ingest for user $user saw time-regressed " +
                    s"arrival (us=$us, id=$id) after folding " +
                    s"(us=$lastUs, id=$lastId) — the source is not " +
                    "per-user time-ordered; the 3-timestamp state no " +
                    "longer equals the prefix funnel")
              lastUs = us; lastId = id
              if (id < minId) minId = id
              if (tpe == "view" && tv < 0) tv = us
              else if (tpe == "click" && tc < 0 && tv >= 0 &&
                us > tv && us <= tv + windowUs) tc = us
              else if (tpe == "purchase" && tb < 0 && tc >= 0 &&
                us > tc && us <= tc + windowUs) tb = us
          }
          state.update((tv, tc, tb, lastUs, lastId))
          val stage = if (tb >= 0) 3 else if (tc >= 0) 2
            else if (tv >= 0) 1 else 0
          Iterator.single((user, stage, minId))
      }
  }

  /** Streaming coverage monitor — the k-center anchor set
    * ([[graft.llm.Select.kCenterGreedy]]) kept live against arriving
    * vectors: input rows are `(center_id, dist_fp, vec_id)` (the
    * map-only [[graft.llm.Select.nearestCenter]] assignment runs in
    * the source select, so only k-bounded keys reach the state store);
    * keyed state is `(n_seen, max_dist_fp)` per center. After each
    * batch every touched center emits its cumulative covered count,
    * cumulative worst in-cell distance, and the batch's min vec id
    * (ascending-split placement). A rising `max_dist_fp` is the
    * embedding-drift alarm: new data is landing farther from every
    * anchor than the release the anchors were selected on. State is
    * bounded at k cells no matter the arrival volume. */
  def streamingCoverageMonitor(rows: Dataset[(Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (cid: Long, it: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var n = 0L
          var mx = Long.MinValue
          var minId = Long.MaxValue
          it.foreach { case (_, d, id) =>
            n += 1L
            if (d > mx) mx = d
            if (id < minId) minId = id
          }
          val (pn, pm) = state.getOption.getOrElse((0L, Long.MinValue))
          val total = (pn + n, math.max(pm, mx))
          state.update(total)
          Iterator.single((cid, total._1, total._2, minId))
      }
  }

  /** §3.1 as a streaming pipeline: each micro-batch runs the incremental
    * batch's scoring step ([[Enrich.logColumns]], then [[Enrich.score]])
    * into an idempotent (anti-join) sink — the A5 `ON CONFLICT DO
    * NOTHING` analog. Runs with AvailableNow so callers can await
    * completion. */
  def enrichmentPipeline(spark: SparkSession, sfDir: String, sinkDir: String,
      checkpointDir: String, model: DenStream.Model,
      centroids: Array[Centroids.Centroid]): Unit = {
    val stream = eventsStream(spark, sfDir)
    val q = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val enriched = Enrich.score(Enrich.logColumns(batch), model,
            centroids)
          .drop("embedding")
        // idempotent append: drop rows whose log_id already reached the
        // sink. Only a genuinely absent sink counts as empty — any other
        // read failure must propagate, or replays would silently write
        // duplicates (the exact bug the anti-join exists to prevent)
        val fresh =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(sinkDir))) {
            val existing = batch.sparkSession.read.parquet(sinkDir)
              .select("log_id")
            enriched.join(existing, Seq("log_id"), "left_anti")
          } else enriched
        fresh.write.mode("append").parquet(sinkDir)
        ()
      }
      .start()
    q.awaitTermination()
  }
}
