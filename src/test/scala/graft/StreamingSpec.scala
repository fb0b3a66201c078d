package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Enrich
import graft.streaming.StreamOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("streaming tumbling volume equals the batch aggregation") {
    import spark.implicits._
    val agg = StreamOps.tumblingVolume(StreamOps.eventsStream(spark, sf))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("vol")
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vol")
      .select(unix_micros($"window_start").as("ws"), $"event_type", $"cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.ops.Tables.events(spark, sf)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros($"w.start"), $"event_type", $"cnt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("stateful semantic grouping carries centroids across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val out = StreamOps.statefulSemanticGroups(input.toDS(), threshold = 0.5)
    val q = out.writeStream
      .outputMode("update")
      .format("memory").queryName("sem")
      .start()
    val v1 = Array(1f, 0f, 0f)
    val near = Array(0.95f, 0.05f, 0f)
    val far = Array(0f, 1f, 0f)
    input.addData((1L, v1), (2L, far))
    q.processAllAvailable()
    input.addData((3L, near)) // second micro-batch: must join sem_grp_1
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sem").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "sem_grp_1")
    assert(got(2L) == "sem_grp_2")
    assert(got(3L) == "sem_grp_1", s"state not carried: $got")
  }

  test("the 4-trigger streaming fold equals foldAssignWith over the " +
      "id-ordered input") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = (1L to 40L).map(i => i -> Array(math.sin(i.toDouble).toFloat,
      math.cos(2.0 * i).toFloat, (i % 5) / 5f))
    val expected = graft.ml.Centroids.foldAssignWith(rows.iterator,
      threshold = 0.8, graft.ml.Distance.minkowskiS(_, _, 1.5))._2.toMap
    // the fold both joins and founds across the input
    assert(expected.values.toSet.size > 1 && expected.values.toSet.size < 40)
    val input = MemoryStream[(Long, Array[Float])]
    val out = StreamOps.statefulSemanticGroups(input.toDS(), threshold = 0.8)
    val q = out.writeStream
      .outputMode("update")
      .format("memory").queryName("sem_fold")
      .start()
    // four ascending id ranges, each arriving in reverse id order
    rows.grouped(10).foreach { batch =>
      input.addData(batch.reverse: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("sem_fold").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.catalog.dropTempView("sem_fold")
    assert(got == expected)
  }

  test("streaming exact dedup suppresses later-batch copies and emits " +
      "the batch-min id once per content") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = StreamOps.streamingExactDedup(input.toDS())
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_stream")
      .start()
    // batch 1: content "a" arrives twice (ids 7, 3) and "b" once
    input.addData(("a", 7L), ("a", 3L), ("b", 10L))
    q.processAllAvailable()
    // batch 2: "a" again (must be suppressed by state), "c" new
    input.addData(("a", 1L), ("c", 20L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.dropTempView("dedup_stream")
    // exactly one row per content; "a" keeps its FIRST-batch min (3, not
    // the globally smaller 1 that arrived late — first-arrival semantics)
    assert(got == Map("a" -> 3L, "b" -> 10L, "c" -> 20L), got.toString)
  }

  test("streaming quantile-sketch cells accumulate across micro-batches " +
      "(q190: histogram ingest = CMS ingest with semantic cells)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = StreamOps.streamingCmsIngest(input.toDS())
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("qsketch_stream")
      .start()
    // batch 1: three docs in web|120, one in wiki|45
    input.addData(("web|120", 5L), ("web|120", 2L), ("web|120", 9L),
      ("wiki|45", 7L))
    q.processAllAvailable()
    // batch 2: web|120 grows by 2 (cumulative 5), a NEW cell web|99
    input.addData(("web|120", 11L), ("web|120", 13L), ("web|99", 1L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("qsketch_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    spark.catalog.dropTempView("qsketch_stream")
    // per batch, each TOUCHED cell emits its post-batch running count
    // with the batch-min id; untouched cells (wiki|45 in batch 2) stay
    // silent — the emitted sequence is the batch-built sketch at every
    // prefix (mergeability made operational)
    assert(got.toSet == Set(("web|120", 3L, 2L), ("wiki|45", 1L, 7L),
      ("web|120", 5L, 11L), ("web|99", 1L, 1L)), got.toSeq.toString)
  }

  test("streaming coverage monitor accumulates count and worst distance " +
      "per anchor across micro-batches (q203)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val out = StreamOps.streamingCoverageMonitor(input.toDS())
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("coverage_stream")
      .start()
    // batch 1: two arrivals in anchor 0's cell, one in anchor 3's
    input.addData((0L, 100L, 11L), (0L, 900L, 12L), (3L, 50L, 13L))
    q.processAllAvailable()
    // batch 2: anchor 0 grows but with a CLOSER vector (max stays 900);
    // anchor 3 drifts (max jumps to 5000); anchor 1 appears
    input.addData((0L, 400L, 14L), (3L, 5000L, 15L), (1L, 7L, 16L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("coverage_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.catalog.dropTempView("coverage_stream")
    // cumulative count AND cumulative max per touched anchor; silent
    // anchors emit nothing
    assert(got.toSet == Set((0L, 2L, 900L, 11L), (3L, 1L, 50L, 13L),
      (0L, 3L, 900L, 14L), (3L, 2L, 5000L, 15L), (1L, 1L, 7L, 16L)),
      got.toSeq.toString)
  }

  test("streaming funnel folds in order and raises on a time-regressed " +
      "arrival instead of drifting (r11 advice guard)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long)]
    val out = StreamOps.streamingFunnelIngest(input.toDS(),
      windowUs = 1000L)
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("funnel_guard_stream")
      .start()
    try {
      // batch 1: user 7 views at t=100, clicks at t=200 → stage 2
      input.addData((7L, "view", 100L, 1L), (7L, "click", 200L, 2L))
      q.processAllAvailable()
      val got = spark.table("funnel_guard_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(got.toSet == Set((7L, 2)), got.toSeq.toString)
      // batch 2: an arrival BEFORE the folded frontier (t=150 < 200)
      // must fail the query loudly — the state can no longer equal the
      // prefix recompute once time regresses across batches
      input.addData((7L, "purchase", 150L, 3L))
      val err = intercept[Exception] { q.processAllAvailable() }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      assert(causes(err).exists(t =>
        t.getMessage != null && t.getMessage.contains("time-regressed")),
        s"expected the order guard, got: $err")
    } finally {
      try q.stop() catch { case _: Exception => () }
      spark.catalog.dropTempView("funnel_guard_stream")
    }
  }

  test("streaming sequence packing carries the running token count " +
      "across micro-batches and sorts within a batch by id") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val out = StreamOps.streamingPackSequences(input.toDS(), budget = 10L)
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("pack_stream")
      .start()
    // batch 1 arrives OUT of id order: ids 2 (4 tokens) then 1 (3 tokens)
    // — the operator must process 1 first (prefix 0) then 2 (prefix 3)
    input.addData(("s", 2L, 4L), ("s", 1L, 3L))
    q.processAllAvailable()
    // batch 2: id 3 (5 tokens) must see prefix 7 from STATE → pack 0;
    // id 4 (1 token) starts at 12 → pack 1; other shard starts at 0
    input.addData(("s", 3L, 5L), ("s", 4L, 1L), ("t", 9L, 2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pack_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(4))).toMap
    spark.catalog.dropTempView("pack_stream")
    assert(got == Map(
      ("s", 1L) -> (0L, 0L), ("s", 2L) -> (3L, 0L),
      ("s", 3L) -> (7L, 0L), ("s", 4L) -> (12L, 1L),
      ("t", 9L) -> (0L, 0L)), got.toString)
  }

  test("stateful semantic grouping with pluggable distance (q86's sqEuclid) " +
      "carries centroids across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    // integer geometry, threshold 4: sqd((3,0),(1,0)) = 4 is NOT a hit
    // (strict <), sqd((3,0),(2,0)) = 1 is
    val out = StreamOps.statefulSemanticGroupsWith(input.toDS(),
      threshold = 4.0, graft.ml.Distance.sqEuclideanS)
    val q = out.writeStream
      .outputMode("update")
      .format("memory").queryName("sem_sq")
      .start()
    input.addData((1L, Array(3f, 0f)), (2L, Array(10f, 0f)))
    q.processAllAvailable()
    input.addData((3L, Array(2f, 0f)), (4L, Array(1f, 0f)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sem_sq").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "sem_grp_1")
    assert(got(2L) == "sem_grp_2")
    assert(got(3L) == "sem_grp_1", s"state not carried: $got")
    // centroids never drift: (1,0) is sqd 4 from founder (3,0) — exactly
    // AT the threshold, so strict < makes it found a new group even
    // though it sits sqd 1 from the batch-2 member (2,0)
    assert(got(4L) == "sem_grp_4", s"strict-< boundary broken: $got")
  }

  test("streaming near-dup dedup suppresses later-batch bucket collisions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val buckets = input.toDS().toDF("doc_id", "text")
      .select(explode(
          graft.llm.Dedup.bandBucketKeysSql($"text")).as("_1"),
        $"doc_id".as("_2"))
      .as[(String, Long)]
    val out = StreamOps.streamingNearDupFlags(buckets)
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("neardup_stream")
      .start()
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // batch 1: doc 3 and its same-batch exact copy doc 7 (all four
    // buckets collide; smaller id wins), doc 5 distinct
    input.addData((3L, base), (7L, base),
      (5L, "completely different content with no shared shingles here"))
    q.processAllAvailable()
    // batch 2: doc 11 replays doc 3's content — every bucket is in
    // STATE from batch 1, so it must be suppressed across the batch
    // boundary; doc 13 is new and must survive
    input.addData((11L, base),
      (13L, "yet another unrelated document about streaming state stores"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("neardup_stream")
      .groupBy($"_1").agg(max($"_2").as("seen"))
      .filter(!$"seen").select($"_1").as[Long].collect().toSet
    spark.catalog.dropTempView("neardup_stream")
    assert(kept == Set(3L, 5L, 13L), s"kept=$kept")
  }

  test("stream-static decon joins arriving docs against the static " +
      "shingle set in every batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evalSh = Seq(("a b c d e f g h", 100L), ("p q r s t u v w", 101L))
      .toDF("text", "eval_doc")
      .select(explode(graft.llm.Corpus.shingles($"text", 8)).as("shingle"),
        $"eval_doc")
    val input = MemoryStream[(Long, String)]
    val hits = input.toDS().toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.llm.Corpus.shingles($"text", 8)).as("shingle"))
      .join(broadcast(evalSh), "shingle")
    val q = hits.writeStream
      .outputMode("append")
      .format("memory").queryName("decon_stream")
      .start()
    // batch 1: doc 1 contaminated (contains eval 100's 8-gram), doc 2 clean
    input.addData((1L, "x a b c d e f g h y"), (2L, "clean words only here"))
    q.processAllAvailable()
    // batch 2: the static side must still be joined — doc 3 hits eval 101
    input.addData((3L, "p q r s t u v w tail"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("decon_stream")
      .select($"doc_id", $"eval_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.dropTempView("decon_stream")
    assert(got == Set((1L, 100L), (3L, 101L)), got.toString)
  }

  test("streaming embedding dedup suppresses sign-band collisions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val buckets = input.toDS().toDF("vec_id", "embedding")
      .select(explode(graft.llm.Dedup.embeddingSignBandKeysSql(
          $"embedding", bands = 2, width = 3)).as("_1"),
        $"vec_id".as("_2"))
      .as[(String, Long)]
    val out = StreamOps.streamingNearDupFlags(buckets)
    val q = out.toDF().writeStream
      .outputMode("append")
      .format("memory").queryName("embdedup_stream")
      .start()
    // batch 1: vec 2 distinct; vec 4 will be replayed-sign in batch 2
    input.addData((2L, Seq(1.0, -1.0, 1.0, -1.0, -1.0, -1.0)),
      (4L, Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0)))
    q.processAllAvailable()
    // batch 2: vec 9's band 0 signs (+,+,+) match vec 4's band 0 from
    // STATE even though band 1 differs — one shared band suppresses;
    // vec 11 shares no band with anything and survives
    input.addData((9L, Seq(2.0, 3.0, 0.5, -1.0, 1.0, -1.0)),
      (11L, Seq(-1.0, -1.0, -1.0, -1.0, 1.0, 1.0)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("embdedup_stream")
      .groupBy($"_1").agg(max($"_2").as("seen"))
      .filter(!$"seen").select($"_1").as[Long].collect().toSet
    spark.catalog.dropTempView("embdedup_stream")
    assert(kept == Set(2L, 4L, 11L), s"kept=$kept")
  }

  test("streaming dropDuplicates suppresses replayed events (I2 dedup)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val deduped = input.toDS().toDF("event_id", "payload")
      .dropDuplicates("event_id")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_stream")
      .start()
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((1L, "a-replayed"), (3L, "c")) // 1 is a cross-batch dup
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L) == "a") // the first delivery won; replay suppressed
  }

  test("foreachBatch enrichment sink is idempotent (A5 upsert analog)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val model = Enrich.trainingBatch(spark, sf, limit = 500)((_, m) => m)
    val centroids = Array.empty[graft.ml.Centroids.Centroid]
    StreamOps.enrichmentPipeline(spark, sf, s"$tmp/sink", s"$tmp/cp1",
      model, centroids)
    val n1 = spark.read.parquet(s"$tmp/sink").count()
    assert(n1 > 0)
    // re-run with a FRESH checkpoint: the source re-delivers everything;
    // the anti-join sink must not duplicate
    StreamOps.enrichmentPipeline(spark, sf, s"$tmp/sink", s"$tmp/cp2",
      model, centroids)
    val n2 = spark.read.parquet(s"$tmp/sink").count()
    assert(n2 == n1, s"sink not idempotent: $n1 -> $n2")
    // and log_ids are unique
    val distinct = spark.read.parquet(s"$tmp/sink")
      .select("log_id").distinct().count()
    assert(distinct == n1)
  }

  test("growing one-hot widens the vector when a new category arrives") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-onehot-state").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-onehot-out").toString + "/enc"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.GrowingOneHot.run(
      input.toDS().toDF("id", "cat"), "cat", root, out)
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((3L, "c"), (4L, "a"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select($"id", $"onehot").as[(Long, String)].collect().toMap
    // batch 1: dictionary {a→0, b→1}, width 2
    assert(got(1L) == "[1,0]" && got(2L) == "[0,1]")
    // batch 2: c arrives → dictionary grows to width 3; a's index is
    // STABLE (river semantics: existing columns never move)
    assert(got(3L) == "[0,0,1]", s"new category: ${got(3L)}")
    assert(got(4L) == "[1,0,0]", s"stable index: ${got(4L)}")
    // state table survives for the next stream incarnation
    val dict = graft.streaming.GrowingOneHot.loadDict(spark, root)
    assert(dict == Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("growing one-hot keeps rows from a batch with no known categories") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-onehot-null").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-onehot-nullout").toString + "/enc"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.GrowingOneHot.run(
      input.toDS().toDF("id", "cat"), "cat", root, out)
    // all-null first batch: dictionary stays empty, rows must still land
    // in the sink (zero-width vector), not silently vanish
    input.addData((1L, null: String), (2L, null: String))
    q.processAllAvailable()
    input.addData((3L, "a"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select($"id", $"onehot").as[(Long, String)].collect().toMap
    assert(got(1L) == "[]" && got(2L) == "[]")
    assert(got(3L) == "[1]")
  }

  test("streamed IVF-SQ index serves identically to the batch-built one") {
    // q114's gate restated locally: ingesting the corpus through the
    // 4-micro-batch map-only assign+quantize pass must yield an index
    // whose quantized search is ROW-IDENTICAL to q112's batch build —
    // i.e. the index content is independent of how it arrived
    val streamed = graft.ops.StreamQueries
      .q114StreamIvfIngest(spark, sf).collect().toSeq
    val batch = graft.ops.LlmQueries
      .q112IvfSqKnn(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streamed affinity packing equals the batch capstone (q234 = q232): " +
      "per-cluster token state carries across micro-batches") {
    // the q120 cross-batch argument applied per CLUSTER: ascending
    // doc_id splits + in-batch id sort make the online prefix sums
    // equal q232's per-cluster batch window exactly — a doc in batch 4
    // must see the running token count its cluster accumulated in
    // batches 1-3, so any state loss shifts pack_id and fails here
    val streamed = graft.ops.StreamQueries
      .q234StreamAffinityPack(spark, sf).collect().toSeq
    val batch = graft.ops.LlmQueries
      .q232AffinityPack(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // cross-batch reach: at least one cluster spans several packs, so
    // the running count demonstrably crossed the 512 budget mid-stream
    val packsPerCluster = streamed.groupBy(_.getInt(1))
      .map { case (_, rs) => rs.map(_.getLong(3)).distinct.size }
    assert(packsPerCluster.exists(_ > 1), packsPerCluster.toString)
  }

  test("fixture cache keys separate same-shaped frames from different " +
      "data dirs (the r15 flake: canonicalized plans drop scan paths)") {
    def feed(d: String) = graft.ops.Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val k1 = graft.util.Fixtures.planKey(feed("/root/testdata/sf0.001"))
    val k2 = graft.util.Fixtures.planKey(feed("/root/testdata/sf0.01"))
    assert(k1 != k2, "same-shaped frames over different dirs must not " +
      "share a fixture cache key")
    // the canonical-string PREFIX alone is what used to collide — pin
    // that the leaf identity is what separates them
    assert(k1.contains("sf0.001") && k2.contains("sf0.01"))
    // two checkpoints of the same frame are distinct inputs (fresh RDD)
    val c1 = graft.util.Fixtures.planKey(
      feed("/root/testdata/sf0.001").localCheckpoint())
    val c2 = graft.util.Fixtures.planKey(
      feed("/root/testdata/sf0.001").localCheckpoint())
    assert(c1 != c2)
  }

  test("q239 live planner: prefix stats are monotone, decisions match " +
      "the threshold, and the decision flips mid-stream on the halved " +
      "fixture") {
    import org.apache.spark.sql.Row
    def byPair(rows: Array[Row]) = rows.groupBy(_.getString(1)).view
      .mapValues(_.sortBy(_.getLong(0))).toMap
    // every emitted decision is the q230 threshold applied to the
    // emitted prefix masses; masses and estimates grow monotonically
    // with the prefix (state never loses mass across batches)
    def check(rows: Array[Row]): Unit = byPair(rows).foreach {
      case (p, rs) =>
        assert(rs.length == 4, p)
        rs.foreach { r =>
          val dec = if (math.min(r.getLong(2), r.getLong(3)) <= 500)
            "broadcast" else "shuffle"
          assert(r.getString(5) == dec, s"$p: $r") }
        Seq[Row => Long](_.getLong(2), _.getLong(3), _.getLong(4))
          .foreach { f =>
            val v = rs.map(f).toSeq
            assert(v == v.sorted, s"$p not monotone: $v") }
    }
    val natural = graft.ops.StreamQueries
      .q239StreamPlanner(spark, "/root/testdata/sf0.01").collect()
    check(natural)
    // halved stream: clicks/purchases ~1000 events each, so the prefix
    // crosses the 500-row broadcast threshold MID-STREAM — the same
    // query must emit broadcast early and shuffle late for the big pair
    val twin = graft.util.Fs.tempRoot("graft_q239_spec").toString
    graft.ops.Tables.events(spark, "/root/testdata/sf0.01")
      .filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$twin/events.parquet")
    val halved = graft.ops.StreamQueries.q239StreamPlanner(spark, twin)
      .collect()
    check(halved)
    val cp = byPair(halved)("clicks_purchases").map(_.getString(5))
    assert(cp.head == "broadcast" && cp.last == "shuffle",
      s"no mid-stream flip: ${cp.toSeq}")
  }

  test("q242 streamed merge serves identically to the q240 batch merge " +
      "(4 chained copy-on-write commits = one single-shot upsert)") {
    // the q114/q120 twin discipline applied to storage: the same delta
    // applied as 4 per-micro-batch commits must leave a store whose
    // per-file aggregates equal the batch merge's exactly — a
    // re-delivery duplicated across commits, or an insert lost to a
    // later commit's rewrite of a shared file, fails here
    val streamed = graft.ops.StreamQueries
      .q242StreamUpsert(spark, sf).collect().toSeq
    val batch = graft.ops.LlmQueries
      .q240StoredUpsert(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q247 streamed view maintenance equals the q244 batch fold, and " +
      "the bootstrapped state evolves across batches") {
    import spark.implicits._
    // twin gate: the batch-seeded stream must serve the same changed
    // rows + totals as the single-shot maintenance
    val streamed = graft.ops.StreamQueries
      .q247StreamView(spark, sf).collect().toSeq
    val batch = graft.ops.LlmQueries
      .q244IncrementalView(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
    // cross-batch state: drive the operator directly in batch mode over
    // a 2-step fold — the seeded base must be visible to step 1, and
    // step 2 must fold ON TOP of step 1's state, not the seed
    val base = Seq((5L, 2L, 30L)).toDS() // user 5: n=2, mass=30
    val feed = Seq(("insert", 100L, 5L), ("delete", 10L, 5L),
      ("insert", 200L, 5L)).toDS()
    val out = graft.streaming.StreamOps
      .streamingViewMaintain(feed, base).collect()
    // one batch = one emission folding all three deltas onto the seed
    assert(out.length == 1)
    assert(out.head.n_events == 3L && out.head.e_mass == 320L,
      out.head.toString)
    // a user with NO seed starts from zero (late-created group)
    val out2 = graft.streaming.StreamOps.streamingViewMaintain(
      Seq(("insert", 7L, 9L)).toDS(), base).collect()
      .filter(_.user_id == 9L)
    assert(out2.length == 1 && out2.head.n_events == 1L &&
      out2.head.e_mass == 7L)
  }

  test("streaming value-view maintenance (update arm): cross-batch CDF " +
      "fold over a seeded base converges to the batch recompute, " +
      "including update images split across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // seeded base: user 5 has 2 rows, one carrying value 30
    val base = Seq((5L, 2L, 1L, 30L)).toDS()
    val input = MemoryStream[(String, Long, Long, Option[Long])]
    val out = graft.streaming.StreamOps
      .streamingValueViewMaintain(input.toDS(), base)
    val q = out.toDF().writeStream
      .outputMode("update")
      .format("memory").queryName("value_view_stream")
      .start()
    // batch 1: an insert for user 5 (value 7), a NEW user 9 (no value —
    // pre-evolution shape), and the PRE image of an update to user 5's
    // value-30 row (its post image arrives in batch 2 — the split case)
    input.addData(("insert", 100L, 5L, Some(7L)),
      ("insert", 101L, 9L, None),
      ("update_preimage", 50L, 5L, Some(30L)))
    q.processAllAvailable()
    // batch 2: the matching POST image (30 → 41), a paired same-batch
    // update for user 9 (None → 13: schema backfill), and a delete of
    // user 5's value-7 row
    input.addData(("update_postimage", 50L, 5L, Some(41L)),
      ("update_preimage", 101L, 9L, None),
      ("update_postimage", 101L, 9L, Some(13L)),
      ("delete", 100L, 5L, Some(7L)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("value_view_stream").collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    spark.catalog.dropTempView("value_view_stream")
    // mid-stream (seq=1), user 5 holds the torn-update intermediate:
    // seed(2,1,30) + insert(+1,+1,+7) + pre(−1,−1,−30) = (2,1,7);
    // final (seq=2) equals the from-scratch recompute — user 5's rows
    // are {valueless seed row, 50→41} → (2,1,41); user 9's {101→13} →
    // (1,1,13)
    assert(rows((5L, 1L)) == ((2L, 1L, 7L)), rows.toString)
    assert(rows((5L, 2L)) == ((2L, 1L, 41L)), rows.toString)
    assert(rows((9L, 1L)) == ((1L, 0L, 0L)), rows.toString)
    assert(rows((9L, 2L)) == ((1L, 1L, 13L)), rows.toString)
  }
}
