package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Multimodal, SimSearch, TextOps}

class LlmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("regex tokenizer: filtering semantics + zero-token chunk guard") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = Seq((1L, "a\t b\nc   d"), (2L, " \t\n ")).toDF("doc_id", "text")
    // regexTokens collapses whitespace runs and drops empties — the
    // space-split default would see glued/empty tokens here
    val n = df.orderBy($"doc_id")
      .select(size(TextOps.regexTokens($"text"))).collect().map(_.getInt(0))
    assert(n.toSeq == Seq(4, 0))
    val chunks = Corpus.chunkLongDocuments(
      df, "doc_id", "text", 3, TextOps.regexTokens)
    val byDoc = chunks.groupBy($"doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 tokens at budget 3 → 2 chunks; the all-whitespace doc has ZERO
    // tokens and must yield zero chunks (sequence would count down)
    assert(byDoc == Map(1L -> 2L), byDoc.toString)
    val t = chunks.filter($"doc_id" === 1 && $"chunk_id" === 0)
      .select($"chunk_text").head.getString(0)
    assert(t == "a b c") // chunk text re-joined with single spaces
    // the tok param reaches the k-gram/decon path too
    val g = df.filter($"doc_id" === 1)
      .select(Corpus.kGrams($"text", 2, TextOps.regexTokens)).head.getSeq[String](0)
    assert(g == Seq("a b", "b c", "c d"), g.toString)
  }

  test("signature band keys: token-free text yields NO simhash keys") {
    // a doc with no tokens contributes no vote rows in the batch path
    // and so never reaches the band table; the streaming twin must drop
    // it too (an all-zero band would collide every empty doc into one
    // near-dup group)
    assert(Dedup.simHashBandKeys(" \t\n ").isEmpty)
    assert(Dedup.simHashBandKeys("hello world").length == 4)
    assert(Dedup.simHashBandKeys("hello world").forall(_.contains(":")))
    // minhash keys: the empty-token text still signs (whole-text
    // shingle convention), 4 band-prefixed keys
    assert(Dedup.md5BandBuckets("hello world").length == 4)
    assert(Dedup.md5BandBuckets("x").forall(k => k(1) == ':'))
  }

  test("embedding sign-band keys: bit packing and zero-sign boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // band 0 = coords 1-3 (signs +,+,+ → bits 1+2+4), band 1 = coords
    // 4-6 (signs -,0,+ → only bit 4): zero is NOT positive, matching
    // the oracle's `> 0` on both engines
    val df = Seq((1L, Seq(0.5, 2.0, 1e-9, -3.0, 0.0, 7.0)))
      .toDF("id", "v")
    val keys = df.select(
        Dedup.embeddingSignBandKeysSql(col("v"), bands = 2, width = 3))
      .head.getSeq[String](0)
    assert(keys == Seq("0:7", "1:4"), keys.toString)
  }

  test("int8 quantization: codes, norm, zero-vector and max boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
        (1L, Seq(1.0, -2.0, 0.5, 0.0)),
        (2L, Seq(0.0, 0.0, 0.0, 0.0)))
      .toDF("id", "v")
    val q = graft.llm.Quantize.withInt8(df, "v")
      .select(col("id"), col("qvec"), col("qnorm"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getLong(2))).toMap
    // m=2: 1.0→floor(63.5+0.5)=64, -2.0→-127 (the max-abs coordinate
    // hits ±127 exactly), 0.5→32, 0→0; norm = 64²+127²+32²
    assert(q(1L) == (Seq(64, -127, 32, 0), 21249L), q(1L).toString)
    // zero vector: all-zero codes, norm 0 (callers filter qnorm > 0)
    assert(q(2L) == (Seq(0, 0, 0, 0), 0L), q(2L).toString)
  }

  test("graft_dot_long is the exact integer dot product") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((Seq(64, -127, 32, 0), Seq(1, 2, 3, 4))).toDF("a", "b")
    val got = df.select(
        graft.functions.VectorExprs.dotLong(col("a"), col("b")))
      .head.getLong(0)
    assert(got == 64L - 254L + 96L, got.toString)
  }

  test("quantized cosine tracks float cosine within quantization error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = graft.llm.Quantize.withInt8(
        graft.ops.Tables.embeddings(spark, sf), "embedding")
      .filter($"qnorm" > 0)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"),
        $"qvec", $"qnorm")
    val a = e.filter($"vec_id" === 0).as("a")
    val pairs = a.crossJoin(e.filter($"vec_id" > 0).limit(50).as("b"))
      .select(
        graft.ml.Distance.cosine(col("a.v"), col("b.v")).as("cf"),
        graft.llm.Quantize.cosQ(col("a.qvec"), col("a.qnorm"),
          col("b.qvec"), col("b.qnorm")).as("cq"))
      .collect()
    // int8 symmetric quantization at dim 64: per-pair cosine error is
    // well under 0.02 in practice; 0.05 bounds it with margin
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.05,
        s"float=${r.getDouble(0)} quant=${r.getDouble(1)}")
    }
  }

  test("exact dedup collapses planted duplicates to min id") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("id", "text")
    val rows = Dedup.exact(df, "id", "text").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(rows == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash recall: every exact shingle-jaccard>=0.5 pair is found") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // exact ground truth by brute shingle jaccard
    val sh = udf((t: String) => Dedup.shingleSet(t))
    val t = docs.select($"doc_id".as("id"), sh($"text").as("toks"))
    val exactPairs = t.as("a").crossJoin(t.as("b"))
      .filter($"a.id" < $"b.id")
      .withColumn("j", Dedup.tokenJaccard($"a.toks", $"b.toks"))
      .filter($"j" >= 0.5)
      .select($"a.id".as("id_a"), $"b.id".as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "fixture should contain sequence near-dups")
    val found = Dedup.minHashNearDups(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(found),
      s"missed ${(exactPairs -- found).size} of ${exactPairs.size}")
  }

  test("simhash: identical texts collide, near texts within small hamming") {
    val a = Dedup.simHash64("the quick brown fox jumps over the lazy dog")
    val b = Dedup.simHash64("the quick brown fox jumps over the lazy dog")
    assert(a == b)
    val c = Dedup.simHash64("the quick brown fox leaps over the lazy dog")
    val ham = java.lang.Long.bitCount(a ^ c)
    assert(ham <= 16, s"hamming $ham")
    val far = Dedup.simHash64("completely unrelated words entirely different")
    assert(java.lang.Long.bitCount(a ^ far) > ham)
  }

  test("knnLsh recall@5 vs brute force on the embeddings fixture") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val brute = SimSearch.knnBrute(q, e, "vec_id", "vec_id", "embedding", 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimSearch.knnLsh(q, e, "vec_id", "vec_id", "embedding", 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    // 4-bit x 8-table sign-LSH on 64-dim unstructured
    // vectors: recall is modest by construction; the gate pins
    // the implementation against silent regression
    assert(recall >= 0.5, s"recall@5 $recall")
  }

  test("langId picks the language whose function words dominate") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat of the house is in the garden"),
      (2L, "le chat et la maison des gens est une merveille"),
      (3L, "el gato de los juegos y las casas que en madrid es"),
      (4L, "der hund und die katze das ist ein tier nicht mit"),
      (5L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextOps.withLangId(df, "text").select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "fr", 3L -> "es", 4L -> "de",
      5L -> "und"))
  }

  test("quality score is in [0,1] and penalizes degenerate text") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a a a a a"),                      // no diversity
      (2L, "the quick brown fox jumps over the lazy dog and runs far away"))
      .toDF("doc_id", "text")
    val m = TextOps.withQualityScore(df, "text")
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(m(2L) > m(1L))
  }

  test("winnow fingerprint survives local edits better than md5") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val edited = base.replace("delta", "delta2")
    val a = TextOps.winnow(base).toSet
    val b = TextOps.winnow(edited).toSet
    val overlap = (a & b).size.toDouble / (a | b).size
    assert(overlap > 0.3, s"overlap $overlap")
  }

  test("q230: decisions match the threshold and are physically executed") {
    import spark.implicits._
    // sf0.01, not the usual sf0.001: the regimes only split there
    // (clicks ≈ 2k rows > 500 > dim ≈ 19 — at sf0.001 every side is
    // under the broadcast threshold and the shuffle arm never plans)
    val df = graft.ops.LlmQueries.queries("q230_join_planner")(
      spark, "/root/testdata/sf0.01")
    val rows = df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(7))).toMap
    // big⋈big shuffles, big⋈dim broadcasts on this fixture
    assert(rows("clicks_purchases")._3 == "shuffle")
    assert(rows("clicks_dim")._3 == "broadcast")
    assert(rows("purchases_dim")._3 == "broadcast")
    rows.foreach { case (p, (na, nb, dec)) =>
      assert((math.min(na, nb) <= 500) == (dec == "broadcast"), p) }
    // the decision is EXECUTED, not narrated: both physical strategies
    // appear in the one plan (broadcast pairs + the shuffle pair). AQE
    // off for the assertion — at this fixture size AQE legitimately
    // re-plans the small shuffle join to a runtime broadcast, which is
    // AQE doing its job, not the planner failing to emit its decision
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.ops.LlmQueries.queries("q230_join_planner")(
        spark, "/root/testdata/sf0.01").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(2000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q233: skew decision flips data-driven and the salted arm is " +
      "salt-invariant") {
    import spark.implicits._
    // natural sf0.01 is unskewed (max key share 86 bp « the 500 bp
    // threshold): the planner must decide 'plain'
    val natural = graft.ops.LlmQueries.queries("q233_skew_planner")(
      spark, "/root/testdata/sf0.01").collect()
    assert(natural.forall(_.getAs[String]("decision") == "plain"),
      natural.map(_.getAs[String]("decision")).mkString(","))
    // hot-key twin (30% of rows remapped to one user — the ProfileQ233
    // fixture in miniature): the SAME query must flip to 'salted', and
    // the salted-path aggregates must equal the plain join's on the
    // same data (salting is result-invariant — the safety property)
    val twin = graft.util.Fs.tempRoot("graft_q233_spec").toString
    graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("user_id",
        expr("CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END"))
      .write.mode("overwrite").parquet(s"$twin/events.parquet")
    val skewed = graft.ops.LlmQueries.queries("q233_skew_planner")(
      spark, twin).collect()
    assert(skewed.forall(_.getAs[String]("decision") == "salted"),
      skewed.map(_.getAs[String]("decision")).mkString(","))
    assert(skewed.forall(_.getAs[Long]("skew_bp") >= 500L))
    val ev = graft.ops.Tables.events(spark, twin)
    val dim = ev.groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("n_purchase"))
    val truth = ev.join(dim, Seq("user_id")).groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"n_purchase").as("purchase_mass"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    skewed.foreach { r =>
      val et = r.getAs[String]("event_type")
      assert((r.getAs[Long]("n_events"), r.getAs[Long]("purchase_mass"))
        == truth(et), et)
    }
  }

  test("q236: join order decided from the min CMS estimate, executed " +
      "order-invariantly, and flipped by the replicated-fact twin") {
    import spark.implicits._
    def run(dir: String) = graft.ops.LlmQueries.queries("q236_join_order")(
      spark, dir).collect().head
    val r = run("/root/testdata/sf0.001")
    // the decision IS the argmin of the emitted estimates (name tie-break)
    val ests = Seq(
      "clicks_purchases" -> r.getAs[Long]("est_clicks_purchases"),
      "clicks_seed" -> r.getAs[Long]("est_clicks_seed"),
      "purchases_seed" -> r.getAs[Long]("est_purchases_seed"))
    assert(r.getAs[String]("first_pair") ==
      ests.minBy { case (n, e) => (e, n) }._1)
    assert(r.getAs[String]("first_pair") == "clicks_purchases")
    // CMS guarantee: every estimate >= the true pair join size, and the
    // executed triple mass equals the direct three-way join — the
    // order-invariance that makes the decision safe to flip
    val ev = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
    def side(f: org.apache.spark.sql.Column) = ev.filter(f)
      .groupBy($"user_id".as("k")).agg(count(lit(1)).as("n"))
    val c = side($"event_type" === "click")
    val p = side($"event_type" === "purchase")
    val sd = side($"user_id" < 500)
    def pairTrue(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.select($"k", $"n".as("na")).join(b.select($"k", $"n".as("nb")),
        Seq("k")).agg(coalesce(sum($"na" * $"nb"), lit(0L)))
        .head.getLong(0)
    assert(r.getAs[Long]("est_clicks_purchases") >= pairTrue(c, p))
    assert(r.getAs[Long]("est_clicks_seed") >= pairTrue(c, sd))
    assert(r.getAs[Long]("est_purchases_seed") >= pairTrue(p, sd))
    val tripleTruth = c.select($"k", $"n".as("na"))
      .join(p.select($"k", $"n".as("nb")), Seq("k"))
      .join(sd.select($"k", $"n".as("nc")), Seq("k"))
      .agg(coalesce(sum($"na" * $"nb" * $"nc"), lit(0L))).head.getLong(0)
    assert(r.getAs[Long]("triple_exact") == tripleTruth)
    // replicated-fact twin (the gen_stress recipe in miniature: facts
    // fan into disjoint user-id spaces, the user_id < 500 seed cohort
    // stays replica-0-only): clicks⋈purchases grows 10× while both
    // seed pairs hold, so the SAME query must flip to seed-first
    val twin = graft.util.Fs.tempRoot("graft_q236_spec").toString
    ev.crossJoin(spark.range(10).select($"id".as("rep")))
      .withColumn("user_id", $"user_id" + $"rep" * 100000L)
      .withColumn("event_id", $"event_id" + $"rep" * 100000L)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$twin/events.parquet")
    val t = run(twin)
    assert(Set("clicks_seed", "purchases_seed")(
      t.getAs[String]("first_pair")), t.toString)
    // seed-side invariance under replication: the triple mass is the
    // replica-0 triple mass — exactly why seed-first is the right order
    assert(t.getAs[Long]("triple_exact") == tripleTruth, t.toString)
  }

  test("q237: KMV banding recalls every overlapping pair and evals the " +
      "top-20 with exact Jaccard") {
    import spark.implicits._
    val out = graft.ops.LlmQueries.queries("q237_kmv_banded_pairs")(
      spark, sf).collect()
    assert(out.nonEmpty)
    val candSet = out.map(r =>
      (r.getString(0), r.getString(1))).toSet
    // exact all-pairs truth (fixture-sized; the production path never
    // builds this — that is the point of the banding)
    val docs = graft.ops.Tables.documents(spark, sf)
    val shingleSets = docs
      .select($"source",
        explode(graft.llm.Corpus.shingles($"text", 8)).as("g"))
      .distinct().collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    val srcs = shingleSets.keys.toSeq.sorted
    val exact = (for {
      a <- srcs; b <- srcs if a < b
      inter = (shingleSets(a) & shingleSets(b)).size
      uni = (shingleSets(a) | shingleSets(b)).size
    } yield (a, b) -> (inter.toLong * 10000L / uni)).toMap
    // recall: the banding may only drop essentially-disjoint pairs —
    // on this fixture every pair at >= 20 bp true Jaccard collides in
    // the minima (non-candidates top out at 12 bp, candidates start
    // at 29 bp — measured, not assumed)
    exact.foreach { case (p, j) =>
      if (j >= 20L) assert(candSet(p), s"banding missed $p at $j bp")
      if (!candSet(p)) assert(j < 20L, s"dropped $p carries $j bp") }
    // the bounded eval: at most 20 rows, chosen as the top estimates,
    // each carrying the true Jaccard (matches the all-pairs truth) and
    // a consistent signed error; non-eval rows carry -1 sentinels
    val eval = out.filter(_.getAs[Long]("eval") == 1L)
    assert(eval.nonEmpty && eval.length <= 20)
    val minEvalEst = eval.map(_.getAs[Long]("jacc_est_bp")).min
    out.filter(_.getAs[Long]("eval") == 0L).foreach { r =>
      assert(r.getAs[Long]("jacc_est_bp") <= minEvalEst)
      assert(r.getAs[Long]("jacc_bp") == -1L &&
        r.getAs[Long]("err_bp") == -1L) }
    eval.foreach { r =>
      val p = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("jacc_bp") == exact(p), s"$p")
      assert(r.getAs[Long]("err_bp") ==
        r.getAs[Long]("jacc_est_bp") - r.getAs[Long]("jacc_bp")) }
  }

  test("minK udaf: k smallest distinct per group under a real shuffle") {
    import spark.implicits._
    val rows = (1L to 1000L).map(i => (i % 7, (i * 2654435761L) % 100))
    val agged = rows.toDF("g", "v").repartition(8)
      .groupBy($"g")
      .agg(graft.functions.MinKAgg.minK(5)($"v").getField("items").as("mk"))
    val got = agged.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expect = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted.take(5)
    }
    expect.foreach { case (g, e) => assert(got(g) == e, s"group $g") }
    // the whole point of the Aggregator: a genuine partial/final split
    // (map-side k-bounding), not a window over the full value set
    val plan = agged.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("winnow column computes the driver reference set, incl. boundaries") {
    import spark.implicits._
    val fixtures = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "ab c 12",       // normalizes to 6 chars < k=8 → empty
      3L -> "abcdefgh",      // exactly k chars: 1 gram, clamped window
      4L -> "abcdefghij",    // 3 grams < w=4: single all-gram window
      5L -> "Spark! SCAN, join; spark scan join spark scan join END.")
    val got = fixtures.toDF("doc_id", "text")
      .select($"doc_id", TextOps.winnowFingerprints($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    fixtures.foreach { case (id, t) =>
      assert(got(id) == TextOps.winnow(t).toSeq,
        s"doc $id: ${got(id)} vs driver ${TextOps.winnow(t).toSeq}")
    }
    assert(got(2L).isEmpty && got(3L).size == 1 && got(4L).size == 1)
  }

  test("media pipeline: features are byte-count histograms; frames cover payload") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media)
      .select($"features", $"meta.n_bytes").limit(5).collect()
    feats.foreach { r =>
      val h = r.getSeq[Int](0)
      assert(h.length == 16)
      // counts partition the payload bytes exactly
      assert(h.sum == r.getInt(1))
    }
    val frames = Multimodal.frameSample(media.limit(10), 4)
    assert(frames.count() == 40)
    assert(frames.select("frame_id").distinct().count() == 4)
  }

  test("connected components: min-label per component, exact on a known graph") {
    import spark.implicits._
    // components: {1,2,3} via 1-2, 2-3; {10,11}; isolated nodes absent
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components handle chains longer than one hop") {
    import spark.implicits._
    // path graph 1-2-3-4-5-6: diameter 5, needs several rounds
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 6L).toSet)
  }

  test("embedding keepers: exact duplicates collapse to representatives " +
      "before pairing and inherit the component keeper") {
    import spark.implicits._
    val bucket: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      v => (0 until 4).map(i =>
          when(element_at(v, i + 1) > lit(0d), lit(1 << i))
            .otherwise(lit(0)))
        .reduce(_ + _)
    val a = Array(1f, 1f, 0f, 0f)   // bucket 3
    val b = Array(1f, 0.5f, 0f, 0f) // bucket 3, cos(a,b) ≈ 0.949
    val c = Array(-1f, 1f, 0f, 0f)  // bucket 2: never paired
    val df = Seq(
      (1L, a), (2L, a), (3L, a),    // three exact copies — one rep (1)
      (4L, b), (5L, b),             // near-dup of a — one rep (4)
      (6L, c)
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingKeepers(df, "vec_id", "embedding", 0.4, bucket)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reps 1 and 4 pair (same bucket, cosine over threshold); every
    // exact copy inherits its rep's component label, which is the true
    // min member id because reps are per-content min ids
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L))
  }

  test("corpus mixing is deterministic and weight-monotone; packing cuts " +
      "at the start-offset boundary") {
    import spark.implicits._
    import graft.llm.Corpus
    val docs = (1L to 200L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    // determinism: the same call keeps the same rows
    val kept1 = Corpus.mixBySource(docs, "id", lit(30L))
      .select($"id").collect().map(_.getLong(0)).toSet
    val kept2 = Corpus.mixBySource(docs, "id", lit(30L))
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept1 == kept2 && kept1.nonEmpty && kept1.size < 200)
    // monotone: a higher weight keeps a superset
    val kept60 = Corpus.mixBySource(docs, "id", lit(60L))
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept1.subsetOf(kept60))
    assert(Corpus.mixBySource(docs, "id", lit(100L)).count() == 200)
    assert(Corpus.mixBySource(docs, "id", lit(0L)).count() == 0)
    // packing: tokens 300+300 in one shard — the second doc STARTS at
    // offset 300 < 512, so it packs with the first despite crossing the
    // boundary; the third (starts at 600) opens pack 1
    val t = Seq((1L, "s", 300L), (2L, "s", 300L), (3L, "s", 300L))
      .toDF("id", "shard", "n_tokens")
    val packs = Corpus.packSequences(t, "id", "n_tokens", "shard", 512L)
      .select($"id", $"pack_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    // composite shard key: prefix sums are independent PER (a, b) pair,
    // not per either column alone
    val t2 = Seq((1L, "x", "u", 300L), (2L, "x", "v", 300L),
      (3L, "x", "u", 300L)).toDF("id", "a", "b", "n_tokens")
    val packs2 = Corpus.packSequencesBy(t2, "id", "n_tokens",
        Seq("a", "b"), 512L)
      .select($"id", $"prefix_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packs2 == Map(1L -> 0L, 2L -> 0L, 3L -> 300L), packs2.toString)
  }

  test("temperature mixing flattens the source distribution: low-resource " +
      "keep-rates exceed high-resource ones and rates cap at 100%") {
    import spark.implicits._
    import graft.llm.Corpus
    // 900 docs of "big", 100 of "small": proportional sampling to 500
    // would keep 50% of each; T=2 tempering must keep a LARGER fraction
    // of small than of big
    val docs = ((0L until 900L).map(i => (i, "big")) ++
      (1000L until 1100L).map(i => (i, "small"))).toDF("id", "src")
    val kept = Corpus.temperatureMix(docs, "id", "src", targetDocs = 500L)
    val frac = kept.groupBy($"src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fracBig = frac("big") / 900.0
    val fracSmall = frac("small") / 100.0
    assert(fracSmall > fracBig,
      s"small=$fracSmall big=$fracBig — tempering must favor small")
    // total lands near the target (hash-range concentration)
    val total = frac.values.sum
    assert(total > 400 && total < 600, s"total=$total")
    // a target beyond the corpus caps every rate at 100% = keep all
    assert(Corpus.temperatureMix(docs, "id", "src", 100000L).count() == 1000)
    // determinism
    val again = Corpus.temperatureMix(docs, "id", "src", 500L)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select($"id").collect().map(_.getLong(0)).toSet)
    // NULL sources are their own group, not silently dropped (the
    // equi-join would never match NULL = NULL; the operator joins
    // null-safely) — an over-corpus target keeps ALL of them
    val withNull = (docs.toDF("id", "src") union
      Seq((5000L, null.asInstanceOf[String])).toDF("id", "src"))
    assert(Corpus.temperatureMix(withNull, "id", "src", 100000L)
      .count() == 1001)
    // fractional rates resolve below one percent: one source at ~0.25%
    // target rate must keep SOME rows but far fewer than 1% would
    val big = (0L until 100000L).map(i => (i, "only")).toDF("id", "src")
    val tiny = Corpus.temperatureMix(big, "id", "src", 250L).count()
    assert(tiny > 100 && tiny < 500, s"kept $tiny of 100000 at 0.25%")
    intercept[IllegalArgumentException] {
      Corpus.temperatureMix(docs, "id", "src", 0L)
    }
  }

  test("c4 line filter drops short lines, keeps order, empties out " +
      "all-boilerplate docs") {
    import spark.implicits._
    val got = Seq(
      (1L, "a long enough line here\nmenu\nanother good long line\nok go"),
      (2L, "home\nabout\ncontact us"),
      (3L, "one single sufficiently long line"),
      (4L, "      \nreal tab\tseparated words\n \t "))
      .toDF("id", "t")
      .select($"id", graft.llm.TextOps.c4LineFilter($"t").as("c"))
      .orderBy($"id").collect().map(_.getString(1))
    assert(got(0) == "a long enough line here\nanother good long line")
    assert(got(1) == "") // every line < 3 words -> empty, caller gates
    assert(got(2) == "one single sufficiently long line")
    // WORDS, not space-split tokens: whitespace-only lines are 0 words
    // (dropped), tab-separated words all count (kept)
    assert(got(3) == "real tab\tseparated words")
  }

  test("pii redaction scrubs emails then urls and leaves clean text " +
      "untouched") {
    import spark.implicits._
    val got = Seq(
      (1L, "mail a.b+c@ex-1.org now"),
      (2L, "see https://ex.org/a_b-c.html and http://x.io/p"),
      (3L, "both bob@ex.org at http://ex.org/u"),
      (4L, "clean text no pii"),
      (5L, "not@tld or http:// alone"), // no TLD / empty host: no match
      (6L, "go https://ex.org:8080/reset?token=a1b2&u=x#f now"))
      .toDF("id", "t")
      .select($"id", graft.llm.TextOps.redactPii($"t").as("c"))
      .orderBy($"id").collect().map(_.getString(1))
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "see <URL> and <URL>")
    assert(got(2) == "both <EMAIL> at <URL>")
    assert(got(3) == "clean text no pii")
    assert(got(4) == "not@tld or http:// alone")
    // ports, query strings and fragments scrub WITH the url — a secret
    // token must not survive as a dangling tail after the placeholder
    assert(got(5) == "go <URL> now")
  }

  test("stratified sample takes min(k, group size) per group in hash " +
      "order, deterministically") {
    import spark.implicits._
    import graft.llm.Corpus
    val docs = ((0L until 100L).map(i => (i, "big")) ++
      (200L until 203L).map(i => (i, "small"))).toDF("id", "src")
    val sampled = Corpus.stratifiedSample(docs, "id", "src", 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    val bySrc = sampled.groupBy(_._1)
    assert(bySrc("big").length == 5 && bySrc("small").length == 3)
    // ranks are 1..n within each group
    assert(bySrc("big").map(_._3).sorted.toSeq == (1 to 5))
    // hash order, not id order: the big group's sample must not be 0..4
    assert(bySrc("big").map(_._2).sorted.toSeq != (0L until 5L).toSeq)
    // deterministic
    val again = Corpus.stratifiedSample(docs, "id", "src", 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
    assert(sampled.sortBy(x => (x._1, x._3)).toSeq ==
      again.sortBy(x => (x._1, x._3)).toSeq)
    intercept[IllegalArgumentException] {
      Corpus.stratifiedSample(docs, "id", "src", 0)
    }
  }

  test("leakage-safe split keeps a keeper group together; shard order is " +
      "a deterministic per-shard permutation") {
    import spark.implicits._
    import graft.llm.Corpus
    // three components: {1,2,3} keep 1, {10,11} keep 10, {42} keep 42 —
    // every member must inherit its KEEPER's split, whatever that is
    val labeled = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (42L, 42L)).toDF("id", "keep_id")
    val split = Corpus.leakageSafeSplit(labeled, "keep_id", 60, 20)
      .select($"keep_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(split.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 1))
    assert(split.map(_._2).forall(Set("train", "val", "test")))
    // hash-range split: over many singleton components the fractions
    // concentrate near the percents (exact values are pinned by q117)
    val many = (0L until 1000L).map(i => (i, i)).toDF("id", "keep_id")
    val frac = Corpus.leakageSafeSplit(many, "keep_id", 60, 20)
      .groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(frac("train") > 500 && frac("train") < 700, frac.toString)
    assert(frac("val") > 120 && frac("val") < 280, frac.toString)
    intercept[IllegalArgumentException] {
      Corpus.leakageSafeSplit(labeled, "keep_id", 90, 20)
    }
    // shards: every position range is exactly 0..count-1 (a permutation),
    // assignment is deterministic, shard ids stay in range
    val docs = (0L until 300L).map(i => Tuple1(i)).toDF("id")
    val sh = Corpus.shardForTraining(docs, "id", 8)
      .select($"id", $"shard", $"pos_in_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(sh.map(_._2).forall(s => s >= 0 && s < 8))
    sh.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0 until rows.length).toSeq)
    }
    val again = Corpus.shardForTraining(docs, "id", 8)
      .select($"id", $"shard", $"pos_in_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(sh.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // the within-shard order is hash order, not id order: at least one
    // shard must NOT be sorted by id (id-sorted "shuffles" are the bug
    // this operator exists to avoid)
    assert(sh.groupBy(_._2).exists { case (_, rows) =>
      val byPos = rows.sortBy(_._3).map(_._1).toSeq
      byPos != byPos.sorted
    })
    intercept[IllegalArgumentException] {
      Corpus.shardForTraining(docs, "id", 0)
    }
  }

  test("long-document chunking: exact budget boundaries, short docs are " +
      "one chunk, pieces reassemble to the original") {
    import spark.implicits._
    import graft.llm.Corpus
    // 10 tokens, budget 4 -> chunks of 4/4/2; 3 tokens -> one chunk
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("id", "text")
    val chunks = Corpus.chunkLongDocuments(docs, "id", "text", 4)
      .orderBy($"id", $"chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(chunks.count(_._1 == 1L) == 3 && chunks.count(_._1 == 2L) == 1)
    assert(chunks.filter(_._1 == 1L).map(_._3).toSeq == Seq(4, 4, 2))
    // lossless: joining the chunks back yields the original token stream
    assert(chunks.filter(_._1 == 1L).map(_._4).mkString(" ") ==
      (1 to 10).map(i => s"t$i").mkString(" "))
    assert(chunks.find(_._1 == 2L).get._4 == "a b c")
  }

  test("decontamination flags train docs sharing an 8-gram with the " +
      "eval set; short texts produce no shingles") {
    import spark.implicits._
    import graft.llm.Corpus
    val common = "a b c d e f g h" // exactly 8 tokens
    val train = Seq(
      (1L, s"x y $common z"),          // contains the eval 8-gram
      (2L, "p q r s t u v w x y z a"), // 8+ tokens, no overlap
      (3L, "too short")                // < 8 tokens: must yield nothing
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, s"$common tail words here"))
      .toDF("doc_id", "text")
    val got = Corpus.decontaminate(train, evalSet, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 100L)))
    // the sequence(1, n) guard: 2-token text, k=8 — no down-counting
    assert(train.filter($"doc_id" === 3L)
      .select(Corpus.shingles($"text", 8)).collect()(0)
      .getSeq[String](0).isEmpty)
  }

  test("repetition stats count duplicate 2-grams exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"), // grams: "a b","b a","a b","b a" — all doubled
      (2L, "x y z"),     // grams: "x y","y z" — no repetition
      (3L, "solo")       // < 2 tokens: no grams, no output row
    ).toDF("doc_id", "text")
    val got = graft.llm.Corpus.repetitionStats(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(1L -> ((4L, 2L, 2L)), 2L -> ((2L, 2L, 1L))))
  }

  test("bm25: tf saturation, length normalization and absent-term docs") {
    import spark.implicits._
    import graft.llm.Keyword
    val docs = Seq(
      (1L, "x y"),           // tf_x=1, dl=2
      (2L, "x y y y y y"),   // tf_x=1, dl=6 — longer, same tf
      (3L, "x x x y"),       // tf_x=3, dl=4 — higher tf
      (4L, "z z z")          // no query term: must be absent
    ).toDF("doc_id", "text")
    val posts = Keyword.postings(docs, "doc_id", "text")
    val terms = Seq("x").toDF("token")
    val got = Keyword.bm25(posts, terms, nDocs = 4L,
        avgdl = 15.0 / 4.0, k = 10)
      .orderBy($"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // higher tf beats lower (3 ≻ 1); at equal tf the SHORTER doc wins
    // (1 ≻ 2 — the b·dl/avgdl length penalty); doc 4 never appears
    assert(got.map(_._1).toSeq == Seq(3L, 1L, 2L), got.mkString(", "))
    assert(got.forall(_._2 > 0))
    // k bounds the result
    val top1 = Keyword.bm25(posts, terms, 4L, 15.0 / 4.0, k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("semDedup: within-cluster smallest-id keeper; zero-norm and " +
      "cross-cluster rows never pair") {
    import spark.implicits._
    val idx = graft.llm.Quantize.withInt8(Seq(
      (1L, Seq(1.0, 0.0), 0), // keeper (smallest id in its ball)
      (2L, Seq(2.0, 0.0), 0), // same direction as 1, same cluster → dup
      (3L, Seq(0.0, 1.0), 0), // orthogonal → keeper
      (4L, Seq(0.0, 0.0), 0), // zero norm → never pairs
      (5L, Seq(1.0, 0.0), 1)  // same direction as 1 but other cluster
    ).toDF("id", "v", "list_id"), "v")
    val got = Dedup.semDedup(idx, tau = 0.9)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0, -1L), (2L, 1, 1L), (3L, 0, -1L),
      (4L, 0, -1L), (5L, 0, -1L)), got.mkString(", "))
  }

  test("fim: segments reconstruct the original; cuts stay in [0, n]; " +
      "empty segments leave no double spaces") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = (1L to 50L).map(i =>
        (i, (0 until (i % 7).toInt + 1).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Corpus.fimTransform(df, "doc_id", "text").collect()
    val orig = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { r =>
      val (id, n, lo, hi) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val psm = r.getString(4); val spm = r.getString(5)
      assert(lo >= 0 && lo <= hi && hi <= n, s"doc $id cuts $lo..$hi/$n")
      // strip sentinels in PSM order and reassemble prefix⊕middle⊕suffix
      val m = raw"<fim_prefix>(.*)<fim_suffix>(.*)<fim_middle>(.*)".r
      psm match {
        case m(p, sfx, mid) =>
          val rebuilt = Seq(p.trim, mid.trim, sfx.trim)
            .filter(_.nonEmpty).mkString(" ")
          assert(rebuilt == orig(id), s"doc $id: '$rebuilt'")
        case _ => fail(s"doc $id psm lacks sentinel structure: $psm")
      }
      assert(!psm.contains("  ") && !spm.contains("  "),
        s"doc $id has double spaces")
      // SPM carries the same segments, reordered
      assert(spm.startsWith("<fim_suffix>"))
    }
    // cut determinism: same input, same cuts on a second run
    val again = Corpus.fimTransform(df, "doc_id", "text").collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("token budget plan: targets respect the epoch cap, DIV/MOD " +
      "reassemble, and an uncapped plan lands within rounding of budget") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = Seq(
      ("a", "w " * 99 + "w"),   // 100 tokens
      ("b", "w " * 899 + "w"),  // 900 tokens
      ("c", "w " * 8 + "w")     // 9 tokens — tiny, upsamples hard
    ).map { case (s, t) => (s, t.trim) }.toDF("source", "text")
    val plan = Corpus.tokenBudgetPlan(df, "text", "source",
        budgetTokens = 500L, maxEpochs = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    plan.foreach { case (src, (n, target, full, frac)) =>
      assert(target <= 3 * n, s"$src target $target breaches cap")
      assert(full * n + frac == target, s"$src DIV/MOD mismatch")
    }
    // tempered shares: sqrt(9):sqrt(100):sqrt(900) = 3:10:30 of 500 ≈
    // 35/116/349; c caps at 3×9=27
    assert(plan("c")._2 == 27L, plan.toString) // capped
    assert(plan("b")._2 > plan("a")._2) // bigger source, bigger share
    // uncapped plan: Σ targets within one rounding unit per source
    val free = Corpus.tokenBudgetPlan(df, "text", "source",
        budgetTokens = 500L, maxEpochs = 100)
      .agg(sum($"target_tokens")).head.getLong(0)
    assert(math.abs(free - 500L) <= 3, s"sum $free")
  }

  test("overlap chunking: full coverage, budget−stride shared tokens, " +
      "stride=budget degenerates to the disjoint chunker") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 toks
        (2L, "a b c"),  // short: single clipped chunk
        (3L, " \t ")    // zero tokens under regexTokens: no chunks
      ).toDF("doc_id", "text")
    val got = Corpus.chunkWithOverlap(df, "doc_id", "text",
        budget = 8, stride = 4, graft.llm.TextOps.regexTokens)
      .orderBy($"doc_id", $"chunk_id").collect()
    val byDoc = got.groupBy(_.getLong(0))
    // doc 1: chunks start at 1,5,9,13 — 1+ceil(12/4)=4 chunks; last
    // covers tokens 13..20, so every token is in some chunk
    val d1 = byDoc(1L).map(r => (r.getInt(2), r.getInt(3)))
    assert(d1.toSeq == Seq((1, 8), (5, 8), (9, 8), (13, 8)), d1.toSeq)
    // consecutive chunks share budget−stride = 4 tokens
    val c0 = byDoc(1L)(0).getString(4).split(" ")
    val c1 = byDoc(1L)(1).getString(4).split(" ")
    assert(c0.takeRight(4).toSeq == c1.take(4).toSeq)
    assert(byDoc(2L).map(r => (r.getInt(2), r.getInt(3))).toSeq ==
      Seq((1, 3)))
    assert(!byDoc.contains(3L))
    // stride = budget reproduces the disjoint chunker's cuts
    val disj = Corpus.chunkWithOverlap(df, "doc_id", "text", 8, 8,
        graft.llm.TextOps.regexTokens)
      .select($"doc_id", $"chunk_id", $"chunk_tokens", $"chunk_text")
      .collect().map(_.toSeq).toSet
    val base = Corpus.chunkLongDocuments(df, "doc_id", "text", 8,
        graft.llm.TextOps.regexTokens)
      .select($"doc_id", $"chunk_id".cast("int"), $"chunk_tokens",
        $"chunk_text")
      .collect().map(_.toSeq).toSet
    assert(disj == base)
  }

  test("pq: zero quantization error when every subvector is a centroid; " +
      "adc equals exact fixed-point distance; dup of query ranks first") {
    import spark.implicits._
    import graft.llm.Pq
    // 4 vectors whose two 2-dim subvectors are all distinct: with
    // ksub=4 and every point in the fit, Lloyd converges to the points
    // themselves, so encoding is lossless and ADC == exact sq distance
    val vs = Seq(
      (0L, Seq(0.0, 0.0, 1.0, 1.0)),
      (1L, Seq(0.0, 0.0, 1.0, 1.0)), // dup of 0 — must rank 1 at adc 0
      (2L, Seq(10.0, 0.0, 5.0, 5.0)),
      (3L, Seq(0.0, 10.0, -5.0, 5.0)))
    val df = vs.toDF("vec_id", "embedding")
    val cbs = Pq.fitCodebooks(df, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 4, iters = 5)
    val codes = Pq.encode(df, "vec_id", "embedding", cbs)
    val got = Pq.adcSearch(df.filter($"vec_id" === 0), codes,
        "vec_id", "embedding", cbs, k = 3)
      .orderBy($"rn").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // exact fixed-point distances from q=v0 (per-subspace floor then sum)
    def fp(b: Seq[Double]): Long = {
      val a = vs(0)._2
      Seq(0, 2).map { off =>
        val d = (0 until 2).map(i =>
          (a(off + i) - b(off + i)) * (a(off + i) - b(off + i))).sum
        math.floor(d * 1e6 + 0.5).toLong
      }.sum
    }
    assert(got.head == (1L, 0L), got.toSeq) // dup first, exact zero
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L).sortBy(id => (fp(vs
      .find(_._1 == id).get._2), id)), got.toSeq)
    got.foreach { case (cid, adc) =>
      assert(adc == fp(vs.find(_._1 == cid).get._2), s"cid $cid")
    }
  }

  test("lsh-blocked near-dup pairs are a subset of brute pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = Dedup.embeddingNearDups(e, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = graft.ops.LlmQueries.q56EmbeddingNearDupLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(brute))
  }

  test("batched feature extraction equals the per-row variant") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, sf).limit(50)
    val perRow = Multimodal.extractFeatures(media)
      .select($"media_id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val batched = Multimodal.extractFeaturesBatched(media)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(batched == perRow)
  }

  test("bmp codec: encode/decode roundtrip recovers pixels top-down") {
    // 2x2 image, width*3=6 -> stride 8: two padding bytes per row the
    // decoder must skip; bottom-up storage it must reverse
    val content = Array.tabulate[Byte](2 * 2 * 3)(i => (i + 1).toByte)
    val bmp = Multimodal.bmpEncode(content, 2, 2)
    assert(bmp.length == 54 + 8 * 2)
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    val (w, h, pixels) = Multimodal.bmpDecode(bmp)
    assert((w, h) == (2, 2))
    // file row 0 = bottom image row, so top-down output = rows swapped
    assert(pixels.toSeq == (content.slice(6, 12) ++ content.slice(0, 6)).toSeq)
  }

  test("bmp decode rejects non-BMP and unsupported variants loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.bmpDecode("not a bitmap at all".getBytes("UTF-8"))
    }
    // corrupt the bpp field of a valid file -> unsupported-variant error
    val bmp = Multimodal.bmpEncode(new Array[Byte](12), 2, 2)
    bmp(28) = 8
    val e = intercept[IllegalArgumentException](Multimodal.bmpDecode(bmp))
    assert(e.getMessage.contains("unsupported"))
  }

  test("wav codec: roundtrip recovers samples; decoder walks past the " +
      "LIST chunk instead of assuming offset 44") {
    val content = "Hello WAV fixture bytes!".getBytes("US-ASCII")
    val wav = Multimodal.wavEncode(content, sampleRate = 8000)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    // the LIST chunk shifts data past the canonical 44-byte layout
    assert(new String(wav.slice(36, 40), "US-ASCII") == "LIST")
    val (rate, samples) = Multimodal.wavDecode(wav)
    assert(rate == 8000)
    assert(samples.toSeq ==
      content.toSeq.map(b => (((b & 0xFF) - 128) * 256).toShort))
  }

  test("wav decode rejects non-WAV and unsupported variants loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.wavDecode("definitely not audio".getBytes("UTF-8"))
    }
    // corrupt bits-per-sample (offset: 12 riff/wave + 8 fmt header + 14)
    val wav = Multimodal.wavEncode(new Array[Byte](4))
    wav(34) = 8
    val e = intercept[IllegalArgumentException](Multimodal.wavDecode(wav))
    assert(e.getMessage.contains("unsupported"))
    // truncated data chunk -> bad chunk length, not an array crash
    val cut = Multimodal.wavEncode(new Array[Byte](16)).dropRight(5)
    val e2 = intercept[IllegalArgumentException](Multimodal.wavDecode(cut))
    assert(e2.getMessage.contains("bad chunk length"))
  }

  test("avi codec: roundtrip recovers per-frame pixels top-down; decoder " +
      "walks past the JUNK chunk instead of assuming offsets") {
    // 5x2 frames, w*3=15 -> stride 16: per-row padding the decoder must
    // skip; 2 frames; rows stored bottom-up it must reverse
    val content = Array.tabulate[Byte](5 * 2 * 3 * 2)(i => (i + 1).toByte)
    val avi = Multimodal.aviEncode(content, 5, 2, 2)
    assert(Multimodal.isAvi(avi))
    // the planted JUNK chunk sits between hdrl and movi
    assert(new String(avi, "US-ASCII").contains("JUNK"))
    val (w, h, frames) = Multimodal.aviDecode(avi)
    assert((w, h) == (5, 2))
    assert(frames.length == 2)
    for (f <- 0 until 2) {
      val base = f * 30
      // each DIB frame stores rows bottom-up: top-down = rows swapped
      val expected = content.slice(base + 15, base + 30) ++
        content.slice(base, base + 15)
      assert(frames(f).toSeq == expected.toSeq)
    }
  }

  test("avi decode rejects non-AVI and unsupported variants loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.aviDecode("definitely not video".getBytes("UTF-8"))
    }
    // corrupt the strf biBitCount (strf data offset 14) -> unsupported
    val avi = Multimodal.aviEncode(new Array[Byte](60), 5, 2, 2)
    val idx = new String(avi, "US-ASCII").indexOf("strf")
    avi(idx + 8 + 14) = 8
    val e = intercept[IllegalArgumentException](Multimodal.aviDecode(avi))
    assert(e.getMessage.contains("unsupported"))
    // truncated movi tail -> bad chunk length, not an array crash
    val cut = Multimodal.aviEncode(new Array[Byte](60), 5, 2, 2).dropRight(5)
    val e2 = intercept[IllegalArgumentException](Multimodal.aviDecode(cut))
    assert(e2.getMessage.contains("bad chunk length"))
  }

  test("avi frame decimate: keeps strided frames with orientation intact") {
    val content = Array.tabulate[Byte](5 * 2 * 3 * 4)(i => (i + 1).toByte)
    val avi = Multimodal.aviEncode(content, 5, 2, 4)
    val (_, _, orig) = Multimodal.aviDecode(avi)
    val (w, h, kept) = Multimodal.aviDecode(
      Multimodal.aviFrameDecimate(avi, 2))
    assert((w, h) == (5, 2) && kept.length == 2)
    // frames 0 and 2 survive, pixel-for-pixel (re-flip roundtrips)
    assert(kept(0).toSeq == orig(0).toSeq && kept(1).toSeq == orig(2).toSeq)
    // k=1 is identity
    val (_, _, all) = Multimodal.aviDecode(Multimodal.aviFrameDecimate(avi, 1))
    assert(all.length == 4 && all.zip(orig).forall {
      case (a, b) => a.sameElements(b) })
  }

  test("wav decimate: strided samples, divided rate, loud on bad factor") {
    val content = Array.tabulate[Byte](40)(i => (i * 3).toByte)
    val wav = Multimodal.wavEncode(content, 8000)
    val (rate, ss) = Multimodal.wavDecode(Multimodal.wavDecimate(wav, 4))
    assert(rate == 2000 && ss.length == 10)
    val (_, orig) = Multimodal.wavDecode(wav)
    assert(ss.toSeq == (0 until 40 by 4).map(orig(_)))
    // k=1 is identity; a factor that doesn't divide the rate is refused
    assert(Multimodal.wavDecode(Multimodal.wavDecimate(wav, 1))
      ._2.toSeq == orig.toSeq)
    val e = intercept[IllegalArgumentException](
      Multimodal.wavDecimate(wav, 3))
    assert(e.getMessage.contains("not divisible"))
  }

  test("bmp resize: nearest-neighbor roundtrip keeps orientation and " +
      "picks floor-rule source pixels") {
    // 5x4 source whose pixel (x,y) encodes its own coordinates: decode
    // of the resized BMP must yield exactly the NN-selected pixels in
    // top-down order (the first cut failed q100's oracle by writing the
    // resample top-down into bmpEncode's bottom-up content — this pins
    // the orientation contract at the API level too)
    val src = Array.tabulate[Byte](5 * 4 * 3) { i =>
      val p = i / 3; (10 * (p / 5) + (p % 5)).toByte // 10*y + x, top-down
    }
    // bmpEncode wants bottom-up rows: reverse the 15-byte rows
    val bottomUp = (3 to 0 by -1).flatMap(r =>
      src.slice(r * 15, (r + 1) * 15)).toArray
    val bmp = Multimodal.bmpEncode(bottomUp, 5, 4)
    val (w, h, px) = Multimodal.bmpDecode(Multimodal.bmpResize(bmp, 3, 2))
    assert((w, h) == (3, 2))
    // sx = x*5/3 in {0,1,3}; sy = y*4/2 in {0,2}
    val expected = for (y <- Seq(0, 2); x <- Seq(0, 1, 3); _ <- 0 until 3)
      yield (10 * y + x).toByte
    assert(px.toSeq == expected)
    // upscale hits each source pixel at least once, never out of range
    val (uw, uh, upx) = Multimodal.bmpDecode(Multimodal.bmpResize(bmp, 10, 8))
    assert((uw, uh) == (10, 8) && upx.length == 10 * 8 * 3)
  }

  test("avi encode rejects oversized geometry loudly instead of " +
      "truncating the header") {
    // rcFrame is 16-bit: width past Short.MaxValue must throw, not wrap
    val e = intercept[IllegalArgumentException] {
      Multimodal.aviEncode(Array.emptyByteArray, 40000, 2, 1)
    }
    assert(e.getMessage.contains("rcFrame"))
    intercept[IllegalArgumentException] {
      Multimodal.aviEncode(Array.emptyByteArray, 0, 2, 1)
    }
    // per-frame size fits Int but total frames overflow a RIFF chunk len
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.aviEncode(Array.emptyByteArray, 32000, 32000, 2)
    }
    assert(e2.getMessage.contains("overflows"))
  }

  test("frameSampleDecoded caps decoded frames at n and falls back to " +
      "chunk sampling on a corrupt AVI-magic payload") {
    import spark.implicits._
    val content = Array.tabulate[Byte](5 * 2 * 3 * 4)(i => (i + 1).toByte)
    val avi = Multimodal.aviEncode(content, 5, 2, 4) // 4 movi frames
    // truncated tail keeps the RIFF/AVI magic but fails the chunk walk:
    // chunk sampling must take over instead of the query dying
    val bad = avi.dropRight(5)
    val df = Seq((1L, avi), (2L, bad)).toDF("media_id", "payload")
    val out = Multimodal.frameSampleDecoded(df, 2)
      .select($"media_id", $"frame_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(out(1L) == 2) // 4 decoded frames capped at n=2
    assert(out(2L) == 2) // chunk fallback: n=2 chunks
  }

  test("avi media table: video rows decode to frames, other kinds keep " +
      "raw payload") {
    import spark.implicits._
    val media = Multimodal.mediaTableAvi(spark, sf)
    val videos = media.filter($"meta.kind" === "video" && $"meta.n_bytes" >= 60)
    val decoded = Multimodal.decodeAviFrames(videos.limit(10)).collect()
    assert(decoded.nonEmpty && decoded.length % 2 == 0) // 2 frames per video
    decoded.foreach { r =>
      assert(r.getLong(1) == 0L || r.getLong(1) == 1L)
      assert(r.getInt(2) == 5 && r.getInt(3) == 2)
      assert(r.getAs[Array[Byte]](4).length == 30)
      assert(r.getSeq[Int](5).sum == 30) // histogram partitions the pixels
    }
    // non-video payloads are untouched text bytes, not RIFF files
    val image = media.filter($"meta.kind" === "image").limit(1).collect()(0)
    assert(!Multimodal.isAvi(image.getAs[Array[Byte]](1)))
  }

  test("bmp media table: image rows decode, other kinds keep raw payload") {
    import spark.implicits._
    val media = Multimodal.mediaTableBmp(spark, sf)
    val images = media.filter($"meta.kind" === "image" && $"meta.n_bytes" >= 60)
    val decoded = Multimodal.decodeBmpFeatures(images.limit(10)).collect()
    assert(decoded.nonEmpty)
    decoded.foreach { r =>
      assert(r.getInt(1) == 5 && r.getInt(2) == 4)
      assert(r.getAs[Array[Byte]](3).length == 60)
      assert(r.getSeq[Int](4).sum == 60) // histogram partitions the pixels
    }
    // non-image payloads are untouched text bytes, not BMPs
    val audio = media.filter($"meta.kind" === "audio").limit(1).collect()(0)
    val payload = audio.getAs[Array[Byte]](1)
    assert(!(payload(0) == 'B'.toByte && payload(1) == 'M'.toByte))
  }

  test("resize stub: fixed output size, truncates long and pads short payloads") {
    import spark.implicits._
    val media = Multimodal.mediaTable(spark, sf).limit(20)
    val rows = Multimodal.resizeStub(media, size = 64)
      .select($"resized", $"meta.n_bytes").collect()
    rows.foreach { r =>
      val resized = r.getAs[Array[Byte]](0)
      assert(resized.length == 64)
    }
  }

  test("lsh bucket is deterministic and in range") {
    val v = Array.tabulate(64)(i => (i % 7 - 3) / 10f)
    val b1 = SimSearch.lshBucket(v, 8)
    val b2 = SimSearch.lshBucket(v, 8)
    assert(b1 == b2 && b1 >= 0 && b1 < 256)
  }

  test("top-k aggregator: k bound, tie order, merge-order independence") {
    import graft.functions.TopKAgg.{Cand, TopKList}
    val agg = new graft.functions.TopKAgg.TopKByCos(3)
    val cands = Seq(
      Cand(5L, 10L, 0.9), Cand(2L, 11L, 0.9), // tie on cos -> cid asc
      Cand(9L, 12L, 0.95), Cand(7L, 13L, 0.1), Cand(1L, 14L, 0.5))
    // reduce in two different arrival orders, then cross-merge
    def fold(xs: Seq[Cand]) = xs.foldLeft(agg.zero)(agg.reduce)
    val a = fold(cands)
    val b = fold(cands.reverse)
    assert(a == b, "arrival order leaked into the buffer")
    val expected = Seq(Cand(9L, 12L, 0.95), Cand(2L, 11L, 0.9),
      Cand(5L, 10L, 0.9))
    assert(a.items == expected)
    // partial buffers merging must agree with the single fold
    val (l, r) = cands.splitAt(2)
    assert(agg.merge(fold(l), fold(r)) == a)
    assert(agg.merge(fold(r), fold(l)) == a)
    assert(agg.merge(agg.zero, a) == a && agg.merge(a, agg.zero) == a)
    assert(a.items.length == 3, "k bound not enforced")
    val _ = TopKList(Nil) // exercise the wrapper ctor
  }

  test("serving-path search is row-identical to the window formulation") {
    // q116 (probe expression + partial top-k agg) vs q112 (crossJoin
    // probe + row_number window): same arithmetic, same total order =>
    // identical rows — the equality that lets q112's oracle gate q116
    val serve = graft.ops.LlmQueries.q116ServeKnn(spark, sf)
      .collect().toSeq
    val window = graft.ops.LlmQueries.q112IvfSqKnn(spark, sf)
      .collect().toSeq
    assert(serve.nonEmpty)
    assert(serve == window)
  }

  test("temperatureMixEpochs: epoch cap, fractional tail, 1-epoch ≡ mix") {
    import spark.implicits._
    import graft.llm.Corpus
    // big (200 docs, rate < 100 %), mid (40 docs, rate ≈ 209 % → 2 full
    // epochs + fractional tail), tiny (5 docs, uncapped rate ≈ 591 % →
    // capped at maxEpochs·100 = 300 %): all three regimes in one corpus
    val df = ((1L to 200L).map(i => (i, "big")) ++
      (1001L to 1005L).map(i => (i, "tiny")) ++
      (2001L to 2040L).map(i => (i, "mid"))).toDF("doc_id", "source")
    val out = Corpus.temperatureMixEpochs(df, "doc_id", "source",
      targetDocs = 300L, maxEpochs = 3).cache()
    // epoch cap holds globally
    assert(out.agg(max($"epoch")).head.getLong(0) <= 2L)
    // capped source: EVERY row exactly maxEpochs times (frac = 0)
    val tiny = out.filter($"source" === "tiny")
      .groupBy($"doc_id").count().collect().map(_.getLong(1))
    assert(tiny.length == 5 && tiny.forall(_ == 3L))
    // sub-100% source: never more than one copy
    assert(out.filter($"source" === "big")
      .agg(max($"epoch")).head.getLong(0) == 0L)
    // fractional regime: 2 or 3 copies per kept row, both guaranteed
    // full epochs present
    val mid = out.filter($"source" === "mid")
      .groupBy($"doc_id").count().collect().map(_.getLong(1))
    assert(mid.length == 40 && mid.forall(c => c == 2L || c == 3L))
    // determinism: bit-identical on re-run
    val again = Corpus.temperatureMixEpochs(df, "doc_id", "source",
      targetDocs = 300L, maxEpochs = 3)
      .select($"doc_id", $"epoch").collect().toSet
    assert(again == out.select($"doc_id", $"epoch").collect().toSet)
    // maxEpochs = 1 degrades to temperatureMix row-for-row, epoch ≡ 0
    val one = Corpus.temperatureMixEpochs(df, "doc_id", "source",
      targetDocs = 100L, maxEpochs = 1)
    val plain = Corpus.temperatureMix(df, "doc_id", "source", 100L)
    assert(one.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      plain.select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(one.agg(max($"epoch")).head.getLong(0) == 0L)
    out.unpersist()
  }

  test("duplicateSpans: doc-start/doc-end spans, overlap merge, short docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "A B C D x1 y1 z1"),   // shared 4-gram at doc START
      (2L, "A B C D x2 y2 z2"),
      (3L, "p1 q1 r1 E F G H"),   // shared 4-gram at doc END
      (4L, "p2 q2 r2 E F G H"),
      (5L, "m1 m2 V W X Y Z n1"), // 5 shared tokens = 2 OVERLAPPING
      (6L, "V W X Y Z k1 k2 k3"), //   grams → ONE merged span
      (7L, "short text"),         // < k tokens: no grams, no spans
      (8L, "D1 D2 D3 D4 D5"),     // exact duplicates: whole-doc span
      (9L, "D1 D2 D3 D4 D5")
    ).toDF("doc_id", "text")
    val spans = graft.llm.Dedup
      .duplicateSpans(df, "doc_id", "text", k = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toMap
    assert(spans(1L) == ((1, 4, 4, 1L)), spans.toString) // start of doc
    assert(spans(3L) == ((4, 7, 4, 1L)))                 // end of doc
    assert(spans(5L) == ((3, 7, 5, 2L)))                 // merged overlap
    assert(spans(6L) == ((1, 5, 5, 2L)))
    assert(spans(8L) == ((1, 5, 5, 2L)))                 // whole doc
    assert(!spans.contains(7L))                          // too short
    assert(spans.size == 8)                              // one span each
    val strip = graft.llm.Dedup
      .stripDuplicateSpans(df, "doc_id", "text", k = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(strip(1L) == (("x1 y1 z1", 7L, 3L)))
    assert(strip(3L) == (("p1 q1 r1", 7L, 3L)))
    assert(strip(5L) == (("m1 m2 n1", 8L, 3L)))
    assert(strip(7L) == (("short text", 2L, 2L))) // untouched passthrough
    assert(strip(8L) == (("", 5L, 0L)))           // fully duplicate mass
    assert(strip.size == 9)                       // every doc present
  }

  test("curriculumShards: easy-to-hard within every shard, membership " +
      "identical to shardForTraining, ties hash-broken not id-ordered") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = (0L until 60L).map(i => (i, (i * 7) % 5)) // difficulty 0-4
      .toDF("id", "diff")
    val cur = Corpus.curriculumShards(df, "id", "diff", nShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(4)))
    // within each shard, difficulty is non-decreasing along positions
    cur.groupBy(_._3).foreach { case (_, g) =>
      val byPos = g.sortBy(_._4).map(_._2)
      assert(byPos.zip(byPos.tail).forall { case (a, b) => a <= b })
    }
    // shard membership is EXACTLY shardForTraining's split (curriculum
    // must not bias which worker sees which documents)
    val plain = Corpus.shardForTraining(df, "id", nShards = 3)
      .select($"id", $"shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur.map(r => r._1 -> r._3).toMap == plain)
    // equal-difficulty runs are hash-ordered, not id-ordered: at 12
    // docs per (shard≈20, diff) bucket the chance every bucket happens
    // to be id-sorted is nil
    val idOrderedEverywhere = cur.groupBy(r => (r._3, r._2)).forall {
      case (_, g) => g.sortBy(_._4).map(_._1).toSeq ==
        g.map(_._1).sorted.toSeq
    }
    assert(!idOrderedEverywhere)
    intercept[IllegalArgumentException] {
      Corpus.curriculumShards(df.withColumn("shard", lit(1)), "id",
        "diff", 3)
    }
  }

  test("keyword retrieval: postings tf/df, AND vs OR search, integer RRF " +
      "with one-sided hits") {
    import spark.implicits._
    import graft.llm.Keyword
    val df = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha gamma"),
      (3L, "beta delta"),
      (4L, "ALPHA\talpha")  // lowercased + regex-tokenized
    ).toDF("doc_id", "text")
    val p = Keyword.postings(df, "doc_id", "text")
    val rows = p.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // tf counts repeats; df counts DISTINCT docs
    assert(rows.contains(("beta", 1L, 2L, 2L)))  // 2 occurrences in doc 1
    assert(rows.contains(("alpha", 4L, 2L, 3L))) // case-folded, df=3
    assert(rows.filter(_._1 == "alpha").forall(_._4 == 3L))
    val terms = Seq("alpha", "beta").toDF("token")
    // AND: only doc 1 has both
    val and = Keyword.search(p, terms, minMatch = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(and.toSeq == Seq((1L, 2L, 3L)), and.toSeq.toString)
    // OR: every doc with either term; doc 2 matches alpha only
    val or = Keyword.search(p, terms, minMatch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(or == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // integer RRF: rank 1 → 1000000 DIV 61 = 16393; a doc on one list
    // only scores that side; full-outer keeps both sides' exclusives
    val a = Seq((10L, 1), (11L, 2)).toDF("doc_id", "rn")
    val b = Seq((11L, 1), (12L, 2)).toDF("doc_id", "rn")
    val fused = Keyword.rrf(a, b).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(fused == Map(
      10L -> 1000000L / 61,
      11L -> (1000000L / 62 + 1000000L / 61),
      12L -> 1000000L / 62), fused.toString)
  }

  test("spanCorruption: sentinel substitution reconstructs the original, " +
      "counts consistent, deterministic, boundary spans clip") {
    import spark.implicits._
    import graft.llm.Corpus
    // lengths chosen to hit: multi-block, exactly-one-block, short doc
    // (span may drop), and a 1-token doc
    val df = Seq(
      (1L, (1 to 47).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"x$i").mkString(" ")),
      (3L, "a b c"),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val out = Corpus.spanCorruption(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val SentinelRe = "<extra_id_([0-9]+)>".r
    df.collect().foreach { row =>
      val (id, orig) = (row.getLong(0), row.getString(1))
      val r = out(id)
      val (nTok, nSpans, nMasked) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      val (input, target) = (r.getString(4), r.getString(5))
      assert(nTok == orig.split(" ").length)
      // the seq2seq CONTRACT: substituting each sentinel's target span
      // back into the input reconstructs the original text exactly
      val spans = SentinelRe.findAllMatchIn(target).toSeq
      val bounds = spans.map(_.start) :+ target.length
      val byBlk = spans.zipWithIndex.map { case (m, i) =>
        m.group(1) -> target.substring(m.end, bounds(i + 1)).trim
      }.toMap
      val rebuilt = SentinelRe.replaceAllIn(input,
        m => java.util.regex.Matcher.quoteReplacement(byBlk(m.group(1))))
      assert(rebuilt == orig, s"doc $id: $rebuilt != $orig")
      assert(byBlk.size == nSpans)
      assert(SentinelRe.findAllIn(input).size == nSpans)
      val maskedTokens =
        byBlk.values.map(v => if (v.isEmpty) 0 else v.split(" ").length).sum
      assert(maskedTokens == nMasked, s"doc $id: $maskedTokens != $nMasked")
      // spans never cross their block into the next (non-overlap by
      // construction): each span's tokens fit inside [blk*20+1, blk*20+20]
      assert(nMasked <= nTok)
    }
    // determinism: a second run produces identical rows
    val again = Corpus.spanCorruption(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(out.keySet.forall(k => again(k) == out(k).toSeq))
    intercept[IllegalArgumentException] {
      Corpus.spanCorruption(df, "doc_id", "text", block = 3, maxSpan = 3)
    }
  }

  test("regexShingleSet ≡ the Column shingle path on boundary inputs") {
    import spark.implicits._
    import graft.llm.Corpus
    // leading/trailing/mixed whitespace, repeated grams, exactly-k,
    // k-1 (no shingles), empty, all-whitespace
    val texts = Seq(
      "  a\tb c d e",       // leading ws run → leading empty filtered
      "a b c d\n",          // trailing ws
      "x y z w x y z w x y z w", // repeated grams → distinct collapses
      "p q r s",            // exactly k tokens → one shingle
      "p q r",              // k-1 → none
      "", " \t\n ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val k = 4
    val colPath = df.orderBy($"id")
      .select(Corpus.shingles($"text", k, TextOps.regexTokens))
      .collect().map(_.getSeq[String](0).toSeq)
    val scalar = texts.map(TextOps.regexShingleSet(_, k).toSeq)
    assert(colPath.toSeq == scalar, s"$colPath vs $scalar")
    assert(scalar(3) == Seq("p q r s"))
    assert(scalar(4).isEmpty && scalar(5).isEmpty && scalar(6).isEmpty)
  }

  test("tokenRarity: vocab threshold, OOV mass, in-vocab sums, all-OOV doc") {
    import spark.implicits._
    // "a" occurs 4x (in-vocab at minCount 3), "b" 3x (in-vocab),
    // "zz"/"qq"/"xx" once each (OOV)
    val df = Seq(
      (1L, "a a b zz"),   // 4 tokens, 1 oov, sum 4+4+3, min 3
      (2L, "a b qq"),     // 3 tokens, 1 oov
      (3L, "a b"),        // all in-vocab
      (4L, "xx")          // ALL OOV: sums coalesce to 0, not NULL
    ).toDF("doc_id", "text")
    val got = TextOps.tokenRarity(df, "doc_id", "text", minCount = 3L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((4L, 1L, 11L, 3L)), got.toString)
    assert(got(2L) == ((3L, 1L, 7L, 3L)))
    assert(got(3L) == ((2L, 0L, 7L, 3L)))
    assert(got(4L) == ((1L, 1L, 0L, 0L)))
    intercept[IllegalArgumentException] {
      TextOps.tokenRarity(df, "doc_id", "text", minCount = 0L)
    }
  }

  test("bpePairCounts: piece-weighted pairs, tie order, 1-char pieces out") {
    import spark.implicits._
    // "ab" appears as a piece 3x (via 'ab', 'AB!', 'ab') and inside
    // "abc"; single-char piece "x" contributes no pairs
    val df = Seq((1L, "ab AB! x abc"), (2L, "ab bc")).toDF("id", "text")
    val got = TextOps.bpePairCounts(df, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // pairs: ab ← 3 ("ab"×3) + 1 ("abc") = 4; bc ← 1 ("abc") + 1 ("bc")
    assert(got.head == (("ab", 4L)), got.toSeq.toString)
    assert(got.toSeq == Seq(("ab", 4L), ("bc", 2L)))
    // deterministic tie-break: equal counts order by pair string
    val ties = Seq((1L, "de fg")).toDF("id", "text")
    val t = TextOps.bpePairCounts(ties, "text", topK = 10)
      .collect().map(_.getString(0))
    assert(t.toSeq == Seq("de", "fg"))
  }

  test("epochShuffle: per-epoch permutations differ, positions dense, " +
      "epoch 0 independent of epochs requested") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = (0L until 40L).toDF("id")
    val out = Corpus.epochShuffle(df, "id", nShards = 4, epochs = 3)
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0), r.getInt(4)))
    // every epoch is a full permutation of the 40 ids
    (0 until 3).foreach { ep =>
      val rows = out.filter(_._1 == ep)
      assert(rows.length == 40)
      assert(rows.map(_._3).toSet == (0L until 40L).toSet)
      // positions dense per (epoch, shard): 0..n-1
      rows.groupBy(_._2).foreach { case (_, g) =>
        assert(g.map(_._4).sorted.toSeq == (0 until g.length).toSeq)
      }
    }
    // different epochs yield DIFFERENT shard assignments for some ids
    // (independent digests — a fixed permutation re-read would not)
    val byEpoch = out.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(r => (r._2, r._4)).toSeq).toMap
    assert(byEpoch(0) != byEpoch(1))
    assert(byEpoch(1) != byEpoch(2))
    // epoch e's order is a pure function of (e, id): asking for more
    // epochs must not move earlier ones (a resuming trainer relies on it)
    val out2 = Corpus.epochShuffle(df, "id", nShards = 4, epochs = 1)
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(0), r.getInt(4)))
      .filter(_._1 == 0).sortBy(_._3).map(r => (r._1, r._2, r._4)).toSeq
    val ep0 = out.filter(_._1 == 0).sortBy(_._3)
      .map(r => (r._1, r._2, r._4)).toSeq
    assert(out2 == ep0)
    // output-column clash fails loudly
    intercept[IllegalArgumentException] {
      Corpus.epochShuffle(df.withColumn("epoch", lit(1)), "id", 4, 2)
    }
  }

  test("bigramFamiliarity: conditional-LM arithmetic, short-doc zero row") {
    import spark.implicits._
    // corpus bigram counts: "a b" c12=2 (docs 1+2), "b a" 1, "a c" 1;
    // contexts c1('a') = 2+1 = 3, c1('b') = 1. fam_bp:
    //   "a b" = 20000 DIV 3 = 6666, "b a" = 10000, "a c" = 3333
    // doc 1 (one occ of each): lm_sum 19999, avg 19999 DIV 3 = 6666
    val df = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramFamiliarity(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) == ((3L, 19999L, 6666L, "head")), got.toString)
    assert(got(2L) == ((1L, 6666L, 6666L, "head")))
    // the <2-token doc surfaces with zeros, not dropped
    assert(got(3L) == ((0L, 0L, 0L, "tail")))
    // degenerate thresholds rejected
    intercept[IllegalArgumentException] {
      TextOps.bigramFamiliarity(df, "doc_id", "text",
        headBp = 1L, tailBp = 2L)
    }
  }

  test("dsirSelect: smoothed target/raw ratio, featureless doc kept") {
    import spark.implicits._
    import graft.llm.Corpus
    // raw: doc 1 has bigram "a b" (1 occurrence), doc 2 "z z", doc 3
    // has no bigrams; target: "a b" twice + "b a" once. Weights:
    // bucket("a b"): (10000·(2+1)) DIV (1+1) = 15000
    // bucket("z z"): (10000·(0+1)) DIV (1+1) = 5000
    val raw = Seq((1L, "a b"), (2L, "z z"), (3L, "q"))
      .toDF("doc_id", "text")
    val tgt = Seq((10L, "a b a b")).toDF("doc_id", "text")
    val got = Corpus.dsirSelect(raw, tgt, "doc_id", "text", topK = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got(1L) == ((1L, 15000L, 1L, 1)), got.toString)
    assert(got(2L) == ((1L, 5000L, 2L, 1)))
    // no features → score 0, still reported, ranked last, unselected
    assert(got(3L) == ((0L, 0L, 3L, 0)))
  }

  test("sourceCap: hash priority, per-source independence, kept flag") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = (0L until 10L).map(i => (i, if (i < 6) "s1" else "s2"))
      .toDF("doc_id", "source")
    val got = Corpus.sourceCap(df, "doc_id", "source", cap = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getInt(4)))
    // ranks are 1..n within each source, ordered by (sampleKey, id)
    val s1 = got.filter(_._2 == "s1").sortBy(_._4)
    assert(s1.map(_._4).toSeq == (1 to 6).toSeq)
    assert(s1.map(_._3).toSeq == s1.map(_._3).sorted.toSeq)
    // cap 3 per source: 3 kept from s1 (6 docs) + 3 from s2 (4 docs)
    assert(got.count(_._5 == 1) == 6)
    intercept[IllegalArgumentException] {
      Corpus.sourceCap(df, "doc_id", "source", cap = 0)
    }
  }

  test("bpeApply: greedy adjacent merges, doubled-boundary correctness, " +
      "pair-less vocab passthrough") {
    import spark.implicits._
    // "aaaa" → round 1 merges "a a" greedily left-to-right:
    // [a,a,a,a] → [aa,aa] (NOT [aa,a,a] — the doubled-space trick must
    // handle adjacent occurrences); round 2 → [aaaa]; round 3 exhausted
    val one = Seq((1L, "aaaa")).toDF("id", "text")
    val g1 = TextOps.bpeApply(one, "text", rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(g1.toSeq == Seq(("aaaa", "aaaa", 1L)), g1.toSeq.toString)
    val g2 = TextOps.bpeApply(one, "text", rounds = 1)
      .collect().map(r => r.getString(2))
    assert(g2.toSeq == Seq("aa aa"))
    // frequency-weighted argmax with deterministic tie-break
    val df = Seq((1L, "aba aba ab")).toDF("id", "text")
    val got = TextOps.bpeApply(df, "text", rounds = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    // round 1: "a b" (count 3) beats "b a" (2) → ab; round 2: "ab a"
    // → aba; round 3: no pairs left (exhausted, passthrough)
    assert(got.toSeq == Seq(("ab", 1L, "ab"), ("aba", 2L, "aba")),
      got.toSeq.toString)
    // all-1-char vocabulary: no pairs at all → unchanged pieces
    val flat = Seq((1L, "a b a")).toDF("id", "text")
    val g3 = TextOps.bpeApply(flat, "text", rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(2))).sortBy(_._1)
    assert(g3.toSeq == Seq(("a", "a"), ("b", "b")))
    intercept[IllegalArgumentException] {
      TextOps.bpeApply(df, "text", rounds = 0)
    }
  }

  test("lengthBatches: bucket classes, capacity boundary, group isolation") {
    import spark.implicits._
    import graft.llm.Corpus
    // budget 1024, bucket 256 → 4 per batch: ids 0-3 in batch 0,
    // id 4 rolls to batch 1; the 10-token doc lands in bucket 16
    // and group "b" batches independently of group "a"
    val df = ((0L until 5L).map(i => (i, "a", 200L)) :+
        ((9L, "b", 10L))).toDF("id", "grp", "n_tok")
    val got = Corpus.lengthBatches(df, "id", "n_tok", "grp", 1024L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got(0L) == ((256L, 0L, 0L)), got.toString)
    assert(got(3L) == ((256L, 0L, 3L)))
    assert(got(4L) == ((256L, 1L, 0L))) // capacity 4 → fifth doc rolls
    assert(got(9L) == ((16L, 0L, 0L)))  // own group+bucket, batch 0
    intercept[IllegalArgumentException] {
      Corpus.lengthBatches(df, "id", "n_tok", "grp", 100L)
    }
  }

  test("phraseScores: discounted association arithmetic, cutoff, order") {
    import spark.implicits._
    // seven "a b" docs, three "b c" docs, one "z" doc: N = 21 tokens,
    // c(a)=7, c(b)=10. "a b" co-occurs 7× (> δ=5) → score =
    // (1000·(7−5)·21) DIV (7·10) = 600; "b c" only 3× (≤ δ → dropped)
    val df = (Seq.fill(7)("a b") ++ Seq.fill(3)("b c") ++ Seq("z"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = TextOps.phraseScores(df, "text", discount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(got.toSeq == Seq(("a b", 7L, 600L)), got.toSeq.toString)
    intercept[IllegalArgumentException] {
      TextOps.phraseScores(df, "text", discount = -1L)
    }
  }

  test("purgeReport: conditional-sum ledger, unaffected tokens omitted") {
    import spark.implicits._
    import graft.llm.Keyword
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b"))
      .toDF("doc_id", "text")
    val dead = Seq(Tuple1(2L)).toDF("doc_id")
    val got = Keyword.purgeReport(docs, "doc_id", "text", dead)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // 'a': docs {1(tf2), 2(tf1)} → before 2, after 1, removed mass 1
    assert(got("a") == ((2L, 1L, 1L)), got.toString)
    assert(got("c") == ((1L, 0L, 1L)))
    // 'b' lost nothing → NOT in the report
    assert(!got.contains("b"))
  }

  test("snapshotDiff: all four statuses from fingerprint compare") {
    import spark.implicits._
    import graft.llm.Corpus
    val v1 = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "text")
    val v2 = Seq((1L, "x"), (2L, "y2"), (4L, "w")).toDF("id", "text")
    val got = Corpus.snapshotDiff(v1, v2, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got.toString)
  }

  test("rendezvousShard: range bound, minimal movement, movers land on " +
      "the new shard only") {
    import spark.implicits._
    import graft.llm.Corpus
    val df = (0L until 500L).toDF("id")
    val got = df.select($"id",
        Corpus.rendezvousShard($"id", 4).as("s4"),
        Corpus.rendezvousShard($"id", 5).as("s5"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.forall { case (s4, s5) => s4 >= 0 && s4 < 4 &&
      s5 >= 0 && s5 < 5 })
    val movers = got.filter { case (s4, s5) => s4 != s5 }
    // THE rendezvous property: growing n→n+1 moves ~1/(n+1) of keys,
    // and every mover moves TO the new shard (pmod sharding would
    // reshuffle ~4/5 across all shards)
    assert(movers.forall(_._2 == 4L), movers.take(5).toSeq.toString)
    assert(movers.length > 50 && movers.length < 150,
      s"${movers.length} moved of 500")
    intercept[IllegalArgumentException] {
      df.select(Corpus.rendezvousShard($"id", 0))
    }
  }

  test("aHash: hand-computed bits, strict mean comparison, guards") {
    // 2 pixels: grays (10+20+30)/3=20, (40+50+60)/3=50; mean=(20+50)/2=35
    // → bits (0, 1) → hash 2
    val px = Array[Byte](10, 20, 30, 40, 50, 60)
    assert(Multimodal.aHash(px, 2) == 2L)
    // equal grays: gray == mean everywhere and the comparison is STRICT
    // (>), so the hash is 0 — a >= rule would set every bit on a flat
    // image and collide all flats at distance 0 from all-ones
    assert(Multimodal.aHash(Array[Byte](9, 9, 9, 9, 9, 9), 2) == 0L)
    intercept[IllegalArgumentException] { Multimodal.aHash(px, 65) }
    intercept[IllegalArgumentException] { Multimodal.aHash(px, 3) }
  }

  test("phash band pairs: banded search is EXACT at radius < nBands") {
    import spark.implicits._
    // crafted 8-bit hashes, 4 bands of 2 bits: pairs at hamming 1-3
    // in scattered bands, one pair at hamming 4 (must be absent even
    // though it shares bands), duplicates collapsing to one hash row
    val hs = Seq((1L, 0x0FL), (2L, 0x0EL), (3L, 0x0FL), (4L, 0xF0L),
      (5L, 0x3CL)).toDF("id", "phash")
    val pairs = Dedup.phashBandPairs(hs, "id", "phash", bits = 8,
        nBands = 4, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("ha"), r.getAs[Long]("hb"),
        r.getAs[Int]("hamming"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))).toSet
    // brute-force expectation over the 4 distinct hashes
    val hd = Map(0x0FL -> (2L, 1L), 0x0EL -> (1L, 2L), 0xF0L -> (1L, 4L),
      0x3CL -> (1L, 5L))
    val brute = for {
      a <- hd.keys; b <- hd.keys if a < b
      h = java.lang.Long.bitCount(a ^ b) if h <= 3
    } yield (a, b, h, hd(a)._1, hd(b)._1)
    assert(pairs == brute.toSet, pairs.toString)
    // 0x0F vs 0xF0 is hamming 8 — correctly absent; 0x0F appears with
    // n_imgs 2 (ids 1 and 3 collapsed before the join)
    assert(pairs.exists { case (a, _, _, na, _) => a == 0x0EL || na == 2 })
    intercept[IllegalArgumentException] { // pigeonhole violated
      Dedup.phashBandPairs(hs, "id", "phash", 8, 4, maxHamming = 4)
    }
  }

  test("split leakage audit: safe split is leak-free by construction") {
    import spark.implicits._
    import graft.llm.Corpus
    // component {1,2} and {3}; pick ids whose naive splits differ so
    // the naive method must report the 2-doc component as leaky
    val all = (0L until 200L)
    val key = (i: Long) => ((i % 1000000007L) * 2654435761L) % 100
    val tr = all.filter(i => key(i) < 90)
    val te = all.filter(i => key(i) >= 95)
    assert(tr.nonEmpty && te.nonEmpty)
    val labeled = Seq((tr.head, tr.head), (te.head, tr.head),
      (tr.last, tr.last)).toDF("id", "keep_id")
    val got = Corpus.splitLeakageAudit(labeled, "id", "keep_id")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("naive") == (2L, 1L, 2L, 6666L), got.toString)
    assert(got("safe") == (2L, 0L, 0L, 0L), got.toString)
  }

  test("shard manifest: order-invariant checksum, content-sensitive") {
    import spark.implicits._
    import graft.llm.Corpus
    val docs = Seq((1L, "alpha", 5L), (2L, "beta", 4L), (3L, "gamma", 5L),
      (4L, "delta", 5L)).toDF("doc_id", "text", "n_chars")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Corpus.shardManifest(df, "doc_id", "text", "n_chars", 2)
        .orderBy($"shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val base = manifest(docs)
    // permuted arrival + different partitioning → identical manifest
    // (bit_xor is commutative; a concat digest would need a global sort)
    assert(manifest(docs.orderBy($"text".desc).repartition(7)) == base)
    // one flipped byte in one doc changes exactly that shard's checksum
    val tweaked = manifest(Seq((1L, "alphA", 5L), (2L, "beta", 4L),
      (3L, "gamma", 5L), (4L, "delta", 5L)).toDF("doc_id", "text", "n_chars"))
    assert(tweaked != base)
    assert(tweaked.map(t => (t._1, t._2)) == base.map(t => (t._1, t._2)),
      "counts must not move when only content flips")
  }

  test("count-min sketch: one-sided error + cell-wise mergeability") {
    import spark.implicits._
    import graft.llm.Sketch
    val a = Seq.fill(30)("x").map(Tuple1(_)) ++
      Seq.fill(10)("y").map(Tuple1(_)) ++ Seq.fill(3)("z").map(Tuple1(_))
    val b = Seq.fill(7)("y").map(Tuple1(_)) ++ Seq.fill(5)("w").map(Tuple1(_))
    val (dfA, dfB) = (a.toDF("token"), b.toDF("token"))
    val all = dfA.unionByName(dfB)
    val exact = all.groupBy($"token").agg(count(lit(1)).as("exact_n"))
    // width 2 FORCES collisions so the one-sided property is exercised,
    // not vacuous: est >= exact for every key, always
    val sk = Sketch.cmsBuild(all, "token", depth = 3, width = 2)
    val est = Sketch.cmsProbe(sk, exact, "token", 3, 2)
      .join(exact, "token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty && est.forall { case (_, e, x) => e >= x },
      est.toSeq.toString)
    // mergeability: sketch(A ⊎ B) == cell-wise sum of the two sketches —
    // the property that lets per-batch/per-executor sketches combine
    // with no rescan
    val merged = Sketch.cmsBuild(dfA, "token", 3, 2)
      .unionByName(Sketch.cmsBuild(dfB, "token", 3, 2))
      .groupBy($"row_i", $"cell").agg(sum($"cnt").as("cnt"))
    val direct = Sketch.cmsBuild(all, "token", 3, 2)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
    // weighted build from collapsed counts is the SAME sketch
    val weighted = Sketch.cmsBuildWeighted(exact, "token", "exact_n", 3, 2)
    assert(weighted.exceptAll(direct).isEmpty)
  }

  test("cms inner product emits one zero row on fully disjoint sketches") {
    import spark.implicits._
    import graft.llm.Sketch
    // width 64: two single-key sketches whose cells do not collide in
    // any of the 3 hash rows — the true join size is 0 and the result
    // must be one (est = 0) row, not an empty frame (r11 advice: the
    // inner join dropped zero-overlap rows from the min)
    val a = Sketch.cmsBuild(Seq("alpha").toDF("k"), "k", 3, 64)
    val b = Sketch.cmsBuild(Seq("omega9").toDF("k"), "k", 3, 64)
    val overlap = a.select($"row_i", $"cell")
      .intersect(b.select($"row_i", $"cell")).count()
    assert(overlap == 0, s"fixture keys collide in $overlap cells — " +
      "pick keys whose md5 cells stay disjoint at width 64")
    val got = Sketch.cmsInnerProduct(a, b).collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L, got.toSeq.toString)
    // and a genuine overlap still estimates >= truth (one-sided)
    val got2 = Sketch.cmsInnerProduct(a, a).collect()
    assert(got2.length == 1 && got2(0).getLong(0) >= 1L)
  }

  test("audioHash: floor-division mean on negative sums, strict bits") {
    // samples sum to -3 over 2 bits: floorDiv(-3,2) = -2 (Java / would
    // give -1 and flip the second bit against the SQL // replay)
    val s = Array[Short](-2, -1)
    // mean -2: bits = (s > -2) = (0, 1) → hash 2
    assert(Multimodal.audioHash(s, 2) == 2L)
    // truncating mean -1 would give bits (0, 0) — pin the difference
    assert(Multimodal.audioHash(s, 2) != 0L)
    intercept[IllegalArgumentException] { Multimodal.audioHash(s, 3) }
    intercept[IllegalArgumentException] { Multimodal.audioHash(s, 0) }
  }

  test("containment pairs: asymmetric inclusion that Jaccard misses") {
    import spark.implicits._
    // doc 1 = 8 tokens, fully quoted inside doc 2's 24 tokens:
    // jaccard = 1/17 (tiny) but containment(1 in 2) = 100%
    val small = (1 to 8).map(i => s"w$i").mkString(" ")
    val big = ((1 to 8) ++ (100 to 115)).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "short text only"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 8,
        minContainBp = 8000L)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"),
        r.getAs[Long]("n_src"), r.getAs[Long]("cont_bp")))
    // ONLY 1→2 fires (asymmetric: 2's 17 shingles are not covered by
    // 1's single one); doc 3 has < 8 tokens → no shingles, absent
    assert(got.toSeq == Seq((1L, 2L, 1L, 10000L)), got.toSeq.toString)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 8, 0L)
    }
  }

  test("containment pairs: maxDocFreq drops boilerplate shingles") {
    import spark.implicits._
    // one 8-token header shared by all four docs (df=4) + unique tails
    val header = (1 to 8).map(i => s"h$i").mkString(" ")
    val docs = Seq((1L, header), (2L, s"$header u1"),
      (3L, s"$header v1"), (4L, s"$header w1")).toDF("doc_id", "text")
    // default cap (1000) keeps the header shingle: doc 1 is contained
    // in every other doc
    val dflt = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    assert(dflt.toSet == Set((1L, 2L), (1L, 3L), (1L, 4L)), dflt.toSeq)
    // cap=2 drops it (df=4 > 2): no informative shingles are shared,
    // doc 1 has n_src=0 and vanishes entirely — no pairs at all
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 8, minContainBp = 8000L, maxDocFreq = 2L)
    assert(capped.count() == 0L)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 8, 8000L, 0L)
    }
  }

  test("frame-hash pairs: smaller-clip coverage + identical-set collapse") {
    import spark.implicits._
    // clip 1 = {A, B}; clip 2 = {A, B, C} (1 fully inside 2);
    // clip 3 = {A, D} (half-overlaps both — below full coverage);
    // clip 4 = {A, B} again (re-post: collapses into 1's representative)
    val frames = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (2L, 30L), (3L, 10L), (3L, 40L), (3L, 40L), (4L, 20L), (4L, 10L))
      .toDF("clip", "fh")
    val full = Dedup.frameHashPairs(frames, "clip", "fh")
      .collect().map(r => (r.getAs[Long]("clip_a"), r.getAs[Long]("clip_b"),
        r.getAs[Long]("n_clips_a"), r.getAs[Long]("n_shared"),
        r.getAs[Long]("overlap_bp")))
    // rep of {1,4} is clip 1 with multiplicity 2 — the re-post never
    // reaches the pair join as its own row
    assert(full.toSeq == Seq((1L, 2L, 2L, 2L, 10000L)), full.toSeq.toString)
    // at 50% the half-overlaps appear too; duplicate frame rows (clip 3's
    // repeated hash 40) collapse before counting
    val half = Dedup.frameHashPairs(frames, "clip", "fh", 5000L)
      .collect().map(r => (r.getAs[Long]("clip_a"), r.getAs[Long]("clip_b"),
        r.getAs[Long]("n_shared"))).toSet
    assert(half == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)),
      half.toString)
  }

  test("sorted shingles: bag normalization makes reorderings collide") {
    // same bag, shuffled order: raw shingle sets are disjoint (beyond
    // boundary effects), sorted ones identical
    val a = "w1 w2 w3 w4 w5 w6"
    val b = "w6 w5 w4 w3 w2 w1"
    assert(Dedup.shingleSetSorted(a, 3).toSet ==
      Dedup.shingleSetSorted(b, 3).toSet)
    assert(Dedup.shingleSet(a, 3).toSet != Dedup.shingleSet(b, 3).toSet)
  }

  test("incremental dedup: three statuses + in-batch first-wins tie") {
    import spark.implicits._
    val store = Seq("f1", "f2").map(Tuple1(_)).toDF("fp")
    val batch = Seq((10L, "f1"), (11L, "f3"), (12L, "f3"), (13L, "f3"),
      (14L, "f4")).toDF("item_id", "fp")
    val got = Dedup.incrementalExact(store, batch, "item_id")
      .collect().map(r => r.getAs[Long]("item_id") ->
        r.getAs[String]("status")).toMap
    assert(got == Map(10L -> "dup_of_store", 11L -> "new",
      12L -> "dup_in_batch", 13L -> "dup_in_batch", 14L -> "new"),
      got.toString)
  }

  test("kCenterGreedy: hand-checked farthest-first trajectory, id " +
      "tiebreak, coverage partition") {
    import spark.implicits._
    import graft.llm.Select
    // collinear points at quantized positions 0, 1000, 10000, 11000,
    // 30000 — the greedy max-min trajectory is hand-derivable
    val pts = Seq(
      (1L, Array(0f, 0f)), (2L, Array(0.001f, 0f)),
      (3L, Array(0.01f, 0f)), (4L, Array(0.011f, 0f)),
      (5L, Array(0.03f, 0f))).toDF("vec_id", "embedding")
    val sel = Select.kCenterGreedy(pts, "vec_id", "embedding", k = 4)
      .orderBy($"sel_rank").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // seed = min id; then 30000² , then 11000², then the 2/3 tie at
    // 1000² breaks to the smaller id
    assert(sel == Seq((0, 1L, 0L), (1, 5L, 900000000L),
      (2, 4L, 121000000L), (3, 2L, 1000000L)), sel.toString)
    val centers = Select.centersOf(pts, "vec_id", "embedding",
      Select.kCenterGreedy(pts, "vec_id", "embedding", 4))
    val cov = Select.kCenterCoverage(pts, "vec_id", "embedding", centers)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // id3 lands in center 4's cell (1000² beats 9000² to center 2);
    // every center covers itself at distance zero
    assert(cov == Map(1L -> (1L, 0L), 2L -> (1L, 0L),
      4L -> (2L, 1000000L), 5L -> (1L, 0L)), cov.toString)
    // total covered mass is the corpus
    assert(cov.values.map(_._1).sum == 5L)
    // the global radius is the worst per-center cell radius
    val r = Select.coverageRadius(pts, "vec_id", "embedding", centers)
      .head().getLong(0)
    assert(r == cov.values.map(_._2).max, s"radius $r vs $cov")
    // k > n stops at n without failing
    assert(Select.kCenterGreedy(pts, "vec_id", "embedding", 99)
      .count() == 5L)
  }

  test("rpSigns: bit rule equals the oracle's hex-string rule, stable") {
    // the implementation reads md5 byte 0's high bit; the DuckDB twin
    // compares the first hex CHARACTER against '0'..'7'. Prove the two
    // derivations agree on a grid so neither can drift silently.
    val md = java.security.MessageDigest.getInstance("MD5")
    val s = SimSearch.rpSigns(16, 64)
    for (j <- Seq(0, 3, 15); d <- Seq(0, 17, 63)) {
      val hex = md.digest(s"rp_${j}_${d}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val fromHex = if (hex.charAt(0) <= '7') 1L else -1L
      assert(s(j)(d) == fromHex, s"sign mismatch at ($j,$d)")
      assert(math.abs(s(j)(d)) == 1L)
    }
    // deterministic across calls (no RNG state)
    assert(SimSearch.rpSigns(16, 64).map(_.toSeq).toSeq ==
      s.map(_.toSeq).toSeq)
    // not degenerate: both signs occur
    assert(s.flatten.distinct.sorted.toSeq == Seq(-1L, 1L))
  }

  test("rpReduce: hand-computed fixed-point projection, map-only ints") {
    import spark.implicits._
    val v = Array(0.5f, -0.25f, 1.0f, 0.1f)
    val df = Seq((7L, v)).toDF("vec_id", "embedding")
    val got = SimSearch.rpReduce(df, "vec_id", "embedding",
        outDim = 2, inDim = 4)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Long](1)).toMap
    val s = SimSearch.rpSigns(2, 4)
    val xq = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val want = (0 until 2).map(j =>
      (0 until 4).map(d => s(j)(d) * xq(d)).sum)
    assert(got(7L) == want, s"got ${got(7L)}, want $want")
  }

  test("knnRp: an exact copy ranks first at integer distance zero") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.7).toFloat)
    val far = Array.tabulate(64)(i => (math.cos(2 * i) * 0.9).toFloat)
    val df = Seq((0L, base), (1L, base.clone()), (2L, far))
      .toDF("vec_id", "embedding")
    val top = SimSearch.knnRp(df.filter($"vec_id" === 0), df,
        "vec_id", "vec_id", "embedding", k = 2)
      .orderBy($"rn").collect()
    assert(top.head.getAs[Long]("cid") == 1L)
    assert(top.head.getAs[Long]("rp_fp") == 0L,
      s"copy distance ${top.head.getAs[Long]("rp_fp")}")
  }

  test("knnPrefixRerank: corpus-wide shortlist reproduces the exact " +
      "searcher row for row") {
    // with shortlist >= corpus the coarse pass filters nothing, so the
    // rerank must equal knnBruteL2Fp exactly — same ids, same l2_fp,
    // same ranks. This pins the two stages' arithmetic to the shared
    // fixed-point truth definition.
    import spark.implicits._
    val e = graft.ops.Tables.embeddings(spark, sf)
    val qs = e.filter($"vec_id" < 5)
    val a = SimSearch.knnPrefixRerank(qs, e, "vec_id", "vec_id",
        "embedding", k = 3, prefixDims = 16, shortlist = 1000000)
      .orderBy($"qid", $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    val b = SimSearch.knnBruteL2Fp(qs, e, "vec_id", "vec_id",
        "embedding", k = 3)
      .orderBy($"qid", $"rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(a.nonEmpty && a == b,
      s"prefix-rerank diverges from exact: ${a.diff(b).take(3)}")
  }

  test("q244 maintenance fold: the FULL maintained view equals a " +
      "from-scratch recompute over the final state, every user") {
    // the query emits only changed rows + totals; this pins the rest —
    // a maintenance bug that corrupted an untouched user's row would
    // be invisible to the oracle but fails here
    import spark.implicits._
    val ev = graft.ops.Tables.events(spark, sf)
      .select($"event_id", $"user_id")
    val off = 1000000000000L
    val viewBase = ev.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"event_id").as("e_mass"))
    val ins = ev.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
    val dels = ev.unionByName(ins).filter($"user_id" % 499 === 7)
    val feed = ins
      .select(lit("insert").as("op"), $"event_id", $"user_id")
      .unionByName(dels
        .select(lit("delete").as("op"), $"event_id", $"user_id"))
    assert(feed.filter($"op" === "insert").count() > 0 &&
      feed.filter($"op" === "delete").count() > 0)
    val maintained =
      graft.ops.LlmQueries.maintainUserView(spark, viewBase, feed)
    val recomputed = ev.unionByName(ins)
      .filter($"user_id" % 499 =!= 7)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"event_id").as("e_mass"))
    assert(maintained.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(maintained).isEmpty,
      "maintained view diverges from recompute")
    // and the tombstoned user is truly gone from the maintained view
    assert(maintained.filter($"user_id" === 7L).isEmpty)
  }

  test("q259 value fold: the FULL maintained view — all four CDF ops, " +
      "updates folding (−pre, +post) — equals a from-scratch recompute " +
      "over the final stored state; the ±0 fold provably diverges") {
    import spark.implicits._
    val L = graft.llm.Layout
    val laid = L.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_q259_spec").toString
    L.saveLayout(laid, root)
    val (v1, _) = L.loadLayout(spark, root)
    val off = 1000000000000L
    // commit A: schema-evolving inserts; B: in-place value update;
    // C: RTBF purge — so ONE fold exercises insert, both update images
    // AND delete
    val delta = v1.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .withColumn("weight", $"event_id" % 97).localCheckpoint()
    val up = L.upsertRows(spark, root, "events_z", "file_z", delta,
      "events_z_e2")
    val cohort = v1.select($"user_id").distinct()
      .filter($"user_id" % 499 === 7).collect().map(_.getLong(0)).toSeq
    val ud = L.updateRows(spark, root, "events_z_e2", "file_z", cohort,
      Map("weight" -> (lit(10000L) + $"user_id" % 89)), "events_z_e3")
    val tombs = v1.select($"user_id").distinct()
      .filter($"user_id" % 499 === 11).collect().map(_.getLong(0)).toSeq
    assert(cohort.nonEmpty && tombs.nonEmpty)
    val pg = L.purgeUsers(spark, root, "events_z_e3", "file_z", tombs,
      "events_z_e4")
    val feed = L.changeFeedCdf(spark, root, "events_z", "events_z_e2",
        "file_z", up.touched)
      .unionByName(L.changeFeedCdf(spark, root, "events_z_e2",
        "events_z_e3", "file_z", ud.touched))
      .unionByName(L.changeFeedCdf(spark, root, "events_z_e3",
        "events_z_e4", "file_z", pg.touched))
      .localCheckpoint()
    assert(feed.filter($"op" === "update_preimage").count() > 0 &&
      feed.filter($"op" === "delete").count() > 0)
    val viewBase = v1.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("n_weighted", lit(0L)).withColumn("w_mass", lit(0L))
    val maintained = graft.ops.LlmQueries
      .maintainValueView(spark, viewBase, feed, "weight")
    val (e4, _) = L.loadLayout(spark, root, "events_z_e4",
      mergeSchema = true)
    val recomputed = e4.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        count($"weight").as("n_weighted"),
        coalesce(sum($"weight"), lit(0L)).as("w_mass"))
    assert(maintained.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(maintained).isEmpty,
      "maintained value view diverges from recompute")
    // the OLD algebra (update = ±0: images dropped) must diverge on the
    // value mass — this is the arm q259's oracle gate has teeth on
    val stale = graft.ops.LlmQueries.maintainValueView(spark, viewBase,
      feed.filter(!$"op".startsWith("update")), "weight")
    assert(stale.exceptAll(recomputed).count() > 0,
      "±0 update fold did not diverge — the gate would have no teeth")
    // and the purged users are truly gone from the maintained view
    assert(maintained.filter($"user_id" % 499 === 11).isEmpty)
  }

  test("q263 max fold: the (max, attain-count) algebra — below-max " +
      "removals invisible, multiplicity decrements, equal-adds " +
      "increment, higher adds install, and ONLY dead counters repair") {
    import spark.implicits._
    // user 1: max 10 attained twice; user 2: max 20 once; user 3: 5 once
    val view = Seq((1L, 10L, 2L), (2L, 20L, 1L), (3L, 5L, 1L))
      .toDF("user_id", "w_max", "n_at_max")
    var repaired: Seq[Long] = Nil
    def repair(users: Seq[Long]): org.apache.spark.sql.DataFrame = {
      repaired = users
      // the store recompute for user 2 after its max was removed
      Seq((2L, 7L, 3L)).toDF("user_id", "w_max", "n_at_max")
    }
    val cdf = Seq(
      ("delete", 1L, Some(3L)),            // u1: below max — invisible
      ("update_preimage", 1L, Some(10L)),  // u1: one of two maxima
      ("update_postimage", 1L, Some(10L)), // u1: re-added at the max
      ("delete", 2L, Some(20L)),           // u2: the ONLY max — dead
      ("insert", 2L, Some(6L)),            // u2: below the dead max
      ("insert", 3L, Some(9L)),            // u3: higher — installs
      ("insert", 3L, Some(9L)),            // u3: twice
      ("insert", 4L, None),                // u4: NULL — invisible
      ("insert", 5L, Some(1L))             // u5: first max (bootstrap)
    ).toDF("op", "user_id", "weight")
    val (out, damaged) = graft.ops.LlmQueries.maintainMaxView(spark,
      view, cdf, repair)
    assert(damaged == Seq(2L) && repaired == Seq(2L),
      s"repair set wrong: $damaged / $repaired")
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ((10L, 2L)), // 2 − 1 removed + 1 re-added
      2L -> ((7L, 3L)),  // the repair's recompute
      3L -> ((9L, 2L)),  // new max installed with its attain-count
      5L -> ((1L, 1L))   // bootstrap group
    ), got.toString)
  }
}
