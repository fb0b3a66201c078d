package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml._
import graft.pipeline.Enrich
import graft.state.ModelStore

class MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("embedder is deterministic and L2-normalized") {
    val a = Embed.embed("error user=42. Parsed: {\"k\": 7}")
    val b = Embed.embed("error user=42. Parsed: {\"k\": 7}")
    assert(a.sameElements(b))
    val n = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    // different text -> different vector
    val c = Embed.embed("signup user=42. Parsed: {\"k\": 7}")
    assert(!a.sameElements(c))
  }

  test("per-row denseSqlVecExpr equals the batch denseSqlVectors builder " +
      "on whitespace/null/empty edge cases") {
    import spark.implicits._
    // edge fixture: multi-space, tabs+newlines, empty, null, repeated
    // tokens (bucket sums > 1), single token
    val docs = Seq(
      (1L, "alpha  beta\tgamma\nalpha"),
      (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "alpha"), (5L, "  beta beta beta  "))
      .toDF("doc_id", "text")
    val batch = Embed.denseSqlVectors(docs, "doc_id", "text", dim = 8)
      .as[(Long, Seq[Double])].collect().toMap
    val perRow = docs.select($"doc_id",
        Embed.denseSqlVecExpr($"text", 8).as("vec"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(batch.keySet == perRow.keySet)
    batch.foreach { case (id, v) => assert(perRow(id) == v, s"doc $id") }
    // null and empty both give the zero vector (the batch left-join rule)
    assert(perRow(2L) == Seq.fill(8)(0.0) && perRow(3L) == Seq.fill(8)(0.0))
    // repeated token accumulates: doc 5's beta coordinate is ±3
    assert(perRow(5L).exists(x => math.abs(x) == 3.0), perRow(5L).toString)
  }

  test("minkowski scala/column forms agree and satisfy metric axioms") {
    val a = Array(0.1f, 0.5f, -0.3f)
    val b = Array(0.2f, -0.1f, 0.4f)
    val d = Distance.minkowskiS(a, b, 1.5)
    assert(d > 0)
    assert(Distance.minkowskiS(a, a, 1.5) == 0.0)
    assert(math.abs(Distance.minkowskiS(b, a, 1.5) - d) < 1e-12)
    // column form agrees
    import spark.implicits._
    val df = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
    val dc = df.select(Distance.minkowski(col("a").cast("array<double>"),
      col("b").cast("array<double>"), 1.5)).first().getDouble(0)
    assert(math.abs(dc - d) < 1e-6)
  }

  test("centroid fold: first vector founds sem_grp_<id>, near joins, far founds") {
    val v1 = Array(1f, 0f, 0f, 0f)
    val v2 = Array(0.99f, 0.1f, 0f, 0f) // near v1
    val v3 = Array(0f, 1f, 0f, 0f)      // far
    val (cs, out) = Centroids.foldAssign(
      Iterator((10L, v1), (11L, v2), (12L, v3)), threshold = 0.5)
    assert(cs.map(_.semanticId) == Seq("sem_grp_10", "sem_grp_12"))
    assert(out.toSeq == Seq((10L, "sem_grp_10"), (11L, "sem_grp_10"),
      (12L, "sem_grp_12")))
    assert(cs(0).n == 2 && cs(1).n == 1)
  }

  test("centroid fold with pluggable distance: q68's sqEuclid semantics " +
      "(first-min tie-break, strict < threshold)") {
    // exact-integer geometry: two founders equidistant from v3 — the FIRST
    // live centroid must win the argmin (dd < bestD, not <=)
    val v1 = Array(2f, 0f)
    val v2 = Array(0f, 2f)
    val v3 = Array(1f, 1f) // sqd 2 to both
    val (_, out) = Centroids.foldAssignWith(
      Iterator((1L, v1), (2L, v2), (3L, v3)), threshold = 3.0,
      Distance.sqEuclideanS)
    assert(out.toSeq == Seq((1L, "sem_grp_1"), (2L, "sem_grp_2"),
      (3L, "sem_grp_1")))
    // strict <: a distance exactly AT the threshold founds a new group
    val (cs2, _) = Centroids.foldAssignWith(
      Iterator((1L, v1), (2L, v2)), threshold = 8.0, // sqd(v1,v2) == 8
      Distance.sqEuclideanS)
    assert(cs2.map(_.semanticId) == Seq("sem_grp_1", "sem_grp_2"))
  }

  test("centroids do not drift (reference behavior, vector_engine.py:38-39)") {
    val v1 = Array(1f, 0f)
    val v2 = Array(0.9f, 0.1f)
    val (cs, _) = Centroids.foldAssign(Iterator((1L, v1), (2L, v2)), 0.5)
    assert(cs(0).center.sameElements(v1))
  }

  test("DenStream: merges within epsilon, new cluster beyond, predicts noise") {
    val m = new DenStream.Model(epsilon = 0.5, lambda = 0.0)
    m.learnOne(Array(1f, 0f))
    m.learnOne(Array(0.9f, 0f)) // merges
    m.learnOne(Array(-1f, 0f))  // new
    assert(m.clusters.length == 2)
    assert(m.clusters(0).weight == 2.0)
    assert(m.predictOne(Array(0.95f, 0f)) == 0)
    assert(m.predictOne(Array(-0.95f, 0f)) == 1)
    assert(m.predictOne(Array(0f, 10f)) == -1) // noise
  }

  test("DenStream.withPredictions equals predictOne row for row") {
    import spark.implicits._
    val m = new DenStream.Model(epsilon = 1.5, lambda = 0.0)
    m.learnOne(Array(1f, 0f)); m.learnOne(Array(-1f, 0f)) // ids 0, 1
    val vecs: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(0f, 0f),     // equidistant: the first micro-cluster
      2L -> Array(1f, 1.5f),   // exactly epsilon from cluster 0: noise
      3L -> null,              // null embedding: noise
      4L -> Array(0.9f, 0.1f),
      5L -> Array(-1.2f, 0f),
      6L -> Array(10f, 10f))   // far from both: noise
    val expected = Map(1L -> 0, 2L -> -1, 3L -> -1, 4L -> 0, 5L -> 1,
      6L -> -1)
    assert(vecs.map { case (id, v) => id -> m.predictOne(v) }.toMap
      == expected)
    val udfSide = DenStream.withPredictions(vecs.toDF("id", "vec"), m, "vec")
      .select("id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(udfSide == expected)
  }

  test("DenStream decay halves weight after 1/lambda steps shape") {
    val m = new DenStream.Model(epsilon = 0.1, lambda = 0.1)
    m.learnOne(Array(1f, 0f))
    // 10 far points advance the clock by 10 -> first cluster decays 2^-1
    (1 to 10).foreach(i => m.learnOne(Array(-1f - i * 10f, 0f)))
    val w = m.clusters.head.weight
    assert(w < 1.0 && w > 0.4, s"weight $w")
  }

  test("quality gate: pipeline clustering reaches the reference's 0.8 bar") {
    // the reference's own acceptance threshold (validate_quality.py:84-85)
    import spark.implicits._
    val (h, model) = Enrich.trainingBatch(spark, sf, limit = 1000) {
      (enriched, model) =>
        val scored = enriched.filter($"cluster_id" >= 0)
        (Quality.homogeneityCompleteness(scored, "event_type", "cluster_id")
          .collect()(0), model)
    }
    assert(h.getDouble(0) > 0.8, s"homogeneity ${h.getDouble(0)}")
    assert(h.getDouble(1) > 0.5, s"completeness ${h.getDouble(1)}")
    assert(model.clusters.nonEmpty)
  }

  test("homogeneity/completeness exact on a hand-computed 2x2 table") {
    import spark.implicits._
    // classes {a,a,b,b}, clusters {1,1,1,2}: H(C)=ln2
    // joint: (a,1)=2, (b,1)=1, (b,2)=1
    val df = Seq(("a", 1), ("a", 1), ("b", 1), ("b", 2)).toDF("lab", "cl")
    val r = Quality.homogeneityCompleteness(df, "lab", "cl").collect()(0)
    val ln2 = math.log(2)
    // H(C|K): cluster1 (n=3): -(2/4)ln(2/3) - (1/4)ln(1/3); cluster2: 0
    val hck = -(2.0 / 4) * math.log(2.0 / 3) - (1.0 / 4) * math.log(1.0 / 3)
    val expectedHomog = 1.0 - hck / ln2
    assert(math.abs(r.getDouble(0) - expectedHomog) < 1e-9)
  }

  test("silhouette: two tight separated clusters score near 1") {
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(0.0, 0.0), 0L), (2L, Seq(0.1, 0.0), 0L),
      (3L, Seq(10.0, 0.0), 1L), (4L, Seq(10.1, 0.0), 1L))
      .toDF("id", "v", "cl")
    val sGot = Quality.silhouette(pts, "id", "v", "cl")
      .collect()(0).getDouble(0)
    assert(sGot > 0.97, s"silhouette $sGot")
  }

  test("simplified silhouette tracks the exact metric on separated clusters") {
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(0.0, 0.0), 0L), (2L, Seq(0.1, 0.0), 0L),
      (3L, Seq(10.0, 0.0), 1L), (4L, Seq(10.1, 0.0), 1L))
      .toDF("id", "v", "cl")
    val exact = Quality.silhouette(pts, "id", "v", "cl")
      .collect()(0).getDouble(0)
    val simp = Quality.silhouetteSimplified(pts, "id", "v", "cl")
      .collect()(0).getDouble(0)
    assert(simp > 0.97, s"simplified silhouette $simp")
    assert(math.abs(simp - exact) < 0.05,
      s"simplified $simp vs exact $exact diverge")
  }

  test("pca projection recovers the dominant variance axis") {
    import spark.implicits._
    // variance lives along (1, 2, 0, 0)/√5; tiny orthogonal jitter
    val pts = (0 until 100).map { i =>
      val t = i - 49.5
      (i.toLong, Seq(t, 2 * t, (i % 3) * 0.01, (i % 5) * 0.01), 0L)
    }.toDF("vec_id", "embedding", "label")
    val proj = Projection.pca2d(pts, "vec_id", "embedding", "label")
      .orderBy("id").collect()
    val pc1 = proj.map(_.getDouble(1))
    val ts = (0 until 100).map(i => i - 49.5)
    // perfect alignment → |corr(pc1, t)| ≈ 1
    val n = pc1.length
    val (mx, my) = (pc1.sum / n, ts.sum / n)
    val corr = pc1.zip(ts).map { case (x, y) => (x - mx) * (y - my) }.sum /
      math.sqrt(pc1.map(x => (x - mx) * (x - mx)).sum *
        ts.map(y => (y - my) * (y - my)).sum)
    assert(math.abs(corr) > 0.999, s"pc1 misaligned: corr $corr")
    // determinism (fixed start vector, sign-fixed eigenvectors)
    val again = Projection.pca2d(pts, "vec_id", "embedding", "label")
      .orderBy("id").collect().map(_.getDouble(1))
    assert(again.sameElements(pc1))
  }

  test("pca handles an anti-correlated (equicorrelated-covariance) axis") {
    import spark.implicits._
    // variance along (1,-1)/√2: the uniform start vector is an exact
    // NON-dominant eigenvector of this covariance — a fixed uniform
    // start would never rotate onto the true axis
    val pts = (0 until 100).map { i =>
      val t = i - 49.5
      (i.toLong, Seq(t, -t), 0L)
    }.toDF("vec_id", "embedding", "label")
    val pc1 = Projection.pca2d(pts, "vec_id", "embedding", "label")
      .orderBy("id").collect().map(_.getDouble(1))
    val ts = (0 until 100).map(i => (i - 49.5).toDouble)
    val n = pc1.length
    val (mx, my) = (pc1.sum / n, ts.sum / n)
    val corr = pc1.zip(ts).map { case (x, y) => (x - mx) * (y - my) }.sum /
      math.sqrt(pc1.map(x => (x - mx) * (x - mx)).sum *
        ts.map(y => (y - my) * (y - my)).sum)
    assert(math.abs(corr) > 0.999, s"pc1 missed the diagonal axis: $corr")
  }

  test("isolation forest edge cases: exact c(2), degenerate fits") {
    import spark.implicits._
    // c(2) is exact (H(1)=1): the ln+γ approximation would give 0.154
    assert(IsolationForest.avgPathLength(2) == 1.0)
    // single-row fit: no isolation information → indistinct 0.5, not NaN
    val m1 = IsolationForest.fit(Array(Array(1.0, 2.0)))
    assert(IsolationForest.score(m1, Array(1.0, 2.0)) == 0.5)
    // empty feature frame → empty ranking (same contract as rankAnomalies)
    val empty = Seq.empty[(Long, Long, Long)]
      .toDF("cluster_id", "batch_ts", "log_count")
    val feats = VolumeAnomaly.features(empty)
    assert(VolumeAnomaly.rankAnomaliesIF(feats).isEmpty)
  }

  test("isolation forest: outlier scores above inliers, threshold flags it") {
    val inliers = (1 to 100).map(i =>
      Array(10.0 + (i % 5) * 0.1, (i % 3) * 0.1)).toArray
    val data = inliers :+ Array(100.0, 50.0)
    val m = IsolationForest.fit(data)
    val outScore = IsolationForest.score(m, Array(100.0, 50.0))
    val inScore = IsolationForest.score(m, Array(10.2, 0.1))
    assert(outScore > inScore, s"outlier $outScore <= inlier $inScore")
    assert(IsolationForest.isAnomaly(m, Array(100.0, 50.0)))
    assert(!IsolationForest.isAnomaly(m, Array(10.2, 0.1)))
    // seed-fixed determinism
    val m2 = IsolationForest.fit(data)
    assert(IsolationForest.score(m2, Array(100.0, 50.0)) == outScore)
  }

  test("md5 forest (q98 twin): deterministic, isolates the outlier, " +
      "flags the contamination fraction") {
    val inliers = (1 to 100).map(i =>
      Array(10.0 + (i % 5) * 0.1, (i % 3) * 0.1)).toArray
    val data = inliers :+ Array(100.0, 50.0)
    val m = IsolationForest.fitMd5(data, nTrees = 5)
    val outScore = IsolationForest.score(m, Array(100.0, 50.0))
    assert(inliers.forall(x => IsolationForest.score(m, x) < outScore),
      "outlier must score strictly above every inlier")
    assert(IsolationForest.isAnomaly(m, Array(100.0, 50.0)))
    // no RNG state: refitting is bit-identical (position-keyed md5 draws)
    val m2 = IsolationForest.fitMd5(data, nTrees = 5)
    assert(m2.threshold == m.threshold)
    assert(data.forall(x =>
      IsolationForest.score(m2, x) == IsolationForest.score(m, x)))
    // contamination 0.05 on 101 points: threshold = 96th smallest score,
    // so at most 5 points can score strictly above it
    assert(data.count(x => IsolationForest.isAnomaly(m, x)) <= 5)
  }

  test("isolation-forest ranking flags the same set as the z-gate") {
    import spark.implicits._
    // the spike fixture: the IF-ranked flag set must equal the z-ranked
    // one — the reference consumes its forest only through this gate
    val counts = (1 to 5).flatMap(c =>
      (1 to 6).map(t => (c.toLong, t.toLong, 10L))) ++
      ((1 to 5).map(t => (6L, t.toLong, 10L)) :+ (6L, 6L, 100L))
    val feats = VolumeAnomaly.features(
      counts.toDF("cluster_id", "batch_ts", "log_count"))
    val zSet = VolumeAnomaly.rankAnomalies(feats).collect()
      .map(_.getAs[Long]("cluster_id")).toSet
    val ifSet = VolumeAnomaly.rankAnomaliesIF(feats).collect()
      .map(_.getAs[Long]("cluster_id")).toSet
    assert(ifSet == zSet && ifSet == Set(6L), s"IF $ifSet vs z $zSet")
  }

  test("volume features + ranking: injected spike is flagged first") {
    import spark.implicits._
    // five flat clusters + one spiking: ratio 1/6 stays under the 30%
    // guard (with only 2 clusters the reference guard would also skip)
    val counts = (1 to 5).flatMap(c =>
      (1 to 6).map(t => (c.toLong, t.toLong, 10L))) ++
      ((1 to 5).map(t => (6L, t.toLong, 10L)) :+ (6L, 6L, 100L))
    val df = counts.toDF("cluster_id", "batch_ts", "log_count")
    val feats = VolumeAnomaly.features(df)
    val f2 = feats.filter($"cluster_id" === 6).collect()(0)
    assert(f2.getAs[Long]("velocity") == 90L)
    val flagged = VolumeAnomaly.rankAnomalies(feats)
    val rows = flagged.collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("cluster_id") == 6L)
  }

  test("anomaly guard: >30% flagged emits nothing") {
    import spark.implicits._
    // 2 clusters, both spiking -> both would flag -> ratio 1.0 > 0.3 -> none
    val counts = ((1 to 5).map(t => (1L, t.toLong, 10L)) :+ (1L, 6L, 100L)) ++
      ((1 to 5).map(t => (2L, t.toLong, 10L)) :+ (2L, 6L, 100L))
    val feats = VolumeAnomaly.features(
      counts.toDF("cluster_id", "batch_ts", "log_count"))
    assert(VolumeAnomaly.rankAnomalies(feats).isEmpty)
  }

  test("incident merge splits refresh vs create") {
    import spark.implicits._
    val flagged = Seq((1L, 1L, 10L, -2.0, -1.5), (2L, 1L, 20L, -3.0, -2.0))
      .toDF("cluster_id", "batch_ts", "log_count", "score", "score_z")
    val open = Seq(Tuple1(1L)).toDF("cluster_id")
    val m = VolumeAnomaly.mergeIncidents(flagged, open).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[String]("action"))
      .toMap
    assert(m == Map(1L -> "refresh", 2L -> "create"))
  }

  test("approx aggregates stay within tolerance of exact counterparts") {
    import spark.implicits._
    // q35 now carries the tolerance gates in-query (users_ok/median_ok
    // booleans the oracle pins to TRUE) alongside the oracle-checked
    // exact columns — assert the gates hold and the exacts agree with an
    // independently computed baseline
    val rows = graft.ops.MlQueries.q35ApproxAggs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[String]("event_type")
      assert(r.getAs[Boolean]("users_ok"), s"$k HLL out of 15% tolerance")
      assert(r.getAs[Boolean]("median_ok"), s"$k approx median off")
    }
    val exact = graft.ops.Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id").as("u"),
        org.apache.spark.sql.functions.expr("percentile(value, 0.5)").as("m"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (u, m) = exact(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("exact_users") == u)
      assert(math.abs(r.getAs[Double]("exact_median") - m) < 1e-4)
    }
  }

  test("sharded semantic grouping covers every row with shard-local names") {
    val out = graft.ops.MlQueries.q36SemanticSharded(spark, sf).collect()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == 1000L) // all sf0.001 events assigned exactly once
    assert(out.forall(_.getAs[String]("semantic_group").startsWith("s")))
  }

  test("ModelStore blue/green: publish swaps staging to prod with backup") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-state").toString
    val v1 = Seq((1, "a")).toDF("id", "x")
    ModelStore.save(v1, root, "centroids")
    assert(ModelStore.load(spark, root, "centroids").count() == 1)
    val v2 = Seq((1, "a"), (2, "b")).toDF("id", "x")
    ModelStore.save(v2, root, "centroids")
    assert(ModelStore.load(spark, root, "centroids").count() == 2)
    assert(spark.read.parquet(s"$root/centroids_backup").count() == 1)
  }

  test("DenStream state round-trips through a DataFrame") {
    val m = new DenStream.Model(1.0, 0.0005)
    m.learnOne(Array(1f, 0f)); m.learnOne(Array(-1f, 0f))
    val df = DenStream.stateDF(spark, m)
    val m2 = DenStream.fromStateDF(df, 1.0, 0.0005)
    assert(m2.clusters.length == 2)
    assert(m2.predictOne(Array(0.9f, 0f)) == m.predictOne(Array(0.9f, 0f)))
  }

  test("restored DenStream continues learning with fresh ids (no collisions)") {
    val m = new DenStream.Model(0.5, 0.0005)
    m.learnOne(Array(1f, 0f)); m.learnOne(Array(-1f, 0f)) // ids 0, 1
    val m2 = DenStream.fromStateDF(DenStream.stateDF(spark, m), 0.5, 0.0005)
    m2.learnOne(Array(0f, 5f)) // outlier -> new cluster, must not reuse 0
    val ids = m2.clusters.map(_.id)
    assert(ids.distinct.length == ids.length, s"duplicate ids: $ids")
    assert(ids.max == 2)
  }
}
