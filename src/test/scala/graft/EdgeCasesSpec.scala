package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, SimSearch}
import graft.ml.{Quality, VolumeAnomaly}
import graft.ops.AsOfJoin

/** Empty-input and degenerate-shape behavior of the library operators:
  * empty in → empty (or well-defined) out, never a crash. At 100 TB a
  * partition, an id range, or a whole day of data being empty is routine.
  */
class EdgeCasesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bench metric line stays inside the driver's 2000-char tail window") {
    // The driver captures only the LAST ~2000 chars of Bench stdout and
    // the sbt [success] footer eats ~130 of them; a metric line past
    // ~1850 chars silently truncates the round's per-query signal.
    // Since round 8 the stdout map is capped at the `Bench.stdoutTopK`
    // slowest queries (+ failures; the full map lives in
    // bench_detail.json), so the line is bounded by the CAP, not the
    // query count: topK × (longest short key + 10 for ":XX.XXX,") +
    // skeleton/qn/qcut/detail/sf + sbt "[info] " prefix ≈ 170. Both
    // Bench.shortKey and Bench.stdoutTopK are the emitter's own
    // rules — shared, not copied, so a format change re-calibrates this
    // estimate. Registration headroom is structural now (the next 40+
    // queries are "qNNN" 4-char keys, already the bound below), but
    // assert it explicitly per the round-7 verdict's done-criterion.
    val maxKey = math.max(5, SparkEntry.queries.keys.toSeq
      .map(k => Bench.shortKey(k).length).max)
    // worst case is topK slowest successes PLUS topK capped failures (a
    // partial-failure round shows both populations), plus the qfail
    // field — model that, not just the success cap
    val est = 180 + (2 * Bench.stdoutTopK) * (maxKey + 10)
    assert(est <= 1850,
      s"estimated Bench line $est chars — the driver tail window will " +
        "truncate it; shrink Bench's stdout top-k cap")
  }

  private def emptyDf(schema: String) = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(schema))
  }

  test("volume features + ranking on an empty counts table") {
    val empty = emptyDf(
      "cluster_id BIGINT, batch_ts BIGINT, log_count BIGINT")
    assert(VolumeAnomaly.features(empty).isEmpty)
    assert(VolumeAnomaly.rankAnomalies(
      VolumeAnomaly.features(empty)).isEmpty)
  }

  test("dedup operators on an empty corpus") {
    val empty = emptyDf("doc_id BIGINT, text STRING, source STRING")
    assert(Dedup.exact(empty, "doc_id", "text").isEmpty)
    assert(Dedup.jaccardPairs(empty, "doc_id", "text", "source", 0.9).isEmpty)
    assert(Dedup.minHashNearDups(empty, "doc_id", "text", 0.5).isEmpty)
    assert(Dedup.simHashNearDups(empty, "doc_id", "text").isEmpty)
    // the SQL-verifiable variants share the same contract
    assert(Dedup.minHashNearDupsSql(empty, "doc_id", "text", 0.5).isEmpty)
    assert(Dedup.simHashNearDupsSql(empty, "doc_id", "text").isEmpty)
    assert(graft.ml.Embed.embedSqlRows(empty, "doc_id", "text").isEmpty)
    val emptyVecs = emptyDf("vec_id BIGINT, embedding ARRAY<FLOAT>")
    assert(Dedup.embeddingKeepers(emptyVecs, "vec_id", "embedding", 0.4,
      v => element_at(v, 1)).isEmpty)
  }

  test("pca projection on an empty input returns an empty frame") {
    val empty = emptyDf(
      "vec_id BIGINT, embedding ARRAY<DOUBLE>, label BIGINT")
    assert(graft.ml.Projection
      .pca2d(empty, "vec_id", "embedding", "label").isEmpty)
  }

  test("connected components on an empty pair set (with and without ids)") {
    import spark.implicits._
    val empty = emptyDf("id_a BIGINT, id_b BIGINT")
    assert(Dedup.connectedComponents(empty).isEmpty)
    val ids = Seq(1L, 2L).toDF("doc_id")
    val total = Dedup.connectedComponents(empty, allIds = Some(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(total == Map(1L -> 1L, 2L -> 2L)) // everyone keeps themselves
  }

  test("knn on empty query/candidate sides") {
    val emptyVecs = emptyDf("vec_id BIGINT, embedding ARRAY<FLOAT>")
    val some = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(SimSearch.knnBrute(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnBrute(some.limit(2), emptyVecs, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnLsh(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnLshSql(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    // the round-10 reduced-dim searchers inherit the same contract
    assert(SimSearch.knnRp(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnRp(some.limit(2), emptyVecs, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnPrefixRerank(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
    assert(SimSearch.knnBruteL2Fp(emptyVecs, some, "vec_id", "vec_id",
      "embedding", 5).isEmpty)
  }

  test("k-center selection guards: empty input throws, k=1 is the seed") {
    import graft.llm.Select
    val emptyVecs = emptyDf("vec_id BIGINT, embedding ARRAY<FLOAT>")
    val ex = intercept[IllegalArgumentException] {
      Select.kCenterGreedy(emptyVecs, "vec_id", "embedding", 3)
    }
    assert(ex.getMessage.contains("empty input"), ex.getMessage)
    val some = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val one = Select.kCenterGreedy(some, "vec_id", "embedding", 1)
      .collect()
    assert(one.length == 1 && one.head.getInt(0) == 0 &&
      one.head.getLong(2) == 0L)
    // per-round codegen is O(k·dim) literals — k beyond MaxGreedyK is
    // rejected up front instead of failing inside codegen
    val big = intercept[IllegalArgumentException] {
      Select.kCenterGreedy(some, "vec_id", "embedding",
        Select.MaxGreedyK + 1)
    }
    assert(big.getMessage.contains("batched"), big.getMessage)
  }

  test("knnPrefixRerank guards: bad prefixDims/shortlist throw, short " +
      "vectors fail loudly instead of null-ranking first") {
    import graft.llm.SimSearch
    import spark.implicits._
    val some = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    intercept[IllegalArgumentException] {
      SimSearch.knnPrefixRerank(some, some, "vec_id", "vec_id",
        "embedding", k = 5, prefixDims = 0)
    }
    intercept[IllegalArgumentException] {
      SimSearch.knnPrefixRerank(some, some, "vec_id", "vec_id",
        "embedding", k = 5, shortlist = 3)
    }
    // a 4-dim vector under prefixDims=16 used to null-pad via zip_with
    // and float silently to the top of the shortlist; now the job fails
    val short = Seq((1L, Seq(1f, 2f, 3f, 4f)), (2L, Seq(2f, 1f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimSearch.knnPrefixRerank(short, short, "vec_id", "vec_id",
        "embedding", k = 1, prefixDims = 16, shortlist = 1).collect()
    }
    assert(e.getMessage != null &&
      e.toString.contains("knnPrefixRerank"), e.toString)
  }

  test("asof join with an empty right side leaves all lefts unmatched") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e1")).toDF("k", "ts", "name")
    val right = emptyDf("k BIGINT, ts BIGINT, rid BIGINT")
    val got = AsOfJoin.asofLeft(left, right, "k", "ts", Seq("rid")).collect()
    assert(got.length == 1 && got(0).isNullAt(got(0).fieldIndex("asof_rid")))
  }

  test("growing one-hot refuses a high-cardinality category column") {
    import spark.implicits._
    val root = Files.createTempDirectory("onehot_guard").toString
    val wide = spark.range(50).select($"id".cast("string").as("cat"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.GrowingOneHot.updateDict(
        wide, "cat", root, maxCategories = 10)
    }
    assert(e.getMessage.contains("hash-encode"))
    // nothing was published: a fresh load still sees an empty dictionary
    assert(graft.streaming.GrowingOneHot.loadDict(spark, root).isEmpty)
    // under the ceiling the same input is fine
    val ok = graft.streaming.GrowingOneHot.updateDict(
      wide, "cat", root, maxCategories = 64)
    assert(ok.size == 50)
  }

  test("sequential folds fail loudly past spark.graft.fold.maxRows") {
    import spark.implicits._
    import graft.ml.{Centroids, DenStream}
    def causeChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString("|")
    val df = (1L to 10L).map(i => (i, Array(i.toFloat)))
      .toDF("id", "vec")
    spark.conf.set(Centroids.FoldMaxRowsKey, "5")
    try {
      val eAssign = intercept[Exception] {
        Centroids.assign(df, "id", "vec", 0.1).collect()
      }
      assert(causeChain(eAssign).contains(Centroids.FoldMaxRowsKey))
      val eShard = intercept[Exception] {
        Centroids.assignSharded(df, "id", "vec", 0.1, shards = 1).collect()
      }
      assert(causeChain(eShard).contains(Centroids.FoldMaxRowsKey))
      val eFit = intercept[IllegalStateException] {
        DenStream.fit(df, "id", "vec", 0.9)
      }
      assert(eFit.getMessage.contains(Centroids.FoldMaxRowsKey))
      // within the bound the same inputs still fold normally
      spark.conf.set(Centroids.FoldMaxRowsKey, "10")
      assert(Centroids.assign(df, "id", "vec", 0.1).count() == 10)
      assert(DenStream.fit(df, "id", "vec", 0.9).clusters.nonEmpty)
    } finally spark.conf.unset(Centroids.FoldMaxRowsKey)
  }

  test("Ivf.fitCentroids fails loudly past spark.graft.ivf.maxFitRows") {
    import spark.implicits._
    import graft.llm.Ivf
    val df = (1L to 10L).map(i => (i, Array(i.toDouble, -i.toDouble)))
      .toDF("id", "vec")
    spark.conf.set(Ivf.FitMaxRowsKey, "5")
    try {
      val e = intercept[IllegalStateException] {
        Ivf.fitCentroids(df, "id", "vec", nlist = 2).collect()
      }
      assert(e.getMessage.contains(Ivf.FitMaxRowsKey))
      // within the bound the same input still fits normally
      spark.conf.set(Ivf.FitMaxRowsKey, "10")
      assert(Ivf.fitCentroids(df, "id", "vec", nlist = 2).count() == 2)
      // a typo'd conf value names the knob instead of throwing a bare
      // NumberFormatException deep inside the fit
      spark.conf.set(Ivf.FitMaxRowsKey, "ten")
      val bad = intercept[IllegalArgumentException] {
        Ivf.fitCentroids(df, "id", "vec", nlist = 2).collect()
      }
      assert(bad.getMessage.contains(Ivf.FitMaxRowsKey)
        && bad.getMessage.contains("ten"))
      // Long.MaxValue must clamp, not overflow maxFit+1 into limit(<0)
      spark.conf.set(Ivf.FitMaxRowsKey, Long.MaxValue.toString)
      assert(Ivf.fitCentroids(df, "id", "vec", nlist = 2).count() == 2)
    } finally spark.conf.unset(Ivf.FitMaxRowsKey)
  }

  test("Ivf packed argmin (large-nlist path) matches the unrolled expression") {
    import spark.implicits._
    import graft.llm.Ivf
    val df = ((1L to 40L)
      .map(i => (i, Array(math.sin(i.toDouble) * 10, (i % 7).toDouble))) ++
      // degenerate rows must assign IDENTICALLY across the dispatch
      // bound: null vector → null list on both paths; NaN elements →
      // both paths seat the smallest-list NaN candidate
      Seq((98L, null.asInstanceOf[Array[Double]]),
        (99L, Array(Double.NaN, 1.0))))
      .toDF("id", "vec")
    // fit on the clean rows only (a real fit sample is pre-filtered);
    // the degenerate rows exercise the ASSIGN paths below
    val cents = Ivf.fitCentroids(df.filter($"id" <= 40L), "id", "vec",
      nlist = 5)
    def assigned(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "list_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
        .sortBy(_._1).toSeq
    val inline = assigned(Ivf.assignIndex(df, "id", "vec", cents))
    assert(inline.find(_._1 == 98L).exists(_._2 == -1),
      "null vector must assign a null list")
    // both argmin expressions through the same null guard the index
    // applies: the unrolled one is what assignIndex ran at this nlist;
    // the packed aggregate-HOF one (production thousands-of-lists shape)
    // must give identical assignments — including identical
    // (distance, list_id) tie-breaks and the null/NaN degenerates
    val centList = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    def assignedBy(argmin: (org.apache.spark.sql.Column,
        Seq[(Int, Seq[Double])]) => org.apache.spark.sql.Column) =
      assigned(df.select($"id",
        Ivf.guarded(argmin, $"vec", centList).as("list_id")))
    assert(assignedBy(Ivf.assignExpr) == inline)
    assert(assignedBy(Ivf.assignExprPacked) == inline)
  }

  test("q98 driver-fit guard points at the q26 aggregation") {
    graft.ops.MlQueries.requireDriverFitScale(100000) // at the bound: fine
    val e = intercept[IllegalArgumentException] {
      graft.ops.MlQueries.requireDriverFitScale(100001)
    }
    assert(e.getMessage.contains("q26_volume_features")
      && e.getMessage.contains("VolumeAnomaly.features"))
  }

  test("Ivf on empty input: empty centroids, empty index, no throw") {
    import graft.llm.Ivf
    val empty = emptyDf("id BIGINT, vec ARRAY<DOUBLE>")
    assert(Ivf.fitCentroids(empty, "id", "vec", nlist = 2).isEmpty)
    val (index, cents) = Ivf.buildIndex(empty, "id", "vec", nlist = 2)
    assert(index.isEmpty && cents.isEmpty)
    // a non-empty corpus against an empty (failed/filtered) fit also
    // degrades to an empty index rather than an analysis error
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "vec")
    assert(Ivf.assignIndex(df, "id", "vec", cents).isEmpty)
  }

  test("quality metrics on single-class / single-cluster degenerate input") {
    import spark.implicits._
    // all rows one class AND one cluster: H(C)=H(K)=0 -> convention 1.0/1.0
    val df = Seq(("a", 1), ("a", 1)).toDF("lab", "cl")
    val r = Quality.homogeneityCompleteness(df, "lab", "cl").collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0)
    assert(!r.getDouble(2).isNaN) // v_measure guard
  }

  test("Ranks.globalRowNumber equals the window row_number on mixed, " +
      "tied and constant keys; rowsAtRanks picks the exact rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // ties (score 5 x3), negatives, a constant run, and unique ids —
    // the shapes that break naive range ranking (ties straddling a
    // split, surrogate collisions)
    val rows = Seq(5L -> 1L, 3L -> 2L, 5L -> 3L, -7L -> 4L, 0L -> 5L,
      5L -> 6L, 3L -> 7L, 11L -> 8L, 0L -> 9L, -7L -> 10L)
    val df = rows.toDF("score", "id")
    val (ranked, total) = graft.functions.Ranks.globalRowNumber(
      df, Seq($"score".desc, $"id"), -$"score", "rk", nRanges = 4)
    assert(total == rows.length)
    val got = ranked.select($"id", $"rk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("rk",
        row_number().over(Window.orderBy($"score".desc, $"id")))
      .select($"id", $"rk").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got == want, s"got $got want $want")
    // constant surrogate: everything lands in one range — the
    // documented floor — but ranks stay exact
    val const = Seq.tabulate(7)(i => (1L, i.toLong)).toDF("score", "id")
    val (cr, ct) = graft.functions.Ranks.globalRowNumber(
      const, Seq($"id"), $"score", "rk", nRanges = 4)
    assert(ct == 7 &&
      cr.select($"id", $"rk").collect()
        .forall(r => r.getLong(1) == r.getLong(0) + 1))
    // rowsAtRanks returns exactly the requested ranks
    val (picked, t2) = graft.functions.Ranks.rowsAtRanks(
      df, Seq($"score".desc, $"id"), -$"score",
      n => Seq(1L, n / 2, n), "rk", nRanges = 4)
    assert(t2 == rows.length)
    val pr = picked.select($"rk", $"id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantInv = want.map(_.swap)
    assert(pr == Map(1L -> wantInv(1L), 5L -> wantInv(5L),
      10L -> wantInv(10L)), pr.toString)
  }

  test("Ranks on an empty frame: zero total, empty output, no throw") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val empty = Seq.empty[(Long, Long)].toDF("score", "id")
    val (ranked, total) = graft.functions.Ranks.globalRowNumber(
      empty, Seq($"score", $"id"), $"score", "rk")
    assert(total == 0 && ranked.count() == 0)
    val (picked, t2) = graft.functions.Ranks.rowsAtRanks(
      empty, Seq($"score", $"id"), $"score",
      n => Seq(math.max(1L, n)), "rk")
    assert(t2 == 0 && picked.count() == 0)
  }
}
