package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ivf, SimSearch}
import graft.ops.SkewJoin

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("ivf: centroids deterministic; recall@5 >= 0.5 at nprobe=4/16") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val c1 = Ivf.fitCentroids(e, "vec_id", "embedding", 16)
      .orderBy("list_id").collect().map(_.getSeq[Double](1).head)
    val c2 = Ivf.fitCentroids(e, "vec_id", "embedding", 16)
      .orderBy("list_id").collect().map(_.getSeq[Double](1).head)
    assert(c1.sameElements(c2))

    val q = e.filter($"vec_id" < 20)
    val brute = SimSearch.knnBrute(q, e, "vec_id", "vec_id", "embedding", 5)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (index, cents) = Ivf.buildIndex(e, "vec_id", "embedding", 16)
    val approx = Ivf.knn(q, index, cents, "vec_id", "embedding", 5, 4)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"ivf recall@5 $recall")
  }

  test("ivf index partitions the corpus: every vector in exactly one list") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val (index, _) = Ivf.buildIndex(e, "vec_id", "embedding", 16)
    assert(index.count() == e.count())
    assert(index.select("id").distinct().count() == e.count())
  }

  test("connected components converge in bounded rounds") {
    import spark.implicits._
    // star: every label lands in one round, one more round detects quiet
    val star = (2L to 10L).map(i => (1L, i)).toDF("id_a", "id_b")
    val (sl, starRounds) =
      graft.llm.Dedup.connectedComponentsWithRounds(star)
    assert(sl.collect().map(_.getLong(1)).forall(_ == 1L))
    assert(starRounds <= 2, s"star graph took $starRounds rounds")
    // path 1-2-3-4-5-6: diameter 5 → ≤ 5 moving rounds + 1 quiescent
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (pl, pathRounds) =
      graft.llm.Dedup.connectedComponentsWithRounds(path)
    assert(pl.collect().map(_.getLong(1)).toSet == Set(1L))
    assert(pathRounds <= 6, s"diameter-5 path took $pathRounds rounds")
  }

  test("salted join returns exactly the plain join's rows") {
    import spark.implicits._
    // skewed left: key 1 dominates
    val left = ((1 to 500).map(i => (1L, i.toLong)) ++
      (1 to 50).map(i => (2L, i.toLong))).toDF("k", "lv")
    val right = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "rv")
    val plain = left.join(right, "k").orderBy("k", "lv")
      .collect().map(_.toString)
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", salts = 8)
      .orderBy("k", "lv").collect().map(_.toString)
    assert(salted.sameElements(plain))
  }

  test("salt spreads the hot key across partitions") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (1L, i.toLong)).toDF("k", "lv")
    val salts = left.withColumn("_salt",
      pmod(hash(left.columns.map(col): _*), lit(8)))
      .select("_salt").distinct().count()
    assert(salts >= 6, s"hot key only reached $salts of 8 salt buckets")
  }

  test("GraftExtensions: SQL functions injected, self-distance folded") {
    // a separate session with the extensions class wired in. The
    // `spark.sql.extensions` conf takes effect only when the SparkContext
    // starts, so on the shared context the class goes in through
    // withExtensions, and create() builds a new session beside the
    // shared one (which getOrCreate would return unchanged)
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .create()
    try {
      val one = s2.sql(
        "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(one - 1.0) < 1e-12)
      // self sq-euclidean folds to a literal in the optimized plan
      val df = s2.sql(
        "SELECT graft_sq_euclidean(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS d")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("graft_sq_euclidean") &&
        optimized.contains("0.0"), s"not folded:\n$optimized")
      assert(df.collect()(0).getDouble(0) == 0.0)
    } finally {
      // do NOT s2.stop(): it would stop the JVM-shared SparkContext out
      // from under the other suites' cached session. create() made s2
      // the default and active session; hand both back
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
