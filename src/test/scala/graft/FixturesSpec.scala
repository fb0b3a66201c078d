package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.{Fixtures, Fs}

/** The rules of [[graft.util.Fixtures]]: once per key, nothing
  * registered by a failed build, nested builds, one build under
  * contention; and that the registered fixtures stay bounded across
  * invocations and do not depend on the order queries run in. */
class FixturesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** A dataset-dir key no query ever uses. */
  private def freshDir(): String =
    "fixtures-spec/" + java.util.UUID.randomUUID()

  test("a throwing build registers nothing; the next call builds again") {
    val d = freshDir()
    val builds = new AtomicInteger
    val thrown = intercept[IllegalStateException] {
      Fixtures.store("spec", d) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(thrown.getMessage == "build failed")
    assert(Fixtures.store("spec", d) { builds.incrementAndGet(); "built" }
      == "built")
    assert(Fixtures.store("spec", d) { builds.incrementAndGet(); "again" }
      == "built")
    assert(builds.get == 2)
  }

  test("a build that requests other keys on the same thread completes") {
    // a chain of nested builds, each requesting the next key from inside
    // its own build: deep enough that a registry handing builds to
    // ConcurrentHashMap.computeIfAbsent hits a reserved bin or a resize
    val d = freshDir()
    def level(k: Int): Int =
      Fixtures.store(s"spec.nested$k", d) {
        if (k == 64) k else level(k + 1)
      }
    assert(Await.result(Future(level(0)), 60.seconds) == 64)
    // every level registered: a second walk builds nothing
    assert(Fixtures.store("spec.nested0", d)(-1) == 64)
    assert(Fixtures.store("spec.nested64", d)(-1) == 64)
  }

  test("two threads requesting one key run the build once") {
    val d = freshDir()
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    def request() = Fixtures.store("spec", d) {
      builds.incrementAndGet()
      started.countDown()
      Thread.sleep(300)
      new Object
    }
    val first = Future(request())
    assert(started.await(60, TimeUnit.SECONDS))
    val second = Future(request())
    val (a, b) = Await.result(first.zip(second), 60.seconds)
    assert(builds.get == 1)
    assert(a eq b)
  }

  /** Temp dirs of input (`graft_<tag>_in…`) and store
    * (`graft_<name>store…`) fixtures under `java.io.tmpdir`. */
  private def fixtureDirs(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    scala.util.Using.resource(Files.list(tmp)) { ls =>
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft_\\w+?(_in|store)\\d+")).toSet
    }
  }

  test("a second invocation of q101, q247, q255, q256 and q258 makes no " +
      "new input or store fixture dir") {
    val names = Seq("q101_stream_dedup", "q247_stream_view",
      "q255_stream_asof", "q256_split_budget", "q258_split_stream_merge",
      "q262_stream_value_view")
    names.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    val added = names.map { n =>
      val before = fixtureDirs()
      SparkEntry.queries(n)(spark, sf).collect()
      n -> (fixtureDirs() -- before)
    }.filter(_._2.nonEmpty)
    assert(added.isEmpty, s"second invocations made new dirs: $added")
  }

  /** Every `graft_*` temp dir under `java.io.tmpdir`. */
  private def graftDirs(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    scala.util.Using.resource(Files.list(tmp)) { ls =>
      ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_")).toSet
    }
  }

  test("a second run of q72, q82, q130, q134, q242 or q252-q254 leaves no " +
      "new graft_ dir") {
    val names = Seq("q72_csv_roundtrip", "q82_json_roundtrip",
      "q130_ivf_compaction", "q134_filtered_knn", "q242_stream_upsert",
      "q252_stream_cdc", "q253_governed_rtbf", "q254_index_maintain")
    names.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    val added = names.map { n =>
      val before = graftDirs()
      SparkEntry.queries(n)(spark, sf).collect()
      n -> (graftDirs() -- before)
    }.filter(_._2.nonEmpty)
    assert(added.isEmpty, s"second invocations left dirs: $added")
    // q255 reads its upsert chain as a store fixture, so its second run
    // builds nothing: on a fresh dataset key, its first run (the chain's
    // build) must leave no graft_ dir but fixture dirs
    val copy = Fs.tempRoot("graft_fixtures_spec_sf")
    try {
      Fs.copyRecursively(Paths.get(sf), copy)
      val before = graftDirs()
      SparkEntry.queries("q255_stream_asof")(spark, copy.toString).collect()
      val left = graftDirs() -- before -- fixtureDirs()
      assert(left.isEmpty, s"q255's chain build left dirs: $left")
    } finally Fs.releaseTempRoot(copy)
  }

  test("q258 and q260 publish no version on the shared split store") {
    Seq("q258_split_stream_merge", "q260_localized_ingest").foreach(n =>
      assert(SparkEntry.queries(n)(spark, sf).collect().nonEmpty, n))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val published = graftDirs().filter(_.startsWith("graft_splitstore"))
      .toSeq.flatMap { st =>
        scala.util.Using.resource(Files.list(tmp.resolve(st))) { ls =>
          ls.iterator().asScala.map(_.getFileName.toString)
            .filter(v => v.startsWith("events_z_sp_s") ||
              v.startsWith("events_z_L"))
            .map(v => s"$st/$v").toList
        }
      }
    assert(published.isEmpty, s"versions left on the split store: $published")
  }

  test("store fixtures give the same results whichever query builds them") {
    // a copy of the dataset is a fresh key space: every store and input
    // fixture on it is built by the first query that asks
    val copy = Fs.tempRoot("graft_fixtures_spec_sf")
    try {
      Fs.copyRecursively(Paths.get(sf), copy)
      def run(d: String, names: Seq[String]) = names.map(n =>
        n -> SparkEntry.queries(n)(spark, d).collect().toSeq).toMap
      val forward = run(sf, Seq("q256_split_budget",
        "q257_split_point_lookup", "q242_stream_upsert",
        "q255_stream_asof"))
      val reversed = run(copy.toString, Seq("q257_split_point_lookup",
        "q256_split_budget", "q255_stream_asof", "q242_stream_upsert"))
      forward.foreach { case (n, rows) =>
        assert(rows.nonEmpty, n)
        assert(reversed(n) == rows, s"$n differs when built in reverse order")
      }
    } finally Fs.releaseTempRoot(copy)
  }
}
