package graft

import org.apache.spark.sql.functions.{array, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamHarness

/** The stream policy of [[graft.streaming.StreamHarness]]: every stream
  * it starts is stopped, its memory sink's view is dropped, and the
  * session's shuffle-partition count is restored, on success and on
  * failure alike. */
class StreamHarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private val Partitions = "spark.sql.shuffle.partitions"
  // any value other than the harness's pin of 4, so a missing restore shows
  private val Outer = "3"

  private def tempViews(): Set[String] = spark.catalog.listTables()
    .collect().filter(_.isTemporary).map(_.name).toSet

  /** Runs `f` with the session at [[Outer]] shuffle partitions and checks
    * that it leaves no active stream, no new temp view and the partition
    * count as it found it. */
  private def leavesSessionClean(what: String)(f: => Unit): Unit = {
    val prev = spark.conf.get(Partitions)
    spark.conf.set(Partitions, Outer)
    try {
      val views = tempViews()
      f
      assert(spark.streams.active.isEmpty, s"$what left a stream running")
      assert(tempViews() == views,
        s"$what left temp views ${tempViews() -- views}")
      assert(spark.conf.get(Partitions) == Outer,
        s"$what left shuffle partitions at ${spark.conf.get(Partitions)}")
    } finally spark.conf.set(Partitions, prev)
  }

  private def source = StreamHarness.fourBatchSource(
    spark.range(0, 40).toDF("id"), "id", "harnessspec")

  private def causedBy(t: Throwable, msg: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(msg)))

  test("stream queries leave no stream, sink view or partition pin behind") {
    // build the shared mutation-store fixture under the session's own
    // settings first: other suites reuse it, so it must not be built
    // at the partition count this test sets
    SparkEntry.queries("q242_stream_upsert")(spark, sf)
    Seq("q60_stream_volume", "q61_stream_semantic", "q63_stream_stream_join",
        "q101_stream_dedup", "q242_stream_upsert").foreach { name =>
      leavesSessionClean(name) {
        assert(SparkEntry.queries(name)(spark, sf).count() > 0, name)
      }
    }
  }

  test("runForeachBatch runs four triggers under the pin, then restores it") {
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    leavesSessionClean("runForeachBatch") {
      StreamHarness.runForeachBatch(source) { (b, id) =>
        seen.put(id, spark.conf.get(Partitions))
        b.count()
      }
    }
    assert(seen.size == 4, seen.toString)
    assert(seen.values().stream().allMatch(_ == "4"), seen.toString)
  }

  test("a throwing batch function or finish leaves the session clean") {
    leavesSessionClean("a throwing foreachBatch function") {
      val e = intercept[Exception] {
        StreamHarness.runForeachBatch(source) { (_, _) =>
          throw new IllegalStateException("batch boom")
        }
      }
      assert(causedBy(e, "batch boom"), e.toString)
    }
    leavesSessionClean("a throwing finish") {
      val e = intercept[IllegalStateException] {
        StreamHarness.runToMemory(source, "append") { _ =>
          throw new IllegalStateException("finish boom")
        }
      }
      assert(e.getMessage == "finish boom")
    }
  }

  test("fourBatchSource streams a frame back with its own schema, " +
      "made nullable, over four triggers") {
    val df = spark.range(0, 40).toDF("id")
      .withColumn("v", array(col("id").cast("float"),
        (col("id") * 2).cast("float")))
    assert(!df.schema("id").nullable)
    assert(df.schema("v").dataType.simpleString == "array<float>")
    val src = StreamHarness.fourBatchSource(df, "id", "harnessspec_arr")
    assert(src.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "v" -> "array<float>"))
    assert(src.schema.forall(_.nullable))
    val batches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    StreamHarness.runForeachBatch(src) { (b, id) => batches.put(id, b.count()) }
    assert(batches.size == 4, batches.toString)
    assert(batches.values().stream().allMatch(_ == 10L), batches.toString)
    val rows = StreamHarness.runToMemory(src, "append")(_.orderBy("id"))
      .collect().toSeq
    assert(rows == df.orderBy("id").collect().toSeq)
  }

  test("runToMemory's frame is collectable after its sink view is dropped") {
    val views = tempViews()
    val out = StreamHarness.runToMemory(source, "append")(_.orderBy("id"))
    assert(tempViews() == views)
    val first = out.collect().map(_.getLong(0)).toSeq
    assert(first == (0L until 40L))
    assert(out.collect().map(_.getLong(0)).toSeq == first)
  }
}
