package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Tables
import graft.streaming.{StreamHarness, StreamOps}

/** Library code leaves the session as it found it: no conf written, no
  * function registered, and `events.ts` reads the same instants under
  * any session time zone. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private val TimeZone = "spark.sql.session.timeZone"

  private def functions(s: SparkSession): Set[String] =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  /** `ts` as epoch micros: sum, min and row count. */
  private def tsStats(events: DataFrame): Row =
    events.agg(sum(unix_micros(col("ts"))), min(unix_micros(col("ts"))),
      count(lit(1))).head

  test("queries, vector columns and store loads write no session state") {
    // a new session starts with a fresh function registry and conf
    val ns = spark.newSession()
    import ns.implicits._
    val conf = ns.conf.getAll
    val registry = functions(ns)
    // vector columns on a hand-built frame, before any table read
    val v = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)))
      .toDF("id", "v")
    assert(graft.llm.SimSearch.knnBrute(v, v, "id", "id", "v", 1)
      .count() == 3)
    assert(graft.llm.Dedup.embeddingNearDups(v, "id", "v", 0.9)
      .count() > 0)
    Seq("q60_stream_volume", "q62_session_window", "q101_stream_dedup",
        "q111_quantized_knn").foreach { name =>
      assert(SparkEntry.queries(name)(ns, sf).count() > 0, name)
    }
    val root = graft.util.Fs.tempRoot("graft_sessionspec")
    try {
      graft.llm.Layout.saveLayout(
        graft.llm.Layout.eventLayout(Tables.events(ns, sf)), root.toString)
      assert(graft.llm.Layout.loadLayout(ns, root.toString)._1.count() > 0)
    } finally graft.util.Fs.releaseTempRoot(root)
    val changed = (ns.conf.getAll.toSet diff conf.toSet).map(_._1) ++
      (conf.keySet -- ns.conf.getAll.keySet)
    assert(changed.isEmpty, s"session confs written: $changed")
    assert(functions(ns) == registry,
      s"functions registered: ${functions(ns) -- registry}")
  }

  test("events.ts reads the same instants under any session time zone") {
    val kolkata = spark.newSession()
    kolkata.conf.set(TimeZone, "Asia/Kolkata")
    assert(spark.conf.get(TimeZone) == "UTC")
    val utc = tsStats(Tables.events(spark, sf))
    assert(utc.getLong(2) > 0)
    assert(tsStats(Tables.events(kolkata, sf)) == utc)
    def streamed(s: SparkSession): Row = tsStats(
      StreamHarness.runToMemory(StreamOps.eventsStream(s, sf), "append")(
        identity))
    assert(streamed(spark) == utc)
    assert(streamed(kolkata) == utc)
    assert(kolkata.conf.get(TimeZone) == "Asia/Kolkata")
  }

  test("events written back from Tables.events read back identically") {
    val twin = graft.util.Fs.tempRoot("graft_sessionspec_twin")
    try {
      val events = Tables.events(spark, sf)
      events.write.parquet(s"$twin/events.parquet")
      val back = Tables.events(spark, twin.toString)
      assert(back.schema == events.schema)
      assert(back.count() == events.count())
      assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    } finally graft.util.Fs.releaseTempRoot(twin)
  }
}
