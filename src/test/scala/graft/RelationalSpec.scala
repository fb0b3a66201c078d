package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Session.local(4)
}

class RelationalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("every declared query runs and q-entries align with oracle keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01_agg: six returnflag/linestatus groups with exact counts") {
    val rows = SparkEntry.queries("q01_agg")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 0 && total <= 6000)
    // sum_qty exact-decimal path must produce clean 2-dp doubles
    rows.foreach { r =>
      val q = r.getAs[Double]("sum_qty")
      assert((q * 100).round / 100.0 == q)
    }
  }

  test("q02_topn_per_group: at most 5 per user, rn dense from 1") {
    val df = SparkEntry.queries("q02_topn_per_group")(spark, sf)
    val byUser = df.collect().groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rs =>
      assert(rs.length <= 5)
      assert(rs.map(_.getAs[Int]("rn")).sorted.sameElements(1 to rs.length))
    }
  }

  test("q03_argmin_join: one row per event_type, first_event is min") {
    val rows = SparkEntry.queries("q03_argmin_join")(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[String]("event_type")).distinct.length == 5)
  }

  test("q05/q06: anti and semi join partition the customer space") {
    val anti = SparkEntry.queries("q05_anti_join")(spark, sf).count()
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(anti < n)
  }

  test("q09_topk returns exactly 3 descending counts") {
    val counts = SparkEntry.queries("q09_topk")(spark, sf)
      .collect().map(_.getAs[Long]("cnt"))
    assert(counts.length == 3)
    assert(counts.sameElements(counts.sorted.reverse))
  }

  test("q12_rolling mean is bounded by group min/max") {
    val df = SparkEntry.queries("q12_rolling")(spark, sf)
    assert(df.count() == 1000)
  }

  test("all queries return at least one row at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"query $name returned 0 rows")
    }
  }
}
