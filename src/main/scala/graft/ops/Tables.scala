package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table loaders + oracle-determinism helpers.
  *
  * Every query compared against the DuckDB oracle must be deterministic at
  * the value level: double *sums* go through exact decimal arithmetic (sum
  * order independent) and come back out as doubles; timestamps are exposed
  * as epoch microseconds (`events.ts` is read as a microsecond
  * TimestampType; Spark's `unix_micros` and DuckDB's `epoch_us` agree on
  * it).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")

  /** The fixed schema of the `events` table, read by [[events]] and by
    * `StreamOps.eventsStream`. The fixture writes `ts` as parquet
    * TIMESTAMP(MICROS, isAdjustedToUTC=false); reading it as
    * TimestampType takes the stored microseconds as UTC instants with no
    * zone shift, so `unix_micros(ts)` equals DuckDB's `epoch_us(ts)`
    * under any session time zone. A copy written back from [[events]]
    * (TIMESTAMP adjusted to UTC) reads back identically. A fixed schema
    * also spares every read the footer schema-inference job. */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def events(s: SparkSession, d: String): DataFrame =
    s.read.schema(EventsSchema).parquet(s"$d/events.parquet")

  /** The fixed schema of the `documents` table, read by [[documents]]:
    * no footer schema-inference job on any read. */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def documents(s: SparkSession, d: String): DataFrame =
    s.read.schema(DocumentsSchema).parquet(s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Order-independent exact sum of a double column: route through decimal.
    * DuckDB side: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE). */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)
}
