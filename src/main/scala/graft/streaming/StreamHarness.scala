package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.{Fixtures, Fs}

/** The one place a query stream starts, drains and stops.
  *
  * Stream policy, the same for every stream run here:
  *   - '''Partition pin.''' `spark.sql.shuffle.partitions` is 4 from
  *     `start()` through `stop()` and restored in `finally`. A stream
  *     fixes its shuffle-partition count when it starts, and every
  *     stateful operator keeps one state store per shuffle partition,
  *     each committed on every trigger (a stream-stream join keeps four
  *     per partition). At the suite's data sizes that fixed commit cost
  *     per store dwarfs the data, so the stream runs on few partitions;
  *     a real cluster sizes this with the state it carries.
  *   - '''Sink lifetime.''' A memory sink gets a name unique to the run,
  *     so two runs in one session never collide. It lives only inside
  *     [[runToMemory]]: the caller's `finish` projection reads it once,
  *     the result is localCheckpointed off the sink's lineage, and the
  *     sink's temp view is dropped in `finally` — whether the stream,
  *     `finish` or the checkpoint threw. The returned frame stays
  *     collectable after the view is gone, and bench loops do not
  *     accumulate one in-memory table per invocation.
  *   - '''Cleanup.''' `stop()` runs in `finally`, so no query outlives the
  *     call, even when a trigger or a foreachBatch function throws.
  *   - '''`finish` runs unpinned.''' It is ordinary batch work over the
  *     drained sink, with no state stores, so it plans with the session's
  *     own partition count, like every other batch query.
  *
  * Streams run on the default temporary checkpoint. An explicit
  * `spark.sql.streaming.checkpointLocation` on tmpfs was measured slower
  * (13.9 s → 18.2 s over 5 harness queries): an explicit location
  * disables the temporary-checkpoint fast paths, which costs more than
  * tmpfs saves over page-cached /tmp writes.
  *
  * [[fourBatchSource]] supplies the arriving-data side: the input split
  * into four ascending files read one per trigger.
  */
object StreamHarness {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val StreamPartitions = "4"

  /** Runs `df` into a memory sink in output `mode` until all available
    * input is processed, then returns `finish(sink)` localCheckpointed. */
  def runToMemory(df: Dataset[_], mode: String)(
      finish: DataFrame => DataFrame): DataFrame = {
    val s = df.sparkSession
    val sink = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "_")
    // dropTempView on a never-registered view is a harmless false
    try {
      drain(s)(df.writeStream.outputMode(mode).format("memory")
        .queryName(sink))
      finish(s.table(sink)).localCheckpoint()
    } finally s.catalog.dropTempView(sink)
  }

  /** Runs `df` through the foreachBatch function `f` until all available
    * input is processed. */
  def runForeachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
    drain(df.sparkSession)(df.writeStream.foreachBatch(f))

  private def drain(s: SparkSession)(
      writer: org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit = {
    val prev = s.conf.get(ShufflePartitions)
    s.conf.set(ShufflePartitions, StreamPartitions)
    try {
      val q = writer.start()
      try q.processAllAvailable() finally q.stop()
    } finally s.conf.set(ShufflePartitions, prev)
  }

  /** The streaming source over `df` split as exact `NTILE(4) OVER (ORDER
    * BY idCol)`: four single-file parquet splits in ascending `idCol`
    * ranges with backdated, strictly ascending mtimes, read one file per
    * micro-batch (`maxFilesPerTrigger=1`, mtime-ordered) with `df`'s
    * own schema, every field nullable as the file source reads it.
    * Ids must be distinct. */
  def fourBatchSource(df: DataFrame, idCol: String, tag: String): DataFrame =
    tiledSource(df.withColumn("tile",
      tileExpr(col(idCol), ntileSplitIds(df, idCol, 4))), tag)

  /** [[fourBatchSource]] over a pre-tiled frame: `tiled` carries a `tile`
    * column with values 1..4 naming each row's micro-batch, for callers
    * whose batch boundaries are semantic (q260's localized zkey stripes)
    * rather than an id-quartile split. The splits are read with the
    * schema they were written with: `tiled`'s, without `tile`. */
  def tiledSource(tiled: DataFrame, tag: String): DataFrame =
    tiled.sparkSession.readStream
      .schema(StructType(tiled.schema.filterNot(_.name == "tile")))
      .option("maxFilesPerTrigger", "1")
      .parquet(fourSplitDir(tiled, tag).toString)

  /** The finish-side `(idCol, batch_id)` frame the stream queries label
    * their sink rows with: the same boundaries and CASE as
    * [[fourBatchSource]], no window. */
  def tile4(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol),
      tileExpr(col(idCol), ntileSplitIds(df, idCol, 4)).as("batch_id"))

  /** Exact `NTILE(n) OVER (ORDER BY idCol)` boundary ids WITHOUT a global
    * window, which would funnel every input row through one task. Ids
    * must be distinct. Dense ids need one bounded (min, max, count)
    * aggregation: rank(id) = id - min + 1, so the n-1 boundary ids are
    * arithmetic. Sparse ids (q110's train split) take a 1024-range
    * histogram (one bounded aggregation + a ≤1024-row collect) plus at
    * most n-1 probes that each sort ONE range. Returns the inclusive
    * upper-bound id of tiles 1..n-1; tile assignment is then the
    * scan-local CASE of [[tileExpr]], bit-identical to the oracles'
    * NTILE(n) by the cumulative-count construction. */
  private def ntileSplitIds(df: DataFrame, idCol: String,
      n: Int): Array[Long] = Fixtures.input(s"ntile|$idCol|$n", df) {
    val head = df.agg(min(col(idCol)).cast("long").as("mn"),
      max(col(idCol)).cast("long").as("mx"),
      count(lit(1)).as("cnt")).head()
    val (mn, mx, cnt) = (head.getLong(0), head.getLong(1),
      head.getLong(2))
    require(cnt >= n, s"ntileSplitIds needs >= $n rows, got $cnt")
    // NTILE cumulative boundaries: tiles 1..rem get base+1 rows
    val base = cnt / n
    val rem = cnt % n
    val cums = (1 until n).map(k => k * base + math.min(k, rem))
    val span = mx - mn + 1
    if (span == cnt) cums.map(c => mn + c - 1).toArray
    else {
      val width = (span + 1023) / 1024
      val bkt = expr(s"CAST(($idCol - $mn) DIV $width AS INT)")
      val hist = df.groupBy(bkt.as("__b"))
        .agg(count(lit(1)).as("__c")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cumBefore = new Array[Long](1025)
      for (b <- 1 to 1024)
        cumBefore(b) = cumBefore(b - 1) + hist.getOrElse(b - 1, 0L)
      cums.map { c =>
        val b = (0 until 1024)
          .find(b => cumBefore(b) < c && c <= cumBefore(b + 1))
          .getOrElse(sys.error(s"rank $c outside histogram"))
        // sort ONE range (≤ its row count), take the needed offset
        df.filter(bkt === b).select(col(idCol).cast("long"))
          .orderBy(col(idCol))
          .limit((c - cumBefore(b)).toInt)
          .agg(max(col(idCol))).head().getLong(0)
      }.toArray
    }
  }

  /** Scan-local tile CASE over [[ntileSplitIds]] boundaries. */
  private def tileExpr(id: Column, bounds: Array[Long]): Column =
    bounds.zipWithIndex.foldRight(lit(bounds.length + 1): Column) {
      case ((b, i), acc) => when(id <= b, lit(i + 1)).otherwise(acc)
    }

  /** [[fourBatchSource]]'s directory, one parquet file per tile: an
    * input fixture of `tiled`, whose plan carries the tile boundaries. */
  private def fourSplitDir(tiled: DataFrame, tag: String): Path =
    Fixtures.input("splitdir", tiled) {
      import scala.jdk.CollectionConverters._
      val streamDir = Fs.tempRoot(s"graft_${tag}_in")
      val stageDir = Files.createTempDirectory(s"graft_${tag}_stage")
      try {
        // one job writes all four splits (partitionBy drops the tile
        // column from the files, keeping the stream schema)
        val stage = stageDir.resolve("t")
        tiled.coalesce(1).write.partitionBy("tile").parquet(stage.toString)
        for (k <- 1 to 4) {
          val tileDir = stage.resolve(s"tile=$k")
          require(Files.isDirectory(tileDir),
            s"$tag: needs >= 4 rows (tile $k empty)")
          val part = scala.util.Using.resource(Files.list(tileDir)) {
            files =>
              files.iterator().asScala
                .find(_.toString.endsWith(".parquet"))
                .getOrElse(sys.error(s"$tag: no parquet written for tile $k"))
          }
          val dest = streamDir.resolve(f"batch_$k%02d.parquet")
          Files.move(part, dest)
          // backdated, strictly ascending mtimes pin the file-source order
          require(dest.toFile.setLastModified(1600000000000L + k * 60000L),
            s"$tag: cannot set mtime on $dest")
        }
        streamDir
      } catch { case t: Throwable =>
        // a half-written fixture must not outlive its failed build
        Fs.releaseTempRoot(streamDir)
        throw t
      } finally Fs.deleteRecursively(stageDir)
    }
}
