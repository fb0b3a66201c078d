package graft.state

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

import graft.llm.{Layout, Sketch}

/** Versioned, partitioned parquet tables under copy-on-write commits:
  * the one store under [[graft.llm.Layout]]'s stored layout and
  * [[graft.llm.Ivf]]'s stored index.
  *
  * A version is a directory `<root>/<name>`. It holds the rows, written
  * partitioned by one integral column (one dir per partition, e.g.
  * `rows/file_z=7` or `lists/list_id=3`), and sidecar tables beside
  * them. A KEYED sidecar ([[Sidecar]]) holds rows per partition (zone
  * maps, a per-partition Bloom) and is rebuilt by every commit. Any
  * other sidecar (IVF centroids, a tile manifest) is carried verbatim.
  *
  * Every table of a version stages in one private attempt dir
  * ([[ModelStore.stageWith]]) and publishes by one rename, so a reader
  * never sees the rows of one version with the metadata of another, and
  * a write that throws leaves no attempt behind. [[save]] publishes
  * blue/green; a copy-on-write [[commit]] publishes a new, immutable
  * version name first-writer-wins ([[ModelStore.publishExclusive]]).
  *
  * The reference keeps its rows in mutable Postgres tables
  * (`src/db/connection.py:10-19`). Versioned copy-on-write tables with
  * per-file statistics are the Delta Lake design (Armbrust et al.,
  * VLDB 2020).
  */
object PartitionedStore {

  /** A keyed sidecar: `build` summarizes rows into rows keyed by `key`,
    * the partition id, so a commit can keep the stored rows of carried
    * partitions and recompute only the touched ones. */
  final case class Sidecar(dir: String, key: String,
      build: DataFrame => DataFrame)

  /** How a table lays out a version dir: rows under `rowsDir`,
    * partitioned by `partCol`; `bloom`, the per-partition Bloom the
    * consult reads ([[Layout.BloomK]] hashes over [[Layout.BloomWords]]
    * words); and `others`, the rest of its keyed sidecars. */
  final case class Table(rowsDir: String, partCol: String, bloom: Sidecar,
      others: Seq[Sidecar] = Nil) {
    def sidecars: Seq[Sidecar] = bloom +: others
  }

  /** The crash-window rule: serve `<name>`, or its blue/green backup
    * if only the backup exists (a crash between [[ModelStore.publish]]'s
    * two renames leaves only the backup). Every reader, [[ModelStore
    * .load]] included, resolves through this, so a version never tears
    * into tables of two versions; a missing version surfaces under its
    * own name. */
  def resolve(root: String, name: String): String =
    if (!Files.exists(Paths.get(root, name)) &&
        Files.exists(Paths.get(root, s"${name}_backup"))) s"${name}_backup"
    else name

  /** The partition catalog of a version, sorted: one rows dir per
    * partition, listed on the driver. Equal to every keyed sidecar's
    * key set, because [[save]] and [[commit]] write rows and sidecars
    * from the same frame, and a partition whose rows all vanish leaves
    * both. */
  def partitions(root: String, name: String, t: Table): Seq[Long] = {
    val prefix = s"${t.partCol}="
    ModelStore.children(Paths.get(root, resolve(root, name), t.rowsDir))
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong).sorted
  }

  /** A version's Bloom sidecar as a driver cache: partition → its
    * [[Layout.BloomWords]] packed words. Bounded by construction at
    * partitions × words longs. */
  def bloomCache(spark: SparkSession, root: String, name: String,
      t: Table): Map[Long, Array[Long]] =
    spark.read.parquet(Paths.get(root, resolve(root, name), t.bloom.dir)
        .toString)
      .select(col(t.bloom.key).cast("long"), col("word").cast("int"),
        col("bits"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (p, rows) =>
        val dense = new Array[Long](Layout.BloomWords)
        rows.foreach(r => dense(r.getInt(1)) = r.getLong(2))
        p -> dense
      }

  /** Driver-path cap for the Bloom consult: up to this many partitions
    * [[consult]] collects the Bloom sidecar ([[bloomCache]], ~512 B per
    * partition) and probes it with bit ops; above it, it runs the
    * distributed membership join instead (at 10⁵–10⁶ files the cache is
    * a 50–500 MB driver object and the probe loop a single-threaded
    * scan). Set per session for tests and profiles. */
  val BloomDriverMaxFilesKey = "spark.graft.layout.maxDriverBloomFiles"
  val BloomDriverMaxFilesDefault = 4096L

  /** Which partitions may hold each of `keys`: returns the partition
    * catalog ([[partitions]]) and the Bloom-positive (key, partition)
    * pairs. A Bloom has no false negatives, so a partition left out
    * provably holds no row with that key. Two physical paths, one
    * answer (LayoutSpec and CompactionSpec pin equality):
    *
    *  - up to [[BloomDriverMaxFilesKey]] partitions: the driver
    *    bit-tests the collected [[bloomCache]], one hash per key;
    *  - above it: a distributed membership join. The sidecar stays a
    *    DataFrame, the keys' (word, mask) probes broadcast, and the
    *    driver receives only the positive pairs.
    *
    * Both paths test the same md5-derived positions
    * ([[Sketch.bloomPositions]] ≡ the SQL `bloomPos`). A version
    * without the Bloom sidecar (an IVF index saved before it existed)
    * names every partition for every key.
    *
    * Measured with 2,000 keys (BASELINE.md §83): over 200k layout files
    * the driver loop took 65.0 s and the join 20.5 s; over 10⁵ IVF
    * lists, 8.05 s and 4.28 s, with identical answers. */
  def consult(spark: SparkSession, root: String, name: String, t: Table,
      keys: Seq[String]): (Seq[Long], Seq[(String, Long)]) = {
    require(keys.nonEmpty, s"consult($name): empty key set")
    val catalog = partitions(root, name, t)
    val ks = keys.distinct
    val sidecar = Paths.get(root, resolve(root, name), t.bloom.dir)
    val maxDriver = spark.conf.getOption(BloomDriverMaxFilesKey)
      .map(_.toLong).getOrElse(BloomDriverMaxFilesDefault)
    val pairs =
      if (!Files.isDirectory(sidecar)) for (k <- ks; p <- catalog) yield k -> p
      else if (catalog.size <= maxDriver) {
        val cache = bloomCache(spark, root, name, t)
        ks.flatMap { k =>
          val ps = Sketch.bloomPositions(k, Layout.BloomK, Layout.BloomWords)
          catalog.filter(p => cache.get(p)
              .forall(Sketch.bloomContainsAt(_, ps)))
            .map(k -> _)
        }
      } else
        membershipJoin(spark, spark.read.parquet(sidecar.toString)
            .select(col(t.bloom.key).cast("long").as("part"), col("word"),
              col("bits")), ks)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (catalog, pairs)
  }

  /** The set form of [[consult]]: the catalog, and the distinct
    * partitions that may hold any of `keys`, sorted. */
  def consultPartitions(spark: SparkSession, root: String, name: String,
      t: Table, keys: Seq[String]): (Seq[Long], Seq[Long]) = {
    val (catalog, pairs) = consult(spark, root, name, t, keys)
    (catalog, pairs.map(_._2).distinct.sorted)
  }

  /** The distributed membership join: per key, its k bit positions
    * grouped by word become broadcast (key, word, mask, n_words) rows,
    * and a partition is positive for the key iff EVERY one of its words
    * matches `bits & mask = mask`. Returns the positive (key, part)
    * pairs; the exchange carries only Bloom-positive groups. */
  private def membershipJoin(spark: SparkSession, bloomDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    import spark.implicits._
    val bpw = Sketch.BloomBitsPerWord
    val probeRows = keys.flatMap { k =>
      val byWord = Sketch.bloomPositions(k, Layout.BloomK, Layout.BloomWords)
        .groupBy(p => p / bpw)
        .map { case (w, ps) =>
          (w, ps.map(p => 1L << (p % bpw).toInt).reduce(_ | _))
        }.toSeq
      byWord.map { case (w, m) => (k, w, m, byWord.size) }
    }
    bloomDf
      .select(col("part"), col("word").cast("long"), col("bits"))
      .join(broadcast(
        probeRows.toDF("key", "word", "mask", "n_words")), Seq("word"))
      .filter((col("bits").bitwiseAND(col("mask"))) === col("mask"))
      .groupBy(col("part"), col("key"), col("n_words"))
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === col("n_words"))
      .select(col("key"), col("part"))
  }

  /** Saves `rows` as a version of `name` and publishes it blue/green
    * ([[ModelStore.publish]]): the rows partitioned by `t.partCol`,
    * every keyed sidecar built from `rows`, and each of `extras`
    * (dir → table) as it is. `onePerPartition` hash-repartitions the
    * rows on `t.partCol` first, so each partition dir lands in one task
    * and holds one file; otherwise each task writes its own shard. The
    * writes are independent scans, so they overlap; a write that throws
    * discards the attempt. */
  def save(root: String, name: String, t: Table, rows: DataFrame,
      onePerPartition: Boolean, extras: (String, DataFrame)*): Unit =
    ModelStore.publish(root, name, ModelStore.stageWith(root, name) { a =>
      val laid =
        if (onePerPartition) rows.repartition(col(t.partCol)) else rows
      graft.util.Par.inParallel(
        (() => laid.write.partitionBy(t.partCol)
          .parquet(a.resolve(t.rowsDir).toString)) +:
        (t.sidecars.map(s => s.dir -> s.build(rows)) ++ extras).map {
          case (dir, df) => () => df.write.parquet(a.resolve(dir).toString)
        }: _*)
    })

  /** One copy-on-write commit: publishes `newName` as version `name`
    * with the rows of the `touched` partitions replaced by `rewritten`
    * (which carries `t.partCol`; a touched partition that gets no rows
    * disappears). Returns the untouched partitions, sorted.
    *
    * Inside one private attempt, the rewritten rows are checkpointed
    * once and written partitioned, then every untouched partition dir
    * is copied over byte-for-byte, never read or re-encoded. Each keyed
    * sidecar the base has is rebuilt from its stored rows of untouched
    * partitions plus rows recomputed from `rewritten`; a keyed sidecar
    * the base lacks stays absent (so a missing Bloom never reads as
    * "negative everywhere"). `replaced` (dir → table) writes sidecars
    * the commit changes (a re-tiled manifest); every other dir of the
    * base is copied verbatim. The artifacts overlap, the attempt is
    * discarded if any write or the publish throws, and the publish is
    * first-writer-wins: a concurrent commit that derived the same
    * version loses and must rebase. */
  def commit(spark: SparkSession, root: String, name: String,
      newName: String, t: Table, touched: Seq[Long], rewritten: DataFrame,
      replaced: Map[String, DataFrame] = Map.empty): Seq[Long] = {
    // an in-place newName == name would race the carry reads of the
    // incumbent against its own publish
    require(newName != name,
      s"commit: new version must not shadow the incumbent '$name'")
    val base = Paths.get(root, resolve(root, name))
    val untouched = partitions(root, name, t).filterNot(touched.toSet)
    val rebuilt = t.sidecars.filter(s => Files.isDirectory(base.resolve(s.dir)))
    val verbatim = ModelStore.children(base).filterNot(d =>
      d == t.rowsDir || t.sidecars.exists(_.dir == d) || replaced.contains(d))
    val attempt = ModelStore.stageWith(root, newName) { a =>
      val rw = rewritten.localCheckpoint() // rows and sidecars all scan it
      def write(dir: String, df: DataFrame): () => Unit =
        () => df.write.parquet(a.resolve(dir).toString)
      def copy(rel: Path): () => Unit =
        () => graft.util.Fs.copyRecursively(base.resolve(rel), a.resolve(rel))
      graft.util.Par.inParallel(
        // the carry waits for the rows write: the writer owns its output
        // dir until its job commits
        (() => {
          rw.repartition(col(t.partCol)).write.partitionBy(t.partCol)
            .parquet(a.resolve(t.rowsDir).toString)
          untouched.foreach(p =>
            copy(Paths.get(t.rowsDir, s"${t.partCol}=$p"))())
        }) +:
        (rebuilt.map(s => write(s.dir,
           spark.read.parquet(base.resolve(s.dir).toString)
             .filter(!col(s.key).isin(touched: _*))
             .unionByName(s.build(rw)))) ++
         replaced.toSeq.map { case (dir, df) => write(dir, df) } ++
         verbatim.map(d => copy(Paths.get(d)))): _*)
    }
    try ModelStore.publishExclusive(root, newName, attempt)
    catch { case e: Throwable => ModelStore.discard(attempt); throw e }
    untouched
  }
}
