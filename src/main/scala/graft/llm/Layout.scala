package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.state.PartitionedStore

/** Physical data-layout optimization — the scan-pruning family: Z-order
  * (Morton) clustering, per-file zone maps (min/max column statistics),
  * and measured pruning effectiveness. This is the layer under every
  * 100 TB table: a parquet/Iceberg/Delta reader skips a file when the
  * file's min/max range cannot intersect the predicate, so HOW rows are
  * assigned to files decides whether a selective query reads 1% or 100%
  * of the bytes (Morton curves for multidimensional clustering: Orenstein
  * & Merrett 1984; the same layout move as Delta's OPTIMIZE ZORDER BY and
  * ClickHouse/Redshift interleaved sort keys). The reference keeps all
  * rows in Postgres heap tables and has no layout concept
  * (`/root/reference/src/db/connection.py:10-19` — one engine, one
  * table, btree lookups); at warehouse scale layout IS the index, so
  * this family builds it as first-class, measurable operators:
  *
  *  - [[eventLayout]]: bucket the two query dimensions (user, time) onto
  *    a fixed grid, interleave the bucket bits into a Morton key, and
  *    assign rows to files two ways — `file_z` (Z-order ranges) vs
  *    `file_t` (single-key time sort), the incumbent layout every
  *    append-only ingest produces for free.
  *  - [[zoneMaps]]: the per-file min/max stats a reader prunes with —
  *    ONE aggregation, file-count-sized output.
  *  - [[saveLayout]]/[[loadLayout]]: the layout MATERIALIZED — rows as
  *    parquet partitioned by the file assignment (one file per
  *    directory), zone maps stored beside them, published
  *    pair-atomically; q223/q226 hash-gate that the stored scans prune
  *    to exactly the zone-map prediction.
  *  - q206/q207/q208 measure what the layouts buy: files scanned per
  *    range-predicate box, expected point-lookup cost, and the Bloom
  *    per-file index that rescues point lookups on the unsorted
  *    dimension.
  *
  * Determinism: bucketing is exact integer arithmetic (`DIV` on longs),
  * the Morton interleave is a bit-shift sum shared VERBATIM between the
  * Spark plan and the DuckDB oracle ([[mortonSql]]), and min/max/count
  * are order-free — every zone map and pruning count replays
  * bit-for-bit.
  *
  * Scale shape: layout assignment is one map-only pass (the domain
  * bounds are a 1-row broadcast); zone maps are one partial-aggregating
  * exchange of file-count-sized data; every pruning eval joins
  * predicate-count × file-count rows (both tiny, broadcast). Nothing
  * touches corpus-sized data twice. At a real 100 TB write the same
  * zkey becomes the range-partitioner sort key; the cost model the
  * evals compute is what decides whether that rewrite pays.
  */
object Layout {

  /** Grid resolution per dimension — 8 bits each, so a Morton key is
    * 16 bits and file ranges divide it evenly. */
  val Buckets: Int = 256
  private val Bits: Int = 8

  /** Morton interleave as a SQL fragment over two already-bucketed
    * `[0, 256)` integer columns — `ub` takes the odd bit positions,
    * `tb` the even. Plain `>> & <<` integer arithmetic (disjoint bits,
    * so `+` is `|`) valid in BOTH Spark SQL and DuckDB: the engine and
    * the oracle interpolate the SAME string, which is what makes the
    * zkey bit-identical by construction rather than by parallel
    * implementations. */
  def mortonSql(ub: String, tb: String): String =
    (0 until Bits).map(i =>
      s"((($ub >> $i) & 1) << ${2 * i + 1}) + " +
        s"((($tb >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** Bucket events onto the (user, time) grid and assign each row to a
    * file under both layouts. Emits `(event_id, user_id, ub, tb, zkey,
    * file_z, file_t)` (user_id rides along for the point-lookup evals —
    * q208's Bloom build and ground truth key on it):
    *
    *  - `ub`/`tb`: exact linear bucket of user_id / event-time micros
    *    into `[0, 256)` over the observed domain (1-row stats
    *    broadcast; integer `DIV`, no float rounding).
    *  - `zkey`: [[mortonSql]] interleave — locality in (ub, tb) becomes
    *    locality in zkey.
    *  - `file_z`: zkey range-split into `nFiles` equal key ranges (what
    *    a range-partitioned sorted write produces).
    *  - `file_t`: tb range-split into `nFiles` — the time-sorted
    *    incumbent.
    *
    * Row counts per `file_z` are uneven (equal KEY ranges, not equal
    * row counts — the honest shape of a static range split; q207
    * reports the skew). One map-only pass over events. */
  def eventLayout(events: DataFrame, nFiles: Int = 64): DataFrame = {
    require(nFiles >= 1 && Buckets % nFiles == 0,
      s"nFiles must divide $Buckets, got $nFiles")
    val st = events.agg(
      min(col("user_id")).as("lo_u"), max(col("user_id")).as("hi_u"),
      min(unix_micros(col("ts"))).as("lo_t"),
      max(unix_micros(col("ts"))).as("hi_t"))
    events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .crossJoin(broadcast(st))
      .withColumn("ub",
        expr(s"((user_id - lo_u) * $Buckets) DIV (hi_u - lo_u + 1)"))
      .withColumn("tb",
        expr(s"((us - lo_t) * $Buckets) DIV (hi_t - lo_t + 1)"))
      .withColumn("zkey", expr(mortonSql("ub", "tb")))
      .withColumn("file_z",
        expr(s"zkey DIV ${Buckets.toLong * Buckets / nFiles}"))
      .withColumn("file_t", expr(s"tb DIV ${Buckets / nFiles}"))
      .select("event_id", "user_id", "ub", "tb", "zkey",
        "file_z", "file_t")
  }

  /** The per-file zone map a min/max-pruning reader consults: row count
    * and the inclusive (ub, tb) bounding box, one row per file. ONE
    * aggregation with map-side partial collapse — the exchange carries
    * file-count-sized data regardless of corpus size (the footer-stats
    * a parquet writer embeds, computed relationally). */
  def zoneMaps(laid: DataFrame, fileCol: String): DataFrame =
    laid.groupBy(col(fileCol).as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ub")).as("min_ub"), max(col("ub")).as("max_ub"),
        min(col("tb")).as("min_tb"), max(col("tb")).as("max_tb"))

  /** Per-file Bloom parameters: k=3 hash rows over 64 words × 60 bits
    * = 3840 bits per file (the q208 cost-model numbers, now physical).
    * At the ~150–500 distinct users a file holds here the false-positive
    * rate is (1−e^(−kn/m))^k ≈ 0.2–5% — the measured files_bloom vs
    * files_actual gap q235 emits. */
  val BloomK: Int = 3
  val BloomWords: Int = 64

  /** The per-file membership index q208's cost model priced and
    * BASELINE §46 concluded is "the incremental knob that pays" for
    * point lookups on the unsorted dimension: a 64-word Bloom over the
    * `keyCol` values of each file. Deliberately NO distinct collapse:
    * `bit_or` is idempotent, so duplicate keys cannot change a single
    * filter bit, and skipping the distinct removes the only
    * corpus-sized shuffle the build would otherwise pay — the k-fold
    * explode is map-side and the partial `bit_or` aggregation collapses
    * every partition to ≤ file-count × words rows before the exchange.
    * Footer-stats shaped, like [[zoneMaps]], at any corpus size. */
  def fileBlooms(laid: DataFrame, fileCol: String,
      keyCol: String = "user_id"): DataFrame =
    Sketch.bloomBuild(
      laid.select(col(fileCol).as("file_id"),
        col(keyCol).cast("string").as("k")),
      "k", BloomK, BloomWords, groupCols = Seq("file_id"))

  /** MATERIALIZE the Z-order layout: write the laid-out rows as parquet
    * PARTITIONED BY `file_z` — on disk the directory layout IS the
    * clustering, the q115 inverted-file precedent — with the zone maps
    * AND the per-file Bloom ([[fileBlooms]]) computed at write time and
    * stored beside the rows (the footer-stats metadata a reader
    * caches). All three tables stage under ONE name and publish by ONE
    * atomic rename ([[graft.state.ModelStore]]'s blue/green protocol):
    * zone maps or Blooms from one write serving rows from another
    * would silently mis-prune — the same pair-tear argument as the IVF
    * centroid/list pair. The rows are hash-repartitioned on `file_z`
    * first so each file directory lands wholly in one task and the
    * write emits one file per directory — file = unit of pruning, not
    * a pile of per-task shards. */
  def saveLayout(laid: DataFrame, root: String,
      name: String = "events_z", fileCol: String = "file_z"): Unit =
    PartitionedStore.save(root, name, table(fileCol),
      laid.select(col("event_id"), col("user_id"), col("ub"), col("tb"),
        col("zkey"), col(fileCol)),
      onePerPartition = true)

  /** How a stored layout lays out a version: rows partitioned by
    * `fileCol`, the per-file Bloom ([[fileBlooms]]) and the zone maps
    * ([[zoneMaps]]) keyed by `file_id`. Point-lookup planners pass it
    * to [[PartitionedStore.consult]]. */
  def table(fileCol: String): PartitionedStore.Table =
    PartitionedStore.Table("rows", fileCol,
      PartitionedStore.Sidecar("bloom", "file_id", fileBlooms(_, fileCol)),
      Seq(PartitionedStore.Sidecar("zonemaps", "file_id",
        zoneMaps(_, fileCol))))

  /** Widen `df` to carry every field in `fields`, adding the missing
    * ones as typed NULLs — the one definition of schema-union widening
    * the CDC/merge family shares ([[upsertRows]], [[changeFeed]],
    * [[writerFeed]], [[replayFeed]]). */
  private def widenTo(df: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField]): DataFrame =
    fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))

  /** Load the stored layout pair saved by [[saveLayout]]; falls back to
    * the backup PAIR if prod is missing (the pair-level crash-window
    * rule, as in [[graft.llm.Ivf.loadIndex]]). Returns
    * (rows, zoneMaps); the partition-derived file column is cast back
    * to long (partition-column inference narrows to int). */
  def loadLayout(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String = "events_z", fileCol: String = "file_z",
      mergeSchema: Boolean = false): (DataFrame, DataFrame) = {
    val base = PartitionedStore.resolve(root, name)
    // mergeSchema reconciles files written under different schema
    // versions (q248's evolved column): files missing an added column
    // read as typed NULLs — opt-in, since footer merging costs a pass
    // over every file footer
    (spark.read.option("mergeSchema", mergeSchema.toString)
       .parquet(s"$root/$base/rows")
       .withColumn(fileCol, col(fileCol).cast("long")),
      spark.read.parquet(s"$root/$base/zonemaps"))
  }

  /** What [[purgeUsers]] did, for callers that pin it: which files were
    * rewritten (Bloom-positive for some tombstone) and which were
    * carried over untouched at the filesystem level. */
  final case class PurgeResult(touched: Seq[Long], untouched: Seq[Long])

  // ------------------------------------------------------------------
  // Adaptive file fan-out: split-on-budget tiles (r13 verdict item 2).
  //
  // The fixed 64-file Morton grid saturates at scale: at ×100 each file
  // holds ~160k rows and any dense mutation rewrites ~the whole store
  // (q242's measured ×100 wall). A real lakehouse splits files on a
  // size budget; here the split is the QUADTREE refinement of the
  // existing zkey arithmetic — a tile is a contiguous zkey range
  // [zlo, zlo+w), the base grid's tile f is [f·W, (f+1)·W), and an
  // oversized tile splits into a power-of-2 count of equal sub-ranges.
  // The TILE MANIFEST (file_id, zlo, zhi) — stored beside zone maps and
  // Blooms, same pair-atomic publish — becomes the routing truth:
  // inserts assign to the tile whose range holds their zkey (a
  // broadcast range join against the footer-sized manifest instead of
  // the fixed DIV). Legacy stores (no manifest) route by the original
  // arithmetic, derived as the implicit 64-tile manifest.
  // ------------------------------------------------------------------

  /** The zkey domain: 2·[[Bits]] interleaved bits. */
  val Grid: Long = Buckets.toLong * Buckets

  /** Canonical id of the tile [zlo, zlo+w): base-grid tiles keep their
    * legacy id (zlo / W — so an unsplit store is byte-compatible and a
    * merge that restores the base tile restores its id); refined tiles
    * get `(zlo + 1) · 131072 + w`, injective over (zlo, w) and disjoint
    * from every legacy id. */
  def tileId(zlo: Long, w: Long, legacyW: Long): Long =
    if (w == legacyW && zlo % w == 0) zlo / w
    else (zlo + 1L) * 131072L + w

  /** The stored tile manifest of `name` — or, for a pre-split store,
    * the implicit base grid (`legacyFiles` equal ranges; 64 is
    * [[eventLayout]]'s default). Rows are (file_id, zlo, zhi); the
    * ranges partition [0, [[Grid]]). Footer-sized.
    *
    * CONTRACT: the tile family ([[loadManifest]], [[routeToStore]],
    * [[splitOnBudget]], [[mergeOnBudget]]) applies to ZKEY-range
    * layouts (`file_z` — file = contiguous zkey range). The
    * time-sorted incumbent (`file_t`) tiles by tb, not zkey, and must
    * not be routed through this manifest. */
  def loadManifest(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, legacyFiles: Int = 64)
      : Seq[(Long, Long, Long)] = {
    val p = java.nio.file.Paths.get(root,
      PartitionedStore.resolve(root, name), "manifest")
    if (java.nio.file.Files.isDirectory(p))
      spark.read.parquet(p.toString)
        .select(col("file_id"), col("zlo"), col("zhi"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._2)
    else {
      val w = Grid / legacyFiles
      (0 until legacyFiles).map(f => (f.toLong, f * w, (f + 1) * w - 1))
    }
  }

  /** A manifest sorted by zlo must tile [0, [[Grid]]) with no gap and
    * no overlap — the invariant that makes the routing range join
    * lossless (every zkey has exactly one tile). */
  private def requireFullCoverage(man: Seq[(Long, Long, Long)],
      who: String): Unit = {
    require(man.nonEmpty, s"$who: empty manifest")
    require(man.head._2 == 0L && man.last._3 == Grid - 1,
      s"$who: manifest covers [${man.head._2}, ${man.last._3}] " +
        s"instead of [0, ${Grid - 1}]")
    man.sliding(2).foreach {
      case Seq((_, _, zhi), (f, zlo, _)) => require(zlo == zhi + 1,
        s"$who: manifest gap/overlap at tile $f (zlo=$zlo, prev zhi=$zhi)")
      case _ => ()
    }
  }

  /** Re-derive `fileCol` on `df` from the STORED manifest of `name` —
    * the routing step every delta must pass before [[upsertRows]] on a
    * store that may have split: the fixed zkey arithmetic names base
    * tiles, but after a split the row's zkey lives in a refined tile
    * and the write must land there (also where any stored version of a
    * re-delivered key lives — routing by CURRENT manifest is exactly
    * what keeps the replace-by-key scan complete). One broadcast range
    * join against the footer-sized manifest; map-only on the delta. */
  def routeToStore(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, df: DataFrame, fileCol: String,
      legacyFiles: Int = 64): DataFrame = {
    val manifest = loadManifest(spark, root, name, legacyFiles)
    // the inner range join silently DROPS any row outside manifest
    // coverage — so prove statically (O(tiles), driver-side) that no
    // such row can exist: the tiles must partition [0, Grid) exactly.
    // Cheaper than counting routed rows per call, and catches the
    // corruption at its source (a torn manifest), not per delta
    requireFullCoverage(manifest, s"routeToStore($name)")
    assignTiles(df, fileCol, manifest)
  }

  /** Re-derive `fileCol` on `df` from its zkey: each row takes the id
    * of the tile `(file_id, zlo, zhi)` whose range holds its zkey. One
    * broadcast range join against footer-sized tiles; a row no tile
    * covers is dropped. */
  private def assignTiles(df: DataFrame, fileCol: String,
      tiles: Seq[(Long, Long, Long)]): DataFrame = {
    import df.sparkSession.implicits._
    df.drop(fileCol)
      .join(broadcast(tiles.toDF("__tile", "__zlo", "__zhi")),
        col("zkey") >= col("__zlo") && col("zkey") <= col("__zhi"))
      .withColumn(fileCol, col("__tile"))
      .drop("__tile", "__zlo", "__zhi")
  }

  /** What [[splitOnBudget]] did: the tiles that split (old ids), the
    * children they produced, and the post-split tile count. */
  final case class SplitResult(split: Seq[Long],
    children: Map[Long, Seq[Long]], filesAfter: Long)

  /** Smallest power of two ≥ n (n ≥ 1). */
  private def pow2AtLeast(n: Long): Long = {
    var p = 1L
    while (p < n) p <<= 1
    p
  }

  /** OPTIMIZE-style physical maintenance commit that GROWS the file
    * fan-out with the data: every tile whose stored row count exceeds
    * `budget` splits into the smallest power-of-2 number of equal zkey
    * sub-ranges that brings the AVERAGE child under budget (a skewed
    * child may still exceed it — the next run refines further; the
    * rule is deterministic integer arithmetic, so LayoutSpec can pin
    * the exact child set). Only oversized tiles rewrite (partition-
    * pruned scan + one broadcast range join to assign children); every
    * other partition carries byte-for-byte; zone maps and Blooms split
    * with the rewrite exactly as in [[cowRewrite]]; and the new tile
    * MANIFEST publishes inside the same pair-atomic version. The
    * content is untouched — a scan-back differs only in `fileCol` —
    * so every logical oracle is invariant (the split is physical
    * only). The inverse is [[mergeOnBudget]]. 100 TB shape: this is
    * the knob that keeps bytes-per-mutation ∝ delta fan-out as the
    * table grows — file count tracks data volume, so a dense commit
    * rewrites many SMALL files instead of saturating a fixed grid
    * (the q242 ×100 wall). */
  def splitOnBudget(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, fileCol: String, budget: Long,
      newName: String, legacyFiles: Int = 64): SplitResult = {
    require(budget >= 1, s"splitOnBudget: budget must be >= 1, got $budget")
    require(newName != name,
      s"splitOnBudget: new store must not shadow the incumbent '$name'")
    val legacyW = Grid / legacyFiles
    val manifest = loadManifest(spark, root, name, legacyFiles)
    val man = manifest.map { case (f, zlo, zhi) => f -> (zlo, zhi) }.toMap
    val counts = fileRows(spark, root, name)
    // a width-1 tile cannot refine further (one zkey cell)
    val oversized = counts.collect { case (f, n)
      if n > budget && (man(f)._2 - man(f)._1 + 1) > 1 => f }.toSeq.sorted
    require(oversized.nonEmpty,
      s"splitOnBudget: no tile exceeds $budget rows — nothing to split")
    val children: Map[Long, Seq[(Long, Long, Long)]] = oversized.map { f =>
      val (zlo, zhi) = man(f)
      val w = zhi - zlo + 1
      val k = math.min(pow2AtLeast((counts(f) + budget - 1) / budget), w)
      val cw = w / k
      // children must PARTITION the parent exactly: cw = w/k truncates,
      // so a parent width that k does not divide would leave a zkey
      // tail covered by no child — rows silently dropped by the range
      // join below. Power-of-2 widths (the quadtree invariant every
      // split preserves) always divide; anything else must fail loudly
      require(k * cw == w,
        s"splitOnBudget: tile $f width $w is not divisible by $k " +
          "children — the store's tile widths must be powers of two")
      f -> (0L until k).map(i => (tileId(zlo + i * cw, cw, legacyW),
        zlo + i * cw, zlo + i * cw + cw - 1))
    }.toMap
    retile(spark, root, name, fileCol, newName, manifest, oversized,
      children.values.flatten.toSeq,
      children.map { case (f, cs) => f -> cs.map(_._1) })
  }

  /** The inverse maintenance commit, ONE-RUN K-WAY: every complete
    * sibling SET whose combined row count fits the budget merges back
    * into its ancestor range in a single commit — the exact inverse of
    * [[splitOnBudget]]'s k-way split (a 4-child split undoes in ONE
    * run, not log₂(k) full commits). The PLAN runs to fixpoint on the
    * footer-sized manifest alone (driver arithmetic: coalesce aligned
    * same-width sibling pairs bottom-up, pairs of pairs collapsing
    * transitively, stopping at the base-grid width); the PHYSICAL
    * rewrite then maps each absorbed tile straight to its FINAL
    * ancestor — one partition-pruned scan + one broadcast range join,
    * one published version. A parent restored to the base grid takes
    * its legacy id back, so split→merge round-trips to the original
    * store shape. Only merging tiles rewrite; everything else
    * carries byte-for-byte. */
  def mergeOnBudget(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, fileCol: String, budget: Long,
      newName: String, legacyFiles: Int = 64): SplitResult = {
    require(newName != name,
      s"mergeOnBudget: new store must not shadow the incumbent '$name'")
    val legacyW = Grid / legacyFiles
    val man = loadManifest(spark, root, name, legacyFiles)
    val counts = fileRows(spark, root, name)
    // plan state: live tile -> (zlo, zhi, rows, absorbed ORIGINAL tiles)
    var plan: Map[Long, (Long, Long, Long, Seq[Long])] = man.map {
      case (f, zlo, zhi) =>
        f -> (zlo, zhi, counts.getOrElse(f, 0L), Seq(f))
    }.toMap
    var changed = true
    while (changed) {
      changed = false
      // group refined tiles by candidate parent range (double width,
      // aligned); two same-width tiles of one parent are its two
      // halves (the manifest has no overlaps), so size==2 == complete
      val byParent = plan.toSeq
        .filter { case (_, (zlo, zhi, _, _)) => zhi - zlo + 1 < legacyW }
        .groupBy { case (_, (zlo, zhi, _, _)) =>
          val w = zhi - zlo + 1
          (zlo - (zlo % (2 * w)), 2 * w)
        }
      byParent.foreach { case ((pzlo, pw), sibs) =>
        if (sibs.size == 2 && sibs.map(_._2._3).sum <= budget) {
          plan = plan -- sibs.map(_._1) +
            (tileId(pzlo, pw, legacyW) ->
              (pzlo, pzlo + pw - 1, sibs.map(_._2._3).sum,
                sibs.flatMap(_._2._4)))
          changed = true
        }
      }
    }
    val merges = plan.toSeq.collect {
      case (pid, (zlo, zhi, _, absorbed)) if absorbed.size > 1 =>
        (pid, zlo, zhi, absorbed.sorted)
    }.sortBy(_._2)
    require(merges.nonEmpty,
      "mergeOnBudget: no sibling set fits the budget — nothing to merge")
    retile(spark, root, name, fileCol, newName, man,
      merges.flatMap(_._4), merges.map(m => (m._1, m._2, m._3)),
      merges.map(m => m._1 -> m._4).toMap) // ancestor -> absorbed tiles
  }

  /** Stored row count per file of `name`, from its zone maps. */
  private def fileRows(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String): Map[Long, Long] =
    spark.read
      .parquet(s"$root/${PartitionedStore.resolve(root, name)}/zonemaps")
      .select(col("file_id"), col("n_rows"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The re-tiling commit [[splitOnBudget]] and [[mergeOnBudget]] end
    * in: only the `from` tiles rewrite (a partition-pruned scan), each
    * row moving into the `to` tile its zkey falls in; every other file
    * carries byte-for-byte; and the new manifest (`man` without `from`,
    * plus `to` — coverage is preserved, since `to` partitions the range
    * `from` covered) publishes in the same version. */
  private def retile(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, fileCol: String, newName: String,
      man: Seq[(Long, Long, Long)], from: Seq[Long],
      to: Seq[(Long, Long, Long)], mapping: Map[Long, Seq[Long]])
      : SplitResult = {
    val (rows, _) = loadLayout(spark, root, name, fileCol,
      mergeSchema = true)
    val res = cowRewrite(spark, root, name, fileCol, from,
      assignTiles(rows.filter(col(fileCol).isin(from: _*)), fileCol, to),
      newName, manifestOverride = Some(
        (man.filterNot(t => from.contains(t._1)) ++ to).sortBy(_._2)))
    SplitResult(from, mapping, res.untouched.size.toLong + to.size)
  }

  /** Right-to-be-forgotten DELETE executed on a stored layout, as
    * COPY-ON-WRITE: rewrite ONLY the files that can contain a
    * tombstoned user — the per-file Bloom [[saveLayout]] persists is
    * consulted first (no false negatives, so a Bloom-negative file
    * provably holds no tombstone row) — and carry every other
    * partition directory into the new store version byte-for-byte at
    * the filesystem level, never reading or re-encoding it. Zone maps
    * and Blooms follow the same split: untouched files keep their
    * stored metadata rows, touched files get theirs recomputed from
    * the survivors (a file whose rows are ALL deleted disappears from
    * rows, zone maps and Blooms together). The purged store publishes
    * under `purgedName` through the SAME pair-atomic [[graft.state
    * .ModelStore]] rename as every other artifact — a reader sees the
    * pre-purge store or the post-purge store, never a mix. 100 TB
    * shape: bytes rewritten ∝ Bloom-touched files, not table size —
    * the write-amplification property that makes routine deletion
    * viable on a large immutable store. */
  def purgeUsers(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, fileCol: String, tombs: Seq[Long],
      purgedName: String): PurgeResult = {
    import spark.implicits._
    require(tombs.nonEmpty, "purgeUsers: empty tombstone set")
    require(purgedName != name,
      s"purgeUsers: purged store must not shadow the incumbent '$name'")
    // driver bit-test on small stores, distributed membership join on
    // large ones — same touched set either way
    // ([[PartitionedStore.consult]])
    val (_, touched) = PartitionedStore.consultPartitions(spark, root,
      name, table(fileCol), tombs.map(_.toString))
    // mutation arms read with mergeSchema: they REWRITE files, so an
    // evolved column (q248) must survive the copy-on-write even when
    // the sampled footer predates the evolution
    val (rows, _) = loadLayout(spark, root, name, fileCol,
      mergeSchema = true)
    // rewrite arm: a partition-pruned scan of ONLY the touched files,
    // tombstones removed by a broadcast anti-join
    val cleaned = rows.filter(col(fileCol).isin(touched: _*))
      .join(org.apache.spark.sql.functions.broadcast(
        tombs.toDF("user_id")), Seq("user_id"), "left_anti")
    cowRewrite(spark, root, name, fileCol, touched, cleaned, purgedName)
  }

  /** MERGE-insert executed on a stored layout, the other copy-on-write
    * mutation arm: `delta` rows — already carrying the full layout
    * column set (event_id, user_id, ub, tb, zkey, fileCol) — are folded
    * into the store by rewriting ONLY the files their `fileCol` names
    * (for inserts the target file is pure zkey ARITHMETIC on the new
    * row, no probe at all — cheaper than the delete's Bloom consult),
    * carrying every other partition over byte-for-byte. Same metadata
    * split and pair-atomic publish as the delete.
    *
    * CALLER CONTRACT — the replace-by-key anti-join scans only the
    * delta's own files, which is complete exactly when any stored
    * version of a delta key lives in the delta row's file. That holds
    * for inserts (no stored version) and for re-deliveries (the layout
    * columns are a function of the row's (user_id, ts), so an
    * unchanged row always names its old file). A key-MOVING update —
    * same event_id, changed user/ts, hence a different file — is NOT
    * an upsert: applied here it would leave the old version alive in
    * its unrewritten file (a duplicate key). Compose the arms instead:
    * [[purgeUsers]] the old rows, then upsert the new — LayoutSpec
    * pins the composition. 100 TB shape: a late-arriving batch
    * rewrites the handful of files its key ranges land in, not the
    * table. */
  def upsertRows(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, fileCol: String, delta: DataFrame,
      upsertName: String,
      preloaded: Option[DataFrame] = None): PurgeResult = {
    // no probe: insert targets are pure zkey arithmetic, and the commit
    // takes the file catalog from a driver listing of the partition dirs
    val touched = delta.select(col(fileCol).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    require(touched.nonEmpty, "upsertRows: empty delta")
    // mergeSchema for the same reason as purgeUsers: a rewrite must
    // see (and re-write) every evolved column the store carries.
    // `preloaded` lets a caller that ALSO classifies its delta against
    // the same incumbent ([[writerFeed]] — the q252 commit path) pay
    // the mergeSchema footer pass once per commit instead of twice.
    val rows = preloaded.getOrElse(
      loadLayout(spark, root, name, fileCol, mergeSchema = true)._1)
    val cols = Seq("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    // SCHEMA EVOLUTION, column-preserving (the Delta `MERGE … UPDATE
    // SET` rule): the merged schema is the UNION of stored and delta
    // extras. Columns the delta carries beyond the layout set are
    // adopted (incumbent rows of rewritten files take typed NULLs;
    // carried files simply lack the column — a mergeSchema reader
    // reconciles both, q248); columns the STORE carries that the delta
    // does not are PRESERVED — untouched rows keep them verbatim, and
    // a replaced key keeps its stored value for every column the delta
    // did not provide, so an identical core-payload re-delivery can
    // never clobber an evolved value back to NULL. That preservation
    // is also what makes [[writerFeed]]'s core+delta-column compare
    // complete: a column the delta cannot set cannot change.
    val storeExtras = rows.schema.fields.toSeq
      .filterNot(f => cols.contains(f.name))
    val deltaOnly = delta.schema.fields.toSeq
      .filterNot(f => cols.contains(f.name) ||
        storeExtras.exists(_.name == f.name))
    val extras = storeExtras ++ deltaOnly
    val all = cols ++ extras.map(_.name)
    val storeOnly = storeExtras
      .filterNot(f => delta.columns.contains(f.name))
    // when store-only columns exist, BOTH merge arms read the touched
    // files (survivors + the preserved-value join) — materialize the
    // pruned scan once instead of reading the bytes twice
    val incTouched0 = rows.filter(col(fileCol).isin(touched: _*))
    val incTouched =
      if (storeOnly.isEmpty) incTouched0 else incTouched0.localCheckpoint()
    val incumbent = widenTo(incTouched
      .join(org.apache.spark.sql.functions.broadcast(
        delta.select(col("event_id"))), Seq("event_id"), "left_anti"),
      extras)
    // store-only columns of a REPLACED key carry over from its stored
    // version (a per-key left join against the materialized touched
    // scan — fan-out-bounded)
    val deltaFilled =
      if (storeOnly.isEmpty) delta
      else delta.join(incTouched.select(col("event_id") +:
        storeOnly.map(f => col(f.name)): _*), Seq("event_id"),
        "left_outer")
    val merged = incumbent.select(all.map(col): _*)
      .unionByName(deltaFilled.select(all.map(col): _*))
    cowRewrite(spark, root, name, fileCol, touched, merged, upsertName)
  }

  /** In-place UPDATE executed on a stored layout — the third
    * copy-on-write DML arm beside [[purgeUsers]] (delete) and
    * [[upsertRows]] (insert/replace), expressible once the store
    * carries a NON-LAYOUT column (q248's schema evolution): for every
    * row of the `keyUsers` cohort, each `assign` column is recomputed
    * in place; layout columns are NOT assignable — updating the
    * (user, ts)-derived key columns moves the row across files, which
    * is the documented purge+upsert composition, not an update. Touch
    * set = the Bloom-positive files for the cohort (the purge's
    * consult: no false negatives, so every cohort row lives in a
    * touched file); only those files rewrite, everything else carries
    * byte-for-byte. 100 TB shape: bytes rewritten ∝ cohort's file
    * fan-out. */
  def updateRows(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, fileCol: String, keyUsers: Seq[Long],
      assign: Map[String, org.apache.spark.sql.Column],
      updatedName: String): PurgeResult = {
    require(keyUsers.nonEmpty, "updateRows: empty cohort")
    require(assign.nonEmpty, "updateRows: no assignments")
    val core = Set("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    require(assign.keys.forall(!core.contains(_)),
      "updateRows: layout/key columns are not updatable in place — " +
        "compose purgeUsers + upsertRows for a key-moving change")
    val (_, touched) = PartitionedStore.consultPartitions(spark, root,
      name, table(fileCol), keyUsers.map(_.toString))
    // a cohort entirely absent from the store (all Blooms negative)
    // would otherwise publish a byte-copy of the incumbent — a silent
    // no-op commit; fail fast like purgeUsers/upsertRows (r13 ADVICE)
    require(touched.nonEmpty,
      "updateRows: cohort matches no stored file — nothing to update")
    val (rows, _) = loadLayout(spark, root, name, fileCol,
      mergeSchema = true)
    assign.keys.foreach(c => require(rows.columns.contains(c),
      s"updateRows: column '$c' does not exist in '$name' — evolve " +
        "the schema first (upsertRows with the new column)"))
    // cohort targeting by broadcast membership join (the purgeUsers
    // pattern), NOT an isin literal list: a large cohort inlined as
    // one In expression bloats the plan toward Janino's method limit
    // and re-evaluates per row. DISTINCT first — unlike a left_anti
    // (or an isin), a membership left_outer would duplicate every
    // matching stored row once per duplicate cohort entry
    import spark.implicits._
    val targets = org.apache.spark.sql.functions.broadcast(
      keyUsers.distinct.toDF("user_id").withColumn("__upd", lit(true)))
    val flagged = rows.filter(col(fileCol).isin(touched: _*))
      .join(targets, Seq("user_id"), "left_outer")
    val isTarget = coalesce(col("__upd"), lit(false))
    val rewritten = assign.foldLeft(flagged) {
      case (df, (c, e)) =>
        df.withColumn(c, when(isTarget, e).otherwise(col(c)))
    }.drop("__upd")
    cowRewrite(spark, root, name, fileCol, touched, rewritten, updatedName)
  }

  /** CHANGE DATA CAPTURE between two published store versions — the
    * change feed a downstream consumer (replica sync, materialized-view
    * maintenance, audit) reads instead of re-scanning the table. Because
    * every mutation here is copy-on-write ([[cowRewrite]]), untouched
    * partition directories are byte-identical across versions, so the
    * diff scans ONLY the `touched` files of BOTH versions (two
    * partition-pruned scans + one key join of fan-out-bounded bytes) —
    * never the table. The feed is typed rows `(op, commit payload)`:
    * `insert` = key only in `after`, `delete` = key only in `before`,
    * `update` = key in both with a differing payload (impossible on
    * this table — every column is a function of the key's (user, ts) —
    * so the comparator existing and emitting ZERO update rows is itself
    * a gated fact; q243's oracle replays it). This is the backfill/audit
    * form of a Delta-style change feed (writer-emitted CDC would be
    * delta-sized with no diff at all; the diff is what PROVES such a
    * feed complete). Insert/update carry the post-image, delete the
    * pre-image. */
  def changeFeed(spark: org.apache.spark.sql.SparkSession, root: String,
      beforeName: String, afterName: String, fileCol: String,
      touched: Seq[Long]): DataFrame = {
    val (joined, cols) =
      feedJoined(spark, root, beforeName, afterName, fileCol, touched)
    joined
      // op-aware image pick, NOT coalesce: an update that set a column
      // to NULL must emit the NULL post-image, not resurrect the
      // pre-image value
      .select(col("op") +: col("event_id") +:
        cols.tail.map(c => when(col("op") === "delete", col(s"b.$c"))
          .otherwise(col(s"a.$c")).as(c)): _*)
  }

  /** The classified version diff both feed forms share: one full-outer
    * key join of the touched files of both versions, each row carrying
    * the pre-image (`b`), post-image (`a`) and its op. */
  private def feedJoined(spark: org.apache.spark.sql.SparkSession,
      root: String, beforeName: String, afterName: String,
      fileCol: String, touched: Seq[Long]): (DataFrame, Seq[String]) = {
    val core = Seq("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    // evolved columns (q248) ride in the payload too — an in-place
    // UPDATE of a non-layout column (q249) must surface as a change;
    // mergeSchema reads reconcile pre-evolution files to typed NULLs
    def load(nm: String) =
      loadLayout(spark, root, nm, fileCol, mergeSchema = true)._1
    val (bRaw, aRaw) = (load(beforeName), load(afterName))
    val extraFields = (bRaw.columns ++ aRaw.columns).distinct
      .filterNot(core.contains).toSeq
      .map(n => (bRaw.schema.fields ++ aRaw.schema.fields)
        .find(_.name == n).get)
    val cols = core ++ extraFields.map(_.name)
    def side(raw: DataFrame, as: String) =
      widenTo(raw, extraFields)
        .filter(col(fileCol).isin(touched: _*))
        .select(col("event_id"),
          struct(cols.tail.map(col): _*).as(as))
    // payload compare is NULL-SAFE (<=>): an update from NULL (a
    // pre-evolution row) to a value is a change, not an unknown
    (side(bRaw, "b")
      .join(side(aRaw, "a"), Seq("event_id"), "full_outer")
      .withColumn("op",
        when(col("b").isNull, "insert")
          .when(col("a").isNull, "delete")
          .when(!(col("a") <=> col("b")), "update"))
      .filter(col("op").isNotNull), cols)
  }

  /** [[changeFeed]] in the BOTH-IMAGES normal form — the Delta change
    * data feed's `_change_type` vocabulary (public: Delta Lake CDF;
    * Armbrust et al., VLDB 2020 §4.3): ops are `insert` (post-image),
    * `delete` (pre-image), and each update emits TWO rows,
    * `update_preimage` and `update_postimage`. This is the form an
    * incremental-view maintainer over VALUE columns needs: the
    * single-image feed's update row carries only the post-image, so a
    * maintained SUM over a column the update changed has nothing to
    * retract — with both images every op folds under ONE signed rule
    * (+post, −pre; Gupta & Mumick 1995's delta algebra with updates
    * rewritten as delete+insert), and a key-moving update maintains
    * both groups correctly for free. Same cost shape as [[changeFeed]]:
    * two partition-pruned scans + one key join; update rows fan out
    * 2× (delta-sized, never table-sized). */
  def changeFeedCdf(spark: org.apache.spark.sql.SparkSession,
      root: String, beforeName: String, afterName: String,
      fileCol: String, touched: Seq[Long]): DataFrame = {
    val (joined, cols) =
      feedJoined(spark, root, beforeName, afterName, fileCol, touched)
    def tagged(opName: String, img: String) =
      struct(lit(opName).as("op") +:
        cols.tail.map(c => col(s"$img.$c").as(c)): _*)
    joined
      .select(col("event_id"), explode(
        when(col("op") === "insert", array(tagged("insert", "a")))
          .when(col("op") === "delete", array(tagged("delete", "b")))
          .otherwise(array(tagged("update_preimage", "b"),
            tagged("update_postimage", "a")))).as("ch"))
      .select(col("ch.op").as("op") +: col("event_id") +:
        cols.tail.map(c => col(s"ch.$c").as(c)): _*)
  }

  /** WRITER-EMITTED change feed for an upsert commit — the delta-sized
    * form of [[changeFeed]]: the merge writer already knows its delta
    * and scans the incumbent's touched files anyway, so it can CLASSIFY
    * each delta row against the stored version at commit time (key
    * absent → `insert`; payload differs → `update`; identical
    * re-delivery → NO feed row) without ever diffing whole versions.
    * The compare runs over core + the DELTA's columns, and that is
    * complete BY the merge's column-preserving contract
    * ([[upsertRows]]): a stored column the delta does not carry is
    * preserved verbatim on replaced keys, so it cannot change and need
    * not be compared — the feed also (correctly) omits such columns
    * from its payload, since the commit cannot touch them. This is
    * what a production CDF emits per commit; [[changeFeed]] is the
    * backfill/audit diff that PROVES such a stream complete —
    * LayoutSpec pins writerFeed(v1, delta) == changeFeed(v1, v2) after
    * the corresponding upsert, and q252 gates the per-commit streamed
    * feeds against the oracle's replay. Cost: one partition-pruned
    * incumbent scan + one delta-sized broadcast join. Call BEFORE
    * [[upsertRows]] publishes (the classification is against the
    * incumbent the upsert will rewrite). */
  def writerFeed(spark: org.apache.spark.sql.SparkSession, root: String,
      name: String, fileCol: String, delta: DataFrame,
      preloaded: Option[DataFrame] = None): DataFrame = {
    val core = Seq("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    val touched = delta.select(col(fileCol).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val rows = preloaded.getOrElse(
      loadLayout(spark, root, name, fileCol, mergeSchema = true)._1)
    // schema mirrors changeFeed exactly: store extras first, then
    // delta-only extras. The COMPARE covers only columns the delta
    // carries (a column it cannot set is preserved by upsertRows'
    // contract and cannot change); preserved store-only columns are
    // still CARRIED in the emitted image from the stored side, so the
    // writer feed is schema- and value-identical to the version diff
    // (insert rows get their typed NULL, update rows the preserved
    // stored value — what the merged store will hold).
    val storeExtras = rows.schema.fields.toSeq
      .filterNot(f => core.contains(f.name))
    val deltaOnly = delta.schema.fields.toSeq
      .filterNot(f => core.contains(f.name) ||
        storeExtras.exists(_.name == f.name))
    val extras = storeExtras ++ deltaOnly
    val storeOnly = storeExtras
      .filterNot(f => delta.columns.contains(f.name))
    val cmp = core.tail ++
      extras.collect { case f if delta.columns.contains(f.name) => f.name }
    val inc = widenTo(rows.filter(col(fileCol).isin(touched: _*)),
        deltaOnly)
      .select(col("event_id") +: struct(cmp.map(col): _*).as("b") +:
        storeOnly.map(f => col(f.name).as(s"__so_${f.name}")): _*)
    delta.select(col("event_id"), struct(cmp.map(col): _*).as("a"))
      .join(inc, Seq("event_id"), "left_outer")
      .withColumn("op",
        when(col("b").isNull, "insert")
          .when(!(col("a") <=> col("b")), "update"))
      .filter(col("op").isNotNull)
      .select(col("op") +: col("event_id") +:
        (core.tail.map(c => col(s"a.$c").as(c)) ++
          extras.map(f =>
            (if (delta.columns.contains(f.name)) col(s"a.${f.name}")
             else col(s"__so_${f.name}")).as(f.name))): _*)
  }

  /** Apply a [[changeFeed]] stream onto a base version, commits in
    * `commit_id` order: each commit anti-joins its delete/update keys
    * out, then unions its insert/update post-images in. Evolved
    * payload columns replay too — the column set is the UNION of the
    * base's and the feed's (each side widened with typed NULLs), so a
    * feed from a schema-evolving commit reconstructs the evolved
    * target. The replay gate LayoutSpec pins — replay(v1, feed)
    * row-equal to the final version — is what makes the feed a
    * faithful substitute for re-reading the store. */
  def replayFeed(base: DataFrame, feed: DataFrame,
      fileCol: String): DataFrame = {
    val core = Seq("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    val meta = Set("op", "commit_id")
    val extras = (base.schema.fields ++ feed.schema.fields).toSeq
      .filterNot(f => core.contains(f.name) || meta.contains(f.name))
      .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
    val cols = core ++ extras.map(_.name)
    val wFeed = widenTo(feed, extras)
    val commits = feed.select(col("commit_id")).distinct()
      .orderBy(col("commit_id")).collect().map(_.getLong(0))
    commits.foldLeft(widenTo(base, extras).select(cols.map(col): _*)) {
      (acc, c) =>
      val cf = wFeed.filter(col("commit_id") === c)
      acc.join(cf.filter(col("op").isin("delete", "update"))
          .select(col("event_id")), Seq("event_id"), "left_anti")
        .unionByName(cf.filter(col("op").isin("insert", "update"))
          .select(cols.map(col): _*))
    }
  }

  /** The copy-on-write commit every mutation arm ends in: `rewritten`
    * (the new content of the `touched` files, layout columns first,
    * then any evolved columns the caller's schema carries, q248)
    * becomes version `newName` through [[PartitionedStore.commit]]: the
    * untouched partition dirs carry byte-for-byte, zone maps and Blooms
    * are recomputed for touched files only, and the tile manifest
    * carries verbatim unless the commit re-tiles (split/merge pass the
    * new one). */
  private def cowRewrite(spark: org.apache.spark.sql.SparkSession,
      root: String, name: String, fileCol: String, touched: Seq[Long],
      rewritten: DataFrame, newName: String,
      manifestOverride: Option[Seq[(Long, Long, Long)]] = None)
      : PurgeResult = {
    import spark.implicits._
    val core = Seq("event_id", "user_id", "ub", "tb", "zkey", fileCol)
    val keep = core ++ rewritten.columns.toSeq.filterNot(core.contains)
    val untouched = PartitionedStore.commit(spark, root, name, newName,
      table(fileCol), touched, rewritten.select(keep.map(col): _*),
      manifestOverride.map(m =>
        "manifest" -> m.toDF("file_id", "zlo", "zhi").coalesce(1)).toMap)
    PurgeResult(touched, untouched)
  }
}
