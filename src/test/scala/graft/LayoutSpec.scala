package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Layout

/** The physical-layout family ([[graft.llm.Layout]]): Morton key
  * hand-checks, layout invariants, and the pruning-advantage property
  * the q206/q207/q208 report cards quantify. The DuckDB oracle gates
  * the exact numbers; these tests pin the properties that make the
  * numbers MEAN something — interleave correctness, tiling
  * completeness, and "Z-order beats single-key sort on the second
  * dimension".
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("mortonSql: hand-checked interleave, range, and monotone locality") {
    import spark.implicits._
    // ub=3 (bits 0,1 -> odd positions 1,3), tb=5 (bits 0,2 -> even 0,4):
    // zkey = 2 + 8 + 1 + 16 = 27
    val got = Seq((3L, 5L), (0L, 0L), (255L, 255L), (255L, 0L), (0L, 255L))
      .toDF("ub", "tb")
      .withColumn("zkey", expr(Layout.mortonSql("ub", "tb")))
      .orderBy($"ub", $"tb").collect().map(_.getLong(2))
    // (0,0)=0; (0,255)=0x5555=21845; (3,5)=27; (255,0)=0xAAAA=43690;
    // (255,255)=65535
    assert(got.toSeq == Seq(0L, 21845L, 27L, 43690L, 65535L))
  }

  test("eventLayout: buckets/zkey/file ids stay in range and tile the corpus") {
    import spark.implicits._
    val ev = graft.ops.Tables.events(spark, sf)
    val laid = Layout.eventLayout(ev).cache()
    try {
      assert(laid.count() == ev.count())
      val bad = laid.filter(
        $"ub" < 0 || $"ub" > 255 || $"tb" < 0 || $"tb" > 255 ||
          $"zkey" < 0 || $"zkey" > 65535 ||
          $"file_z" < 0 || $"file_z" > 63 ||
          $"file_t" < 0 || $"file_t" > 63).count()
      assert(bad == 0L)
      // the domain edges are hit: min user -> bucket 0, max user -> the
      // top occupied bucket ((span-1)*256 DIV span — 255 only once the
      // domain has >= 256 distinct values; sf0.001 has ~15 users)
      val Seq(loD, hiD) = ev.agg(min($"user_id"), max($"user_id"))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      val expectHi = (hiD - loD) * 256L / (hiD - loD + 1L)
      val Seq(loU, hiU) = laid.agg(min($"ub"), max($"ub"))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      assert(loU == 0L && hiU == expectHi, s"ub range $loU..$hiU")
      // zone maps tile: per-layout row counts sum back to the corpus
      Seq("file_z", "file_t").foreach { f =>
        val zm = Layout.zoneMaps(laid, f)
        assert(zm.agg(sum($"n_rows")).collect().head.getLong(0) ==
          ev.count())
        assert(zm.filter($"min_ub" > $"max_ub" || $"min_tb" > $"max_tb")
          .count() == 0L)
      }
    } finally laid.unpersist()
  }

  test("Z-order zone maps are narrower on the unsorted dimension than " +
      "the time-sorted incumbent's") {
    import spark.implicits._
    val laid = Layout.eventLayout(
      graft.ops.Tables.events(spark, sf)).cache()
    try {
      def avgUbWidth(f: String): Double =
        Layout.zoneMaps(laid, f)
          .agg(avg($"max_ub" - $"min_ub" + 1)).collect().head.getDouble(0)
      val z = avgUbWidth("file_z")
      val t = avgUbWidth("file_t")
      // time-sorted files see ~the whole user range; zorder files see a
      // 32-wide slab (8-bit grid, 64 files -> 2 zkey bits of ub DIV 32)
      assert(z <= 64.0, s"zorder avg ub width $z")
      assert(t >= 2 * z, s"timesort avg ub width $t vs zorder $z")
    } finally laid.unpersist()
  }

  test("q206 pruning report: Z-order scans no more files than time-sort " +
      "on box predicates, and strictly fewer in total") {
    val r = graft.ops.LlmQueries.q206ZorderPruning(spark, sf).collect()
    assert(r.length == 16)
    val (fz, ft) = (r.map(_.getAs[Long]("files_z")).sum,
      r.map(_.getAs[Long]("files_t")).sum)
    assert(r.forall(x =>
      x.getAs[Long]("files_z") <= x.getAs[Long]("files_t")))
    assert(fz < ft, s"total files_z $fz vs files_t $ft")
  }

  test("q208 point-lookup report: bloom never misses (files_bloom >= " +
      "files_actual) and zorder zone maps prune hardest") {
    val r = graft.ops.LlmQueries.q208PointLookupEval(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("files_bloom_t") >=
        x.getAs[Long]("files_actual_t"), x.toString)
      assert(x.getAs[Long]("files_zone_z") <=
        x.getAs[Long]("files_zone_t"), x.toString)
      assert(x.getAs[Long]("files_actual_t") >= 1L)
    }
  }

  test("q211 optimize plan: a bounded rewrite moves rows, never raises " +
      "the user-lookup cost, and grows the file count") {
    val r = graft.ops.LlmQueries.q211OptimizePlan(spark, sf).collect()
      .map(x => x.getAs[String]("stage") -> x).toMap
    val (before, after) = (r("before"), r("after"))
    assert(after.getAs[Long]("rows_moved") > 0L)
    assert(before.getAs[Long]("rows_moved") == 0L)
    assert(after.getAs[Long]("ub_cost_bp") <=
      before.getAs[Long]("ub_cost_bp"),
      s"rewrite raised ub cost: $before -> $after")
    assert(after.getAs[Long]("n_files") > before.getAs[Long]("n_files"))
  }

  test("q212 capstone: the strategies order zorder < timesort+bloom < " +
      "timesort on total files scanned") {
    val r = graft.ops.LlmQueries.q212LayoutCapstone(spark, sf).collect()
      .map(x => x.getAs[String]("strategy") ->
        x.getAs[Long]("total_files")).toMap
    assert(r.size == 3, r.toString)
    assert(r("zorder") < r("timesort_bloom") &&
      r("timesort_bloom") <= r("timesort"), r.toString)
  }

  test("q222 drift monitor: every gauge is non-decreasing and the " +
      "final row reconciles with the batch layout") {
    import spark.implicits._
    val rows = graft.ops.StreamQueries.q222LayoutDrift(spark, sf)
      .collect().sortBy(_.getAs[Int]("batch_id"))
    assert(rows.nonEmpty)
    Seq("n_files_open", "n_rows_seen", "user_span_sum").foreach { c =>
      rows.map(_.getAs[Long](c)).sliding(2).foreach {
        case Array(a, b) => assert(b >= a, s"$c regressed: $a -> $b")
        case _ => ()
      }
    }
    val last = rows.last
    val batch = graft.ops.Tables.events(spark, sf)
      .groupBy(expr("event_id DIV 2048").as("f"))
      .agg(count(lit(1)).as("n"),
        (max($"user_id") - min($"user_id") + 1).as("span"))
      .agg(count(lit(1)), sum($"n"), sum($"span")).collect().head
    assert(last.getAs[Long]("n_files_open") == batch.getLong(0))
    assert(last.getAs[Long]("n_rows_seen") == batch.getLong(1))
    assert(last.getAs[Long]("user_span_sum") == batch.getLong(2))
  }

  test("q210 streaming zone maps: per-file stats grow monotonically " +
      "across batches and the final batch equals the batch-computed map") {
    import spark.implicits._
    val r = graft.ops.StreamQueries.q210StreamZonemap(spark, sf)
    val rows = r.collect()
    assert(rows.nonEmpty)
    val byFile = rows.groupBy(_.getAs[Long]("file_id"))
    byFile.foreach { case (_, rs) =>
      val seq = rs.sortBy(_.getAs[Int]("batch_id"))
      seq.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("n_rows") >= a.getAs[Long]("n_rows"))
          assert(b.getAs[Long]("min_user") <= a.getAs[Long]("min_user"))
          assert(b.getAs[Long]("max_user") >= a.getAs[Long]("max_user"))
        case _ => ()
      }
    }
    // final emission per file == the batch zone map over the same key
    val last = rows.groupBy(_.getAs[Long]("file_id")).map { case (f, rs) =>
      val m = rs.maxBy(_.getAs[Int]("batch_id"))
      (f, m.getAs[Long]("n_rows"), m.getAs[Long]("min_user"),
        m.getAs[Long]("max_user"))
    }.toSeq.sortBy(_._1)
    val batch = graft.ops.Tables.events(spark, sf)
      .groupBy(expr("event_id DIV 2048").as("f"))
      .agg(count(lit(1)).as("n"), min($"user_id").as("lo"),
        max($"user_id").as("hi"))
      .orderBy($"f").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq
    assert(last == batch)
  }

  test("saveLayout/loadLayout roundtrip: pair published atomically, one " +
      "file per directory, zone maps equal the stored rows") {
    import spark.implicits._
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_layoutrt")
    graft.llm.Layout.saveLayout(laid, root.toString)
    // staging cleared, prod dir present (the blue/green contract)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root.toString, "events_z")))
    val (rows, zm) = graft.llm.Layout.loadLayout(spark, root.toString)
    // each file_z directory holds exactly ONE parquet file — file =
    // unit of pruning, not per-task shards (the repartition claim)
    val rowsDir = java.nio.file.Paths.get(root.toString, "events_z", "rows")
    scala.util.Using.resource(java.nio.file.Files.list(rowsDir)) { st =>
      st.forEach { d =>
        if (java.nio.file.Files.isDirectory(d)) {
          val n = scala.util.Using.resource(java.nio.file.Files.list(d)) {
            f => f.filter(_.toString.endsWith(".parquet")).count()
          }
          assert(n == 1, s"$d holds $n parquet files")
        }
      }
    }
    // the stored zone maps ARE the zone maps of the stored rows
    val recomputed = graft.llm.Layout.zoneMaps(rows, "file_z")
    assert(zm.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(zm).isEmpty)
    // and the roundtrip loses no rows
    assert(rows.count() == laid.count())
  }

  test("stored per-file bloom: published with the layout pair and never " +
      "false-negative on any (file, user) actually stored") {
    import spark.implicits._
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_bloomrt")
    graft.llm.Layout.saveLayout(laid, root.toString, "events_t", "file_t")
    // the bloom table landed inside the SAME atomically-published dir
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      root.toString, "events_t", "bloom")))
    val cache = graft.state.PartitionedStore.bloomCache(spark,
      root.toString, "events_t", graft.llm.Layout.table("file_t"))
    val truth = laid.select($"file_t", $"user_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(truth.nonEmpty)
    // no false negatives — the property that makes Bloom pruning SAFE
    // (a miss would silently drop stored rows from a point lookup)
    truth.foreach { case (f, u) =>
      assert(graft.llm.Sketch.bloomContains(cache(f), u.toString,
        graft.llm.Layout.BloomK, graft.llm.Layout.BloomWords),
        s"bloom false negative: user $u in file $f")
    }
    // and the filter actually prunes: some absent user misses somewhere
    val absent = truth.map(_._2).max + 7919L
    assert(cache.values.exists(bits => !graft.llm.Sketch.bloomContains(
      bits, absent.toString, graft.llm.Layout.BloomK,
      graft.llm.Layout.BloomWords)),
      "every file claims every key — the filter prunes nothing")
  }

  test("splitOnBudget: deterministic children, content untouched, " +
      "metadata == re-aggregated truth, routed mutations stay correct, " +
      "merge restores the base grid") {
    import spark.implicits._
    val L = graft.llm.Layout
    val laid = L.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_split").toString
    L.saveLayout(laid, root)
    val (v1, _) = L.loadLayout(spark, root)
    val total = v1.count()
    val budget = total / 100 + 1
    val sp = L.splitOnBudget(spark, root, "events_z", "file_z", budget,
      "events_z_sp")
    assert(sp.split.nonEmpty, "fixture produced no oversized tile")
    // determinism: a second split of the same incumbent produces the
    // identical child set
    val sp2 = L.splitOnBudget(spark, root, "events_z", "file_z", budget,
      "events_z_sp_b")
    assert(sp.split == sp2.split && sp.children == sp2.children)
    // content untouched: the split is physical only — scan-backs agree
    // on everything but the file assignment
    val (v2, _) = L.loadLayout(spark, root, "events_z_sp")
    def logical(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_id", $"user_id", $"ub", $"tb", $"zkey")
      .orderBy($"event_id").collect().toSeq
    assert(logical(v2) == logical(v1), "split changed logical content")
    // every row lives inside its tile's manifest range, and the stored
    // zone maps / Blooms / manifest re-aggregate from the rows exactly
    val man = L.loadManifest(spark, root, "events_z_sp")
    val manDf = man.toDF("file_z", "mzlo", "mzhi")
    assert(v2.join(manDf, Seq("file_z"))
      .filter($"zkey" < $"mzlo" || $"zkey" > $"mzhi").isEmpty,
      "a row escaped its tile range")
    // manifest ranges partition the grid: disjoint, full coverage
    assert(man.map(t => t._3 - t._2 + 1).sum == L.Grid)
    assert(man.sortBy(_._2).sliding(2).forall {
      case Seq(a, b) => a._3 + 1 == b._2
      case _ => true
    }, "manifest ranges overlap or gap")
    val zmStored = spark.read.parquet(s"$root/events_z_sp/zonemaps")
      .orderBy($"file_id").collect().toSeq
    val zmTruth = L.zoneMaps(v2, "file_z")
      .orderBy($"file_id").collect().toSeq
    assert(zmStored == zmTruth, "zone maps drifted from the rows")
    // children really respect the budget rule: every split tile's
    // child count is the smallest power of 2 bringing the AVERAGE
    // child under budget
    val counts1 = L.zoneMaps(v1, "file_z").select($"file_id", $"n_rows")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sp.children.foreach { case (f, kids) =>
      val need = (counts1(f) + budget - 1) / budget
      var p = 1L; while (p < need) p <<= 1
      assert(kids.size == math.min(p, 1024L),
        s"tile $f: ${kids.size} children, expected ${math.min(p, 1024L)}")
    }
    // a purge on the SPLIT store carries the manifest into its new
    // version (mutations don't re-tile)
    val tombs = v2.select($"user_id").distinct()
      .filter($"user_id" % 499 === 7).collect().map(_.getLong(0)).toSeq
    L.purgeUsers(spark, root, "events_z_sp", "file_z", tombs,
      "events_z_sp_pg")
    assert(L.loadManifest(spark, root, "events_z_sp_pg") == man,
      "purge dropped or re-tiled the manifest")
    // routed re-delivery on the split store replaces in place (never
    // duplicates): re-deliver stored rows, routed by the manifest
    val redeliver = L.routeToStore(spark, root, "events_z_sp",
      v2.filter($"event_id" % 131 === 5).drop("file_z")
        .withColumn("file_z", lit(0L)), "file_z")
    L.upsertRows(spark, root, "events_z_sp", "file_z",
      redeliver.localCheckpoint(), "events_z_sp_rd")
    val (rd, _) = L.loadLayout(spark, root, "events_z_sp_rd")
    assert(rd.count() == total, "routed re-delivery duplicated rows")
    assert(logical(rd) == logical(v1))
    // merge is the inverse: with an unbounded budget every sibling
    // pair coalesces; repeated to fixpoint the store returns to the
    // base grid with its legacy ids and original content
    var cur = "events_z_sp"
    var gen = 0
    while (L.loadManifest(spark, root, cur).exists(t =>
        t._3 - t._2 + 1 < L.Grid / 64)) {
      gen += 1
      val next = s"events_z_mg$gen"
      L.mergeOnBudget(spark, root, cur, "file_z", Long.MaxValue, next)
      cur = next
    }
    // the k-way plan collapses EVERY complete sibling set in one
    // commit — undoing the whole split must not take log2(k) runs
    assert(gen == 1, s"merge took $gen runs to restore the base grid")
    val manBack = L.loadManifest(spark, root, cur)
    assert(manBack.map(_._1).sorted == (0L until 64L),
      s"merge did not restore the base grid: ${manBack.map(_._1)}")
    val (back, _) = L.loadLayout(spark, root, cur)
    assert(back.select($"event_id", $"file_z").orderBy($"event_id")
      .collect().toSeq ==
      v1.select($"event_id", $"file_z").orderBy($"event_id")
        .collect().toSeq,
      "split→merge round-trip changed file assignments")
  }

  test("mergeOnBudget k-way: a deep multi-child split undoes in ONE " +
      "commit, each ancestor absorbing its complete sibling set") {
    import spark.implicits._
    val L = graft.llm.Layout
    val laid = L.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_kway").toString
    L.saveLayout(laid, root)
    val (v1, _) = L.loadLayout(spark, root)
    val total = v1.count()
    // avg tile ≈ total/64 ≈ 8× this budget → k = 8-way children
    val sp = L.splitOnBudget(spark, root, "events_z", "file_z",
      total / 512 + 1, "events_z_deep")
    val maxFanout = sp.children.values.map(_.size).max
    assert(maxFanout >= 4,
      s"fixture too small for a k-way split (max fan-out $maxFanout)")
    // ONE merge run restores the base grid (the old binary-level merge
    // needed log2(k) commits here)
    val mg = L.mergeOnBudget(spark, root, "events_z_deep", "file_z",
      Long.MaxValue, "events_z_back")
    val manBack = L.loadManifest(spark, root, "events_z_back")
    assert(manBack.map(_._1).sorted == (0L until 64L),
      s"one-run merge left refined tiles: ${manBack.map(_._1)}")
    // each restored ancestor absorbed its ENTIRE child set
    sp.children.foreach { case (parent, kids) =>
      assert(mg.children(parent).sorted == kids.sorted,
        s"ancestor $parent absorbed ${mg.children(parent)} != $kids")
    }
    // and the rewrite is content-exact: the round-trip equals v1
    val (back, _) = L.loadLayout(spark, root, "events_z_back")
    assert(back.select($"event_id", $"file_z").orderBy($"event_id")
      .collect().toSeq ==
      v1.select($"event_id", $"file_z").orderBy($"event_id")
        .collect().toSeq,
      "k-way split→merge round-trip changed file assignments")
  }

  test("bloom consult: the distributed membership join names EXACTLY " +
      "the files the driver bit-test names, and the mutation arms are " +
      "path-invariant") {
    import spark.implicits._
    val laid = graft.llm.Layout.eventLayout(
      graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_bloomdist")
    graft.llm.Layout.saveLayout(laid, root.toString)
    val probes = laid.select($"user_id").distinct()
      .filter($"user_id" % 17 === 0).orderBy($"user_id")
      .collect().map(_.getLong(0).toString).toSeq
    assert(probes.nonEmpty)
    val key = graft.state.PartitionedStore.BloomDriverMaxFilesKey
    val table = graft.llm.Layout.table("file_z")
    def consult(): (Seq[Long], Seq[Long]) =
      graft.state.PartitionedStore.consultPartitions(spark, root.toString,
        "events_z", table, probes)
    val (allD, drv) = consult() // default: driver path (64 files)
    spark.conf.set(key, "0") // force EVERY store onto the join path
    try {
      val (allJ, dist) = consult()
      assert(allD == allJ, "file catalogs diverged between paths")
      assert(drv == dist,
        s"touched sets diverged: driver=$drv distributed=$dist")
      // and the mutation arm built on the consult is path-invariant:
      // a purge under the forced join path equals the driver-path purge
      val tombs = probes.map(_.toLong)
      val r1 = graft.llm.Layout.purgeUsers(spark, root.toString,
        "events_z", "file_z", tombs, "events_z_pj")
      spark.conf.unset(key)
      val r2 = graft.llm.Layout.purgeUsers(spark, root.toString,
        "events_z", "file_z", tombs, "events_z_pd")
      assert(r1 == r2, s"purge results diverged: $r1 vs $r2")
      val a = graft.llm.Layout.loadLayout(spark, root.toString,
        "events_z_pj")._1.orderBy($"event_id").collect().toSeq
      val b = graft.llm.Layout.loadLayout(spark, root.toString,
        "events_z_pd")._1.orderBy($"event_id").collect().toSeq
      assert(a == b, "purged stores diverged between consult paths")
    } finally spark.conf.unset(key)
    // the PER-KEY consult (the q235/q257 point-lookup planner) is
    // path-invariant too: the join path must name for every probe
    // exactly the (key, file) pairs the driver bit-test names
    def perKey(): (Seq[Long], Set[(String, Long)]) = {
      val (af, pairs) = graft.state.PartitionedStore.consult(spark,
        root.toString, "events_z", table, probes)
      (af, pairs.toSet)
    }
    val (pAllD, pDrv) = perKey() // driver path
    spark.conf.set(key, "0")
    try {
      val (pAllJ, pJoin) = perKey() // forced join path
      assert(pAllD == pAllJ, "per-key catalogs diverged between paths")
      assert(pDrv == pJoin,
        s"per-key predictions diverged: ${pDrv.diff(pJoin).take(3)} / " +
          s"${pJoin.diff(pDrv).take(3)}")
      // and the union of per-key pairs is exactly the set consult's
      val (_, union) = graft.state.PartitionedStore.consultPartitions(
        spark, root.toString, "events_z", table, probes)
      assert(pJoin.map(_._2) == union.toSet,
        "per-key union diverged from the union consult")
    } finally spark.conf.unset(key)
  }

  test("q225 decision feed: append-only ingest trips the budget from " +
      "batch 1 and each batch's plan ranks by un-prunable mass") {
    val rows = graft.ops.StreamQueries
      .q225StreamOptimizeDecision(spark, sf).collect()
    assert(rows.nonEmpty)
    // the time-sorted incumbent cannot prune users: every open file
    // spans ~the whole seen domain, so the re-cluster budget trips
    // from the first batch (q207's measured failure, live)
    assert(rows.forall(_.getAs[Int]("tripped") == 1), rows.mkString(","))
    rows.groupBy(_.getAs[Int]("batch_id")).foreach { case (b, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rnk"))
      assert(byRank.length <= 8)
      assert(byRank.map(_.getAs[Int]("rnk")).toSeq ==
        (1 to byRank.length), s"batch $b rank gap")
      val mass = byRank.map(_.getAs[Long]("unprunable")).toSeq
      assert(mass == mass.sortBy(-(_: Long)), s"batch $b not ranked")
    }
  }

  test("q226 executed optimize: the rewrite changes files scanned but " +
      "never query answers, and makes the weakest link physical") {
    val rows = graft.ops.LlmQueries
      .q226StoredOptimizeExec(spark, sf).collect()
    assert(rows.length == 12)
    rows.groupBy(_.getAs[Long]("pred_id")).foreach { case (p, rs) =>
      val n = rs.map(r =>
        r.getAs[String]("stage") -> r.getAs[Long]("n_rows")).toMap
      // a data movement that loses or duplicates rows would break this
      assert(n("before") == n("after") && n("before") == n("zorder"),
        s"box $p: rows diverge across rewrites ($n)")
      val f = rs.map(r => r.getAs[String]("stage") ->
        r.getAs[Long]("files_scanned")).toMap
      assert(f.values.forall(_ >= 1))
      // weakest link: the partial rewrite scans at least the remaining
      // incumbent files; the FULL rewrite must prune strictly harder
      // than both (the positive anchor)
      assert(f("after") >= f("before") - 8,
        s"box $p: after=${f("after")} before=${f("before")}")
      assert(f("zorder") < f("before") && f("zorder") < f("after"),
        s"box $p: zorder=${f("zorder")} vs $f")
    }
  }

  test("purgeUsers: tombstones gone, carried files byte-identical, one " +
      "file per rewritten partition, no Bloom false negatives") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_purge_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val tombs = rows.select($"user_id").distinct()
      .filter($"user_id" % 499 === 7).orderBy($"user_id")
      .collect().map(_.getLong(0)).toSeq
    assert(tombs.nonEmpty)
    // files that REALLY hold a tombstone row, before the purge
    val holding = rows.join(broadcast(tombs.toDF("user_id")),
        Seq("user_id"))
      .select($"file_z").distinct().collect().map(_.getLong(0)).toSet
    val res = Layout.purgeUsers(spark, root, "events_z", "file_z",
      tombs, "events_z_purged")
    // no false negatives: every file holding a tombstone was rewritten
    assert(holding.subsetOf(res.touched.toSet),
      s"missed ${holding -- res.touched.toSet}")
    val (purged, _) = Layout.loadLayout(spark, root, "events_z_purged")
    // the delete happened and deleted ONLY tombstones
    assert(purged.join(broadcast(tombs.toDF("user_id")), Seq("user_id"))
      .isEmpty)
    assert(purged.count() ==
      rows.count() - rows.filter($"user_id" % 499 === 7).count())
    // carried partitions are byte-identical to the incumbent's files
    def files(name: String, f: Long) = {
      val dir = java.nio.file.Paths.get(root, name, "rows", s"file_z=$f")
      scala.util.Using.resource(java.nio.file.Files.list(dir)) { l =>
        l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
      }
    }
    res.untouched.take(3).foreach { f =>
      assert(files("events_z", f) == files("events_z_purged", f),
        s"carried file_z=$f drifted") }
    // rewritten partitions land as ONE file each (file = pruning unit)
    res.touched.foreach { f =>
      val dir = java.nio.file.Paths.get(root, "events_z_purged", "rows",
        s"file_z=$f")
      if (java.nio.file.Files.isDirectory(dir)) {
        val n = scala.util.Using.resource(
            java.nio.file.Files.list(dir)) { l =>
          l.iterator().asScala.count(_.toString.endsWith(".parquet"))
        }
        assert(n == 1, s"file_z=$f has $n parquet files")
      }
    }
    // purged metadata matches purged rows: zone maps re-aggregate
    val zm = spark.read.parquet(s"$root/events_z_purged/zonemaps")
    val zmTruth = Layout.zoneMaps(purged, "file_z")
    assert(zm.exceptAll(zmTruth).isEmpty && zmTruth.exceptAll(zm).isEmpty)
  }

  test("upsertRows: inserts land, re-deliveries replace (never " +
      "duplicate), carried files byte-identical, touched = delta files") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_upsert_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = rows.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .unionByName(rows.filter($"event_id" % 131 === 5))
      .localCheckpoint()
    val nIns = delta.filter($"event_id" >= off).count()
    val res = Layout.upsertRows(spark, root, "events_z", "file_z",
      delta, "events_z_up")
    assert(res.touched.toSet == delta.select($"file_z").distinct()
      .collect().map(_.getLong(0)).toSet)
    val (up, _) = Layout.loadLayout(spark, root, "events_z_up")
    // inserts added, re-deliveries replaced in place: count grows by
    // exactly the insert arm, and every key stays unique
    assert(up.count() == rows.count() + nIns)
    assert(up.groupBy($"event_id").count().filter($"count" > 1).isEmpty)
    // every delta row is present verbatim in the upserted store
    assert(delta.exceptAll(up.select(delta.columns.map(col): _*))
      .isEmpty)
    // carried partitions byte-identical to the incumbent's files
    def files(name: String, f: Long) = {
      val dir = java.nio.file.Paths.get(root, name, "rows", s"file_z=$f")
      scala.util.Using.resource(java.nio.file.Files.list(dir)) { l =>
        l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.readAllBytes(p).toSeq).toMap
      }
    }
    res.untouched.take(3).foreach { f =>
      assert(files("events_z", f) == files("events_z_up", f),
        s"carried file_z=$f drifted") }
    // metadata split matches the new content
    val zm = spark.read.parquet(s"$root/events_z_up/zonemaps")
    val zmTruth = Layout.zoneMaps(up, "file_z")
    assert(zm.exceptAll(zmTruth).isEmpty && zmTruth.exceptAll(zm).isEmpty)
  }

  test("key-moving update composes the arms (purge old, upsert moved) " +
      "— upsert alone would leave the stale version alive") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_move_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    // move user u's events to user w's layout position (same ts, new
    // user): ub/zkey/file_z recomputed under w — the key-moving shape
    val u = 7L
    val w = rows.agg(max($"user_id")).head.getLong(0)
    assert(u != w)
    val ubw = rows.filter($"user_id" === w).select($"ub")
      .head.getLong(0)
    val moved = rows.filter($"user_id" === u)
      .withColumn("user_id", lit(w)).withColumn("ub", lit(ubw))
      .withColumn("zkey", expr(Layout.mortonSql("ub", "tb")))
      .withColumn("file_z", expr("zkey DIV 1024"))
      .localCheckpoint()
    val nU = moved.count()
    assert(nU > 0)
    // the documented hazard, demonstrated: upsert ALONE leaves the old
    // version alive in its unrewritten file — duplicate event_ids
    Layout.upsertRows(spark, root, "events_z", "file_z", moved,
      "events_z_naive")
    val (naive, _) = Layout.loadLayout(spark, root, "events_z_naive")
    assert(!naive.groupBy($"event_id").count().filter($"count" > 1)
      .isEmpty, "expected stale duplicates under naive upsert")
    // the contract's composition: purge the old user, then upsert
    Layout.purgeUsers(spark, root, "events_z", "file_z", Seq(u),
      "events_z_m1")
    Layout.upsertRows(spark, root, "events_z_m1", "file_z", moved,
      "events_z_m2")
    val (fin, _) = Layout.loadLayout(spark, root, "events_z_m2")
    assert(fin.filter($"user_id" === u).isEmpty)
    assert(fin.groupBy($"event_id").count().filter($"count" > 1).isEmpty)
    assert(fin.count() == rows.count())
    // the moved rows are present verbatim at their new position
    assert(moved.exceptAll(fin.select(moved.columns.map(col): _*))
      .isEmpty)
  }

  test("changeFeed + replayFeed: the CDC stream reconstructs the final " +
      "version row-for-row, is minimal, and never fires update") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_cdc_spec").toString
    Layout.saveLayout(laid, root) // v1
    val (v1, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = v1.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .unionByName(v1.filter($"event_id" % 131 === 5))
      .localCheckpoint()
    val up = Layout.upsertRows(spark, root, "events_z", "file_z",
      delta, "events_z_v2")
    val (v2, _) = Layout.loadLayout(spark, root, "events_z_v2")
    val tombs = v2.select($"user_id").distinct()
      .filter($"user_id" % 499 === 7).collect().map(_.getLong(0)).toSeq
    assert(tombs.nonEmpty)
    val pg = Layout.purgeUsers(spark, root, "events_z_v2", "file_z",
      tombs, "events_z_v3")
    val feed = Layout.changeFeed(spark, root, "events_z",
        "events_z_v2", "file_z", up.touched)
        .withColumn("commit_id", lit(2L))
      .unionByName(Layout.changeFeed(spark, root, "events_z_v2",
        "events_z_v3", "file_z", pg.touched)
        .withColumn("commit_id", lit(3L)))
      .localCheckpoint()
    // MINIMAL: commit 2 emits exactly the inserts (a re-delivered
    // duplicate replaces an identical row — no change, no feed row)
    val nIns = delta.filter($"event_id" >= off).count()
    assert(feed.filter($"commit_id" === 2).count() == nIns)
    assert(feed.filter($"commit_id" === 2 && $"op" =!= "insert").isEmpty)
    // the update comparator exists but can never fire here: every
    // column is a function of the key's (user, ts)
    assert(feed.filter($"op" === "update").isEmpty)
    // cross-commit composition: an inserted key of a tombstoned user
    // appears again as a commit-3 delete
    val insDel = feed.filter($"commit_id" === 2).select($"event_id")
      .join(feed.filter($"commit_id" === 3 && $"op" === "delete")
        .select($"event_id"), Seq("event_id"))
    assert(insDel.count() ==
      delta.filter($"event_id" >= off && $"user_id" % 499 === 7).count())
    // THE consumer contract: replaying the feed onto v1 IS v3
    val replayed = Layout.replayFeed(v1, feed, "file_z")
    val (v3, _) = Layout.loadLayout(spark, root, "events_z_v3")
    assert(replayed.exceptAll(v3.select(replayed.columns.map(col): _*))
      .isEmpty &&
      v3.select(replayed.columns.map(col): _*).exceptAll(replayed)
        .isEmpty,
      "replay(v1, feed) != v3")
  }

  test("writerFeed == changeFeed: the commit-time feed is complete " +
      "(the post-hoc diff proves it) and re-deliveries emit nothing") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_wfeed_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = rows.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .unionByName(rows.filter($"event_id" % 131 === 5))
      .localCheckpoint()
    // the writer's delta-sized feed, classified BEFORE the commit
    val wf = Layout.writerFeed(spark, root, "events_z", "file_z", delta)
      .localCheckpoint()
    val res = Layout.upsertRows(spark, root, "events_z", "file_z",
      delta, "events_z_v2")
    // the audit diff over the published versions
    val cf = Layout.changeFeed(spark, root, "events_z", "events_z_v2",
      "file_z", res.touched)
    assert(wf.exceptAll(cf).isEmpty && cf.exceptAll(wf).isEmpty,
      "writer-emitted feed diverges from the version diff")
    // minimality: exactly the inserts; identical re-deliveries silent
    assert(wf.count() == delta.filter($"event_id" >= off).count())
    assert(wf.filter($"op" =!= "insert").isEmpty)
  }

  test("time travel: a published mutation leaves the prior version " +
      "byte-stable and still serving its pre-mutation content") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_tt_spec").toString
    Layout.saveLayout(laid, root)
    def v1Bytes(): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(root, "events_z")
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { w =>
        w.iterator().asScala.filter(p =>
            java.nio.file.Files.isRegularFile(p))
          .map(p => dir.relativize(p).toString ->
            java.nio.file.Files.size(p)).toMap
      }
    }
    val before = v1Bytes()
    val (v1pre, _) = Layout.loadLayout(spark, root)
    val n1 = v1pre.count()
    Layout.purgeUsers(spark, root, "events_z", "file_z", Seq(7L),
      "events_z_v2")
    // v1's file set is untouched by v2's publish (copy-on-write means
    // history costs only the CHANGED bytes)
    assert(v1Bytes() == before, "v1 drifted under v2's publish")
    // and an AS OF read of v1 still sees the pre-purge content
    val (v1post, _) = Layout.loadLayout(spark, root)
    assert(v1post.count() == n1)
    assert(v1post.filter($"user_id" === 7L).count() ==
      v1pre.filter($"user_id" === 7L).count())
  }

  test("vacuum: retires unkept versions and staging, keeps the " +
      "blue/green pair of kept names serving") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_vac_spec").toString
    // saveLayout twice: the MUTABLE incumbent name republists (publish,
    // not publishExclusive), which is what creates its _backup pair
    Layout.saveLayout(laid, root)
    Layout.saveLayout(laid, root)
    assert(graft.state.ModelStore.exists(root, "events_z_backup"))
    val (v1, _) = Layout.loadLayout(spark, root)
    val n1 = v1.count()
    Layout.purgeUsers(spark, root, "events_z", "file_z", Seq(7L),
      "events_z_v2")
    val retired = graft.state.ModelStore.vacuum(root,
      keep = Set("events_z"))
    assert(retired == Seq("events_z_v2"), retired.toString)
    assert(!graft.state.ModelStore.exists(root, "events_z_v2"))
    // the kept pair survives whole: prod AND its crash-window backup
    assert(graft.state.ModelStore.exists(root, "events_z"))
    assert(graft.state.ModelStore.exists(root, "events_z_backup"))
    val (v1b, _) = Layout.loadLayout(spark, root)
    assert(v1b.count() == n1)
    // idempotent: a second vacuum finds nothing to retire
    assert(graft.state.ModelStore.vacuum(root,
      keep = Set("events_z")).isEmpty)
  }

  test("optimistic concurrency: two writers racing to the same new " +
      "version — first wins, second must rebase onto the latest") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_occ_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = rows.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .localCheckpoint()
    val nIns = delta.count()
    // writer A commits v1 → v2
    Layout.upsertRows(spark, root, "events_z", "file_z", delta,
      "events_z_v2")
    // writer B, working from the SAME stale base toward the SAME
    // version name, must fail at commit (lost update prevented)
    intercept[graft.state.CasConflictException] {
      Layout.purgeUsers(spark, root, "events_z", "file_z", Seq(7L),
        "events_z_v2")
    }
    // A's commit is intact after B's failed attempt
    val (v2, _) = Layout.loadLayout(spark, root, "events_z_v2")
    assert(v2.count() == rows.count() + nIns)
    // B rebases: derive from the LATEST version, commit a fresh name —
    // the final store carries BOTH mutations
    Layout.purgeUsers(spark, root, "events_z_v2", "file_z", Seq(7L),
      "events_z_v3")
    val (v3, _) = Layout.loadLayout(spark, root, "events_z_v3")
    assert(v3.filter($"user_id" === 7L).isEmpty)
    assert(v3.filter($"event_id" >= off).count() ==
      delta.filter($"user_id" =!= 7L).count())
  }

  test("schema evolution: carried files keep the old schema on disk, " +
      "mergeSchema reconciles, and later mutations preserve the column") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_evo_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = rows.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .withColumn("weight", $"event_id" % 97)
      .localCheckpoint()
    val nIns = delta.count()
    val res = Layout.upsertRows(spark, root, "events_z", "file_z",
      delta, "events_z_e1")
    // the evolved column exists exactly on the inserted rows
    val (e1, _) = Layout.loadLayout(spark, root, "events_z_e1",
      mergeSchema = true)
    assert(e1.columns.contains("weight"))
    assert(e1.filter($"weight".isNotNull).count() == nIns)
    assert(e1.filter($"weight".isNotNull && $"event_id" < off).isEmpty)
    // a CARRIED file physically lacks the column — history unrewritten
    val carried = res.untouched.head
    val carriedDir = java.nio.file.Paths.get(root, "events_z_e1",
      "rows", s"file_z=$carried")
    val carriedFile = scala.util.Using.resource(
        java.nio.file.Files.list(carriedDir)) { l =>
      l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
    }
    assert(!spark.read.parquet(carriedFile.toString)
      .columns.contains("weight"),
      s"carried file_z=$carried was rewritten with the evolved column")
    // composition: a purge of the EVOLVED store must re-write (not
    // drop) the column, and the surviving weights are untouched
    Layout.purgeUsers(spark, root, "events_z_e1", "file_z", Seq(7L),
      "events_z_e2")
    val (e2, _) = Layout.loadLayout(spark, root, "events_z_e2",
      mergeSchema = true)
    assert(e2.columns.contains("weight"))
    val lost = e1.filter($"user_id" =!= 7L)
      .select($"event_id", $"weight")
      .exceptAll(e2.select($"event_id", $"weight"))
    assert(lost.isEmpty, "purge of the evolved store lost weights")
    // the CDC of the evolve commit carries the evolved post-images and
    // replays the evolved target: replay(v1, feed) == e1, weight and all
    val feed = Layout.changeFeed(spark, root, "events_z",
        "events_z_e1", "file_z", res.touched)
      .withColumn("commit_id", lit(2L))
    val replayed = Layout.replayFeed(rows, feed, "file_z")
    assert(replayed.columns.contains("weight"))
    val e1c = e1.select(replayed.columns.map(col): _*)
    assert(replayed.exceptAll(e1c).isEmpty &&
      e1c.exceptAll(replayed).isEmpty,
      "replay(v1, evolve feed) != evolved store")
    // column-preserving merge: a CORE-ONLY re-delivery of weighted
    // rows must not clobber stored weights, and the writer feed is
    // silent (nothing the delta carries changed)
    val redeliver = e1.filter($"weight".isNotNull).limit(5)
      .select($"event_id", $"user_id", $"ub", $"tb", $"zkey", $"file_z")
      .localCheckpoint()
    assert(redeliver.count() > 0)
    assert(Layout.writerFeed(spark, root, "events_z_e1", "file_z",
      redeliver).isEmpty, "core-only re-delivery emitted a change")
    Layout.upsertRows(spark, root, "events_z_e1", "file_z", redeliver,
      "events_z_e3")
    val (e3, _) = Layout.loadLayout(spark, root, "events_z_e3",
      mergeSchema = true)
    assert(e3.count() == e1.count())
    assert(e3.select($"event_id", $"weight")
      .exceptAll(e1.select($"event_id", $"weight")).isEmpty,
      "core-only merge clobbered stored weights")
    // a SECOND evolution (the delta carries a new `score`) over
    // re-delivered weighted rows: the writer feed must CARRY the
    // preserved weight from the stored side — schema- and
    // value-identical to the version diff — and replaying it must
    // reconstruct the published store, preserved values included
    val delta2 = e1.filter($"weight".isNotNull).limit(4)
      .select($"event_id", $"user_id", $"ub", $"tb", $"zkey", $"file_z")
      .withColumn("score", $"event_id" % 11)
      .localCheckpoint()
    assert(delta2.count() > 0)
    val wf2 = Layout.writerFeed(spark, root, "events_z_e1", "file_z",
      delta2).localCheckpoint()
    val res2 = Layout.upsertRows(spark, root, "events_z_e1", "file_z",
      delta2, "events_z_e4")
    val cf2 = Layout.changeFeed(spark, root, "events_z_e1",
      "events_z_e4", "file_z", res2.touched)
    assert(wf2.columns.toSeq == cf2.columns.toSeq,
      s"writer ${wf2.columns.toSeq} vs diff ${cf2.columns.toSeq}")
    assert(wf2.exceptAll(cf2).isEmpty && cf2.exceptAll(wf2).isEmpty,
      "writer feed diverges from the version diff on an evolved store")
    assert(wf2.filter($"op" === "update" && $"weight".isNull).isEmpty,
      "update post-image lost the preserved weight")
    val (e4, _) = Layout.loadLayout(spark, root, "events_z_e4",
      mergeSchema = true)
    val rp = Layout.replayFeed(e1,
      wf2.withColumn("commit_id", lit(2L)), "file_z")
    val e4c = e4.select(rp.columns.map(col): _*)
    assert(rp.exceptAll(e4c).isEmpty && e4c.exceptAll(rp).isEmpty,
      "replay(e1, writer feed) != published store")
  }

  test("updateRows: cohort-only in-place assignment, layout columns " +
      "rejected, and the CDC diff emits pure update ops") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_upd_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, _) = Layout.loadLayout(spark, root)
    val off = 1000000000000L
    val delta = rows.filter($"event_id" % 131 === 3)
      .withColumn("event_id", $"event_id" + off)
      .withColumn("weight", $"event_id" % 97)
      .localCheckpoint()
    Layout.upsertRows(spark, root, "events_z", "file_z", delta,
      "events_z_v2")
    // guards: key columns are not updatable; unknown columns must be
    // evolved first
    intercept[IllegalArgumentException] {
      Layout.updateRows(spark, root, "events_z_v2", "file_z", Seq(7L),
        Map("user_id" -> lit(9L)), "events_z_bad")
    }
    intercept[IllegalArgumentException] {
      Layout.updateRows(spark, root, "events_z_v2", "file_z", Seq(7L),
        Map("nope" -> lit(9L)), "events_z_bad")
    }
    val res = Layout.updateRows(spark, root, "events_z_v2", "file_z",
      Seq(7L), Map("weight" -> (lit(10000L) + $"user_id" % 89)),
      "events_z_v3")
    val (v2, _) = Layout.loadLayout(spark, root, "events_z_v2",
      mergeSchema = true)
    val (v3, _) = Layout.loadLayout(spark, root, "events_z_v3",
      mergeSchema = true)
    // the cohort got exactly the assigned value; nobody else moved
    assert(v3.filter($"user_id" === 7L)
      .filter(!($"weight" <=> (lit(10000L) + $"user_id" % 89))).isEmpty)
    assert(v3.filter($"user_id" =!= 7L)
      .select($"event_id", $"weight")
      .exceptAll(v2.filter($"user_id" =!= 7L)
        .select($"event_id", $"weight")).isEmpty,
      "update leaked outside the cohort")
    assert(v3.count() == v2.count())
    // the diff between the versions is PURE update ops carrying the
    // post-image, one per cohort row in a touched file
    val feed = Layout.changeFeed(spark, root, "events_z_v2",
      "events_z_v3", "file_z", res.touched)
    val nCohort = v2.filter($"user_id" === 7L).count()
    assert(feed.count() == nCohort && nCohort > 0)
    assert(feed.filter($"op" =!= "update").isEmpty)
    assert(feed.filter($"weight" =!= (lit(10000L) + $"user_id" % 89))
      .isEmpty, "feed carries a stale pre-image")
    // an update that REVOKES a value (sets it NULL) must emit the NULL
    // post-image, not resurrect the pre-image via coalesce
    val resN = Layout.updateRows(spark, root, "events_z_v3", "file_z",
      Seq(7L), Map("weight" -> lit(null).cast("long")), "events_z_v4")
    val feedN = Layout.changeFeed(spark, root, "events_z_v3",
      "events_z_v4", "file_z", resN.touched)
    assert(feedN.count() == nCohort)
    assert(feedN.filter($"op" =!= "update").isEmpty)
    assert(feedN.filter($"weight".isNotNull).isEmpty,
      "NULL-revoking update leaked a pre-image value into the feed")
  }

  test("q246 residual scan is partition-pruned to exactly the " +
      "boundary files the zone maps classify as 'scan'") {
    import spark.implicits._
    val laid = Layout.eventLayout(graft.ops.Tables.events(spark, sf))
    val root = graft.util.Fs.tempRoot("graft_meta_spec").toString
    Layout.saveLayout(laid, root)
    val (rows, zm) = Layout.loadLayout(spark, root)
    val (lo, hi) = (48L, 175L)
    val scanFiles = zm.collect().toSeq.flatMap { r =>
      val (mnu, mxu) = (r.getAs[Long]("min_ub"), r.getAs[Long]("max_ub"))
      val (mnt, mxt) = (r.getAs[Long]("min_tb"), r.getAs[Long]("max_tb"))
      val contained = mnu >= lo && mxu <= hi && mnt >= lo && mxt <= hi
      val disjoint = mxu < lo || mnu > hi || mxt < lo || mnt > hi
      if (!contained && !disjoint) Some(r.getAs[Long]("file_id")) else None
    }.sorted
    assert(scanFiles.nonEmpty, "fixture lost its boundary files")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val residual = rows.filter($"file_z".isin(scanFiles: _*))
        .filter($"ub".between(lo, hi) && $"tb".between(lo, hi))
        .agg(count(lit(1)).as("n"))
      residual.collect()
      val scans = residual.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      // files actually read == the zone-map classification (the q223
      // move: pruning is MEASURED at the scan node, not assumed)
      val partsRead = scans.map(_.metrics("numPartitions").value).sum
      assert(partsRead == scanFiles.size,
        s"read $partsRead partitions, classified ${scanFiles.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
