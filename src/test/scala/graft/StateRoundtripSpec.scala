package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Centroids, DenStream}
import graft.pipeline.Enrich
import graft.state.ModelStore

/** §3 cross-run parity: the training batch persists model state through
  * ModelStore (the pickle/blue-green analog, A12/A13); a later incremental
  * batch loads it and must score identically to the in-memory model.
  */
class StateRoundtripSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("train -> persist -> load -> incremental scores identically") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-rt").toString

    // training run (§3.2): fit + persist, centroids from the assignments
    // the training batch carries
    val (model, trained) = Enrich.trainingBatch(spark, sf, limit = 600) {
      (enriched, model) =>
        ModelStore.save(DenStream.stateDF(spark, model), root, "denstream")
        ModelStore.save(
          Centroids.fitCentroids(enriched, "log_id", "embedding"),
          root, "centroids")
        (model, enriched.count())
    }

    // a fresh process would start here: load state from disk
    val model2 = DenStream.fromStateDF(
      ModelStore.load(spark, root, "denstream"))
    val centroids2 = ModelStore.load(spark, root, "centroids").collect()
      .map(r => Centroids.Centroid(r.getString(0),
        r.getSeq[Float](1).toArray, r.getLong(2)))

    // incremental batch (§3.1) over a later id range with loaded state
    val incr = Enrich.incrementalBatch(spark, sf, model2, centroids2,
      lo = 700, hi = 900)
    val got = incr.select($"log_id", $"cluster_id", $"semantic_group")
      .orderBy($"log_id").collect()
    assert(got.nonEmpty)

    // identical scoring with the original in-memory model
    val incrOrig = Enrich.incrementalBatch(spark, sf, model,
      centroids2, lo = 700, hi = 900)
      .select($"log_id", $"cluster_id", $"semantic_group")
      .orderBy($"log_id").collect()
    assert(got.map(_.toString).sameElements(incrOrig.map(_.toString)))
    assert(trained > 0)
  }

  test("schema-given ModelStore.load: no inference job, backup " +
      "fallback, old state without hyperparameters (A12/A13)") {
    val root = java.nio.file.Files.createTempDirectory("graft-schema").toString
    def state(eps: Double) = {
      val m = new DenStream.Model(eps, 0.0005)
      m.learnOne(Array(1f, 0f))
      DenStream.stateDF(spark, m)
    }
    def load(name: String) =
      ModelStore.load(spark, root, name, DenStream.StateSchema)
    ModelStore.save(state(1.0), root, "denstream") // v1
    ModelStore.save(state(2.0), root, "denstream") // v2; v1 is the backup
    assert(org.apache.spark.TestJobs.count(spark.sparkContext)(
      load("denstream")) == 0)
    assert(load("denstream").schema == DenStream.StateSchema)
    assert(DenStream.fromStateDF(load("denstream")).epsilon == 2.0)

    // crash window: prod vanished mid-publish -> the schema-given read
    // falls back to the backup exactly like the inferring one
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(root, "denstream"))
    assert(DenStream.fromStateDF(load("denstream")).epsilon == 1.0)
    // neither copy: the read error surfaces
    graft.util.Fs.deleteRecursively(
      java.nio.file.Paths.get(root, "denstream_backup"))
    intercept[org.apache.spark.sql.AnalysisException](load("denstream"))

    // state written before the hyperparameter columns existed reads them
    // as nulls; the arguments stay the fallback
    ModelStore.save(state(2.0).drop("epsilon", "lambda"), root, "old")
    val old = DenStream.fromStateDF(load("old"), epsilon = 0.7)
    assert(old.epsilon == 0.7 && old.clusters.length == 1)
  }

  test("partitioned sink: partition pruning reaches the scan (A7 at scale)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.ops.Tables.events(spark, sf)
      .withColumn("ts", unix_micros($"ts")) // plain column for rewrite
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir).filter($"event_type" === "error")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"), s"no partition pruning:\n$plan")
    val expected = graft.ops.Tables.events(spark, sf)
      .filter($"event_type" === "error").count()
    assert(read.count() == expected)
  }

  test("IVF-SQ store: pair-atomic publish, backup fallback (A12/A13)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivfrt").toString
    val e = graft.ops.Tables.embeddings(spark, sf)
    def build(df: org.apache.spark.sql.DataFrame) = {
      val cents = graft.llm.Ivf.fitCentroids(df, "vec_id", "embedding",
        nlist = 4)
      (graft.llm.Quantize.withInt8(
        graft.llm.Ivf.assignIndex(df, "vec_id", "embedding", cents), "v")
        .drop("v"), cents)
    }
    def snap(lists: org.apache.spark.sql.DataFrame) = lists
      .select($"id", $"list_id", $"qnorm").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // v1 over the even half, v2 over everything: different content
    val (idx1, c1) = build(e.filter($"vec_id" % 2 === 0))
    graft.llm.Ivf.saveIndex(idx1, c1, root)
    val v1 = snap(graft.llm.Ivf.loadIndex(spark, root)._1)
    assert(v1 == snap(idx1))

    val (idx2, c2) = build(e)
    graft.llm.Ivf.saveIndex(idx2, c2, root)
    val (lists2, cents2) = graft.llm.Ivf.loadIndex(spark, root)
    assert(snap(lists2) == snap(idx2) && v1 != snap(lists2))
    assert(cents2.collect().map(_.getInt(0)).sorted.sameElements(0 until 4))

    // crash window: prod vanished mid-publish -> the PAIR falls back to
    // backup (v1) together; per-table fallback could tear the pair
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(root, "ivfsq"))
    val (listsB, centsB) = graft.llm.Ivf.loadIndex(spark, root)
    assert(snap(listsB) == v1)
    assert(centsB.count() == 4)
  }

  test("catalog pointer: a multi-artifact transaction is invisible " +
      "until the one pointer swap, and the catalog drives vacuum") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_cat_spec").toString
    def save(nm: String, v: Long): Unit = graft.state.ModelStore.save(
      Seq((1L, v)).toDF("k", "value"), root, nm)
    def readVia(cat: Map[String, String], art: String): Long =
      graft.state.ModelStore.load(spark, root, cat(art))
        .head.getLong(1)
    def catalogAt(txn: Long): Map[String, String] =
      graft.state.Catalog.load(spark, root, txn)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def liveCatalog(): Map[String, String] =
      graft.state.Catalog.live(spark, root)._2
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // v1 of both artifacts + pointer txn 1
    save("tab_v1", 10L); save("view_v1", 100L)
    val t1 = graft.state.Catalog.commit(
      Seq(("table", "tab_v1"), ("view", "view_v1"))
        .toDF("artifact", "version"), root, expectedTxn = 0L)
    assert(t1 == 1L)
    // the transaction publishes BOTH v2 artifacts — a reader resolving
    // the catalog still sees the v1 PAIR (nothing references v2 yet)
    save("tab_v2", 20L); save("view_v2", 200L)
    val before = liveCatalog()
    assert(readVia(before, "table") == 10L &&
      readVia(before, "view") == 100L,
      "unswapped reader saw an unreferenced version")
    // ONE CAS pointer swap makes both live together
    val t2 = graft.state.Catalog.commit(
      Seq(("table", "tab_v2"), ("view", "view_v2"))
        .toDF("artifact", "version"), root, expectedTxn = t1)
    assert(t2 == 2L && graft.state.Catalog.liveTxn(root) == 2L)
    val after = liveCatalog()
    assert(readVia(after, "table") == 20L &&
      readVia(after, "view") == 200L)
    // retention composes: keepSet(lastK=1) = the LIVE pointer's entries
    val retired = graft.state.ModelStore.vacuum(root,
      keep = graft.state.Catalog.keepSet(spark, root, lastK = 1))
    assert(retired.sorted == Seq("catalog_t1", "tab_v1", "view_v1"),
      retired.toString)
    assert(readVia(liveCatalog(), "table") == 20L &&
      readVia(liveCatalog(), "view") == 200L,
      "vacuum broke a catalog-referenced artifact")
    assert(catalogAt(2L)("table") == "tab_v2")
  }

  test("catalog CAS race: of two transactions from the same base " +
      "exactly one lands; the loser rebases; the winner's RTBF purge " +
      "is never vacuumed") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_cas_spec").toString
    def save(nm: String, v: Long): Unit = graft.state.ModelStore.save(
      Seq((1L, v)).toDF("k", "value"), root, nm)
    def ptr(tab: String, view: String) =
      Seq(("table", tab), ("view", view)).toDF("artifact", "version")
    save("tab_v1", 10L); save("view_v1", 100L)
    val base = graft.state.Catalog.commit(ptr("tab_v1", "view_v1"),
      root, 0L)
    // two governance transactions derive from the SAME base txn.
    // T_purge executes an RTBF purge (tab_purged); T_other an unrelated
    // maintenance (tab_other). Both publish their artifact versions,
    // then race the pointer swap.
    save("tab_purged", 7L); save("view_purged", 70L)
    save("tab_other", 9L); save("view_other", 90L)
    // the purge transaction wins the CAS
    graft.state.Catalog.commit(ptr("tab_purged", "view_purged"),
      root, base)
    // the other transaction LOSES — loudly, instead of silently
    // unreferencing the winner's executed purge
    val e = intercept[Exception] {
      graft.state.Catalog.commit(ptr("tab_other", "view_other"),
        root, base)
    }
    assert(e.getMessage.contains("rebase"), e.getMessage)
    // loser REBASES: re-derive its maintenance off the new live base,
    // commit against the new txn
    val live = graft.state.Catalog.liveTxn(root)
    assert(live == base + 1)
    save("tab_other2", 11L) // re-derived on top of the purged table
    graft.state.Catalog.commit(ptr("tab_other2", "view_purged"),
      root, live)
    // vacuum with the grace keep-set (last 2 pointers): the winner's
    // purged version is referenced by a historical pointer in the
    // grace window and MUST survive — a lost-update overwrite would
    // have left it unreferenced and deleted here
    val keep = graft.state.Catalog.keepSet(spark, root, lastK = 2)
    assert(keep.contains("tab_purged") && keep.contains("view_purged"))
    val retired = graft.state.ModelStore.vacuum(root, keep)
    assert(!retired.contains("tab_purged") &&
      !retired.contains("view_purged"),
      s"vacuum discarded a compliance-mandated purge: $retired")
    // the abandoned loser branch (never referenced by any pointer) IS
    // reclaimed, along with versions referenced only outside the grace
    assert(retired.contains("tab_other") && retired.contains("tab_v1"))
    // every version referenced by a pointer inside the grace window
    // still loads
    assert(graft.state.ModelStore.load(spark, root, "tab_purged")
      .head.getLong(1) == 7L)
  }

  test("commitWithRebase: two contending transactions both land, " +
      "serialized, with both effects in the final pointer") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_rebase_spec").toString
    def save(nm: String, v: Long): Unit = graft.state.ModelStore.save(
      Seq((1L, v)).toDF("k", "value"), root, nm)
    save("tab_v1", 10L); save("view_v1", 100L)
    val t1 = graft.state.Catalog.commitWithRebase(spark, root,
      (e, _) => { assert(e == 0L)
        Seq(("table", "tab_v1"), ("view", "view_v1"))
          .toDF("artifact", "version") })
    assert(t1 == 1L)
    // transaction A updates the table pointer, transaction B the view
    // pointer. B commits FIRST from inside A's derive — so A's first
    // attempt loses the CAS and its derive re-runs against B's base;
    // the final pointer must carry BOTH effects (nothing lost).
    save("tab_v2", 20L); save("view_v2", 200L)
    var aDerives = 0
    val tA = graft.state.Catalog.commitWithRebase(spark, root,
      (e, base) => {
        aDerives += 1
        if (aDerives == 1) { // B sneaks in between A's read and commit
          assert(e == 1L)
          graft.state.Catalog.commit(
            Seq(("table", "tab_v1"), ("view", "view_v2"))
              .toDF("artifact", "version"), root, e)
        }
        // A re-derives OFF THE BASE IT IS GIVEN: keep base's view
        // entry, swap only the table
        base.filter($"artifact" =!= "table")
          .unionByName(Seq(("table", "tab_v2"))
            .toDF("artifact", "version"))
      })
    assert(aDerives == 2, "loser did not rebase")
    assert(tA == 3L)
    val fin = graft.state.Catalog.live(spark, root)._2
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fin == Map("table" -> "tab_v2", "view" -> "view_v2"),
      s"an effect was lost: $fin")
  }

  test("snapshot-isolated reader vs vacuum: a reader pinned lastK-1 " +
      "swaps back still finds its versions; beyond the grace they " +
      "retire") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_grace_spec").toString
    def save(nm: String, v: Long): Unit = graft.state.ModelStore.save(
      Seq((1L, v)).toDF("k", "value"), root, nm)
    def ptr(tab: String) = Seq(("table", tab)).toDF("artifact", "version")
    save("tab_a", 1L)
    val t1 = graft.state.Catalog.commit(ptr("tab_a"), root, 0L)
    // a reader resolves txn 1 and pins tab_a (a long scan in flight)
    val pinned = graft.state.Catalog.load(spark, root, t1)
      .head.getString(1)
    // a writer swaps to txn 2 while the reader is mid-scan
    save("tab_b", 2L)
    graft.state.Catalog.commit(ptr("tab_b"), root, t1)
    // vacuum with a 2-pointer grace window: the reader's pinned version
    // is referenced by pointer t1 (inside the grace) and survives
    graft.state.ModelStore.vacuum(root,
      graft.state.Catalog.keepSet(spark, root, lastK = 2))
    assert(graft.state.ModelStore.load(spark, root, pinned)
      .head.getLong(1) == 1L,
      "vacuum retired a version inside the reader grace window")
    // beyond the grace (lastK=1): the old version retires with its
    // pointer — the documented bound on reader staleness
    val retired = graft.state.ModelStore.vacuum(root,
      graft.state.Catalog.keepSet(spark, root, lastK = 1))
    assert(retired.contains("tab_a") && retired.contains("catalog_t1"))
    assert(graft.state.ModelStore.load(spark, root, "tab_b")
      .head.getLong(1) == 2L)
  }

  test("attempt-private staging: concurrent commit attempts at one " +
      "version name cannot tear each other's staged bytes; exactly one " +
      "publishes, whole") {
    val root = graft.util.Fs.tempRoot("graft_attempt_spec").toString
    // two writers stage DIFFERENT content for the same version name,
    // interleaved: under the old shared _staging/<name> path, writer
    // B's stage began by deleting A's staged bytes (the r13 ADVICE
    // hazard); attempt dirs make staging writer-private by construction
    val a = graft.state.ModelStore.stageWith(root, "v2")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "writer-A"))
    val b = graft.state.ModelStore.stageWith(root, "v2")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "writer-B"))
    assert(a != b, "attempts must be private per writer")
    // A publishes first and wins
    graft.state.ModelStore.publishExclusive(root, "v2", a)
    // B's publish fails loudly (first-writer-wins) ...
    val e = intercept[Exception] {
      graft.state.ModelStore.publishExclusive(root, "v2", b)
    }
    assert(e.getMessage.contains("rebase"), e.getMessage)
    // ... and the winner's published content is A's, whole — not torn,
    // not B's
    val published = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "v2", "data.txt"))
    assert(published == "writer-A", published)
    // vacuum maps attempts to their owning name: a retired name's
    // abandoned attempts sweep with it; a kept name's IN-FLIGHT attempt
    // survives (the sweeper cannot distinguish in-flight from abandoned,
    // so ownership is the rule)
    val c = graft.state.ModelStore.stageWith(root, "v3")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "writer-C"))
    graft.state.ModelStore.publishExclusive(root, "v3", c)
    val d = graft.state.ModelStore.stageWith(root, "v3")(p => // in-flight
      java.nio.file.Files.writeString(p.resolve("data.txt"), "writer-D"))
    val retired = graft.state.ModelStore.vacuum(root, keep = Set("v3"))
    assert(retired == Seq("v2"), retired.toString)
    assert(!java.nio.file.Files.exists(b),
      "vacuum left an abandoned attempt of a retired name")
    assert(java.nio.file.Files.exists(d.resolve("data.txt")),
      "vacuum destroyed an in-flight attempt of a kept name")
  }

  test("catalog checkpoint: resolution identical with and without the " +
      "marker, CAS still serializes through the rename, old pointers " +
      "vacuum beyond the grace while the marker survives") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_ckpt_spec").toString
    def ptr(v: Long) = Seq(("table", s"tab_v$v")).toDF("artifact", "version")
    def save(v: Long): Unit = graft.state.ModelStore.save(
      Seq((1L, v)).toDF("k", "value"), root, s"tab_v$v")
    // 12 commits: the 10th refreshes _last_checkpoint
    (1L to 12L).foreach { v =>
      save(v); graft.state.Catalog.commit(ptr(v), root, v - 1) }
    assert(graft.state.Catalog.checkpointTxn(root) == 10L)
    assert(graft.state.Catalog.liveTxn(root) == 12L)
    // identical resolution WITHOUT the marker (full-listing fallback)
    val ck = java.nio.file.Paths.get(root, "_last_checkpoint")
    val saved = java.nio.file.Files.readString(ck)
    java.nio.file.Files.delete(ck)
    assert(graft.state.Catalog.liveTxn(root) == 12L,
      "resolution diverged without the checkpoint marker")
    java.nio.file.Files.writeString(ck, saved)
    // vacuum beyond the grace: pointers t1..t10 retire, the marker
    // survives (it is metadata, not a version), resolution unchanged —
    // the checkpoint + tail-listing shape liveTxn is built for
    val retired = graft.state.ModelStore.vacuum(root,
      graft.state.Catalog.keepSet(spark, root, lastK = 2))
    assert(retired.contains("catalog_t1") && retired.contains("catalog_t10"))
    assert(java.nio.file.Files.isRegularFile(ck),
      "vacuum swept the checkpoint marker")
    assert(graft.state.Catalog.liveTxn(root) == 12L)
    // CAS still serializes through the rename: a stale base loses
    intercept[graft.state.CasConflictException] {
      graft.state.Catalog.commit(ptr(99L), root, 11L)
    }
    save(13L)
    assert(graft.state.Catalog.commit(ptr(13L), root, 12L) == 13L)
    // a long-stale marker never drags resolution backwards
    java.nio.file.Files.writeString(ck, "3")
    assert(graft.state.Catalog.liveTxn(root) == 13L)
  }

  test("typed CAS conflict: all three loser sites throw " +
      "CasConflictException; the true rename-race loser is wrapped; a " +
      "non-conflict failure inside derive propagates instead of retrying") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_typed_cas_spec").toString
    def ptr(tab: String) = Seq(("table", tab)).toDF("artifact", "version")
    graft.state.Catalog.commit(ptr("tab_a"), root, 0L)
    // (1) the catalog fast-fail is typed
    intercept[graft.state.CasConflictException] {
      graft.state.Catalog.commit(ptr("tab_b"), root, 0L)
    }
    // (2) the publish fast-fail is typed
    val a = graft.state.ModelStore.stageWith(root, "v1")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "A"))
    graft.state.ModelStore.publishExclusive(root, "v1", a)
    val b = graft.state.ModelStore.stageWith(root, "v1")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "B"))
    intercept[graft.state.CasConflictException] {
      graft.state.ModelStore.publishExclusive(root, "v1", b)
    }
    // (3) the TRUE race loser — one that passed both existence checks
    // and then lost the Files.move arbiter (a non-empty directory
    // target) — is wrapped as the typed conflict, not a raw
    // FileSystemException whose message is just a path (the r14 ADVICE
    // medium: that loser used to escape the rebase loop entirely)
    val c = graft.state.ModelStore.stageWith(root, "v9")(p =>
      java.nio.file.Files.writeString(p.resolve("data.txt"), "C"))
    val winner = java.nio.file.Paths.get(root, "v9")
    java.nio.file.Files.createDirectories(winner)
    java.nio.file.Files.writeString(winner.resolve("data.txt"), "W")
    val lost = intercept[graft.state.CasConflictException] {
      graft.state.ModelStore.moveExclusive(c, winner)
    }
    assert(lost.getCause.isInstanceOf[java.nio.file.FileSystemException],
      s"expected the filesystem refusal as cause, got ${lost.getCause}")
    assert(java.nio.file.Files.readString(winner.resolve("data.txt"))
      == "W", "the loser disturbed the winner's published bytes")
    // (4) commitWithRebase retries ONLY the typed conflict: an
    // unrelated failure whose message happens to contain 'rebase' (the
    // old substring filter would have swallowed and re-run it) now
    // propagates after ONE derive call
    var derives = 0
    val boom = intercept[RuntimeException] {
      graft.state.Catalog.commitWithRebase(spark, root, (_, _) => {
        derives += 1
        throw new RuntimeException(
          "unrelated failure that happens to mention rebase")
      })
    }
    assert(!boom.isInstanceOf[graft.state.CasConflictException])
    assert(derives == 1,
      s"a non-conflict failure was retried $derives times")
  }

  test("commit hygiene: a losing catalog commit deletes its staged " +
      "attempt dir; an empty attempt is refused (non-empty-dir " +
      "invariant)") {
    import spark.implicits._
    val root = graft.util.Fs.tempRoot("graft_hygiene_spec").toString
    def ptr(tab: String) = Seq(("table", tab)).toDF("artifact", "version")
    graft.state.Catalog.commit(ptr("tab_a"), root, 0L)
    graft.state.Catalog.commit(ptr("tab_b"), root, 1L)
    // a loser that passes the liveTxn fast-fail but loses the publish
    // (simulated: a catalog_t3_backup blocker is invisible to liveTxn's
    // numeric parse but trips publishExclusive's existence check):
    // its staged pointer dir must NOT survive as an orphan — vacuum
    // maps catalog_t3.attempt-* to the WINNER'S kept name, so an
    // orphan would outlive every sweep
    val blocker = java.nio.file.Paths.get(root, "catalog_t3_backup")
    java.nio.file.Files.createDirectories(blocker)
    java.nio.file.Files.writeString(blocker.resolve("b.txt"), "w")
    intercept[graft.state.CasConflictException] {
      graft.state.Catalog.commit(ptr("tab_c"), root, 2L)
    }
    val staged = {
      val p = java.nio.file.Paths.get(root, "_staging")
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty[String]
      else scala.util.Using.resource(java.nio.file.Files.list(p)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      }
    }
    assert(!staged.exists(_.startsWith("catalog_t3.attempt")),
      s"losing commit orphaned its attempt dir: $staged")
    // publishing an EMPTY attempt would break the non-empty-directory
    // invariant the rename arbiter depends on (POSIX rename silently
    // replaces an empty-dir target) — refused loudly
    val empty = graft.state.ModelStore.stageWith(root, "v_empty")(_ => ())
    val e = intercept[IllegalArgumentException] {
      graft.state.ModelStore.publishExclusive(root, "v_empty", empty)
    }
    assert(e.getMessage.contains("non-empty"), e.getMessage)
  }

  /** The attempt dirs left under `<root>/_staging`. */
  private def staged(root: String): Seq[String] = {
    val p = java.nio.file.Paths.get(root, "_staging")
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else scala.util.Using.resource(java.nio.file.Files.list(p)) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq
    }
  }

  test("a Layout or Ivf write that fails mid-commit publishes nothing, " +
      "keeps the incumbent and leaves no staged attempt") {
    import spark.implicits._
    import graft.llm.{Ivf, Layout, Quantize}
    val root = graft.util.Fs.tempRoot("graft_failed_commit").toString
    def rowsOf(df: org.apache.spark.sql.DataFrame, key: String) =
      df.orderBy(key).collect().map(_.toSeq).toSeq
    def failsCleanly(incumbent: => Seq[Seq[Any]], published: String*)(
        write: => Unit): Unit = {
      val before = incumbent
      val e = intercept[Exception](write)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected")),
        s"failed for another reason: $e")
      published.foreach(v =>
        assert(!ModelStore.exists(root, v), s"failed write published $v"))
      assert(incumbent == before, "the incumbent changed")
      assert(staged(root).isEmpty, s"attempts left: ${staged(root)}")
    }
    try {
      // Layout: an upsert whose delta column raises while the rewritten
      // rows are materialized
      Layout.saveLayout(Layout.eventLayout(graft.ops.Tables.events(spark, sf)),
        root)
      def layoutRows = rowsOf(Layout.loadLayout(spark, root)._1, "event_id")
      val (stored, _) = Layout.loadLayout(spark, root)
      failsCleanly(layoutRows, "events_z_bad", "events_z_bad_backup") {
        Layout.upsertRows(spark, root, "events_z", "file_z",
          stored.limit(5).withColumn("boom",
            raise_error(lit("injected")).cast("string")), "events_z_bad")
      }
      // Ivf save: a compaction whose delta column raises in the lists
      // write, while the centroid and id-Bloom writes run beside it
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
        "vec_id", "embedding", nlist = 4)
      Ivf.saveIndex(Quantize.withInt8(
        Ivf.assignIndex(e, "vec_id", "embedding", cents), "v").drop("v"),
        cents, root)
      def indexRows = rowsOf(Ivf.loadIndex(spark, root)._1, "id")
      val delta = Quantize.withInt8(Ivf.assignIndex(e.limit(4), "vec_id",
        "embedding", cents), "v").drop("v")
      failsCleanly(indexRows, "ivfsq_backup") {
        Ivf.compactIndex(spark, root, delta.withColumn("qnorm",
          raise_error(lit("injected")).cast(delta.schema("qnorm").dataType)))
      }
      // Ivf copy-on-write: the carry of an untouched list fails on a
      // dangling link, which parquet readers skip as a hidden file
      scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(root, "ivfsq", "lists"))) { ls =>
        ls.filter(_.getFileName.toString.startsWith("list_id=")).forEach(d =>
          java.nio.file.Files.createSymbolicLink(
            d.resolve(".injected"), d.resolve("missing")))
      }
      val feed = e.limit(1).select(lit("delete").as("op"),
        $"vec_id".as("id"), lit(null).cast("array<double>").as("vec"))
      failsCleanly(indexRows, "ivfsq_bad", "ivfsq_bad_backup") {
        Ivf.maintainIndex(spark, root, feed, "ivfsq", "ivfsq_bad")
      }
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
