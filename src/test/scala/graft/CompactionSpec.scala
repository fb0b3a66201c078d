package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ivf, Quantize}

/** Compaction contract (q130): a streaming-ingested delta merges into the
  * stored IVF-SQ pair atomically, after which each inverted list is ONE
  * parquet file — the small-file property a year of micro-batch appends
  * erodes — values are untouched (a served search equals the in-memory
  * search over base+delta), and a mis-assigned or malformed delta fails
  * loudly BEFORE any write instead of silently mis-probing. */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")

  test("compaction: one file per list dir, served values identical, " +
      "torn deltas fail loudly without touching the stored pair") {
    import spark.implicits._
    val e = embeddings
    val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
      "vec_id", "embedding", nlist = 4)
    def stored(part: DataFrame): DataFrame =
      Quantize.withInt8(
        Ivf.assignIndex(part, "vec_id", "embedding", cents), "v").drop("v")
    val root = java.nio.file.Files.createTempDirectory("graft-compact")
    try {
      Ivf.saveIndex(stored(e.filter(pmod($"vec_id", lit(2)) === 0)),
        cents, root.toString)
      Ivf.compactIndex(spark, root.toString,
        stored(e.filter(pmod($"vec_id", lit(2)) === 1)))

      // one data file per list directory: the repartition(list_id) puts
      // each list wholly in one task, so the partitioned write emits a
      // single file where the append path leaves one per micro-batch
      val listDirs = new java.io.File(s"$root/ivfsq/lists").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
      assert(listDirs.nonEmpty)
      listDirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"${d.getName}: ${files.length} data files after compaction")
      }

      // values: the compacted store serves bit-identically to the
      // in-memory search over the full corpus (q130's oracle pins the
      // same property against DuckDB at fixture scale)
      val (lists, storedCents) = Ivf.loadIndex(spark, root.toString)
      assert(lists.count() == e.count())
      val queries = e.filter($"vec_id" < 5)
      val served = Ivf.knnQuantizedServe(queries, lists, storedCents,
          "vec_id", "embedding", k = 3, nprobe = 2,
          materializeIndex = false)
        .select($"qid", $"cid", $"dot_q", $"rn")
        .collect().map(_.toSeq).sortBy(_.toString)
      val direct = Ivf.knnQuantized(queries, stored(e), cents,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select($"qid", $"cid", $"dot_q", $"rn")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(served.nonEmpty)
      assert(served.toSeq == direct.toSeq)

      // a delta assigned under DIFFERENT centroids (list ids out of
      // range) and a delta missing a stored-layout column both fail
      // loudly — and leave the published pair untouched
      val delta = stored(e.limit(4))
      intercept[IllegalArgumentException] {
        Ivf.compactIndex(spark, root.toString,
          delta.withColumn("list_id", lit(99)))
      }
      intercept[IllegalArgumentException] {
        Ivf.compactIndex(spark, root.toString, delta.drop("qnorm"))
      }
      val (after, _) = Ivf.loadIndex(spark, root.toString)
      assert(after.count() == e.count())

      // a NULL list_id must fail the guard too (NULL slips past a bare
      // range filter and lands in __HIVE_DEFAULT_PARTITION__, where the
      // probe join never finds it)
      intercept[IllegalArgumentException] {
        Ivf.compactIndex(spark, root.toString,
          delta.withColumn("list_id",
            when(lit(false), $"list_id").otherwise(lit(null))
              .cast("int")))
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("compaction preserves attribute-payload columns (q134's extras)") {
    import spark.implicits._
    val e = embeddings
    val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
      "vec_id", "embedding", nlist = 4)
    def stored(part: DataFrame): DataFrame =
      Quantize.withInt8(Ivf.assignIndex(part, "vec_id", "embedding",
        cents, carryCols = Seq("label")), "v").drop("v")
    val root = java.nio.file.Files.createTempDirectory("graft-compact-x")
    try {
      Ivf.saveIndex(stored(e.filter(pmod($"vec_id", lit(2)) === 0)),
        cents, root.toString, extraCols = Seq("label"))
      Ivf.compactIndex(spark, root.toString,
        stored(e.filter(pmod($"vec_id", lit(2)) === 1)))
      val (lists, _) = Ivf.loadIndex(spark, root.toString)
      // the filterable attribute survived compaction with full coverage
      assert(lists.columns.contains("label"))
      assert(lists.filter($"label".isNull).count() == 0)
      assert(lists.count() == e.count())
      // a delta that LOST the attribute is rejected before any write
      intercept[IllegalArgumentException] {
        Ivf.compactIndex(spark, root.toString,
          stored(e.limit(4)).drop("label"))
      }
      // clash guards: carried/extra names may not collide with the layout
      intercept[IllegalArgumentException] {
        Ivf.assignIndex(e, "vec_id", "embedding", cents,
          carryCols = Seq("list_id"))
      }
      intercept[IllegalArgumentException] {
        Ivf.saveIndex(stored(e.limit(4)), cents, root.toString,
          extraCols = Seq("qnorm"))
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("postings compaction (q165): one file per term-shard bucket, " +
      "served BM25 identical to the one-shot build") {
    import spark.implicits._
    import graft.llm.Keyword
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    def pairs(part: DataFrame): DataFrame =
      Keyword.docTermPairs(part, "doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-postcompact")
    try {
      Keyword.savePostings(
        pairs(docs.filter(pmod($"doc_id", lit(2)) === 0)), root.toString)
      Keyword.compactPostings(spark, root.toString,
        pairs(docs.filter(pmod($"doc_id", lit(2)) === 1)))
      // one data file per bucket directory (the q130 small-file rule,
      // on the lexical side)
      val bucketDirs = new java.io.File(s"$root/postings/posts")
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      assert(bucketDirs.nonEmpty)
      bucketDirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"${d.getName}: ${files.length} data files after compaction")
      }
      // the compacted store holds exactly the full corpus postings and
      // serves the same ranking as a one-shot build over all docs
      val stored = Keyword.loadPostings(spark, root.toString)
      assert(stored.count() == pairs(docs).count())
      val n = docs.count()
      val fromStore = Keyword.bm25Serve(stored, n, k = 10)
        .collect().map(_.toSeq).sortBy(_.toString)
      val oneShot = Keyword.bm25Serve(pairs(docs), n, k = 10)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(fromStore.toSeq == oneShot.toSeq)
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("index purge (q251): purged ids gone, exact-router touch " +
      "coverage, carried list dirs byte-identical, centroids kept") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val e = embeddings
    val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
      "vec_id", "embedding", nlist = 4)
    val idx = Quantize.withInt8(
      Ivf.assignIndex(e, "vec_id", "embedding", cents), "v").drop("v")
    val root = java.nio.file.Files.createTempDirectory("graft-idxpurge")
    try {
      Ivf.saveIndex(idx, cents, root.toString)
      val tombVecs = e.filter($"vec_id" % 7 === 3).localCheckpoint()
      assert(tombVecs.count() > 0)
      val (lists0, _) = Ivf.loadIndex(spark, root.toString)
      // files that REALLY hold a tombstone, before the purge
      val holding = lists0.join(broadcast(
          tombVecs.select($"vec_id".as("id"))), Seq("id"))
        .select($"list_id").distinct().collect().map(_.getInt(0)).toSet
      val (touched, untouched) = Ivf.purgeIndex(spark, root.toString,
        tombVecs, "vec_id", "embedding", "ivfsq", "ivfsq_purged")
      // the exact router never misses: every holding list was rewritten
      assert(holding.subsetOf(touched.toSet),
        s"router missed ${holding -- touched.toSet}")
      val (purged, pc) = Ivf.loadIndex(spark, root.toString,
        "ivfsq_purged")
      assert(purged.join(broadcast(tombVecs.select($"vec_id".as("id"))),
        Seq("id")).isEmpty, "a purged id survived in the index")
      assert(purged.count() == lists0.count() - lists0.join(broadcast(
        tombVecs.select($"vec_id".as("id"))), Seq("id")).count())
      // centroids kept verbatim (serving continuity; refit is separate)
      assert(pc.exceptAll(cents.toDF("list_id", "c")).isEmpty)
      // carried list dirs byte-identical at the filesystem level
      def files(name: String, l: Int) = {
        val dir = java.nio.file.Paths.get(root.toString, name, "lists",
          s"list_id=$l")
        scala.util.Using.resource(java.nio.file.Files.list(dir)) { s =>
          s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.readAllBytes(p).toSeq).toMap
        }
      }
      untouched.take(2).foreach { l =>
        assert(files("ivfsq", l) == files("ivfsq_purged", l),
          s"carried list_id=$l drifted")
      }
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("purge drift audit (r13 ADVICE): a request vector that assigns " +
      "to a different list than the stored row fails loudly instead " +
      "of leaking the id") {
    import spark.implicits._
    val e = embeddings
    val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
      "vec_id", "embedding", nlist = 4)
    val idx = Quantize.withInt8(
      Ivf.assignIndex(e, "vec_id", "embedding", cents), "v").drop("v")
    val root = java.nio.file.Files.createTempDirectory("graft-drift")
    try {
      Ivf.saveIndex(idx, cents, root.toString)
      // pick a stored row A and a vector from a row B in a DIFFERENT
      // list: (A.id, B.vec) is exactly a drifted deletion request —
      // the touch set (assign of B.vec) misses A's real list
      val assigned = Ivf.assignIndex(e, "vec_id", "embedding", cents)
        .select($"id", $"list_id", $"v").localCheckpoint()
      val a = assigned.filter($"list_id" === 0).select($"id").head.getLong(0)
      val bVecRow = assigned.filter($"list_id" =!= 0).limit(1)
      val drifted = bVecRow.select(lit(a).as("vec_id"),
        $"v".as("embedding")).localCheckpoint()
      val ex = intercept[IllegalArgumentException] {
        Ivf.purgeIndex(spark, root.toString, drifted, "vec_id",
          "embedding", "ivfsq", "ivfsq_drifted")
      }
      assert(ex.getMessage.contains("drifted"), ex.getMessage)
      // nothing published: the audit fired before any write went live
      assert(!graft.state.ModelStore.exists(root.toString, "ivfsq_drifted"))
      // the same request by ID (no vector trusted) succeeds exactly
      import org.apache.spark.sql.types._
      val feed = Seq(("delete", a)).toDF("op", "id")
        .withColumn("vec", lit(null).cast(ArrayType(DoubleType)))
      val (touched, _) = Ivf.maintainIndex(spark, root.toString, feed,
        "ivfsq", "ivfsq_byid")
      val (after, _) = Ivf.loadIndex(spark, root.toString, "ivfsq_byid")
      assert(after.filter($"id" === a).isEmpty,
        "id-keyed delete missed the stored row")
      assert(touched.contains(0), "id-Bloom missed the real list")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("maintainIndex (q254): maintained == rebuilt, only the feed's " +
      "list fan-out rewrites, re-applied feed is idempotent, malformed " +
      "feeds fail loudly") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val e = embeddings
    val cents = Ivf.fitCentroids(e.filter(pmod($"vec_id", lit(10)) === 0),
      "vec_id", "embedding", nlist = 4)
    val idx = Quantize.withInt8(
      Ivf.assignIndex(e, "vec_id", "embedding", cents), "v").drop("v")
    val root = java.nio.file.Files.createTempDirectory("graft-idxmaint")
    try {
      Ivf.saveIndex(idx, cents, root.toString)
      // the commit: deletes, in-place updates (negated vec), inserts
      val off = 1000000000L
      val feed = e.filter($"vec_id" % 7 === 3)
          .select(lit("delete").as("op"), $"vec_id".as("id"),
            lit(null).cast("array<double>").as("vec"))
        .unionByName(e.filter($"vec_id" % 5 === 2 && $"vec_id" % 7 =!= 3)
          .select(lit("update").as("op"), $"vec_id".as("id"),
            transform($"embedding".cast("array<double>"), x => -x)
              .as("vec")))
        .unionByName(e.filter($"vec_id" % 11 === 4)
          .select(lit("insert").as("op"), ($"vec_id" + off).as("id"),
            $"embedding".cast("array<double>").as("vec")))
        .localCheckpoint()
      val (touched, untouched) = Ivf.maintainIndex(spark, root.toString,
        feed, "ivfsq", "ivfsq_m2")
      // maintained content == a full rebuild over the post-commit
      // corpus under the SAME (kept) centroids
      val merged = e.select($"vec_id".as("id"),
          $"embedding".cast("array<double>").as("v"))
        .join(broadcast(feed.select($"id")), Seq("id"), "left_anti")
        .unionByName(feed.filter($"op" =!= "delete")
          .select($"id", $"vec".as("v")))
      val rebuilt = Quantize.withInt8(
        Ivf.assignIndex(merged, "id", "v", cents), "v").drop("v")
      def snap(df: org.apache.spark.sql.DataFrame) = df
        .select($"id", $"list_id", $"qnorm", $"qvec")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getSeq[Any](3).toSeq)).toSet
      val (m2, m2c) = Ivf.loadIndex(spark, root.toString, "ivfsq_m2")
      assert(snap(m2) == snap(rebuilt),
        "maintained index drifted from the full rebuild")
      // centroids kept verbatim
      assert(m2c.exceptAll(cents.toDF("list_id", "c")).isEmpty)
      // untouched dirs carried byte-identically
      def files(name: String, l: Int) = {
        val dir = java.nio.file.Paths.get(root.toString, name, "lists",
          s"list_id=$l")
        scala.util.Using.resource(java.nio.file.Files.list(dir)) { s =>
          s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .map(p => p.getFileName.toString ->
              java.nio.file.Files.readAllBytes(p).toSeq).toMap
        }
      }
      untouched.foreach { l =>
        assert(files("ivfsq", l) == files("ivfsq_m2", l),
          s"carried list_id=$l drifted")
      }
      // every list REALLY holding a feed id was touched (Bloom: no
      // false negatives)
      val holding = spark.read.parquet(s"$root/ivfsq/lists")
        .withColumn("list_id", $"list_id".cast("int"))
        .join(broadcast(feed.select($"id")), Seq("id"))
        .select($"list_id").distinct().collect().map(_.getInt(0)).toSet
      assert(holding.subsetOf(touched.toSet),
        s"id-Bloom missed ${holding -- touched.toSet}")
      // id-Blooms followed the rewrite: no false negatives on the
      // maintained store
      val cache = graft.state.PartitionedStore.bloomCache(spark,
        root.toString, "ivfsq_m2", Ivf.table)
      m2.select($"id", $"list_id").collect().foreach { r =>
        assert(graft.llm.Sketch.bloomContains(cache(r.getInt(1).toLong),
          r.getLong(0).toString, graft.llm.Layout.BloomK,
          graft.llm.Layout.BloomWords),
          s"idbloom false negative for id ${r.getLong(0)}")
      }
      // idempotency: the SAME feed re-applied to m2 (an at-least-once
      // re-delivery of the whole commit) changes nothing
      Ivf.maintainIndex(spark, root.toString, feed, "ivfsq_m2",
        "ivfsq_m3")
      val (m3, _) = Ivf.loadIndex(spark, root.toString, "ivfsq_m3")
      assert(snap(m3) == snap(m2), "re-applied feed was not idempotent")
      // malformed feeds fail loudly before any write
      intercept[IllegalArgumentException] {
        Ivf.maintainIndex(spark, root.toString,
          feed.withColumn("op", lit("upsert")), "ivfsq", "ivfsq_bad")
      }
      // a NULL op must fail the same way — a bare !isin filter would
      // silently DROP the row from the check while its id is removed
      intercept[IllegalArgumentException] {
        Ivf.maintainIndex(spark, root.toString,
          feed.withColumn("op",
            lit(null).cast("string")), "ivfsq", "ivfsq_bad")
      }
      intercept[IllegalArgumentException] {
        Ivf.maintainIndex(spark, root.toString,
          feed.withColumn("vec",
            lit(null).cast("array<double>")), "ivfsq", "ivfsq_bad")
      }
      assert(!graft.state.ModelStore.exists(root.toString, "ivfsq_bad"))
      // the ROUTED consult is path-invariant (r14 verdict item 5): the
      // distributed membership join over the idbloom sidecar names
      // EXACTLY the lists the driver bit-test names, and a maintenance
      // commit under the forced join path publishes identical content
      val feedIds = feed.select($"id".cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
      def consultIdBlooms(): Seq[Long] =
        graft.state.PartitionedStore.consultPartitions(spark,
          root.toString, "ivfsq", Ivf.table, feedIds.map(_.toString))._2
      val drv = consultIdBlooms()
      val key = graft.state.PartitionedStore.BloomDriverMaxFilesKey
      spark.conf.set(key, "0") // force the join path
      try {
        val dist = consultIdBlooms()
        assert(drv.sorted == dist.sorted,
          s"id-Bloom consult diverged: driver=$drv join=$dist")
        Ivf.maintainIndex(spark, root.toString, feed, "ivfsq",
          "ivfsq_mj")
        val (mj, _) = Ivf.loadIndex(spark, root.toString, "ivfsq_mj")
        assert(snap(mj) == snap(m2),
          "maintained index diverged between consult paths")
      } finally spark.conf.unset(key)
    } finally graft.util.Fs.deleteRecursively(root)
  }
}
