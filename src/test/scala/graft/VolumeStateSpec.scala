package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.VolumeAnomaly
import graft.ml.VolumeAnomaly.{ClusterVolume, Feature}

object VolumeStateSpec {
  /** A volume history as its batches, oldest first (cluster id → that
    * batch's count; a cluster a batch did not count has no entry), and
    * the clusters with an open incident before the last batch. */
  final case class Case(batches: Seq[Map[Int, Long]], open: Set[Int]) {
    /** The state the last batch starts from. */
    def before: Seq[ClusterVolume] =
      batches.dropRight(1).foldLeft(
        open.toSeq.map(ClusterVolume(_, Vector.empty, open = true)))(
        (s, b) => VolumeAnomaly.observe(s, b.toSeq))
    def last: Seq[(Int, Long)] = batches.lastOption.toSeq.flatMap(_.toSeq)
  }

  /** One cluster's counts over `n` batches: flat, random in a narrow or
    * a wide range, or flat with a spike at the end. */
  private def countsGen(n: Int): Gen[Seq[Long]] = Gen.oneOf(
    Gen.choose(1L, 50L).map(Seq.fill(n)(_)),
    Gen.listOfN(n, Gen.choose(1L, 4L)),
    Gen.listOfN(n, Gen.choose(1L, 100000L)),
    for (base <- Gen.choose(1L, 20L); spike <- Gen.choose(50L, 5000L))
    yield Seq.fill(n - 1)(base) :+ spike)

  val caseGen: Gen[Case] = for {
    nClusters <- Gen.choose(0, 20)
    nBatches <- Gen.choose(0, 9)
    present <- Gen.oneOf(1.0, 0.8, 0.5)
    perCluster <- Gen.listOfN(nClusters, for {
      counts <- countsGen(nBatches)
      in <- Gen.listOfN(nBatches, Gen.choose(0.0, 1.0).map(_ < present))
    } yield counts.zip(in))
    open <- Gen.someOf(0 until nClusters + 2)
  } yield Case(
    (0 until nBatches).map(t => perCluster.zipWithIndex.collect {
      case (cs, c) if cs(t)._2 => c -> cs(t)._1 }.toMap),
    open.toSet)

  def flat(ids: Seq[Int]): Map[Int, Long] = ids.map(_ -> 10L).toMap

  /** Hand-picked cases: the generator may or may not reach them. */
  val edges: Seq[(String, Case)] = Seq(
    "empty history" -> Case(Seq.empty, Set.empty),
    "empty history, open set" -> Case(Seq.empty, Set(1)),
    "one row per cluster" -> Case(Seq(Map(0 -> 5L, 1 -> 9L, 2 -> 1L)),
      Set.empty),
    "constant counts" -> Case(Seq.fill(7)(flat(0 until 6)), Set.empty),
    // cluster 2 is absent from the latest batch and keeps its last row
    "absent from the latest batch" -> Case(
      Seq.fill(5)(flat(0 until 8)) ++ Seq(
        flat(0 until 8) + (2 -> 400L), flat((0 until 8).filter(_ != 2))),
      Set.empty),
    // 4 of 10 clusters flag: over 30 %, nothing is emitted
    "the 30 % guard trips" -> Case(
      Seq.fill(5)(flat(0 until 10)) :+
        (flat(0 until 10) ++ Seq(1, 4, 6, 9).map(_ -> 100L)), Set.empty),
    // 4 of 16 flag with equal scores: the 3 lowest ids win, one refreshes
    "more than 3 flagged, ties by cluster_id" -> Case(
      Seq.fill(5)(flat(0 until 16)) :+
        (flat(0 until 16) ++ Seq(15, 11, 7, 3).map(_ -> 100L)), Set(7)))
}

/** The incremental batch's driver-side scorer against the DataFrame
  * chain it stands in for: `VolumeAnomaly.features` → `rankAnomalies`
  * → `mergeIncidents` over the whole history and the open set. */
class VolumeStateSpec extends AnyFunSuite {
  import VolumeStateSpec._
  lazy val spark = SparkTestSession.spark

  private val historySchema = StructType(Seq(
    StructField("cluster_id", IntegerType),
    StructField("batch_ts", LongType),
    StructField("log_count", LongType)))

  /** Every case's history as one frame; case i's cluster c is
    * `i * 1000 + c`, so one `features` call covers them all. */
  private def history(cases: Seq[Case]): DataFrame =
    spark.createDataFrame(cases.zipWithIndex.flatMap { case (k, i) =>
      k.batches.zipWithIndex.flatMap { case (b, t) =>
        b.map { case (c, n) => Row(i * 1000 + c, t.toLong, n) } }
    }.asJava, historySchema)

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Asserts the driver scorer matches the DataFrame chain on every
    * case; returns each case's reference flag list, worst first. */
  private def checkAll(cases: Seq[(String, Case)]): Seq[Seq[Int]] = {
    val feats = VolumeAnomaly.features(history(cases.map(_._2)))
      .localCheckpoint()
    val sparkFeats = feats.collect().map(r => r.getInt(0) -> Feature(
        r.getInt(0) % 1000, r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).toMap
    cases.zipWithIndex.map { case ((name, k), i) =>
      val (incidents, after) = VolumeAnomaly.scoreBatch(k.before, k.last)
      val mine = after.filter(_.counts.nonEmpty)
        .map(v => VolumeAnomaly.featureOf(v.clusterId, v.counts))
      // velocity, rolling mean, roll_std and z_dev: bit-equal
      val theirs = sparkFeats.collect {
        case (id, f) if id / 1000 == i => f }.toSeq.sortBy(_.clusterId)
      assert(mine.length == theirs.length, name)
      mine.zip(theirs).foreach { case (a, b) =>
        assert(a.clusterId == b.clusterId && a.logCount == b.logCount &&
          a.velocity == b.velocity && bits(a.rollMean) == bits(b.rollMean) &&
          bits(a.rollStd) == bits(b.rollStd) && bits(a.zDev) == bits(b.zDev),
          s"$name: $a != $b")
      }
      // the flagged list, in rank order, and the incident rows
      val flagged = VolumeAnomaly.rankAnomalies(
        feats.filter(feats("cluster_id").between(i * 1000, i * 1000 + 999))
          .withColumn("cluster_id", feats("cluster_id") % 1000))
      val want = flagged.collect().map(_.getInt(0)).toSeq
      assert(VolumeAnomaly.rankLocal(mine).map(_.clusterId) == want, name)
      val open = spark.createDataFrame(k.open.toSeq.map(Row(_)).asJava,
        StructType(Seq(StructField("cluster_id", IntegerType))))
      val rows = VolumeAnomaly.mergeIncidents(flagged, open).collect()
      assert(incidents.toSet == rows.toSet && incidents.length == rows.length,
        s"$name: ${incidents.mkString} != ${rows.mkString}")
      // the next state: the last window of every counted cluster, and
      // the flagged clusters opened
      assert(after.map(_.clusterId).toSet ==
        k.batches.flatMap(_.keys).toSet ++ k.open, name)
      after.foreach { v =>
        val all = k.batches.flatMap(_.get(v.clusterId))
        assert(v.counts == all.takeRight(VolumeAnomaly.WindowSize), name)
        assert(v.open == (k.open(v.clusterId) || want.contains(v.clusterId)),
          name)
      }
      want
    }
  }

  test("driver scoring equals features → rankAnomalies → " +
      "mergeIncidents on hand-picked edge cases") {
    val flags = edges.map(_._1).zip(checkAll(edges)).toMap
    assert(flags("the 30 % guard trips").isEmpty)
    assert(flags("more than 3 flagged, ties by cluster_id") == Seq(3, 7, 11))
    // a cluster absent from the latest batch is scored on its last row
    assert(flags("absent from the latest batch") == Seq(2))
    val (ties, _) = VolumeAnomaly.scoreBatch(
      edges.last._2.before, edges.last._2.last)
    assert(ties.map(r => r.getInt(0) -> r.getString(1)) ==
      Seq(3 -> "create", 7 -> "refresh", 11 -> "create"))
  }

  test("driver scoring equals features → rankAnomalies → " +
      "mergeIncidents on 240 generated histories and open sets") {
    val cases = Gen.listOfN(240, caseGen)
      .pureApply(Gen.Parameters.default, Seed(20261020L))
    val flags =
      checkAll(cases.zipWithIndex.map { case (k, i) => s"case $i" -> k })
    // the generated cases reach the gate's branches
    assert(flags.count(_.nonEmpty) >= 10, flags.count(_.nonEmpty))
    assert(cases.count(_.batches.isEmpty) >= 1)
  }
}
