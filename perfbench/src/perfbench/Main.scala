package perfbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

object Json {
  val mapper = new ObjectMapper()
  def map(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

/** Outcome of one timed invocation; `rows` is -1 when it failed. */
final case class Op(ok: Boolean, rows: Long)

/** Runs one workload in this JVM and writes the raw record as JSON.
  *
  *   perfbench.Main <schedule.json> <result.json>
  *
  * The schedule is generated by run.py from the workload seed; this
  * program receives only those generated inputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Json.mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val cores = cfg.get("cores").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", cfg.get("spark_local_dir").asText)
      .config("spark.sql.warehouse.dir", cfg.get("warehouse_dir").asText)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    val result = try new Runner(spark, cfg).run() finally spark.stop()
    Json.mapper.writeValue(Paths.get(args(1)).toFile, result)
  }
}

final class Runner(spark: SparkSession, cfg: JsonNode) {
  private val tracer =
    if (cfg.get("trace").asBoolean) Some(new Tracer(spark)) else None
  private val ops = new JList[Any]()
  private val failures = new JList[Any]()
  private val extra = new JMap[String, Any]()
  // per op name: invocations so far, and first-seen position
  private val calls = scala.collection.mutable.Map.empty[String, Int]
  private val firstSeen = scala.collection.mutable.Map.empty[String, Int]

  private def fail(what: String): Unit = failures.add(what)

  /** Times `f` as one op. In a traced run each op name alternates between
    * runs with and without the listeners attached (half the names start
    * traced), so every op is traced on half its invocations and the
    * untraced half gives the tracing overhead. */
  def op(name: String, pass: Int)(f: => Unit)(rows: => Long): Op = {
    val first = firstSeen.getOrElseUpdate(name, firstSeen.size)
    val n0 = calls.getOrElse(name, 0)
    calls(name) = n0 + 1
    val on = tracer.isDefined && (n0 + first) % 2 == 0
    if (on) tracer.get.attach()
    val gc0 = Jvm.gcMs
    val t0 = Clock.nowNs
    val err =
      try {
        f
        ""
      } catch {
        case e: Exception => s"${e.getClass.getName}: ${e.getMessage}"
      }
    val t1 = Clock.nowNs
    val gc1 = Jvm.gcMs
    if (on) tracer.get.detach()
    // output checks run after the clock stops and the listeners go
    val ok = err.isEmpty
    val n =
      if (!ok) -1L
      else try rows catch {
        case e: Exception => fail(s"$name pass $pass check: $e"); -1L
      }
    ops.add(Json.map("name" -> name, "pass" -> pass, "start_ns" -> t0,
      "end_ns" -> t1, "traced" -> on, "ok" -> ok, "rows" -> n,
      "gc_ms" -> (gc1 - gc0), "error" -> err.take(500)))
    if (!ok) fail(s"$name pass $pass: ${err.take(300)}")
    Op(ok, n)
  }

  def run(): JMap[String, Any] = {
    val workload: Workload = cfg.get("workload").asText match {
      case "incremental_loop" => new IncrementalLoop(spark, cfg, this)
      case "stream_family" => new StreamFamily(spark, cfg, this)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up = JVM start + session + one untimed invocation of every op
    workload.warmUp()
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val seconds = cfg.get("seconds").asDouble
    // whole passes until `seconds` have elapsed, and never fewer than
    // min_passes, so every run takes its medians over the same number
    val minPasses = cfg.get("min_passes").asInt
    val maxPasses = cfg.get("max_passes").asInt
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < maxPasses &&
        (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)) {
      workload.runPass(pass)
      Jvm.sampleLiveHeap()
      pass += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val out = Json.map("setup_s" -> setupS, "measured_s" -> measuredS,
      "passes" -> pass, "heap_live_mb" -> Jvm.liveHeapMb, "ops" -> ops,
      "failures" -> failures, "extra" -> extra)
    tracer.foreach(t => out.put("trace", t.toJson))
    out
  }

  def note(key: String, value: Any): Unit = extra.put(key, value)
  def check(cond: Boolean, what: => String): Unit = if (!cond) fail(what)
}

trait Workload {
  def warmUp(): Unit
  def runPass(pass: Int): Unit
}

/** Row count plus an order-independent content hash: the wrapping sum of
  * a 64-bit digest of each row's canonical text. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"$sum%016x"
  }
}

/** The reference's own workflow: one `PipelineRunner.train`, then K
  * `PipelineRunner.incremental` batches over consecutive, disjoint log_id
  * ranges after the training sample. Every pass starts from fresh state
  * and output directories. */
final class IncrementalLoop(spark: SparkSession, cfg: JsonNode, r: Runner)
    extends Workload {
  import graft.pipeline.PipelineRunner
  private val data = cfg.get("data_dir").asText
  private val runDir = cfg.get("run_dir").asText
  private val batches = cfg.get("batches").elements().asScala
    .map(b => (b.get(0).asLong, b.get(1).asLong)).toVector
  private val expected = cfg.get("expected_rows").elements().asScala
    .map(_.asLong).toVector

  private def rowsWritten(out: String): Long =
    spark.read.parquet(s"$out/log_embeddings_incr").count()

  def warmUp(): Unit = {
    val root = s"$runDir/warmup"
    val (lo, hi) = batches.head
    try {
      PipelineRunner.train(spark, data, s"$root/state", s"$root/out")
      PipelineRunner.incremental(spark, data, s"$root/state", s"$root/out",
        lo, hi)
      r.check(rowsWritten(s"$root/out") == expected.head,
        s"warm-up batch [$lo,$hi] enriched rows != ${expected.head}")
    } catch {
      case e: Exception => r.check(false, s"warm-up: $e")
    }
    graft.util.Fs.deleteRecursively(Paths.get(root))
  }

  def runPass(pass: Int): Unit = {
    val root = s"$runDir/pass$pass"
    try loop(pass, s"$root/state", s"$root/out")
    catch { case e: Exception => r.check(false, s"pass $pass: $e") }
    finally graft.util.Fs.deleteRecursively(Paths.get(root))
  }

  private def loop(pass: Int, state: String, out: String): Unit = {
    import org.apache.spark.sql.functions.col
    val train = r.op("train", pass) {
      PipelineRunner.train(spark, data, state, out)
    }(0L)
    if (!train.ok) return
    val model = graft.ml.DenStream.fromStateDF(
      graft.state.ModelStore.load(spark, state, "denstream"))
    val modelIds = model.clusters.map(_.id.toLong).toSet
    r.note("micro_clusters", modelIds.size)
    batches.zipWithIndex.foreach { case ((lo, hi), i) =>
      val b = r.op(s"batch$i", pass) {
        PipelineRunner.incremental(spark, data, state, out, lo, hi)
      }(rowsWritten(out))
      r.check(!b.ok || b.rows == expected(i),
        s"pass $pass batch $i [$lo,$hi]: enriched ${b.rows} != ${expected(i)}")
    }
    val completed = spark.read.parquet(s"$out/batch_order")
      .filter(col("status") === "COMPLETED").count()
    r.check(completed == batches.size,
      s"pass $pass: batch_order has $completed COMPLETED markers, " +
        s"want ${batches.size}")
    val incidentsDir = Paths.get(s"$out/incidents")
    val incidents =
      if (Files.exists(incidentsDir))
        spark.read.parquet(incidentsDir.toString).select("cluster_id")
          .collect().map(_.get(0).toString.toLong)
      else Array.empty[Long]
    r.check(incidents.forall(modelIds),
      s"pass $pass: incident cluster_id outside the model's clusters")
    val history = spark.read.parquet(s"$out/cluster_volume_history")
    r.note("incidents_opened", incidents.length)
    r.note("clusters_evaluated",
      history.select("cluster_id").distinct().count())
    r.note("history_files",
      Files.list(Paths.get(s"$out/cluster_volume_history")).iterator()
        .asScala.count(_.toString.endsWith(".parquet")))
  }
}

/** A fixed list of stream ops, one per `StreamOps` operator shape, each
  * run through its real triggers into the memory sink. Every invocation,
  * the untimed warm-up included, must reproduce the op's expected
  * fingerprint (row count and content hash, from expected.json). */
final class StreamFamily(spark: SparkSession, cfg: JsonNode, r: Runner)
    extends Workload {
  private val data = cfg.get("data_dir").asText
  private val names = cfg.get("ops").elements().asScala.map(_.asText).toVector
  private val orders = cfg.get("orders").elements().asScala
    .map(_.elements().asScala.map(_.asInt).toVector).toVector
  private val expected = cfg.get("fingerprints").fields().asScala
    .map(e => e.getKey -> (e.getValue.get("rows").asLong,
      e.getValue.get("hash").asText)).toMap
  private val queries = graft.SparkEntry.queries
  private val prints = new JMap[String, Any]()

  private def check(n: String, when: String, rows: Long, hash: String): Unit =
    expected.get(n) match {
      case None => r.check(false, s"$n: no expected fingerprint")
      case Some((wantRows, wantHash)) =>
        r.check(rows == wantRows && hash == wantHash,
          s"$n $when: $rows rows, hash $hash; expected $wantRows, $wantHash")
    }

  def warmUp(): Unit = {
    names.foreach { n =>
      try {
        val rows = queries(n)(spark, data).collect()
        val hash = Fingerprint.of(rows)
        prints.put(n, Json.map("rows" -> rows.length, "hash" -> hash))
        check(n, "warm-up", rows.length, hash)
      } catch {
        case e: Exception => r.check(false, s"$n warm-up: $e")
      }
    }
    r.note("fingerprints", prints)
  }

  def runPass(pass: Int): Unit =
    orders(pass).foreach { i =>
      val n = names(i)
      var got = Array.empty[Row]
      val o = r.op(n, pass) {
        got = queries(n)(spark, data).collect()
      }(got.length.toLong)
      if (o.ok) check(n, s"pass $pass", o.rows, Fingerprint.of(got))
    }
}
