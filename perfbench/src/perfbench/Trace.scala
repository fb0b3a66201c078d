package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds, monotonic within the run. Spark's
  * listener events carry epoch milliseconds; op records use this clock
  * so both land on one time axis. */
object Clock {
  private val offset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offset
}

/** JVM-wide readings: GC time and the driver's live heap. */
object Jvm {
  private val mem = ManagementFactory.getMemoryMXBean
  private var liveBytes = 0L

  /** Full GC, then records the heap still in use: what the driver keeps
    * between passes (caches, sinks, leaks). Peak usage between GCs only
    * tracks the heap size and the collector's timing. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    liveBytes = math.max(liveBytes, mem.getHeapMemoryUsage.getUsed)
  }
  def liveHeapMb: Double = liveBytes / (1024.0 * 1024.0)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}

/** Everything a traced run records: raw job, trigger and planning records
  * from the listeners the benchmark registers around its traced ops.
  * Records stay in memory and are written once, at the end; run.py builds
  * the spans from them and the op records, and does all aggregation (self
  * time, driver gap, per-layer sums). */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  // ---- Spark jobs, stages, tasks ----
  private final class StageAgg(val numTasks: Int) {
    var tasks, failed = 0
    var runMs, gcMs, inBytes, inRecs, shufR, shufW, spill, outBytes,
        outRecs = 0L
  }
  private final class JobRec(val id: Int, val startMs: Long,
      val stageIds: Seq[Int], val site: String, val execId: String) {
    var endMs = -1L
    var ok = true
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  // SQL execution id -> the action's call site. Jobs that AQE submits
  // from its own threads carry no caller frames; their execution's call
  // site names the program code that ran them.
  private val sqlSites = mutable.HashMap.empty[String, String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage has the highest id and carries the job's call
      // site: the action's Spark frame first, then the caller's frames
      val site = e.stageInfos.sortBy(-_.stageId).headOption
        .map(_.details).getOrElse("")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds, site, exec)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized { sqlSites(s.executionId.toString) = s.details }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stages(e.stageInfo.stageId) = new StageAgg(e.stageInfo.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) s.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecs += m.inputMetrics.recordsRead
          s.shufR += m.shuffleReadMetrics.totalBytesRead
          s.shufW += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outBytes += m.outputMetrics.bytesWritten
          s.outRecs += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  // ---- streaming triggers ----
  private val triggers = mutable.ArrayBuffer.empty[JMap[String, Any]]
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val r = new JMap[String, Any]()
      r.put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      r.put("input_rows", p.numInputRows)
      val d = new JMap[String, Any]()
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      r.put("duration_ms", d)
      r.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      r.put("state_stores",
        p.stateOperators.map(_.numStateStoreInstances.toLong).sum)
      r.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      r.put("state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      triggers.synchronized { triggers += r }
    }
  }

  // ---- planning (analysis + optimization + physical planning) ----
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** Listeners are attached only around traced ops; attaching or
    * detaching happens outside the op's clock. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    // events reach listeners asynchronously: let the bus deliver what the
    // op posted before the listeners go
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def toJson: JMap[String, Any] = {
    val out = new JMap[String, Any]()
    val js = new JList[Any]()
    synchronized(jobs.values.toList).foreach { j =>
      val st = j.stageIds.flatMap(stages.get)
      val site =
        if (j.site.contains("graft.")) j.site
        else sqlSites.getOrElse(j.execId, j.site)
      js.add(Json.map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "ok" -> j.ok, "site" -> site,
        "stages" -> st.size, "one_task_stages" -> st.count(_.numTasks == 1),
        "tasks" -> st.map(_.tasks).sum, "failed_tasks" -> st.map(_.failed).sum,
        "task_run_ms" -> st.map(_.runMs).sum, "task_gc_ms" -> st.map(_.gcMs).sum,
        "input_bytes" -> st.map(_.inBytes).sum,
        "records_read" -> st.map(_.inRecs).sum,
        "shuffle_read_bytes" -> st.map(_.shufR).sum,
        "shuffle_write_bytes" -> st.map(_.shufW).sum,
        "spill_bytes" -> st.map(_.spill).sum,
        "bytes_written" -> st.map(_.outBytes).sum,
        "records_written" -> st.map(_.outRecs).sum))
    }
    out.put("jobs", js)
    out.put("triggers", new JList[Any](
      triggers.synchronized(triggers.toList).asJava))
    val pl = new JList[Any]()
    plans.synchronized(plans.toList).foreach { case (s, d) =>
      pl.add(Json.map("start_ms" -> s, "ms" -> d))
    }
    out.put("planning", pl)
    out
  }
}
