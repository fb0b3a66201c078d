package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** The one registry of JVM-global fixtures: every artifact that outlives
  * the query invocation that built it is registered here.
  *
  * Two kinds of entry, one entry point each:
  *   - '''Input fixtures''' ([[input]]), keyed by a namespace plus
  *     [[planKey]] of the frame they derive from: a stream query's
  *     four-split arriving-files directory and its NTILE boundary ids.
  *     Queries streaming the same deterministic selection of a table
  *     share one on-disk copy instead of each rewriting it (0.3–0.5 s of
  *     write and split jobs per invocation).
  *   - '''Store fixtures''' ([[store]]), keyed by a namespace plus the
  *     dataset dir: the mutation store with its lineages and sibling
  *     stores, the split store, the stored IVF-SQ index and the
  *     upsert-chain store. Builds are deterministic, so results do not
  *     depend on which query builds first, and oracles replay each store
  *     from the source tables.
  *
  * Rules:
  *   - '''Once per key, for the JVM's lifetime.''' Nothing is evicted;
  *     build dirs are `Fs.tempRoot`s, deleted at exit. Entries stay
  *     bounded only while input frames have stable plans: a
  *     `localCheckpoint` makes every invocation a fresh key.
  *   - '''A failed build registers nothing.''' A build that throws
  *     leaves no entry, and the next call builds again.
  *   - '''Nested builds work.''' A build may request other keys (the m3
  *     lineage builds m2, the chain store reads the mutation store's
  *     root). Each entry has its own re-entrant lock, so two threads
  *     requesting one key run its build once; a build never runs inside
  *     `ConcurrentHashMap.computeIfAbsent`, where a nested build throws
  *     `IllegalStateException: Recursive update` or deadlocks.
  *   - '''An entry is an input or a store fixture, never a query's
  *     result.''' Every query runs the work it is named for on every
  *     invocation; a query that mutates a store works on a private copy
  *     or under its own version names.
  */
object Fixtures {

  /** The input fixture `ns` of `df`, built once per [[planKey]]. */
  def input[T](ns: String, df: DataFrame)(build: => T): T =
    entry(s"input|$ns|" + planKey(df), build)

  /** The store fixture `ns` of dataset dir `d`, built once per `d`. */
  def store[T](ns: String, d: String)(build: => T): T =
    entry(s"store|$ns|$d", build)

  /** Key for a frame's CONTENT identity. A canonicalized plan's string
    * drops the scans' file paths, so same-shaped reads of different
    * dataset dirs (sf0.001 vs sf0.01) would collide and the later query
    * would stream the earlier input's split files (the r15 test flake).
    * The key therefore appends each leaf's identity: scan roots for file
    * relations, the RDD id for checkpointed frames (a fresh checkpoint
    * is a fresh input and never hits). */
  private[graft] def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
      case rdd: org.apache.spark.sql.execution.LogicalRDD =>
        s"rdd:${rdd.rdd.id}"
      case leaf => leaf.toString
    }
    plan.canonicalized.toString + "\n#leaves:" + leaves.mkString("|")
  }

  /** `value` is guarded by the entry's own monitor. */
  private final class Entry { var value: Option[Any] = None }

  private val entries = new ConcurrentHashMap[String, Entry]

  @annotation.tailrec
  private def entry[T](key: String, build: => T): T = {
    val e = entries.computeIfAbsent(key, _ => new Entry)
    val got = e.synchronized {
      // a failed build retired `e` while this thread waited: retry
      if (entries.get(key) ne e) None
      else {
        if (e.value.isEmpty)
          try e.value = Some(build)
          catch { case t: Throwable => entries.remove(key, e); throw t }
        e.value
      }
    }
    got match {
      case Some(v) => v.asInstanceOf[T]
      case None => entry(key, build)
    }
  }
}
