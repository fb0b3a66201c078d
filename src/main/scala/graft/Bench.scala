package graft
object Bench {
  /** "q57_dedup_components" -> "q57" — the stdout metric-line key.
    * Object-level (not local to main) so EdgeCasesSpec's tail-budget
    * tripwire estimates the line from the SAME rule the emitter uses —
    * a format change here re-calibrates the test automatically. */
  val shortKey: String => String = n => n.takeWhile(_ != '_')

  /** Stdout per-query cap. Object-level for the same reason as
    * [[shortKey]]: EdgeCasesSpec's tail-budget tripwire models the line
    * from the emitter's own constants. 30 → 20 in round 16 (r15 verdict
    * item 3): qn grows every round and the r14 line already outgrew the
    * driver's ~2000-char tail once, which cost that round the whole
    * per-query comparison — 20 keeps structural headroom. */
  val stdoutTopK = 20

  /** JSON string-content escape: quotes, backslashes AND every control
    * char (< 0x20). A raw newline or tab inside a JSON string is as
    * fatal to a reader's parse as an unescaped quote. Bench escapes its
    * env-supplied paths with it, and Verify its oracle SQL. */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Same fix as Session.local's window logger: the streaming-sink
    // queries each emit several micro-batch warnings ("Disabling AQE
    // since AQE is not supported in stateful workloads" from
    // MicroBatchExecution / IncrementalExecution, ResolveWriteToStream's
    // checkpoint notes) and
    // stop() emits DAGScheduler "Failed to cancel job group" — all
    // benign per-query noise that floods the captured tail around the
    // one JSON line. Prefix loggers cover the runtime subpackage too.
    Seq("org.apache.spark.sql.execution.streaming",
        "org.apache.spark.scheduler.DAGScheduler").foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))
    // warm-up: exercise scan + shuffle + codegen once on the smallest SF
    // so JIT/codegen startup isn't charged to whichever query runs first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional subset (comma-separated names) for scale-stress runs where
    // the deliberate O(N²) correctness baselines (q22/q30/q44) would
    // dominate; default = every query (the driver's surface)
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // a typo'd name would silently shrink (or empty) the run and its
    // total would masquerade as a fast pass — fail loudly instead
    subset.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.mkString(",")}")
    }
    val selected = subset
      .map(s => SparkEntry.queries.filter { case (k, _) => s(k) })
      .getOrElse(SparkEntry.queries)
    // a failed query records -1 — time-to-exception must never masquerade
    // as a (fast) success in the benchmark totals
    def timeAll(): Map[String, Double] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // N timed passes (SPARK_GRAFT_BENCH_PASSES, default 3), per-query min
    // of the SUCCESSFUL runs: standard warm-measurement practice
    // (single-pass numbers carry scheduler noise); -1 only if every pass
    // failed. Default is 3 since round 7: the r6 2-pass driver artifact
    // drifted +19.5% on untouched queries and the adjudication (BASELINE
    // .md round-7) showed min-of-3 removes that noise — every flagged
    // query fell back inside the ±0.7 s band with no code change.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case None => 3
      case Some(raw) => raw.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$raw'"))
    }
    val allPasses = (1 to passes).map(_ => timeAll())
    val results = allPasses.head.keys.map { k =>
      val ok = allPasses.map(_(k)).filter(_ >= 0)
      k -> (if (ok.nonEmpty) ok.min else -1.0)
    }.toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full-precision, full-name per-query map goes to a file: the driver
    // captures only a bounded tail (~2000 chars) of stdout, so the full
    // 84-query map printed inline gets its head truncated and fails to
    // parse (BENCH_r1..r4 all have parsed:null). The stdout line instead
    // uses the contract's compact "qNN" keys + millisecond precision so
    // the whole JSON object fits inside the captured tail.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    // detail path AND sf dir are user-controlled env input interpolated
    // into JSON
    val detailJson = esc(detailPath)
    val sfJson = esc(sfDir)
    val fullQs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"sf":"$sfJson"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (fullJson + "\n").getBytes("UTF-8"))
    // NonFatal only: an unwritable detail path must not kill the bench
    // numbers below, but an OOM/VM error must not be swallowed either
    catch { case scala.util.control.NonFatal(_) => () }
    // ids are unique by construction, but fall back to the full name on
    // any collision rather than drop data
    val collided = results.keys.groupBy(shortKey).collect {
      case (_, vs) if vs.size > 1 => vs
    }.flatten.toSet
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Tail budget (round-7 verdict item 7): the driver keeps only ~2000
    // trailing stdout chars, and past ~120 queries the full per-query
    // map outgrows that window — so the stdout line carries the SLOWEST
    // `stdoutTopK` queries plus every FAILED one (-1 must never be
    // invisible), with "qn" (total count) and "qcut" (the smallest
    // reported time) bounding everything omitted: a query absent from
    // the map is known to cost < qcut in this run, and any regression
    // big enough to matter lifts the query into the map by definition.
    // The full-precision full-name map is in bench_detail.json (written
    // above, committed with the repo).
    val slowest = results.toSeq.sortBy(-_._2).take(stdoutTopK)
      .map(_._1).toSet
    // failures are force-included but ALSO capped: a systemic failure
    // (bad fixture path, broken session) marks ~every query -1, and an
    // uncapped failure list would overflow the same 2000-char window
    // the success cap protects — truncating the very signal it exists
    // to surface. "qfail" carries the TOTAL failure count, so omitted
    // failures are never invisible; the full list is in the detail file.
    val failed = results.filter(_._2 < 0).keys.toSeq.sorted
    val failShown = failed.take(stdoutTopK).toSet
    val shown = results.filter { case (k, v) =>
      (v < 0 && failShown(k)) || (v >= 0 && slowest(k))
    }
    val qcut =
      shown.values.filter(_ >= 0) match {
        case vs if vs.nonEmpty => fmt(vs.min)
        case _ => fmt(0.0)
      }
    val qs = shown.toSeq.sortBy(_._1).map { case (k, v) =>
      val key = if (collided(k)) k else shortKey(k)
      s"\"" + key + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val failField = if (failed.nonEmpty) s""","qfail":${failed.size}""" else ""
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","qn":${results.size}$failField,"qcut":$qcut,"queries":$qs,"detail":"$detailJson","sf":"$sfJson"}""")
    spark.stop()
  }
}
