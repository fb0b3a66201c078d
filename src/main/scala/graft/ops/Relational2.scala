package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tables._

/** Second relational wave — remaining SURVEY.md §2 rows: scalar fetch,
  * update-by-key as pure derivation, CSV staging roundtrip, JSON vector
  * transport, typed Welford aggregator, one-hot, extended window ranking,
  * intersect/except, vector arithmetic, as-of join.
  */
object Relational2 {

  /** q70 — scalar aggregate fetch (reference A2/D3: min timestamp /
    * global MAX(last_seen)). */
  def q70ScalarAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d).agg(
      unix_micros(min($"ts")).as("min_ts_us"),
      unix_micros(max($"ts")).as("max_ts_us"),
      min($"event_id").as("min_id"),
      max($"event_id").as("max_id"))
  }
  val q70Sql: String =
    """SELECT epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS min_ts_us,
      |  epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS max_ts_us,
      |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
      |FROM events""".stripMargin

  /** q71 — update-by-key as pure derivation (reference A6/C3: `UPDATE logs
    * SET cluster_id` = join + coalesce; no in-place mutation in Spark). */
  def q71UpdateJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val updates = orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", lit("U").as("new_flag"))
    lineitem(s, d)
      .join(updates, $"l_orderkey" === $"o_orderkey", "left_outer")
      .withColumn("flag", coalesce($"new_flag", $"l_returnflag"))
      .groupBy($"flag").agg(count(lit(1)).as("cnt"))
      .orderBy($"flag")
  }
  val q71Sql: String =
    """SELECT COALESCE(u.new_flag, l.l_returnflag) AS flag, COUNT(*) AS cnt
      |FROM lineitem l
      |LEFT JOIN (SELECT o_orderkey, 'U' AS new_flag FROM orders
      |           WHERE o_orderpriority = '1-URGENT') u
      |  ON l.l_orderkey = u.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q72 — CSV staging sink + re-source (reference A10: crash-resilient
    * CSV buffer, run_training_batch.py:109-156). Writes the batch to CSV,
    * reads it back with an explicit schema, aggregates the re-read data. */
  def q72CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // unique per-invocation staging dir: a fixed shared path would let
    // concurrent runs clobber each other between write and lazy re-read;
    // the result is materialized before the dir is released
    val stagingPath = graft.util.Fs.tempRoot("graft_csv_stage")
    val staging = stagingPath.toString
    try {
      events(s, d)
        .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
          $"event_type", $"value")
        .write.mode("overwrite").option("header", "true").csv(staging)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      s.read.schema(schema).option("header", "true").csv(staging)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("cnt"), min($"ts_us").as("first_ts_us"))
        .orderBy($"event_type")
        .localCheckpoint()
    } finally graft.util.Fs.releaseTempRoot(stagingPath)
  }
  val q72Sql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |  MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_ts_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q73 — JSON vector transport (reference A11: json.dumps/loads of the
    * embedding for CSV staging): to_json → from_json roundtrip must
    * preserve the vector (self-cosine 1.0 via the codegen expression). */
  def q73JsonVector(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d)
      .withColumn("js", to_json($"embedding"))
      .withColumn("parsed", from_json($"js", ArrayType(FloatType)))
      .select($"vec_id", size($"parsed").as("dim"),
        round(graft.functions.VectorExprs.cosine(
          $"parsed".cast("array<double>"),
          $"embedding".cast("array<double>")), 6).as("self_cos"))
      .orderBy($"vec_id")
  }
  val q73Sql: String =
    """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
      |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |    CAST(embedding AS DOUBLE[])), 6) AS self_cos
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** q74 — typed Welford Aggregator (reference D11: river StandardScaler's
    * running mean/std) vs the oracle's avg/stddev_pop. */
  def q74Welford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select($"event_type", $"value").as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.WelfordAgg.meanStd)
      .map { case (k, ms) => (k, ms.mean, ms.std) }
      .toDF("event_type", "mean_v", "std_v")
      .select($"event_type", round($"mean_v", 4).as("mean_v"),
        round($"std_v", 4).as("std_v"))
      .orderBy($"event_type")
  }
  val q74Sql: String =
    """SELECT event_type, ROUND(AVG(value), 4) AS mean_v,
      |  ROUND(STDDEV_POP(value), 4) AS std_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q75 — one-hot encoding with a GROWING category dictionary (reference
    * D12: river OneHotEncoder, pipeline.py:34-37 — columns grow as new
    * categories arrive). The dictionary is data-driven: categories indexed
    * by first appearance (min event_id), vector width = dictionary size —
    * no fixed category list. The vector serializes with to_json on both
    * sides (a raw array column crashes the driver's pandas row-sort).
    * The across-micro-batch stateful variant of the same encoder is
    * [[graft.streaming.GrowingOneHot]] (StreamingSpec widening test). */
  def q75OneHot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val dict = ev.groupBy($"event_type")
      .agg(min($"event_id").as("first_seen"))
      .select($"event_type",
        (row_number().over(Window.orderBy($"first_seen")) - 1).as("idx"))
    val n = dict.groupBy().agg(count(lit(1)).as("n_cats"))
    // dict and n are category-cardinality-sized — broadcast joins
    ev.join(broadcast(dict), "event_type").crossJoin(broadcast(n))
      .select($"event_id",
        to_json(transform(sequence(lit(0), $"n_cats" - 1),
          i => when(i === $"idx", 1).otherwise(0))).as("onehot"))
      .orderBy($"event_id")
  }
  val q75Sql: String =
    """WITH dict AS (SELECT event_type,
      |    ROW_NUMBER() OVER (ORDER BY MIN(event_id)) - 1 AS idx
      |  FROM events GROUP BY event_type),
      |n AS (SELECT COUNT(*) AS n_cats FROM dict)
      |SELECT e.event_id,
      |  CAST(to_json(list_transform(range(0, n.n_cats),
      |    i -> CASE WHEN i = d.idx THEN 1 ELSE 0 END)) AS VARCHAR)
      |    AS onehot
      |FROM events e JOIN dict d USING (event_type), n
      |ORDER BY e.event_id""".stripMargin

  /** q76 — extended ranking/analytic window functions (§2.E note:
    * rank/dense_rank/ntile/lead beyond the reference's row_number). */
  def q76RankFuncs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"value".desc, $"event_id")
    events(s, d)
      .select($"event_id", $"user_id", $"value",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lead($"event_id", 1).over(w).as("next_event"))
      .filter($"rnk" <= 10)
      .orderBy($"user_id", $"rnk")
  }
  val q76Sql: String =
    """SELECT event_id, user_id, value,
      |  RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
      |  NTILE(4) OVER w AS quartile,
      |  LEAD(event_id, 1) OVER w AS next_event
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
      |QUALIFY rnk <= 10
      |ORDER BY user_id, rnk""".stripMargin

  /** q77 — intersect / except set operations (§2.G extended surface). */
  def q77SetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val clickers = ev.filter($"event_type" === "click").select($"user_id")
    val buyers = ev.filter($"event_type" === "purchase").select($"user_id")
    val errorers = ev.filter($"event_type" === "error" && $"value" > 180.0)
      .select($"user_id")
    clickers.intersect(buyers).except(errorers).orderBy($"user_id")
  }
  val q77Sql: String =
    """SELECT user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'error' AND value > 180.0
      |ORDER BY user_id""".stripMargin

  /** q78 — vector arithmetic (reference H7: the disabled 0.9/0.1 centroid
    * drift update, vector_engine.py:38-39) via zip_with. */
  def q78VectorMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val ref = e.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>").as("ref"))
    e.crossJoin(broadcast(ref))
      .withColumn("mixed", zip_with($"embedding".cast("array<double>"),
        $"ref", (x, y) => lit(0.9) * x + lit(0.1) * y))
      .select($"vec_id",
        round(sqrt(aggregate($"mixed", lit(0.0),
          (acc, x) => acc + x * x)), 6).as("mixed_norm"))
      .orderBy($"vec_id")
  }
  val q78Sql: String =
    """SELECT e.vec_id,
      |  ROUND(sqrt(list_sum(list_transform(
      |    list_zip(CAST(e.embedding AS DOUBLE[]), r.ref),
      |    x -> (0.9*x[1] + 0.1*x[2]) * (0.9*x[1] + 0.1*x[2])))), 6)
      |    AS mixed_norm
      |FROM embeddings e,
      |  (SELECT CAST(embedding AS DOUBLE[]) AS ref FROM embeddings
      |   WHERE vec_id = 0) r
      |ORDER BY e.vec_id""".stripMargin

  /** q79 — as-of join (operator Spark lacks; merge-style single-shuffle
    * implementation in [[AsOfJoin]]): each error event matched to the same
    * user's most recent prior purchase. */
  def q79AsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id".as("purchase_id"),
        $"value".as("purchase_value"))
    AsOfJoin.asofLeft(errors, purchases, "user_id", "ts",
        Seq("purchase_id", "purchase_value"))
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"asof_purchase_id", $"asof_purchase_value")
      .orderBy($"event_id")
  }
  val q79Sql: String =
    """SELECT e.event_id, e.user_id,
      |  epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
      |  p.purchase_id AS asof_purchase_id,
      |  p.purchase_value AS asof_purchase_value
      |FROM (SELECT user_id, ts, event_id FROM events
      |      WHERE event_type = 'error') e
      |ASOF LEFT JOIN (SELECT user_id, ts, event_id AS purchase_id,
      |                  value AS purchase_value FROM events
      |                WHERE event_type = 'purchase') p
      |  ON e.user_id = p.user_id
      | AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
      |ORDER BY e.event_id""".stripMargin

  /** q81 — incremental pattern extraction (reference B6 + C1: the manual
    * watermark `WHERE l.timestamp > :last_time` from pattern_ops.py:43
    * feeding the argmin join). "last_seen" is derived deterministically as
    * the max ts of the first 80% of event ids (the already-processed
    * prefix); patterns are extracted only from strictly-later events. */
  def q81PatternIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    // floor() explicitly on BOTH sides: a bare cast truncates in Spark
    // but rounds in DuckDB, which would diverge when max*0.8 has
    // fractional part >= 0.5
    val cutoffId = ev.agg(floor(max($"event_id") * 0.8).cast("long"))
      .first().getLong(0)
    val lastSeen = ev.filter($"event_id" <= cutoffId)
      .agg(max($"ts")).first().getTimestamp(0)
    val fresh = ev.filter($"ts" > lit(lastSeen)).as("e")
    val agg = fresh.groupBy($"event_type")
      .agg(min($"event_id").as("first_event"), count(lit(1)).as("total_count"))
      .as("t")
    fresh.join(agg, $"e.event_type" === $"t.event_type" &&
        $"e.event_id" === $"t.first_event")
      .select($"e.event_type", $"t.first_event", $"t.total_count",
        concat_ws(" | ", $"e.event_type", $"e.props").as("template"))
      .orderBy($"e.event_type")
  }
  val q81Sql: String =
    """WITH cutoff AS (SELECT CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT) AS cid
      |  FROM events),
      |last_seen AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS lt FROM events, cutoff
      |  WHERE event_id <= cid),
      |fresh AS (SELECT * FROM events, last_seen
      |  WHERE CAST(ts AS TIMESTAMP) > lt)
      |SELECT e.event_type, t.first_event, t.total_count,
      |  concat_ws(' | ', e.event_type, e.props) AS template
      |FROM fresh e
      |JOIN (SELECT event_type, MIN(event_id) AS first_event,
      |        COUNT(*) AS total_count FROM fresh GROUP BY event_type) t
      |  ON e.event_type = t.event_type AND e.event_id = t.first_event
      |ORDER BY e.event_type""".stripMargin

  /** q82 — JSON-lines sink + re-source (A10 family, json format): stage
    * a projection as JSON files, read back with explicit schema, verify
    * the re-read aggregate against the oracle on the original parquet. */
  def q82JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stagingPath = graft.util.Fs.tempRoot("graft_json_stage")
    try {
      events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .write.mode("overwrite").json(stagingPath.toString)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      s.read.schema(schema).json(stagingPath.toString)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("cnt"), dsum($"value").as("sum_value"))
        .orderBy($"event_type")
        .localCheckpoint()
    } finally graft.util.Fs.releaseTempRoot(stagingPath)
  }
  val q82Sql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q83 — exact percentiles + correlation aggregates (extended §2.D
    * surface): median/p90 of value and corr(value, k) per event type. */
  def q83Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .withColumn("k_val",
        get_json_object($"props", "$.k").cast("double"))
      .groupBy($"event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("median_v"),
        round(expr("percentile(value, 0.9)"), 4).as("p90_v"),
        round(corr($"value", $"k_val"), 4).as("corr_vk"),
        round(covar_pop($"value", $"k_val"), 4).as("covar_vk"))
      .orderBy($"event_type")
  }
  val q83Sql: String =
    """SELECT event_type,
      |  ROUND(quantile_cont(value, 0.5), 4) AS median_v,
      |  ROUND(quantile_cont(value, 0.9), 4) AS p90_v,
      |  ROUND(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)),
      |        4) AS corr_vk,
      |  ROUND(covar_pop(value,
      |        CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)
      |    AS covar_vk
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q85 — array explode → word frequency top-k (extended §2.H array
    * surface: generator functions over split tokens). */
  def q85ExplodeTopWords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"word")
      .limit(20)
  }
  val q85Sql: String =
    """SELECT word, COUNT(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word != ''
      |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin

  /** q84 — rollup with subtotals and grand total (extended §2.D: grouping
    * sets family, absent from the reference). */
  def q84Rollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .rollup($"event_type", floor($"event_id" / 500).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"event_type".asc_nulls_first, $"bucket".asc_nulls_first)
  }
  val q84Sql: String =
    """SELECT event_type, CAST(FLOOR(event_id / 500) AS BIGINT) AS bucket,
      |  COUNT(*) AS cnt
      |FROM events
      |GROUP BY ROLLUP (event_type, CAST(FLOOR(event_id / 500) AS BIGINT))
      |ORDER BY event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin

  /** q224 — SALTED skewed join, hash-gated ([[SkewJoin
    * .saltedInnerJoin]]): the optimizer-toolbox operator that was
    * test-only until now (the round-11 verdict's last query-gap). A
    * hot key is planted deterministically IN the query — every tenth
    * user remaps to user 0, so ~10 % of the fact rows share one join
    * key (the one-chatty-service shape; the fixture itself stays
    * untouched, so every other decade row is comparable across
    * rounds). The fact side then salt-joins a per-user dimension:
    * shuffle key becomes (uid, salt-of-event_id), spreading the hot
    * key over 8 partitions, while the dim side explodes ×8 — bounded
    * by the user domain, never by events. Salting is RESULT-INVARIANT
    * (every (key, salt) pair still meets its dim row exactly once), so
    * the plain unsalted join is the exact oracle — the property that
    * makes the whole technique safe to deploy. The aggregation after
    * the join is all-integer, so it hash-replays. */
  def q224SaltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val skewUid =
      expr("CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END")
    val ev = events(s, d)
    val fact = ev.select(skewUid.as("uid"), $"event_id", $"event_type")
    val dim = ev.select(skewUid.as("uid"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy($"uid").agg(sum($"p").as("n_purchase"))
    SkewJoin.saltedInnerJoin(fact, dim, "uid", salts = 8,
        saltCols = Seq("event_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"n_purchase").as("purchase_mass"))
      .orderBy($"event_type")
  }
  val q224Sql: String =
    """WITH f AS (SELECT CASE WHEN user_id % 10 = 0 THEN 0
      |    ELSE user_id END AS uid, event_type
      |  FROM events),
      |dm AS (SELECT CASE WHEN user_id % 10 = 0 THEN 0
      |    ELSE user_id END AS uid,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purchase
      |  FROM events GROUP BY 1)
      |SELECT f.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(dm.n_purchase) AS BIGINT) AS purchase_mass
      |FROM f JOIN dm USING (uid)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_salted_skew_join" -> (q224SaltedSkewJoin _),
    "q81_pattern_incremental" -> (q81PatternIncremental _),
    "q82_json_roundtrip" -> (q82JsonRoundtrip _),
    "q83_percentiles" -> (q83Percentiles _),
    "q84_rollup" -> (q84Rollup _),
    "q85_explode_topwords" -> (q85ExplodeTopWords _),
    "q70_scalar_agg" -> (q70ScalarAgg _),
    "q71_update_join" -> (q71UpdateJoin _),
    "q72_csv_roundtrip" -> (q72CsvRoundtrip _),
    "q73_json_vector" -> (q73JsonVector _),
    "q74_welford" -> (q74Welford _),
    "q75_onehot" -> (q75OneHot _),
    "q76_rank_funcs" -> (q76RankFuncs _),
    "q77_set_ops2" -> (q77SetOps _),
    "q78_vector_mix" -> (q78VectorMix _),
    "q79_asof_join" -> (q79AsofJoin _))

  val oracleSql: Map[String, String] = Map(
    "q224_salted_skew_join" -> q224Sql,
    "q81_pattern_incremental" -> q81Sql,
    "q82_json_roundtrip" -> q82Sql,
    "q83_percentiles" -> q83Sql,
    "q84_rollup" -> q84Sql,
    "q85_explode_topwords" -> q85Sql,
    "q70_scalar_agg" -> q70Sql,
    "q71_update_join" -> q71Sql,
    "q72_csv_roundtrip" -> q72Sql,
    "q73_json_vector" -> q73Sql,
    "q74_welford" -> q74Sql,
    "q75_onehot" -> q75Sql,
    "q76_rank_funcs" -> q76Sql,
    "q77_set_ops2" -> q77Sql,
    "q78_vector_mix" -> q78Sql,
    "q79_asof_join" -> q79Sql)
}
