package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.{Centroids, DenStream, Distance, Embed, Quality, VolumeAnomaly}
import graft.pipeline.Enrich
import Tables._

/** Vector / ML operator surface (SURVEY.md §2.H6, §2.J).
  *
  * SQL-expressible pieces (distances, k-NN, volume features, anomaly
  * ranking, incident merge, purity metrics, silhouette) carry DuckDB
  * oracles; model-bearing pieces (hashing embedder, semantic grouping,
  * DenStream) are rows-only here and golden-tested in ScalaTest.
  */
object MlQueries {

  /** q21 — Minkowski p=1.5 distance column (reference H6,
    * vector_engine.py:18-19) — every vector's distance to vec 0. */
  def q21Minkowski(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val ref = e.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>").as("ref"))
    e.crossJoin(broadcast(ref))
      .select($"vec_id",
        round(Distance.minkowski($"embedding".cast("array<double>"),
          $"ref", 1.5), 4).as("dist"))
      .orderBy($"vec_id")
  }
  val q21Sql: String =
    """SELECT e.vec_id,
      |  ROUND(POW(list_sum(list_transform(
      |    list_zip(CAST(e.embedding AS DOUBLE[]), r.ref),
      |    x -> POW(ABS(x[1] - x[2]), 1.5))), 1.0/1.5), 4) AS dist
      |FROM embeddings e,
      |  (SELECT CAST(embedding AS DOUBLE[]) AS ref FROM embeddings
      |   WHERE vec_id = 0) r
      |ORDER BY e.vec_id""".stripMargin

  /** q22 — brute-force cosine top-k neighbors (similarity-search baseline;
    * reference C4 shape generalized to k-NN). */
  def q22CosineKnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qv"))
    val c = e.select($"vec_id".as("cid"),
      $"embedding".cast("array<double>").as("cv"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"cid")
    c.crossJoin(broadcast(q))
      .filter($"cid" =!= $"qid")
      .withColumn("cos_sim", round(Distance.cosine($"cv", $"qv"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"qid", $"cid", $"cos_sim", $"rn")
      .orderBy($"qid", $"rn")
  }
  val q22Sql: String =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |      FROM embeddings),
      |p AS (SELECT qid, cid,
      |        ROUND(list_cosine_similarity(cv, qv), 6) AS cos_sim
      |      FROM c, q WHERE cid != qid),
      |r AS (SELECT qid, cid, cos_sim,
      |        ROW_NUMBER() OVER (PARTITION BY qid
      |                           ORDER BY cos_sim DESC, cid) AS rn
      |      FROM p)
      |SELECT qid, cid, cos_sim, rn FROM r WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  private def hourlyCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d).groupBy($"user_id".as("cluster_id"),
        unix_micros(date_trunc("hour", $"ts")).as("batch_ts"))
      .agg(count(lit(1)).as("log_count"))
  }
  private val hourlyCountsSql =
    """SELECT user_id AS cluster_id,
      |  epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS batch_ts,
      |  COUNT(*) AS log_count
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q26 — volume time-series features (reference D7/E2/E3,
    * volume_analyzer.py:40-73): latest-batch features per cluster. */
  def q26VolumeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VolumeAnomaly.features(hourlyCounts(s, d))
      .select($"cluster_id", $"batch_ts", $"log_count", $"velocity",
        round($"roll_mean", 4).as("roll_mean"),
        round($"roll_std", 4).as("roll_std"),
        round($"z_dev", 4).as("z_dev"))
      .orderBy($"cluster_id")
  }
  val q26Sql: String =
    s"""WITH counts AS ($hourlyCountsSql),
      |f AS (SELECT cluster_id, batch_ts, log_count,
      |  COALESCE(log_count - LAG(log_count) OVER wo, 0) AS velocity,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW wo AS (PARTITION BY cluster_id ORDER BY batch_ts),
      |       w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |SELECT cluster_id, batch_ts, log_count, velocity,
      |  ROUND(roll_mean, 4) AS roll_mean, ROUND(roll_std, 4) AS roll_std,
      |  ROUND((log_count - roll_mean) / (roll_std + 1e-5), 4) AS z_dev
      |FROM f WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** q27 — batch-relative anomaly ranking (reference J5,
    * volume_analyzer.py:125-156 + J6 guard incident_ops.py:87-97). */
  def q27AnomalyRank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VolumeAnomaly.rankAnomalies(
        VolumeAnomaly.features(hourlyCounts(s, d)), zdevRound = Some(6))
      .select($"cluster_id", $"log_count",
        round($"score", 6).as("score"), round($"score_z", 4).as("score_z"))
      .orderBy($"cluster_id")
  }
  val q27Sql: String =
    s"""WITH counts AS ($hourlyCountsSql),
      |f AS (SELECT cluster_id, batch_ts, log_count,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |latest AS (SELECT cluster_id, batch_ts, log_count,
      |  -ABS(ROUND((log_count - roll_mean) / (roll_std + 1e-5), 6)) AS score
      |FROM f WHERE rn = 1),
      |stats AS (SELECT AVG(score) AS mu, STDDEV_POP(score) AS sigma,
      |  COUNT(*) AS n_eval FROM latest),
      |flagged AS (SELECT cluster_id, log_count, score,
      |  (score - mu) / (sigma + 1e-5) AS score_z, n_eval
      |FROM latest, stats WHERE (score - mu) / (sigma + 1e-5) < -1.0),
      |guarded AS (SELECT * FROM flagged
      |  WHERE (SELECT COUNT(*) FROM flagged) <= n_eval * 0.3
      |  ORDER BY score, cluster_id LIMIT 3)
      |SELECT cluster_id, log_count, ROUND(score, 6) AS score,
      |  ROUND(score_z, 4) AS score_z
      |FROM guarded ORDER BY cluster_id""".stripMargin

  /** q28 — incident upsert split (reference A8/C2, incident_ops.py:6-41):
    * flagged clusters vs currently-open incidents → refresh/create. */
  def q28IncidentMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flagged = VolumeAnomaly.rankAnomalies(
      VolumeAnomaly.features(hourlyCounts(s, d)), zdevRound = Some(6))
    val open = events(s, d)
      .filter($"event_type" === "error" && $"value" > 190.0)
      .select($"user_id".as("cluster_id")).distinct()
    VolumeAnomaly.mergeIncidents(flagged, open)
      .orderBy($"cluster_id")
  }
  val q28Sql: String =
    s"""WITH counts AS ($hourlyCountsSql),
      |f AS (SELECT cluster_id, batch_ts, log_count,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |latest AS (SELECT cluster_id, log_count,
      |  -ABS(ROUND((log_count - roll_mean) / (roll_std + 1e-5), 6)) AS score
      |FROM f WHERE rn = 1),
      |stats AS (SELECT AVG(score) AS mu, STDDEV_POP(score) AS sigma,
      |  COUNT(*) AS n_eval FROM latest),
      |flagged AS (SELECT cluster_id, score, n_eval,
      |  (score - mu) / (sigma + 1e-5) AS score_z
      |FROM latest, stats WHERE (score - mu) / (sigma + 1e-5) < -1.0),
      |guarded AS (SELECT cluster_id, score FROM flagged
      |  WHERE (SELECT COUNT(*) FROM flagged) <= n_eval * 0.3
      |  ORDER BY score, cluster_id LIMIT 3),
      |open_inc AS (SELECT DISTINCT user_id AS cluster_id FROM events
      |  WHERE event_type = 'error' AND value > 190.0)
      |SELECT g.cluster_id,
      |  CASE WHEN o.cluster_id IS NOT NULL THEN 'refresh' ELSE 'create' END
      |    AS action,
      |  'NEW' AS status, 'SRE' AS assigned_role
      |FROM guarded g LEFT JOIN open_inc o ON g.cluster_id = o.cluster_id
      |ORDER BY g.cluster_id""".stripMargin

  /** q29 — homogeneity / completeness / v-measure (reference J7,
    * validate_quality.py:11-27; Rosenberg & Hirschberg 2007 entropies). */
  def q29Homogeneity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Quality.homogeneityCompleteness(documents(s, d), "lang", "source")
      .select(round($"homogeneity", 6).as("homogeneity"),
        round($"completeness", 6).as("completeness"),
        round($"v_measure", 6).as("v_measure"))
  }
  val q29Sql: String =
    """WITH joint AS (SELECT lang AS c, source AS k,
      |    CAST(COUNT(*) AS DOUBLE) AS n_ck
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT SUM(n_ck) AS n FROM joint),
      |bc AS (SELECT c, SUM(n_ck) AS n_c FROM joint GROUP BY c),
      |bk AS (SELECT k, SUM(n_ck) AS n_k FROM joint GROUP BY k),
      |hc AS (SELECT -SUM((n_c/n)*ln(n_c/n)) AS h_c FROM bc, tot),
      |hk AS (SELECT -SUM((n_k/n)*ln(n_k/n)) AS h_k FROM bk, tot),
      |hck AS (SELECT -SUM((n_ck/n)*ln(n_ck/n_k)) AS h_ck
      |  FROM joint JOIN bk USING(k), tot),
      |hkc AS (SELECT -SUM((n_ck/n)*ln(n_ck/n_c)) AS h_kc
      |  FROM joint JOIN bc USING(c), tot),
      |m AS (SELECT
      |  CASE WHEN h_c = 0 THEN 1.0 ELSE 1 - h_ck/h_c END AS homog,
      |  CASE WHEN h_k = 0 THEN 1.0 ELSE 1 - h_kc/h_k END AS compl
      |FROM hc, hk, hck, hkc)
      |SELECT ROUND(homog, 6) AS homogeneity,
      |  ROUND(compl, 6) AS completeness,
      |  ROUND(CASE WHEN homog + compl = 0 THEN 0.0
      |        ELSE 2*homog*compl/(homog + compl) END, 6) AS v_measure
      |FROM m""".stripMargin

  /** q30 — exact mean silhouette (reference J8, validate_quality.py:30-56)
    * of the embeddings fixture under its ground-truth labels. */
  def q30Silhouette(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Quality.silhouette(embeddings(s, d), "vec_id", "embedding", "label")
      .select(round($"silhouette", 4).as("silhouette"))
  }
  val q30Sql: String =
    """WITH pts AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |    label AS cl FROM embeddings WHERE label >= 0),
      |pairs AS (SELECT a.id, a.cl, b.cl AS bcl,
      |    sqrt(list_sum(list_transform(list_zip(a.v, b.v),
      |      x -> (x[1]-x[2])*(x[1]-x[2])))) AS d
      |  FROM pts a JOIN pts b ON a.id != b.id),
      |meanto AS (SELECT id, cl, bcl, AVG(d) AS mean_d
      |  FROM pairs GROUP BY 1, 2, 3),
      |own AS (SELECT id, mean_d AS a_i FROM meanto WHERE cl = bcl),
      |oth AS (SELECT id, MIN(mean_d) AS b_i FROM meanto
      |  WHERE cl != bcl GROUP BY id)
      |SELECT ROUND(AVG(CASE WHEN own.a_i IS NULL THEN 0.0
      |    ELSE (oth.b_i - own.a_i) / GREATEST(own.a_i, oth.b_i) END), 4)
      |  AS silhouette
      |FROM (SELECT DISTINCT id FROM pts) p
      |LEFT JOIN own USING (id)
      |LEFT JOIN oth USING (id)""".stripMargin

  /** q37 — anomaly ranking through the reference's ACTUAL model: a
    * seed-fixed pure-Scala IsolationForest (volume_analyzer.py:19-24) fit
    * on the per-cluster feature matrix, consumed through the identical
    * batch-relative z-gate as q27. Rows-only by design: when a genuine
    * spike exists the IF-ranked flag set equals the z-ranked one (gated in
    * MlSpec's golden test, and empirically identical at sf0.001/sf0.01) —
    * but among hundreds of near-tied clusters the two models legitimately
    * break ties differently, so pinning an oracle to the −|z| set would
    * assert a parity the models don't promise. */
  def q37AnomalyIForest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    VolumeAnomaly.rankAnomaliesIF(
        VolumeAnomaly.features(hourlyCounts(s, d)))
      .select($"cluster_id", $"log_count")
      .orderBy($"cluster_id")
  }

  /** q38 — simplified (centroid-based) silhouette: q30's 100 TB scale
    * variant, oracle-checked against the same formula in DuckDB. */
  def q38SilhouetteSimplified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Quality.silhouetteSimplified(embeddings(s, d), "vec_id", "embedding",
        "label")
      .select(round($"silhouette_simplified", 4).as("silhouette_simplified"))
  }
  val q38Sql: String =
    """WITH pts AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
      |    label AS cl FROM embeddings WHERE label >= 0),
      |dims AS (SELECT cl, t.pos, v[t.pos] AS x
      |  FROM pts, unnest(range(1, len(v) + 1)) AS t(pos)),
      |cent AS (SELECT cl AS ccl, pos, AVG(x) AS cx
      |  FROM dims GROUP BY cl, pos),
      |cvec AS (SELECT ccl, list(cx ORDER BY pos) AS cv
      |  FROM cent GROUP BY ccl),
      |d AS (SELECT p.id, p.cl, c.ccl,
      |    sqrt(list_sum(list_transform(list_zip(p.v, c.cv),
      |      z -> (z[1]-z[2])*(z[1]-z[2])))) AS d
      |  FROM pts p, cvec c),
      |own AS (SELECT id, d AS a_i FROM d WHERE cl = ccl),
      |oth AS (SELECT id, MIN(d) AS b_i FROM d WHERE cl != ccl GROUP BY id)
      |SELECT ROUND(AVG((b_i - a_i) / GREATEST(a_i, b_i)), 4)
      |  AS silhouette_simplified
      |FROM own JOIN oth USING (id)""".stripMargin

  /** q65 — oracle-checked hashing embedder ([[Embed.embedSqlRows]]):
    * md5-derived bucket/sign hashes make the feature-hashing embedding
    * (bucket sums + L2 normalization) reproducible in DuckDB as sparse
    * (doc_id, pos, val) rows. q31 keeps the murmur+bigram production
    * embedder (rows-only, determinism golden-tested). */
  def q65EmbedSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Embed.embedSqlRows(documents(s, d), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id", $"pos")
  }
  val q65Sql: String =
    """WITH toks AS (SELECT doc_id AS id, t.tok AS tok,
      |    CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT) AS b
      |  FROM documents,
      |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\v\f\r]+'),
      |      x -> x != '')) AS t(tok)),
      |sums AS (SELECT id, CAST(b % 64 AS INTEGER) AS pos,
      |    SUM(CASE WHEN (b >> 8) & 1 = 1 THEN 1.0 ELSE -1.0 END) AS s
      |  FROM toks GROUP BY id, CAST(b % 64 AS INTEGER)),
      |norms AS (SELECT id, sqrt(SUM(s * s)) AS nrm FROM sums GROUP BY id)
      |SELECT s.id AS doc_id, s.pos,
      |  ROUND(s.s / GREATEST(n.nrm, 1e-12), 6) AS val
      |FROM sums s JOIN norms n USING (id)
      |ORDER BY doc_id, pos""".stripMargin

  /** q96 — PCA projection twin for q39 (reference J9,
    * visualise_results.py:42-80): [[graft.ml.Projection.pca2d]] run over
    * the md5 exact-integer geometry ([[Embed.denseSqlVectors]], the q89
    * prefix at dim 8) so the whole linear-algebra path is hash-gated the
    * way q59 pinned Lloyd. Parity argument: the integer vectors make the
    * Gramian sums exact (order-independent), the covariance entries are
    * then the SAME fixed IEEE op sequence in both engines, and both
    * sides run a 200-iteration power method on that identical 8×8 matrix
    * — the iteration CONVERGES (λ₂/λ₁ ≈ 0.65–0.72 and λ₃/λ₂ ≈ 0.67–0.72
    * for this geometry at every fixture SF, so the residual after 200
    * iterations is ≲1e-28), which is why the oracle may use a different
    * deterministic start vector than the engine's seeded one and still
    * agree far below the ROUND(…, 6) gate. Axes are sign-canonicalized
    * (first |component| > 1e-12 positive) on both sides; the oracle
    * replays the deflation + per-iteration re-orthogonalization of
    * [[graft.ml.Projection.topEigenvectors]] as two recursive CTEs over
    * a DOUBLE[] iterate. dim 8 (not 16) keeps the second eigengap wide —
    * at dim 16 λ₃/λ₂ ≈ 0.95–0.97 and 200 iterations would leave pc2
    * ~1e-3 from converged, visible at 6 decimals. */
  def q96PcaSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dense = Embed.denseSqlVectors(documents(s, d), "doc_id", "text",
      dim = 8)
    val labeled = dense.join(documents(s, d).select($"doc_id", $"source"),
      "doc_id")
    graft.ml.Projection.pca2d(labeled, "doc_id", "vec", "source")
      .select($"id".as("doc_id"), round($"pc1", 6).as("pc1"),
        round($"pc2", 6).as("pc2"), $"source")
      .orderBy($"doc_id")
  }
  val q96Sql: String = {
    val D = 8
    val R = s"range(1,${D + 1})"
    // normalize: v / ||v||₂ (expression duplicated on purpose — a pure
    // function, and inlining keeps the recursive terms subquery-free,
    // which DuckDB's recursive binder requires)
    def norm(e: String) =
      s"list_transform($e, x -> x / sqrt(list_sum(list_transform($e, y -> y*y))))"
    val mv1 =
      s"list_transform($R, i -> list_sum(list_transform($R, j -> m.m[i][j] * it1.v[j])))"
    val mv2 =
      s"list_transform($R, i2 -> list_sum(list_transform($R, j2 -> m2x.m[i2][j2] * it2.v[j2])))"
    val dotNvP1 = s"list_sum(list_transform($R, i3 -> ($mv2)[i3] * p1.p[i3]))"
    // re-orthogonalize the iterate against p1 every step, as
    // topEigenvectors' orthonormalize does
    val ov = s"list_transform($R, i -> ($mv2)[i] - ($dotNvP1) * p1.p[i])"
    // MATERIALIZED on every reused CTE: DuckDB inlines plain CTEs, and
    // p1/covm2 referenced inside the second recursion would re-run the
    // whole first 200-iteration recursion per step without it
    s"""WITH RECURSIVE toks AS (SELECT doc_id AS id,
      |    CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT) AS b
      |  FROM documents,
      |    unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\v\\f\\r]+'),
      |      x -> x != '')) AS t(tok)),
      |sums AS (SELECT id, CAST(b % $D AS INT) AS pos,
      |    SUM(CASE WHEN (b >> 8) & 1 = 1 THEN 1.0 ELSE -1.0 END) AS s
      |  FROM toks GROUP BY id, CAST(b % $D AS INT)),
      |docs AS (SELECT doc_id AS id, source FROM documents),
      |dense AS MATERIALIZED (SELECT d.id, p.pos, COALESCE(s.s, 0.0) AS v
      |  FROM docs d CROSS JOIN unnest(range(0,$D)) AS p(pos)
      |  LEFT JOIN sums s ON s.id = d.id AND s.pos = p.pos),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs),
      |m1 AS MATERIALIZED (SELECT pos, SUM(v) AS s1 FROM dense GROUP BY pos),
      |m2 AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j, SUM(a.v * b.v) AS s2
      |  FROM dense a JOIN dense b USING (id) GROUP BY a.pos, b.pos),
      |cov AS (SELECT m2.i, m2.j, m2.s2 / nn.n - (a.s1 / nn.n) * (b.s1 / nn.n) AS c
      |  FROM m2, nn, m1 a, m1 b WHERE a.pos = m2.i AND b.pos = m2.j),
      |covm AS MATERIALIZED (SELECT list(cl ORDER BY i) AS m FROM (
      |    SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i)),
      |mu AS MATERIALIZED (SELECT list(s1 / nn.n ORDER BY pos) AS mu
      |  FROM m1, nn GROUP BY nn.n),
      |it1(k, v) AS (
      |  SELECT 0, ${norm(s"list_transform($R, i -> CAST(i AS DOUBLE))")}
      |  UNION ALL
      |  SELECT k + 1, ${norm(mv1)}
      |  FROM it1, covm m WHERE k < 200),
      |pw1 AS MATERIALIZED (SELECT v FROM it1 ORDER BY k DESC LIMIT 1),
      |p1 AS MATERIALIZED (SELECT CASE WHEN list_filter(v, x -> abs(x) > 1e-12)[1] < 0
      |    THEN list_transform(v, x -> -x) ELSE v END AS p FROM pw1),
      |lam1 AS MATERIALIZED (SELECT list_sum(list_transform($R,
      |    i -> p1.p[i] * list_sum(list_transform($R, j -> m.m[i][j] * p1.p[j])))) AS l
      |  FROM covm m, p1),
      |covm2 AS MATERIALIZED (SELECT list_transform($R, i -> list_transform($R,
      |    j -> m.m[i][j] - lam1.l * p1.p[i] * p1.p[j])) AS m FROM covm m, lam1, p1),
      |it2(k, v) AS (
      |  SELECT 0, ${norm(s"list_transform($R, i -> CAST(${D + 1} - i AS DOUBLE))")}
      |  UNION ALL
      |  SELECT k + 1, ${norm(ov)}
      |  FROM it2, covm2 m2x, p1 WHERE k < 200),
      |pw2 AS MATERIALIZED (SELECT v FROM it2 ORDER BY k DESC LIMIT 1),
      |p2 AS MATERIALIZED (SELECT CASE WHEN list_filter(v, x -> abs(x) > 1e-12)[1] < 0
      |    THEN list_transform(v, x -> -x) ELSE v END AS p FROM pw2),
      |vecs AS MATERIALIZED (SELECT d.id, any_value(dd.source) AS source,
      |    list(d.v ORDER BY d.pos) AS v
      |  FROM dense d JOIN docs dd ON dd.id = d.id GROUP BY d.id)
      |SELECT vecs.id AS doc_id,
      |  ROUND(list_sum(list_transform($R, i -> (vecs.v[i] - mu.mu[i]) * p1.p[i])), 6) AS pc1,
      |  ROUND(list_sum(list_transform($R, i -> (vecs.v[i] - mu.mu[i]) * p2.p[i])), 6) AS pc2,
      |  vecs.source AS source
      |FROM vecs, mu, p1, p2
      |ORDER BY doc_id""".stripMargin
  }

  /** q39 — 2-D visualization projection feed (reference J9,
    * visualise_results.py:46-63): deterministic top-2 PCA stands in for
    * t-SNE (an iterative stochastic fit — viz-only, out of scope).
    * Rows-only here (the murmur embeddings aren't oracle-expressible),
    * but the whole pca2d path — Gramian, covariance, power method,
    * deflation, sign canonicalization, projection — is hash-gated by its
    * q96 twin on md5 exact-integer geometry; axis recovery on known
    * structure stays ScalaTest-gated (MlSpec). */
  def q39PcaProjection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ml.Projection.pca2d(embeddings(s, d), "vec_id", "embedding",
        "label")
      .select($"id", round($"pc1", 4).as("pc1"),
        round($"pc2", 4).as("pc2"), $"label")
      .orderBy($"id")
  }

  /** q98's driver-fit bound, factored out so EdgeCasesSpec can assert
    * the guard text without materializing 100k+ clusters. The message
    * names the upstream aggregation because the fix lives THERE: the fit
    * input is already per-cluster (q26), so exceeding the bound means
    * the clustering is too fine, not that this limit should be raised. */
  private[graft] def requireDriverFitScale(n: Int): Unit =
    require(n <= 100000,
      s"q98 fit input has $n rows — per-cluster matrices only. The fit " +
        "input is q26_volume_features (VolumeAnomaly.features over " +
        "hourly counts), one row per cluster; >100k clusters means that " +
        "aggregation is too fine for a driver-fit forest — group to " +
        "coarser clusters there rather than raising this bound")

  /** q98 — isolation-forest twin for q37 (reference J4,
    * volume_analyzer.py:19-24): pins the MODEL, not q37's ambiguous
    * flag set. A 5-tree [[graft.ml.IsolationForest.fitMd5]] forest is
    * fit on the q26 per-cluster feature matrix (roll_mean/z_dev rounded
    * to 4dp first, so the matrix is bit-identical in both engines —
    * q26's own hash gate proves that), with every node's feature choice
    * and split fraction drawn from md5(tag:tree:path) instead of a
    * sequential RNG. Node randomness being a pure function of position
    * makes construction order-free, so the oracle replays it
    * breadth-first in a recursive CTE while the engine builds
    * depth-first — same trees, same leaf sizes, same path lengths, same
    * scores, same contamination threshold. Training points are scored
    * via the leaf that CONTAINS them (walk ≡ membership for fit data),
    * which is what lets the oracle score without re-walking trees. q37
    * (100 trees, java Random(42), psi 256) stays the production-shape
    * query; this hash-pins the split/partition/path-length/score
    * machinery the two share. */
  def q98IForestSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = VolumeAnomaly.features(hourlyCounts(s, d))
      .select($"cluster_id",
        $"log_count".cast("double").as("f1"),
        $"velocity".cast("double").as("f2"),
        round($"roll_mean", 4).as("f3"),
        round($"z_dev", 4).as("f4"))
      .orderBy($"cluster_id")
    val rows = f.collect() // per-cluster matrix — driver-scale by contract
    requireDriverFitScale(rows.length)
    val data = rows.map(r =>
      Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val model = graft.ml.IsolationForest.fitMd5(data, nTrees = 5)
    val scored = rows.zip(data).toSeq.map { case (r, x) =>
      val sc = graft.ml.IsolationForest.score(model, x)
      (r.getLong(0), sc, sc > model.threshold)
    }
    scored.toDF("cluster_id", "if_score", "flagged")
      .select($"cluster_id", round($"if_score", 6).as("if_score"),
        $"flagged")
      .orderBy($"cluster_id")
  }
  val q98Sql: String = {
    // per-node md5 draws — the SQL twins of IsolationForest.md5Long60
    def h(kind: String) =
      s"CAST(('0x' || substr(md5('ift:' || tree || ':' || path || ':$kind'), 1, 15)) AS BIGINT)"
    def mlist(k: String) = s"list_transform(members, x -> x[($k) + 1])"
    def lo(k: String) = s"list_min(${mlist(k)})"
    def hi(k: String) = s"list_max(${mlist(k)})"
    val cands = s"list_filter([1,2,3,4], k -> ${lo("k")} < ${hi("k")})"
    val fsel = s"(($cands)[1 + CAST((${h("f")}) % len($cands) AS INT)])"
    // 30 hash bits / 2^30: dyadic, exact in binary64 (fitMd5's u)
    val u = s"(CAST((${h("s")}) % 1073741824 AS DOUBLE) / 1073741824.0)"
    val split = s"(${lo(fsel)} + $u * (${hi(fsel)} - ${lo(fsel)}))"
    val expandable =
      s"(depth < maxh.h AND len(members) > 1 AND len($cands) > 0)"
    // c(n): IsolationForest.avgPathLength verbatim
    def cOf(n: String) =
      s"(CASE WHEN ($n) <= 1 THEN 0.0 WHEN ($n) = 2 THEN 1.0 " +
        s"ELSE 2.0 * (ln(($n) - 1.0) + 0.5772156649015329) " +
        s"- 2.0 * (($n) - 1.0) / ($n) END)"
    s"""WITH RECURSIVE counts AS ($hourlyCountsSql),
      |f AS (SELECT cluster_id, batch_ts, log_count,
      |  COALESCE(log_count - LAG(log_count) OVER wo, 0) AS velocity,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW wo AS (PARTITION BY cluster_id ORDER BY batch_ts),
      |       w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |ft AS MATERIALIZED (SELECT cluster_id,
      |  CAST(log_count AS DOUBLE) AS f1, CAST(velocity AS DOUBLE) AS f2,
      |  ROUND(roll_mean, 4) AS f3,
      |  ROUND((log_count - roll_mean) / (roll_std + 1e-5), 4) AS f4
      |FROM f WHERE rn = 1),
      |n0 AS MATERIALIZED (SELECT COUNT(*) AS n FROM ft),
      |maxh AS MATERIALIZED (SELECT GREATEST(1, MIN(t.h)) AS h
      |  FROM unnest(range(0, 41)) AS t(h), n0
      |  WHERE (CAST(1 AS BIGINT) << t.h) >= n0.n),
      |mem AS MATERIALIZED (SELECT list(
      |    [CAST(cluster_id AS DOUBLE), f1, f2, f3, f4]
      |    ORDER BY cluster_id) AS m FROM ft),
      |nodes(tree, path, depth, members) AS (
      |  SELECT t.t AS tree, '' AS path, 0 AS depth, mem.m AS members
      |  FROM unnest(range(0, 5)) AS t(t), mem
      |  UNION ALL
      |  SELECT tree, path || s.lab, depth + 1,
      |    CASE WHEN s.lab = 'L'
      |      THEN list_filter(members, x -> x[($fsel) + 1] < $split)
      |      ELSE list_filter(members, x -> NOT (x[($fsel) + 1] < $split))
      |    END
      |  FROM nodes, maxh, (SELECT unnest(['L', 'R']) AS lab) s
      |  WHERE $expandable),
      |leaves AS MATERIALIZED (SELECT tree, depth, len(members) AS sz, members
      |  FROM nodes, maxh WHERE NOT $expandable),
      |pl AS (SELECT tree, CAST(u.x[1] AS BIGINT) AS cid,
      |    depth + ${cOf("sz")} AS plen
      |  FROM leaves, unnest(leaves.members) AS u(x)),
      |sc AS MATERIALIZED (SELECT cid,
      |    pow(2.0, -((SUM(plen) / 5.0) / (SELECT ${cOf("n")} FROM n0))) AS s
      |  FROM pl GROUP BY cid),
      |thr AS MATERIALIZED (SELECT s AS t FROM (
      |    SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM sc) q
      |  WHERE rn = (SELECT LEAST(n - 1, GREATEST(0,
      |      CAST(ceil((1.0 - 0.05) * n) AS INT) - 1)) + 1 FROM n0))
      |SELECT sc.cid AS cluster_id, ROUND(sc.s, 6) AS if_score,
      |  sc.s > thr.t AS flagged
      |FROM sc, thr ORDER BY cluster_id""".stripMargin
  }

  /** q31 — hashing-embedder output (reference J1; rows-only: the murmur
    * hash is not expressible in the oracle; determinism golden-tested).
    * The vector is serialized with to_json — raw array columns crash the
    * driver's pandas row-sort. */
  def q31EmbedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Embed.withEmbedding(documents(s, d), "text")
      .select($"doc_id", to_json($"embedding").as("embedding_json"))
      .orderBy($"doc_id")
  }

  /** q32 — online semantic grouping (reference J2; rows-only). */
  def q32SemanticGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Enrich.withEmbedding(Enrich.logView(s, d))
    Centroids.assign(emb, "log_id", "embedding", threshold = 1.8)
      .groupBy($"semantic_group").agg(count(lit(1)).as("n"))
      .orderBy($"semantic_group")
  }

  /** `df`'s rows as a local frame: a small result outlives the training
    * batch's cache without a persisted RDD of its own. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** q33 — DenStream fit + distributed predict (reference J3; rows-only). */
  def q33DenStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // collected before the training batch releases its cache
    Enrich.trainingBatch(s, d, limit = 2000) { (enriched, _) =>
      local(enriched.groupBy($"cluster_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"cluster_id", $"event_type"))
    }
  }

  /** q35 — approximate aggregates. HLL/quantile-sketch values are
    * implementation-specific, so the raw sketches cannot hash-match an
    * oracle; instead the query emits the EXACT aggregates (oracle-checked)
    * plus `*_ok` tolerance gates asserting the sketch landed within its
    * documented error bound (HLL++ rsd 5% → 15% gate; GK quantile with
    * accuracy 1000 → 5%-or-1.0 gate). The oracle emits literal TRUE for
    * the gates, so a sketch drifting out of tolerance fails the hash.
    * The 100 TB deployment runs only the approx columns (one pass,
    * bounded memory — no exact distinct shuffle or full sort); the exact
    * twins here are the verification harness. */
  def q35ApproxAggs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("exact_users"),
        approx_count_distinct($"user_id").as("au"),
        expr("percentile(value, 0.5)").as("em"),
        percentile_approx($"value", lit(0.5), lit(1000)).as("am"))
      .select($"event_type", $"n", $"exact_users",
        (abs($"au" - $"exact_users") <= $"exact_users" * 0.15).as("users_ok"),
        round($"em", 4).as("exact_median"),
        (abs($"am" - $"em") <= greatest(abs($"em") * 0.05, lit(1.0)))
          .as("median_ok"))
      .orderBy($"event_type")
  }
  val q35Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS users_ok,
      |  ROUND(quantile_cont(value, 0.5), 4) AS exact_median,
      |  TRUE AS median_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q36 — sharded semantic grouping (rows-only): the 100 TB variant of
    * q32 — parallel per-shard folds, per-shard namespaces
    * (SURVEY.md §7.4 risk 1 scale-out path). */
  def q36SemanticSharded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Enrich.withEmbedding(Enrich.logView(s, d))
    Centroids.assignSharded(emb, "log_id", "embedding", threshold = 1.8,
        shards = 4)
      .groupBy($"semantic_group").agg(count(lit(1)).as("n"))
      .orderBy($"semantic_group")
  }

  /** q34 — full pipeline e2e (reference §3.1; rows-only): embed →
    * semantic group → DenStream cluster → hourly volume → anomaly scores.
    * Emits the per-cluster scored table (the incident *candidates*; the
    * flag/guard/merge tail is oracle-checked by q27/q28). */
  def q34PipelineE2E(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // collected before the training batch releases its cache
    Enrich.trainingBatch(s, d, limit = 2000) { (enriched, _) =>
      val counts = enriched.filter($"cluster_id" >= 0)
        .groupBy($"cluster_id",
          unix_micros(date_trunc("hour", $"ts")).as("batch_ts"))
        .agg(count(lit(1)).as("log_count"))
      local(VolumeAnomaly.scoredFeatures(VolumeAnomaly.features(counts))
        .select($"cluster_id", $"log_count", $"score", $"score_z",
          ($"score_z" < -1.0).as("flagged"))
        .orderBy($"cluster_id"))
    }
  }

  /** q66 — oracle twin for q34's deterministic prefix (SURVEY §3.2 /
    * reference run_training_batch.py lifecycle): the identical pipeline
    * composition — bounded ordered sample → hourly volume → window
    * features → batch-relative scoring → flag gate — with the single
    * non-SQL stage (DenStream's cluster assignment, order-dependent by
    * construction) replaced by the SQL-derivable event_type key. This
    * pins every q34 stage except the model predict itself in DuckDB;
    * q34 stays rows-only for the learned cluster ids. */
  def q66PipelinePrefix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the exact Enrich.trainingBatch sample semantics
    val logs = Enrich.logView(s, d)
      .filter($"level".isin("warning", "error"))
      .orderBy($"log_id").limit(2000)
    val counts = logs.groupBy($"event_type".as("cluster_id"),
        unix_micros(date_trunc("hour", $"ts")).as("batch_ts"))
      .agg(count(lit(1)).as("log_count"))
    VolumeAnomaly.scoredFeatures(VolumeAnomaly.features(counts),
        zdevRound = Some(6))
      .select($"cluster_id", $"log_count",
        // + 0.0 folds IEEE -0.0 (a zero z_dev negated by -ABS) to 0.0 on
        // both engines — identical term in the oracle SQL
        (round($"score", 6) + lit(0.0)).as("score"),
        (round($"score_z", 4) + lit(0.0)).as("score_z"),
        // rounded on BOTH sides: μ/σ come from float aggregations whose
        // summation order differs across engines; an ulp at the -1.0
        // boundary must not flip the boolean (tolerance-boolean pattern)
        (round($"score_z", 6) < -1.0).as("flagged"))
      .orderBy($"cluster_id")
  }
  val q66Sql: String =
    """WITH logs AS (
      |  SELECT event_id AS log_id, ts, event_type
      |  FROM events
      |  WHERE event_type IN ('error', 'signup', 'purchase')
      |  ORDER BY event_id LIMIT 2000),
      |counts AS (
      |  SELECT event_type AS cluster_id,
      |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS batch_ts,
      |    COUNT(*) AS log_count
      |  FROM logs GROUP BY 1, 2),
      |f AS (SELECT cluster_id, batch_ts, log_count,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |latest AS (SELECT cluster_id, batch_ts, log_count,
      |  -ABS(ROUND((log_count - roll_mean) / (roll_std + 1e-5), 6)) AS score
      |FROM f WHERE rn = 1),
      |stats AS (SELECT AVG(score) AS mu, STDDEV_POP(score) AS sigma
      |          FROM latest)
      |SELECT cluster_id, log_count, ROUND(score, 6) + 0.0 AS score,
      |  ROUND((score - mu) / (sigma + 1e-5), 4) + 0.0 AS score_z,
      |  ROUND((score - mu) / (sigma + 1e-5), 6) < -1.0 AS flagged
      |FROM latest, stats ORDER BY cluster_id""".stripMargin

  /** Shared md5 tokenize/bucket/densify CTE prefix of the fold oracles
    * (q68/q69/q87) — single definition so a hash/tokenization change can
    * never desynchronize them. Mirrors [[Embed.denseSqlVectors]] (dim 16,
    * exact-integer coordinates). */
  private val md5DenseVecsCte: String =
    """toks AS (SELECT doc_id AS id,
      |    CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT) AS b
      |  FROM documents,
      |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\v\f\r]+'),
      |      x -> x != '')) AS t(tok)),
      |sums AS (SELECT id, CAST(b % 16 AS INTEGER) AS pos,
      |    CAST(SUM(CASE WHEN (b >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS DOUBLE)
      |      AS s
      |  FROM toks GROUP BY 1, 2),
      |dense AS (SELECT d.doc_id AS id, p.pos, COALESCE(s.s, 0.0) AS x
      |  FROM documents d CROSS JOIN unnest(range(0, 16)) AS p(pos)
      |  LEFT JOIN sums s ON s.id = d.doc_id AND s.pos = p.pos),
      |vecs AS (SELECT id, list(x ORDER BY pos) AS v FROM dense GROUP BY id)""".stripMargin

  /** q68 — oracle-checked ORDER-DEPENDENT semantic-grouping fold: the q32
    * machinery (reference vector_engine.py:21-45 — strict arrival order,
    * compare to all live centroids, first-min argmin, strict `< threshold`
    * join-else-found, groups named `sem_grp_<founderId>`) made
    * oracle-reproducible. Documents embed into dense md5 integer
    * bucket-count vectors (q65's hash math, unnormalized, dim 16) and run
    * through the PRODUCTION fold loop ([[Centroids.foldAssignWith]]) under
    * squared Euclidean, threshold 100: all-integer geometry, so every
    * distance, the first-min tie-break, and the threshold compare are
    * exact in both engines; DuckDB replays the fold as a recursive CTE.
    * q32/q36 keep the murmur embedder + Minkowski p=1.5 as the production
    * path (rows-only — murmur is not oracle-expressible). */
  def q68SemanticFoldSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dense = Embed.denseSqlVectors(documents(s, d), "doc_id", "text",
      dim = 16)
    Centroids.assignWith(dense, "doc_id", "vec", threshold = 100.0,
        Distance.sqEuclideanS)
      .select($"doc_id", $"semantic_group".as("grp"))
      .orderBy($"doc_id")
  }
  val q68Sql: String =
    "WITH RECURSIVE\n" + md5DenseVecsCte + ",\n" +
    """ranked AS (SELECT id, v, row_number() OVER (ORDER BY id) AS rn
      |  FROM vecs),
      |fold AS (
      |  SELECT 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS id,
      |         CAST(NULL AS BIGINT) AS grp,
      |         CAST([] AS STRUCT(gid BIGINT, c DOUBLE[])[]) AS cs
      |  UNION ALL
      |  SELECT rn, id,
      |    CASE WHEN hit THEN cs[bi].gid ELSE id END AS grp,
      |    CASE WHEN hit THEN cs
      |         ELSE list_append(cs, {'gid': id, 'c': v}) END AS cs
      |  FROM (
      |    SELECT r.rn, r.id, r.v, f.cs,
      |      COALESCE(list_min(dists) < 100.0, FALSE) AS hit,
      |      list_position(dists, list_min(dists)) AS bi
      |    FROM fold f JOIN ranked r ON r.rn = f.rn + 1,
      |    LATERAL (SELECT list_transform(f.cs,
      |        s -> list_sum(list_transform(list_zip(s.c, r.v),
      |          z -> (z[1] - z[2]) * (z[1] - z[2])))) AS dists) t
      |  )
      |)
      |SELECT id AS doc_id, 'sem_grp_' || CAST(grp AS VARCHAR) AS grp
      |FROM fold WHERE rn > 0 ORDER BY doc_id""".stripMargin

  /** q69 — oracle-checked DenStream machinery (the q33 model family,
    * reference model.py:10-15 / run_training_batch.py:133-136): the full
    * order-dependent `learn_one` fold — per-row argmin over live
    * micro-clusters, strict `< epsilon` merge-else-create, INCREMENTAL
    * CENTER DRIFT `(c·w + v)/(w+1)` — runs through the production
    * [[DenStream.Model.learnOne]] loop, then the distributed
    * [[DenStream.withPredictions]] probe assigns every doc. With
    * `lambda = 0` every operation in the fold is mul/add/div/sqrt —
    * all IEEE-correctly-rounded, so the drifted double centers are
    * BIT-IDENTICAL in DuckDB's recursive-CTE replay (validated at three
    * SFs), and the integer cluster-id output needs no rounding at all.
    * The decay path (`2^{-λΔt}`) is deliberately excluded: `pow` is not
    * correctly rounded and differs across libm implementations — decay
    * and pruning stay ScalaTest-gated (MlSpec/GoldenSpec); q33 keeps the
    * production murmur-embedder + decay configuration (rows-only). */
  def q69DenstreamFoldSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dense = Embed.denseSqlVectors(documents(s, d), "doc_id", "text",
      dim = 16)
    val model = DenStream.fit(dense, "doc_id", "vec", epsilon = 10.0,
      lambda = 0.0)
    DenStream.withPredictions(dense, model, "vec")
      .select($"doc_id", $"cluster_id")
      .orderBy($"doc_id")
  }
  val q69Sql: String =
    "WITH RECURSIVE\n" + md5DenseVecsCte + ",\n" +
    """ranked AS (SELECT id, v, row_number() OVER (ORDER BY id) AS rn
      |  FROM vecs),
      |fold AS (
      |  SELECT 0::BIGINT AS rn, 0 AS nid,
      |         CAST([] AS STRUCT(cid INTEGER, c DOUBLE[], w DOUBLE)[]) AS cs
      |  UNION ALL
      |  SELECT rn,
      |    CASE WHEN hit THEN nid ELSE nid + 1 END AS nid,
      |    CASE WHEN hit THEN list_transform(cs, (s, i) -> CASE WHEN i = bi
      |           THEN {'cid': s.cid,
      |             'c': list_transform(list_zip(s.c, v),
      |               z -> (z[1]*s.w + z[2])/(s.w + 1.0)),
      |             'w': s.w + 1.0} ELSE s END)
      |         ELSE list_append(cs, {'cid': nid, 'c': v, 'w': 1.0}) END AS cs
      |  FROM (
      |    SELECT r.rn, r.v, f.nid, f.cs,
      |      COALESCE(list_min(dists) < 10.0, FALSE) AS hit,
      |      list_position(dists, list_min(dists)) AS bi
      |    FROM fold f JOIN ranked r ON r.rn = f.rn + 1,
      |    LATERAL (SELECT list_transform(f.cs,
      |        s -> sqrt(list_sum(list_transform(list_zip(s.c, r.v),
      |          z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS dists) t
      |  )
      |),
      |final AS (SELECT cs FROM fold ORDER BY rn DESC LIMIT 1),
      |probe AS (
      |  SELECT v.id, t.dists
      |  FROM vecs v, final f,
      |  LATERAL (SELECT list_transform(f.cs,
      |      s -> sqrt(list_sum(list_transform(list_zip(s.c, v.v),
      |        z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS dists) t
      |)
      |SELECT p.id AS doc_id,
      |  CASE WHEN COALESCE(list_min(p.dists) < 10.0, FALSE)
      |       THEN f.cs[list_position(p.dists, list_min(p.dists))].cid
      |       ELSE -1 END AS cluster_id
      |FROM probe p, final f ORDER BY doc_id""".stripMargin

  /** q87 — oracle-checked SHARDED semantic-grouping fold (the q36
    * scale-out path, SURVEY §7.4 risk 1): [[Centroids.assignShardedWith]]
    * — stable `id % shards` key, parallel per-shard sequential folds,
    * per-shard group namespaces `s<shard>_sem_grp_<founderId>` — over the
    * same exact-integer md5 geometry as q68. The DuckDB CTE recursion is
    * PARTITIONED: seeded with one empty state per shard, each level
    * advances every shard's fold by one row, so the oracle replays all
    * four folds independently just as the executors run them. With q68
    * (global fold), q69 (DenStream), and q86 (streaming state), every
    * fold variant the engine ships is now oracle-pinned. */
  def q87ShardedFoldSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dense = Embed.denseSqlVectors(documents(s, d), "doc_id", "text",
      dim = 16)
    Centroids.assignShardedWith(dense, "doc_id", "vec", threshold = 100.0,
        shards = 4, Distance.sqEuclideanS)
      .select($"doc_id", $"semantic_group".as("grp"))
      .orderBy($"doc_id")
  }
  val q87Sql: String =
    "WITH RECURSIVE\n" + md5DenseVecsCte + ",\n" +
    """ranked AS (SELECT id, v, id % 4 AS sh,
      |    row_number() OVER (PARTITION BY id % 4 ORDER BY id) AS rn
      |  FROM vecs),
      |fold AS (
      |  SELECT sh, 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS id,
      |         CAST(NULL AS BIGINT) AS grp,
      |         CAST([] AS STRUCT(gid BIGINT, c DOUBLE[])[]) AS cs
      |  FROM (SELECT DISTINCT id % 4 AS sh FROM vecs) shards
      |  UNION ALL
      |  SELECT sh, rn, id,
      |    CASE WHEN hit THEN cs[bi].gid ELSE id END AS grp,
      |    CASE WHEN hit THEN cs
      |         ELSE list_append(cs, {'gid': id, 'c': v}) END AS cs
      |  FROM (
      |    SELECT r.sh, r.rn, r.id, r.v, f.cs,
      |      COALESCE(list_min(dists) < 100.0, FALSE) AS hit,
      |      list_position(dists, list_min(dists)) AS bi
      |    FROM fold f JOIN ranked r ON r.sh = f.sh AND r.rn = f.rn + 1,
      |    LATERAL (SELECT list_transform(f.cs,
      |        s -> list_sum(list_transform(list_zip(s.c, r.v),
      |          z -> (z[1] - z[2]) * (z[1] - z[2])))) AS dists) t
      |  )
      |)
      |SELECT id AS doc_id,
      |  's' || CAST(sh AS VARCHAR) || '_sem_grp_' || CAST(grp AS VARCHAR)
      |    AS grp
      |FROM fold WHERE rn > 0 ORDER BY doc_id""".stripMargin

  /** q89 — FULL-PIPELINE fold twin: q34's end-to-end composition
    * (reference run_incremental_batch.py:76-93 — embed → semantic group →
    * model predict → incident detection) with EVERY stage oracle-exact,
    * closing the one gap q66 left open (the learned cluster_id column).
    * The q68 semantic fold and the q69 DenStream learnOne fold run over
    * the shared md5 exact-integer geometry (same exactness preconditions:
    * integer vectors, λ=0, IEEE-rounded ops only, first-min tie-break);
    * the per-cluster volume/anomaly tail is q66's proven SQL shape over
    * pseudo-batches `doc_id % 4` (documents carry no timestamp — the
    * batch key just has to be deterministic on both engines). Output is
    * per-doc: the enriched row (semantic group + learned cluster id,
    * as Enrich.trainingBatch enriches a row) plus its cluster's
    * latest-batch volume score — so the hash pins every doc's assignment
    * AND the scored tail in one result. */
  def q89PipelineFoldE2E(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // three consumers (two folds + distributed probe): materialize once
    val dense = Embed.denseSqlVectors(documents(s, d), "doc_id", "text",
      dim = 16).localCheckpoint(false)
    val sem = Centroids.assignWith(dense, "doc_id", "vec", threshold = 100.0,
      Distance.sqEuclideanS)
    val model = DenStream.fit(dense, "doc_id", "vec", epsilon = 10.0,
      lambda = 0.0)
    val enriched = DenStream.withPredictions(dense, model, "vec")
      .join(sem, Seq("doc_id"), "left")
      .localCheckpoint(false) // consumed by counts AND the final join
    val counts = enriched.filter($"cluster_id" >= 0)
      .groupBy($"cluster_id", ($"doc_id" % 4).as("batch_ts"))
      .agg(count(lit(1)).as("log_count"))
    val scored = VolumeAnomaly.scoredFeatures(VolumeAnomaly.features(counts),
        zdevRound = Some(6))
      .select($"cluster_id", $"log_count".as("cluster_volume"),
        (round($"score", 6) + lit(0.0)).as("cluster_score"),
        (round($"score_z", 4) + lit(0.0)).as("cluster_score_z"),
        (round($"score_z", 6) < -1.0).as("flagged"))
    enriched.select($"doc_id", $"semantic_group".as("grp"), $"cluster_id")
      .join(scored, Seq("cluster_id"), "left")
      .select($"doc_id", $"grp", $"cluster_id",
        coalesce($"cluster_volume", lit(0L)).as("cluster_volume"),
        coalesce($"cluster_score", lit(0.0)).as("cluster_score"),
        coalesce($"cluster_score_z", lit(0.0)).as("cluster_score_z"),
        coalesce($"flagged", lit(false)).as("flagged"))
      .orderBy($"doc_id")
  }
  val q89Sql: String =
    "WITH RECURSIVE\n" + md5DenseVecsCte + ",\n" +
    """ranked AS (SELECT id, v, row_number() OVER (ORDER BY id) AS rn
      |  FROM vecs),
      |sem_fold AS (
      |  SELECT 0::BIGINT AS rn, CAST(NULL AS BIGINT) AS id,
      |         CAST(NULL AS BIGINT) AS grp,
      |         CAST([] AS STRUCT(gid BIGINT, c DOUBLE[])[]) AS cs
      |  UNION ALL
      |  SELECT rn, id,
      |    CASE WHEN hit THEN cs[bi].gid ELSE id END AS grp,
      |    CASE WHEN hit THEN cs
      |         ELSE list_append(cs, {'gid': id, 'c': v}) END AS cs
      |  FROM (
      |    SELECT r.rn, r.id, r.v, f.cs,
      |      COALESCE(list_min(dists) < 100.0, FALSE) AS hit,
      |      list_position(dists, list_min(dists)) AS bi
      |    FROM sem_fold f JOIN ranked r ON r.rn = f.rn + 1,
      |    LATERAL (SELECT list_transform(f.cs,
      |        s -> list_sum(list_transform(list_zip(s.c, r.v),
      |          z -> (z[1] - z[2]) * (z[1] - z[2])))) AS dists) t
      |  )
      |),
      |sem AS (SELECT id, 'sem_grp_' || CAST(grp AS VARCHAR) AS grp
      |  FROM sem_fold WHERE rn > 0),
      |den_fold AS (
      |  SELECT 0::BIGINT AS rn, 0 AS nid,
      |         CAST([] AS STRUCT(cid INTEGER, c DOUBLE[], w DOUBLE)[]) AS cs
      |  UNION ALL
      |  SELECT rn,
      |    CASE WHEN hit THEN nid ELSE nid + 1 END AS nid,
      |    CASE WHEN hit THEN list_transform(cs, (s, i) -> CASE WHEN i = bi
      |           THEN {'cid': s.cid,
      |             'c': list_transform(list_zip(s.c, v),
      |               z -> (z[1]*s.w + z[2])/(s.w + 1.0)),
      |             'w': s.w + 1.0} ELSE s END)
      |         ELSE list_append(cs, {'cid': nid, 'c': v, 'w': 1.0}) END AS cs
      |  FROM (
      |    SELECT r.rn, r.v, f.nid, f.cs,
      |      COALESCE(list_min(dists) < 10.0, FALSE) AS hit,
      |      list_position(dists, list_min(dists)) AS bi
      |    FROM den_fold f JOIN ranked r ON r.rn = f.rn + 1,
      |    LATERAL (SELECT list_transform(f.cs,
      |        s -> sqrt(list_sum(list_transform(list_zip(s.c, r.v),
      |          z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS dists) t
      |  )
      |),
      |final AS (SELECT cs FROM den_fold ORDER BY rn DESC LIMIT 1),
      |probe AS (
      |  SELECT v.id, t.dists
      |  FROM vecs v, final f,
      |  LATERAL (SELECT list_transform(f.cs,
      |      s -> sqrt(list_sum(list_transform(list_zip(s.c, v.v),
      |        z -> (z[1] - z[2]) * (z[1] - z[2]))))) AS dists) t
      |),
      |pred AS (
      |  SELECT p.id,
      |    CASE WHEN COALESCE(list_min(p.dists) < 10.0, FALSE)
      |         THEN f.cs[list_position(p.dists, list_min(p.dists))].cid
      |         ELSE -1 END AS cluster_id
      |  FROM probe p, final f),
      |counts AS (
      |  SELECT cluster_id, id % 4 AS batch_ts, COUNT(*) AS log_count
      |  FROM pred WHERE cluster_id >= 0 GROUP BY 1, 2),
      |feat AS (SELECT cluster_id, log_count,
      |  AVG(log_count) OVER w5 AS roll_mean,
      |  STDDEV_POP(log_count) OVER w5 AS roll_std,
      |  ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                     ORDER BY batch_ts DESC) AS rn
      |FROM counts
      |WINDOW w5 AS (PARTITION BY cluster_id ORDER BY batch_ts
      |              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
      |latest AS (SELECT cluster_id, log_count,
      |  -ABS(ROUND((log_count - roll_mean) / (roll_std + 1e-5), 6)) AS score
      |FROM feat WHERE rn = 1),
      |stats AS (SELECT AVG(score) AS mu, STDDEV_POP(score) AS sigma
      |          FROM latest),
      |scored AS (SELECT cluster_id, log_count AS cluster_volume,
      |  ROUND(score, 6) + 0.0 AS cluster_score,
      |  ROUND((score - mu) / (sigma + 1e-5), 4) + 0.0 AS cluster_score_z,
      |  ROUND((score - mu) / (sigma + 1e-5), 6) < -1.0 AS flagged
      |FROM latest, stats)
      |SELECT p.id AS doc_id, s.grp, p.cluster_id,
      |  COALESCE(sc.cluster_volume, 0) AS cluster_volume,
      |  COALESCE(sc.cluster_score, 0.0) AS cluster_score,
      |  COALESCE(sc.cluster_score_z, 0.0) AS cluster_score_z,
      |  COALESCE(sc.flagged, FALSE) AS flagged
      |FROM pred p JOIN sem s ON s.id = p.id
      |LEFT JOIN scored sc ON sc.cluster_id = p.cluster_id
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_minkowski" -> (q21Minkowski _),
    "q22_cosine_knn" -> (q22CosineKnn _),
    "q26_volume_features" -> (q26VolumeFeatures _),
    "q27_anomaly_rank" -> (q27AnomalyRank _),
    "q28_incident_merge" -> (q28IncidentMerge _),
    "q29_homogeneity" -> (q29Homogeneity _),
    "q30_silhouette" -> (q30Silhouette _),
    "q31_embed_docs" -> (q31EmbedDocs _),
    "q32_semantic_groups" -> (q32SemanticGroups _),
    "q33_denstream" -> (q33DenStream _),
    "q34_pipeline_e2e" -> (q34PipelineE2E _),
    "q35_approx_aggs" -> (q35ApproxAggs _),
    "q36_semantic_sharded" -> (q36SemanticSharded _),
    "q37_anomaly_iforest" -> (q37AnomalyIForest _),
    "q38_silhouette_simplified" -> (q38SilhouetteSimplified _),
    "q39_pca_projection" -> (q39PcaProjection _),
    "q96_pca_sql" -> (q96PcaSql _),
    "q98_iforest_sql" -> (q98IForestSql _),
    "q65_embed_sql" -> (q65EmbedSql _),
    "q66_pipeline_prefix" -> (q66PipelinePrefix _),
    "q68_semantic_fold_sql" -> (q68SemanticFoldSql _),
    "q69_denstream_fold_sql" -> (q69DenstreamFoldSql _),
    "q87_sharded_fold_sql" -> (q87ShardedFoldSql _),
    "q89_pipeline_fold_e2e" -> (q89PipelineFoldE2E _))

  val oracleSql: Map[String, String] = Map(
    "q21_minkowski" -> q21Sql,
    "q22_cosine_knn" -> q22Sql,
    "q26_volume_features" -> q26Sql,
    "q27_anomaly_rank" -> q27Sql,
    "q28_incident_merge" -> q28Sql,
    "q29_homogeneity" -> q29Sql,
    "q30_silhouette" -> q30Sql,
    "q35_approx_aggs" -> q35Sql,
    "q38_silhouette_simplified" -> q38Sql,
    "q65_embed_sql" -> q65Sql,
    "q96_pca_sql" -> q96Sql,
    "q98_iforest_sql" -> q98Sql,
    "q66_pipeline_prefix" -> q66Sql,
    "q68_semantic_fold_sql" -> q68Sql,
    "q69_denstream_fold_sql" -> q69Sql,
    "q87_sharded_fold_sql" -> q87Sql,
    "q89_pipeline_fold_e2e" -> q89Sql)
}
