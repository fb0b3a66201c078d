package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clustering quality metrics as DataFrame aggregations.
  *
  * Homogeneity / completeness per Rosenberg & Hirschberg 2007 (public
  * formulas; the reference calls sklearn's implementations,
  * `scripts/validate_quality.py:11-27`): entropy sums over the
  * class × cluster contingency table. Silhouette
  * (`validate_quality.py:30-56`) as exact pairwise mean distances — the
  * reference itself caps input at 2000 rows for the O(N²); here the
  * pairwise step is a distributed self-join so the same cap is a
  * per-use-site choice, not an engine limit.
  */
object Quality {

  /** One-row DF: (homogeneity, completeness, v_measure). */
  def homogeneityCompleteness(df: DataFrame, labelCol: String,
      clusterCol: String): DataFrame = {
    val joint = df.groupBy(col(labelCol).as("c"), col(clusterCol).as("k"))
      .agg(count(lit(1)).as("n_ck"))
    val byC = joint.groupBy("c").agg(sum("n_ck").as("n_c"))
    val byK = joint.groupBy("k").agg(sum("n_ck").as("n_k"))
    val n = joint.agg(sum("n_ck").as("n"))

    val hC = byC.crossJoin(n)
      .agg((-sum((col("n_c") / col("n")) * log(col("n_c") / col("n"))))
        .as("h_c"))
    val hK = byK.crossJoin(n)
      .agg((-sum((col("n_k") / col("n")) * log(col("n_k") / col("n"))))
        .as("h_k"))
    val hCK = joint.join(byK, "k").crossJoin(n)
      .agg((-sum((col("n_ck") / col("n")) * log(col("n_ck") / col("n_k"))))
        .as("h_ck"))
    val hKC = joint.join(byC, "c").crossJoin(n)
      .agg((-sum((col("n_ck") / col("n")) * log(col("n_ck") / col("n_c"))))
        .as("h_kc"))

    hC.crossJoin(hCK).crossJoin(hK).crossJoin(hKC)
      .select(
        when(col("h_c") === 0.0, 1.0)
          .otherwise(lit(1.0) - col("h_ck") / col("h_c")).as("homogeneity"),
        when(col("h_k") === 0.0, 1.0)
          .otherwise(lit(1.0) - col("h_kc") / col("h_k")).as("completeness"))
      .withColumn("v_measure",
        when(col("homogeneity") + col("completeness") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("homogeneity") * col("completeness") /
            (col("homogeneity") + col("completeness"))))
  }

  /** Mean silhouette coefficient over (id, vec, cluster) rows — exact,
    * via pairwise self-join. Noise rows (cluster < 0) are excluded, as
    * are singleton clusters (s(i) := 0 per sklearn convention). */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String): DataFrame = {
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      col(clusterCol).cast("long").as("cl"))
      .filter(col("cl") >= 0)
    val a = pts.as("a")
    val b = pts.select(col("id").as("bid"), col("v").as("bv"),
      col("cl").as("bcl")).as("b")
    // mean distance from each point to each cluster (excluding self-pair)
    val meanTo = a.crossJoin(b).filter(col("id") =!= col("bid"))
      .withColumn("d", Distance.euclidean(col("v"), col("bv")))
      .groupBy(col("id"), col("cl"), col("bcl"))
      .agg(avg("d").as("mean_d"), count(lit(1)).as("n_pairs"))
    val own = meanTo.filter(col("cl") === col("bcl"))
      .select(col("id"), col("mean_d").as("a_i"))
    val other = meanTo.filter(col("cl") =!= col("bcl"))
      .groupBy("id").agg(min("mean_d").as("b_i"))
    val perPoint = own.join(other, Seq("id"), "inner")
      .select(col("id"),
        ((col("b_i") - col("a_i")) /
          greatest(col("a_i"), col("b_i"))).as("s"))
    // singletons have no same-cluster pair → missing from `own`; sklearn
    // scores them 0, so re-add via anti join
    val singles = pts.join(own, Seq("id"), "left_anti")
      .select(col("id"), lit(0.0).as("s"))
    perPoint.unionByName(singles).agg(avg("s").as("silhouette"))
  }

  /** Simplified (centroid-based) silhouette — the O(N·k) scale variant of
    * [[silhouette]]'s exact O(N²) (Hruschka et al. 2004, public
    * formulation): a_i = distance to own centroid, b_i = min distance to
    * another cluster's centroid. The exact metric stays the correctness
    * baseline (q30, with the reference's own 2000-row cap); this is the
    * 100 TB path — one explode-aggregate for centroids (k × dim rows),
    * one broadcast join for distances, no pairwise self-join. */
  def silhouetteSimplified(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String): DataFrame = {
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      col(clusterCol).cast("long").as("cl"))
      .filter(col("cl") >= 0)
    val dims = pts.select(col("cl"), posexplode(col("v")))
    val centVec = dims.groupBy(col("cl").as("ccl"), col("pos"))
      .agg(avg(col("col")).as("cx"))
      .groupBy("ccl")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        s => s.getField("cx")).as("cv"))
    val withD = pts.crossJoin(broadcast(centVec))
      .withColumn("d", Distance.euclidean(col("v"), col("cv")))
    val own = withD.filter(col("cl") === col("ccl"))
      .select(col("id"), col("d").as("a_i"))
    val oth = withD.filter(col("cl") =!= col("ccl"))
      .groupBy("id").agg(min("d").as("b_i"))
    own.join(oth, Seq("id"), "inner")
      .select(((col("b_i") - col("a_i")) /
        greatest(col("a_i"), col("b_i"))).as("s"))
      .agg(avg("s").as("silhouette_simplified"))
  }
}
