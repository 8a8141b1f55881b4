package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust per-group statistics for corpus quality filtering: EXACT grouped
  * quantiles and median/MAD outlier detection, shaped for 100 TB.
  *
  * Why not `percentile()`: Spark's exact percentile aggregate buffers every
  * value of a group in one aggregation buffer — a dominant group (90% of a
  * web crawl in one source) is an executor OOM, the same single-task wall
  * the exact samplers hit with per-group windows. This implementation
  * computes exact interpolated quantiles from the [[Sampling.slicedPrefix]]
  * slice-rank engine instead: range-partition on (group, value), per-slice
  * rank + offsets from the bounded counts table, then keep only the ≤ 2
  * boundary rows per (group, quantile) and interpolate. A hot group ranks
  * in parallel across its slices; nothing ever holds a group's values in
  * memory.
  *
  * Interpolation follows the SQL-standard PERCENTILE_CONT definition
  * (zero-based position p·(n−1), linear between the two bracketing values)
  * — identical to Spark's `percentile` and DuckDB's `quantile_cont`, which
  * is what the q160 oracle pins. A tied bracket is the tied value, as in
  * Spark; DuckDB can differ there in the last ulp.
  *
  * MAD outliers (median absolute deviation, the robust z-score): classic
  * robust location/scale screen for quality metrics whose distribution has
  * heavy junk tails (doc length, symbol ratio, perplexity). robust_z =
  * (v − median) / (1.4826·MAD); 1.4826 scales MAD to σ under normality
  * (Iglewicz–Hoaglin). A zero MAD (> half the group identical) makes the
  * score undefined → robust_z NULL, is_outlier false, documented rather
  * than Inf.
  */
object RobustStats {

  /** Exact per-group interpolated quantiles, one output row per
    * (group, p). Output: groupCols + `p` + `q`.
    *
    * Shape: ONE range partition of (group, value) + the slice-rank counts
    * join (both from [[Sampling.slicedPrefix]]), then a filter keeping at
    * most 2·|ps| boundary rows per group and a tiny final aggregation —
    * never a per-group window over the data, never a value buffer.
    *
    * NULL values are ignored (PERCENTILE_CONT semantics). A group whose
    * values are ALL null therefore produces no output row (SQL would emit
    * the group with a NULL quantile; callers needing that stratum should
    * outer-join against their distinct-group table).
    */
  def groupedQuantiles(df: DataFrame, groupCols: Seq[String], value: Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"quantiles must be in [0,1], got $ps")
    // NULLs are excluded BEFORE ranking (PERCENTILE_CONT semantics, matching
    // Spark's percentile and DuckDB's quantile_cont): a null _v would sort
    // first under the range partition, inflate _tot and occupy low ranks,
    // silently shifting every quantile of the group.
    val ranked = Sampling.slicedPrefix(
      df.select(groupCols.map(col) :+ value.cast("double").as("_v"): _*)
        .filter(col("_v").isNotNull),
      groupCols, col("_v"), lit(1L))
    // zero-based target position p·(n−1) → bracketing 1-based ranks l, u
    val pcol = explode(array(ps.map(lit): _*)).as("p")
    val pos = col("p") * (col("_tot") - 1).cast("double")
    val exploded = ranked.select(groupCols.map(col) :+ col("_v") :+ col("_cum") :+
        col("_tot") :+ pcol: _*)
      .withColumn("_l", floor(pos).cast("long") + 1)
      .withColumn("_u", least(floor(pos).cast("long") + 2, col("_tot")))
      .withColumn("_frac", pos - floor(pos))
      .filter(col("_cum") === col("_l") || col("_cum") === col("_u"))
    exploded
      .groupBy(groupCols.map(col) :+ col("p"): _*)
      .agg(
        max(when(col("_cum") === col("_l"), col("_v"))).as("_vl"),
        max(when(col("_cum") === col("_u"), col("_v"))).as("_vu"),
        first(col("_frac")).as("_f"))
      // (1−f)·vl + f·vu, NOT vl + f·(vu−vl): the convex form is what both
      // Spark's percentile and DuckDB's quantile_cont compute — the
      // algebraically-equal delta form differs in the last ulp (measured:
      // 894.1999999999999 vs 894.2) and would break bit-parity.
      // A tied bracket (vl = vu) is the value itself, as in Spark's
      // percentile: the convex form can miss it by an ulp when f is not a
      // dyadic fraction ((1−f)·v + f·v = -999.9999999999999 for v = -1000,
      // p = 0.01, n = 8; DuckDB 1.0's quantile_cont returns that ulp-off value)
      .withColumn("q", when(col("_vl") === col("_vu"), col("_vl"))
        .otherwise((lit(1.0) - col("_f")) * col("_vl") + col("_f") * col("_vu")))
      .select(groupCols.map(col) :+ col("p") :+ col("q"): _*)
  }

  /** Per-group robust location/scale: `median` and `mad`
    * (median(|v − median|)). Two slice-rank passes; the per-group median
    * table that joins back between them is one row per group.
    */
  def madStats(df: DataFrame, groupCols: Seq[String], value: Column): DataFrame = {
    // stats joins go through a struct key: struct equality matches NULL
    // fields (row semantics), so a NULL group keeps its stats — a raw
    // equi-join would silently drop the NULL stratum slicedPrefix preserves
    val med = groupedQuantiles(df, groupCols, value, Seq(0.5))
      .select(struct(groupCols.map(col): _*).as("_jk"), col("q").as("median"))
    val dev = df.select(groupCols.map(col) :+ value.cast("double").as("_v"): _*)
      .withColumn("_jk", struct(groupCols.map(col): _*))
      .join(med, "_jk")
      .select(groupCols.map(col) :+ abs(col("_v") - col("median")).as("_d"): _*)
    groupedQuantiles(dev, groupCols, col("_d"), Seq(0.5))
      .select(struct(groupCols.map(col): _*).as("_jk"), col("q").as("mad"))
      .join(med, "_jk")
      .select(col("_jk.*"), col("median"), col("mad"))
  }

  /** Append `median`, `mad`, `robust_z`, `is_outlier` to every row:
    * robust_z = (v − median)/(1.4826·mad), outlier when |robust_z| > k.
    * mad = 0 → robust_z NULL, is_outlier false (see object doc).
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], value: Column,
      k: Double = 3.5): DataFrame = {
    val stats = madStats(df, groupCols, value)
      .select((struct(groupCols.map(col): _*).as("_jk") +:
        Seq(col("median"), col("mad"))): _*)
    val z = (value.cast("double") - col("median")) / (lit(1.4826) * col("mad"))
    df.withColumn("_jk", struct(groupCols.map(col): _*))
      .join(stats, "_jk")
      .drop("_jk")
      .withColumn("robust_z", when(col("mad") > 0, z))
      .withColumn("is_outlier",
        when(col("mad") > 0, abs(col("robust_z")) > k).otherwise(lit(false)))
  }
}
