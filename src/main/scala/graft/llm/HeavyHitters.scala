package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Misra–Gries heavy hitters — the deterministic-bound counter sketch next
  * to [[CmsSketch]] (probabilistic, fixed memory) and exact top-k (one full
  * shuffle). An MG summary of capacity `cap` holds at most `cap` (key,
  * count) counters and guarantees, for a stream of n items:
  *
  *   est(k) ≤ true(k)               (one-sided, opposite of CMS)
  *   true(k) − est(k) ≤ n / (cap+1)
  *
  * so every key with true(k) > n/(cap+1) is PRESENT in the summary — no
  * false negatives among the real heavy hitters, with memory independent of
  * both the key cardinality and n.
  *
  * Distributed shape: one MG pass per partition ([[summarize]] —
  * `mapPartitions` is justified: the decrement step is inherently
  * sequential state), emitting ≤ cap rows per partition; global estimates
  * are a groupBy-sum over those ≤ cap×partitions narrow rows ([[estimates]])
  * — the corpus itself is scanned once and never shuffled. The per-stream
  * bound composes: summed over partitions, true − est ≤ Σ_p n_p/(cap+1) =
  * n/(cap+1), and a key with true > n/(cap+1) must survive in at least one
  * partition. Summaries are mergeable across segments ([[merge]]) the same
  * way, with an optional re-prune back to `cap` rows that adds the pruned
  * threshold to the error budget (the standard MG merge).
  *
  * Estimates depend on partition layout (how ties decrement) — the BOUNDS
  * above hold for every layout, and HeavyHittersSpec asserts them under
  * adversarial repartitionings; pipelines needing bit-stable numbers use
  * exact counts or [[CmsSketch]].
  *
  * NULL keys are dropped before sketching (a sketch key must be a value).
  */
object HeavyHitters {

  /** Per-partition Misra–Gries summaries: (key, est) with ≤ cap rows per
    * input partition. Amortized O(1) per item: each decrement pass costs
    * O(cap) but consumes cap count-units, and total count-units ≤ n_p.
    */
  def summarize(df: DataFrame, key: Column, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("string").as("key")).filter(col("key").isNotNull)
      .as[String]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { k =>
          m.get(k) match {
            case Some(c) => m.update(k, c + 1)
            case None if m.size < cap => m.update(k, 1L)
            case None =>
              // classic MG step: a key with no free counter decrements ALL
              // counters by one; zeros free their slots
              val dead = scala.collection.mutable.ArrayBuffer.empty[String]
              m.foreach { case (kk, c) => if (c == 1) dead += kk else m.update(kk, c - 1) }
              dead.foreach(m.remove)
          }
        }
        m.iterator.map { case (k, c) => (k, c) }
      }
      .toDF("key", "est")
  }

  /** Global estimates from per-partition (or per-segment) summaries: sum per
    * key over ≤ cap×partitions narrow rows. Bounds: est ≤ true and
    * true − est ≤ n/(cap+1) over the total item count n covered by the
    * summaries.
    */
  def estimates(summaries: DataFrame): DataFrame =
    summaries.groupBy("key").agg(sum("est").as("est"))

  /** Merge summaries back down to ≤ cap rows (the segment-store compaction
    * path): sum per key, then subtract the (cap+1)-th largest estimate from
    * every counter and keep the positive ones — the standard MG merge,
    * which adds the subtracted threshold to the error budget (still ≤
    * n/(cap+1) total for two capacity-cap summaries). The threshold probe
    * collects cap+1 rows — bounded by the cap, not the data, and refused
    * past [[graft.core.Local.MaxBytes]].
    */
  def merge(summaries: DataFrame, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val summed = estimates(summaries)
    val top = graft.core.Local.collectUpTo(
        summed.orderBy(col("est").desc, col("key")).limit(cap + 1), cap + 1,
        graft.core.Local.MaxBytes)
      .getOrElse(throw new IllegalArgumentException(
        s"HeavyHitters.merge: the top ${cap + 1} summary rows pass the driver byte bound — lower the cap"))
    if (top.length <= cap) summed
    else {
      val threshold = top.last.getLong(1)
      summed.select(col("key"), (col("est") - threshold).as("est"))
        .filter(col("est") > 0)
    }
  }

  /** End-to-end: per-partition summaries → summed global estimates.
    * Every key with true count > n/(cap+1) appears; every estimate
    * underestimates by at most n/(cap+1).
    */
  def heavyHitters(df: DataFrame, key: Column, cap: Int): DataFrame =
    estimates(summarize(df, key, cap))
}
