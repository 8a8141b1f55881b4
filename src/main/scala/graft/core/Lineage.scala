package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage pinning: materialize a DataFrame once so that every later job
  * over it reads the stored blocks instead of re-executing the upstream
  * plan.
  *
  * Two distinct correctness needs meet here:
  *
  *  1. Multi-job operators (e.g. [[GlobalOrder.withGlobalPosition]]) run one
  *     job to collect a small summary and a second job over the same frame.
  *     If the upstream is nondeterministic (shuffle-retried input,
  *     `rand()`, stateful `mapPartitions`), the two executions can see
  *     different data and silently disagree. Pinning makes the second job
  *     read exactly what the first saw.
  *  2. Iterative algorithms (e.g. connected components) must cut lineage
  *     every round or the plan grows without bound.
  *
  * Mode: `localCheckpoint(eager)` stores blocks on executors — no
  * distributed-FS round-trip, but blocks die with an executor, and because
  * lineage is truncated the job then FAILS rather than silently recomputing
  * (fail-stop is the correct failure mode for need #1). On a real cluster a
  * long-running iterative job should survive executor loss: when the
  * session has a reliable checkpoint directory configured
  * (`sc.setCheckpointDir(...)`, typically HDFS/S3), `pin` automatically
  * uses a reliable `checkpoint` instead.
  *
  * When to pin and when to collect: a pin costs a job that stores the
  * frame's blocks, and every later read is another job. A request-sized
  * input (a probe batch, a takedown's ids, a small duplicate graph) is
  * better collected once with [[Local.collectUpTo]]: its rows are then as
  * deterministic as a pin's, the summaries a pin would feed (min, max,
  * distinct values) come from the rows with no job, and queries over
  * [[Local.relation]] fold projections on the driver and broadcast joins.
  * Pin what may be too large for the driver — the other branch of every
  * `collectUpTo` site — and what an iterative algorithm re-reads.
  */
object Lineage {

  /** Pin `df`: reliable checkpoint when a checkpoint dir is configured,
    * executor-local checkpoint otherwise.
    */
  def pin(df: DataFrame): DataFrame =
    pin(df, reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** Pin with an explicit mode. `reliable = true` requires
    * `sc.setCheckpointDir` to have been called.
    */
  def pin(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
