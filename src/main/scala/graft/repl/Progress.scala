package graft.repl

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler._

/** Per-cell task progress — behavioral analog of the reference's
  * ProgressSparkListener.scala:19-185: count tasks started/completed across
  * the stages a cell triggers, expose a rate-limited (500 ms) progress
  * snapshot for display. Attach before executing a cell, remove after
  * (reference ArcInterpreter.scala:386-396, :640-648).
  */
final class ProgressListener(onUpdate: ProgressListener.Snapshot => Unit = _ => ())
    extends SparkListener {

  private val total = new AtomicInteger(0)
  private val done = new AtomicInteger(0)
  @volatile private var lastPush = 0L
  private val marker = new GraftListenerBus.Marker
  private val delivered = new CountDownLatch(1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    total.addAndGet(e.stageInfo.numTasks)
    push(force = false)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    done.incrementAndGet()
    push(force = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = push(force = true)

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (e eq marker) delivered.countDown()

  /** Block until this listener has received every event posted before the
    * call, for at most `timeoutMs`: posts a marker behind them and waits for
    * it. False on timeout or when the context is stopped.
    */
  def awaitDelivered(sc: SparkContext, timeoutMs: Long): Boolean =
    GraftListenerBus.post(sc, marker) && delivered.await(timeoutMs, TimeUnit.MILLISECONDS)

  def snapshot: ProgressListener.Snapshot =
    ProgressListener.Snapshot(done.get, total.get)

  private def push(force: Boolean): Unit = {
    val now = System.currentTimeMillis()
    if (force || now - lastPush >= 500) { // reference rate limit: 500 ms
      lastPush = now
      onUpdate(snapshot)
    }
  }
}

object ProgressListener {
  final case class Snapshot(done: Int, total: Int) {
    def percent: Int = if (total == 0) 0 else math.min(100, done * 100 / total)
    /** Text progress bar like the reference's HTML bar. */
    def bar(width: Int = 40): String = {
      val filled = if (total == 0) 0 else math.min(width, done * width / total)
      "[" + "#" * filled + "-" * (width - filled) + s"] $done/$total"
    }
  }

  /** Run `body` with a listener attached; always detaches. The scheduler
    * posts every stage, task-end and job-end event of an action before the
    * action returns, so once `body` returns all events the cell caused are
    * queued: waiting for a marker posted behind them to reach this cell's
    * listener (bounded at 1 s; on timeout the snapshot is taken anyway) makes
    * the snapshot final, without polling and without waiting on the bus's
    * other listener queues.
    */
  def withProgress[T](spark: org.apache.spark.sql.SparkSession)(body: => T): (T, Snapshot) = {
    val l = new ProgressListener()
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      l.awaitDelivered(spark.sparkContext, timeoutMs = 1000)
      (r, l.snapshot)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
