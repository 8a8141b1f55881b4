package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.PipelineContext
import graft.repl.Boot

/** One timed operation. `run` returns false when the program reports a
  * failure without throwing, as the REPL does for a refused cell. */
final case class Op(kind: String, describe: String, run: () => Boolean)

/** A workload: seeded inputs, a seeded operation stream, output checks. */
trait Workload {

  /** Generate inputs under `dir` and build the program's state from them. */
  def setup(spark: SparkSession, dir: String): Unit

  /** Run every kind of operation before the timed window, untimed. */
  def warmup(): Unit

  /** Block `i` of the operation stream. Every block holds the workload's
    * exact operation mix in a seeded order, so the mix does not drift with
    * the number of blocks a run completes. Blocks below 0 are the warmup. */
  def block(i: Int): Seq[Op]

  /** Checks on the program's outputs, made after the timed window:
    * (checks made, one message per failed check). */
  def check(): (Int, Seq[String])

  /** Corrupt one output so that `check` must report it (self-test only). */
  def injectFault(): Unit

  /** The pipeline context whose stages the traced run hooks, if any. */
  def pipelineContext: Option[PipelineContext] = None

  /** Digest of the generated inputs, for the determinism self-test. */
  def inputDigest(): String

  /** Per-layer figures only the workload can measure (traced runs only). */
  def layerExtras(): Map[String, Double] = Map.empty
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      runDir: String, traceOut: String, injectFault: Boolean, digestOnly: Boolean)

  def parseOpts(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("run-dir"), m.getOrElse("trace-out", ""), m.get("inject-fault").contains("1"),
      m.get("digest-only").contains("1"))
  }

  def newWorkload(name: String, seed: Long): Workload = name match {
    case "notebook"        => new Notebook(seed)
    case "store_lifecycle" => new Stores(seed)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try run(parseOpts(args), t0)
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  private def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  private def session(): SparkSession = {
    Boot.memoryGuard().foreach(err => throw new IllegalStateException(err))
    Boot.buildSession(s"local[$cores]")
  }

  def run(o: Opts, t0: Long): Int = {
    if (o.digestOnly) {
      val spark = session()
      try {
        val wl = newWorkload(o.workload, o.seed)
        val stream = (0 until 3).flatMap(b => wl.block(b).map(op => s"${op.kind} ${op.describe}"))
        wl.setup(spark, s"${o.runDir}/digest")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.runDir}/result.json"),
          s"""{"inputs": "${wl.inputDigest()}", "stream": "${stream.mkString("|").hashCode}", "ops": ${stream.size}}""")
      } finally spark.stop()
      return 0
    }

    // set-up: from main to the first timed operation, warmup included
    val spark = session()
    val wl = newWorkload(o.workload, o.seed)
    wl.setup(spark, s"${o.runDir}/state")
    wl.warmup()
    val setupS = (System.nanoTime() - t0) / 1e9

    val trace = if (o.trace) Some(new Trace(spark, wl.pipelineContext)) else None
    val recs = ArrayBuffer[Trace.OpRec]()
    var failedOps = 0
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val wall0 = System.nanoTime()
    var b = 0
    val blockSecs = ArrayBuffer[Double]()
    while (System.nanoTime() < deadline) {
      val b0 = System.nanoTime()
      wl.block(b).foreach { op =>
        val startMs = System.currentTimeMillis()
        val s = System.nanoTime()
        val ok =
          try op.run()
          catch {
            case e: Throwable =>
              System.err.println(s"op ${op.kind} ${op.describe} failed: $e")
              false
          }
        val ns = System.nanoTime() - s
        recs += Trace.OpRec(op.kind, startMs, System.currentTimeMillis(), s, ns)
        if (!ok) failedOps += 1
      }
      blockSecs += (System.nanoTime() - b0) / 1e9
      b += 1
    }
    val wallNs = System.nanoTime() - wall0
    trace.foreach(_.stop())

    if (o.injectFault) wl.injectFault()
    val (nChecks, failures) = wl.check()
    failures.foreach(f => System.err.println(s"check failed: $f"))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        val ms = recs.map(_.ns / 1e6).toIndexedSeq
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", Stats.hdMedian(ms), "ms"),
          ("ops_per_s", recs.size / (ms.sum / 1000.0), "1/s"))
      case Some(t) =>
        val out = t.perLayer(o.workload, recs.toIndexedSeq, wallNs, cores, wl.layerExtras())
        if (o.traceOut.nonEmpty) t.writeSpans(o.traceOut, recs.toIndexedSeq)
        out
    }
    spark.stop()

    val attempted = recs.size + nChecks
    val failed = failedOps + failures.size
    System.err.println(f"${o.workload}: ${recs.size} ops in ${wallNs / 1e9}%.1f s, " +
      s"blocks ${blockSecs.map(x => f"$x%.2f").mkString("/")} s, setup ${f"$setupS%.2f"} s, " +
      s"$failedOps failed ops, ${failures.size}/$nChecks failed checks")
    val json = metrics.map { case (k, v, unit) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$unit"}"""
    }.mkString(", ")
    val line = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.runDir}/result.json"), line)
    0
  }
}

object Stats {
  def median(xs: IndexedSeq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-weighted
    * average of all order statistics. Operation latencies come in steps (the
    * REPL's 50 ms progress poll), and the sample median jumps between them
    * from run to run; this estimate of the same median does not. */
  def hdMedian(xs: IndexedSeq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val a = (n + 1) / 2.0
      def cdf(x: Double) =
        if (x <= 0) 0.0 else if (x >= 1) 1.0
        else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, a)
      s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
    }

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: IndexedSeq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** JSON number with all its digits; non-finite values print as 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Disk {
  /** (files, bytes) under `path`, ignoring Hadoop checksum files. */
  def usage(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var files, bytes = 0L
        s.filter(x => java.nio.file.Files.isRegularFile(x) && !x.getFileName.toString.endsWith(".crc"))
          .forEach { x => files += 1; bytes += java.nio.file.Files.size(x) }
        (files, bytes)
      } finally s.close()
    }
  }
}
