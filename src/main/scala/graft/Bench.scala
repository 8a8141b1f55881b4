package graft

import org.apache.spark.sql.SparkSession
import graft.core.Sessions

/** Per-round benchmark: run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, print ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * Each query is forced with a noop-format write: every operator including
  * final projections executes (a bare .count() lets Catalyst prune the
  * projection, under-measuring scalar-heavy queries) with no driver-side
  * result materialization. A warmup pass on the flagship query pays the
  * one-time codegen/JIT cost so per-query numbers reflect steady-state
  * execution.
  *
  * Each query is timed twice and the MIN is reported: steady-state cost,
  * robust to one-off stalls (GC pause, ambient machine contention — r03 saw a
  * 3 s query read 353 s from a single such stall).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus("4"), "ERROR", "spark.sql.adaptive.enabled" -> "true")
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warmup: JIT + codegen + filesystem metadata
    try force(SparkEntry.queries("q01_agg_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => }
    // Optional args: run only the named queries (ad-hoc profiling).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => args.contains(k) }
    // Returns (seconds, succeeded). A query that throws must NOT be reported
    // with a normal-looking timing — min-of-2 would otherwise let one green
    // run mask one crash entirely.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { force(fn(spark, sfDir)); true } catch {
        case t: Throwable =>
          System.err.println(s"[bench] query failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
          false
      }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (t1, ok1) = timeOnce(fn)
      val (t2, ok2) = timeOnce(fn)
      // Untimed isolation between queries: a 115-query battery accumulates
      // cached broadcast/codegen/heap state, and by the tail GC pressure
      // inflates timings up to ~30× (measured: q26 15.0 s inside the full
      // battery vs 1.1 s isolated — same pattern ScaleProbe hit, fixed the
      // same way). Runs OUTSIDE the timed window, so reported numbers are
      // per-query steady-state cost.
      // MEASUREMENT-REGIME NOTE: this isolation landed in r7 — BENCH_r01..r06
      // per-query numbers were taken under accumulated heap/cache state and
      // are NOT apples-to-apples with r7+ (they overstate tail-query cost);
      // compare totals across that boundary only directionally.
      spark.catalog.clearCache()
      System.gc()
      val succeeded = Seq((t1, ok1), (t2, ok2)).filter(_._2).map(_._1)
      // min of the successful runs; a query with zero successful runs is an err
      (name, if (succeeded.nonEmpty) Some(succeeded.min) else None)
    }
    def queriesJson(key: String => String): String = results.map {
      case (k, Some(v)) => "\"" + key(k) + "\":" + f"$v%.3f"
      case (k, None)    => "\"" + key(k) + "\":\"err\""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    val total = results.flatMap(_._2).sum
    def jsonLine(qs: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Full query names → a file (env-configurable, CWD-relative by default —
    // running from another checkout must not write into /root/repo).
    val full = jsonLine(queriesJson(identity))
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case t: Throwable => System.err.println(s"[bench] file write failed: ${t.getMessage}") }
    // stdout gets the SHORT form: the driver tails a bounded window of a
    // verbose sbt log, and the 84-query full-name line (~3.1 KB) overflowed
    // it in r04/r05 ("parsed": null — head of the line cut off). Short keys
    // ("q74" for "q74_decimal_exact") keep the line ~1.2 KB. The qNN prefix
    // is unique per query; full names are in the file above.
    println(jsonLine(queriesJson(k => k.takeWhile(_ != '_'))))
    spark.stop()
  }
}
