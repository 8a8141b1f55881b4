package graft

import java.nio.file.{Files, Paths}
import graft.core.{Json, Sessions}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run 4-at-a-time on the FAIR scheduler — each is an independent
  * write job, so concurrency hides the per-query planning/codegen latency
  * without changing any result.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the run
    // (ad-hoc single-query verification; the driver passes none)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.cpus("4"), "WARN", "spark.scheduler.mode" -> "FAIR")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    graft.core.Par.all(selected.toSeq.map { case (name, fn) => () =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }, width = 4)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
