package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Query-registry evidence: for one checkout's compiled classes, writes
  *  - `keys.txt`: the sorted `SparkEntry.queries` key set;
  *  - `plans.txt`: every query's analyzed logical plan, normalized by
  *    dropping expression ids (`#123`, `#123L`), temp-dir paths, JVM lambda
  *    numbers, object identity hashes and the name of the object that
  *    declares a query body, so two checkouts whose query bodies and scan
  *    layouts agree print the same text (an adaptive layout shows as the
  *    extract's `Repartition`).
  *
  * Usage: `PlanDump <sfDir> <outDir>`; see run.sh.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = java.util.regex.Pattern.quote(System.getProperty("java.io.tmpdir"))
    def normalize(plan: String): String = plan
      .replaceAll("#\\d+L?", "")
      .replaceAll(s"(file:)?$tmp/[^\\s,\\]\\)]*", "<tmp>")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}\\b", "@<id>")
      .replaceAll("graft\\.(SparkEntry|queries\\.\\w+)\\$\\$\\$Lambda", "<query body>\\$\\$\\$Lambda")
    val names = SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(s"$outDir/keys.txt"), names.mkString("", "\n", "\n").getBytes(UTF_8))
    val plans = names.map { name =>
      val plan =
        try normalize(SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed.toString)
        catch { case e: Exception => s"FAILED ${e.getClass.getName}: ${e.getMessage}" }
      System.err.println(s"[plandump] $name")
      s"== $name\n$plan\n"
    }
    Files.write(Paths.get(s"$outDir/plans.txt"), plans.mkString.getBytes(UTF_8))
    spark.stop()
  }
}
