package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every entry point gets the same
  * oracle-parity settings: `master`, `partitions` shuffle partitions, the
  * UTC session time zone and no UI; `extra` adds an entry point's own.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def build(master: String, partitions: String, logLevel: String,
      extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** [[build]] on `local[cpus]` with `cpus` shuffle partitions. */
  def local(cpus: String, logLevel: String, extra: (String, String)*): SparkSession =
    build(s"local[$cpus]", cpus, logLevel, extra: _*)
}
