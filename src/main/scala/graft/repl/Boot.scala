package graft.repl

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Session bootstrap — the reference's startup guards
  * (ArcInterpreter.scala:149, :229-232, :339-350):
  *  - `spark.driver.maxResultSize` pinned to 0.8×Xmx so a runaway collect
  *    fails cleanly instead of OOMing the kernel;
  *  - refuse to start when requested JVM memory exceeds physical RAM (the
  *    container would OOM-kill mid-query otherwise);
  *  - `CONF_STORAGE_LEVEL` selects the persist level for `persist=true`
  *    stages.
  */
object Boot {

  def runtimeMemory: Long = Runtime.getRuntime.maxMemory

  def physicalMemory: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _                                            => Long.MaxValue
    }

  /** Some(error) when the JVM is configured to use more memory than the
    * machine has — the reference refuses to execute in that state.
    */
  def memoryGuard(runtime: Long = runtimeMemory, physical: Long = physicalMemory): Option[String] =
    if (runtime > physical)
      Some(
        s"Cannot execute as requested JVM memory (-Xmx${runtime / (1 << 20)}MB) exceeds " +
          s"available system memory (${physical / (1 << 20)}MB) limit. Either decrease the " +
          "requested JVM memory or, if running in Docker, increase the Docker memory limit.")
    else None

  /** CONF_STORAGE_LEVEL → StorageLevel for `persist=true` stages
    * (reference ArcInterpreter.scala:339-350). Unknown/absent → MEMORY_AND_DISK_SER.
    */
  def storageLevel: StorageLevel =
    sys.env.get("CONF_STORAGE_LEVEL").map(_.trim.toUpperCase) match {
      case Some(name) =>
        try StorageLevel.fromString(name)
        catch { case _: IllegalArgumentException => StorageLevel.MEMORY_AND_DISK_SER }
      case None => StorageLevel.MEMORY_AND_DISK_SER
    }

  /** Build (or rebuild after `%conf master=`) the REPL session. */
  def buildSession(master: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-repl")
      .config("spark.driver.maxResultSize", s"${(runtimeMemory * 0.8).toLong}B")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      // Every query execution renders a plan description for the SQL UI,
      // which is off here. The default "formatted" rendering takes about as
      // long on the driver as planning a small cell; "simple" takes < 1 ms.
      .config("spark.sql.ui.explainMode", "simple")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
