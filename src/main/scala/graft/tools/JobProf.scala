package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable
import graft.core.Sessions

/** Per-job wall-clock profile of a named query — the guide-§1 "find where
  * the time goes" step for the multi-job lifecycle batteries, where the
  * SQL-tab view of a single plan says nothing about the 50–150 sequential
  * tiny actions (pins, counts, writes, collects) a battery runs.
  *
  * `runMain graft.tools.JobProf <sfDir> <query...>` — each query runs once
  * untimed (fixture caches, JIT), then once profiled; prints total wall,
  * job count, summed job time (the gap to wall = driver-side work between
  * jobs) and the slowest jobs with their call sites.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = Sessions.local(Sessions.cpus("32"), "ERROR")
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, String)]()
    val starts = mutable.Map[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (j.time,
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?"))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (t0, d) = starts.getOrElse(j.jobId, (j.time, "?"))
        jobs += ((j.jobId, t0, j.time, d))
      }
    })
    names.foreach { name =>
      def once(): Unit = graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      once() // warm: fixture caches, codegen, JIT
      spark.catalog.clearCache(); System.gc()
      jobs.clear()
      val t0 = System.nanoTime()
      once()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let trailing job-end events drain
      val jobSecs = jobs.map(j => j._3 - j._2).sum / 1e3
      println(f"==== $name wall=$wall%.2fs jobs=${jobs.size}%d jobtime=$jobSecs%.2fs")
      jobs.sortBy(j => -(j._3 - j._2)).take(25).foreach { case (id, s, e, d) =>
        println(f"  job $id%4d ${(e - s) / 1e3}%6.2fs  ${d.take(110)}%s")
      }
    }
    spark.stop()
  }
}
