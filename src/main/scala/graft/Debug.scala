package graft

import graft.core.Sessions

/** Ad-hoc debug runner: `runMain graft.Debug <sfDir> <query...>` — runs the
  * named queries, prints schema + first rows or the failure.
  */
object Debug {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("4", "ERROR")
    args.tail.foreach { name =>
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val rows = df.limit(5).collect()
        println(f"== $name OK ${(System.nanoTime() - t0) / 1e9}%.3f sec")
        println(df.schema.simpleString)
        rows.foreach(println)
      } catch {
        case e: Throwable =>
          println(s"== $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          var c = e.getCause
          while (c != null) { println(s"   cause: ${c.getMessage}"); c = c.getCause }
      }
    }
    spark.stop()
  }
}
