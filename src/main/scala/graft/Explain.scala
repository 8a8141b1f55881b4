package graft

import graft.core.Sessions
import org.apache.spark.sql.execution.ExplainMode

/** Print the formatted physical plan of named queries:
  * `runMain graft.Explain <sfDir> <query...>`. Used to audit pushdown
  * (PushedFilters/ReadSchema), join strategy (Broadcast vs SortMerge), and
  * WholeStageCodegen coverage per SURVEY.md's scale checklist.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Sessions.local("4", "ERROR")
    args.tail.foreach { name =>
      println(s"\n==================== $name ====================")
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
