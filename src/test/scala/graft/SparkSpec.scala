package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single forked test JVM).
  */
object TestSpark {
  // def (not lazy val): getOrCreate returns the active session, or builds a
  // fresh one after a test stopped it (e.g. the `%conf master=` restart) —
  // each suite's own lazy val then re-resolves to a live session.
  def spark: SparkSession = Sessions.local("4", "WARN", "spark.app.name" -> "graft-test")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
