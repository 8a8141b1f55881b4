package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Request-sized inputs on the driver: the one bounded collect, and the
  * local relation built from what it returned.
  *
  * A probe batch, a takedown's ids or a small duplicate graph fits in the
  * driver's heap, and once it is there a query over it plans against a
  * local relation: Spark's `ConvertToLocalRelation` evaluates projections
  * and filters over it on the driver, and joins against it broadcast.
  * Each caller keeps its own row bound; the byte bound holds a few rows
  * of long strings or vectors to the same heap budget.
  */
object Local {

  /** The byte bound of the sites whose inputs are ids, pairs or short
    * strings: well above what their row bounds allow for such rows
    * (100 001 long pairs are about 20 MB, `plans/r21/cc_paths.txt`). */
  val MaxBytes: Long = 64L << 20

  /** The rows of `df` when it has at most `maxRows` rows and they take at
    * most `maxBytes` of driver heap (Spark's `SizeEstimator`); None once
    * either bound is passed. One bounded collect (`limit(maxRows + 1)`),
    * which runs no Spark job when the plan is already local. */
  def collectUpTo(df: DataFrame, maxRows: Int, maxBytes: Long): Option[Array[Row]] = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows || org.apache.spark.util.SizeEstimator.estimate(rows) > maxBytes) None
    else Some(rows)
  }

  /** `rows` as a local relation with `schema`. */
  def relation(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}
