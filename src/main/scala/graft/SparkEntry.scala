package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Check, QueryDef, Registry}

/** Driver contract — see SURVEY.md §7 + BASELINE.md. The queries
  * themselves are declared in [[graft.queries]], one [[graft.queries.QueryDef]]
  * each; this object derives `queries`, `oracleSql` and `entry` from [[Registry.all]].
  *
  * Every query routes through the pipeline engine (ParquetExtract stages
  * register temp views; SQLTransform or a dedicated stage computes the
  * result), so the correctness gate exercises the real operator stack, not ad
  * hoc DataFrame code.
  *
  * Determinism rules for DuckDB-oracle parity (SURVEY.md §5, §7 risks):
  *  - every query ends in a total-order ORDER BY;
  *  - SUMs over double columns are computed exactly via DECIMAL(18,2) cast
  *    (both engines sum decimals exactly → bit-identical DOUBLE at the end;
  *    a straight double SUM is order-dependent and would hash-mismatch);
  *  - no approx functions, no rand, session timezone UTC.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H-Q1 shape:
    * scan → filter → hash agg (partial+final) → sort, all Catalyst-planned.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** name → (spark, sfDir) => result, for every registered query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> (q.apply _)).toMap

  /** name → DuckDB SQL, for every oracle-checked query. */
  def oracleSql: Map[String, String] =
    Registry.all.collect { case QueryDef(name, _, _, _, Check.Oracle(sql)) => name -> sql }.toMap
}
