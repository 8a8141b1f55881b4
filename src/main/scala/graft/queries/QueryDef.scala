package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{PipelineContext, Runner, Stage}
import graft.extract.ParquetExtract
import graft.transform.SQLTransform

/** Scan layout of a query's extract stages.
  *
  * [[Layout.Adaptive]] is scale-adaptive scan parallelism (guide §2.5 "input
  * skew: one huge unsplittable file", §6 input-split sizing). Parquet cannot
  * split below row-group granularity, and the bench tables arrive as ONE file
  * with ONE row group — so every scan-stage computation (regex chains,
  * window-hash shingling, aggregation buffers) runs in a single task no
  * matter how many cores the session has. When the file layout cannot
  * reach the session's parallelism (file-size/maxPartitionBytes split
  * bound below defaultParallelism), the extract repartitions to the
  * session's core count; when the layout already parallelizes (any real
  * multi-file / multi-row-group table — always at production scale),
  * this is None and NO exchange is added. Derived from input layout +
  * session parallelism, never a constant.
  *
  * Round-robin repartition is deterministic under retries (Spark sorts
  * before round-robin repartition, SPARK-23207) and Catalyst pushes
  * filters/pruning through Repartition, so scan pushdown is unchanged
  * (PlanSpec's q209 triple-pushdown pin holds).
  *
  * OPT-IN per query, because a layout change is only safe when the query's
  * declared output provably cannot move with it. The audit that admits a
  * query:
  *  1. its final ORDER BY keys are UNIQUE per output row (doc_id /
  *     vec_id / sent_id are unique in the corpus tables at every SF —
  *     verified), so row order is total and layout-free. The synthetic
  *     lineitem has DUPLICATE (l_orderkey, l_linenumber) pairs, so
  *     row-level lineitem queries (e.g. q110) are tie-order-sensitive
  *     and stay opted out — as does every SQL-text query wholesale;
  *  2. no partition-layout-dependent values: KMeans (Spark ML k-means||
  *     init samples per partition — q156/q62/q147/q148/q155/q158/q193/
  *     q205/q210 stay fixed-layout), percentile_approx (q64),
  *     Misra–Gries (q157), materialization-scoped synthetic ids (q46);
  *  3. float aggregation only where the argmax/rank margins are
  *     documented macroscopic (the NB-predict contract — already
  *     exercised today by bench-vs-verify partition-count differences).
  */
sealed trait Layout
object Layout {
  /** Scan splits as the files lay them out. */
  case object Fixed extends Layout
  /** Repartitioned to the session's cores when the files cannot reach them. */
  case object Adaptive extends Layout
}

/** What a query runs once its tables are registered as views. */
sealed trait Run
object Run {
  /** Spark SQL over the views, run as the pipeline's last SQLTransform. */
  final case class Sql(text: String) extends Run
  /** DataFrame code over the views; the last argument is the sf dir. */
  final case class Body(f: (SparkSession, PipelineContext, String) => DataFrame) extends Run
}

/** How a query's result is checked: against DuckDB running `sql` over the
  * same tables, or by the query's own `ok` column (every row must be true).
  */
sealed trait Check
object Check {
  final case class Oracle(sql: String) extends Check
  case object SelfChecked extends Check
}

/** Everything known about one bench query. */
final case class QueryDef(name: String, tables: Seq[String], layout: Layout, run: Run,
    check: Check) {
  /** The query's result over the tables of `sfDir`. */
  def apply(spark: SparkSession, sfDir: String): DataFrame = QueryDef.execute(this, spark, sfDir)
}

object QueryDef {

  /** A query over `tables` read with [[Layout.Fixed]]. */
  def fixed(name: String, tables: String*): Decl = Decl(name, tables, Layout.Fixed)

  /** A query over `tables` read with [[Layout.Adaptive]]. */
  def adaptive(name: String, tables: String*): Decl = Decl(name, tables, Layout.Adaptive)

  final case class Decl(name: String, tables: Seq[String], layout: Layout) {
    /** Spark SQL that DuckDB runs unchanged as the oracle. */
    def sharedSql(text: String): QueryDef = sql(text).oracle(text)
    def sql(text: String): Unchecked = Unchecked(this, Run.Sql(text))
    def apply(f: (SparkSession, PipelineContext, String) => DataFrame): Unchecked =
      Unchecked(this, Run.Body(f))
  }

  /** A declared query without its check; naming the check makes the [[QueryDef]]. */
  final case class Unchecked(decl: Decl, run: Run) {
    def oracle(sql: String): QueryDef = checked(Check.Oracle(sql))
    def selfChecked: QueryDef = checked(Check.SelfChecked)
    private def checked(c: Check): QueryDef =
      QueryDef(decl.name, decl.tables, decl.layout, run, c)
  }

  /** Registers `q.tables` of `sfDir` as temp views through ParquetExtract
    * stages in `q.layout`, then runs `q.run` over them.
    */
  private def execute(q: QueryDef, spark: SparkSession, sfDir: String): DataFrame = {
    configureReads(spark)
    val ctx = new PipelineContext(spark)
    val views = extractStages(spark, sfDir, q.tables, q.layout)
    q.run match {
      case Run.Sql(text) => Runner.run(views :+ SQLTransform("q", text, "result"), ctx).get
      case Run.Body(f) =>
        Runner.run(views, ctx)
        f(spark, ctx, sfDir)
    }
  }

  /** Session read settings for oracle parity:
    *  - no TimestampNTZ inference (plain TimestampType + UTC session ⇒ same
    *    instants as DuckDB);
    *  - `events.ts` has been generated both as nanosecond int64 (which
    *    Spark's parquet reader rejects unless read as long) and as a native
    *    µs timestamp — read the footer schema and adapt below (DuckDB
    *    truncates ns→µs the same way).
    */
  private def configureReads(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** The [[Layout.Adaptive]] partition count of `table`, or None where the
    * files already reach the session's parallelism. */
  private def scanPartitions(spark: SparkSession, dir: String, table: String): Option[Int] = {
    val cores = spark.sparkContext.defaultParallelism
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val bytes = fs.getContentSummary(p).getLength
    val split = spark.sessionState.conf.filesMaxPartitionBytes
    val splits = math.max(1L, (bytes + split - 1) / split)
    if (splits < cores) Some(cores) else None
  }

  private def extractStages(spark: SparkSession, dir: String, tables: Seq[String],
      layout: Layout): Seq[Stage] = {
    def par(table: String): Option[Int] =
      if (layout == Layout.Adaptive) scanPartitions(spark, dir, table) else None
    tables.flatMap {
      case "events" =>
        // Schema probe: ts arrives as LongType when the file stores an
        // unannotated int64 (legacy ns generator + nanosAsLong), or as a
        // real timestamp when the file stores µs. Normalize to
        // TimestampType either way so every downstream query sees one
        // schema. LongType alone can't name the unit — a generator writing
        // raw micros (or seconds) would be silently shifted 1000× by a ns
        // DIV — so the unit is inferred from value magnitude with a
        // one-row read (epoch values: ns ~1.7e18, µs ~1.7e15, ms ~1.7e12,
        // s ~1.7e9); the footer-only fast path still covers today's native
        // µs files with zero data reads.
        val raw = spark.read.parquet(s"$dir/events.parquet")
        val tsExpr = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            // max over a 10k-row sample of POSITIVE values: zero/sentinel
            // timestamps are excluded up front, so a table whose first
            // rows are all placeholders can't reclassify the unit (ns data
            // read as seconds would shift every downstream events query)
            val mag = raw.select(abs(col("ts")).as("a")).filter("a IS NOT NULL AND a > 0")
              .limit(10000).agg(max("a")).collect().headOption
              .filterNot(_.isNullAt(0)).map(_.getLong(0).toDouble)
              .getOrElse(2e18) // empty table: any unit works; keep ns
            // ns→µs with integer DIV (a double division would lose
            // precision on 1.7e18-scale nanos)
            if (mag > 3e16) "TIMESTAMP_MICROS(ts DIV 1000)"
            else if (mag > 3e13) "TIMESTAMP_MICROS(ts)"
            else if (mag > 3e10) "TIMESTAMP_MILLIS(ts)"
            else "CAST(ts AS TIMESTAMP)"
          case _ => "ts"
        }
        Seq(
          ParquetExtract("extract_events_raw", s"$dir/events.parquet", "events_raw",
            numPartitions = par("events")),
          SQLTransform(
            "events_ns_to_ts",
            s"""SELECT event_id, $tsExpr AS ts, user_id,
                      event_type, value, props
               FROM events_raw""",
            "events"
          )
        )
      case t => Seq(ParquetExtract(s"extract_$t", s"$dir/$t.parquet", t,
        numPartitions = par(t)))
    }
  }
}
