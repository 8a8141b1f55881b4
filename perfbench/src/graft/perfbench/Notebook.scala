package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.core.{PipelineConfig, PipelineContext}
import graft.repl.{Completions, Interpreter}

/** One analyst running a seeded script of cells through
  * `Interpreter.execute` over the sf0.1 TPC-H tables. Per block of 20
  * cells: 12 `%sql` cells, each of the 6 templates twice (filters, joins,
  * aggregates with small results; one publishes an `outputView` that
  * another reads), 3 `%arc` cells (`SQLTransform` twice, `SQLTransform` +
  * `TypingTransform` once), one `%schema`, `%printschema` and `%metadata`
  * cell, and 2 `Completions.complete` calls. Only parameters and order are
  * seeded, so every block, whatever the seed, has the same composition.
  */
final class Notebook(seed: Long) extends Workload {
  import Notebook._

  private var spark: SparkSession = _
  private var interp: Interpreter = _
  private var dir: String = _
  /** (sql body, numRows, rendered text) of every timed `%sql` cell. */
  private val sqlCells = ArrayBuffer[(String, Int, String)]()
  private val arcBodies = scala.collection.mutable.LinkedHashSet[String]()

  override def pipelineContext: Option[PipelineContext] = Some(interp.ctx)

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    Gen.tpch(spark, seed, dir)
    interp = new Interpreter(spark)
    val load = interp.execute("%arc\n" + loadConfig(dir))
    if (!load.success) throw new IllegalStateException(s"first cell refused: ${load.text}")
  }

  /** The cells that create the views other cells read, then one block. */
  def warmup(): Unit = {
    val warm = Seq(sqlOp(0, 0), arcOp(0, 0)) ++ block(-1)
    warm.foreach { op =>
      if (!op.run()) throw new IllegalStateException(s"warmup cell failed: ${op.describe}")
    }
    sqlCells.clear()
  }

  private def cell(kind: String, text: String)(ok: graft.repl.CellResult => Boolean): Op =
    Op(kind, text, () => ok(interp.execute(text)))

  private def sqlOp(template: Int, param: Int): Op = {
    val (args, numRows, body) = templates(template)(param)
    val text = s"%sql $args\n$body"
    cell("sql", text) { r =>
      if (r.success) sqlCells += ((body, numRows, r.text))
      r.success
    }
  }

  private def arcOp(template: Int, param: Int): Op = {
    val body = arcTemplates(template)(param)
    arcBodies += body
    cell("arc", "%arc\n" + body)(_.success)
  }

  private def metaOp(text: String): Op = cell("meta", text)(_.success)

  private def completeOp(prefix: String): Op =
    Op("complete", s"complete '$prefix'", () => Completions.complete(spark, prefix).nonEmpty)

  def block(i: Int): Seq[Op] = {
    val r = new Random(seed * 1000003L + i)
    val ops = templates.indices.flatMap(t => Seq.fill(2)(sqlOp(t, r.nextInt(Params)))) ++
      Seq(0, 1, 0).map(t => arcOp(t, r.nextInt(Params))) ++
      metaCells.map(m => metaOp(s"$m ${m.targets(r.nextInt(m.targets.size))}")) ++
      Seq.fill(2)(completeOp(prefixes(r.nextInt(prefixes.size))))
    r.shuffle(ops)
  }

  /** Every `%sql` cell shows the rows the same SQL gives when run directly on
    * the session, compared as strings parsed back out of the rendered table.
    * The templates return only integers and short strings, whose display
    * form is their plain string form. */
  def check(): (Int, Seq[String]) = {
    val expected = sqlCells.map(c => (c._1, c._2)).distinct.map { case (body, n) =>
      (body, n) -> spark.sql(body).take(n).map(_.toSeq.map(v => if (v == null) "null" else v.toString)).toSeq
    }.toMap
    val failures = sqlCells.flatMap { case (body, n, text) =>
      val shown = parseRendered(text)
      if (shown == expected((body, n))) None
      else Some(s"%sql cell rows differ from direct SQL: ${body.take(80)}")
    }
    (sqlCells.size, failures.toSeq)
  }

  /** Drop the first shown row of the first `%sql` cell. */
  def injectFault(): Unit =
    if (sqlCells.nonEmpty) {
      val (b, n, t) = sqlCells(0)
      val lines = t.split("\n")
      sqlCells(0) = (b, n, (lines.take(3) ++ lines.drop(4)).mkString("\n"))
    }

  def inputDigest(): String =
    Gen.TpchTables.map(t => Gen.digest(spark.read.parquet(s"$dir/$t.parquet"))).mkString(",")

  override def layerExtras(): Map[String, Double] = {
    val ms = arcBodies.toIndexedSeq.flatMap { b =>
      (0 until 5).map { _ =>
        val s = System.nanoTime(); PipelineConfig.parse(b); (System.nanoTime() - s) / 1e6
      }
    }
    Map("core.parse_ms" -> Stats.median(ms))
  }
}

object Notebook {

  /** Values each template parameter takes; small, so the direct-SQL check
    * after the timed window runs few distinct queries. */
  val Params = 4

  def loadConfig(dir: String): String =
    Gen.TpchTables.map { t =>
      s"""{"type": "ParquetExtract", "name": "load_$t", "inputURI": "$dir/$t.parquet", "outputView": "$t"}"""
    }.mkString("{\"stages\": [", ",\n", "]}")

  private val days = Seq(0, 30, 60, 90)
  private val custs = Seq(17, 4242, 9001, 12345)
  private val nations = Seq(3, 7, 12, 21)

  /** (cell arguments, numRows shown, SQL) for parameter index 0 until Params. */
  val templates: IndexedSeq[Int => (String, Int, String)] = IndexedSeq(
    // the publisher comes first so the warmup creates its view before readers
    _ => ("outputView=urgent_orders numRows=5", 5,
      "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "AND o_orderstatus = 'F' ORDER BY o_orderkey"),
    p => ("", 20,
      "SELECT l_returnflag, l_linestatus, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty " +
        s"FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' - INTERVAL ${days(p)} DAYS " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    p => ("", 20,
      "SELECT n_name, count(*) AS customers FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE c_mktsegment = '${Gen.Segments(p)}' GROUP BY n_name ORDER BY customers DESC, n_name LIMIT 10"),
    p => ("", 20,
      "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders " +
        s"WHERE o_custkey = ${custs(p)} ORDER BY o_orderkey"),
    p => ("", 20,
      "SELECT r_name, count(*) AS orders FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        s"WHERE o_orderpriority = '${Gen.Priorities(p)}' GROUP BY r_name ORDER BY r_name"),
    p => ("", 20,
      "SELECT c_mktsegment, count(*) AS n FROM urgent_orders JOIN customer ON o_custkey = c_custkey " +
        s"WHERE c_nationkey = ${nations(p)} GROUP BY c_mktsegment ORDER BY c_mktsegment"))

  val arcTemplates: IndexedSeq[Int => String] = IndexedSeq(
    p => s"""{"stages": [{"type": "SQLTransform", "name": "part_types",
      |  "sql": "SELECT p_type, count(*) AS parts FROM part WHERE p_size > ${p * 10} GROUP BY p_type ORDER BY p_type",
      |  "outputView": "part_types"}]}""".stripMargin,
    p => s"""{"stages": [
      |  {"type": "SQLTransform", "name": "cust_raw",
      |   "sql": "SELECT CAST(c_custkey AS STRING) AS id, CAST(c_acctbal AS STRING) AS bal, c_mktsegment AS seg FROM customer WHERE c_nationkey = ${nations(p)}",
      |   "outputView": "cust_raw"},
      |  {"type": "TypingTransform", "name": "cust_typed", "inputView": "cust_raw", "outputView": "cust_typed",
      |   "schema": [{"name": "id", "type": "integer"}, {"name": "bal", "type": "double"},
      |              {"name": "seg", "type": "string"}]}]}""".stripMargin)

  final case class Meta(magic: String, targets: IndexedSeq[String]) {
    override def toString: String = magic
  }

  /** One cell of each metadata magic per block, on a seeded view. */
  val metaCells: IndexedSeq[Meta] = IndexedSeq(
    Meta("%schema", IndexedSeq("lineitem", "urgent_orders", "part")),
    Meta("%printschema", IndexedSeq("orders", "customer", "part_types")),
    Meta("%metadata", IndexedSeq("customer", "supplier", "nation")))

  val prefixes: IndexedSeq[String] = IndexedSeq("", "l", "or", "%s", "cu")

  /** Rows of a `Render.renderText` table: separator, header, separator,
    * rows, separator. */
  def parseRendered(text: String): Seq[Seq[String]] =
    text.split("\n").toSeq.drop(3).dropRight(1).map { l =>
      l.stripPrefix("| ").stripSuffix(" |").split(" \\| ", -1).map(_.trim).toSeq
    }
}
