package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import graft.render.Render
import graft.repl.{CellResult, Interpreter, ProgressListener}

object InterpreterSpec {

  /** Rows of a `Render.text` table: separator, header, separator, rows,
    * separator. */
  def textRows(text: String): Seq[Seq[String]] =
    text.split("\n").toSeq.drop(3).dropRight(1).map { l =>
      l.stripPrefix("| ").stripSuffix(" |").split(" \\| ", -1).map(_.trim).toSeq
    }

  /** Rows of a `Render.html` table body. */
  def htmlRows(html: String): Seq[Seq[String]] =
    "<tr>(.*?)</tr>".r.findAllMatchIn(html.substring(html.indexOf("<tbody>"))).map { m =>
      "<td>(.*?)</td>".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }.toSeq
}

class InterpreterSpec extends SparkSpec {
  import InterpreterSpec._

  private lazy val interp = {
    val i = new Interpreter(spark)
    i.execute(s"%sql outputView=nation_repl\nSELECT * FROM parquet.`${sf()}/nation.parquet`")
    i
  }

  test("plain SQL cell dispatches like %sql and registers outputView") {
    val r = interp.execute("SELECT 1 AS one")
    assert(r.success && r.df.isDefined)
    assert(r.text.contains("one"))
  }

  test("%sql with args renders and registers the view") {
    val r = interp.execute("%sql outputView=n2 numRows=5\nSELECT n_name FROM nation_repl ORDER BY n_name")
    assert(r.success)
    assert(spark.table("n2").columns.toSeq == Seq("n_name"))
    // numRows=5 caps displayed rows (header + separators + 5 data rows)
    assert(r.text.linesIterator.count(_.startsWith("| ")) == 6)
  }

  test("%schema / %printschema / %metadata / %printmetadata") {
    assert(interp.execute("%schema nation_repl").text.contains("\"name\""))
    assert(interp.execute("%printschema nation_repl").text.contains("n_name"))
    val m = interp.execute("%metadata nation_repl")
    assert(m.success && m.df.get.columns.contains("type"))
    assert(interp.execute("%printmetadata nation_repl").text.contains("\"type\""))
  }

  test("%env + ${param} substitution in SQL") {
    interp.execute("%env minkey=20")
    val r = interp.execute("%sql outputView=envq\nSELECT n_name FROM nation_repl WHERE n_nationkey >= ${minkey} ORDER BY n_name")
    assert(r.success)
    assert(spark.table("envq").count() == 5)
  }

  test("%secret masks values in echo") {
    val r = interp.execute("%secret apikey=hunter2")
    assert(r.success && !r.text.contains("hunter2"))
  }

  test("inline secret cell is rejected") {
    val r = interp.execute("""{"accessKey": "AKIA99"} SELECT 1""")
    assert(!r.success)
  }

  test("%sqlvalidate passes and fails correctly") {
    assert(interp.execute("%sqlvalidate\nSELECT true AS valid, 'ok' AS message").success)
    assert(!interp.execute("%sqlvalidate\nSELECT false AS valid, 'bad' AS message").success)
  }

  test("%list returns file rows") {
    val r = interp.execute(s"%list ${sf()}")
    assert(r.success)
    assert(r.df.get.columns.toSeq == Seq("path", "name", "modificationTime", "size", "bytes"))
    assert(r.df.get.count() >= 10)
  }

  test("%conf flips display settings, %summary computes stats, %version/%help respond") {
    assert(interp.execute("%conf numRows=7 truncate=20").text.contains("numRows=7"))
    val s = interp.execute("%summary nation_repl")
    assert(s.success && s.df.get.columns.contains("distinct"))
    assert(interp.execute("%version").text.contains("Spark"))
    assert(interp.execute("%help").text.contains("%sql"))
  }

  test("cell execution records task progress") {
    interp.execute("%sql outputView=prog\nSELECT COUNT(*) AS n FROM nation_repl")
    val p = interp.lastProgress
    assert(p.total > 0 && p.done == p.total, p.toString)
    assert(p.bar().contains("#"))
  }

  /** Spark jobs started while `f` runs, counted once the listener bus has
    * delivered every event. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    assert(GraftListenerBus.drain(sc, 10000))
    sc.addSparkListener(l)
    try {
      f
      assert(GraftListenerBus.drain(sc, 10000))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("a displayed %sql cell executes its query once for both views") {
    val sql = "SELECT n_regionkey, count(*) AS n FROM nation_repl " +
      "GROUP BY n_regionkey ORDER BY n_regionkey"
    val direct = jobsDuring(Render.formatted(spark.sql(sql)).take(20))
    var r: CellResult = null
    val cell = jobsDuring { r = interp.execute(s"%sql numRows=20\n$sql") }
    assert(r.success, r.text)
    assert(direct > 0 && cell == direct, s"cell ran $cell jobs, one take runs $direct")
    val rows = textRows(r.text)
    assert(rows.size == 5, r.text)
    assert(htmlRows(r.html) == rows, r.html)
  }

  test("progress barrier: every multi-stage cell ends with all its tasks counted") {
    val sql = "SELECT a.n_regionkey, count(*) AS n FROM nation_repl a " +
      "JOIN nation_repl b ON a.n_regionkey = b.n_regionkey GROUP BY a.n_regionkey"
    // A slow listener ahead of the cell's own on the shared queue delays
    // every task-end delivery, as a busy bus does: without the end-of-cell
    // barrier the snapshot would miss the last tasks.
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    try (1 to 20).foreach { i =>
      val r = interp.execute(s"%sql numRows=5\n$sql")
      assert(r.success, r.text)
      val p = interp.lastProgress
      assert(p.total > 0 && p.done == p.total, s"run $i: $p")
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a cell that runs no job leaves empty progress") {
    assert(interp.execute("%schema nation_repl").success)
    assert(interp.lastProgress == ProgressListener.Snapshot(0, 0))
  }

  test("unknown magic fails gracefully") {
    assert(!interp.execute("%nope").success)
  }

  test("error unwrapping returns messages not stack traces") {
    val r = interp.execute("SELECT * FROM no_such_table_xyz")
    assert(!r.success && r.text.nonEmpty)
  }

  test("%log output is captured in the cell result (showLog)") {
    val r = interp.execute("%log\nSELECT 'pipeline reached checkpoint 7' AS message")
    assert(r.success)
    assert(r.log.exists(_.contains("pipeline reached checkpoint 7")), r.log.mkString("|"))
    // showLog=true folds the log into the rendered text
    val r2 = interp.execute("%sql showLog=true outputView=lg\nSELECT 1 AS x")
    assert(r2.success && r2.text.contains("SQLTransform"))
  }

  test("secrets never echo through error text") {
    interp.execute("%secret dbpass=s3cr3tv4l")
    val r = interp.execute("SELECT * FROM t_${dbpass}_x")
    assert(!r.success)
    assert(!r.text.contains("s3cr3tv4l"), r.text)
  }

  test("%explain shows the physical plan of a view") {
    interp.execute("%sql outputView=expl_v\nSELECT n_name FROM nation_repl WHERE n_nationkey > 3")
    val r = interp.execute("%explain expl_v")
    assert(r.success)
    assert(r.text.contains("Physical Plan"), r.text.take(200))
    assert(r.text.contains("Filter") || r.text.contains("PushedFilters"), r.text.take(500))
  }

  test("%conf environment= switches the %arc stage filter") {
    interp.execute("%conf environment=test")
    val r = interp.execute(
      """{stages: [
        {type = "SQLTransform", name = "t", sql = "SELECT 42 AS v",
         outputView = "env_only_test", environments = [test]}
      ]}""")
    assert(r.success, r.text)
    assert(spark.table("env_only_test").count() == 1)
    interp.execute("%conf environment=production")
  }
}

/** `%conf master=` restart — isolated suite: it stops the shared session
  * (reference ArcInterpreter.scala:520-525), and TestSpark builds a fresh one
  * for whoever asks next.
  */
class SessionRestartSpec extends SparkSpec {
  test("%conf master= stops the session and the next cell rebuilds it") {
    val interp = new Interpreter(spark)
    assert(interp.execute("%sql\nSELECT 1 AS x").success)
    interp.execute("%env keepme=yes")
    val c = interp.execute("%conf master=local[2]")
    assert(c.success)
    assert(interp.spark.sparkContext.isStopped)
    val r = interp.execute("%sql\nSELECT 2 AS y")
    assert(r.success, r.text)
    assert(interp.spark.sparkContext.master == "local[2]")
    // params survive the restart, like the reference
    assert(interp.ctx.params.contains("keepme"))
    interp.spark.stop() // leave a clean slate; TestSpark rebuilds on demand
  }

  test("memory guard text names both sizes") {
    val err = graft.repl.Boot.memoryGuard(runtime = 2L << 40, physical = 1L << 30)
    assert(err.isDefined && err.get.contains("exceeds"))
    assert(graft.repl.Boot.memoryGuard(runtime = 1L << 28, physical = 1L << 30).isEmpty)
  }
}

/** The streaming branch of the display: the memory-sink table is shown
  * through the same one-take path as a batch result. Isolated suite: it
  * switches the session to streaming schema inference.
  */
class StreamingDisplaySpec extends SparkSpec {
  import InterpreterSpec._
  import spark.implicits._

  test("a streaming %arc cell shows the same rows as text and HTML") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_display").toString
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name").write.mode("overwrite").parquet(dir)
    val inference = "spark.sql.streaming.schemaInference"
    val before = spark.conf.getOption(inference)
    spark.conf.set(inference, "true")
    try {
      val interp = new Interpreter(spark)
      assert(interp.execute("%conf streaming=true streamingDuration=2 streamingFrequency=200").success)
      val r = interp.execute(
        s"""%arc
           |{"stages": [{"type": "ParquetExtract", "name": "s", "inputURI": "$dir",
           |  "outputView": "stream_display"}]}""".stripMargin)
      assert(r.success, r.text)
      val rows = textRows(r.text)
      assert(rows.nonEmpty, r.text)
      assert(rows.map(_.head).sorted == Seq("1", "2", "3"), r.text)
      assert(htmlRows(r.html) == rows, r.html)
    } finally before.fold(spark.conf.unset(inference))(spark.conf.set(inference, _))
  }
}
