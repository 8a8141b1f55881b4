package graft

import graft.core._
import graft.extract.ParquetExtract
import graft.transform.SQLTransform

class ParamsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("injectParameters substitutes keys and defaults") {
    assert(Params.injectParameters("SELECT ${a}", Map("a" -> "1")) == "SELECT 1")
    assert(Params.injectParameters("SELECT ${a=5}", Map.empty) == "SELECT 5")
    assert(Params.injectParameters("SELECT ${a=5}", Map("a" -> "7")) == "SELECT 7")
    assert(Params.injectParameters("SELECT ${missing}", Map.empty) == "SELECT ${missing}")
    assert(
      Params.injectParameters("${x} + ${x}", Map("x" -> "y")) == "y + y"
    )
  }

  test("parseArgs splits k=v with quotes") {
    val args = Params.parseArgs("""name=test numRows=10 sql="SELECT 1 AS x" note='a b'""")
    assert(args == Map("name" -> "test", "numRows" -> "10", "sql" -> "SELECT 1 AS x", "note" -> "a b"))
  }

  test("secret guard catches inline secrets") {
    assert(Params.containsInlineSecret("""{"accessKey": "AKIA123"}"""))
    assert(!Params.containsInlineSecret("SELECT 1"))
  }

  test("maskSecrets hides secret values") {
    val p = Map("k" -> ConfigValue("supersecret", secret = true))
    assert(!Params.maskSecrets("x supersecret y", p).contains("supersecret"))
  }
}

class JsonSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("Json.quote escapes with Verify's table and decodes back to the input") {
    val raw = "a\"b\\c\nd\re\tf\u0001g\u001fh é"
    assert(Json.quote(raw) == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh é\"")
    val rec = Json.obj(Seq("s" -> raw, "n" -> 3L, "i" -> 2, "d" -> 0.95,
      "b" -> true, "nan" -> Double.NaN))
    assert(!rec.contains("\n"), rec)
    import org.json4s._
    val JObject(kvs) = org.json4s.jackson.JsonMethods.parse(rec): @unchecked
    assert(kvs.toMap == Map("s" -> JString(raw), "n" -> JInt(3), "i" -> JInt(2),
      "d" -> JDouble(0.95), "b" -> JBool(true), "nan" -> JString("NaN")))
  }
}

class RunnerSpec extends SparkSpec {
  test("pipeline: extract -> sql -> view registry") {
    val ctx = new PipelineContext(spark)
    val out = Runner.run(
      Seq(
        ParquetExtract("e", s"${sf()}/nation.parquet", "nation_t"),
        SQLTransform("q", "SELECT n_name FROM nation_t WHERE n_regionkey = 0 ORDER BY n_name", "result_t")
      ),
      ctx
    )
    assert(out.isDefined)
    assert(out.get.columns.toSeq == Seq("n_name"))
    assert(spark.table("result_t").count() == out.get.count())
    assert(ctx.viewProvenance.contains("nation_t"))
  }

  test("lifecycle hooks fire per stage") {
    val ctx = new PipelineContext(spark)
    var seen = List.empty[String]
    ctx.hooks += new LifecycleHook {
      def after(stage: Stage, index: Int, total: Int, result: Option[org.apache.spark.sql.DataFrame]): Unit =
        seen ::= s"${stage.name}@$index/$total"
    }
    Runner.run(
      Seq(
        ParquetExtract("e1", s"${sf()}/region.parquet", "region_t"),
        SQLTransform("q1", "SELECT * FROM region_t", "r2")
      ),
      ctx
    )
    assert(seen.reverse == List("e1@0/2", "q1@1/2"))
  }

  test("SQLValidate aborts on false") {
    val ctx = new PipelineContext(spark)
    intercept[ValidationException] {
      graft.validate
        .SQLValidate("v", "SELECT false AS valid, 'boom' AS message")
        .execute(ctx)
    }
    // and passes on true
    graft.validate.SQLValidate("v2", "SELECT true AS valid, 'ok' AS message").execute(ctx)
  }

  test("EqualityValidate detects row differences") {
    val ctx = new PipelineContext(spark)
    Runner.run(Seq(ParquetExtract("e", s"${sf()}/region.parquet", "reg_a")), ctx)
    spark.table("reg_a").limit(3).createOrReplaceTempView("reg_b")
    intercept[ValidationException] {
      graft.validate.EqualityValidate("eq", "reg_a", "reg_b").execute(ctx)
    }
    graft.validate.EqualityValidate("eq2", "reg_a", "reg_a").execute(ctx)
  }

  test("ConfigExecute merges JSON into session params") {
    val ctx = new PipelineContext(spark)
    graft.execute
      .ConfigExecute("c", """SELECT TO_JSON(NAMED_STRUCT('env', 'prod', 'n', 3)) AS conf""")
      .execute(ctx)
    assert(ctx.params("env").value == "prod")
    assert(ctx.params("n").value == "3")
  }

  test("LogExecute writes to the cell log buffer") {
    val ctx = new PipelineContext(spark)
    LogBuffer.clear()
    graft.execute.LogExecute("l", "SELECT 'rows loaded: 42' AS message").execute(ctx)
    assert(LogBuffer.drain().exists(_.contains("rows loaded: 42")))
  }

  test("HTTPExecute validates status codes and logs the call") {
    val ctx = new PipelineContext(spark)
    ctx.params("env") = ConfigValue("prod")
    var posted: (String, String) = ("", "")
    LogBuffer.clear()
    graft.execute.HTTPExecute(
      "h", "http://example.invalid/hook", payload = """{"env": "${env}"}""",
      transport = (uri, _, body) => { posted = (uri, body); (200, "ok") }
    ).execute(ctx)
    assert(posted._1 == "http://example.invalid/hook")
    assert(posted._2 == """{"env": "prod"}""") // params injected into payload
    assert(LogBuffer.drain().exists(_.contains("-> 200")))
    intercept[ValidationException] {
      graft.execute.HTTPExecute("h2", "http://example.invalid/hook",
        transport = (_, _, _) => (500, "boom")).execute(ctx)
    }
  }

  test("TensorFlowServingTransform appends aligned predictions per batch") {
    val ctx = new PipelineContext(spark)
    import spark.implicits._
    Seq("a", "b", "c", "d", "e").toDF("value").createOrReplaceTempView("tfs_in")
    val out = graft.transform.TensorFlowServingTransform(
      "tfs", "http://example.invalid/v1/models/m:predict", "tfs_in", "tfs_out",
      batchSize = 2,
      transport = (_, body) => // echo: instance line count -> prediction 0.5 each
        body.linesIterator.map(_ => "0.5").mkString("{\"predictions\": [", ",", "]}")
    ).execute(ctx).get
    assert(out.columns.toSeq == Seq("value", "prediction"))
    assert(out.count() == 5)
    assert(out.select("prediction").as[Double].collect().forall(_ == 0.5))
    // default stub is deterministic: same input -> same prediction
    val d1 = graft.transform.TensorFlowServingTransform(
      "t1", "u", "tfs_in", "tfs_d1").execute(ctx).get.orderBy("value").collect()
    val d2 = graft.transform.TensorFlowServingTransform(
      "t2", "u", "tfs_in", "tfs_d2").execute(ctx).get.orderBy("value").collect()
    assert(d1.sameElements(d2))
  }

  test("get_uri and get_uri_array read local files") {
    graft.udf.Udfs.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("uris")
    java.nio.file.Files.write(dir.resolve("a.txt"), "alpha".getBytes)
    java.nio.file.Files.write(dir.resolve("b.txt"), "beta".getBytes)
    val r = spark.sql(
      s"SELECT get_uri('file://$dir/a.txt') AS one, get_uri_array('file://$dir/*.txt') AS many")
      .head()
    assert(new String(r.getAs[Array[Byte]]("one")) == "alpha")
    val many = r.getSeq[Array[Byte]](1).map(new String(_))
    assert(many == Seq("alpha", "beta")) // path-sorted
  }

  test("get_uri, get_uri_array and HTTPExtract read a file over the body limit as unreadable") {
    graft.udf.Udfs.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("uris")
    java.nio.file.Files.write(dir.resolve("a.bin"), "alpha".getBytes)
    // sparse: one byte over the limit without writing 256 MB
    val big = new java.io.RandomAccessFile(dir.resolve("b.bin").toFile, "rw")
    try big.setLength(graft.core.Http.MaxBodyBytes + 1L) finally big.close()
    intercept[java.io.IOException](graft.core.Http.readFile(dir.resolve("b.bin")))
    val r = spark.sql(s"SELECT get_uri('file://$dir/a.bin') AS small, " +
      s"get_uri('file://$dir/b.bin') AS big, get_uri_array('file://$dir/*.bin') AS many").head()
    assert(new String(r.getAs[Array[Byte]]("small")) == "alpha")
    assert(r.isNullAt(1) && r.isNullAt(2))
    val body = graft.extract.HTTPExtract("h", s"file://$dir/b.bin", "big_body")
      .execute(new PipelineContext(spark)).get.select("body").as[String](org.apache.spark.sql.Encoders.STRING).head()
    assert(body.isEmpty)
    // JSON nested past Jackson's depth limit parses as absent, not a stack overflow
    val deep = "[" * 100000 + "]" * 100000
    assert(spark.sql(s"SELECT get_json_double_array('$deep', '$$') AS a").head().isNullAt(0))
  }

  test("compile-only stages fail fast with a clear error when the dependency is absent") {
    val ctx = new PipelineContext(spark)
    // Each of these lacks its external dependency here (DB, fitted model);
    // the stage must surface the underlying error, not hang or no-op.
    intercept[Exception] {
      graft.execute.JDBCExecute("j", "jdbc:postgresql://127.0.0.1:1/none", "SELECT 1").execute(ctx)
    }
    intercept[Exception] {
      graft.extract.JDBCExtract("je", "jdbc:postgresql://127.0.0.1:1/none", "t", "jdbc_v").execute(ctx)
    }
    intercept[Exception] {
      graft.load.JDBCLoad("jl", "reg_a", "jdbc:postgresql://127.0.0.1:1/none", "t").execute(ctx)
    }
    intercept[Exception] {
      graft.transform.MLTransform("ml", "/nonexistent/model", "reg_a", "ml_v").execute(ctx)
    }
    intercept[Exception] {
      graft.extract.AvroExtract("av", "/nonexistent/file.avro", "avro_v").execute(ctx)
    }
    intercept[Exception] {
      graft.extract.ImageExtract("im", "/nonexistent/images", "img_v").execute(ctx)
    }
  }

  test("LogBuffer caps at 10k lines by dropping the oldest") {
    graft.core.LogBuffer.clear()
    (0 until 10500).foreach(i => graft.core.LogBuffer.append(s"line-$i"))
    val drained = graft.core.LogBuffer.drain()
    assert(drained.size == 10000 && drained.head == "line-500" &&
      drained.last == "line-10499", s"${drained.size} ${drained.headOption}")
    // drain reset the counter: the next append is retained normally
    graft.core.LogBuffer.append("fresh")
    assert(graft.core.LogBuffer.drain() == Seq("fresh"))
  }

  test("AuditLog round-trips records with quotes, backslashes and control chars") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("audit").toString + "/log"
    val nasty = "a\"b\\c\nd\te"
    graft.core.AuditLog.append(spark, dir,
      Seq("table" -> nasty, "rows" -> 7L))
    graft.core.AuditLog.append(spark, dir,
      Seq("table" -> "plain", "rows" -> 0L))
    val schema = StructType(Seq(
      StructField("table", StringType), StructField("rows", LongType),
      StructField("runId", StringType), StructField("completedAtMs", LongType)))
    val rows = graft.core.AuditLog.read(spark, dir, schema)
      .orderBy("completedAtMs")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSet == Set((nasty, 7L), ("plain", 0L)), rows.mkString(","))
    // a never-written log reads as an empty frame under the same schema
    assert(graft.core.AuditLog.read(spark, dir + "_none", schema).count() == 0)
  }

  test("AuditLog renders Double and Boolean fields as JSON values, not strings") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("audit").toString + "/log"
    graft.core.AuditLog.append(spark, dir,
      Seq("table" -> "t", "threshold" -> 0.95, "dryRun" -> true))
    val schema = StructType(Seq(
      StructField("table", StringType), StructField("threshold", DoubleType),
      StructField("dryRun", BooleanType), StructField("runId", StringType)))
    val r = graft.core.AuditLog.read(spark, dir, schema).head()
    // under a typed read schema a quoted "0.95" would read back NULL —
    // the silent-evidence-loss trap this rendering exists to close
    assert(!r.isNullAt(1) && r.getDouble(1) == 0.95, r.toString)
    assert(!r.isNullAt(2) && r.getBoolean(2), r.toString)
  }

  test("AuditLog.compact folds records into one file preserving every row") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("audit").toString + "/log"
    (0 until 7).foreach(i => graft.core.AuditLog.append(spark, dir,
      Seq("table" -> s"t$i", "rows" -> i.toLong), runId = s"run-$i"))
    val schema = StructType(Seq(
      StructField("table", StringType), StructField("rows", LongType),
      StructField("runId", StringType)))
    def readAll() = graft.core.AuditLog.read(spark, dir, schema)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val before = readAll()
    assert(before.size == 7)
    val (files, recs) = graft.core.AuditLog.compact(spark, dir)
    assert(files == 7 && recs == 7, s"$files/$recs")
    // one live file now; rows identical through the unchanged read path
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).filter(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    assert(live.length == 1, live.map(_.getPath.getName).mkString(","))
    assert(readAll() == before)
    // idempotent: a second compact is a no-op, appends after compaction
    // fold in on the next one
    assert(graft.core.AuditLog.compact(spark, dir)._2 == 0)
    graft.core.AuditLog.append(spark, dir, Seq("table" -> "t7", "rows" -> 7L),
      runId = "run-7")
    val (f2, r2) = graft.core.AuditLog.compact(spark, dir)
    assert(f2 == 2 && r2 == 8, s"$f2/$r2")
    assert(readAll() == before + (("t7", 7L, "run-7")))
  }

  test("AuditLog.compact recovers an interrupted run without losing or duplicating records") {
    import org.apache.spark.sql.types._
    val hconf = spark.sparkContext.hadoopConfiguration
    val schema = StructType(Seq(
      StructField("table", StringType), StructField("runId", StringType)))
    // CASE 1: crash after parking originals, BEFORE the combined file went
    // live — recovery must restore the parked records
    val d1 = java.nio.file.Files.createTempDirectory("audit").toString + "/log"
    (0 until 3).foreach(i => graft.core.AuditLog.append(spark, d1,
      Seq("table" -> s"a$i"), runId = s"r$i"))
    val p1 = new org.apache.hadoop.fs.Path(d1)
    val fs = p1.getFileSystem(hconf)
    val stage1 = new org.apache.hadoop.fs.Path(p1, "_compacting")
    fs.mkdirs(stage1)
    val m1 = fs.create(new org.apache.hadoop.fs.Path(stage1, "_target"), true)
    m1.write("compact-crashed.json".getBytes("UTF-8")); m1.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(p1, "r1.json"),
      new org.apache.hadoop.fs.Path(stage1, "r1.json")))
    // mid-run the parked record is invisible; compact's recovery restores
    // it and then compacts everything
    val (files1, recs1) = graft.core.AuditLog.compact(spark, d1)
    assert(files1 == 3 && recs1 == 3, s"$files1/$recs1")
    assert(graft.core.AuditLog.read(spark, d1, schema)
      .collect().map(_.getString(1)).toSet == Set("r0", "r1", "r2"))
    // CASE 2: crash AFTER the combined file went live — the parked
    // originals are duplicates; recovery must discard, not restore, them
    val d2 = java.nio.file.Files.createTempDirectory("audit").toString + "/log"
    (0 until 2).foreach(i => graft.core.AuditLog.append(spark, d2,
      Seq("table" -> s"b$i"), runId = s"s$i"))
    assert(graft.core.AuditLog.compact(spark, d2)._2 == 2)
    val p2 = new org.apache.hadoop.fs.Path(d2)
    val combined = fs.listStatus(p2).filter(s => s.isFile &&
      s.getPath.getName.startsWith("compact-")).head.getPath
    val stage2 = new org.apache.hadoop.fs.Path(p2, "_compacting")
    fs.mkdirs(stage2)
    val m2 = fs.create(new org.apache.hadoop.fs.Path(stage2, "_target"), true)
    m2.write(combined.getName.getBytes("UTF-8")); m2.close()
    // park a COPY of a record the combined file already holds (what a
    // crash between commit and staging-delete leaves behind)
    val cp = fs.create(new org.apache.hadoop.fs.Path(stage2, "s0.json"), true)
    cp.write("{\"table\":\"b0\",\"runId\":\"s0\"}".getBytes("UTF-8")); cp.close()
    graft.core.AuditLog.compact(spark, d2)
    val rows2 = graft.core.AuditLog.read(spark, d2, schema)
      .collect().map(_.getString(1)).toSeq
    assert(rows2.sorted == Seq("s0", "s1"), rows2.mkString(","))
  }
}
