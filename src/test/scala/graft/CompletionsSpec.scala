package graft

import org.apache.spark.sql.types._
import graft.repl.Completions

class CompletionsSpec extends SparkSpec {

  test("flattenSchema produces dotted paths and escapes odd names") {
    val schema = StructType(Seq(
      StructField("plain", LongType),
      StructField("nested", StructType(Seq(
        StructField("inner", StringType),
        StructField("weird name", IntegerType)
      )))
    ))
    assert(Completions.flattenSchema(schema) ==
      Seq("plain", "nested.inner", "nested.`weird name`"))
  }

  test("table completions include a SELECT with all columns") {
    spark.read.parquet(s"${sf()}/region.parquet").createOrReplaceTempView("comp_region")
    val comps = Completions.complete(spark, "comp_reg")
    assert(comps.nonEmpty)
    val snippet = comps.head.snippet
    assert(snippet.contains("r_regionkey") && snippet.contains("FROM comp_region"))
  }

  test("table completions take names and columns from the catalog, filtered by prefix") {
    spark.sql("SELECT 1 AS id, named_struct('a', 2, 'b c', 'x') AS s")
      .createOrReplaceTempView("comp_nested")
    spark.range(3).createOrReplaceTempView("comp_other")
    val comps = Completions.complete(spark, "comp_n")
    assert(comps.map(_.label) == Seq("comp_nested"))
    val cols = Completions.flattenSchema(spark.table("comp_nested").schema)
    assert(cols == Seq("id", "s.a", "s.`b c`"))
    assert(comps.head.snippet == s"SELECT\n  ${cols.mkString(",\n  ")}\nFROM comp_nested")
    assert(Completions.complete(spark, "%sq").forall(_.label.startsWith("%sq")))
    val all = Completions.complete(spark, "").map(_.label)
    assert(all.contains("comp_nested") && all.contains("comp_other") && all.contains("%sql"))
  }

  test("static completions cover every dispatchable magic") {
    val labels = Completions.static.map(_.label).toSet
    for (m <- Seq("%sql", "%sqlvalidate", "%metadata", "%schema", "%list", "%env",
                  "%conf", "%summary", "%arc", "%metadatafilter", "%metadatavalidate",
                  "%log", "%configexecute"))
      assert(labels.contains(m), s"missing completion for $m")
  }

  test("interpreter magics added for metadatafilter/metadatavalidate/configexecute work") {
    val interp = new graft.repl.Interpreter(spark)
    interp.execute(s"%sql outputView=mf_src\nSELECT * FROM parquet.`${sf()}/customer.parquet`")
    val r = interp.execute("%metadatafilter inputView=mf_src outputView=mf_out\nSELECT name FROM ${inputView} WHERE name != 'c_name'")
    assert(r.success, r.text)
    assert(!spark.table("mf_out").columns.contains("c_name"))
    val v = interp.execute("%metadatavalidate inputView=mf_src\nSELECT COUNT(*) = 5 AS valid, 'cols' AS message FROM ${inputView}")
    assert(v.success, v.text)
    val c = interp.execute("%configexecute\nSELECT TO_JSON(NAMED_STRUCT('mode', 'fast'))")
    assert(c.success && c.text.contains("mode=fast"))
  }
}
