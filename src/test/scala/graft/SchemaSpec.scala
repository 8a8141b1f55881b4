package graft

import org.apache.spark.sql.types._
import graft.schema.{FieldSpec, MetadataSchema}

class SchemaSpec extends SparkSpec {

  test("metadata-schema JSON parses into FieldSpecs") {
    val json =
      """[
        {"name": "id", "type": "long", "nullable": false, "metadata": {"pk": "true"}},
        {"name": "amount", "type": "decimal", "precision": 10, "scale": 2},
        {"name": "when", "type": "timestamp", "formatters": ["yyyy-MM-dd HH:mm:ss"], "timezoneId": "UTC"},
        {"name": "flag", "type": "boolean", "trueValues": ["Y"], "falseValues": ["N"]}
      ]"""
    val specs = MetadataSchema.fromJson(json)
    assert(specs.map(_.name) == Seq("id", "amount", "when", "flag"))
    assert(!specs.head.nullable && specs.head.metadata("pk") == "true")
    assert(specs(1).sparkType == DecimalType(10, 2))
    assert(specs(2).formatters == Seq("yyyy-MM-dd HH:mm:ss"))
    assert(specs(3).trueValues == Seq("Y"))
  }

  test("StructType -> metadata JSON -> StructType field round-trip") {
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType,
        metadata = new MetadataBuilder().putString("description", "a note").build())
    ))
    val json = MetadataSchema.toJson(schema)
    val specs = MetadataSchema.fromJson(json)
    assert(specs.map(_.name) == Seq("a", "b"))
    assert(specs.head.`type` == "long" && !specs.head.nullable)
    assert(specs(1).metadata("description") == "a note")
  }

  test("metadataDataFrame exposes name/nullable/type/metadata") {
    val df = spark.read.parquet(s"${sf()}/nation.parquet")
    val meta = MetadataSchema.metadataDataFrame(spark, df)
    assert(meta.columns.toSeq == Seq("name", "nullable", "type", "metadata"))
    val names = meta.select("name").collect().map(_.getString(0)).toSeq
    assert(names == df.schema.fieldNames.toSeq)
  }

  test("metadataDataFrame keeps its column types and field metadata") {
    val tagged = new MetadataBuilder().putString("pii", "true").build()
    val df = spark.sql("SELECT 1 AS a").select(org.apache.spark.sql.functions.col("a").as("a", tagged))
    val meta = MetadataSchema.metadataDataFrame(spark, df)
    assert(meta.schema == StructType(Seq(
      StructField("name", StringType),
      StructField("nullable", BooleanType, nullable = false),
      StructField("type", StringType),
      StructField("metadata", MapType(StringType, StringType)))))
    val r = meta.collect().toSeq
    assert(r.size == 1)
    assert(r.head.getString(0) == "a" && !r.head.getBoolean(1) && r.head.getString(2) == "int")
    assert(r.head.getMap[String, String](3) == Map("pii" -> "true"))
  }

  test("MetadataTransform attaches metadata visible to MetadataFilterTransform") {
    val ctx = new graft.core.PipelineContext(spark)
    graft.core.Runner.run(
      Seq(
        graft.extract.ParquetExtract("e", s"${sf()}/customer.parquet", "cust_m"),
        graft.transform.MetadataTransform(
          "m", "cust_m", "cust_tagged",
          Map("c_acctbal" -> Map("pii" -> "false"), "c_name" -> Map("pii" -> "true"))
        ),
        graft.transform.MetadataFilterTransform(
          "f", "cust_tagged", "cust_safe",
          "SELECT name FROM ${inputView} WHERE metadata['pii'] IS NULL OR metadata['pii'] = 'false'"
        )
      ),
      ctx
    )
    val cols = spark.table("cust_safe").columns.toSet
    assert(!cols.contains("c_name"))
    assert(cols.contains("c_acctbal"))
  }
}
