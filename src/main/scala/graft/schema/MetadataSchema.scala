package graft.schema

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One field of a declared ("Arc metadata") schema: drives TypingTransform and
  * carries business metadata into `StructField.metadata`.
  * Shape follows the public Arc metadata-schema convention evidenced in the
  * reference (`%printmetadata` ArcInterpreter.scala:495-499, typing options
  * SURVEY.md §2.2 TypingTransform).
  */
final case class FieldSpec(
    name: String,
    `type`: String, // string|integer|long|double|decimal|boolean|date|timestamp|time
    nullable: Boolean = true,
    trim: Boolean = true,
    nullableValues: Seq[String] = Seq("", "null"),
    nullReplacementValue: Option[String] = None,
    formatters: Seq[String] = Nil, // date/timestamp patterns, tried in order
    timezoneId: String = "UTC",
    trueValues: Seq[String] = Seq("true"),
    falseValues: Seq[String] = Seq("false"),
    precision: Int = 38,
    scale: Int = 2,
    metadata: Map[String, String] = Map.empty
) {
  def sparkType: DataType = `type` match {
    case "string"    => StringType
    case "integer"   => IntegerType
    case "long"      => LongType
    case "double"    => DoubleType
    case "decimal"   => DecimalType(precision, scale)
    case "boolean"   => BooleanType
    case "date"      => DateType
    case "timestamp" => TimestampType
    case "binary"    => BinaryType
    case other       => throw new IllegalArgumentException(s"unknown field type: $other")
  }

  def structField: StructField = {
    val mb = new MetadataBuilder()
    metadata.foreach { case (k, v) => mb.putString(k, v) }
    StructField(name, sparkType, nullable, mb.build())
  }
}

/** Arc-style metadata-schema JSON ⇄ typed schema; plus the `%metadata`
  * schema-as-DataFrame trick (reference Common.scala:46-70).
  */
object MetadataSchema {

  /** Parse a JSON array of field documents into FieldSpecs. */
  def fromJson(json: String): Seq[FieldSpec] = {
    val ast = JsonMethods.parse(json)
    val JArray(fields) = ast: @unchecked
    fields.map(parseField)
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i)    => i.toString
    case JBool(b)   => b.toString
    case JDouble(d) => d.toString
    case other      => JsonMethods.compact(JsonMethods.render(other))
  }

  private def parseField(jv: JValue): FieldSpec = {
    val obj = jv.asInstanceOf[JObject].obj.toMap
    def s(k: String): Option[String] = obj.get(k).collect { case JString(v) => v }
    def b(k: String, d: Boolean): Boolean =
      obj.get(k).collect { case JBool(v) => v }.getOrElse(d)
    def i(k: String, d: Int): Int =
      obj.get(k).collect { case JInt(v) => v.toInt }.getOrElse(d)
    def arr(k: String): Option[Seq[String]] =
      obj.get(k).collect { case JArray(vs) => vs.map(str) }
    FieldSpec(
      name = s("name").getOrElse(throw new IllegalArgumentException("field missing name")),
      `type` = s("type").getOrElse("string"),
      nullable = b("nullable", d = true),
      trim = b("trim", d = true),
      nullableValues = arr("nullableValues").getOrElse(Seq("", "null")),
      nullReplacementValue = s("nullReplacementValue"),
      formatters = arr("formatters").getOrElse(Nil),
      timezoneId = s("timezoneId").getOrElse("UTC"),
      trueValues = arr("trueValues").getOrElse(Seq("true")),
      falseValues = arr("falseValues").getOrElse(Seq("false")),
      precision = i("precision", 38),
      scale = i("scale", 2),
      metadata = obj
        .get("metadata")
        .collect { case JObject(kvs) => kvs.map { case (k, v) => k -> str(v) }.toMap }
        .getOrElse(Map.empty)
    )
  }

  /** Serialize a view's schema to the Arc metadata-JSON document
    * (`%printmetadata`, ArcInterpreter.scala:495-499).
    */
  def toJson(schema: StructType): String = {
    val fields = schema.fields.map { f =>
      val tpe = f.dataType match {
        case StringType        => "string"
        case IntegerType       => "integer"
        case LongType          => "long"
        case DoubleType | FloatType => "double"
        case _: DecimalType    => "decimal"
        case BooleanType       => "boolean"
        case DateType          => "date"
        case TimestampType     => "timestamp"
        case BinaryType        => "binary"
        case other             => other.simpleString
      }
      val meta =
        if (f.metadata == Metadata.empty) JObject()
        else JsonMethods.parse(f.metadata.json).asInstanceOf[JObject]
      JObject(
        "name" -> JString(f.name),
        "type" -> JString(tpe),
        "nullable" -> JBool(f.nullable),
        "metadata" -> meta
      )
    }
    JsonMethods.pretty(JsonMethods.render(JArray(fields.toList)))
  }

  /** Turn a DataFrame's schema *into a DataFrame*
    * `[name, nullable, type, metadata.*]` — the reference's `%metadata`
    * (Common.scala:46-70). Built directly from the StructType on the driver
    * (schema metadata is driver-side by construction; no job needed).
    */
  def metadataDataFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.schema.fields.map { f =>
      val meta: Map[String, String] =
        if (f.metadata == Metadata.empty) Map.empty
        else
          JsonMethods.parse(f.metadata.json) match {
            case JObject(kvs) => kvs.map { case (k, v) => k -> str(v) }.toMap
            case _            => Map.empty
          }
      Row(f.name, f.nullable, f.dataType.simpleString, meta)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), MetadataFrameSchema)
  }

  /** The schema a tuple encoder would derive for the rows above, given
    * explicitly: deriving it by reflection costs more than the whole cell.
    */
  private val MetadataFrameSchema = StructType(Seq(
    StructField("name", StringType),
    StructField("nullable", BooleanType, nullable = false),
    StructField("type", StringType),
    StructField("metadata", MapType(StringType, StringType))))
}
