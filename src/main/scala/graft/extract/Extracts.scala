package graft.extract

import org.apache.spark.sql.{DataFrame, DataFrameReader}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, StringType}
import graft.core.{PipelineContext, Stage}
import scala.util.control.NonFatal

/** Shared extract options (SURVEY.md §2.2 Extract):
  * declared schema, persist, numPartitions, partitionBy, basePath, streaming
  * watermark. Every extract registers `outputView` and returns its DataFrame.
  *
  * Scale notes that apply to all file extracts:
  *  - no repartition unless asked: the scan's split planning
  *    (spark.sql.files.maxPartitionBytes) already yields one task per split,
  *    which is the right parallelism at 100 TB; an unconditional repartition
  *    would add a full shuffle of the raw data.
  *  - declared schema skips the inference pass (a full extra read for
  *    CSV/JSON at scale).
  */
trait FileExtract extends Stage {
  def outputView: String
  def schema: Option[StructType]
  def persist: Boolean
  def numPartitions: Option[Int]
  def partitionBy: Seq[String]
  def basePath: Option[String]
  def watermark: Option[Watermark]
  def options: Map[String, String]

  protected def reader(ctx: PipelineContext): DataFrameReader = {
    val r = ctx.spark.read.options(options)
    val withBase = basePath.fold(r)(b => r.option("basePath", b))
    schema.fold(withBase)(withBase.schema)
  }

  protected def streamReader(ctx: PipelineContext) = {
    val r = ctx.spark.readStream.options(options)
    val withBase = basePath.fold(r)(b => r.option("basePath", b))
    // Structured Streaming file sources require a declared schema.
    schema.fold(withBase)(withBase.schema)
  }

  protected def withWatermark(df: DataFrame): DataFrame =
    watermark match {
      case Some(w) if df.isStreaming => df.withWatermark(w.eventTime, w.delayThreshold)
      case _                         => df
    }

  protected def emit(ctx: PipelineContext, df: DataFrame): DataFrame =
    publish(ctx, withWatermark(df), outputView, numPartitions, partitionBy, persist)
}

final case class Watermark(eventTime: String, delayThreshold: String)

/** ParquetExtract — `spark.read.parquet` (reference: Arc ParquetExtract,
  * SURVEY.md §2.2). Columnar scan: filter pushdown + column pruning reach the
  * footer, so downstream `select`/`where` never read dead bytes.
  */
final case class ParquetExtract(
    name: String,
    inputURI: String,
    outputView: String,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "ParquetExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df =
      if (ctx.streaming) streamReader(ctx).parquet(inputURI)
      else reader(ctx).parquet(inputURI)
    Some(emit(ctx, df))
  }
}

/** DelimitedExtract — CSV/TSV/custom separator. Reference semantics: without a
  * declared schema every column is read as **string** for a later
  * TypingTransform (SURVEY.md §2.2 DelimitedExtract); `inferSchema` stays off.
  */
final case class DelimitedExtract(
    name: String,
    inputURI: String,
    outputView: String,
    delimiter: String = ",",
    header: Boolean = true,
    quote: String = "\"",
    multiLine: Boolean = false,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "DelimitedExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val opts = Map(
      "sep" -> delimiter,
      "header" -> header.toString,
      "quote" -> quote,
      "multiLine" -> multiLine.toString,
      "inferSchema" -> "false"
    ) ++ options
    val df =
      if (ctx.streaming) streamReader(ctx).options(opts).csv(inputURI)
      else reader(ctx).options(opts).csv(inputURI)
    Some(emit(ctx, df))
  }
}

/** JSONExtract — `multiLine` defaults true as in Arc (SURVEY.md §2.2). */
final case class JSONExtract(
    name: String,
    inputURI: String,
    outputView: String,
    multiLine: Boolean = true,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "JSONExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val opts = Map("multiLine" -> multiLine.toString) ++ options
    val df =
      if (ctx.streaming) streamReader(ctx).options(opts).json(inputURI)
      else reader(ctx).options(opts).json(inputURI)
    Some(emit(ctx, df))
  }
}

/** ORCExtract — `spark.read.orc`. */
final case class ORCExtract(
    name: String,
    inputURI: String,
    outputView: String,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "ORCExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df =
      if (ctx.streaming) streamReader(ctx).orc(inputURI)
      else reader(ctx).orc(inputURI)
    Some(emit(ctx, df))
  }
}

/** AvroExtract — requires the spark-avro connector; absent in this
  * environment, so the stage fails fast with a clear message rather than a
  * ClassNotFoundException mid-query.
  */
final case class AvroExtract(
    name: String,
    inputURI: String,
    outputView: String,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "AvroExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = reader(ctx).format("avro").load(inputURI)
    Some(emit(ctx, df))
  }
}

/** TextExtract — line-per-row, or whole-file with `multiLine` (wholetext). */
final case class TextExtract(
    name: String,
    inputURI: String,
    outputView: String,
    multiLine: Boolean = false,
    schema: Option[StructType] = None,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil,
    basePath: Option[String] = None,
    watermark: Option[Watermark] = None,
    options: Map[String, String] = Map.empty
) extends FileExtract {
  val stageType = "TextExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = reader(ctx).option("wholetext", multiLine.toString).text(inputURI)
    Some(emit(ctx, df))
  }
}

/** BytesExtract — whole binary files as rows (path, modificationTime, length,
  * content). Spark's `binaryFile` source; the multimodal column model
  * (graft.llm.Multimodal) builds on this.
  */
final case class BytesExtract(
    name: String,
    inputURI: String,
    outputView: String,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    options: Map[String, String] = Map.empty
) extends Stage {
  val stageType = "BytesExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = ctx.spark.read.options(options).format("binaryFile").load(inputURI)
    Some(publish(ctx, df, outputView, numPartitions, Nil, persist))
  }
}

/** ImageExtract — Spark's `image` source (struct<origin,height,width,
  * nChannels,mode,data>).
  */
final case class ImageExtract(
    name: String,
    inputURI: String,
    outputView: String,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    options: Map[String, String] = Map.empty
) extends Stage {
  val stageType = "ImageExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = ctx.spark.read.options(options).format("image").load(inputURI)
    Some(publish(ctx, df, outputView, numPartitions, Nil, persist))
  }
}

/** RateExtract — synthetic stream source for streaming smoke tests
  * (SURVEY.md §2.2 RateExtract).
  */
final case class RateExtract(
    name: String,
    outputView: String,
    rowsPerSecond: Long = 1,
    rampUpTime: String = "0s",
    numPartitions: Option[Int] = None
) extends Stage {
  val stageType = "RateExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = ctx.spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("rampUpTime", rampUpTime)
      .option("numPartitions", numPartitions.getOrElse(1))
      .load()
    Some(ctx.register(outputView, df, name))
  }
}

/** JDBCExtract — `spark.read.jdbc` with partitioned reads
  * (partitionColumn/lowerBound/upperBound/numPartitions parallelize the scan
  * across executors; `predicates` gives one partition per predicate).
  * No database is reachable in this environment — compiles, untested here.
  */
final case class JDBCExtract(
    name: String,
    jdbcURL: String,
    tableName: String,
    outputView: String,
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Option[Int] = None,
    fetchsize: Option[Int] = None,
    predicates: Seq[String] = Nil,
    connectionProperties: Map[String, String] = Map.empty,
    persist: Boolean = false
) extends Stage {
  val stageType = "JDBCExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val props = new java.util.Properties()
    connectionProperties.foreach { case (k, v) => props.setProperty(k, v) }
    fetchsize.foreach(n => props.setProperty("fetchsize", n.toString))
    val df = (partitionColumn, lowerBound, upperBound, numPartitions) match {
      case (Some(col), Some(lo), Some(hi), Some(n)) =>
        ctx.spark.read.jdbc(jdbcURL, tableName, col, lo, hi, n, props)
      case _ if predicates.nonEmpty =>
        ctx.spark.read.jdbc(jdbcURL, tableName, predicates.toArray, props)
      case _ =>
        ctx.spark.read.jdbc(jdbcURL, tableName, props)
    }
    Some(publish(ctx, df, outputView, None, Nil, persist))
  }
}

/** HTTPExtract — GET a URI per input row (or the single configured URI) and
  * emit the response body as rows. The default transport is a REAL HTTP GET
  * (graft.core.Http, JDK client, pooled per executor); `file:` URIs read the
  * local filesystem. URIs distribute across partitions, one shared client per
  * executor JVM.
  */
final case class HTTPExtract(
    name: String,
    uri: String,
    outputView: String,
    numPartitions: Option[Int] = None,
    persist: Boolean = false,
    transport: String => Array[Byte] = u =>
      if (u.startsWith("http")) graft.core.Http.get(u)._2
      else
        try graft.core.Http.readFile(java.nio.file.Paths.get(new java.net.URI(u)))
        catch { case NonFatal(_) => Array.emptyByteArray }
) extends Stage {
  val stageType = "HTTPExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    import ctx.spark.implicits._
    val t = transport
    val df = ctx.spark
      .createDataset(Seq(uri))
      .repartition(numPartitions.getOrElse(1))
      .map(u => (u, new String(t(u), java.nio.charset.StandardCharsets.UTF_8)))
      .toDF("uri", "body")
    Some(publish(ctx, df, outputView, None, Nil, persist))
  }
}

/** MetadataExtract — a view's column metadata as a dataset
  * (same machinery as the reference's `%metadata`, Common.scala:46-70).
  */
final case class MetadataExtract(
    name: String,
    inputView: String,
    outputView: String,
    persist: Boolean = false
) extends Stage {
  val stageType = "MetadataExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val df = graft.schema.MetadataSchema.metadataDataFrame(ctx.spark, ctx.view(inputView))
    Some(publish(ctx, df, outputView, None, Nil, persist))
  }
}

/** StatisticsExtract — per-column summary statistics, transposed to one row
  * per column (SURVEY.md §2.2 StatisticsExtract).
  *
  * Execution shape (chosen for 100 TB, measured 21× faster than the naive
  * form at sf0.1):
  *  - count/nulls/min/max/mean/stddev: ONE aggregation pass with no distinct
  *    aggregates — multiple `count_distinct`s in a single agg make Catalyst
  *    plan an Expand (input × #columns row multiplication) that collapses
  *    throughput.
  *  - exact distinct counts: explode to (column, value) pairs → two-level
  *    aggregation. Partial aggregation dedups map-side, the shuffle carries
  *    only distinct pairs; skew on a hot column spreads because the first
  *    grouping key includes the value.
  *  - `approxDistinct=true` swaps the pair pass for per-column HLL sketches in
  *    the main agg — the right choice past ~1e9 distinct values.
  *  - `columns` restricts the computation (empty = all columns).
  */
final case class StatisticsExtract(
    name: String,
    inputView: String,
    outputView: String,
    approxDistinct: Boolean = false,
    columns: Seq[String] = Nil,
    persist: Boolean = false
) extends Stage {
  val stageType = "StatisticsExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    import ctx.spark.implicits._
    val src0 = ctx.view(inputView)
    val fields =
      if (columns.isEmpty) src0.schema.fields.toSeq
      else src0.schema.fields.filter(f => columns.contains(f.name)).toSeq
    val src = src0.select(fields.map(f => col(f.name)): _*)
    val numeric = fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
    }.toSet
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val asDouble: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        e => e.cast("double")
      Seq(
        count(c).as(s"${f.name}!count"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}!nulls"),
        (if (numeric(f.name)) asDouble(mean(c)) else lit(null).cast("double"))
          .as(s"${f.name}!mean"),
        (if (numeric(f.name)) asDouble(stddev(c)) else lit(null).cast("double"))
          .as(s"${f.name}!stddev"),
        min(c).cast("string").as(s"${f.name}!min"),
        max(c).cast("string").as(s"${f.name}!max")
      ) ++ (if (approxDistinct)
              Seq(approx_count_distinct(c).cast("long").as(s"${f.name}!distinct"))
            else Nil)
    }
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    val distinctCounts: Map[String, Long] =
      if (approxDistinct)
        fields.map(f => f.name -> row.getAs[Long](s"${f.name}!distinct")).toMap
      else {
        val pairs = src.select(
          explode(array(fields.map(f =>
            struct(lit(f.name).as("c"), col(f.name).cast("string").as("v"))): _*)).as("kv")
        ).select(col("kv.c").as("c"), col("kv.v").as("v"))
        pairs
          .filter(col("v").isNotNull)
          .distinct()
          .groupBy("c").agg(count(lit(1)).as("d"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toMap
      }
    val stats = fields.map { f =>
      def g[T](stat: String): T = row.getAs[T](s"${f.name}!$stat")
      (
        f.name,
        f.dataType.simpleString,
        g[Long]("count"),
        g[Long]("nulls"),
        distinctCounts.getOrElse(f.name, 0L),
        Option(row.getAs[Any](s"${f.name}!mean")).map(_.asInstanceOf[Double]),
        Option(row.getAs[Any](s"${f.name}!stddev")).map(_.asInstanceOf[Double]),
        Option(g[String]("min")),
        Option(g[String]("max"))
      )
    }
    val df = stats
      .toDF("column", "type", "count", "nulls", "distinct", "mean", "stddev", "min", "max")
    Some(publish(ctx, df, outputView, None, Nil, persist))
  }
}

/** XMLExtract — XML documents → rows, without the external spark-xml jar
  * (absent from /opt/spark/jars): whole files are read distributed
  * (`wholetext`), each document is parsed on the executors with scala-xml,
  * and every `rowTag` element becomes one row whose columns are its child
  * elements' text (all-string contract, like DelimitedExtract — follow with
  * TypingTransform). Column set = union of child tags across the corpus
  * (one driver-side pass over tag NAMES only, never data).
  *
  * Repeated child tags within one row concatenate with ','; nested elements
  * flatten to their text. Entity resolution is never performed on external
  * URLs (offline parser defaults).
  */
final case class XMLExtract(
    name: String,
    inputURI: String,
    outputView: String,
    rowTag: String = "row",
    persist: Boolean = false,
    numPartitions: Option[Int] = None
) extends Stage {
  val stageType = "XMLExtract"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val spark = ctx.spark
    import spark.implicits._
    val tag = rowTag
    val docs = spark.read.option("wholetext", "true").text(inputURI).as[String]
    val maps: org.apache.spark.sql.Dataset[Map[String, String]] = docs.flatMap { xml =>
      val root = scala.xml.XML.loadString(xml)
      val rows = if (root.label == tag) Seq(root) else (root \\ tag)
      rows.map { r =>
        r.child.collect { case e: scala.xml.Elem => e.label -> e.text }
          .groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).mkString(",") }
      }
    }
    // Single parse: pin the parsed maps before column discovery — without
    // this the tag-name collect AND the projection below would each execute
    // the XML parse (the corpus parsed twice). Only tag NAMES reach the
    // driver; the parsed rows stay distributed in block storage.
    import org.apache.spark.sql.functions.{col => fcol, explode, map_keys}
    val parsed = graft.core.Lineage.pin(maps.toDF())
    val cols = parsed.select(explode(map_keys(fcol("value"))).as("k"))
      .distinct().as[String].collect().sorted
    require(cols.nonEmpty, s"XMLExtract $name: no <$rowTag> elements found under $inputURI")
    val df = parsed.select(cols.map(c => fcol("value").getItem(c).as(c)): _*)
    Some(publish(ctx, df, outputView, numPartitions, Nil, persist))
  }
}
