package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Lineage, Params, PipelineContext, Stage}
import graft.schema.FieldSpec

/** SQLTransform — the workhorse (SURVEY.md §2.2): execute Spark SQL with
  * `${param}` substitution against the session's temp views. All joins,
  * aggregations, windows, cube/rollup/grouping sets, set ops, sorts and the
  * whole scalar-function catalog flow through here; Catalyst plans and
  * optimizes the composed view graph as one logical plan, so filter pushdown
  * and column pruning cross stage boundaries for free.
  */
final case class SQLTransform(
    name: String,
    sql: String,
    outputView: String,
    sqlParams: Map[String, String] = Map.empty,
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil
) extends Stage {
  val stageType = "SQLTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val resolved = Params.injectParameters(sql, ctx.sqlParams ++ sqlParams)
    val df = ctx.spark.sql(resolved)
    Some(publish(ctx, df, outputView, numPartitions, partitionBy, persist))
  }
}

/** TypingTransform — Arc's signature operator (SURVEY.md §2.2): type the
  * string columns of `inputView` per a declared schema; per-row failures are
  * collected into `_errors: array<struct<field:string, message:string>>`
  * instead of failing the job (`failMode=permissive`), or abort on the first
  * bad row (`failMode=failfast`).
  *
  * Implementation is pure column expressions (`try_cast`-style `when` chains +
  * one `filter(array(...))` for error accumulation) — fully codegen'd and
  * vectorized, no UDF, no mapPartitions — so it runs at scan speed at 100 TB.
  * Spark 4 ANSI mode would make plain `cast` throw; every cast here goes
  * through `try_*` so bad values yield null + an `_errors` entry, matching the
  * reference's permissive semantics.
  */
final case class TypingTransform(
    name: String,
    schema: Seq[FieldSpec],
    inputView: String,
    outputView: String,
    failMode: String = "permissive", // permissive | failfast
    persist: Boolean = false,
    numPartitions: Option[Int] = None,
    partitionBy: Seq[String] = Nil
) extends Stage {
  val stageType = "TypingTransform"

  /** The typed value expression for one field, from its raw string column. */
  private def typedExpr(f: FieldSpec, raw: Column): Column = {
    val cleaned0 = if (f.trim) trim(raw) else raw
    // nullableValues → null, then nullReplacementValue fills nulls back in.
    val nulled =
      if (f.nullableValues.nonEmpty)
        when(cleaned0.isin(f.nullableValues: _*), lit(null).cast(StringType))
          .otherwise(cleaned0)
      else cleaned0
    val cleaned = f.nullReplacementValue.fold(nulled)(r => coalesce(nulled, lit(r)))
    f.`type` match {
      case "string"  => cleaned
      case "integer" => try_cast(cleaned, IntegerType)
      case "long"    => try_cast(cleaned, LongType)
      case "double"  => try_cast(cleaned, DoubleType)
      case "decimal" => try_cast(cleaned, DecimalType(f.precision, f.scale))
      case "binary"  => unbase64(cleaned)
      case "boolean" =>
        when(cleaned.isin(f.trueValues: _*), lit(true))
          .when(cleaned.isin(f.falseValues: _*), lit(false))
          .otherwise(lit(null).cast(BooleanType))
      case "date" =>
        if (f.formatters.isEmpty) try_cast(cleaned, DateType)
        else coalesce(f.formatters.map(fmt => try_to_date(cleaned, fmt)): _*)
      case "timestamp" =>
        val exprs =
          if (f.formatters.isEmpty) Seq(try_to_timestamp(cleaned))
          else f.formatters.map(fmt => try_to_timestamp(cleaned, lit(fmt)))
        // formatters are interpreted in the field's timezoneId, stored UTC
        val parsed = coalesce(exprs: _*)
        if (f.timezoneId == "UTC") parsed else to_utc_timestamp(parsed, f.timezoneId)
      case other => throw new IllegalArgumentException(s"unknown type: $other")
    }
  }

  private def try_cast(c: Column, t: DataType): Column = c.try_cast(t.sql)

  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val src = ctx.view(inputView)
    val inputCols = src.columns.toSet
    val typedCols = schema.map { f =>
      require(inputCols.contains(f.name), s"TypingTransform: input lacks column ${f.name}")
      typedExpr(f, col(f.name)).as(f.name, f.structField.metadata)
    }
    // Error expression per field: raw value present (after nullable-value
    // mapping) but typed to null, or null where not nullable.
    val errStructs = schema.map { f =>
      val raw0 = if (f.trim) trim(col(f.name)) else col(f.name)
      val raw =
        if (f.nullableValues.nonEmpty)
          when(raw0.isin(f.nullableValues: _*), lit(null).cast(StringType)).otherwise(raw0)
        else raw0
      val rawFilled = f.nullReplacementValue.fold(raw)(r => coalesce(raw, lit(r)))
      val typed = typedExpr(f, col(f.name))
      val badParse = rawFilled.isNotNull && typed.isNull && lit(f.`type` != "string")
      val badNull = rawFilled.isNull && lit(!f.nullable)
      when(
        badParse,
        struct(
          lit(f.name).as("field"),
          concat(lit(s"Unable to convert '"), raw0, lit(s"' to ${f.`type`}")).as("message")
        )
      ).when(
          badNull,
          struct(
            lit(f.name).as("field"),
            lit(s"${f.name} is null and not nullable").as("message")
          )
        )
        .otherwise(lit(null).cast("struct<field:string,message:string>"))
    }
    val errors = filter(array(errStructs: _*), x => x.isNotNull).as("_errors")
    val out = src.select(typedCols :+ errors: _*)
    if (failMode == "failfast") {
      val firstBad = out.filter(size(col("_errors")) > 0).limit(1).collect()
      if (firstBad.nonEmpty)
        throw new graft.core.ValidationException(
          s"TypingTransform $name failfast: ${firstBad.head.toString}"
        )
    }
    Some(publish(ctx, out, outputView, numPartitions, partitionBy, persist))
  }
}

/** MetadataTransform — attach/overwrite per-column metadata on a view
  * (SURVEY.md §2.2). Metadata lives in `StructField.metadata`, so this is a
  * zero-cost select.
  */
final case class MetadataTransform(
    name: String,
    inputView: String,
    outputView: String,
    fieldMetadata: Map[String, Map[String, String]],
    persist: Boolean = false
) extends Stage {
  val stageType = "MetadataTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val src = ctx.view(inputView)
    val cols = src.schema.fields.map { f =>
      fieldMetadata.get(f.name) match {
        case Some(meta) =>
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          meta.foreach { case (k, v) => mb.putString(k, v) }
          col(f.name).as(f.name, mb.build())
        case None => col(f.name)
      }
    }
    Some(publish(ctx, src.select(cols.toIndexedSeq: _*), outputView, None, Nil, persist))
  }
}

/** MetadataFilterTransform — column-level security (SURVEY.md §2.2): a SQL
  * statement over the *metadata* view (`name,nullable,type,metadata`) selects
  * which columns survive.
  */
final case class MetadataFilterTransform(
    name: String,
    inputView: String,
    outputView: String,
    sql: String,
    sqlParams: Map[String, String] = Map.empty,
    persist: Boolean = false
) extends Stage {
  val stageType = "MetadataFilterTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val src = ctx.view(inputView)
    val metaView = s"${inputView}_metadata"
    graft.schema.MetadataSchema
      .metadataDataFrame(ctx.spark, src)
      .createOrReplaceTempView(metaView)
    val resolved = Params
      .injectParameters(sql, ctx.sqlParams ++ sqlParams)
      .replace("${inputView}", metaView)
    val kept = ctx.spark
      .sql(resolved)
      .select("name")
      .collect()
      .map(_.getString(0))
      .toSet
    val cols = src.columns.filter(kept).map(col)
    require(cols.nonEmpty, s"MetadataFilterTransform $name: no columns survive the filter")
    Some(publish(ctx, src.select(cols.toIndexedSeq: _*), outputView, None, Nil, persist))
  }
}

/** DiffTransform — left vs right views → intersection / left-only / right-only
  * views (SURVEY.md §2.2). Multiset semantics (`exceptAll`/`intersectAll`)
  * preserve duplicate cardinality like the reference. Each output is only
  * computed if its view name is requested — the plans stay lazy, and Catalyst
  * plans each as a single shuffle on the full row.
  */
final case class DiffTransform(
    name: String,
    inputLeftView: String,
    inputRightView: String,
    outputIntersectionView: Option[String] = None,
    outputLeftView: Option[String] = None,
    outputRightView: Option[String] = None,
    persist: Boolean = false
) extends Stage {
  val stageType = "DiffTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val l = ctx.view(inputLeftView)
    val r = ctx.view(inputRightView)
    val inter = outputIntersectionView.map(v => publish(ctx, l.intersectAll(r), v, None, Nil, persist))
    outputLeftView.foreach(v => publish(ctx, l.exceptAll(r), v, None, Nil, persist))
    outputRightView.foreach(v => publish(ctx, r.exceptAll(l), v, None, Nil, persist))
    inter
  }
}

/** SimilarityJoinTransform — fuzzy join of two views on concatenated text
  * columns (SURVEY.md §2.2; reference CHANGELOG.md:237). Character-shingle
  * MinHash-LSH banding with exact Jaccard verification, built on the shared
  * capped engine `Dedup.minhashPairsFromHashedShingles`.
  *
  * The Arc argument surface is preserved and mapped onto banding:
  * bands = numHashTables (clamped to ≤ 32), rowsPerBand from the threshold
  * via the standard S-curve tuning t* ≈ (1/b)^(1/r) with the knee placed at
  * 0.9·threshold so recall AT the requested threshold stays high, clamped so
  * bands·rowsPerBand ≤ 32. Hot-bucket capping trades a small amount of
  * recall (cross-side pairs between non-representative members of a capped
  * bucket are dropped) for a hard bound on bucket-join fan-out. `similarity` is the EXACT Jaccard of
  * the character-shingle sets (the ML approxSimilarityJoin this replaces
  * reported the same quantity via HashingTF feature sets).
  *
  * Scale shape: LSH banding turns the quadratic all-pairs problem into a
  * shuffle on hash buckets — and unlike Spark ML's approxSimilarityJoin, the
  * bucket self-join is SIZE-CAPPED (hot buckets degrade to linear star links,
  * see Dedup.bucketCandidates), so one boilerplate-heavy bucket can no longer
  * go quadratic. Shingle payloads stay out of the band join (ids only); rows
  * join back by id for the surviving pairs only.
  */
final case class SimilarityJoinTransform(
    name: String,
    leftView: String,
    rightView: String,
    leftFields: Seq[String],
    rightFields: Seq[String],
    outputView: String,
    threshold: Double = 0.75,
    shingleLength: Int = 3,
    numHashTables: Int = 5,
    caseSensitive: Boolean = false,
    maxBucketSize: Int = 256,
    persist: Boolean = false
) extends Stage {
  val stageType = "SimilarityJoinTransform"

  import graft.llm.{Dedup, TextStats}

  /** Hashed character shingles of the concatenated fields. */
  private def charShingles(fields: Seq[String]): Column = {
    val joined = concat_ws(" ", fields.map(col): _*)
    val text = if (caseSensitive) joined else lower(joined)
    graft.functions.Let.bind(
      text,
      s =>
        array_distinct(
          transform(
            TextStats.safeSeq(length(s) - (shingleLength - 1)),
            i => xxhash64(s.substr(i, lit(shingleLength))))))
  }

  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val lSrc = ctx.view(leftView)
    val rSrc = ctx.view(rightView)
    // Synthetic ids: left rows even, right rows odd — both sides share one
    // LSH corpus and cross-side pairs are recovered by parity.
    // monotonically_increasing_id is only stable per MATERIALIZATION: the
    // corpus branch and the join-back branch below would otherwise evaluate
    // it in two separate plan subtrees, and any upstream shuffle feeding the
    // view (or a task retry) can reorder rows between the two scans —
    // silently attaching scores to the wrong rows. localCheckpoint (eager)
    // pins the ids: both branches read the same materialized partitions.
    // Lineage is cut, so a lost executor fails the job loudly instead of
    // recomputing with different ids — loud failure over silent corruption.
    // (Lineage.pin upgrades to a reliable checkpoint when the session has a
    // checkpoint dir, so cluster runs survive executor loss too.)
    val lRows = Lineage.pin(
      lSrc.withColumn("_gid", shiftleft(monotonically_increasing_id(), 1)))
    val rRows = Lineage.pin(
      rSrc.withColumn("_gid",
        shiftleft(monotonically_increasing_id(), 1).bitwiseOR(lit(1L))))
    def corpus(df: DataFrame, fields: Seq[String]): DataFrame =
      df.select(col("_gid"), charShingles(fields).as("_sh")).filter(size(col("_sh")) > 0)
    // S-curve tuning: t* ≈ (1/b)^(1/r)  ⇒  r ≈ ln(b) / -ln(t*). The knee is
    // placed at 0.9·threshold, NOT at threshold: a pair sitting exactly at
    // the knee collides with only ~(1-1/e)≈63-78% probability, so tuning the
    // knee below the user threshold keeps recall AT the threshold high (the
    // exact-Jaccard verification step already removes false positives, so a
    // lower knee costs candidates, not precision).
    // bands itself is clamped to 32: the fused signature computes at most 32
    // hashes (Dedup.minhashSignature), so numHashTables > 32 must degrade to
    // 32 single-row bands rather than throw at runtime.
    val bands = math.min(32, math.max(1, numHashTables))
    val t = math.min(0.95, math.max(0.05, threshold * 0.9))
    val rowsPerBand =
      math.max(1, math.min(32 / bands, math.round(math.log(bands) / -math.log(t)).toInt))
    val pairs = Dedup.minhashPairsFromHashedShingles(
      corpus(lRows, leftFields).unionByName(corpus(rRows, rightFields)),
      "_gid", "_sh", bands, rowsPerBand, threshold, maxBucketSize)
    // keep cross-side pairs only; normalize to (left id, right id)
    val cross = pairs
      .filter(col("idA").bitwiseAND(lit(1L)) =!= col("idB").bitwiseAND(lit(1L)))
      .select(
        when(col("idA").bitwiseAND(lit(1L)) === 0, col("idA")).otherwise(col("idB")).as("_lgid"),
        when(col("idA").bitwiseAND(lit(1L)) === 0, col("idB")).otherwise(col("idA")).as("_rgid"),
        col("jaccard").as("similarity"))
    def rName(c: String): String = if (lSrc.columns.contains(c)) s"${c}_right" else c
    val lKeyed = lRows.select(col("_gid").as("_lgid") +: lSrc.columns.map(col): _*)
    val rKeyed = rRows.select(col("_gid").as("_rgid") +: rSrc.columns.map(c => col(c).as(rName(c))): _*)
    val out = cross
      .join(lKeyed, Seq("_lgid"))
      .join(rKeyed, Seq("_rgid"))
      .select((lSrc.columns.map(col) ++ rSrc.columns.map(c => col(rName(c)))) :+ col("similarity"): _*)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** MLTransform — apply a saved spark.ml PipelineModel; appends prediction /
  * probability columns (SURVEY.md §2.2).
  */
final case class MLTransform(
    name: String,
    inputURI: String,
    inputView: String,
    outputView: String,
    persist: Boolean = false
) extends Stage {
  val stageType = "MLTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val model = org.apache.spark.ml.PipelineModel.load(inputURI)
    val out = model.transform(ctx.view(inputView))
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** HTTPTransform — POST row batches to an endpoint, append the response as a
  * column. The default transport is a REAL HTTP POST per row value
  * (graft.core.Http — one shared JDK client per executor, batched iteration);
  * swap the function for batch-protocol endpoints.
  */
final case class HTTPTransform(
    name: String,
    uri: String,
    inputView: String,
    outputView: String,
    inputField: String = "value",
    batchSize: Int = 100,
    persist: Boolean = false,
    transport: (String, Seq[String]) => Seq[String] =
      (u, batch) => batch.map(v => graft.core.Http.postString(u, v)._2)
) extends Stage {
  val stageType = "HTTPTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val src = ctx.view(inputView)
    val spark = ctx.spark
    val fieldIdx = src.columns.indexOf(inputField)
    require(fieldIdx >= 0, s"HTTPTransform: input lacks column $inputField")
    val endpoint = uri
    val bs = batchSize
    val t = transport
    val outSchema = src.schema.add("response", StringType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val out = src.mapPartitions { rows =>
      rows.grouped(bs).flatMap { batch =>
        val responses = t(endpoint, batch.map(r => String.valueOf(r.get(fieldIdx))))
        batch.zip(responses).map { case (row, resp) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ resp)
        }
      }
    }(enc)
    Some(publish(ctx, out.toDF(), outputView, None, Nil, persist))
  }
}

/** TensorFlowServingTransform — POST row batches to a TensorFlow Serving
  * REST endpoint (`/v1/models/<model>:predict`), append the prediction as a
  * column (reference TensorFlowServingTransform; HTTPTransform's sibling).
  * The environment has no network egress, so the transport is pluggable; the
  * default stub returns a deterministic hash-derived score per instance so
  * the Spark-side plumbing (per-partition batching, JSON instances body,
  * response alignment) is real and testable.
  */
final case class TensorFlowServingTransform(
    name: String,
    inputURI: String,
    inputView: String,
    outputView: String,
    inputField: String = "value",
    signatureName: String = "serving_default",
    batchSize: Int = 100,
    responseType: String = "double", // integer | double | string
    persist: Boolean = false,
    // STUB(offline): (uri, jsonInstancesBody) => jsonPredictionsBody.
    transport: (String, String) => String = (_, body) => {
      // deterministic fake: one prediction per instance line, derived from
      // the instance text hash, in TFS response shape.
      val instances = body.linesIterator.toSeq
      instances
        .map(i => (math.abs(i.hashCode) % 1000) / 1000.0)
        .mkString("{\"predictions\": [", ", ", "]}")
    }
) extends Stage {
  val stageType = "TensorFlowServingTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val src = ctx.view(inputView)
    val fieldIdx = src.columns.indexOf(inputField)
    require(fieldIdx >= 0, s"TensorFlowServingTransform: input lacks column $inputField")
    val endpoint = inputURI
    val bs = batchSize
    val t = transport
    val rType = responseType
    val resultType = rType match {
      case "integer" => org.apache.spark.sql.types.IntegerType
      case "string"  => StringType
      case _         => org.apache.spark.sql.types.DoubleType
    }
    val outSchema = src.schema.add("prediction", resultType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val out = src.mapPartitions { rows =>
      rows.grouped(bs).flatMap { batch =>
        // one instance per line — the stub transport counts lines; a real
        // transport would JSON-encode: {"instances": [...], "signature_name": ...}
        val body = batch.map(r => String.valueOf(r.get(fieldIdx))).mkString("\n")
        val resp = t(endpoint, body)
        val preds = resp
          .dropWhile(_ != '[').drop(1).takeWhile(_ != ']')
          .split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        require(preds.size == batch.size,
          s"TensorFlowServingTransform: ${preds.size} predictions for ${batch.size} instances")
        batch.zip(preds).map { case (row, p) =>
          val typed: Any = rType match {
            case "integer" => p.toDouble.toInt
            case "string"  => p
            case _         => p.toDouble
          }
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ typed)
        }
      }
    }(enc)
    Some(publish(ctx, out.toDF(), outputView, None, Nil, persist))
  }
}

object TensorFlowServingTransform {
  /** Real REST transport for a live TensorFlow Serving endpoint
    * (the offline default above is a deterministic fake).
    */
  val http: (String, String) => String =
    (u, body) => graft.core.Http.postString(u, body)._2
}
