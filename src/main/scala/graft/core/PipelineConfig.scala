package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.util.control.NonFatal
import graft.extract._
import graft.load._
import graft.transform._
import graft.validate._
import graft.execute._

/** Config-driven pipelines — the analog of the reference's HOCON stage
  * documents (`%arc` cells, ArcInterpreter.scala:404-423). Cells are HOCON
  * (graft.core.Hocon — reference-style syntax: unquoted keys, triple-quoted
  * SQL, `${param}` substitution, comments); strict JSON parses identically
  * since it is a subset:
  *
  * {{{
  * {stages: [
  *   {type = "ParquetExtract", name = "e", inputURI = ${ETL_BASE}"/x.parquet",
  *    outputView = "x"},
  *   {type = "SQLTransform", name = "q", sql = """SELECT * FROM x""",
  *    outputView = "y", environments = [production]}
  * ]}
  * }}}
  *
  * `environments` filters stages like Arc: a stage with a non-empty list runs
  * only when the active environment is in it.
  */
object PipelineConfig {

  def parse(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): Seq[Stage] = parseWithPlugins(json, environment, params)._1

  /** Strict JSON first; anything it rejects is read as HOCON. */
  private def parseDoc(json: String, params: Map[String, String]): JValue =
    try JsonMethods.parse(json)
    catch { case NonFatal(_) => Hocon.parse(json, params) }

  /** Full cell parse: stages plus any `plugins.lifecycle` registrations —
    * the reference wraps every config cell in a document with a
    * `plugins.lifecycle` list and registers the plugins of a zero-stage cell
    * for all later cells (reference ArcInterpreter.scala:404-434).
    *
    * A plugin entry's `type` is the fully-qualified name of a classpath
    * class implementing [[LifecycleHook]] — the analog of the reference's
    * dynamically-resolved lifecycle plugins (plugins outside the classpath
    * are out of scope under zero egress). Scalar fields besides `type` /
    * `environments` are passed to a `(Map[String,String])` constructor when
    * one exists, else a no-arg constructor is used. `environments` filters
    * like it does for stages.
    */
  def parseWithPlugins(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): (Seq[Stage], Seq[LifecycleHook]) = {
    val root = parseDoc(json, params)
    (parseValue(root, environment, params), parsePlugins(root \ "plugins" \ "lifecycle", environment))
  }

  /** A `%lifecycleplugin` cell: the body is the plugin list itself — either
    * a full `{plugins: {lifecycle: [...]}}` document, a bare array, or a
    * single plugin object (reference magic at ArcInterpreter.scala:259-264).
    */
  def parseLifecycleCell(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): Seq[LifecycleHook] = {
    val root = parseDoc(json, params)
    root \ "plugins" \ "lifecycle" match {
      case JNothing => parsePlugins(root, environment)
      case nested   => parsePlugins(nested, environment)
    }
  }

  /** A `%configplugin` cell: `plugins.config` entries (or a bare list /
    * single object) instantiating [[ConfigPlugin]] classes — reference
    * ArcInterpreter.scala:259-261 routes `%configplugin` into the same
    * config parse as `%lifecycleplugin`.
    */
  def parseConfigCell(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): Seq[ConfigPlugin] = {
    val root = parseDoc(json, params)
    val entries = root \ "plugins" \ "config" match {
      case JNothing => root
      case nested   => nested
    }
    (entries match {
      case JArray(xs) => xs
      case o: JObject => List(o)
      case JNothing   => Nil
      case other => throw new IllegalArgumentException(s"'plugins.config' is not a list: $other")
    }).flatMap { jv =>
      val o = StageFields(jv)
      val envs = o.strList("environments")
      if (envs.nonEmpty && !envs.contains(environment)) None
      else Some(instantiate[ConfigPlugin](o, classOf[ConfigPlugin], "config plugin"))
    }
  }

  private def parsePlugins(entries: JValue, environment: String): Seq[LifecycleHook] =
    (entries match {
      case JArray(xs)   => xs
      case o: JObject   => List(o)
      case JNothing     => Nil
      case other => throw new IllegalArgumentException(s"'plugins.lifecycle' is not a list: $other")
    }).flatMap { jv =>
      val o = StageFields(jv)
      val envs = o.strList("environments")
      if (envs.nonEmpty && !envs.contains(environment)) None
      else Some(instantiateHook(o))
    }

  private def instantiateHook(o: StageFields): LifecycleHook =
    instantiate[LifecycleHook](o, classOf[LifecycleHook], "lifecycle plugin")

  private def instantiate[T](o: StageFields, iface: Class[T], what: String): T = {
    val className = o.req("type")
    val cls =
      try Class.forName(className)
      catch {
        case _: ClassNotFoundException =>
          throw new IllegalArgumentException(s"$what class not found on classpath: $className")
      }
    if (!iface.isAssignableFrom(cls))
      throw new IllegalArgumentException(s"$className does not implement ${iface.getName}")
    val pluginParams = o.allStrings - "type"
    val ctors = cls.getConstructors
    val inst = ctors.find(_.getParameterTypes.sameElements(Array(classOf[Map[_, _]])))
      .map(_.newInstance(pluginParams))
      .orElse(ctors.find(_.getParameterCount == 0).map(_.newInstance()))
      .getOrElse(throw new IllegalArgumentException(
        s"$className needs a (Map[String,String]) or no-arg public constructor"))
    inst.asInstanceOf[T]
  }

  private def parseValue(
      root: JValue,
      environment: String,
      params: Map[String, String]
  ): Seq[Stage] = {
    val stages = root \ "stages" match {
      case JArray(xs) => xs
      // plugins-only document: a zero-stage cell that registers lifecycle
      // plugins is valid (reference ArcInterpreter.scala:427-434)
      case JNothing if (root \ "plugins") != JNothing => Nil
      case JNothing   => root match {
        case JArray(xs) => xs // bare array of stages
        case obj: JObject => List(obj) // single stage object
        case other => throw new IllegalArgumentException(s"config is not a stage list: $other")
      }
      case other => throw new IllegalArgumentException(s"'stages' is not an array: $other")
    }
    stages.flatMap { jv =>
      val obj = StageFields(jv)
      val envs = obj.strList("environments")
      if (envs.nonEmpty && !envs.contains(environment)) None
      else Some(build(obj, environment, params))
    }
  }

  private def build(o: StageFields, environment: String, params: Map[String, String]): Stage = o.req("type") match {
    case "ParquetExtract" =>
      ParquetExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        schema = None, persist = o.bool("persist"), numPartitions = o.intOpt("numPartitions"),
        partitionBy = o.strList("partitionBy"), basePath = o.strOpt("basePath"),
        watermark = o.watermark, options = o.strMap("options"))
    case "DelimitedExtract" =>
      DelimitedExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        delimiter = o.str("delimiter", ","), header = o.bool("header", default = true),
        quote = o.str("quote", "\""), multiLine = o.bool("multiLine"),
        persist = o.bool("persist"), numPartitions = o.intOpt("numPartitions"),
        options = o.strMap("options"))
    case "JSONExtract" =>
      JSONExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        multiLine = o.bool("multiLine", default = true), persist = o.bool("persist"),
        numPartitions = o.intOpt("numPartitions"), options = o.strMap("options"))
    case "ORCExtract" =>
      ORCExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        persist = o.bool("persist"), numPartitions = o.intOpt("numPartitions"))
    case "AvroExtract" =>
      AvroExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        persist = o.bool("persist"))
    case "TextExtract" =>
      TextExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        multiLine = o.bool("multiLine"), persist = o.bool("persist"))
    case "BytesExtract" =>
      BytesExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        persist = o.bool("persist"))
    case "ImageExtract" =>
      ImageExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        persist = o.bool("persist"))
    case "XMLExtract" =>
      XMLExtract(o.req("name"), o.req("inputURI"), o.req("outputView"),
        rowTag = o.str("rowTag", "row"), persist = o.bool("persist"),
        numPartitions = o.intOpt("numPartitions"))
    case "RateExtract" =>
      RateExtract(o.req("name"), o.req("outputView"),
        rowsPerSecond = o.intOpt("rowsPerSecond").getOrElse(1).toLong,
        rampUpTime = o.str("rampUpTime", "0s"))
    case "MetadataExtract" =>
      MetadataExtract(o.req("name"), o.req("inputView"), o.req("outputView"),
        persist = o.bool("persist"))
    case "StatisticsExtract" =>
      StatisticsExtract(o.req("name"), o.req("inputView"), o.req("outputView"),
        approxDistinct = o.bool("approxDistinct"), persist = o.bool("persist"))
    case "SQLTransform" =>
      SQLTransform(o.req("name"), o.req("sql"), o.req("outputView"),
        sqlParams = o.strMap("sqlParams"), persist = o.bool("persist"),
        numPartitions = o.intOpt("numPartitions"), partitionBy = o.strList("partitionBy"))
    case "TypingTransform" =>
      TypingTransform(o.req("name"),
        schema = graft.schema.MetadataSchema.fromJson(
          JsonMethods.compact(JsonMethods.render(o.jv \ "schema"))),
        inputView = o.req("inputView"), outputView = o.req("outputView"),
        failMode = o.str("failMode", "permissive"), persist = o.bool("persist"))
    case "DiffTransform" =>
      DiffTransform(o.req("name"), o.req("inputLeftView"), o.req("inputRightView"),
        outputIntersectionView = o.strOpt("outputIntersectionView"),
        outputLeftView = o.strOpt("outputLeftView"),
        outputRightView = o.strOpt("outputRightView"), persist = o.bool("persist"))
    case "SimilarityJoinTransform" =>
      SimilarityJoinTransform(o.req("name"), o.req("leftView"), o.req("rightView"),
        leftFields = o.strList("leftFields"), rightFields = o.strList("rightFields"),
        outputView = o.req("outputView"),
        threshold = o.dbl("threshold", 0.75),
        shingleLength = o.intOpt("shingleLength").getOrElse(3),
        numHashTables = o.intOpt("numHashTables").getOrElse(5),
        caseSensitive = o.bool("caseSensitive"))
    case "DeduplicateTransform" =>
      DeduplicateTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        idField = o.req("idField"), textField = o.str("textField", ""),
        method = o.str("method", "exact"), keyFields = o.strList("keyFields"),
        qualityField = o.str("qualityField", ""),
        threshold = o.dbl("threshold", 0.8),
        shingleLength = o.intOpt("shingleLength").getOrElse(3),
        maxDistance = o.intOpt("maxDistance").getOrElse(3),
        vectorField = o.str("vectorField", ""),
        numClusters = o.intOpt("numClusters").getOrElse(16),
        urlField = o.str("urlField", ""),
        hashMode = o.str("hashMode", "xxhash64"),
        persist = o.bool("persist"))
    case "DecontaminateTransform" =>
      DecontaminateTransform(o.req("name"), o.req("inputView"), o.req("evalView"),
        o.req("outputView"), idField = o.req("idField"), textField = o.req("textField"),
        evalTextField = o.str("evalTextField", ""),
        ngram = o.intOpt("ngram").getOrElse(8),
        action = o.str("action", "filter"),
        bloomBits = o.intOpt("bloomBits").map(_.toLong).getOrElse(0L),
        persist = o.bool("persist"))
    case "MinhashIndexLoad" =>
      MinhashIndexLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        idField = o.req("idField"), textField = o.req("textField"),
        shingleLength = o.intOpt("shingleLength").getOrElse(3),
        bands = o.intOpt("bands").getOrElse(8),
        rowsPerBand = o.intOpt("rowsPerBand").getOrElse(4),
        maxBucketSize = o.intOpt("maxBucketSize").getOrElse(256))
    case "SemIndexLoad" =>
      SemIndexLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        idField = o.req("idField"), vectorField = o.req("vectorField"),
        numClusters = o.intOpt("numClusters").getOrElse(16),
        threshold = o.dbl("threshold", 0.95))
    case "SemIndexDedupTransform" =>
      SemIndexDedupTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        indexURI = o.req("indexURI"), idField = o.req("idField"),
        vectorField = o.req("vectorField"),
        action = o.str("action", "filter"),
        persist = o.bool("persist"))
    case "SpanIndexTransform" =>
      SpanIndexTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        indexURI = o.req("indexURI"), idField = o.req("idField"),
        textField = o.req("textField"),
        action = o.str("action", "write"),
        shingleLength = o.intOpt("shingleLength").getOrElse(8),
        hashMode = o.str("hashMode", "xxhash64"),
        numBuckets = o.intOpt("numBuckets").getOrElse(64),
        persist = o.bool("persist"))
    case "IvfIndexLoad" =>
      IvfIndexLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        idField = o.req("idField"), vectorField = o.req("vectorField"),
        numLists = o.intOpt("numLists").getOrElse(16),
        action = o.str("action", "write"),
        seed = o.intOpt("seed").map(_.toLong).getOrElse(42L),
        pqSubspaces = o.intOpt("pqSubspaces").getOrElse(0),
        pqCodesPerSub = o.intOpt("pqCodesPerSub").getOrElse(16),
        pqResidual = o.bool("pqResidual"),
        replace = o.bool("replace"))
    case "IvfQueryTransform" =>
      IvfQueryTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        indexURI = o.req("indexURI"), idField = o.req("idField"),
        vectorField = o.req("vectorField"),
        k = o.intOpt("k").getOrElse(10),
        numProbes = o.intOpt("numProbes").getOrElse(2),
        quantized = o.bool("quantized"),
        shortlistFactor = o.intOpt("shortlistFactor").getOrElse(4),
        pq = o.bool("pq"),
        persist = o.bool("persist"))
    case "IvfRecallTransform" =>
      IvfRecallTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        indexURI = o.req("indexURI"), idField = o.req("idField"),
        vectorField = o.req("vectorField"),
        k = o.intOpt("k").getOrElse(10),
        numProbes = o.intOpt("numProbes").getOrElse(2),
        quantized = o.bool("quantized"),
        shortlistFactor = o.intOpt("shortlistFactor").getOrElse(4),
        pq = o.bool("pq"),
        persist = o.bool("persist"))
    case "PqQueryTransform" =>
      PqQueryTransform(o.req("name"), o.req("inputView"), o.req("corpusView"),
        o.req("outputView"), idField = o.req("idField"),
        vectorField = o.req("vectorField"),
        dim = o.intOpt("dim").getOrElse(
          throw new IllegalArgumentException("PqQueryTransform: dim is required")),
        k = o.intOpt("k").getOrElse(10),
        numSubspaces = o.intOpt("numSubspaces").getOrElse(8),
        numCodes = o.intOpt("numCodes").getOrElse(16),
        shortlistFactor = o.intOpt("shortlistFactor").getOrElse(4),
        seed = o.intOpt("seed").map(_.toLong).getOrElse(42L),
        persist = o.bool("persist"))
    case "HeavyHittersTransform" =>
      HeavyHittersTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        keyField = o.str("keyField", ""),
        cap = o.intOpt("cap").getOrElse(64),
        action = o.str("action", "estimate"),
        persist = o.bool("persist"))
    case "IndexDedupTransform" =>
      IndexDedupTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        indexURI = o.req("indexURI"), idField = o.req("idField"),
        textField = o.req("textField"), threshold = o.dbl("threshold", 0.8),
        action = o.str("action", "filter"),
        maxCandidatesPerDoc = o.intOpt("maxCandidatesPerDoc").getOrElse(64),
        persist = o.bool("persist"))
    case "SegmentDedupTransform" =>
      SegmentDedupTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        idField = o.req("idField"), textField = o.req("textField"),
        segmentWords = o.intOpt("segmentWords").getOrElse(8),
        action = o.str("action", "stats"),
        maxSharedFraction = o.dbl("maxSharedFraction", 0.5),
        maxDocFreq = o.intOpt("maxDocFreq").getOrElse(1).toLong,
        minLength = o.intOpt("minLength").getOrElse(32),
        maskBits = o.intOpt("maskBits").getOrElse(6),
        maxLength = o.intOpt("maxLength").getOrElse(512),
        persist = o.bool("persist"))
    case "LineFilterTransform" =>
      LineFilterTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        idField = o.req("idField"), textField = o.req("textField"),
        minWords = o.intOpt("minWords").getOrElse(3),
        minLines = o.intOpt("minLines").getOrElse(1),
        action = o.str("action", "report"), persist = o.bool("persist"))
    case "QuantizeTransform" =>
      QuantizeTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        idField = o.req("idField"), vectorField = o.req("vectorField"),
        action = o.str("action", "codes"), persist = o.bool("persist"))
    case "RedactTransform" =>
      RedactTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"), counts = o.bool("counts"),
        persist = o.bool("persist"))
    case "MediaTransform" =>
      MediaTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        binaryField = o.req("binaryField"), action = o.str("action", "decode"),
        targetWidth = o.intOpt("targetWidth").getOrElse(224),
        targetHeight = o.intOpt("targetHeight").getOrElse(224),
        numFrames = o.intOpt("numFrames").getOrElse(8),
        targetSampleRate = o.intOpt("targetSampleRate").getOrElse(16000),
        persist = o.bool("persist"))
    case "TokenizerTransform" =>
      TokenizerTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"), mode = o.str("mode", "train"),
        algo = o.str("algo", "bpe"),
        numMerges = o.intOpt("numMerges").getOrElse(200),
        maxWords = o.intOpt("maxWords").getOrElse(50000),
        vocabSize = o.intOpt("vocabSize").getOrElse(8000),
        maxPieceLen = o.intOpt("maxPieceLen").getOrElse(8),
        emIters = o.intOpt("emIters").getOrElse(3),
        mergesView = o.str("mergesView", ""),
        vocabView = o.str("vocabView", ""),
        byteFallback = o.bool("byteFallback"),
        idsField = o.str("idsField", "ids"),
        groupField = o.str("groupField", ""),
        maxInputChars = o.intOpt("maxInputChars").getOrElse(100),
        persist = o.bool("persist"))
    case "WordCountsTransform" =>
      WordCountsTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        countsURI = o.req("countsURI"),
        textField = o.str("textField", "text"),
        action = o.str("action", "write"),
        corpusView = o.str("corpusView", ""),
        idField = o.str("idField", "id"),
        persist = o.bool("persist"))
    case "CompactExecute" =>
      CompactExecute(o.req("name"), o.req("outputView"),
        minhashURI = o.str("minhashURI", ""),
        spanURI = o.str("spanURI", ""),
        semURI = o.str("semURI", ""),
        ivfURI = o.str("ivfURI", ""),
        countsURI = o.str("countsURI", ""),
        modelURI = o.str("modelURI", ""),
        auditURI = o.str("auditURI", ""),
        action = o.str("action", "compact"),
        maxFilesPerPartition = o.intOpt("maxFilesPerPartition").getOrElse(8),
        recallK = o.intOpt("recallK").getOrElse(10),
        recallNprobe = o.intOpt("recallNprobe").getOrElse(2),
        recallSample = o.intOpt("recallSample").getOrElse(64),
        recallFloor = o.dbl("recallFloor", 0.0),
        persist = o.bool("persist"))
    case "TakedownExecute" =>
      TakedownExecute(o.req("name"), o.req("inputView"), o.req("outputView"),
        idField = o.req("idField"),
        minhashURI = o.str("minhashURI", ""),
        spanURI = o.str("spanURI", ""),
        semURI = o.str("semURI", ""),
        ivfURI = o.str("ivfURI", ""),
        countsURI = o.str("countsURI", ""),
        modelURI = o.str("modelURI", ""),
        corpusView = o.str("corpusView", ""),
        textField = o.str("textField", "text"),
        labelField = o.str("labelField", "label"),
        auditURI = o.str("auditURI", ""),
        requestId = o.str("requestId", ""),
        resume = o.bool("resume"),
        action = o.str("action", "delete"),
        persist = o.bool("persist"))
    case "MojibakeTransform" =>
      MojibakeTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"),
        outputField = o.str("outputField", "text_fixed"),
        maxPasses = o.intOpt("maxPasses").getOrElse(3),
        mode = o.str("mode", "document"),
        persist = o.bool("persist"))
    case "HtmlTextTransform" =>
      HtmlTextTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        htmlField = o.req("htmlField"),
        outputField = o.str("outputField", "text_extracted"),
        persist = o.bool("persist"))
    case "LangIdTransform" =>
      LangIdTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"), method = o.str("method", "ngram"),
        outputField = o.str("outputField", "lang_pred"),
        persist = o.bool("persist"))
    case "ClassifierTransform" =>
      ClassifierTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"), mode = o.str("mode", "train"),
        labelField = o.str("labelField", "label"),
        idField = o.str("idField", "id"),
        modelView = o.str("modelView", ""),
        corpusView = o.str("corpusView", ""),
        modelURI = o.str("modelURI", ""),
        maxVocab = o.intOpt("maxVocab").getOrElse(0),
        minCount = o.intOpt("minCount").map(_.toLong).getOrElse(1L),
        persist = o.bool("persist"))
    case "OutlierTransform" =>
      OutlierTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        valueField = o.req("valueField"), groupFields = o.strList("groupFields"),
        mode = o.str("mode", "flag"), k = o.dbl("k", 3.5),
        quantiles = {
          val qs = o.dblList("quantiles")
          if (qs.nonEmpty) qs else Seq(0.5)
        },
        persist = o.bool("persist"))
    case "CmsTransform" =>
      CmsTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        keyField = o.str("keyField", ""), weightField = o.str("weightField", ""),
        sketchView = o.str("sketchView", ""), mode = o.str("mode", "build"),
        depth = o.intOpt("depth").getOrElse(4), width = o.intOpt("width").getOrElse(1024),
        persist = o.bool("persist"))
    case "LangModelTransform" =>
      LangModelTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.str("textField", "text"), idField = o.str("idField", ""),
        bigramView = o.str("bigramView", ""), unigramView = o.str("unigramView", ""),
        mode = o.str("mode", "score"),
        vocabSize = o.intOpt("vocabSize").map(_.toLong).getOrElse(0L),
        alpha = o.dbl("alpha", 1.0),
        rareMax = o.intOpt("rareMax").map(_.toLong).getOrElse(2L),
        persist = o.bool("persist"))
    case "BloomTransform" =>
      BloomTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        keyField = o.str("keyField", ""), sketchView = o.str("sketchView", ""),
        filterView = o.str("filterView", ""),
        filterKeyField = o.str("filterKeyField", ""),
        mode = o.str("mode", "build"),
        bits = o.intOpt("bits").map(_.toLong).getOrElse(1L << 22),
        hashes = o.intOpt("hashes").getOrElse(5),
        persist = o.bool("persist"))
    case "HistogramTransform" =>
      HistogramTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        valueField = o.str("valueField", ""), mode = o.str("mode", "segment"),
        lo = o.dbl("lo", 0.0), hi = o.dbl("hi", 1.0),
        bins = o.intOpt("bins").getOrElse(64),
        quantiles = {
          val qs = o.dblList("quantiles")
          if (qs.isEmpty) Seq(0.5, 0.9, 0.99) else qs
        },
        groupFields = o.strList("groupFields"),
        compareView = o.str("compareView", ""),
        persist = o.bool("persist"))
    case "ResampleTransform" =>
      ResampleTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        keyField = o.req("keyField"), timeField = o.req("timeField"),
        valueField = o.req("valueField"),
        step = o.str("step", "1 hour"), persist = o.bool("persist"))
    case "SketchTransform" =>
      SketchTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        groupFields = o.strList("groupFields"), sketchFields = o.strList("sketchFields"),
        mode = o.str("mode", "estimate"),
        lgK = o.intOpt("lgK").getOrElse(12), persist = o.bool("persist"))
    case "ChunkTransform" =>
      ChunkTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        textField = o.req("textField"),
        chunkSize = o.intOpt("chunkSize").getOrElse(2048),
        overlap = o.intOpt("overlap").getOrElse(0),
        method = o.str("method", "tokens"),
        minLength = o.intOpt("minLength").getOrElse(64),
        maskBits = o.intOpt("maskBits").getOrElse(8),
        maxLength = o.intOpt("maxLength").getOrElse(1024),
        persist = o.bool("persist"))
    case "PackingTransform" =>
      PackingTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        shardField = o.req("shardField"),
        orderField = o.req("orderField"),
        method = o.str("method", "greedy"),
        tokensField = o.str("tokensField", "n_tokens"),
        maxTokens = o.intOpt("maxTokens").map(_.toLong).getOrElse(2048L),
        docIdField = o.str("docIdField", "doc_id"),
        idsField = o.str("idsField", "ids"),
        contextLength = o.intOpt("contextLength").getOrElse(2048),
        bosId = o.intOpt("bosId").map(_.toLong).getOrElse(1L),
        eosId = o.intOpt("eosId").map(_.toLong).getOrElse(2L),
        persist = o.bool("persist"))
    case "SampleTransform" =>
      SampleTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        method = o.str("method", "hash"), keyField = o.req("keyField"),
        rate = o.dbl("rate", 0.1), weightField = o.str("weightField", ""),
        strataFields = o.strList("strataFields"), fractions = o.dblMap("fractions"),
        cap = o.intOpt("cap").getOrElse(0), salt = o.str("salt", ""),
        corpusView = o.str("corpusView", ""),
        carryFields = o.strList("carryFields"),
        vectorField = o.str("vectorField", ""),
        persist = o.bool("persist"))
    case "MetadataTransform" =>
      MetadataTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        fieldMetadata = (o.jv \ "fieldMetadata") match {
          case JObject(kvs) => kvs.map { case (k, v) =>
            k -> StageFields(v).allStrings
          }.toMap
          case _ => Map.empty
        }, persist = o.bool("persist"))
    case "MetadataFilterTransform" =>
      MetadataFilterTransform(o.req("name"), o.req("inputView"), o.req("outputView"),
        sql = o.req("sql"), sqlParams = o.strMap("sqlParams"), persist = o.bool("persist"))
    case "MLTransform" =>
      MLTransform(o.req("name"), o.req("inputURI"), o.req("inputView"), o.req("outputView"))
    case "TensorFlowServingTransform" =>
      TensorFlowServingTransform(o.req("name"), o.req("inputURI"), o.req("inputView"),
        o.req("outputView"), inputField = o.str("inputField", "value"),
        signatureName = o.str("signatureName", "serving_default"),
        batchSize = o.intOpt("batchSize").getOrElse(100),
        responseType = o.str("responseType", "double"), persist = o.bool("persist"))
    case "ParquetLoad" =>
      ParquetLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        saveMode = o.str("saveMode", "Overwrite"), numPartitions = o.intOpt("numPartitions"),
        partitionBy = o.strList("partitionBy"), clusterBy = o.strList("clusterBy"),
        zOrderBy = o.strList("zOrderBy"),
        zOrderSampleFraction = o.dbl("zOrderSampleFraction", 1.0),
        dynamicPartitionOverwrite = o.bool("dynamicPartitionOverwrite"))
    case "ORCLoad" =>
      ORCLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        saveMode = o.str("saveMode", "Overwrite"), numPartitions = o.intOpt("numPartitions"),
        partitionBy = o.strList("partitionBy"), clusterBy = o.strList("clusterBy"),
        zOrderBy = o.strList("zOrderBy"),
        zOrderSampleFraction = o.dbl("zOrderSampleFraction", 1.0))
    case "DelimitedLoad" =>
      DelimitedLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        delimiter = o.str("delimiter", ","), header = o.bool("header", default = true),
        saveMode = o.str("saveMode", "Overwrite"), numPartitions = o.intOpt("numPartitions"),
        partitionBy = o.strList("partitionBy"))
    case "JSONLoad" =>
      JSONLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        saveMode = o.str("saveMode", "Overwrite"), numPartitions = o.intOpt("numPartitions"),
        partitionBy = o.strList("partitionBy"))
    case "TextLoad" =>
      TextLoad(o.req("name"), o.req("inputView"), o.req("outputURI"),
        saveMode = o.str("saveMode", "Overwrite"), numPartitions = o.intOpt("numPartitions"))
    case "BucketedTableLoad" =>
      BucketedTableLoad(o.req("name"), o.req("inputView"), table = o.req("table"),
        bucketByFields = o.strList("bucketByFields"),
        numBuckets = o.intOpt("numBuckets").getOrElse(32),
        sortByFields = o.strList("sortByFields"),
        format = o.str("format", "parquet"))
    case "ConsoleLoad" =>
      ConsoleLoad(o.req("name"), o.req("inputView"), o.str("outputMode", "append"))
    case "SQLValidate" =>
      SQLValidate(o.req("name"), o.req("sql"), o.strMap("sqlParams"))
    case "MetadataValidate" =>
      MetadataValidate(o.req("name"), o.req("inputView"), o.req("sql"), o.strMap("sqlParams"))
    case "EqualityValidate" =>
      EqualityValidate(o.req("name"), o.req("leftView"), o.req("rightView"))
    case "LogExecute" =>
      LogExecute(o.req("name"), o.req("sql"), o.strMap("sqlParams"))
    case "ConfigExecute" =>
      ConfigExecute(o.req("name"), o.req("sql"), o.strMap("sqlParams"))
    case "HTTPExecute" =>
      HTTPExecute(o.req("name"), o.req("uri"), payload = o.str("payload", ""),
        headers = o.strMap("headers"),
        validStatusCodes = {
          val vs = (o.jv \ "validStatusCodes") match {
            case JArray(xs) => xs.collect { case JInt(i) => i.toInt }
            case _          => Nil
          }
          if (vs.nonEmpty) vs else Seq(200, 201, 202)
        })
    case "PipelineExecute" =>
      // The caller's environment/params thread through: a nested pipeline's
      // `environments` lists must filter against the SAME active environment
      // as the outer one (round-2 finding: nested stages silently filtered
      // against the default).
      PipelineExecute(o.req("name"), parseValue(o.jv \ "stages", environment, params))
    case other =>
      throw new IllegalArgumentException(s"unknown stage type: $other")
  }

  /** Typed field access over one stage's JSON object. */
  final case class StageFields(jv: JValue) {
    private val obj: Map[String, JValue] = jv match {
      case JObject(kvs) => kvs.toMap
      case other        => throw new IllegalArgumentException(s"stage is not an object: $other")
    }
    def req(k: String): String =
      strOpt(k).getOrElse(throw new IllegalArgumentException(
        s"stage ${obj.get("name").collect { case JString(s) => s }.getOrElse("?")} missing '$k'"))
    def strOpt(k: String): Option[String] = obj.get(k).collect {
      case JString(s) => s
      case JInt(i)    => i.toString
      case JBool(b)   => b.toString
      case JDouble(d) => d.toString
    }
    def str(k: String, default: String): String = strOpt(k).getOrElse(default)
    def bool(k: String, default: Boolean = false): Boolean =
      obj.get(k).collect { case JBool(b) => b }.getOrElse(default)
    def dbl(k: String, default: Double): Double = obj.get(k).collect {
      case JDouble(d) => d
      case JInt(i)    => i.toDouble
    }.getOrElse(default)
    def intOpt(k: String): Option[Int] = obj.get(k).collect { case JInt(i) => i.toInt }
    def strList(k: String): Seq[String] = obj.get(k).collect {
      case JArray(xs) => xs.collect { case JString(s) => s }
    }.getOrElse(Nil)
    def dblList(k: String): Seq[Double] = obj.get(k).collect {
      case JArray(xs) => xs.collect {
        case JDouble(d) => d
        case JInt(i)    => i.toDouble
      }
    }.getOrElse(Nil)
    def strMap(k: String): Map[String, String] = obj.get(k).collect {
      case JObject(kvs) => kvs.collect { case (key, JString(v)) => key -> v }.toMap
    }.getOrElse(Map.empty)
    def dblMap(k: String): Map[String, Double] = obj.get(k).collect {
      case JObject(kvs) => kvs.collect {
        case (key, JDouble(v)) => key -> v
        case (key, JInt(v))    => key -> v.toDouble
        case (key, JString(v)) => key -> v.toDouble
      }.toMap
    }.getOrElse(Map.empty)
    def allStrings: Map[String, String] = obj.collect { case (k, JString(v)) => k -> v }
    def watermark: Option[graft.extract.Watermark] = obj.get("watermark").collect {
      case w: JObject =>
        val f = StageFields(w)
        graft.extract.Watermark(f.req("eventTime"), f.req("delayThreshold"))
    }
  }
}
