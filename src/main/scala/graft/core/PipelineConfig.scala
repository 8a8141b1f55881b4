package graft.core

import java.lang.reflect.{Constructor, InvocationTargetException}
import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.{appliedType, runtimeMirror, typeOf, Type}
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.commons.text.similarity.LevenshteinDistance
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.extract._
import graft.load._
import graft.schema.{FieldSpec, MetadataSchema}
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
  *
  * A stage's keys are declared once, by its case class: every parameter of
  * the primary constructor is a key of the same name and type, and an absent
  * key takes the constructor's default (a list or map key without one reads
  * as empty; any other is required). Function-typed parameters are not keys.
  * Besides those, every stage takes `type` and `environments`, and nothing
  * else: an unknown key is refused with the known key nearest to it.
  * Values convert like HOCON's typed getters: `"50"` is an integer key's 50,
  * `"true"` a boolean's true, and numbers and booleans in a string key, list
  * or map read as their text. A value that does not convert is refused. A
  * null, or an empty list where the constructor has a default, reads as
  * absent. Every error of a cell, nested `PipelineExecute` stages included,
  * is reported together in one `IllegalArgumentException`.
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
    (parseValue(root, environment),
      plugins(root \ "plugins" \ "lifecycle", environment, classOf[LifecycleHook], "lifecycle"))
  }

  /** A `%lifecycleplugin` cell: the body is the plugin list itself — either
    * a full `{plugins: {lifecycle: [...]}}` document, a bare array, or a
    * single plugin object (reference magic at ArcInterpreter.scala:259-264).
    */
  def parseLifecycleCell(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): Seq[LifecycleHook] = cellPlugins(json, environment, params, classOf[LifecycleHook], "lifecycle")

  /** A `%configplugin` cell: `plugins.config` entries (or a bare list /
    * single object) instantiating [[ConfigPlugin]] classes — reference
    * ArcInterpreter.scala:259-261 routes `%configplugin` into the same
    * config parse as `%lifecycleplugin`.
    */
  def parseConfigCell(
      json: String,
      environment: String = "production",
      params: Map[String, String] = Map.empty
  ): Seq[ConfigPlugin] = cellPlugins(json, environment, params, classOf[ConfigPlugin], "config")

  private def cellPlugins[T](json: String, environment: String, params: Map[String, String],
      iface: Class[T], kind: String): Seq[T] = {
    val root = parseDoc(json, params)
    plugins(root \ "plugins" \ kind match {
      case JNothing => root
      case nested   => nested
    }, environment, iface, kind)
  }

  /** The active entries of a `plugins.<kind>` list (or single entry), instantiated. */
  private def plugins[T](entries: JValue, environment: String, iface: Class[T], kind: String): Seq[T] =
    (entries match {
      case JArray(xs) => xs
      case o: JObject => List(o)
      case JNothing   => Nil
      case other => throw new IllegalArgumentException(s"'plugins.$kind' is not a list: $other")
    }).map(fields).filter(active(_, environment)).map(instantiate(_, iface, s"$kind plugin"))

  private def instantiate[T](o: Map[String, JValue], iface: Class[T], what: String): T = {
    val className = required(o, "type")
    val cls =
      try Class.forName(className)
      catch {
        case _: ClassNotFoundException =>
          throw new IllegalArgumentException(s"$what class not found on classpath: $className")
      }
    if (!iface.isAssignableFrom(cls))
      throw new IllegalArgumentException(s"$className does not implement ${iface.getName}")
    val pluginParams = o.collect { case (k, JString(v)) if k != "type" => k -> v }
    val ctors = cls.getConstructors
    val inst = ctors.find(_.getParameterTypes.sameElements(Array(classOf[Map[_, _]])))
      .map(_.newInstance(pluginParams))
      .orElse(ctors.find(_.getParameterCount == 0).map(_.newInstance()))
      .getOrElse(throw new IllegalArgumentException(
        s"$className needs a (Map[String,String]) or no-arg public constructor"))
    inst.asInstanceOf[T]
  }

  private def parseValue(root: JValue, environment: String): Seq[Stage] = {
    val cell = new Cell(environment)
    val stages = stageList(root match {
      case o: JObject if o.obj.exists(_._1 == "stages") => root \ "stages" match {
        case JArray(xs) => xs
        case other      => throw new IllegalArgumentException(s"'stages' is not an array: $other")
      }
      // plugins-only document: a zero-stage cell that registers lifecycle
      // plugins is valid (reference ArcInterpreter.scala:427-434)
      case o: JObject if o.obj.exists(_._1 == "plugins") => Nil
      case obj: JObject => List(obj) // single stage object
      case JArray(xs)   => xs // bare array of stages
      case other => throw new IllegalArgumentException(s"config is not a stage list: $other")
    }, cell)
    if (cell.errors.nonEmpty) throw new IllegalArgumentException(cell.errors.mkString("\n"))
    stages
  }

  /** The errors of one cell, gathered across its stages (nested pipelines
    * included), and the environment its stages are filtered against.
    */
  private final class Cell(val environment: String) {
    val errors = ArrayBuffer[String]()
  }

  /** The active stages of a list; a stage with errors adds them to the cell. */
  private def stageList(values: List[JValue], cell: Cell): List[Stage] =
    values.flatMap { jv =>
      try {
        val o = fields(jv)
        if (!active(o, cell.environment)) None
        else {
          val tpe = required(o, "type")
          declarations.getOrElse(tpe, throw new IllegalArgumentException(s"unknown stage type: $tpe"))
            .build(o, cell)
        }
      } catch { case e: IllegalArgumentException => cell.errors += e.getMessage; None }
    }

  /** The stage types a config may name. Each one's config keys are its
    * primary constructor's parameters, read once per JVM (see
    * [[declarations]]).
    */
  private[graft] val stageTypes: Seq[Class[_ <: Stage]] = Seq(
    classOf[ParquetExtract], classOf[DelimitedExtract], classOf[JSONExtract], classOf[ORCExtract],
    classOf[AvroExtract], classOf[TextExtract], classOf[BytesExtract], classOf[ImageExtract],
    classOf[XMLExtract], classOf[RateExtract], classOf[MetadataExtract], classOf[StatisticsExtract],
    classOf[SQLTransform], classOf[TypingTransform], classOf[DiffTransform],
    classOf[SimilarityJoinTransform], classOf[DeduplicateTransform], classOf[DecontaminateTransform],
    classOf[MinhashIndexLoad], classOf[SemIndexLoad], classOf[SemIndexDedupTransform],
    classOf[SpanIndexTransform], classOf[IvfIndexLoad], classOf[IvfQueryTransform],
    classOf[IvfRecallTransform], classOf[PqQueryTransform], classOf[HeavyHittersTransform],
    classOf[IndexDedupTransform], classOf[SegmentDedupTransform], classOf[LineFilterTransform],
    classOf[QuantizeTransform], classOf[RedactTransform], classOf[MediaTransform],
    classOf[TokenizerTransform], classOf[WordCountsTransform], classOf[CompactExecute],
    classOf[TakedownExecute], classOf[MojibakeTransform], classOf[HtmlTextTransform],
    classOf[LangIdTransform], classOf[ClassifierTransform], classOf[OutlierTransform],
    classOf[CmsTransform], classOf[LangModelTransform], classOf[BloomTransform],
    classOf[HistogramTransform], classOf[ResampleTransform], classOf[SketchTransform],
    classOf[ChunkTransform], classOf[PackingTransform], classOf[SampleTransform],
    classOf[MetadataTransform], classOf[MetadataFilterTransform], classOf[MLTransform],
    classOf[TensorFlowServingTransform], classOf[ParquetLoad], classOf[ORCLoad],
    classOf[DelimitedLoad], classOf[JSONLoad], classOf[TextLoad], classOf[BucketedTableLoad],
    classOf[ConsoleLoad], classOf[SQLValidate], classOf[MetadataValidate],
    classOf[EqualityValidate], classOf[LogExecute], classOf[ConfigExecute], classOf[HTTPExecute],
    classOf[PipelineExecute])

  /** Keys every stage takes besides its constructor's parameters. */
  private val sharedKeys = Set("type", "environments")

  /** How a config value becomes a parameter's value. `empty` is what an
    * absent key takes when the constructor gives it no default.
    */
  private final case class Reader(read: (JValue, Cell) => Any, empty: Option[Any] = None)

  /** One constructor parameter. A function-typed one has no reader: it is
    * not a config key and always takes its default.
    */
  private final case class Param(key: String, reader: Option[Reader], default: Option[Any])

  private final class Decl(stageType: String, ctor: Constructor[_], params: Seq[Param]) {
    private val keys = params.filter(_.reader.isDefined).map(_.key).toSet ++ sharedKeys

    def build(o: Map[String, JValue], cell: Cell): Option[Stage] = {
      val before = cell.errors.size
      def error(msg: String): Null = { cell.errors += s"stage ${label(o)} $msg"; null }
      (o.keySet -- keys).toSeq.sorted.foreach { k =>
        val nearest = keys.minBy(LevenshteinDistance.getDefaultInstance.apply(k, _).intValue)
        error(s"has unknown key '$k' for $stageType; did you mean '$nearest'?")
      }
      val args = params.map { p =>
        // an empty list where the constructor has a default reads as absent
        val given = o.get(p.key).filterNot(_ == JArray(Nil) && p.default.isDefined)
        try p.reader.filter(_ => given.isDefined).flatMap(r => value(o, p.key)(r.read(_, cell)))
          .orElse(p.default)
          .orElse(p.reader.flatMap(_.empty))
          .getOrElse(error(s"missing '${p.key}'"))
        catch { case e: IllegalArgumentException => cell.errors += e.getMessage; null }
      }
      if (cell.errors.size > before) None
      else
        try Some(ctor.newInstance(args.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[Stage])
        catch { case e: InvocationTargetException => throw e.getCause }
    }
  }

  /** Each stage type's declaration, read from its case class: the primary
    * constructor's parameter names and types (Scala reflection) and the
    * values of the companion's `apply$default$N` methods. A lazy val, so
    * the one build per JVM happens on the first parse and concurrent first
    * parses wait for it.
    */
  private lazy val declarations: Map[String, Decl] = {
    val mirror = runtimeMirror(getClass.getClassLoader)
    stageTypes.map { cls =>
      val ctorParams = mirror.classSymbol(cls).primaryConstructor.asMethod.paramLists.head
      val companion = Class.forName(cls.getName + "$").getField("MODULE$").get(null)
      val params = ctorParams.zipWithIndex.map { case (p, i) =>
        val t = p.typeSignature
        val reader =
          if (t.typeSymbol.fullName.startsWith("scala.Function")) None
          else Some(readers.collectFirst { case (rt, r) if t =:= rt => r }.getOrElse(
            throw new IllegalStateException(s"${cls.getSimpleName}.${p.name}: no config reader for $t")))
        val default = companion.getClass.getMethods.find(_.getName == s"apply$$default$$${i + 1}")
          .map(_.invoke(companion))
        Param(p.name.decodedName.toString, reader, default)
      }
      val ctor = cls.getConstructors.find(_.getParameterCount == params.size).get
      cls.getSimpleName -> new Decl(cls.getSimpleName, ctor, params)
    }.toMap
  }

  /** The reader of each parameter type a stage constructor uses. */
  private lazy val readers: Seq[(Type, Reader)] = {
    def plain(f: JValue => Any) = Reader((v, _) => f(v))
    def list(f: JValue => Any) = Reader((v, _) => listOf(f)(v), Some(Nil))
    def map(f: JValue => Any) = Reader((v, _) => mapOf(f)(v), Some(Map.empty))
    def schema(v: JValue) = MetadataSchema.fromJson(JsonMethods.compact(JsonMethods.render(v)))
    val option = typeOf[Option[Any]].typeConstructor
    Seq[(Type, JValue => Any)](typeOf[String] -> text, typeOf[Int] -> int, typeOf[Long] -> long,
      typeOf[Double] -> double, typeOf[Boolean] -> bool).flatMap { case (t, f) =>
      Seq(t -> plain(f), appliedType(option, t) -> plain(v => Some(f(v))))
    } ++ Seq(
      typeOf[Seq[String]] -> list(text),
      typeOf[Seq[Double]] -> list(double),
      typeOf[Map[String, String]] -> map(text),
      typeOf[Map[String, Double]] -> map(double),
      // keys whose values are not scalars
      typeOf[Seq[Int]] -> list(int),
      typeOf[Map[String, Map[String, String]]] -> map(mapOf(text)),
      typeOf[Seq[FieldSpec]] -> plain(schema),
      typeOf[Option[StructType]] -> plain(v => Some(StructType(schema(v).map(_.structField)))),
      typeOf[Option[Watermark]] -> plain { v =>
        val w = fields(v)
        Some(Watermark(required(w, "eventTime"), required(w, "delayThreshold")))
      },
      // a nested pipeline's stages filter against the same active environment
      typeOf[Seq[Stage]] -> Reader((v, cell) => stageList(listOf(identity)(v).toList, cell)))
  }

  private def bad(v: JValue, expected: String) = new IllegalArgumentException(
    s"expected $expected, got ${JsonMethods.compact(JsonMethods.render(v))}")

  private def text(v: JValue): String = v match {
    case JString(s) => s
    case JInt(i)    => i.toString
    case JDouble(d) => d.toString
    case JBool(b)   => b.toString
    case other      => throw bad(other, "a string")
  }

  private def number(v: JValue): Option[BigDecimal] = v match {
    case JInt(i)    => Some(BigDecimal(i))
    case JDouble(d) => Some(BigDecimal(d))
    case JString(s) => Try(BigDecimal(s.trim)).toOption
    case _          => None
  }

  private def int(v: JValue): Int =
    number(v).filter(_.isValidInt).getOrElse(throw bad(v, "an integer")).toInt

  private def long(v: JValue): Long =
    number(v).filter(_.isValidLong).getOrElse(throw bad(v, "an integer")).toLong

  private def double(v: JValue): Double = number(v).getOrElse(throw bad(v, "a number")).toDouble

  private def bool(v: JValue): Boolean = v match {
    case JBool(b)                                       => b
    case JString("true") | JString("yes") | JString("on")  => true
    case JString("false") | JString("no") | JString("off") => false
    case other => throw bad(other, "a boolean")
  }

  private def listOf[T](f: JValue => T)(v: JValue): Seq[T] = v match {
    case JArray(xs) => xs.map(f)
    case other      => throw bad(other, "a list")
  }

  private def mapOf[T](f: JValue => T)(v: JValue): Map[String, T] = v match {
    case JObject(kvs) => kvs.map { case (k, x) => k -> f(x) }.toMap
    case other        => throw bad(other, "an object")
  }

  private def fields(jv: JValue): Map[String, JValue] = jv match {
    case JObject(kvs) => kvs.toMap
    case other        => throw new IllegalArgumentException(s"stage is not an object: $other")
  }

  private def label(o: Map[String, JValue]): String =
    o.get("name").collect { case JString(s) => s }.getOrElse("?")

  /** Key `k`'s value read by `f`; None when absent or null. */
  private def value[T](o: Map[String, JValue], k: String)(f: JValue => T): Option[T] =
    o.get(k).filter(_ != JNull).map { v =>
      try f(v)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"stage ${label(o)} key '$k': ${e.getMessage}")
      }
    }

  private def required(o: Map[String, JValue], k: String): String =
    value(o, k)(text).getOrElse(throw new IllegalArgumentException(s"stage ${label(o)} missing '$k'"))

  /** Whether an entry's `environments` list (empty: every environment)
    * names the active environment.
    */
  private def active(o: Map[String, JValue], environment: String): Boolean = {
    val envs = value(o, "environments")(listOf(text)).getOrElse(Nil)
    envs.isEmpty || envs.contains(environment)
  }
}
