package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.reflect.runtime.universe._
import scala.util.Try

/** Parity of the derived config parser (PipelineConfig) with the parent's
  * hand-written one (OldPipelineConfig):
  *  1. every recorded config text: same Seq[Stage] (==), or list the difference;
  *  2. per stage type, the minimal text (required keys only): same stage;
  *  3. per stage type and key, a text setting that key alone: keys the old
  *     parser ignored ("newly settable") and any other disagreement.
  */
object Parity {
  def render(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  def main(args: Array[String]): Unit = {
    val out = new StringBuilder
    def say(s: String): Unit = { println(s); out ++= s + "\n" }

    // 1. recorded texts
    val recs = scala.io.Source.fromFile(args(0)).getLines().map(JsonMethods.parse(_)).toSeq
      .map { j =>
        val JString(t) = j \ "text": @unchecked
        val JString(e) = j \ "environment": @unchecked
        val JObject(ps) = j \ "params": @unchecked
        (t, e, ps.collect { case (k, JString(v)) => k -> v }.toMap)
      }.++(graft.repl.Completions.static.map(_.snippet)
        .filter(s => s.startsWith("{type") || s.startsWith("{stages"))
        .map(s => (s, "production", Map.empty[String, String])))
      .distinctBy(r => (r._1, r._2))
    var same, diff, oldOnly, newOnly, bothFail = 0
    recs.foreach { case (t, e, p) =>
      val o = Try(OldPipelineConfig.parse(t, e, p))
      val n = Try(PipelineConfig.parse(t, e, p))
      (o.toOption, n.toOption) match {
        case (Some(a), Some(b)) if a == b => same += 1
        case (Some(a), Some(b)) =>
          diff += 1
          say(s"DIFF text=${t.take(400)}\n  old=$a\n  new=$b")
        case (Some(a), None) =>
          oldOnly += 1
          say(s"REFUSED-BY-NEW text=${t.take(600)}\n  error=${n.failed.get.getMessage}")
        case (None, Some(b)) =>
          newOnly += 1
          say(s"ACCEPTED-BY-NEW-ONLY text=${t.take(400)}\n  old error=${o.failed.get}")
        case (None, None) =>
          bothFail += 1
          say(s"REFUSED-BY-BOTH text=${t.replaceAll("\\s+", " ").take(300)}\n  old=${o.failed.get.getMessage}\n  new=${n.failed.get.getMessage}")
      }
    }
    val stageObjs = recs.map(_._1).map(t => Try(PipelineConfig.parse(t)).map(_.size).getOrElse(0)).sum
    say(s"recorded texts: ${recs.size} distinct (${stageObjs} stages parsed by the new parser); " +
      s"equal=$same differ=$diff refusedByNew=$oldOnly acceptedByNewOnly=$newOnly bothRefuse=$bothFail")

    // 2./3. per stage type
    val mirror = runtimeMirror(getClass.getClassLoader)
    var minimalSame = 0
    val settable = scala.collection.mutable.ArrayBuffer[String]()
    PipelineConfig.stageTypes.foreach { cls =>
      val tname = cls.getSimpleName
      val companion = Class.forName(cls.getName + "$").getField("MODULE$").get(null)
      val params = mirror.classSymbol(cls).primaryConstructor.asMethod.paramLists.head.zipWithIndex
        .map { case (p, i) =>
          val default = companion.getClass.getMethods.find(_.getName == s"apply$$default$$${i + 1}")
            .map(_.invoke(companion))
          (p.name.decodedName.toString, p.typeSignature, default)
        }
      def isColl(t: Type) = t <:< typeOf[Seq[Any]] || t <:< typeOf[Map[_, _]]
      val requiredKeys = params.filter { case (k, t, d) =>
        d.isEmpty && (!isColl(t) || k == "schema" || k == "stages") }
      val minimal = JObject(("type" -> JString(tname)) :: requiredKeys.map { case (k, t, _) =>
        k -> (if (isColl(t)) JArray(Nil) else if (k == "name") JString("n") else JInt(1))
      })
      val o = Try(OldPipelineConfig.parse(render(minimal)))
      val n = Try(PipelineConfig.parse(render(minimal)))
      if (o.isSuccess && n.isSuccess && o.get == n.get) minimalSame += 1
      else say(s"MINIMAL $tname text=${render(minimal)}\n  old=$o\n  new=$n")
      params.foreach { case (k, t, d) =>
        val v: Option[JValue] =
          if (t =:= typeOf[String] || t =:= typeOf[Option[String]]) Some(JString("zz_set"))
          else if (t =:= typeOf[Int] || t =:= typeOf[Long] || t =:= typeOf[Option[Int]]) Some(JInt(7))
          else if (t =:= typeOf[Double]) Some(JDouble(0.37))
          else if (t =:= typeOf[Boolean]) Some(JBool(!d.contains(true)))
          else if (t =:= typeOf[Seq[String]]) Some(JArray(List(JString("a"), JString("b"))))
          else if (t =:= typeOf[Seq[Double]]) Some(JArray(List(JDouble(0.25), JDouble(0.75))))
          else if (t =:= typeOf[Seq[Int]]) Some(JArray(List(JInt(204))))
          else if (t =:= typeOf[Map[String, String]]) Some(JObject("a" -> JString("b")))
          else if (t =:= typeOf[Map[String, Double]]) Some(JObject("a" -> JDouble(0.5)))
          else if (k == "schema") Some(JsonMethods.parse("""[{"name": "a", "type": "integer"}]"""))
          else if (k == "watermark") Some(JsonMethods.parse("""{"eventTime": "ts", "delayThreshold": "1 minute"}"""))
          else if (k == "fieldMetadata") Some(JsonMethods.parse("""{"a": {"pii": "true"}}"""))
          else if (k == "stages") Some(JsonMethods.parse("""[{"type": "SQLTransform", "name": "s", "sql": "SELECT 1", "outputView": "v"}]"""))
          else None
        v.foreach { value =>
          val text = render(JObject(minimal.obj.filterNot(_._1 == k) :+ (k -> value)))
          val o = Try(OldPipelineConfig.parse(text))
          val n = Try(PipelineConfig.parse(text))
          (o.toOption, n.toOption) match {
            case (Some(a), Some(b)) if a == b =>
            case (Some(Seq(a: Product)), Some(Seq(b: Product))) =>
              val i = b.productElementNames.indexOf(k)
              val oldV = a.productElement(i)
              val newV = b.productElement(i)
              val rest = a.productIterator.zip(b.productIterator).zipWithIndex.filter(_._2 != i).forall { case ((x, y), _) => x == y }
              if (rest && oldV == d.orNull) settable += s"$tname.$k"
              else say(s"SET-ONE $tname.$k text=$text\n  old=$a\n  new=$b")
            case _ => say(s"SET-ONE $tname.$k text=$text\n  old=$o\n  new=$n")
          }
        }
      }
    }
    say(s"minimal texts equal: $minimalSame/${PipelineConfig.stageTypes.size}")
    say(s"newly settable (${settable.size}): ${settable.mkString(", ")}")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(1)), out.toString.getBytes("UTF-8"))
  }
}
