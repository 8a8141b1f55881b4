package graft.tools

import graft.core.Sessions

/** Calibration probe for the language-ID `und` confidence floor: for a
  * grid of document-profile caps, prints the normalized out-of-place
  * distance and best/mean ratio for (a) every held-out POSITIVE sentence
  * of the 10 profiled languages, (b) every out-of-set NEGATIVE (fi/hu/cs,
  * code, letter soup), and (c) the real `documents` corpus distribution —
  * the floor must separate positives from negatives with the corpus's
  * English word salad staying classifiable.
  * Usage: runMain graft.tools.LangIdCalib [sfDir]
  */
object LangIdCalib {
  def main(args: Array[String]): Unit = {
    import graft.llm.LangId
    val profileSize = LangId.profileSize
    val untrained = new graft.functions.LangIdScorer(Nil, profileSize)
    val profiles: Seq[(String, Array[String])] =
      LangId.seedCorpora.keys.toSeq.sorted.map { l =>
        (l, untrained.profile(LangId.trainingText(l)))
      }
    val ranks: Seq[(String, java.util.HashMap[String, Integer])] =
      profiles.map { case (l, grams) =>
        val m = new java.util.HashMap[String, Integer]()
        grams.zipWithIndex.foreach { case (g, i) => m.put(g, i) }
        (l, m)
      }

    // out-of-place scoring with a configurable DOC profile cap
    def scores(text: String, docCap: Int): Seq[(String, Double)] = {
      val doc = untrained.profile(text).take(docCap)
      if (doc.isEmpty) return Nil
      ranks.map { case (l, rank) =>
        var d = 0L
        var i = 0
        while (i < doc.length) {
          val r = rank.get(doc(i))
          d += (if (r == null) profileSize else math.abs(r.intValue() - i))
          i += 1
        }
        (l, d.toDouble / (doc.length.toDouble * profileSize))
      }
    }

    for (docCap <- Seq(50, 100, 200, 400)) {
      println(s"\n===== docCap=$docCap =====")
      var posMaxAbs = 0.0; var posMaxR = 0.0
      var posWrong = 0
      LangId.heldOutSentences.toSeq.sortBy(_._1).foreach { case (lang, ss) =>
        ss.foreach { s =>
          val sc = scores(s, docCap)
          val best = sc.minBy(_._2)
          val mean = sc.map(_._2).sum / sc.length
          if (best._1 != lang) { posWrong += 1; println(s"  WRONG: $lang -> ${best._1}  ${s.take(40)}") }
          posMaxAbs = math.max(posMaxAbs, best._2)
          posMaxR = math.max(posMaxR, best._2 / mean)
        }
      }
      var negMinAbs = 1.0; var negMinR = 1.0
      LangId.negativeExamples.toSeq.sortBy(_._1).foreach { case (kind, ss) =>
        ss.foreach { s =>
          val sc = scores(s, docCap)
          val best = sc.minBy(_._2)
          val mean = sc.map(_._2).sum / sc.length
          println(f"  neg $kind%-5s -> ${best._1}%-3s abs=${best._2}%.4f ratio=${best._2 / mean}%.4f")
          negMinAbs = math.min(negMinAbs, best._2)
          negMinR = math.min(negMinR, best._2 / mean)
        }
      }
      println(f"  posWrong=$posWrong posMaxAbs=$posMaxAbs%.4f posMaxRatio=$posMaxR%.4f")
      println(f"  negMinAbs=$negMinAbs%.4f negMinRatio=$negMinR%.4f")

      // automatic AND-rule cutoff search: positive safe iff abs <= A OR
      // ratio <= R (margin = max(A-abs, R-ratio)); negative trips iff
      // abs > A AND ratio > R (margin = min(abs-A, ratio-R)); pick the
      // (A, R) maximizing the worst margin over ALL fixtures
      val pos = LangId.heldOutSentences.toSeq.flatMap(_._2).map { s =>
        val sc = scores(s, docCap); val b = sc.map(_._2).min
        (b, b / (sc.map(_._2).sum / sc.length))
      }
      val neg = LangId.negativeExamples.toSeq.flatMap(_._2).map { s =>
        val sc = scores(s, docCap); val b = sc.map(_._2).min
        (b, b / (sc.map(_._2).sum / sc.length))
      }
      var bestA = 0.0; var bestR = 0.0; var bestM = -1.0
      var a = 0.70
      while (a <= 0.86) {
        var r = 0.88
        while (r <= 0.99) {
          val mPos = pos.map { case (ab, ra) => math.max(a - ab, r - ra) }.min
          val mNeg = neg.map { case (ab, ra) => math.min(ab - a, ra - r) }.min
          val m = math.min(mPos, mNeg)
          if (m > bestM) { bestM = m; bestA = a; bestR = r }
          r += 0.001
        }
        a += 0.001
      }
      println(f"  cutoff search: A=$bestA%.3f R=$bestR%.3f worstMargin=$bestM%.4f")

      if (args.nonEmpty) {
        val spark = Sessions.local("8", "ERROR")
        import org.apache.spark.sql.functions._
        val docs = spark.read.parquet(s"${args(0)}/documents.parquet")
          .select(col("text")).collect().map(r => Option(r.getString(0)).getOrElse(""))
        val absS = new Array[Double](docs.length)
        val ratS = new Array[Double](docs.length)
        var en = 0
        var i = 0
        while (i < docs.length) {
          val sc = scores(docs(i), docCap)
          val best = sc.minBy(_._2)
          if (best._1 == "en") en += 1
          absS(i) = best._2
          ratS(i) = best._2 / (sc.map(_._2).sum / sc.length)
          i += 1
        }
        java.util.Arrays.sort(absS); java.util.Arrays.sort(ratS)
        def p(a: Array[Double], q: Double) = a((q * (a.length - 1)).toInt)
        println(f"  corpus enFrac=${en.toDouble / docs.length}%.3f " +
          f"abs[p50=${p(absS, 0.5)}%.4f p90=${p(absS, 0.9)}%.4f max=${absS.last}%.4f] " +
          f"ratio[p50=${p(ratS, 0.5)}%.4f p90=${p(ratS, 0.9)}%.4f max=${ratS.last}%.4f]")
      }
    }
  }
}
