package graft

import graft.core.{PipelineConfig, PipelineContext, Runner}

class ConfigSpec extends SparkSpec {

  test("JSON stage config parses and runs end-to-end") {
    val json =
      s"""{"stages": [
        {"type": "ParquetExtract", "name": "e", "inputURI": "${sf()}/nation.parquet",
         "outputView": "cfg_nation"},
        {"type": "SQLTransform", "name": "q",
         "sql": "SELECT n_regionkey, COUNT(*) AS n FROM cfg_nation GROUP BY 1 ORDER BY 1",
         "outputView": "cfg_out"},
        {"type": "SQLValidate", "name": "v",
         "sql": "SELECT COUNT(*) = 5 AS valid, 'regions' AS message FROM cfg_out"}
      ]}"""
    val ctx = new PipelineContext(spark)
    val out = Runner.run(PipelineConfig.parse(json), ctx)
    assert(out.isDefined)
    assert(spark.table("cfg_out").count() == 5)
  }

  test("environments filter excludes stages") {
    val json =
      s"""{"stages": [
        {"type": "ParquetExtract", "name": "e", "inputURI": "${sf()}/region.parquet",
         "outputView": "cfg_r", "environments": ["production"]},
        {"type": "SQLTransform", "name": "q", "sql": "SELECT 1 AS x",
         "outputView": "cfg_skip", "environments": ["test"]}
      ]}"""
    val stages = PipelineConfig.parse(json, environment = "production")
    assert(stages.map(_.name) == Seq("e"))
  }

  test("TypingTransform via config with inline schema") {
    import spark.implicits._
    Seq(("1", "2.5")).toDF("a", "b").createOrReplaceTempView("cfg_raw")
    val json =
      """{"stages": [
        {"type": "TypingTransform", "name": "t", "inputView": "cfg_raw",
         "outputView": "cfg_typed",
         "schema": [
           {"name": "a", "type": "integer"},
           {"name": "b", "type": "double"}
         ]}
      ]}"""
    Runner.run(PipelineConfig.parse(json), new PipelineContext(spark))
    val r = spark.table("cfg_typed").head()
    assert(r.getAs[Int]("a") == 1 && r.getAs[Double]("b") == 2.5)
  }

  test("unknown stage type raises a naming error") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig.parse("""{"stages": [{"type": "NopeExtract", "name": "x"}]}""")
    }
    assert(e.getMessage.contains("NopeExtract"))
  }

  test("reference-style HOCON cell parses and runs end-to-end") {
    // Verbatim Arc cell shape: unquoted keys, = separators, triple-quoted
    // SQL, comments, newline-separated fields, env-list without quotes
    // (reference ArcInterpreter.scala:404-423 / Common.scala:424-433).
    val hocon =
      s"""{
        stages: [
          {
            type = "ParquetExtract"
            name = "extract nation"
            environments = [production, test]
            inputURI = "${sf()}/nation.parquet"
            outputView = hocon_nation            // unquoted value
          }
          {
            type = "SQLTransform"
            name = "aggregate"
            environments = [production, test]
            sql = \"\"\"SELECT n_regionkey, COUNT(*) AS n
                     FROM hocon_nation
                     GROUP BY 1 ORDER BY 1\"\"\"
            outputView = "hocon_out"
            persist = true
          }
        ]
      }"""
    val ctx = new PipelineContext(spark)
    val out = Runner.run(PipelineConfig.parse(hocon), ctx)
    assert(out.isDefined)
    assert(spark.table("hocon_out").count() == 5)
  }

  test("LLM stages run from a config cell: dedup -> decontaminate -> sample") {
    val hocon =
      s"""{
        stages: [
          {
            type = "ParquetExtract"
            name = "extract docs"
            inputURI = "${sf()}/documents.parquet"
            outputView = llm_docs
          }
          {
            type = "DeduplicateTransform"
            name = "normalized dedup"
            inputView = llm_docs
            outputView = llm_deduped
            idField = doc_id
            textField = text
            method = normalized
          }
          {
            type = "SQLTransform"
            name = "eval slice"
            sql = "SELECT * FROM llm_docs WHERE doc_id % 17 = 0"
            outputView = llm_eval
          }
          {
            type = "DecontaminateTransform"
            name = "decontaminate"
            inputView = llm_deduped
            evalView = llm_eval
            outputView = llm_clean
            idField = doc_id
            textField = text
            ngram = 4
            action = flag
          }
          {
            type = "ChunkTransform"
            name = "chunk"
            inputView = llm_clean
            outputView = llm_chunked
            textField = text
            chunkSize = 32
            overlap = 8
          }
          {
            type = "SampleTransform"
            name = "mixture"
            inputView = llm_clean
            outputView = llm_mixed
            method = mixture
            keyField = doc_id
            strataFields = [source]
            fractions = { src0 = 0.5 }
            rate = 0.1
          }
        ]
      }"""
    val ctx = new PipelineContext(spark)
    val out = Runner.run(PipelineConfig.parse(hocon), ctx)
    assert(out.isDefined)
    val clean = spark.table("llm_clean")
    assert(clean.columns.contains("n_matched"))
    // eval members flag themselves (every 4-gram overlaps), train rows vary
    assert(clean.filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 0)
      .filter(org.apache.spark.sql.functions.col("n_matched") === 0).count() == 0)
    val chunked = spark.table("llm_chunked")
    assert(chunked.count() >= clean.count(), "chunking must not lose documents")
    assert(chunked.columns.contains("chunk_text") && !chunked.columns.contains("text"))
    val mixed = spark.table("llm_mixed")
    assert(mixed.count() > 0 && mixed.count() < clean.count())
    // mixture: src0 kept at 50%, others at the 10% default rate
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = clean.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == math.ceil(totals("src0") * 0.5).toLong)
    assert(bySrc("src1") == math.ceil(totals("src1") * 0.1).toLong)
  }

  test("SegmentDedupTransform and ResampleTransform run from a config cell") {
    val hocon =
      s"""{
        stages: [
          {
            type = "ParquetExtract"
            name = "extract docs"
            inputURI = "${sf()}/documents.parquet"
            outputView = seg_docs
          }
          {
            type = "SegmentDedupTransform"
            name = "segment stats"
            inputView = seg_docs
            outputView = seg_stats
            idField = doc_id
            textField = text
            segmentWords = 8
          }
          {
            type = "SegmentDedupTransform"
            name = "segment filter"
            inputView = seg_docs
            outputView = seg_kept
            idField = doc_id
            textField = text
            segmentWords = 8
            action = filter
            maxSharedFraction = 0.5
          }
        ]
      }"""
    val ctx = new PipelineContext(spark)
    assert(Runner.run(PipelineConfig.parse(hocon), ctx).isDefined)
    val stats = spark.table("seg_stats")
    assert(stats.columns.toSeq == Seq("doc_id", "n_segments", "n_shared_segments"))
    val docs = spark.table("seg_docs")
    val kept = spark.table("seg_kept")
    assert(kept.columns.toSeq == docs.columns.toSeq)
    // filter drops exactly the docs at/over the shared-fraction threshold
    val dropped = stats.filter(
      org.apache.spark.sql.functions.col("n_shared_segments") * 2 >=
        org.apache.spark.sql.functions.col("n_segments")).count()
    assert(kept.count() == docs.count() - dropped)
    assert(dropped > 0, "fixture corpus should contain heavily-shared docs")

    // Resample over a tiny synthetic series through the config surface
    import spark.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 48.0))
      .toDF("k", "ts", "v").createOrReplaceTempView("rs_in")
    val hocon2 =
      """{stages: [{
        type = "ResampleTransform", name = "rs", inputView = rs_in,
        outputView = rs_out, keyField = k, timeField = ts, valueField = v,
        step = "12 hours"
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon2), new PipelineContext(spark)).isDefined)
    val rs = spark.table("rs_out").orderBy("ts")
      .as[(Long, java.sql.Timestamp, Double)].collect()
    // grid Jan 2 00:00 .. Jan 3 00:00 every 12h, linear 0→48 over 48h
    assert(rs.map(_._3).toSeq == Seq(24.0, 36.0, 48.0))
  }

  test("DeduplicateTransform method=canonical collapses composed/decomposed spellings") {
    import spark.implicits._
    // rows 1 and 2 are the SAME text in NFC vs NFD spelling (plus case and
    // spacing noise the normalizer folds); row 3 is genuinely different
    Seq(
      (1L, "Caf\u00e9 menu"),
      (2L, "café   MENU"),
      (3L, "restaurant menu")
    ).toDF("doc_id", "text").createOrReplaceTempView("cn_in")
    val hocon =
      """{stages: [{
        type = "DeduplicateTransform", name = "cn", inputView = cn_in,
        outputView = cn_out, idField = doc_id, textField = text,
        method = canonical
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val kept = spark.table("cn_out").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"canonical dedup kept $kept")
  }

  test("SegmentDedupTransform action=clean with maxDocFreq runs from a config cell") {
    import spark.implicits._
    // doc 1/2 share their first 8-word segment (docFreq 2 > maxDocFreq 1 →
    // removed); their distinct tails survive. Doc 3 has NULL text — it never
    // reaches the segment report and must pass through unchanged (left-join
    // contract), not vanish.
    Seq(
      (1L, "shared segment words here repeated across both docs tail one alpha"),
      (2L, "shared segment words here repeated across both docs tail one beta"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text").createOrReplaceTempView("sc_in")
    val hocon =
      """{stages: [{
        type = "SegmentDedupTransform", name = "clean", inputView = sc_in,
        outputView = sc_out, idField = doc_id, textField = text,
        segmentWords = 8, action = clean, maxDocFreq = 1
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("sc_out").orderBy("doc_id").as[(Long, String)].collect()
    assert(out.length == 3, "null-text doc must not be dropped by the clean join")
    assert(out(0) == ((1L, "tail one alpha")))
    assert(out(1) == ((2L, "tail one beta")))
    assert(out(2)._1 == 3L && out(2)._2 == null)
  }

  test("SampleTransform method=temperature flattens the group mix from a config cell") {
    import spark.implicits._
    // 64 rows of group a, 4 of group b: α=0.5 keeps ceil(√64·2)=16 of a and
    // all 4 of b (target 4 = group size) — the dominant group is flattened
    (1L to 64L).map(i => (i, "a")).concat((65L to 68L).map(i => (i, "b")))
      .toDF("doc_id", "grp").createOrReplaceTempView("ts_in")
    val hocon =
      """{stages: [{
        type = "SampleTransform", name = "temp", inputView = ts_in,
        outputView = ts_out, method = temperature, keyField = doc_id,
        strataFields = [grp], cap = 2, salt = "t"
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val byGrp = spark.table("ts_out").groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 16L, "b" -> 4L), s"got $byGrp")
  }

  test("SampleTransform method=split and method=interleave from a config cell") {
    import spark.implicits._
    (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "src").createOrReplaceTempView("sp_in")
    val hocon =
      """{stages: [
        { type = "SampleTransform", name = "split", inputView = sp_in,
          outputView = sp_split, method = split, keyField = doc_id,
          fractions = { train = 0.8, val = 0.1, test = 0.1 }, salt = "s" }
        { type = "SampleTransform", name = "mix", inputView = sp_in,
          outputView = sp_mix, method = interleave, keyField = doc_id,
          strataFields = [src], fractions = { a = 3.0 }, rate = 1.0 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val labels = spark.table("sp_split").groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels.values.sum == 200 && labels.keySet == Set("train", "val", "test"), s"$labels")
    // library parity: the stage emits exactly Sampling.hashSplit's labels
    val direct = graft.llm.Sampling.hashSplit(spark.table("sp_in"),
      org.apache.spark.sql.functions.col("doc_id"),
      Seq("test" -> 0.1, "train" -> 0.8, "val" -> 0.1), "s")
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels == direct)
    // interleave: pos is a permutation and the 4-row prefix holds 3 a's, 1 b
    val mix = spark.table("sp_mix").orderBy("pos").select("src").as[String].collect()
    assert(mix.length == 200)
    assert(mix.take(4).count(_ == "a") == 3, s"prefix: ${mix.take(8).mkString(",")}")
  }

  test("DeduplicateTransform method=best and bloom decontamination from a config cell") {
    import spark.implicits._
    Seq((1L, "Same Doc", 8L), (2L, "same doc!!", 10L), (3L, "other", 5L))
      .toDF("doc_id", "text", "quality").createOrReplaceTempView("bd_in")
    Seq((100L, "other text entirely")).toDF("doc_id", "text")
      .createOrReplaceTempView("bd_eval")
    val hocon =
      """{stages: [
        { type = "DeduplicateTransform", name = "best", inputView = bd_in,
          outputView = bd_best, idField = doc_id, textField = text,
          method = best, keyFields = [], qualityField = quality },
        { type = "DecontaminateTransform", name = "scrub", inputView = bd_in,
          evalView = bd_eval, outputView = bd_clean, idField = doc_id,
          textField = text, ngram = 2, bloomBits = 4096 }
      ]}"""
    // dedup key defaults to textField; "Same Doc" vs "same doc!!" differ
    // RAW, so method=best needs explicit normalization upstream — here we
    // check the argmax semantics on the raw key (no dup) plus a true dup
    Seq((1L, "same", 8L), (2L, "same", 10L), (3L, "other", 5L))
      .toDF("doc_id", "text", "quality").createOrReplaceTempView("bd_in")
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val kept = spark.table("bd_best").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"best-copy kept $kept")
    // bloom decontamination: doc 3 shares the bigram "other text"? no —
    // its text is the single token "other", no bigram — all docs survive
    // the 2-gram scrub against the eval set
    assert(spark.table("bd_clean").count() == 3)
  }

  test("DeduplicateTransform method=url canonicalizes and keeps the first crawl") {
    import spark.implicits._
    Seq(
      (1L, "https://www.site.com/page?utm_source=a"),
      (2L, "http://SITE.com/page/index.html"),
      (3L, "https://site.com/other")
    ).toDF("doc_id", "url").createOrReplaceTempView("ud_in")
    val hocon =
      """{stages: [
        { type = "DeduplicateTransform", name = "u", inputView = ud_in,
          outputView = ud_out, idField = doc_id, method = url, urlField = url }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("ud_out").select("doc_id", "canonical_url", "n_dups")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "site.com/page", 2L), (3L, "site.com/other", 1L)), s"got $out")
  }

  test("DeduplicateTransform method=span excises cross-doc repeated runs from a config cell") {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta tail one"),
      (2L, "head alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words that share no long run with anything"))
      .toDF("doc_id", "text").createOrReplaceTempView("sp_in")
    val hocon =
      """{stages: [
        { type = "DeduplicateTransform", name = "s", inputView = sp_in,
          outputView = sp_out, idField = doc_id, textField = text,
          method = span, shingleLength = 8 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("sp_out").select("doc_id", "clean_text", "n_tokens_removed")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0)._3 == 0L) // min doc keeps the shared run
    assert(out(1) == ((2L, "head", 8L)), out(1).toString)
    assert(out(2)._3 == 0L)
  }

  test("OutlierTransform flags and filters MAD outliers from a config cell") {
    import spark.implicits._
    Seq(("a", 1L, 9.0), ("a", 2L, 10.0), ("a", 3L, 11.0), ("a", 4L, 10.0),
      ("a", 5L, 100.0), ("b", 6L, 3.0))
      .toDF("g", "id", "v").createOrReplaceTempView("ot_in")
    val hocon =
      """{stages: [
        { type = "OutlierTransform", name = "flag", inputView = ot_in,
          outputView = ot_flag, valueField = v, groupFields = [g], k = 3.5 },
        { type = "OutlierTransform", name = "drop", inputView = ot_in,
          outputView = ot_keep, valueField = v, groupFields = [g], mode = filter },
        { type = "OutlierTransform", name = "qs", inputView = ot_in,
          outputView = ot_q, valueField = v, mode = quantiles,
          quantiles = [0.5] }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val flagged = spark.table("ot_flag")
      .filter(org.apache.spark.sql.functions.col("is_outlier"))
      .select("id").as[Long].collect().toSet
    assert(flagged == Set(5L))
    assert(spark.table("ot_keep").count() == 5)
    // global (ungrouped) median over all 6 values
    val q = spark.table("ot_q").select("p", "q").as[(Double, Double)].collect().toSet
    assert(q == Set((0.5, 10.0)), s"got $q")
  }

  test("ChunkTransform method=content reassembles documents from a config cell") {
    import spark.implicits._
    Seq((1L, "x" * 50 + " the quick brown fox " + "y" * 50))
      .toDF("id", "text").createOrReplaceTempView("cc_in")
    val hocon =
      """{stages: [
        { type = "ChunkTransform", name = "c", inputView = cc_in,
          outputView = cc_out, textField = text, method = content,
          minLength = 8, maskBits = 4, maxLength = 32 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val rows = spark.table("cc_out").orderBy("chunk_id")
      .select("chunk_text", "chunk_chars").as[(String, Long)].collect()
    assert(rows.map(_._1).mkString("") == "x" * 50 + " the quick brown fox " + "y" * 50)
    assert(rows.forall(_._2 <= 32))
  }

  test("DecontaminateTransform action=canary reports verbatim hits from a config cell") {
    import spark.implicits._
    Seq((1L, "the secret benchmark passage lives here"), (2L, "clean doc"))
      .toDF("doc_id", "text").createOrReplaceTempView("cy_in")
    // NULL / empty eval strings are not canaries: they must be dropped
    // before the automaton build (a null pattern used to NPE; an empty one
    // would match every doc) — r12 ADVICE finding
    Seq(Some("secret benchmark passage"), Some("unused canary"), None, Some(""))
      .toDF("text").createOrReplaceTempView("cy_eval")
    val hocon =
      """{stages: [
        { type = "DecontaminateTransform", name = "cy", inputView = cy_in,
          evalView = cy_eval, outputView = cy_hits, idField = doc_id,
          textField = text, action = canary }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val hits = spark.table("cy_hits").select("doc_id", "canary")
      .as[(Long, String)].collect().toSet
    assert(hits == Set((1L, "secret benchmark passage")))
  }

  test("HtmlTextTransform extracts visible text from a config cell") {
    import spark.implicits._
    Seq((1L, "<p>hello <b>world</b></p><script>x<1</script>"))
      .toDF("doc_id", "html").createOrReplaceTempView("ht_in")
    val hocon =
      """{stages: [
        { type = "HtmlTextTransform", name = "ht", inputView = ht_in,
          outputView = ht_out, htmlField = html }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val r = spark.table("ht_out").head()
    assert(r.getAs[String]("text_extracted") == "hello world")
    assert(r.getAs[Long]("text_extracted_chars") == 11L)
  }

  test("TokenizerTransform mode=fertility reports per-group tokenizer stats from a config cell") {
    import spark.implicits._
    Seq(("a", "aa bb"), ("a", "aa aa"), ("b", "aa \u6f22"))
      .toDF("src", "text").createOrReplaceTempView("ft_in")
    val hocon =
      """{stages: [
        { type = "TokenizerTransform", name = "tr", inputView = ft_in,
          outputView = ft_merges, textField = text, numMerges = 4 },
        { type = "TokenizerTransform", name = "vb", inputView = ft_in,
          outputView = ft_vocab, textField = text, mode = vocab,
          byteFallback = true, mergesView = ft_merges },
        { type = "TokenizerTransform", name = "fr", inputView = ft_in,
          outputView = ft_report, textField = text, mode = fertility,
          mergesView = ft_merges, vocabView = ft_vocab, groupField = src }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val bySrc = spark.table("ft_report").collect()
      .map(r => r.getAs[String]("src") -> r).toMap
    assert(bySrc("a").getAs[Long]("n_docs") == 2L)
    assert(bySrc("a").getAs[Long]("n_words") == 4L)
    assert(bySrc("b").getAs[Long]("n_docs") == 1L)
    // the vocab is trained on this very corpus -> zero fallback everywhere
    assert(bySrc.values.forall(_.getAs[Long]("n_fallback_tokens") == 0L))
    assert(bySrc.values.forall(_.getAs[Double]("fertility") >= 1.0))
  }

  test("LangIdTransform classifies with ngram profiles and the stopword fallback from a config cell") {
    import spark.implicits._
    Seq(
      (1L, graft.llm.LangId.heldOutSentences("de").head),
      (2L, graft.llm.LangId.heldOutSentences("pt").head),
      (3L, graft.llm.LangId.heldOutSentences("en").head))
      .toDF("doc_id", "text").createOrReplaceTempView("li_in")
    val hocon =
      """{stages: [
        { type = "LangIdTransform", name = "ng", inputView = li_in,
          outputView = li_ngram, textField = text },
        { type = "LangIdTransform", name = "sw", inputView = li_in,
          outputView = li_stop, textField = text, method = stopword,
          outputField = lang_sw }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val ng = spark.table("li_ngram").select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(ng == Map(1L -> "de", 2L -> "pt", 3L -> "en"), ng.toString)
    // the stopword path still runs (pt is not even in its lists — the
    // ngram method is the one that separates close languages)
    assert(spark.table("li_stop").columns.contains("lang_sw"))
  }

  test("LangIdTransform method=ngramFloored applies the und confidence floor from a config cell") {
    import spark.implicits._
    Seq(
      (1L, graft.llm.LangId.heldOutSentences("de").head, "de"),
      (2L, graft.llm.LangId.negativeExamples("fi").head, "und"),
      (3L, graft.llm.LangId.negativeExamples("code").head, "und"))
      .toDF("doc_id", "text", "expected").createOrReplaceTempView("lif_in")
    val hocon =
      """{stages: [
        { type = "LangIdTransform", name = "fl", inputView = lif_in,
          outputView = lif_out, textField = text, method = ngramFloored }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val got = spark.table("lif_out").select("doc_id", "lang_pred", "expected")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    got.foreach { case (id, pred, exp) =>
      assert(pred == exp, s"doc $id: predicted $pred, expected $exp")
    }
    // the un-floored method stays confident-wrong on the same out-of-set
    // text — the floor is what the new method adds
    val bad = intercept[IllegalArgumentException] {
      graft.transform.LangIdTransform("x", "lif_in", "lif_bad",
        textField = "text", method = "nope").execute(new PipelineContext(spark))
    }
    assert(bad.getMessage.contains("ngramFloored"))
  }

  test("SpanIndexTransform writes then incrementally ingests from config cells") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("spanidxc").toString + "/idx"
    Seq((0L, "a1 a2 shared1 shared2 shared3 shared4 a3"),
        (1L, "b1 b2 shared1 shared2 shared3 shared4 b3 b4"))
      .toDF("doc_id", "text").createOrReplaceTempView("si_base")
    Seq((10L, "c1 c2 shared1 shared2 shared3 shared4 c3"))
      .toDF("doc_id", "text").createOrReplaceTempView("si_batch")
    val hocon =
      s"""{stages: [
        { type = "SpanIndexTransform", name = "w", inputView = si_base,
          outputView = si_out, indexURI = "$idx", idField = doc_id,
          textField = text, shingleLength = 4 },
        { type = "SpanIndexTransform", name = "i", inputView = si_batch,
          outputView = si_ing, indexURI = "$idx", idField = doc_id,
          textField = text, action = ingest }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val rem = spark.table("si_ing").select("doc_id", "n_tokens_removed")
      .as[(Long, Long)].collect().toMap
    assert(rem(10L) == 4L, rem.toString) // the shared 4-token run is excised
    val base = spark.table("si_out").select("doc_id", "n_tokens_removed")
      .as[(Long, Long)].collect().toMap
    assert(base(0L) == 0L && base(1L) == 4L, base.toString)
  }

  test("PackingTransform packs token ids into context windows from a config cell") {
    import spark.implicits._
    Seq(
      (0L, 0L, Seq.tabulate(10)(i => 100L + i)),
      (1L, 0L, Seq.tabulate(3)(i => 200L + i)),
      (2L, 0L, Seq.tabulate(20)(i => 300L + i)))
      .toDF("doc_id", "shard", "ids").createOrReplaceTempView("pk_in")
    val hocon =
      """{stages: [
        { type = "PackingTransform", name = "pk", inputView = pk_in,
          outputView = pk_out, shardField = shard, orderField = doc_id,
          method = tokenIds, contextLength = 16, bosId = 1, eosId = 2 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("pk_out").orderBy("seq_id")
      .select("seq_id", "ids").as[(Long, Seq[Long])].collect()
    // stream = [1,100..109,2] [1,200..202,2] [1,300..319,2] = 39 tokens
    // -> windows of 16,16,7
    assert(out.map(_._2.length).toSeq == Seq(16, 16, 7))
    assert(out.flatMap(_._2).toSeq ==
      (1L +: (0 until 10).map(100L + _) :+ 2L) ++
      (1L +: (0 until 3).map(200L + _) :+ 2L) ++
      (1L +: (0 until 20).map(300L + _) :+ 2L))
    // greedy mode still answers from the same stage type
    val hocon2 =
      """{stages: [
        { type = "PackingTransform", name = "pg", inputView = pk_g,
          outputView = pk_gout, shardField = shard, orderField = doc_id,
          method = greedy, tokensField = toks, maxTokens = 12 }
      ]}"""
    Seq((0L, 0L, 8L), (1L, 0L, 3L), (2L, 0L, 6L))
      .toDF("doc_id", "shard", "toks").createOrReplaceTempView("pk_g")
    assert(Runner.run(PipelineConfig.parse(hocon2), new PipelineContext(spark)).isDefined)
    val packs = spark.table("pk_gout").orderBy("doc_id")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toSeq
    assert(packs == Seq((0L, 0L), (1L, 0L), (2L, 1L)), packs.toString)
  }

  test("TokenizerTransform trains merges and applies them from config cells") {
    import spark.implicits._
    Seq.fill(10)("the merger merged the merging mergers").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").createOrReplaceTempView("tk_in")
    val hocon =
      """{stages: [
        { type = "TokenizerTransform", name = "train", inputView = tk_in,
          outputView = tk_merges, textField = text, numMerges = 12 },
        { type = "TokenizerTransform", name = "apply", inputView = tk_in,
          outputView = tk_out, textField = text, mode = apply,
          mergesView = tk_merges }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    assert(spark.table("tk_merges").count() > 0)
    val row = spark.table("tk_out")
      .select(org.apache.spark.sql.functions.concat_ws("",
        org.apache.spark.sql.functions.col("tokens")),
        org.apache.spark.sql.functions.col("n_bpe_tokens")).head
    assert(row.getString(0) == "themergermergedthemergingmergers")
    assert(row.getLong(1) < 32)
    // vocab + encode close the text->ids path: zero OOV against own vocab
    val hocon2 =
      """{stages: [
        { type = "TokenizerTransform", name = "v", inputView = tk_in,
          outputView = tk_vocab, textField = text, mode = vocab,
          mergesView = tk_merges },
        { type = "TokenizerTransform", name = "e", inputView = tk_in,
          outputView = tk_ids, textField = text, mode = encode,
          mergesView = tk_merges, vocabView = tk_vocab }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon2), new PipelineContext(spark)).isDefined)
    val ids = spark.table("tk_ids").head()
    assert(ids.getAs[Long]("n_oov") == 0)
    assert(ids.getSeq[Long](ids.fieldIndex("ids")).nonEmpty)
  }

  test("TokenizerTransform algo=unigram trains, encodes and decodes from config cells") {
    import spark.implicits._
    Seq.fill(10)("the merger merged the merging mergers").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").createOrReplaceTempView("ug_in")
    val hocon =
      """{stages: [
        { type = "TokenizerTransform", name = "train", inputView = ug_in,
          outputView = ug_vocab, textField = text, algo = unigram,
          vocabSize = 40 },
        { type = "TokenizerTransform", name = "enc", inputView = ug_in,
          outputView = ug_ids, textField = text, algo = unigram,
          mode = encode, vocabView = ug_vocab },
        { type = "TokenizerTransform", name = "dec", inputView = ug_ids,
          outputView = ug_txt, textField = text, algo = unigram,
          mode = decode, vocabView = ug_vocab }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // vocabTotal layout straight from the config surface
    assert(spark.table("ug_vocab")
      .filter(org.apache.spark.sql.functions.col("id") < 256).count() == 256)
    val r = spark.table("ug_txt").head()
    assert(r.getAs[String]("decoded") == "themergermergedthemergingmergers")
    assert(r.getAs[Long]("n_fallback_tokens") == 0L)
    assert(r.getAs[Long]("n_tokens") < 32)
  }

  test("TokenizerTransform algo=wordpiece trains, encodes and decodes from config cells") {
    import spark.implicits._
    Seq.fill(10)("hugs hug pugs hugs hug").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").createOrReplaceTempView("wp_in")
    val hocon =
      """{stages: [
        { type = "TokenizerTransform", name = "train", inputView = wp_in,
          outputView = wp_vocab, textField = text, algo = wordpiece,
          vocabSize = 12 },
        { type = "TokenizerTransform", name = "enc", inputView = wp_in,
          outputView = wp_ids, textField = text, algo = wordpiece,
          mode = encode, vocabView = wp_vocab },
        { type = "TokenizerTransform", name = "dec", inputView = wp_ids,
          outputView = wp_txt, textField = text, algo = wordpiece,
          mode = decode, vocabView = wp_vocab }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // WordPiece layout straight from the config surface: [UNK] at id 0
    val head = spark.table("wp_vocab")
      .orderBy("id").head()
    assert(head.getAs[String]("token") == "[UNK]" && head.getAs[Long]("id") == 0L)
    val r = spark.table("wp_txt").head()
    assert(r.getAs[String]("decoded") == "hugs hug pugs hugs hug")
    assert(r.getAs[Long]("n_unk_words") == 0L)
    assert(r.getAs[Long]("n_tokens") <= 8L)
  }

  test("ClassifierTransform trains an NB model and predicts from config cells") {
    import spark.implicits._
    Seq((1L, "buy now cheap", "spam"), (2L, "buy now", "spam"),
      (3L, "meeting notes agenda", "ham"), (4L, "agenda notes", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nb_train")
    Seq((10L, "buy cheap"), (11L, "agenda meeting"))
      .toDF("id", "text").createOrReplaceTempView("nb_docs")
    val hocon =
      """{stages: [
        { type = "ClassifierTransform", name = "train", inputView = nb_train,
          outputView = nb_model, textField = text, labelField = label },
        { type = "ClassifierTransform", name = "pred", inputView = nb_docs,
          outputView = nb_pred, textField = text, mode = predict,
          idField = id, modelView = nb_model }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val preds = spark.table("nb_pred").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(preds == Seq((10L, "spam"), (11L, "ham")), preds.toString)
  }

  test("ClassifierTransform mode=ingest folds a batch into the model; maxVocab caps from config") {
    import spark.implicits._
    Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nbi_a")
    Seq((3L, "buy cheap now", "spam"), (4L, "agenda notes notes", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nbi_b")
    val hocon =
      """{stages: [
        { type = "ClassifierTransform", name = "train", inputView = nbi_a,
          outputView = nbi_model, textField = text, labelField = label },
        { type = "ClassifierTransform", name = "daily", inputView = nbi_b,
          outputView = nbi_model2, textField = text, labelField = label,
          mode = ingest, modelView = nbi_model },
        { type = "ClassifierTransform", name = "capped", inputView = nbi_b,
          outputView = nbi_model3, textField = text, labelField = label,
          mode = ingest, modelView = nbi_model, maxVocab = 2 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // the ingested model view holds EXACTLY train(A ∪ B)'s counts
    val merged = graft.llm.NaiveBayes.modelFromView(spark.table("nbi_model2"))
    val oneShot = graft.llm.NaiveBayes.train(
      spark.table("nbi_a").unionByName(spark.table("nbi_b")), "text", "label")
    def tokMap(m: graft.llm.NaiveBayes.Model) = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tokMap(merged) == tokMap(oneShot), tokMap(merged).toString)
    // the capped ingest bounds the per-class vocab AFTER the exact merge
    val capped = graft.llm.NaiveBayes.modelFromView(spark.table("nbi_model3"))
    val perClass = capped.tokenTable.collect()
      .map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length)
    assert(perClass.forall(_._2 <= 2), perClass.toMap.toString)
    // notes=3 is ham's heaviest and must survive the cap
    assert(tokMap(capped).get(("ham", "notes")).contains(3L))
  }

  test("WordCountsTransform write/ingest/read + trainFromCounts retrain from config cells") {
    import spark.implicits._
    Seq.fill(5)("hugs hug").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").createOrReplaceTempView("wc_a")
    Seq.fill(3)("pugs hugs").zipWithIndex.map { case (t, i) => (100L + i, t) }
      .toDF("id", "text").createOrReplaceTempView("wc_b")
    val dir = java.nio.file.Files.createTempDirectory("wcstage").toString + "/wc"
    val hocon =
      s"""{stages: [
        { type = "WordCountsTransform", name = "seed", inputView = wc_a,
          outputView = wc_t1, countsURI = "$dir", textField = text },
        { type = "WordCountsTransform", name = "daily", inputView = wc_b,
          outputView = wc_t2, countsURI = "$dir", textField = text,
          action = ingest },
        { type = "TokenizerTransform", name = "retrain", inputView = wc_t2,
          outputView = wc_vocab, textField = text, algo = wordpiece,
          mode = trainFromCounts, vocabSize = 9 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val counts = spark.table("wc_t2").as[(String, Long)].collect().toMap
    assert(counts == Map("hugs" -> 8L, "hug" -> 5L, "pugs" -> 3L), counts.toString)
    // the retrained vocab equals a one-shot corpus train over A ∪ B
    val oneShot = graft.llm.WordPiece.vocabDf(spark, graft.llm.WordPiece.train(
      spark.table("wc_a").unionByName(spark.table("wc_b")), "text", 9))
    val got = spark.table("wc_vocab").orderBy("id")
      .collect().map(_.toSeq).toSeq
    val exp = oneShot.orderBy("id").collect().map(_.toSeq).toSeq
    assert(got == exp, s"$got\n != \n$exp")
  }

  test("WordCountsTransform action=delete + ClassifierTransform mode=unlearn: count-store takedown from config cells") {
    import spark.implicits._
    Seq((1L, "the cat sat"), (2L, "the dog")).toDF("id", "text")
      .createOrReplaceTempView("wcd_a")
    Seq((3L, "the cat ran")).toDF("id", "text")
      .createOrReplaceTempView("wcd_b")
    Seq((1L, "buy now", "spam"), (2L, "meeting notes", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nbu_a")
    Seq((3L, "buy cheap", "spam")).toDF("id", "text", "label")
      .createOrReplaceTempView("nbu_b")
    val dir = java.nio.file.Files.createTempDirectory("wcdstage").toString + "/wc"
    val hocon =
      s"""{stages: [
        { type = "WordCountsTransform", name = "seed", inputView = wcd_a,
          outputView = wcd_t1, countsURI = "$dir", textField = text },
        { type = "WordCountsTransform", name = "daily", inputView = wcd_b,
          outputView = wcd_t2, countsURI = "$dir", textField = text,
          action = ingest },
        { type = "WordCountsTransform", name = "takedown", inputView = wcd_b,
          outputView = wcd_t3, countsURI = "$dir", textField = text,
          action = delete },
        { type = "ClassifierTransform", name = "train", inputView = nbu_a,
          outputView = nbu_model, textField = text, labelField = label },
        { type = "ClassifierTransform", name = "daily", inputView = nbu_b,
          outputView = nbu_model2, textField = text, labelField = label,
          mode = ingest, modelView = nbu_model },
        { type = "ClassifierTransform", name = "forget", inputView = nbu_b,
          outputView = nbu_model3, textField = text, labelField = label,
          mode = unlearn, modelView = nbu_model2 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // the deleted word table is exactly write(A)'s
    val counts = spark.table("wcd_t3").as[(String, Long)].collect().toMap
    assert(counts == Map("the" -> 2L, "cat" -> 1L, "sat" -> 1L, "dog" -> 1L),
      counts.toString)
    // ingest-then-unlearn round-trips to the original trained model
    def tokMap(v: String) = graft.llm.NaiveBayes.modelFromView(spark.table(v))
      .tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tokMap("nbu_model3") == tokMap("nbu_model"), tokMap("nbu_model3").toString)
  }

  /** Every file under `dir` with its length and mtime: equal snapshots
    * mean no write touched the store. */
  private def snap(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  private def idsIn(path: String, idCol: String): Set[Long] =
    spark.read.parquet(path).select(idCol).distinct()
      .collect().map(_.getLong(0)).toSet

  test("TakedownExecute: one cell, one id view, every store — consolidated view + request-level audit trail") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("takedown").toString
    val (mdir, sdir, semdir, ivfdir, wcdir, nbdir, adir) =
      (s"$base/mh", s"$base/span", s"$base/sem", s"$base/ivf",
        s"$base/wc", s"$base/nb", s"$base/audit")
    // six docs, distinct texts/vectors so every store keeps every row
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "spam",
        Seq(1.0f, 0.0f, 0.0f)),
      (1L, "one two three four five six seven eight nine ten eleven", "ham",
        Seq(0.0f, 1.0f, 0.0f)),
      (2L, "red orange yellow green blue indigo violet cyan magenta white", "spam",
        Seq(0.0f, 0.0f, 1.0f)),
      (3L, "north south east west up down left right forward backward", "ham",
        Seq(0.7f, 0.7f, 0.0f)),
      (4L, "spring summer autumn winter morning evening noon night dawn dusk", "spam",
        Seq(0.0f, 0.7f, 0.7f)),
      (5L, "iron copper silver gold tin lead zinc nickel cobalt mercury", "ham",
        Seq(0.7f, 0.0f, 0.7f)))
      .toDF("doc_id", "text", "label", "embedding")
    corpus.createOrReplaceTempView("td_corpus")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", mdir)
    graft.llm.SpanIndex.write(corpus, "doc_id", "text", sdir,
      k = 8, hashMode = "xxhash64", nbuckets = 8, bloomBits = 1L << 16,
      bloomHashes = 3)
    graft.llm.SemIndex.write(corpus, "doc_id", "embedding", semdir, nclusters = 2)
    graft.llm.IvfIndex.write(corpus, "doc_id", "embedding", ivfdir, nlist = 2)
    graft.llm.WordCounts.write(corpus, "text", wcdir)
    graft.llm.NaiveBayes.write(
      graft.llm.NaiveBayes.train(corpus, "text", "label"), nbdir)
    Seq(1L, 4L).toDF("doc_id").createOrReplaceTempView("td_ids")
    val hocon =
      s"""{stages: [
        { type = "TakedownExecute", name = "sizing", inputView = td_ids,
          outputView = td_preview, idField = doc_id,
          minhashURI = "$mdir", spanURI = "$sdir", semURI = "$semdir",
          ivfURI = "$ivfdir", countsURI = "$wcdir", modelURI = "$nbdir",
          corpusView = td_corpus, textField = text, labelField = label,
          action = preview },
        { type = "TakedownExecute", name = "request", inputView = td_ids,
          outputView = td_report, idField = doc_id,
          minhashURI = "$mdir", spanURI = "$sdir", semURI = "$semdir",
          ivfURI = "$ivfdir", countsURI = "$wcdir", modelURI = "$nbdir",
          corpusView = td_corpus, textField = text, labelField = label,
          auditURI = "$adir" },
        { type = "TakedownExecute", name = "evidence", inputView = td_ids,
          outputView = td_log, idField = doc_id, auditURI = "$adir",
          action = log }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // the dry-run preview sized every store EXACTLY as the real delete
    // then removed (and, running first, mutated nothing — the delete
    // found everything still there)
    val preview = spark.table("td_preview")
      .collect().map(r => r.getAs[String]("store_type") ->
        r.getAs[Long]("rows_matched")).toMap
    // consolidated view: one row per store, shared request id, rows removed
    val rep = spark.table("td_report")
      .collect().map(r => r.getAs[String]("store_type") ->
        (r.getAs[Long]("rows_removed"), r.getAs[String]("request_id"))).toMap
    assert(rep.keySet ==
      Set("wordcounts", "classifier", "minhash", "span", "sem", "ivf"), rep.toString)
    assert(rep.values.map(_._2).toSet.size == 1, "one shared request id")
    assert(rep.forall(_._2._1 > 0L), s"every store removed rows: $rep")
    assert(rep("sem")._1 == 2L && rep("ivf")._1 == 2L && rep("classifier")._1 == 2L)
    assert(preview == rep.view.mapValues(_._1).toMap,
      s"preview $preview != removed ${rep.view.mapValues(_._1).toMap}")
    // the audit trail reads back the same six rows (action=log)
    val logRows = spark.table("td_log")
      .collect().map(r => r.getAs[String]("store_type") ->
        r.getAs[Long]("rows_removed")).toMap
    assert(logRows == rep.view.mapValues(_._1).toMap, logRows.toString)
    // count stores are byte-for-byte the never-saw-deleted state
    val kept = corpus.filter(!col("doc_id").isin(1L, 4L))
    val wcNow = graft.llm.WordCounts.read(spark, wcdir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wcWant = graft.llm.Bpe.wordCounts(kept, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wcNow == wcWant)
    def tokMap(m: graft.llm.NaiveBayes.Model) = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tokMap(graft.llm.NaiveBayes.read(spark, nbdir)) ==
      tokMap(graft.llm.NaiveBayes.train(kept, "text", "label")))
    // every index table is structurally clean of the deleted ids
    assert(!Seq(idsIn(s"$mdir/bands", "_id"), idsIn(s"$mdir/shingles", "_id"),
      idsIn(s"$mdir/exact", "_id"), idsIn(s"$sdir/grams", "keeper"),
      idsIn(s"$semdir/vectors", "id"), idsIn(s"$ivfdir/vectors", "id"))
      .exists(s => s.contains(1L) || s.contains(4L)))
  }

  test("Takedown preflight fails BEFORE any store mutates: bad URI, empty/null ids, missing corpus ids") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("takedownpre").toString
    val wcdir = s"$base/wc"
    val corpus = Seq((1L, "the cat sat"), (2L, "the dog ran"))
      .toDF("doc_id", "text")
    graft.llm.WordCounts.write(corpus, "text", wcdir)
    val wcBefore = graft.llm.WordCounts.read(spark, wcdir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = Seq(1L).toDF("doc_id")
    def run(f: => Any, fragment: String): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(fragment), e.getMessage)
    }
    run(graft.llm.Takedown.run(spark, ids), "no store URI set")
    run(graft.llm.Takedown.run(spark, ids, countsURI = wcdir, modelURI = wcdir,
      corpus = Some(corpus)), "SAME URI")
    run(graft.llm.Takedown.run(spark, ids, countsURI = wcdir), "provenance")
    run(graft.llm.Takedown.run(spark, ids, countsURI = s"$base/typo",
      corpus = Some(corpus)), "no store at")
    run(graft.llm.Takedown.run(spark, Seq.empty[Long].toDF("doc_id"),
      countsURI = wcdir, corpus = Some(corpus)), "id view is empty")
    run(graft.llm.Takedown.run(spark, Seq("notanid").toDF("doc_id"),
      countsURI = wcdir, corpus = Some(corpus)), "NULL")
    // an id the corpus cannot resolve fails loudly (silent under-deletion
    // is the alternative) — and the store is still untouched
    run(graft.llm.Takedown.run(spark, Seq(1L, 99L).toDF("doc_id"),
      countsURI = wcdir, corpus = Some(corpus)), "MISSING from the corpus")
    // a duplicated corpus row would double-subtract — also loud
    run(graft.llm.Takedown.run(spark, ids, countsURI = wcdir,
      corpus = Some(corpus.unionByName(corpus))), "MORE than one row")
    // PREVIEW surfaces a subset violation (wrong corpus version) loudly
    // and mutates nothing — the dry run is where the operator discovers
    // it, before any real run half-applies the request
    run(graft.llm.Takedown.preview(spark, ids, countsURI = wcdir,
      corpus = Some(corpus.withColumn("text",
        org.apache.spark.sql.functions.upper(
          org.apache.spark.sql.functions.col("text"))))), "not a subset")
    val wcAfter = graft.llm.WordCounts.read(spark, wcdir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wcAfter == wcBefore, "preflight failures must not mutate the store")
  }

  test("Takedown resume: a crash between stores completes under the same requestId without double-subtraction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("tdresume").toString
    val (wcdir, mdir, semdir, adir) =
      (s"$base/wc", s"$base/mh", s"$base/sem", s"$base/audit")
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", Seq(1.0f, 0.0f)),
      (1L, "one two three four five six seven eight", Seq(0.0f, 1.0f)),
      (2L, "red orange yellow green blue indigo violet cyan", Seq(0.7f, 0.7f)),
      (3L, "north south east west up down left right", Seq(0.3f, 0.9f)))
      .toDF("doc_id", "text", "embedding")
    corpus.createOrReplaceTempView("tdr_corpus")
    graft.llm.WordCounts.write(corpus, "text", wcdir)
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", mdir)
    // the sem store exists to preflight but its vectors table is gone —
    // the request CRASHES after the count store and minhash committed,
    // exactly the mid-request failure resume exists for
    new java.io.File(semdir).mkdirs()
    val ids = Seq(1L, 3L).toDF("doc_id")
    ids.createOrReplaceTempView("tdr_ids")
    intercept[Exception] {
      graft.llm.Takedown.run(spark, ids, minhashURI = mdir, semURI = semdir,
        countsURI = wcdir, corpus = Some(corpus), auditURI = adir,
        requestId = "legal-req-7")
    }
    // the trail records exactly the stores that committed before the crash
    def trailTypes(): Seq[String] = graft.llm.Takedown
      .consolidatedLog(spark, adir)
      .filter(col("request_id") === "legal-req-7")
      .collect().map(_.getAs[String]("store_type")).toSeq.sorted
    assert(trailTypes() == Seq("minhash", "wordcounts"), trailTypes().toString)
    // byte-level snapshot of the committed stores — nothing below may
    // touch them again
    val wcSnap = snap(wcdir)
    val mhSnap = snap(mdir)
    // a from-the-top re-run REFUSES: it would subtract the counts twice
    val e1 = intercept[IllegalArgumentException] {
      graft.llm.Takedown.run(spark, ids, minhashURI = mdir, semURI = semdir,
        countsURI = wcdir, corpus = Some(corpus), auditURI = adir,
        requestId = "legal-req-7")
    }
    assert(e1.getMessage.contains("resume = true"), e1.getMessage)
    // resume with a DRIFTED id view (same count, different ids) refuses —
    // one request = one id set
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Takedown.run(spark, Seq(1L, 2L).toDF("doc_id"),
        minhashURI = mdir, semURI = semdir, countsURI = wcdir,
        corpus = Some(corpus), auditURI = adir, requestId = "legal-req-7",
        resume = true)
    }
    assert(e2.getMessage.contains("id-set hash"), e2.getMessage)
    // resume pointing a committed store type somewhere else refuses
    val e3 = intercept[IllegalArgumentException] {
      graft.llm.Takedown.run(spark, ids, minhashURI = mdir, semURI = semdir,
        countsURI = s"$base/elsewhere", corpus = Some(corpus),
        auditURI = adir, requestId = "legal-req-7", resume = true)
    }
    assert(e3.getMessage.contains("cannot move between stores"), e3.getMessage)
    // resume without the trail has nothing to replay — refuse loudly
    val e4 = intercept[IllegalArgumentException] {
      graft.llm.Takedown.run(spark, ids, semURI = semdir,
        requestId = "legal-req-7", resume = true)
    }
    assert(e4.getMessage.contains("auditURI"), e4.getMessage)
    // config surface: resume without naming the request refuses
    val e5 = intercept[IllegalArgumentException] {
      graft.transform.TakedownExecute(name = "bad", inputView = "tdr_ids",
        outputView = "tdr_x", idField = "doc_id", semURI = semdir,
        auditURI = adir, resume = true).execute(new PipelineContext(spark))
    }
    assert(e5.getMessage.contains("requestId"), e5.getMessage)
    // restore the sem store at the same URI, then RESUME from the config
    // surface — the operator's one-cell completion of the request
    assert(new java.io.File(semdir).delete())
    graft.llm.SemIndex.write(corpus, "doc_id", "embedding", semdir, nclusters = 2)
    val hocon =
      s"""{stages: [
        { type = "TakedownExecute", name = "complete", inputView = tdr_ids,
          outputView = tdr_resumed, idField = doc_id,
          minhashURI = "$mdir", semURI = "$semdir", countsURI = "$wcdir",
          corpusView = tdr_corpus, textField = text, auditURI = "$adir",
          requestId = "legal-req-7", resume = true }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // (a) the committed stores are byte-for-byte untouched — across the
    // refused re-runs AND the successful resume
    assert(snap(wcdir) == wcSnap, "resume re-subtracted the word counts")
    assert(snap(mdir) == mhSnap, "resume re-ran the minhash delete")
    // ... and the count store equals the never-saw-the-victims state
    val kept = corpus.filter(!col("doc_id").isin(1L, 3L))
    val wcNow = graft.llm.WordCounts.read(spark, wcdir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wcWant = graft.llm.Bpe.wordCounts(kept, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wcNow == wcWant)
    // (b) the store that missed its delete is now structurally clean
    val semIds = spark.read.parquet(s"$semdir/vectors").select("id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(!semIds.contains(1L) && !semIds.contains(3L), semIds.toString)
    // (c) exactly one trail record per store, and the resumed view holds
    // all three stores (replayed rows for the committed two)
    assert(trailTypes() == Seq("minhash", "sem", "wordcounts"), trailTypes().toString)
    val view = spark.table("tdr_resumed").collect()
      .map(r => r.getAs[String]("store_type") ->
        r.getAs[String]("request_id")).toMap
    assert(view.keySet == Set("wordcounts", "minhash", "sem"), view.toString)
    assert(view.values.toSet == Set("legal-req-7"))
    // a second resume of the now-complete request is a pure no-op: all
    // replayed, nothing mutates, still one record per store
    val semSnap = snap(semdir)
    graft.llm.Takedown.run(spark, ids, minhashURI = mdir, semURI = semdir,
      countsURI = wcdir, corpus = Some(corpus), auditURI = adir,
      requestId = "legal-req-7", resume = true)
    assert(snap(wcdir) == wcSnap && snap(mdir) == mhSnap &&
      snap(semdir) == semSnap, "fully-committed resume must not mutate")
    assert(trailTypes() == Seq("minhash", "sem", "wordcounts"))
  }

  test("Takedown fan-out: two failing index deletes are both reported, the trail holds exactly the committed stores, resume completes the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("tdfanout").toString
    val (mdir, sdir, semdir, ivfdir, adir) =
      (s"$base/mh", s"$base/span", s"$base/sem", s"$base/ivf", s"$base/audit")
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", Seq(1.0f, 0.0f, 0.0f)),
      (1L, "one two three four five six seven eight nine ten eleven", Seq(0.0f, 1.0f, 0.0f)),
      (2L, "red orange yellow green blue indigo violet cyan magenta white", Seq(0.0f, 0.0f, 1.0f)),
      (3L, "north south east west up down left right forward backward", Seq(0.7f, 0.7f, 0.0f)))
      .toDF("doc_id", "text", "embedding")
    graft.llm.MinhashIndex.write(corpus, "doc_id", "text", mdir)
    graft.llm.SpanIndex.write(corpus, "doc_id", "text", sdir,
      k = 8, hashMode = "xxhash64", nbuckets = 8, bloomBits = 1L << 16,
      bloomHashes = 3)
    graft.llm.SemIndex.write(corpus, "doc_id", "embedding", semdir, nclusters = 2)
    graft.llm.IvfIndex.write(corpus, "doc_id", "embedding", ivfdir, nlist = 2)
    // break two of the four stores below their roots, which preflight does
    // not inspect: minhash loses its params (its delete reads the layout
    // geometry there), ivf its vector table
    val broken = Seq(s"$mdir/params" -> s"$base/mh_params", s"$ivfdir/vectors" -> s"$base/ivf_vectors")
    broken.foreach { case (live, aside) => Files.move(Paths.get(live), Paths.get(aside)) }
    val ids = Seq(1L, 3L).toDF("doc_id")
    def run(resume: Boolean) = graft.llm.Takedown.run(spark, ids,
      minhashURI = mdir, spanURI = sdir, semURI = semdir, ivfURI = ivfdir,
      auditURI = adir, requestId = "legal-req-9", resume = resume)
    val e = intercept[Exception](run(resume = false))
    // the first failing store in fan-out order is thrown, the other rides
    // along suppressed — neither failure is dropped
    assert(e.getMessage.contains(s"$mdir/params"), e.getMessage)
    assert(e.getSuppressed.map(_.getMessage).toSeq.exists(_.contains(s"$ivfdir/vectors")),
      e.getSuppressed.map(_.getMessage).mkString(" | "))
    def trailTypes(): Seq[String] = graft.llm.Takedown
      .consolidatedLog(spark, adir)
      .filter(col("request_id") === "legal-req-9")
      .collect().map(_.getAs[String]("store_type")).toSeq.sorted
    assert(trailTypes() == Seq("sem", "span"), trailTypes().toString)
    // repair, then resume: the committed two are replayed untouched and
    // only the two that failed run
    val (spanSnap, semSnap) = (snap(sdir), snap(semdir))
    broken.foreach { case (live, aside) => Files.move(Paths.get(aside), Paths.get(live)) }
    val view = run(resume = true).collect().map(_.getAs[String]("store_type")).toSet
    assert(view == Set("minhash", "span", "sem", "ivf"), view.toString)
    assert(snap(sdir) == spanSnap && snap(semdir) == semSnap,
      "resume re-ran a committed delete")
    assert(trailTypes() == Seq("ivf", "minhash", "sem", "span"), trailTypes().toString)
    assert(!Seq(idsIn(s"$mdir/bands", "_id"), idsIn(s"$mdir/shingles", "_id"),
      idsIn(s"$mdir/exact", "_id"), idsIn(s"$ivfdir/vectors", "id"))
      .exists(s => s.contains(1L) || s.contains(3L)))
  }

  test("WordCountsTransform action=deleteIds / ClassifierTransform mode=unlearnIds: id-addressed count-store takedown") {
    import spark.implicits._
    // the legal queue carries IDS; the exact trained text is recovered
    // in-engine from the corpus view — results must equal the
    // text-addressed takedown byte-for-byte
    Seq((1L, "the cat sat", "ham"), (2L, "the dog", "spam"),
      (3L, "the cat ran", "spam"))
      .toDF("id", "text", "label").createOrReplaceTempView("tdi_corpus")
    Seq(3L).toDF("id").createOrReplaceTempView("tdi_ids")
    val dir = java.nio.file.Files.createTempDirectory("tdi").toString + "/wc"
    val hocon =
      s"""{stages: [
        { type = "WordCountsTransform", name = "seed", inputView = tdi_corpus,
          outputView = tdi_t1, countsURI = "$dir", textField = text },
        { type = "WordCountsTransform", name = "takedown", inputView = tdi_ids,
          outputView = tdi_t2, countsURI = "$dir", textField = text,
          action = deleteIds, corpusView = tdi_corpus, idField = id },
        { type = "ClassifierTransform", name = "train", inputView = tdi_corpus,
          outputView = tdi_model, textField = text, labelField = label },
        { type = "ClassifierTransform", name = "forget", inputView = tdi_ids,
          outputView = tdi_model2, textField = text, labelField = label,
          mode = unlearnIds, modelView = tdi_model, corpusView = tdi_corpus,
          idField = id }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val counts = spark.table("tdi_t2").as[(String, Long)].collect().toMap
    assert(counts == Map("the" -> 2L, "cat" -> 1L, "sat" -> 1L, "dog" -> 1L),
      counts.toString)
    def tokMap(v: String) = graft.llm.NaiveBayes.modelFromView(spark.table(v))
      .tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.llm.NaiveBayes.train(
      spark.table("tdi_corpus").filter(org.apache.spark.sql.functions.col("id") =!= 3L),
      "text", "label")
    assert(tokMap("tdi_model2") == want.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap)
    // WRONG-CORPUS-VERSION guard: a differently-normalized corpus view
    // recovers text that was never ingested — the subset check fails
    // loudly instead of silently de-syncing the counts
    spark.table("tdi_corpus")
      .withColumn("text", org.apache.spark.sql.functions.upper(
        org.apache.spark.sql.functions.col("text")))
      .createOrReplaceTempView("tdi_corpus_wrongnorm")
    val ctx = new PipelineContext(spark)
    val e = intercept[IllegalArgumentException] {
      graft.transform.WordCountsTransform("wc", "tdi_ids", "tdi_t3", dir,
        textField = "text", action = "deleteIds",
        corpusView = "tdi_corpus_wrongnorm", idField = "id").execute(ctx)
    }
    assert(e.getMessage.contains("not a subset"), e.getMessage)
  }

  test("CompactExecute: one maintenance cell compacts store tables and audit trails; recover restores") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("compactexec").toString
    val mdir = s"$base/mh"
    val docs = (0L until 12L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    graft.llm.MinhashIndex.write(docs, "doc_id", "text", mdir)
    // many tiny appends -> small-file debris in the partitioned tables,
    // and three takedowns -> three per-table audit records
    (0 until 3).foreach { b =>
      graft.llm.MinhashIndex.ingest(
        (0 until 4).map(i => (100L + b * 10 + i,
          s"w${b}x$i y${b}x$i z${b}x$i q${b}x$i r${b}x$i s${b}x$i t${b}x$i u${b}x$i"))
          .toDF("doc_id", "text"), "doc_id", "text", mdir)
      graft.llm.MinhashIndex.delete(spark, mdir, Seq(100L + b * 10))
    }
    val queryBefore = graft.llm.MinhashIndex.dedupAgainst(
      docs.select((col("doc_id") + 900L).as("doc_id"), col("text")),
      "doc_id", "text", mdir).collect().map(_.getLong(0)).toSet
    val logBefore = graft.llm.MinhashIndex.takedownLog(spark, mdir)
      .collect().map(_.getAs[String]("runId")).toSet
    // 3 deletes x one record per table (bands/shingles/exact) = 9
    assert(logBefore.size == 9)
    val hocon =
      s"""{stages: [
        { type = "CompactExecute", name = "mop", outputView = "mop_report",
          minhashURI = "$mdir", maxFilesPerPartition = 1 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val rep = spark.table("mop_report").head()
    assert(rep.getAs[String]("store_type") == "minhash")
    assert(rep.getAs[Long]("partitions_compacted") > 0L, rep.toString)
    assert(rep.getAs[Long]("files_after") < rep.getAs[Long]("files_before"), rep.toString)
    // the trails folded into one file per table, every record preserved
    assert(rep.getAs[Long]("audit_records_compacted") == 9L, rep.toString)
    assert(graft.llm.MinhashIndex.takedownLog(spark, mdir)
      .collect().map(_.getAs[String]("runId")).toSet == logBefore)
    // dedup decisions identical through the compacted index
    val queryAfter = graft.llm.MinhashIndex.dedupAgainst(
      docs.select((col("doc_id") + 900L).as("doc_id"), col("text")),
      "doc_id", "text", mdir).collect().map(_.getLong(0)).toSet
    assert(queryAfter == queryBefore)
    // recover: park one file as an interrupted run would, then one cell
    // restores it (the preflight-refusal answer)
    val fs = new org.apache.hadoop.fs.Path(mdir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exact = new org.apache.hadoop.fs.Path(s"$mdir/exact")
    val part = fs.listStatus(exact).filter(_.isDirectory)
      .filter(_.getPath.getName.contains("=")).head.getPath
    val victim = fs.listStatus(part).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")).head.getPath
    val old = new org.apache.hadoop.fs.Path(exact, s"_compact_old/${part.getName}")
    fs.mkdirs(old)
    assert(fs.rename(victim, new org.apache.hadoop.fs.Path(old, victim.getName)))
    assert(graft.llm.IndexCompact.hasInterruptedRun(spark, s"$mdir/exact"))
    val hocon2 =
      s"""{stages: [
        { type = "CompactExecute", name = "restore", outputView = "rec_report",
          minhashURI = "$mdir", action = "recover" }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon2), new PipelineContext(spark)).isDefined)
    assert(spark.table("rec_report").head().getAs[Long]("partitions_restored") == 1L)
    assert(!graft.llm.IndexCompact.hasInterruptedRun(spark, s"$mdir/exact"))
  }

  test("CompactExecute action=recallProbe: centroid drift detected on a deliberately-drifted IVF index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("recallprobe").toString
    val idx = s"$base/ivf"
    val rnd = new scala.util.Random(11)
    // training distribution: two clean clusters on e1/e2 — KMeans(k=2)
    // puts one centroid on each
    val baseVecs =
      (0 until 20).map(i => (i.toLong,
        Seq(1f + (rnd.nextFloat() - 0.5f) * 0.04f,
          (rnd.nextFloat() - 0.5f) * 0.04f, 0f, 0f))) ++
      (20 until 40).map(i => (i.toLong,
        Seq((rnd.nextFloat() - 0.5f) * 0.04f,
          1f + (rnd.nextFloat() - 0.5f) * 0.04f, 0f, 0f)))
    graft.llm.IvfIndex.write(baseVecs.toDF("id", "vec"), "id", "vec", idx,
      nlist = 2)
    def probe(name: String, view: String, nprobe: Int): Unit = {
      val hocon =
        s"""{stages: [
          { type = "CompactExecute", name = "$name", outputView = $view,
            ivfURI = "$idx", action = "recallProbe",
            recallK = 5, recallNprobe = $nprobe, recallSample = 200,
            recallFloor = 0.9 }
        ]}"""
      assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    }
    def flatRow(view: String) = spark.table(view)
      .filter(col("mode") === "flat").head()
    // fresh index: the training distribution IS the corpus — nprobe=1
    // finds every true neighbor (each cluster lives in one list)
    probe("healthy", "rp_fresh", nprobe = 1)
    val fresh = flatRow("rp_fresh")
    assert(fresh.getAs[Double]("recall") == 1.0, fresh.toString)
    assert(!fresh.getAs[Boolean]("warn"), fresh.toString)
    // drift: a dense cluster midway between the two centroids — each
    // member lands in list 0 or 1 on a tiny tilt (dims 1–2) that is
    // INDEPENDENT of its nearest-neighbor structure (dims 3–4), so every
    // drifted query's true neighbors split across both lists while a
    // partial probe reads one. The quantizer is frozen — nothing else in
    // the index surfaces this.
    val drift = (0 until 80).map { i =>
      val tilt = (rnd.nextFloat() - 0.5f) * 0.06f
      (1000L + i,
        Seq(0.707f + tilt, 0.707f - tilt,
          rnd.nextFloat() * 0.3f, rnd.nextFloat() * 0.3f))
    }
    graft.llm.IvfIndex.ingest(drift.toDF("id", "vec"), "id", "vec", idx)
    probe("drifted", "rp_drift", nprobe = 1)
    val decayed = flatRow("rp_drift")
    assert(decayed.getAs[Double]("recall") < 0.9,
      s"drift not detected: ${decayed.toString}")
    assert(decayed.getAs[Boolean]("warn"), decayed.toString)
    // the report carries the sq8 tier too (the codes column exists), and
    // n_queries covers the whole corpus (recallSample ≥ corpus)
    assert(spark.table("rp_drift").select("mode").collect()
      .map(_.getString(0)).toSet == Set("flat", "sq8"))
    assert(decayed.getAs[Long]("n_queries") == 120L, decayed.toString)
    // exhaustive probes stay EXACT on the same drifted index — the decay
    // is invisible to correctness, which is why the probe must exist
    probe("exhaustive", "rp_exact", nprobe = 2)
    val exact = flatRow("rp_exact")
    assert(exact.getAs[Double]("recall") == 1.0, exact.toString)
    assert(!exact.getAs[Boolean]("warn"), exact.toString)
    // the breach landed in the maintenance log, naming the store and fix
    assert(graft.core.LogBuffer.drain().exists(m =>
      m.contains("below floor") && m.contains(idx)))
  }

  test("ClassifierTransform modelURI: the persisted NB store's full lifecycle from config cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the store TakedownExecute's modelURI takes down must be CREATABLE
    // and MAINTAINABLE from the config surface too — train persists,
    // ingest/unlearnIds operate on disk, predict/read/log read the store
    Seq((1L, "buy now cheap", "spam"), (2L, "meeting notes agenda", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nbs_a")
    Seq((3L, "buy cheap offer", "spam"), (4L, "agenda notes today", "ham"))
      .toDF("id", "text", "label").createOrReplaceTempView("nbs_b")
    spark.table("nbs_a").unionByName(spark.table("nbs_b"))
      .createOrReplaceTempView("nbs_corpus")
    Seq(3L).toDF("id").createOrReplaceTempView("nbs_ids")
    Seq((10L, "buy cheap"), (11L, "agenda meeting"))
      .toDF("id", "text").createOrReplaceTempView("nbs_docs")
    val dir = java.nio.file.Files.createTempDirectory("nbstore").toString + "/model"
    val hocon =
      s"""{stages: [
        { type = "ClassifierTransform", name = "train", inputView = nbs_a,
          outputView = nbs_m1, textField = text, labelField = label,
          modelURI = "$dir" },
        { type = "ClassifierTransform", name = "daily", inputView = nbs_b,
          outputView = nbs_m2, textField = text, labelField = label,
          mode = ingest, modelURI = "$dir" },
        { type = "ClassifierTransform", name = "pred", inputView = nbs_docs,
          outputView = nbs_pred, textField = text, mode = predict,
          idField = id, modelURI = "$dir" },
        { type = "ClassifierTransform", name = "forget", inputView = nbs_ids,
          outputView = nbs_m3, textField = text, labelField = label,
          mode = unlearnIds, modelURI = "$dir", corpusView = nbs_corpus,
          idField = id },
        { type = "ClassifierTransform", name = "check", inputView = nbs_ids,
          outputView = nbs_m4, textField = text, mode = read,
          modelURI = "$dir" },
        { type = "ClassifierTransform", name = "evidence", inputView = nbs_ids,
          outputView = nbs_trail, textField = text, mode = log,
          modelURI = "$dir" }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // predictions came off the persisted store after the on-disk ingest
    val preds = spark.table("nbs_pred").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(preds == Seq((10L, "spam"), (11L, "ham")), preds.toString)
    // the id-addressed on-disk unlearn left EXACTLY train(all minus id 3)
    def tokMap(m: graft.llm.NaiveBayes.Model) = m.tokenTable.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = graft.llm.NaiveBayes.train(
      spark.table("nbs_corpus").filter(col("id") =!= 3L), "text", "label")
    assert(tokMap(graft.llm.NaiveBayes.read(spark, dir)) == tokMap(want))
    // the read-back view equals the store; the takedown trail has the record
    assert(tokMap(graft.llm.NaiveBayes.modelFromView(spark.table("nbs_m4"))) ==
      tokMap(want))
    val trail = spark.table("nbs_trail").collect()
    assert(trail.length == 1 && trail.head.getAs[Long]("docsRemoved") == 1L,
      trail.mkString(","))
    // one model address per cell — both set is refused
    val e = intercept[IllegalArgumentException] {
      graft.transform.ClassifierTransform("c", "nbs_a", "out_v", "text",
        mode = "predict", modelView = "nbs_m1", modelURI = dir)
        .execute(new PipelineContext(spark))
    }
    assert(e.getMessage.contains("not both"), e.getMessage)
  }

  test("IndexDedupTransform action=delete takes docs down through the config surface") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mhdel").toString + "/idx"
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    Seq((0L, s"$t one"), (1L, s"$t two"), (2L, "entirely different unrelated content words here"))
      .toDF("doc_id", "text").createOrReplaceTempView("del_corpus")
    graft.llm.MinhashIndex.write(spark.table("del_corpus"), "doc_id", "text", dir)
    Seq(0L, 1L).toDF("doc_id").createOrReplaceTempView("del_ids")
    Seq((100L, s"$t three")).toDF("doc_id", "text").createOrReplaceTempView("del_probe")
    val hocon =
      s"""{stages: [
        { type = "IndexDedupTransform", name = "takedown", inputView = del_ids,
          outputView = del_report, indexURI = "$dir", idField = doc_id,
          textField = text, action = delete },
        { type = "IndexDedupTransform", name = "recheck", inputView = del_probe,
          outputView = del_out, indexURI = "$dir", idField = doc_id,
          textField = text, action = filter },
        { type = "IndexDedupTransform", name = "evidence", inputView = del_probe,
          outputView = del_log, indexURI = "$dir", idField = doc_id,
          textField = text, action = log }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val rep = spark.table("del_report").head()
    assert(rep.getAs[Long]("n_ids") == 2L && rep.getAs[Long]("exact_rows_removed") == 2L)
    // the near-dup probe survives now that its only neighbors are gone
    assert(spark.table("del_out").count() == 1)
    // the audit trail shows one completed record per table
    val log = spark.table("del_log")
      .select("table", "rowsRemoved").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1))).toMap
    assert(log.keySet == Set("bands", "shingles", "exact") &&
      log("exact") == 2L, log.toString)
  }

  test("WordCountsTransform rejects an unknown action and an empty countsURI") {
    val ctx = new PipelineContext(spark)
    val e1 = intercept[IllegalArgumentException] {
      graft.transform.WordCountsTransform("wc", "in_v", "out_v", "/tmp/x",
        action = "merge").execute(ctx)
    }
    assert(e1.getMessage.contains("unknown word-counts action"))
    val e2 = intercept[IllegalArgumentException] {
      graft.transform.WordCountsTransform("wc", "in_v", "out_v", "",
        action = "read").execute(ctx)
    }
    assert(e2.getMessage.contains("countsURI"))
  }

  test("TokenizerTransform rejects maxInputChars < 1 at construction") {
    val e = intercept[IllegalArgumentException] {
      graft.transform.TokenizerTransform("tk", "in_v", "out_v", "text",
        maxInputChars = 0)
    }
    assert(e.getMessage.contains("maxInputChars"))
  }

  test("WordPiece.train warns when [UNK] + alphabet already reaches vocabSize") {
    graft.core.LogBuffer.clear()
    // alphabet h,##u,##g + [UNK] = 4 symbols >= vocabSize=3 -> no merges
    val m = graft.llm.WordPiece.trainFromCounts(Seq(("hug", 5L)), vocabSize = 3)
    assert(m.entries.length == 4, m.entries.toString)
    val logs = graft.core.LogBuffer.drain()
    assert(logs.exists(_.contains("no merges learned")), logs.toString)
    // a satisfiable budget stays silent
    graft.core.LogBuffer.clear()
    graft.llm.WordPiece.trainFromCounts(Seq(("hug", 5L)), vocabSize = 6)
    assert(!graft.core.LogBuffer.drain().exists(_.contains("no merges")), "unexpected warning")
  }

  test("SampleTransform method=negative draws k exclusion-safe negatives per query") {
    import spark.implicits._
    (0L until 100L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
      .createOrReplaceTempView("ng_corpus")
    spark.table("ng_corpus")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 5)
      .createOrReplaceTempView("ng_q")
    val hocon =
      """{stages: [
        { type = "SampleTransform", name = "neg", inputView = ng_q,
          outputView = ng_out, method = negative, keyField = doc_id,
          corpusView = ng_corpus, cap = 3, rate = 0.5,
          strataFields = [source], carryFields = [doc_id, source] }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("ng_out")
      .select("q_doc_id", "q_source", "neg_doc_id", "neg_source")
      .as[(Long, String, Long, String)].collect()
    assert(out.groupBy(_._1).forall(_._2.length == 3) && out.length == 15)
    out.foreach { case (q, qs, n, ns) => assert(q != n && qs != ns) }
  }

  test("MediaTransform decodes and resizes real PNGs from config cells") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 16).foreach(y => img.setRGB(x, y, 0xffffff)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    Seq((1L, baos.toByteArray)).toDF("id", "blob").createOrReplaceTempView("md_in")
    val hocon =
      """{stages: [
        { type = "MediaTransform", name = "dec", inputView = md_in,
          outputView = md_meta, binaryField = blob },
        { type = "MediaTransform", name = "rs", inputView = md_in,
          outputView = md_small, binaryField = blob, action = resize,
          targetWidth = 4, targetHeight = 4 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val meta = spark.table("md_meta").head().getStruct(2)
    assert(meta.getAs[Int]("width") == 16 && meta.getAs[Int]("height") == 16)
    val rs = spark.table("md_small").head()
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs.getAs[Array[Byte]]("resized")))
    assert(back.getWidth == 4 && back.getHeight == 4)
  }

  test("MediaTransform action=extractAudio pulls the PCM track out of an AVI from a config cell") {
    import spark.implicits._
    val frame = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bos)
      bos.toByteArray
    }
    val avi = graft.llm.Multimodal.buildMjpegAviWithAudio(
      Seq(frame), 8, 8, 25, new Array[Byte](800), 8000, 1, 16)
    Seq((1L, avi)).toDF("id", "blob").createOrReplaceTempView("xa_in")
    val hocon =
      """{stages: [
        { type = "MediaTransform", name = "xa", inputView = xa_in,
          outputView = xa_out, binaryField = blob, action = extractAudio }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val r = spark.table("xa_out").head()
    assert(r.getAs[String]("audio_status") == "extracted")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("audio_track")))
    try {
      assert(ais.getFrameLength == 400L &&
        math.round(ais.getFormat.getSampleRate) == 8000)
    } finally ais.close()
  }

  test("MediaTransform action=resampleAudio resamples a WAV from a config cell") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val frames = 400
    val pcm = new Array[Byte](frames * 2) // 16-bit mono silence @8k
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(8000f, 16, 1, true, false), frames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    Seq((1L, baos.toByteArray)).toDF("id", "blob").createOrReplaceTempView("au_in")
    val hocon =
      """{stages: [
        { type = "MediaTransform", name = "ra", inputView = au_in,
          outputView = au_out, binaryField = blob, action = resampleAudio,
          targetSampleRate = 16000 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val r = spark.table("au_out").head()
    assert(r.getAs[String]("resample_status") == "ok")
    val dec = graft.llm.Multimodal.decodeAndFeaturize(
      spark.table("au_out").select($"id", $"audio_resampled"), "audio_resampled").head()
    val meta = dec.getStruct(dec.fieldIndex("media_meta"))
    assert(meta.getAs[Int]("sample_rate") == 16000)
    assert(meta.getAs[Long]("frames") == frames * 2L) // exact 2x upsample
  }

  test("SampleTransform method=hardNegative mines top-cosine non-positives") {
    import spark.implicits._
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    em.createOrReplaceTempView("hn_corpus")
    em.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .createOrReplaceTempView("hn_q")
    val hocon =
      """{stages: [
        { type = "SampleTransform", name = "hn", inputView = hn_q,
          outputView = hn_out, method = hardNegative, keyField = vec_id,
          corpusView = hn_corpus, vectorField = embedding, cap = 3,
          strataFields = [label] }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("hn_out")
      .select("q_vec_id", "q_label", "neg_vec_id", "neg_label")
      .as[(Long, Int, Long, Int)].collect()
    assert(out.groupBy(_._1).forall(_._2.length == 3) && out.length == 9)
    out.foreach { case (q, ql, n, nl) => assert(q != n && ql != nl) }
  }

  test("HistogramTransform mode=drift compares two segment views from a config cell") {
    import spark.implicits._
    (1L to 100L).map(i => ("s", (i % 40).toDouble)).toDF("g", "v")
      .createOrReplaceTempView("dr_a")
    (1L to 100L).map(i => ("s", (i % 40).toDouble + 50.0)).toDF("g", "v")
      .createOrReplaceTempView("dr_b")
    val hocon =
      """{stages: [
        { type = "HistogramTransform", name = "ha", inputView = dr_a,
          outputView = dr_ha, valueField = v, lo = 0.0, hi = 100.0, bins = 10 },
        { type = "HistogramTransform", name = "hb", inputView = dr_b,
          outputView = dr_hb, valueField = v, lo = 0.0, hi = 100.0, bins = 10 },
        { type = "HistogramTransform", name = "cmp", inputView = dr_ha,
          outputView = dr_drift, mode = drift, compareView = dr_hb }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val r = spark.table("dr_drift").collect().head
    // [0,40) vs [50,90): disjoint bins → maximal drift
    assert(r.getAs[Double]("tv") == 1.0 && r.getAs[Double]("ks") == 1.0, r)
  }

  test("SampleTransform method=tokenBudget caps each source's token total") {
    import spark.implicits._
    (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("doc_id", "src", "toks").createOrReplaceTempView("tb_in")
    val hocon =
      """{stages: [
        { type = "SampleTransform", name = "budget", inputView = tb_in,
          outputView = tb_out, method = tokenBudget, keyField = doc_id,
          strataFields = [src], weightField = toks,
          fractions = { a = 300.0 }, rate = 120.0 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val totals = spark.table("tb_out").groupBy("src")
      .agg(org.apache.spark.sql.functions.sum("toks").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // uniform weight 10: the kept totals hit the budgets exactly
    assert(totals == Map("a" -> 300L, "b" -> 120L), s"$totals")
  }

  test("HistogramTransform groupFields emits one histogram and quantile set per group") {
    import spark.implicits._
    (1L to 100L).map(i => (if (i % 2 == 0) "a" else "b", (i % 50).toDouble))
      .toDF("g", "v").createOrReplaceTempView("gh_in")
    val hocon =
      """{stages: [
        { type = "HistogramTransform", name = "seg", inputView = gh_in,
          outputView = gh_hist, valueField = v, lo = 0.0, hi = 50.0,
          bins = 10, groupFields = [g] }
        { type = "HistogramTransform", name = "q", inputView = gh_hist,
          outputView = gh_q, mode = quantiles, lo = 0.0, hi = 50.0,
          bins = 10, quantiles = [0.5], groupFields = [g] }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    assert(spark.table("gh_hist").select("g").distinct().count() == 2)
    val q = spark.table("gh_q").select("g", "est").as[(String, Double)].collect().toMap
    assert(q.keySet == Set("a", "b") && q.values.forall(e => e > 0 && e <= 50), s"$q")
  }

  test("IvfIndexLoad + IvfQueryTransform: build, ingest, and retrieve from config cells") {
    val dir = "/tmp/graft_test_ivf_stage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    em.filter("vec_id % 2 = 0").createOrReplaceTempView("ivf_corpus")
    em.filter("vec_id % 2 = 1").createOrReplaceTempView("ivf_batch")
    em.filter("vec_id < 5").createOrReplaceTempView("ivf_queries")
    val hocon =
      s"""{stages: [
        { type = "IvfIndexLoad", name = "build", inputView = ivf_corpus,
          outputURI = "$dir", idField = vec_id, vectorField = embedding, numLists = 8,
          pqSubspaces = 8 }
        { type = "IvfIndexLoad", name = "daily", inputView = ivf_batch,
          outputURI = "$dir", idField = vec_id, vectorField = embedding, action = ingest }
        { type = "IvfQueryTransform", name = "ret", inputView = ivf_queries,
          outputView = ivf_hits, indexURI = "$dir", idField = vec_id,
          vectorField = embedding, k = 5, numProbes = 8 }
        { type = "IvfQueryTransform", name = "retq", inputView = ivf_queries,
          outputView = ivf_hits_q, indexURI = "$dir", idField = vec_id,
          vectorField = embedding, k = 5, numProbes = 8,
          quantized = true, shortlistFactor = 1000 }
        { type = "IvfQueryTransform", name = "retpq", inputView = ivf_queries,
          outputView = ivf_hits_pq, indexURI = "$dir", idField = vec_id,
          vectorField = embedding, k = 5, numProbes = 8,
          pq = true, shortlistFactor = 1000 }
        { type = "IvfRecallTransform", name = "mon", inputView = ivf_queries,
          outputView = ivf_recall, indexURI = "$dir", idField = vec_id,
          vectorField = embedding, k = 5, numProbes = 8 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    // exhaustive probe over the built+ingested index = brute force exactly
    def hits(view: String) = spark.table(view)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = graft.llm.Similarity.bruteForceTopK(em, "vec_id", "embedding",
      spark.table("ivf_queries"), "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(hits("ivf_hits") == brute)
    // quantized path with a covering shortlist: rescore restores exactness
    assert(hits("ivf_hits_q") == brute)
    // PQ path with a covering shortlist: same exactness contract
    assert(hits("ivf_hits_pq") == brute)
    // recall monitor under the exhaustive probe must report exactly 1.0
    val rec = spark.table("ivf_recall").collect().head
    assert(rec.getAs[Double]("recall") == 1.0 && rec.getAs[Long]("n_queries") == 5, s"$rec")
  }

  test("PqQueryTransform retrieves with a covering shortlist = brute force from a config cell") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
    em.createOrReplaceTempView("pq_corpus")
    em.filter("vec_id < 5").createOrReplaceTempView("pq_queries")
    val hocon =
      """{stages: [{
        type = "PqQueryTransform", name = "pq", inputView = pq_queries,
        corpusView = pq_corpus, outputView = pq_hits, idField = vec_id,
        vectorField = embedding, dim = 64, k = 5, shortlistFactor = 1000
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val got = spark.table("pq_hits")
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = graft.llm.Similarity.bruteForceTopK(em, "vec_id", "embedding",
      spark.table("pq_queries"), "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == brute)
  }

  test("DeduplicateTransform method=semantic drops embedding copies from a config cell") {
    val em = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .selectExpr("vec_id", "embedding")
    em.unionAll(em.filter("vec_id % 5 = 0")
        .selectExpr("vec_id + 100000 as vec_id", "embedding"))
      .createOrReplaceTempView("sem_in")
    val hocon =
      """{stages: [
        { type = "DeduplicateTransform", name = "sd", inputView = sem_in,
          outputView = sem_out, idField = vec_id, method = semantic,
          vectorField = embedding, threshold = 0.999, numClusters = 8 }
        { type = "DeduplicateTransform", name = "sdr", inputView = sem_in,
          outputView = sem_report, idField = vec_id, method = semanticReport,
          vectorField = embedding, threshold = 0.999, numClusters = 8 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val kept = spark.table("sem_out").select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.forall(_ < 100000L), "a copy survived semantic dedup")
    assert(spark.table("sem_in").count() == spark.table("sem_report").count())
    val reportKept = spark.table("sem_report").filter("kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(reportKept == kept)
  }

  test("SemIndexLoad + SemIndexDedupTransform run incremental embedding dedup from config cells") {
    import spark.implicits._
    def onehot(p: Int) = Seq.tabulate(8)(i => if (i == p % 8) 1f else 0f)
    ((0L until 9L).map(id => (id, onehot((id % 3).toInt))))
      .toDF("vec_id", "embedding").createOrReplaceTempView("si_corpus")
    Seq((100L, onehot(0)), (200L, onehot(5)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("si_batch")
    val path = java.nio.file.Files.createTempDirectory("semidx_cfg").toString + "/idx"
    val hocon =
      s"""{stages: [
        { type = "SemIndexLoad", name = "build", inputView = si_corpus,
          outputURI = "$path", idField = vec_id, vectorField = embedding,
          numClusters = 2 },
        { type = "SemIndexDedupTransform", name = "ing", inputView = si_batch,
          outputView = si_kept, indexURI = "$path", idField = vec_id,
          vectorField = embedding, action = ingest }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val kept = spark.table("si_kept").select("vec_id").as[Long].collect().toSet
    assert(kept == Set(200L), kept.toString) // 100 is a copy of an indexed pattern
    // the survivor was appended: it is now part of the index
    val idx = spark.read.parquet(s"$path/vectors").select("id").as[Long].collect().toSet
    assert(idx.contains(200L) && idx.intersect(Set(0L, 1L, 2L)).size == 3, idx.toString)
  }

  test("HeavyHittersTransform estimates skewed keys within MG bounds from a config cell") {
    import spark.implicits._
    val n = 5000
    (0 until n).map(i => if (i % 10 < 7) s"hot-${i % 3}" else s"cold-${i / 10}")
      .toDF("key").createOrReplaceTempView("hh_in")
    val hocon =
      """{stages: [{
        type = "HeavyHittersTransform", name = "hh", inputView = hh_in,
        outputView = hh_out, keyField = key, cap = 16
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val est = spark.table("hh_out").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = spark.table("hh_in").groupBy("key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.filter(_._2 * 17 > n).keys.foreach { k =>
      assert(est.contains(k), s"true heavy hitter $k missing from the config-surface sketch")
    }
    est.foreach { case (k, e) => assert(e <= truth(k) && (truth(k) - e) * 17 <= n) }
  }

  test("RedactTransform scrubs PII and appends counts from a config cell") {
    import spark.implicits._
    Seq(
      (1L, "mail a@b.co at 10.0.0.1"),
      (2L, "nothing sensitive here")
    ).toDF("doc_id", "text").createOrReplaceTempView("rd_in")
    val hocon =
      """{stages: [{
        type = "RedactTransform", name = "rd", inputView = rd_in,
        outputView = rd_out, textField = text, counts = true
      }]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val out = spark.table("rd_out").orderBy("doc_id")
      .selectExpr("text", "n_emails", "n_ips").collect()
    assert(out(0).getString(0) == "mail <EMAIL> at <IP>")
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 1L)
    assert(out(1).getString(0) == "nothing sensitive here")
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 0L)
  }

  test("full corpus-prep pipeline runs from one config cell (scrub -> clean -> dedup -> mix -> monitor)") {
    // The reference-user migration story: an entire training-data prep
    // pass authored as ONE stage document — PII scrub, boilerplate segment
    // cleaning, near-exact dedup, temperature mix flattening, and
    // distribution monitoring (histogram segment + frequency sketch) — no
    // Scala. (The C4 line filter is config-tested separately; this fixture's
    // text has no terminal punctuation, so action=filter would drop all.)
    val hocon =
      s"""{
        stages: [
          { type = "ParquetExtract", name = "ex",
            inputURI = "${sf()}/documents.parquet", outputView = pp_docs },
          { type = "RedactTransform", name = "scrub", inputView = pp_docs,
            outputView = pp_scrubbed, textField = text, counts = true },
          { type = "SegmentDedupTransform", name = "boiler", inputView = pp_scrubbed,
            outputView = pp_clean, idField = doc_id, textField = text,
            segmentWords = 4, action = clean, maxDocFreq = 2 },
          { type = "DeduplicateTransform", name = "dedup", inputView = pp_clean,
            outputView = pp_deduped, idField = doc_id, textField = text,
            method = canonical },
          { type = "SampleTransform", name = "mix", inputView = pp_deduped,
            outputView = pp_mixed, method = temperature, keyField = doc_id,
            strataFields = [lang], cap = 5, salt = "pp" },
          { type = "HistogramTransform", name = "monitor_len", inputView = pp_mixed,
            outputView = pp_hist, valueField = n_chars, lo = 0, hi = 640, bins = 64 },
          { type = "CmsTransform", name = "monitor_freq", inputView = pp_mixed,
            outputView = pp_freq, keyField = lang, width = 64 }
        ]
      }"""
    val ctx = new PipelineContext(spark)
    assert(Runner.run(PipelineConfig.parse(hocon), ctx).isDefined)
    val mixed = spark.table("pp_mixed")
    val kept = mixed.count()
    assert(kept > 0 && kept < spark.table("pp_docs").count(), "pipeline must downselect")
    // scrub stage threaded its count columns through to the end
    assert(mixed.columns.contains("n_emails"))
    // temperature mix: kept counts per lang are exactly ceil(sqrt(n)*5)
    val byLang = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = spark.table("pp_deduped").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (l, n) =>
      val want = math.min(n, math.ceil(math.sqrt(n.toDouble) * 5.0).toLong)
      assert(byLang.getOrElse(l, 0L) == want, s"$l: got ${byLang.getOrElse(l, 0L)} want $want")
    }
    // monitors are bounded structures over the mixed output
    assert(spark.table("pp_hist").count() <= 64)
    assert(spark.table("pp_freq").count() <= 4L * 64)
    // rerunning the whole document reproduces the identical kept set
    val ctx2 = new PipelineContext(spark)
    assert(Runner.run(PipelineConfig.parse(hocon), ctx2).isDefined)
    val again = spark.table("pp_mixed").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == mixed.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("CmsTransform build + estimate run from a config cell") {
    import spark.implicits._
    Seq("a", "a", "a", "b").toDF("k").createOrReplaceTempView("cms_in")
    Seq("a", "b", "zzz").toDF("k").createOrReplaceTempView("cms_probe")
    val hocon =
      """{stages: [
        { type = "CmsTransform", name = "build", inputView = cms_in,
          outputView = cms_sk, keyField = k, mode = build, width = 64 },
        { type = "CmsTransform", name = "est", inputView = cms_probe,
          outputView = cms_est, keyField = k, mode = estimate,
          sketchView = cms_sk, width = 64 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val est = spark.table("cms_est").as[(String, Long)].collect().toMap
    assert(est("a") == 3L && est("b") == 1L, s"got $est")
    // an unseen key's estimate is bounded by collisions (0 here: width 64,
    // 2 occupied cells per row)
    assert(est("zzz") <= 1L)
  }

  test("BloomTransform build + mightContain + antiJoin run from a config cell") {
    import spark.implicits._
    Seq("a", "b", "c").toDF("k").createOrReplaceTempView("bf_set")
    Seq(("a", 1L), ("b", 2L), ("x", 3L), ("y", 4L)).toDF("k", "v")
      .createOrReplaceTempView("bf_in")
    val hocon =
      """{stages: [
        { type = "BloomTransform", name = "build", inputView = bf_set,
          outputView = bf_sk, keyField = k, mode = build, bits = 4096, hashes = 3 },
        { type = "BloomTransform", name = "probe", inputView = bf_in,
          outputView = bf_mc, keyField = k, mode = mightContain,
          sketchView = bf_sk, bits = 4096, hashes = 3 },
        { type = "BloomTransform", name = "scrub", inputView = bf_in,
          outputView = bf_clean, keyField = k, mode = antiJoin,
          filterView = bf_set, bits = 4096, hashes = 3 }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val mc = spark.table("bf_mc").select("k", "might_contain")
      .as[(String, Boolean)].collect().toMap
    assert(mc("a") && mc("b"), s"members must probe true: $mc")
    val clean = spark.table("bf_clean").select("k").as[String].collect().toSet
    assert(clean == Set("x", "y"), s"anti-join kept $clean")
  }

  test("LangModelTransform train + score run from a config cell") {
    import spark.implicits._
    Seq((1L, "a b a b c")).toDF("doc_id", "text").createOrReplaceTempView("lm_train")
    Seq((10L, "a b c"), (11L, "c z")).toDF("doc_id", "text")
      .createOrReplaceTempView("lm_probe")
    val hocon =
      """{stages: [
        { type = "LangModelTransform", name = "bg", inputView = lm_train,
          outputView = lm_bg, mode = trainBigrams },
        { type = "LangModelTransform", name = "ug", inputView = lm_train,
          outputView = lm_ug, mode = trainUnigrams },
        { type = "LangModelTransform", name = "score", inputView = lm_probe,
          outputView = lm_scored, mode = score, idField = doc_id,
          bigramView = lm_bg, unigramView = lm_ug }
      ]}"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val rows = spark.table("lm_scored").collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(10L).getLong(1) == 2 && rows(10L).getLong(2) == 0)
    assert(rows(11L).getLong(1) == 1 && rows(11L).getLong(2) == 1)
    assert(math.abs(rows(11L).getAs[Double]("ppl") - 4.0) < 1e-12)
  }

  test("LineFilterTransform and QuantizeTransform run from a config cell") {
    val hocon =
      s"""{
        stages: [
          {
            type = "ParquetExtract"
            name = "extract docs"
            inputURI = "${sf()}/documents.parquet"
            outputView = lf_docs
          }
          {
            type = "LineFilterTransform"
            name = "c4 lines"
            inputView = lf_docs
            outputView = lf_report
            idField = doc_id
            textField = text
            minWords = 3
          }
          {
            type = "ParquetExtract"
            name = "extract embeddings"
            inputURI = "${sf()}/embeddings.parquet"
            outputView = qt_emb
          }
          {
            type = "QuantizeTransform"
            name = "sq8"
            inputView = qt_emb
            outputView = qt_codes
            idField = vec_id
            vectorField = embedding
          }
        ]
      }"""
    val ctx = new PipelineContext(spark)
    assert(Runner.run(PipelineConfig.parse(hocon), ctx).isDefined)
    assert(spark.table("lf_report").columns.toSeq ==
      Seq("doc_id", "n_lines", "n_kept_lines", "clean_text", "drop_doc"))
    val codes = spark.table("qt_codes")
    assert(codes.columns.contains("codes") && codes.columns.contains("scale"))
    // every code within int8 range
    import org.apache.spark.sql.functions._
    assert(codes.filter(exists(col("codes"), c => abs(c) > 127)).count() == 0)
  }

  test("SketchTransform: segment rows written then merged equal the one-shot estimate") {
    val hocon =
      s"""{
        stages: [
          {type = "ParquetExtract", name = "e", inputURI = "${sf()}/documents.parquet", outputView = sk_docs}
          {type = "SQLTransform", name = "h1", sql = "SELECT * FROM sk_docs WHERE doc_id % 2 = 0", outputView = sk_half1}
          {type = "SQLTransform", name = "h2", sql = "SELECT * FROM sk_docs WHERE doc_id % 2 = 1", outputView = sk_half2}
          {type = "SketchTransform", name = "s1", inputView = sk_half1, outputView = sk_seg1,
           groupFields = [source], sketchFields = [text], mode = segment}
          {type = "SketchTransform", name = "s2", inputView = sk_half2, outputView = sk_seg2,
           groupFields = [source], sketchFields = [text], mode = segment}
          {type = "SQLTransform", name = "u", sql = "SELECT * FROM sk_seg1 UNION ALL SELECT * FROM sk_seg2", outputView = sk_segs}
          {type = "SketchTransform", name = "m", inputView = sk_segs, outputView = sk_merged,
           groupFields = [source], sketchFields = [text], mode = merge}
          {type = "SketchTransform", name = "one", inputView = sk_docs, outputView = sk_oneshot,
           groupFields = [source], sketchFields = [text], mode = estimate}
        ]
      }"""
    assert(Runner.run(PipelineConfig.parse(hocon), new PipelineContext(spark)).isDefined)
    val merged = spark.table("sk_merged").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val oneShot = spark.table("sk_oneshot").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == oneShot && merged.nonEmpty)
  }

  test("HOCON substitutions resolve against session params") {
    val hocon =
      s"""stages = [
        {
          type = "ParquetExtract"
          name = "e"
          inputURI = $${BASE}"/region.parquet"
          outputView = $${?MISSING_VIEW_NAME}hocon_sub_r
        }
      ]"""
    val stages = PipelineConfig.parse(hocon, params = Map("BASE" -> sf()))
    Runner.run(stages, new PipelineContext(spark))
    assert(spark.table("hocon_sub_r").count() == 5)
  }

  test("nested PipelineExecute inherits the caller's environment") {
    val hocon =
      s"""{stages: [
        {type = "PipelineExecute", name = "outer", stages = [
          {type = "SQLTransform", name = "inner_test_only", sql = "SELECT 1 AS x",
           outputView = "env_threaded", environments = [test]}
        ]}
      ]}"""
    // With environment=test the nested stage must RUN (round-2 bug: nested
    // parse silently used the default environment and filtered it out).
    val ctx = new PipelineContext(spark)
    Runner.run(PipelineConfig.parse(hocon, environment = "test"), ctx)
    assert(spark.table("env_threaded").count() == 1)
    // ...and with environment=production it must be filtered.
    spark.catalog.dropTempView("env_threaded")
    Runner.run(PipelineConfig.parse(hocon, environment = "production"), new PipelineContext(spark))
    assert(!spark.catalog.tableExists("env_threaded"))
  }

  test("bare JSON cell dispatches through the interpreter") {
    val interp = new graft.repl.Interpreter(spark)
    val r = interp.execute(
      s"""{"stages": [
        {"type": "ParquetExtract", "name": "e", "inputURI": "${sf()}/region.parquet",
         "outputView": "arc_cell_r"},
        {"type": "SQLTransform", "name": "q",
         "sql": "SELECT r_name FROM arc_cell_r ORDER BY r_name", "outputView": "arc_cell_out"}
      ]}""")
    assert(r.success, r.text)
    assert(r.df.get.count() == 5)
  }

  test("an unknown key is refused with the stage, the key and the nearest known key") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig.parse("""{type = IvfQueryTransform, name = probe, inputView = q,
        outputView = hits, indexURI = "/x", idField = id, vectorField = v, numProbs = 8}""")
    }
    assert(e.getMessage.contains("probe") && e.getMessage.contains("'numProbs'") &&
      e.getMessage.contains("'numProbes'"), e.getMessage)
  }

  test("quoted numbers and booleans, and scalars in lists and maps, convert like HOCON's typed getters") {
    val Seq(ivf: graft.transform.IvfQueryTransform, dedup: graft.transform.DeduplicateTransform,
        sql: graft.transform.SQLTransform) = PipelineConfig.parse("""{stages: [
      {type = IvfQueryTransform, name = probe, inputView = q, outputView = hits,
       indexURI = "/x", idField = id, vectorField = v, k = "50"}
      {type = DeduplicateTransform, name = d, inputView = a, outputView = b, idField = id,
       textField = text, method = "minhash", threshold = "0.95"}
      {type = SQLTransform, name = s, sql = "SELECT 1", outputView = o, persist = "true",
       sqlParams = {x = 5, y = true, z = "w"}, partitionBy = [a, 5]}
    ]}""")
    assert(ivf.k == 50)
    assert(dedup.threshold == 0.95)
    assert(sql.persist)
    assert(sql.sqlParams == Map("x" -> "5", "y" -> "true", "z" -> "w"))
    assert(sql.partitionBy == Seq("a", "5"))
  }

  test("a value that does not convert is refused, naming the key") {
    for (bad <- Seq("2.5", "\"abc\"", "[1]")) {
      val e = intercept[IllegalArgumentException] {
        PipelineConfig.parse(s"""{type = IvfQueryTransform, name = probe, inputView = q,
          outputView = hits, indexURI = "/x", idField = id, vectorField = v, k = $bad}""")
      }
      assert(e.getMessage.contains("probe") && e.getMessage.contains("'k'"), e.getMessage)
    }
  }

  test("every config error of a cell is reported together, nested pipeline stages included") {
    val e = intercept[IllegalArgumentException] {
      PipelineConfig.parse("""{stages: [
        {type = SQLTransform, name = first, sql = "SELECT 1", outputView = o, persists = true}
        {type = NopeTransform, name = second}
        {type = PipelineExecute, name = outer, stages = [
          {type = ChunkTransform, name = inner, inputView = a, outputView = b, textField = t,
           chunkSize = x}
        ]}
        {type = SQLTransform, name = last, outputView = o}
      ]}""")
    }
    val lines = e.getMessage.split("\n").toSeq
    assert(lines.size == 4, e.getMessage)
    assert(lines(0).contains("first") && lines(0).contains("'persists'") && lines(0).contains("'persist'"))
    assert(lines(1).contains("unknown stage type: NopeTransform"))
    assert(lines(2).contains("inner") && lines(2).contains("'chunkSize'"))
    assert(lines(3) == "stage last missing 'sql'")
  }

  test("an explicit empty list takes the constructor's default") {
    val Seq(out: graft.transform.OutlierTransform, hist: graft.transform.HistogramTransform,
        http: graft.execute.HTTPExecute) = PipelineConfig.parse("""{stages: [
      {type = OutlierTransform, name = o, inputView = a, outputView = b, valueField = v, quantiles = []}
      {type = HistogramTransform, name = h, inputView = a, outputView = b, quantiles = []}
      {type = HTTPExecute, name = x, uri = "http://localhost/", validStatusCodes = []}
    ]}""")
    assert(out.quantiles == Seq(0.5))
    assert(hist.quantiles == Seq(0.5, 0.9, 0.99))
    assert(http.validStatusCodes == Seq(200, 201, 202))
  }
}
