package graft.transform

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{PipelineContext, Stage}
import graft.llm.{Decontaminate, Dedup, Sampling, TextStats}

/** Pipeline-surface wrappers for the training-data operators, so the
  * magic-cell / HOCON config surface (the reference's user-facing layer —
  * `/root/reference/src/main/scala/ai/tripl/arc/jupyter/ArcInterpreter.scala`
  * executes stages, not library calls) can run dedup, decontamination and
  * sampling without writing Scala. Thin: each stage resolves views and
  * delegates to the `graft.llm` engine, so the REPL path and the library
  * path execute identical plans.
  */
final case class DeduplicateTransform(
    name: String,
    inputView: String,
    outputView: String,
    idField: String,
    textField: String = "",
    method: String = "exact",
    keyFields: Seq[String] = Nil,
    qualityField: String = "",
    threshold: Double = 0.8,
    shingleLength: Int = 3,
    maxDistance: Int = 3,
    vectorField: String = "",
    numClusters: Int = 16,
    urlField: String = "",
    hashMode: String = "xxhash64",
    persist: Boolean = false
) extends Stage {
  val stageType = "DeduplicateTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = method match {
      case "exact" =>
        val keys = if (keyFields.nonEmpty) keyFields else Seq(textField)
        require(keys.forall(_.nonEmpty), s"$name: exact dedup needs keyFields or textField")
        Dedup.exact(in, keys, tiebreaker = idField)
      case "best" =>
        // quality-aware retention: survivors maximize qualityField
        val keys = if (keyFields.nonEmpty) keyFields else Seq(textField)
        require(keys.forall(_.nonEmpty), s"$name: best dedup needs keyFields or textField")
        require(qualityField.nonEmpty, s"$name: best dedup needs qualityField")
        Dedup.exactBest(in, keys, col(qualityField), tiebreaker = idField)
      case "normalized" =>
        // near-exact at exact cost: group key is the normalized-text hash
        require(textField.nonEmpty, s"$name: normalized dedup needs textField")
        Dedup.exact(
          in.withColumn("_nfp", xxhash64(TextStats.normalize(col(textField)))),
          Seq("_nfp"), tiebreaker = idField).drop("_nfp")
      case "canonical" =>
        // normalized + Unicode canonicalization (NFC): composed and
        // decomposed spellings of the SAME text (é vs e+U+0301) collapse
        // onto one key — what a multilingual corpus needs before dedup.
        // Same single-shuffle exact-dedup cost; the NFC pass is a narrow
        // codegen'd expression with an isNormalized fast path.
        require(textField.nonEmpty, s"$name: canonical dedup needs textField")
        Dedup.exact(
          in.withColumn("_nfp",
            xxhash64(TextStats.normalize(
              graft.functions.UnicodeNormalizeExpr.unicode_normalize(col(textField))))),
          Seq("_nfp"), tiebreaker = idField).drop("_nfp")
      case "minhash" =>
        require(textField.nonEmpty, s"$name: minhash dedup needs textField")
        Dedup.minhashDedup(in, idField, textField,
          shingleLen = shingleLength, threshold = threshold)
      case "simhash" =>
        require(textField.nonEmpty, s"$name: simhash dedup needs textField")
        Dedup.simhashDedup(in, idField, textField, maxDistance = maxDistance)
      case "semantic" =>
        // SemDeDup: learned-cluster-bounded embedding dedup with transitive
        // closure; threshold is the cosine tau
        require(vectorField.nonEmpty, s"$name: semantic dedup needs vectorField")
        Dedup.semDedup(in, idField, vectorField, nclusters = numClusters, tau = threshold)
      case "url" =>
        // URL-keyed crawl dedup: canonicalize spelling variants, keep the
        // first-crawled row per canonical URL (+ canonical_url, n_dups)
        require(urlField.nonEmpty, s"$name: url dedup needs urlField")
        graft.llm.UrlNorm.dedupByUrl(in, urlField, tiebreaker = idField)
      case "semanticReport" =>
        // per-row (id, cluster, kept) audit of the semantic dedup, from ONE
        // quantizer training
        require(vectorField.nonEmpty, s"$name: semantic dedup needs vectorField")
        Dedup.semDedupReport(in, idField, vectorField, nclusters = numClusters, tau = threshold)
      case "span" =>
        // substring-level: excise every >= shingleLength-token run shared
        // across >= 2 docs from all but the min-id doc (suffix-array dedup
        // semantics, llm/SpanDedup) — shingleLength doubles as the window
        // size in TOKENS (>= 2)
        require(textField.nonEmpty, s"$name: span dedup needs textField")
        require(shingleLength >= 2,
          s"$name: span dedup needs shingleLength >= 2 (window size in tokens), got $shingleLength")
        // stage default hashMode=xxhash64: 8-byte gram keys shuffle ~4×
        // fewer bytes than md5 hex — the scale path; md5 stays for
        // cross-engine-oracle use
        graft.llm.SpanDedup.dedupSpans(in, idField, textField, k = shingleLength,
          hashMode = hashMode)
      case "spanWithinDoc" =>
        // same-document half: runs occurring >= 2 times INSIDE one doc keep
        // their first occurrence
        require(textField.nonEmpty, s"$name: span dedup needs textField")
        require(shingleLength >= 2,
          s"$name: span dedup needs shingleLength >= 2 (window size in tokens), got $shingleLength")
        graft.llm.SpanDedup.dedupSpansWithinDoc(in, idField, textField, k = shingleLength,
          hashMode = hashMode)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown dedup method '$other' " +
            "(exact|best|normalized|canonical|minhash|simhash|semantic|semanticReport|url|span|spanWithinDoc)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Flag or drop training rows sharing a word n-gram with an eval view —
  * [[graft.llm.Decontaminate]] behind the config surface. `action=filter`
  * outputs only clean rows; `action=flag` keeps all rows and appends
  * `n_matched` (0 for clean rows).
  */
final case class DecontaminateTransform(
    name: String,
    inputView: String,
    evalView: String,
    outputView: String,
    idField: String,
    textField: String,
    evalTextField: String = "",
    ngram: Int = 8,
    action: String = "filter",
    bloomBits: Long = 0L,
    persist: Boolean = false
) extends Stage {
  val stageType = "DecontaminateTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val train = ctx.view(inputView)
    val eval = ctx.view(evalView)
    val evalText = if (evalTextField.nonEmpty) evalTextField else textField
    // bloomBits > 0 switches to the bloom-prefiltered path (same results,
    // for eval gram sets too large to broadcast)
    val out = action match {
      case "filter" if bloomBits > 0 =>
        Decontaminate.cleanBloom(train, idField, textField, eval, evalText,
          n = ngram, bits = bloomBits)
      case "filter" =>
        Decontaminate.clean(train, idField, textField, eval, evalText, n = ngram)
      case "flag" =>
        val hits =
          if (bloomBits > 0)
            Decontaminate.overlapBloom(train, idField, textField, eval, evalText,
              n = ngram, bits = bloomBits)
          else Decontaminate.overlap(train, idField, textField, eval, evalText, n = ngram)
        train
          .join(hits, Seq(idField), "left")
          .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
      case "canary" =>
        // exact verbatim-substring hits against the eval view's strings via
        // the single-pass Aho-Corasick expression. The canary list is
        // collected to the driver (it rides inside the expression), so it
        // is explicitly bounded — unlike the n-gram paths, which stream
        // the eval side through joins.
        // NULL / empty eval strings are not canaries: a null pattern would
        // NPE inside MultiContainsExpr's automaton build and an empty one
        // would match everything — drop both before the bounded collect.
        val canaries = graft.core.Local.collectUpTo(
          eval.select(col(evalText))
            .filter(col(evalText).isNotNull && length(col(evalText)) > 0)
            .distinct(),
          100000, graft.core.Local.MaxBytes)
        require(canaries.isDefined, s"$name: canary list exceeds 100k entries " +
          "(or the driver byte bound) — use the n-gram or bloom path")
        require(canaries.get.nonEmpty, s"$name: eval view has no canary strings")
        Decontaminate.canaryHits(train, idField, textField, canaries.get.map(_.getString(0)).toSeq)
      case other =>
        throw new IllegalArgumentException(s"$name: unknown action '$other' (filter|flag|canary)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Build and persist a [[graft.llm.MinhashIndex]] over a view — the
  * corpus-side half of incremental ingest dedup (a Load in spirit: writes
  * files, registers no view).
  */
final case class MinhashIndexLoad(
    name: String,
    inputView: String,
    outputURI: String,
    idField: String,
    textField: String,
    shingleLength: Int = 3,
    bands: Int = 8,
    rowsPerBand: Int = 4,
    maxBucketSize: Int = 256
) extends Stage {
  val stageType = "MinhashIndexLoad"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    graft.llm.MinhashIndex.write(ctx.view(inputView), idField, textField, outputURI,
      shingleLength, bands, rowsPerBand, maxBucketSize)
    None
  }
}

/** Build and persist a [[graft.llm.SemIndex]] over a view — incremental
  * SemDeDup's corpus half: one-shot embedding dedup whose quantizer and
  * kept rows persist so daily batches dedup in O(batch).
  */
final case class SemIndexLoad(
    name: String,
    inputView: String,
    outputURI: String,
    idField: String,
    vectorField: String,
    numClusters: Int = 16,
    threshold: Double = 0.95
) extends Stage {
  val stageType = "SemIndexLoad"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    graft.llm.SemIndex.write(ctx.view(inputView), idField, vectorField, outputURI,
      nclusters = numClusters, tau = threshold)
    None
  }
}

/** Ingest-side incremental SemDeDup against a saved [[graft.llm.SemIndex]]:
  * `filter` keeps batch rows with no ≥ tau cosine neighbor among the
  * indexed kept rows (nor a surviving earlier batch duplicate); `ingest`
  * additionally appends the survivors to the index for the next batch;
  * `delete` takes the input view's ids down; `log` publishes the
  * takedown audit trail.
  */
final case class SemIndexDedupTransform(
    name: String,
    inputView: String,
    outputView: String,
    indexURI: String,
    idField: String,
    vectorField: String,
    action: String = "filter",
    persist: Boolean = false
) extends Stage {
  val stageType = "SemIndexDedupTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "filter" => graft.llm.SemIndex.dedupAgainst(in, idField, vectorField, indexURI)
      case "ingest" => graft.llm.SemIndex.ingest(in, idField, vectorField, indexURI)
      case "delete" =>
        // takedown: the input view's idField column lists the vector ids —
        // passed through as a frame, never collected to the driver
        graft.llm.SemIndex.delete(ctx.spark, indexURI, in.select(col(idField)))
          .toDF(ctx.spark, "vectors_removed")
      case "log" => graft.llm.SemIndex.takedownLog(ctx.spark, indexURI)
      case other =>
        throw new IllegalArgumentException(s"$name: unknown action '$other' (filter|ingest|delete|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Incremental cross-document span dedup against a persistent
  * [[graft.llm.SpanIndex]]: `action=write` one-shot-dedups the input AND
  * creates the gram index (output view = the per-doc dedup rows);
  * `action=ingest` dedups a new batch against the index with O(batch)
  * work and appends its new grams — batch-ingest ≡ one-shot on the union
  * corpus under the disjoint-id watermark; `action=delete` takes the
  * input view's keeper ids down; `action=log` publishes the takedown
  * audit trail.
  */
final case class SpanIndexTransform(
    name: String,
    inputView: String,
    outputView: String,
    indexURI: String,
    idField: String,
    textField: String,
    action: String = "write",
    shingleLength: Int = 8,
    hashMode: String = "xxhash64",
    numBuckets: Int = 64,
    persist: Boolean = false
) extends Stage {
  val stageType = "SpanIndexTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "write" =>
        graft.llm.SpanIndex.write(in, idField, textField, indexURI,
          k = shingleLength, hashMode = hashMode, nbuckets = numBuckets)
      case "ingest" =>
        graft.llm.SpanIndex.ingest(in, idField, textField, indexURI)
      case "delete" =>
        // takedown: the input view's idField column lists the doc ids —
        // passed through as a frame, never collected to the driver
        graft.llm.SpanIndex.delete(ctx.spark, indexURI, in.select(col(idField)))
          .toDF(ctx.spark, "grams_removed")
      case "log" => graft.llm.SpanIndex.takedownLog(ctx.spark, indexURI)
      case other =>
        throw new IllegalArgumentException(s"$name: unknown action '$other' (write|ingest|delete|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Ingest-side incremental dedup against a saved MinHash index: `filter`
  * keeps only rows with no exact or near duplicate in the indexed corpus;
  * `matches` outputs the (new_id, corpus_id, jaccard) match pairs instead;
  * `ingest` additionally dedups the batch against itself and appends the
  * survivors to the index, so the next batch is checked against this one
  * too ([[graft.llm.MinhashIndex.ingest]], disjoint-id watermark enforced);
  * `delete` takes the input view's ids down across all three tables;
  * `log` publishes the per-table takedown audit trail.
  */
final case class IndexDedupTransform(
    name: String,
    inputView: String,
    outputView: String,
    indexURI: String,
    idField: String,
    textField: String,
    threshold: Double = 0.8,
    action: String = "filter",
    maxCandidatesPerDoc: Int = 64,
    persist: Boolean = false
) extends Stage {
  val stageType = "IndexDedupTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "filter" =>
        graft.llm.MinhashIndex.dedupAgainst(in, idField, textField, indexURI,
          threshold, maxCandidatesPerDoc)
      case "matches" =>
        graft.llm.MinhashIndex.matches(in, idField, textField, indexURI,
          threshold, maxCandidatesPerDoc)
      case "ingest" =>
        graft.llm.MinhashIndex.ingest(in, idField, textField, indexURI,
          threshold, maxCandidatesPerDoc)
      case "delete" =>
        // takedown: the input view's idField column lists the doc ids —
        // passed through as a frame, never collected to the driver
        graft.llm.MinhashIndex.delete(ctx.spark, indexURI, in.select(col(idField)))
          .toDF(ctx.spark, "band_rows_removed", "shingle_rows_removed", "exact_rows_removed")
      case "log" => graft.llm.MinhashIndex.takedownLog(ctx.spark, indexURI)
      case other =>
        throw new IllegalArgumentException(s"$name: unknown action '$other' (filter|matches|ingest|delete|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Context-window chunking behind the config surface —
  * [[graft.llm.Chunking.chunkByTokens]]: each input row becomes one row per
  * token window (chunk_id, n_chunks, chunk_text, chunk_tokens; the text
  * column is replaced by the chunk columns).
  */
/** Segment/paragraph-level dedup behind the config surface —
  * [[graft.llm.Dedup.segmentDupStats]]. `action=stats` outputs per-document
  * segment counts (`n_segments`, `n_shared_segments`) for documents sharing
  * at least one segment; `action=filter` keeps only input rows whose shared
  * fraction stays UNDER `maxSharedFraction` (docs with no shared segments
  * pass untouched); `action=clean` rewrites `textField` with over-shared
  * segments removed (docs with null/empty text pass through unchanged).
  *
  * Contract: `idField` must be unique per row — filter/clean join the
  * per-document report back on it, and a duplicated id would multiply rows.
  */
final case class SegmentDedupTransform(
    name: String,
    inputView: String,
    outputView: String,
    idField: String,
    textField: String,
    segmentWords: Int = 8,
    action: String = "stats",
    maxSharedFraction: Double = 0.5,
    maxDocFreq: Long = 1L,
    minLength: Int = 32,
    maskBits: Int = 6,
    maxLength: Int = 512,
    persist: Boolean = false
) extends Stage {
  val stageType = "SegmentDedupTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    lazy val stats = Dedup.segmentDupStats(in, idField, textField, segmentWords)
    val out = action match {
      case "stats" => stats
      case "cdcStats" =>
        // content-defined boundaries: edit-robust shared-chunk stats
        // (see Dedup.cdcDupStats — q163 pins the robustness claim)
        Dedup.cdcDupStats(in, idField, textField, minLength, maskBits, maxLength)
      case "filter" =>
        val flagged = stats
          .filter(col("n_shared_segments").cast("double") >=
            col("n_segments").cast("double") * maxSharedFraction)
          .select(col(idField))
        in.join(flagged, Seq(idField), "left_anti")
      case "clean" =>
        // CCNet-style removal: rewrite textField with over-shared segments
        // dropped instead of dropping whole documents. LEFT join + coalesce:
        // a null-text doc never reaches the segment report (posexplode of a
        // null array yields no rows) and must pass through with its original
        // text rather than silently vanish.
        in.withColumnRenamed(textField, "_orig_text")
          .join(
            Dedup.segmentClean(in, idField, textField, segmentWords, maxDocFreq)
              .select(col(idField), col("clean_text")),
            Seq(idField), "left")
          .withColumn(textField, coalesce(col("clean_text"), col("_orig_text")))
          .select(in.columns.map(col): _*) // original column order
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown segment-dedup action '$other' (stats|filter|clean)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Time-series resampling behind the config surface —
  * [[graft.operators.Resample.resampleLinear]]: per-key fixed grid with
  * linear interpolation between the surrounding observations.
  */
final case class ResampleTransform(
    name: String,
    inputView: String,
    outputView: String,
    keyField: String,
    timeField: String,
    valueField: String,
    step: String = "1 hour",
    persist: Boolean = false
) extends Stage {
  val stageType = "ResampleTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val out = graft.operators.Resample
      .resampleLinear(ctx.view(inputView), keyField, timeField, valueField, step)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Mergeable distinct-count sketches behind the config surface —
  * [[graft.llm.SketchStats]]. `mode=segment` emits per-group sketch rows
  * (write them like any table; a daily batch costs O(batch)); `mode=merge`
  * combines previously-built segment rows into estimates; `mode=estimate`
  * is the one-shot build+merge.
  */
final case class SketchTransform(
    name: String,
    inputView: String,
    outputView: String,
    groupFields: Seq[String],
    sketchFields: Seq[String],
    mode: String = "estimate",
    lgK: Int = 12,
    persist: Boolean = false
) extends Stage {
  val stageType = "SketchTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = mode match {
      case "segment"  => graft.llm.SketchStats.segment(in, groupFields, sketchFields, lgK)
      case "merge"    => graft.llm.SketchStats.merge(in, groupFields, sketchFields)
      case "estimate" => graft.llm.SketchStats.estimate(in, groupFields, sketchFields, lgK)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown sketch mode '$other' (segment|merge|estimate)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Count-min sketch behind the config surface — [[graft.llm.CmsSketch]]:
  * `mode=build` turns the input view into a (d, b, cnt) matrix over
  * `keyField` (optionally weighted by `weightField`); `mode=merge` sums
  * sketch segments cell-wise; `mode=estimate` reads probe keys from the
  * input view and joins the sketch named by `sketchView`.
  */
final case class CmsTransform(
    name: String,
    inputView: String,
    outputView: String,
    keyField: String = "",
    weightField: String = "",
    sketchView: String = "",
    mode: String = "build",
    depth: Int = 4,
    width: Int = 1024,
    persist: Boolean = false
) extends Stage {
  val stageType = "CmsTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = mode match {
      case "build" =>
        require(keyField.nonEmpty, s"$name: build needs keyField")
        val w = if (weightField.isEmpty) lit(1L) else col(weightField)
        graft.llm.CmsSketch.build(in, col(keyField), depth, width, w)
      case "merge" => graft.llm.CmsSketch.merge(in)
      case "estimate" =>
        require(keyField.nonEmpty && sketchView.nonEmpty,
          s"$name: estimate needs keyField and sketchView")
        graft.llm.CmsSketch.estimate(ctx.view(sketchView), in, col(keyField), depth, width)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown cms mode '$other' (build|merge|estimate)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Bigram LM behind the config surface — [[graft.llm.LangModel]]:
  * `mode=trainBigrams`/`mode=trainUnigrams` turn the input view into count
  * tables over `textField`; `mode=score` scores the input view against the
  * count views named by `bigramView`/`unigramView` (`vocabSize` ≤ 0 means
  * "count the unigram view" — a corpus constant the pipeline usually knows).
  */
final case class LangModelTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String = "text",
    idField: String = "",
    bigramView: String = "",
    unigramView: String = "",
    mode: String = "score",
    vocabSize: Long = 0L,
    alpha: Double = 1.0,
    rareMax: Long = 2L,
    persist: Boolean = false
) extends Stage {
  val stageType = "LangModelTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = mode match {
      case "trainBigrams" => graft.llm.LangModel.bigramCounts(in, textField)
      case "trainUnigrams" => graft.llm.LangModel.unigramCounts(in, textField)
      case "score" =>
        require(idField.nonEmpty && bigramView.nonEmpty && unigramView.nonEmpty,
          s"$name: score needs idField, bigramView and unigramView")
        val ug = ctx.view(unigramView)
        val v = if (vocabSize > 0) vocabSize else ug.count()
        graft.llm.LangModel.score(in, idField, textField,
          ctx.view(bigramView), ug, v, alpha, rareMax)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown langmodel mode '$other' (trainBigrams|trainUnigrams|score)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Bloom filter behind the config surface — [[graft.llm.BloomSketch]]:
  * `mode=build` turns the input view into a (word, bits) bitmap over
  * `keyField`; `mode=merge` ORs bitmap segments word-wise;
  * `mode=mightContain` flags the input view's keys against the bitmap
  * named by `sketchView`; `mode=antiJoin` keeps input rows whose key is
  * NOT in the view named by `filterView` (exact — the bitmap only
  * pre-prunes).
  */
final case class BloomTransform(
    name: String,
    inputView: String,
    outputView: String,
    keyField: String = "",
    sketchView: String = "",
    filterView: String = "",
    filterKeyField: String = "",
    mode: String = "build",
    bits: Long = 1L << 22,
    hashes: Int = 5,
    persist: Boolean = false
) extends Stage {
  val stageType = "BloomTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = mode match {
      case "build" =>
        require(keyField.nonEmpty, s"$name: build needs keyField")
        graft.llm.BloomSketch.build(in, col(keyField), bits, hashes)
      case "merge" => graft.llm.BloomSketch.merge(in)
      case "mightContain" =>
        require(keyField.nonEmpty && sketchView.nonEmpty,
          s"$name: mightContain needs keyField and sketchView")
        graft.llm.BloomSketch.mightContain(ctx.view(sketchView), in, col(keyField), bits, hashes)
      case "antiJoin" =>
        require(keyField.nonEmpty && filterView.nonEmpty,
          s"$name: antiJoin needs keyField and filterView")
        val fk = if (filterKeyField.isEmpty) keyField else filterKeyField
        graft.llm.BloomSketch.antiJoin(in, col(keyField), ctx.view(filterView), col(fk),
          bits, hashes)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown bloom mode '$other' (build|merge|mightContain|antiJoin)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Histogram-quantile segments behind the config surface —
  * [[graft.llm.HistSketch]]: `mode=segment` bins `valueField` into a
  * (bin, cnt) histogram, `mode=merge` sums segments, `mode=quantiles`
  * reads a histogram view and emits (p, est) for `quantiles`. With
  * `groupFields` every mode switches to the per-group form (one histogram
  * per group — the per-source drift monitor). The same lo/hi/bins must be
  * used across a segment family.
  */
final case class HistogramTransform(
    name: String,
    inputView: String,
    outputView: String,
    valueField: String = "",
    mode: String = "segment",
    lo: Double = 0.0,
    hi: Double = 1.0,
    bins: Int = 64,
    quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
    groupFields: Seq[String] = Nil,
    compareView: String = "",
    persist: Boolean = false
) extends Stage {
  val stageType = "HistogramTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val grouped = groupFields.nonEmpty
    val out = mode match {
      case "segment" =>
        require(valueField.nonEmpty, s"$name: segment needs valueField")
        if (grouped) graft.llm.HistSketch.segmentBy(in, groupFields, col(valueField), lo, hi, bins)
        else graft.llm.HistSketch.segment(in, col(valueField), lo, hi, bins)
      case "merge" =>
        if (grouped) graft.llm.HistSketch.mergeBy(in, groupFields)
        else graft.llm.HistSketch.merge(in)
      case "quantiles" =>
        if (grouped) graft.llm.HistSketch.quantilesBy(in, groupFields, quantiles, lo, hi, bins)
        else graft.llm.HistSketch.quantiles(in, quantiles, lo, hi, bins)
      case "drift" =>
        // inputView vs compareView: both must be histograms of the SAME
        // binning (segment/merge outputs); emits tv/linf/ks per group
        require(compareView.nonEmpty, s"$name: drift needs compareView")
        graft.llm.HistSketch.driftBy(in, ctx.view(compareView), groupFields)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown histogram mode '$other' (segment|merge|quantiles|drift)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

final case class ChunkTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    chunkSize: Int = 2048,
    overlap: Int = 0,
    method: String = "tokens",
    minLength: Int = 64,
    maskBits: Int = 8,
    maxLength: Int = 1024,
    persist: Boolean = false
) extends Stage {
  val stageType = "ChunkTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = method match {
      case "tokens" => graft.llm.Chunking.chunkByTokens(in, textField, chunkSize, overlap)
      case "content" =>
        // content-defined (gear-hash) boundaries: edit-robust chunking for
        // chunk-level dedup — see graft.functions.CdcChunksExpr
        graft.llm.Chunking.chunkByContent(in, textField, minLength, maskBits, maxLength)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown chunk method '$other' (tokens|content)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Sequence packing behind the config surface ([[graft.llm.Packing]]):
  * `method=greedy` appends a `pack_id` column by whole-document first-fit
  * on a token COUNT column (the batch-planning shape); `method=tokenIds`
  * emits the packed context windows themselves — every document's
  * `[bos] ++ ids ++ [eos]` stream cut into `contextLength`-token windows
  * with a `doc_spans` boundary map (the pretraining-corpus shape).
  */
final case class PackingTransform(
    name: String,
    inputView: String,
    outputView: String,
    shardField: String,
    orderField: String,
    method: String = "greedy",
    tokensField: String = "n_tokens",
    maxTokens: Long = 2048L,
    docIdField: String = "doc_id",
    idsField: String = "ids",
    contextLength: Int = 2048,
    bosId: Long = 1L,
    eosId: Long = 2L,
    persist: Boolean = false
) extends Stage {
  val stageType = "PackingTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = method match {
      case "greedy" =>
        graft.llm.Packing.packGreedy(in, shardField, orderField, tokensField, maxTokens)
      case "tokenIds" =>
        graft.llm.Packing.packTokenIds(in, docIdField, shardField, orderField,
          idsField, contextLength, bosId, eosId)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown packing method '$other' (greedy|tokenIds)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Build (or incrementally ingest into) a persistent [[graft.llm.IvfIndex]]
  * over an embedding view — the corpus-side half of repeated retrieval
  * (a Load in spirit: writes files, registers no view). `action=write`
  * trains the quantizer and lays the corpus out by inverted list;
  * `action=ingest` assigns a new batch against the existing quantizer and
  * appends — O(batch), no retraining.
  */
final case class IvfIndexLoad(
    name: String,
    inputView: String,
    outputURI: String,
    idField: String,
    vectorField: String,
    numLists: Int = 16,
    action: String = "write",
    seed: Long = 42L,
    pqSubspaces: Int = 0,
    pqCodesPerSub: Int = 16,
    pqResidual: Boolean = false,
    replace: Boolean = false
) extends Stage {
  val stageType = "IvfIndexLoad"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    action match {
      case "write" =>
        graft.llm.IvfIndex.write(ctx.view(inputView), idField, vectorField, outputURI,
          numLists, seed, pqSubspaces = pqSubspaces, pqCodesPerSub = pqCodesPerSub,
          pqResidual = pqResidual)
      case "ingest" =>
        graft.llm.IvfIndex.ingest(ctx.view(inputView), idField, vectorField, outputURI,
          replace = replace)
      case "delete" =>
        // takedown: the input view's idField column lists the vector ids —
        // passed through as a frame, never collected to the driver
        graft.llm.IvfIndex.delete(ctx.spark, outputURI,
          ctx.view(inputView).select(col(idField)))
      case other =>
        throw new IllegalArgumentException(s"$name: unknown action '$other' (write|ingest|delete)")
    }
    None
  }
}

/** Query-side retrieval against a saved IVF index: top-k cosine neighbors
  * per query row, reading only the probed inverted-list partitions.
  * `quantized=true` takes the IVF-SQ8 path ([[graft.llm.IvfIndex
  * .topKQuantized]]): int8 integer-dot shortlist over the stored codes
  * column (`shortlistFactor × k` candidates), exact float rescore of the
  * shortlist only.
  */
final case class IvfQueryTransform(
    name: String,
    inputView: String,
    outputView: String,
    indexURI: String,
    idField: String,
    vectorField: String,
    k: Int = 10,
    numProbes: Int = 2,
    quantized: Boolean = false,
    shortlistFactor: Int = 4,
    pq: Boolean = false,
    persist: Boolean = false
) extends Stage {
  val stageType = "IvfQueryTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val out =
      if (pq)
        graft.llm.IvfIndex.topKPq(ctx.view(inputView), idField, vectorField,
          indexURI, k, numProbes, shortlistFactor)
      else if (quantized)
        graft.llm.IvfIndex.topKQuantized(ctx.view(inputView), idField, vectorField,
          indexURI, k, numProbes, shortlistFactor)
      else
        graft.llm.IvfIndex.topK(ctx.view(inputView), idField, vectorField,
          indexURI, k, numProbes)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Index-freshness recall monitor ([[graft.llm.IvfIndex.recallProbe]]):
  * sampled partial-probe recall vs brute force over the indexed corpus —
  * the trigger signal for re-writing an index whose `ingest` batches have
  * drifted away from the quantizer's training distribution. Emits one row
  * (mode, n_queries, k, nprobe, n_exact, n_hit, recall); `quantized = true`
  * probes the SQ8 path, covering the shortlistFactor recall trade too.
  */
final case class IvfRecallTransform(
    name: String,
    inputView: String,
    outputView: String,
    indexURI: String,
    idField: String,
    vectorField: String,
    k: Int = 10,
    numProbes: Int = 2,
    quantized: Boolean = false,
    shortlistFactor: Int = 4,
    pq: Boolean = false,
    persist: Boolean = false
) extends Stage {
  val stageType = "IvfRecallTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val out = graft.llm.IvfIndex.recallProbe(ctx.view(inputView), idField, vectorField,
      indexURI, k, numProbes, quantized, shortlistFactor, pq)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Product-quantization retrieval ([[graft.llm.Pq.pqTopK]]) behind the
  * config surface: per-subspace codebooks trained on the corpus view, ADC
  * shortlist over the m-byte codes, exact float rescore. One-shot (train +
  * retrieve per run) — the persistent path is [[IvfIndexLoad]] +
  * [[IvfQueryTransform]].
  */
final case class PqQueryTransform(
    name: String,
    inputView: String,
    corpusView: String,
    outputView: String,
    idField: String,
    vectorField: String,
    dim: Int,
    k: Int = 10,
    numSubspaces: Int = 8,
    numCodes: Int = 16,
    shortlistFactor: Int = 4,
    seed: Long = 42L,
    persist: Boolean = false
) extends Stage {
  val stageType = "PqQueryTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val out = graft.llm.Pq.pqTopK(ctx.view(corpusView), idField, vectorField,
      ctx.view(inputView), idField, vectorField,
      dim = dim, k = k, m = numSubspaces, ksub = numCodes,
      shortlistFactor = shortlistFactor, seed = seed)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Misra–Gries heavy hitters ([[graft.llm.HeavyHitters]]) behind the config
  * surface. `action=estimate` runs the end-to-end sketch (per-partition
  * summaries → summed estimates); `action=summarize` emits the raw
  * per-partition summaries (the mergeable segment shape); `action=merge`
  * compacts a view of summaries back to ≤ cap rows.
  */
final case class HeavyHittersTransform(
    name: String,
    inputView: String,
    outputView: String,
    keyField: String = "",
    cap: Int = 64,
    action: String = "estimate",
    persist: Boolean = false
) extends Stage {
  val stageType = "HeavyHittersTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "estimate" =>
        require(keyField.nonEmpty, s"$name: estimate needs keyField")
        graft.llm.HeavyHitters.heavyHitters(in, col(keyField), cap)
      case "summarize" =>
        require(keyField.nonEmpty, s"$name: summarize needs keyField")
        graft.llm.HeavyHitters.summarize(in, col(keyField), cap)
      case "merge" => graft.llm.HeavyHitters.merge(in, cap)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown action '$other' (estimate|summarize|merge)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Deterministic sampling behind the config surface —
  * [[graft.llm.Sampling]]. Methods: `hash` (rate), `weighted` (per-row
  * weightField), `stratified` (rate within strataFields), `mixture`
  * (per-group fractions toward a target mix), `groupCap` (at most cap rows
  * per group, ordered by idField), `temperature` (kept ∝ √|group|, cap =
  * scale), `split` (train/val/test labels from `fractions`, bands in
  * lexicographic label order so configs reproduce across runs), and
  * `interleave` ([[graft.llm.Interleave]] — `fractions` as per-group
  * weights, `rate` the default weight, adds a `pos` ordering column).
  */
final case class SampleTransform(
    name: String,
    inputView: String,
    outputView: String,
    method: String = "hash",
    keyField: String = "",
    rate: Double = 0.1,
    weightField: String = "",
    strataFields: Seq[String] = Nil,
    fractions: Map[String, Double] = Map.empty,
    cap: Int = 0,
    salt: String = "",
    corpusView: String = "",
    carryFields: Seq[String] = Nil,
    vectorField: String = "",
    persist: Boolean = false
) extends Stage {
  val stageType = "SampleTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    require(keyField.nonEmpty, s"$name: keyField is required (deterministic sampling key)")
    val out = method match {
      case "hash" => Sampling.hashSample(in, col(keyField), rate, salt)
      case "weighted" =>
        require(weightField.nonEmpty, s"$name: weighted sampling needs weightField")
        Sampling.weightedHashSample(in, col(keyField), col(weightField), salt)
      case "stratified" =>
        require(strataFields.nonEmpty, s"$name: stratified sampling needs strataFields")
        Sampling.stratifiedExact(in, strataFields, col(keyField), rate, salt)
      case "mixture" =>
        require(strataFields.size == 1, s"$name: mixture sampling needs exactly one strata field")
        Sampling.mixtureExact(in, strataFields.head, fractions, rate, col(keyField), salt)
      case "groupCap" =>
        require(strataFields.nonEmpty && cap > 0, s"$name: groupCap needs strataFields and cap > 0")
        Sampling.groupCap(in, strataFields, Seq(col(keyField)), cap)
      case "temperature" =>
        require(strataFields.size == 1,
          s"$name: temperature sampling needs exactly one strata field")
        require(cap > 0, s"$name: temperature sampling needs cap > 0 (the sqrt scale)")
        Sampling.temperatureSample(in, strataFields.head, cap, col(keyField), salt)
      case "split" =>
        require(fractions.nonEmpty, s"$name: split needs fractions (label -> fraction)")
        Sampling.hashSplit(in, col(keyField), fractions.toSeq.sortBy(_._1), salt)
      case "interleave" =>
        require(strataFields.size == 1,
          s"$name: interleave needs exactly one strata field (the source column)")
        graft.llm.Interleave.weightedInterleave(
          in, strataFields.head, fractions, rate, col(keyField), salt)
      case "tokenBudget" =>
        require(strataFields.size == 1,
          s"$name: tokenBudget needs exactly one strata field (the source column)")
        require(weightField.nonEmpty, s"$name: tokenBudget needs weightField (the token count)")
        // fractions carry the per-group budgets (token counts); rate is the
        // default budget for unlisted groups
        Sampling.tokenBudgetSample(in, strataFields.head, col(weightField),
          fractions.map { case (k, v) => k -> v.toLong }, rate.toLong, col(keyField), salt)
      case "negative" =>
        // deterministic contrastive negatives: inputView = queries,
        // corpusView = candidate corpus; cap = k, rate·|corpus| ≈ pool.
        // strataFields (optional, single) names a column equal on both
        // sides that must DIFFER between query and negative (the
        // same-source positive guard).
        require(corpusView.nonEmpty, s"$name: negative sampling needs corpusView")
        require(cap > 0, s"$name: negative sampling needs cap > 0 (k negatives per query)")
        val corpus = ctx.view(corpusView)
        val carry = if (carryFields.nonEmpty) carryFields else Seq(keyField)
        // count ONCE to size the pool, and hand the same n to
        // negativeSample so it never re-counts the corpus
        val nCorpus = corpus.count()
        val poolSize = math.max(1, (rate * nCorpus).toInt)
        val excl = strataFields.headOption
          .map(f => col(s"q_$keyField") === col(s"neg_$keyField") ||
            col(s"q_$f") === col(s"neg_$f"))
          .getOrElse(col(s"q_$keyField") === col(s"neg_$keyField"))
        Sampling.negativeSample(in, col(keyField),
          (carry ++ strataFields).distinct,
          corpus, col(keyField), (carry ++ strataFields).distinct,
          k = cap, poolSize = poolSize, salt = salt, exclude = excl,
          corpusCount = Some(nCorpus))
      case "hardNegative" =>
        // ANN hard negatives: top-cosine non-positives per query row
        // (Similarity.hardNegatives); strataFields (optional, single) names
        // the label/source column that must differ
        require(corpusView.nonEmpty, s"$name: hardNegative needs corpusView")
        require(vectorField.nonEmpty, s"$name: hardNegative needs vectorField")
        require(cap > 0, s"$name: hardNegative needs cap > 0 (k per query)")
        val corpus = ctx.view(corpusView)
        val carry = ((if (carryFields.nonEmpty) carryFields else Seq(keyField))
          ++ strataFields).distinct
        val excl = strataFields.headOption
          .map(f => col(s"q_$keyField") === col(s"neg_$keyField") ||
            col(s"q_$f") === col(s"neg_$f"))
          .getOrElse(col(s"q_$keyField") === col(s"neg_$keyField"))
        graft.llm.Similarity.hardNegatives(
          in, keyField, vectorField, carry,
          corpus, keyField, vectorField, carry,
          k = cap, exclude = excl)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown sample method '$other' (hash|weighted|stratified|mixture|groupCap|temperature|split|interleave|tokenBudget|negative|hardNegative)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** C4-style line filtering behind the config surface —
  * [[graft.llm.LineFilter.clean]]: per-line word-count/punctuation/
  * boilerplate rules, document-level code/placeholder flags. `action=report`
  * emits the full per-document report; `action=filter` returns the input
  * rows that survive with `textField` replaced by the cleaned text. A
  * null-text doc is dropped by `filter` deliberately: its report row carries
  * `drop_doc=true` (no lines can satisfy `minLines >= 1`).
  *
  * Contract: `idField` must be unique per row — `filter` joins the report
  * back on it, and a duplicated id would multiply rows.
  */
final case class LineFilterTransform(
    name: String,
    inputView: String,
    outputView: String,
    idField: String,
    textField: String,
    minWords: Int = 3,
    minLines: Int = 1,
    action: String = "report",
    persist: Boolean = false
) extends Stage {
  val stageType = "LineFilterTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val report = graft.llm.LineFilter.clean(in, idField, textField, minWords, minLines)
    val out = action match {
      case "report" => report
      case "filter" =>
        in.drop(textField)
          .join(
            report.filter(!col("drop_doc")).select(col(idField), col("clean_text").as(textField)),
            Seq(idField))
      case "dedupLines" =>
        // within-doc repeated-line removal (q166): keep first occurrences
        in.withColumn(textField, graft.llm.LineFilter.dedupLines(col(textField)))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown line-filter action '$other' (report|filter|dedupLines)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Int8 embedding quantization behind the config surface —
  * [[graft.llm.Quantize]]: `action=codes` appends the code array + scale
  * (the compact form an ANN index stores); `action=stats` emits the
  * per-vector quantization report (checksums + max reconstruction error).
  */
final case class QuantizeTransform(
    name: String,
    inputView: String,
    outputView: String,
    idField: String,
    vectorField: String,
    action: String = "codes",
    persist: Boolean = false
) extends Stage {
  val stageType = "QuantizeTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "codes" =>
        in.withColumn("codes", graft.llm.Quantize.int8Codes(col(vectorField)))
          .withColumn("scale", graft.llm.Quantize.absmaxScale(col(vectorField)))
      case "stats" => graft.llm.Quantize.quantStats(in, idField, vectorField)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown quantize action '$other' (codes|stats)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** PII scrub behind the config surface — [[graft.llm.Redact]]: rewrites
  * `textField` in place with emails/IPv4s/phones/URLs replaced by typed
  * tokens; `counts = true` appends the per-class raw-text match counts
  * (n_urls/n_emails/n_phones/n_ips). A pure narrow projection — safe on
  * batch and streaming frames alike.
  */
final case class RedactTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    counts: Boolean = false,
    persist: Boolean = false
) extends Stage {
  val stageType = "RedactTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val redacted = in.withColumn(textField, graft.llm.Redact.redact(col(textField)))
    val out =
      if (!counts) redacted
      else {
        // counts are over the RAW text — compute before the rewrite
        val c = graft.llm.Redact.piiCounts(col(textField))
        in.withColumn("_pii", c)
          .withColumn(textField, graft.llm.Redact.redact(col(textField)))
          .withColumn("n_urls", col("_pii.n_urls"))
          .withColumn("n_emails", col("_pii.n_emails"))
          .withColumn("n_phones", col("_pii.n_phones"))
          .withColumn("n_ips", col("_pii.n_ips"))
          .drop("_pii")
      }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Robust per-group outlier screening behind the config surface —
  * [[graft.llm.RobustStats]]: exact grouped quantiles / median+MAD from the
  * slice-rank engine (no buffering percentile aggregate, no per-group data
  * window). `mode=quantiles` emits one row per (group, p); `mode=stats`
  * one row per group (median, mad); `mode=flag` appends
  * median/mad/robust_z/is_outlier to every row; `mode=filter` keeps only
  * non-outliers.
  */
final case class OutlierTransform(
    name: String,
    inputView: String,
    outputView: String,
    valueField: String,
    groupFields: Seq[String] = Nil,
    mode: String = "flag",
    k: Double = 3.5,
    quantiles: Seq[Double] = Seq(0.5),
    persist: Boolean = false
) extends Stage {
  val stageType = "OutlierTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    // no groupFields → one global group via a constant key, dropped after
    val (df, groups) =
      if (groupFields.nonEmpty) (in, groupFields)
      else (in.withColumn("_all", lit(1)), Seq("_all"))
    def ungroup(out: DataFrame) =
      if (groupFields.nonEmpty) out else out.drop("_all")
    val out = mode match {
      case "quantiles" =>
        ungroup(graft.llm.RobustStats.groupedQuantiles(df, groups, col(valueField), quantiles))
      case "stats" =>
        ungroup(graft.llm.RobustStats.madStats(df, groups, col(valueField)))
      case "flag" =>
        ungroup(graft.llm.RobustStats.madOutliers(df, groups, col(valueField), k))
      case "filter" =>
        ungroup(graft.llm.RobustStats.madOutliers(df, groups, col(valueField), k)
          .filter(!col("is_outlier"))
          .drop("median", "mad", "robust_z", "is_outlier"))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown outlier mode '$other' (quantiles|stats|flag|filter)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Corpus-trained subword tokenizers behind the config surface — BPE
  * ([[graft.llm.Bpe]], `algo=bpe`, the default), the unigram LM
  * ([[graft.llm.Unigram]], `algo=unigram`) and WordPiece
  * ([[graft.llm.WordPiece]], `algo=wordpiece`).
  *
  * BPE: `mode=train` learns `numMerges` merges from the input view's text
  * and registers them as a (rank, left, right) view; `mode=apply` reads a
  * merges view with that schema and appends `tokens` + `n_bpe_tokens` via
  * the native greedy-by-rank expression (narrow, streaming-safe).
  *
  * Unigram: `mode=train` learns a `vocabSize`-piece model by hard-EM and
  * registers it directly as a (token, id, freq, score) vocabTotal-layout
  * view; `mode=encode` Viterbi-encodes against such a view (`vocabView`),
  * appending `ids`/`n_tokens`/`n_fallback_tokens`/`score`. `mode=decode`
  * is ALGO-AGNOSTIC between bpe and unigram — those two share the
  * byte-fallback id layout.
  *
  * WordPiece: `mode=train` learns a `vocabSize`-token vocabulary by the
  * likelihood merge loop and registers it as a
  * (token, id, freq, is_continuation) view; `mode=encode` greedy
  * longest-match encodes against such a view (`vocabView`), appending
  * `ids`/`n_tokens`/`n_unk_words`/`n_words`; `mode=decode` renders ids
  * back to whitespace-normalized text with `[UNK]` markers
  * (`maxInputChars` bounds the per-word scan, the BERT default 100).
  *
  * All three algos also take `mode=trainFromCounts`: the input view is a
  * (word, cnt) table — typically a [[WordCountsTransform]] output kept
  * warm by daily-batch ingest — so a tokenizer retrains after new data
  * WITHOUT re-reading the historical corpus.
  */
final case class TokenizerTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    mode: String = "train",
    algo: String = "bpe",
    numMerges: Int = 200,
    maxWords: Int = 50000,
    vocabSize: Int = 8000,
    maxPieceLen: Int = 8,
    emIters: Int = 3,
    mergesView: String = "",
    vocabView: String = "",
    byteFallback: Boolean = false,
    idsField: String = "ids",
    groupField: String = "",
    maxInputChars: Int = 100,
    persist: Boolean = false
) extends Stage {
  // <= 0 would silently [UNK] every word at encode time — fail fast
  // instead (the MojibakeTransform maxPasses discipline)
  require(maxInputChars >= 1,
    s"$name: maxInputChars must be >= 1, got $maxInputChars")
  val stageType = "TokenizerTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val spark = ctx.spark
    import spark.implicits._
    val in = ctx.view(inputView)
    def merges = {
      require(mergesView.nonEmpty, s"$name: mode '$mode' needs mergesView")
      ctx.view(mergesView)
        .select(col("rank"), col("left"), col("right"))
        .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    }
    // trainFromCounts: the input view IS a (word, cnt) table (typically a
    // WordCountsTransform output) — retrain after a daily-batch ingest
    // without re-reading the historical corpus. Capped + ordered exactly
    // like the corpus-train path (salted top-k, cnt desc / word asc).
    def wordFreq: Seq[(String, Long)] =
      graft.operators.TopK.perKeySalted(
          in.select(col("word"), col("cnt").cast("long").as("cnt"))
            .withColumn("_g", lit(1)),
          Seq("_g"), "cnt", maxWords, descending = true, tiebreak = Seq("word"))
        .select("word", "cnt")
        .orderBy(col("cnt").desc, col("word"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(algo == "bpe" || algo == "unigram" || algo == "wordpiece",
      s"$name: unknown tokenizer algo '$algo' (bpe|unigram|wordpiece)")
    val out = if (algo == "wordpiece") mode match {
      case "train" =>
        graft.llm.WordPiece.vocabDf(spark, graft.llm.WordPiece.train(
          in, textField, vocabSize, maxWords))
      case "trainFromCounts" =>
        graft.llm.WordPiece.vocabDf(spark,
          graft.llm.WordPiece.trainFromCounts(wordFreq, vocabSize))
      case "encode" =>
        require(vocabView.nonEmpty, s"$name: encode mode needs vocabView")
        graft.llm.WordPiece.encodeIds(in, textField,
          graft.llm.WordPiece.modelFromVocabDf(ctx.view(vocabView)), maxInputChars)
      case "decode" =>
        require(vocabView.nonEmpty, s"$name: decode mode needs vocabView")
        in.withColumn("decoded", graft.llm.WordPiece.decodeIds(col(idsField),
          graft.llm.WordPiece.modelFromVocabDf(ctx.view(vocabView))))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown wordpiece tokenizer mode '$other' (train|trainFromCounts|encode|decode)")
    } else if (algo == "unigram") mode match {
      case "train" =>
        graft.llm.Unigram.vocabDf(spark, graft.llm.Unigram.train(
          in, textField, vocabSize, maxPieceLen, emIters = emIters, maxWords = maxWords))
      case "trainFromCounts" =>
        graft.llm.Unigram.vocabDf(spark, graft.llm.Unigram.trainFromCounts(
          wordFreq, vocabSize, maxPieceLen, emIters = emIters))
      case "encode" =>
        require(vocabView.nonEmpty, s"$name: encode mode needs vocabView")
        graft.llm.Unigram.encodeIds(in, textField,
          graft.llm.Unigram.modelFromVocabDf(ctx.view(vocabView)))
      case "decode" =>
        require(vocabView.nonEmpty, s"$name: decode mode needs vocabView")
        in.withColumn("decoded",
          graft.llm.Bpe.decodeIds(col(idsField), ctx.view(vocabView)))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown unigram tokenizer mode '$other' (train|trainFromCounts|encode|decode)")
    } else mode match {
      case "train" =>
        graft.llm.Bpe.trainMerges(in, textField, numMerges, maxWords)
          .zipWithIndex
          .map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "left", "right")
      case "trainFromCounts" =>
        graft.llm.Bpe.trainFromCounts(wordFreq, numMerges)
          .zipWithIndex
          .map { case ((a, b), i) => (i, a, b) }
          .toDF("rank", "left", "right")
      case "apply" =>
        graft.llm.Bpe.tokenized(in, textField, merges)
      case "vocab" =>
        // (token, id, freq): the deterministic id table for mode=encode.
        // byteFallback reserves ids 0..255 for the raw bytes (learned
        // tokens shift to 256+) — the TOTAL layout of Bpe.vocabTotal.
        if (byteFallback) graft.llm.Bpe.vocabTotal(in, textField, merges)
        else graft.llm.Bpe.vocab(in, textField, merges)
      case "encode" =>
        require(vocabView.nonEmpty, s"$name: encode mode needs vocabView")
        if (byteFallback)
          graft.llm.Bpe.encodeIdsTotal(in, textField, merges, ctx.view(vocabView))
        else graft.llm.Bpe.encodeIds(in, textField, merges, ctx.view(vocabView))
      case "decode" =>
        // ids -> exact string via the byte-fallback layout (vocabTotal ids)
        require(vocabView.nonEmpty, s"$name: decode mode needs vocabView")
        in.withColumn("decoded",
          graft.llm.Bpe.decodeIds(col(idsField), ctx.view(vocabView)))
      case "fertility" =>
        // per-group tokens-per-word / bytes-per-token / fallback-rate
        // report (groupField names the grouping column)
        require(vocabView.nonEmpty, s"$name: fertility mode needs vocabView")
        require(groupField.nonEmpty, s"$name: fertility mode needs groupField")
        graft.llm.Bpe.fertilityReport(in, textField, groupField, merges,
          ctx.view(vocabView))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown tokenizer mode '$other' (train|trainFromCounts|apply|vocab|encode|decode|fertility)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** HTML → visible text behind the config surface —
  * [[graft.llm.HtmlText]]: strips script/style/comment blocks and tags,
  * decodes core entities, normalizes whitespace; appends the extracted
  * text and its length. One narrow codegen'd projection.
  */
final case class HtmlTextTransform(
    name: String,
    inputView: String,
    outputView: String,
    htmlField: String,
    outputField: String = "text_extracted",
    persist: Boolean = false
) extends Stage {
  val stageType = "HtmlTextTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val out = graft.llm.HtmlText.htmlToText(ctx.view(inputView), htmlField, outputField)
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Mojibake repair behind the config surface —
  * [[graft.functions.FixMojibakeExpr]]: detects text that was UTF-8
  * encoded but decoded as windows-1252/latin-1 upstream ("é" → "Ã©") and
  * inverts it, iteratively for multiply-mangled text (`maxPasses`).
  * Appends the repaired text and the pass count (0 = already clean). One
  * narrow codegen'd projection, zero shuffles, streaming-safe.
  *
  * `mode=document` (default) requires the WHOLE string to re-read as
  * UTF-8 — one genuine emoji/CJK char anywhere blocks repair of the whole
  * document; `mode=line` repairs each '\n'-separated line independently
  * (ftfy's segment behavior — the right setting for mixed-content crawl
  * text), with `mojibake_passes` = the max pass depth across lines.
  */
final case class MojibakeTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    outputField: String = "text_fixed",
    maxPasses: Int = 3,
    mode: String = "document",
    persist: Boolean = false
) extends Stage {
  val stageType = "MojibakeTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    require(maxPasses >= 1, s"$name: maxPasses must be >= 1, got $maxPasses")
    require(mode == "document" || mode == "line",
      s"$name: unknown mojibake mode '$mode' (document|line)")
    val out = ctx.view(inputView)
      .withColumn("_fx",
        graft.functions.FixMojibakeExpr.fix_mojibake(col(textField), maxPasses,
          perLine = mode == "line"))
      .withColumn(outputField, col("_fx.fixed"))
      .withColumn("mojibake_passes", col("_fx.n_passes").cast("long"))
      .drop("_fx")
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Language identification behind the config surface. `method=ngram` is
  * the real classifier — character-n-gram rank profiles
  * ([[graft.llm.LangId]], the public TextCat method), a narrow codegen'd
  * expression that separates close languages and short documents;
  * `method=ngramFloored` is the same classifier with the calibrated `und`
  * confidence floor ([[graft.llm.LangId.languageIdNgramFloored]]) —
  * out-of-set languages and non-language text (code, word salad) return
  * `und` instead of a confident wrong label, the conservative behavior a
  * training-data filter wants; `method=stopword` keeps the cheap
  * stopword-hit heuristic ([[graft.llm.TextStats.languageId]]) for quick
  * triage. All three append one string column — zero shuffles.
  */
final case class LangIdTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    method: String = "ngram",
    outputField: String = "lang_pred",
    persist: Boolean = false
) extends Stage {
  val stageType = "LangIdTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val pred = method match {
      case "ngram"        => graft.llm.LangId.languageIdNgram(col(textField))
      case "ngramFloored" => graft.llm.LangId.languageIdNgramFloored(col(textField))
      case "stopword"     => graft.llm.TextStats.languageId(col(textField))
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown langid method '$other' (ngram|ngramFloored|stopword)")
    }
    Some(publish(ctx, in.withColumn(outputField, pred), outputView, None, Nil, persist))
  }
}

/** Persistent word-frequency table behind the config surface —
  * [[graft.llm.WordCounts]]: the trainable state all three tokenizers
  * consume, kept warm between batches with exact count addition.
  * `action=write` replaces the table at `countsURI` with the input view's
  * counts; `action=ingest` folds the input batch in (afterwards the table
  * ≡ a one-shot count over the union — the index-ingest contract, exact
  * because counts are integers); `action=delete` subtracts the input
  * batch's counts (the exact takedown inverse — fails loudly if the batch
  * is not a subset of the table, drops zero-count rows);
  * `action=deleteIds` is the ID-ADDRESSED takedown a legal queue needs:
  * the input view carries ids (`idField`), the deleted documents' exact
  * trained text is recovered in-engine by joining `corpusView` (the same
  * post-cleaning view that was written/ingested — ids missing from it or
  * duplicated in it fail loudly, [[graft.llm.Takedown.recoverRows]]), and
  * the recovered rows subtract as in `delete`; `action=read` publishes
  * the persisted table. All publish the resulting (word, cnt) view — feed
  * it to TokenizerTransform `mode=trainFromCounts` to retrain a tokenizer
  * after a daily batch without re-reading the historical corpus.
  */
final case class WordCountsTransform(
    name: String,
    inputView: String,
    outputView: String,
    countsURI: String,
    textField: String = "text",
    action: String = "write",
    corpusView: String = "",
    idField: String = "id",
    persist: Boolean = false
) extends Stage {
  val stageType = "WordCountsTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    import graft.llm.WordCounts
    require(countsURI.nonEmpty, s"$name: countsURI must be set")
    val out = action match {
      case "write" =>
        WordCounts.write(ctx.view(inputView), textField, countsURI)
        WordCounts.read(ctx.spark, countsURI)
      case "ingest" => WordCounts.ingest(ctx.view(inputView), textField, countsURI)
      case "delete" => WordCounts.delete(ctx.view(inputView), textField, countsURI)
      case "deleteIds" =>
        require(corpusView.nonEmpty, s"$name: action=deleteIds needs corpusView " +
          "(counts carry no provenance — the deleted ids' exact trained text " +
          "is recovered by joining the corpus in-engine)")
        WordCounts.delete(graft.llm.Takedown.recoverRows(
          graft.llm.IndexCompact.normalizeIds(ctx.view(inputView).select(col(idField))),
          ctx.view(corpusView), idField), textField, countsURI)
      case "read"   => WordCounts.read(ctx.spark, countsURI)
      case "log"    => WordCounts.takedownLog(ctx.spark, countsURI)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown word-counts action '$other' (write|ingest|delete|deleteIds|read|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Model-based quality/domain classification behind the config surface —
  * [[graft.llm.NaiveBayes]] (exact-count multinomial NB, the reproducible
  * form of a fastText-style curation classifier). `mode=train` learns from
  * the input view's `textField`/`labelField` and publishes the flattened
  * model view ([[graft.llm.NaiveBayes.modelToView]] — persist it like any
  * view); `mode=ingest` folds the input batch's counts into `modelView`'s
  * model by exact count addition ([[graft.llm.NaiveBayes.merge]] —
  * train-on-old ∪ new without touching the old corpus) and publishes the
  * merged model view; `mode=unlearn` subtracts the batch's counts
  * ([[graft.llm.NaiveBayes.unlearn]] — the exact takedown inverse; fails
  * loudly if the batch is not a subset of the trained data) and publishes
  * the unlearned model view; `mode=unlearnIds` is the ID-ADDRESSED form a
  * legal queue needs — the input view carries ids (`idField`), the exact
  * trained rows are recovered in-engine from `corpusView` (same
  * post-cleaning view that was trained; missing/duplicated ids fail
  * loudly, [[graft.llm.Takedown.recoverRows]]) and subtracted as in
  * `unlearn`; `mode=predict` reads the model and
  * publishes one row per document: (idField, label_pred, n_tokens).
  *
  * The model is addressed EITHER as a view (`modelView` — the flattened
  * [[graft.llm.NaiveBayes.modelToView]] form, persist it like any view)
  * OR as the PERSISTED STORE (`modelURI` — the crash-safe
  * [[graft.llm.NaiveBayes.write]] layout with the atomic swap and the
  * sibling takedown audit trail; the store [[TakedownExecute]]'s
  * `modelURI` takes down). With `modelURI`: `train` additionally
  * persists the trained model; `ingest`/`unlearn`/`unlearnIds` operate
  * ON DISK ([[graft.llm.NaiveBayes.ingest]]/path-level `unlearn` — the
  * unlearn leaves an audit record); `predict` reads the store;
  * `mode=read` publishes the persisted model as a view and `mode=log`
  * its takedown trail. Exactly one addressing form per cell (train may
  * use `modelURI` alone as the sink).
  *
  * `maxVocab` (> 0) / `minCount` (> 1) bound the trained vocabulary per
  * class ([[graft.llm.NaiveBayes.train]]'s cap — pruned tokens score via
  * the Laplace fallback). In ingest/unlearn mode the cap applies AFTER
  * the merge/subtraction to the PUBLISHED VIEW only, so count arithmetic
  * stays exact — which also means a view-addressed input model must
  * itself be UNCAPPED: a capped input has already forgotten its tail
  * counts, and neither mode can detect that (counts carry no
  * provenance). Keep the uncapped model persisted (the store is never
  * capped by this stage); publish capped copies only for serving.
  */
final case class ClassifierTransform(
    name: String,
    inputView: String,
    outputView: String,
    textField: String,
    mode: String = "train",
    labelField: String = "label",
    idField: String = "id",
    modelView: String = "",
    corpusView: String = "",
    modelURI: String = "",
    maxVocab: Int = 0,
    minCount: Long = 1L,
    persist: Boolean = false
) extends Stage {
  val stageType = "ClassifierTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    import graft.llm.NaiveBayes
    require(modelView.isEmpty || modelURI.isEmpty,
      s"$name: set modelView OR modelURI, not both — one model address per cell")
    // the source model for modes that need one; loud when neither is set
    def model(forWhat: String): NaiveBayes.Model =
      if (modelURI.nonEmpty) NaiveBayes.read(ctx.spark, modelURI)
      else {
        require(modelView.nonEmpty, s"$name: $forWhat mode needs modelView " +
          "or modelURI (for count-exact ingest/unlearn the model must be " +
          "UNCAPPED — a capped input silently breaks subtraction exactness)")
        NaiveBayes.modelFromView(ctx.view(modelView))
      }
    def recoveredRows(): DataFrame = {
      require(corpusView.nonEmpty, s"$name: unlearnIds mode needs corpusView " +
        "(counts carry no provenance — the deleted ids' exact trained " +
        "text+label rows are recovered by joining the corpus in-engine)")
      graft.llm.Takedown.recoverRows(
        graft.llm.IndexCompact.normalizeIds(ctx.view(inputView).select(col(idField))),
        ctx.view(corpusView), idField)
    }
    lazy val in = ctx.view(inputView)
    val out = mode match {
      case "train" =>
        // the STORE always persists UNCAPPED (the invariant everything
        // count-exact downstream — on-disk ingest/unlearn — relies on);
        // maxVocab/minCount cap only the published view, here as in
        // every other mode
        val uncapped = NaiveBayes.train(in, textField, labelField)
        if (modelURI.nonEmpty) NaiveBayes.write(uncapped, modelURI)
        NaiveBayes.modelToView(NaiveBayes.cap(uncapped, maxVocab, minCount))
      case "ingest" =>
        val merged =
          if (modelURI.nonEmpty) NaiveBayes.ingest(in, textField, labelField, modelURI)
          else NaiveBayes.merge(model("ingest"),
            NaiveBayes.train(in, textField, labelField))
        NaiveBayes.modelToView(NaiveBayes.cap(merged, maxVocab, minCount))
      case "unlearn" =>
        val updated =
          if (modelURI.nonEmpty) NaiveBayes.unlearn(in, textField, labelField, modelURI)
          else NaiveBayes.unlearn(model("unlearn"), in, textField, labelField)
        NaiveBayes.modelToView(NaiveBayes.cap(updated, maxVocab, minCount))
      case "unlearnIds" =>
        val rows = recoveredRows()
        val updated =
          if (modelURI.nonEmpty) NaiveBayes.unlearn(rows, textField, labelField, modelURI)
          else NaiveBayes.unlearn(model("unlearnIds"), rows, textField, labelField)
        NaiveBayes.modelToView(NaiveBayes.cap(updated, maxVocab, minCount))
      case "predict" =>
        NaiveBayes.predict(in, idField, textField, model("predict"))
      case "read" =>
        require(modelURI.nonEmpty, s"$name: read mode needs modelURI")
        NaiveBayes.modelToView(NaiveBayes.read(ctx.spark, modelURI))
      case "log" =>
        require(modelURI.nonEmpty, s"$name: log mode needs modelURI")
        NaiveBayes.takedownLog(ctx.spark, modelURI)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown classifier mode '$other' " +
            "(train|ingest|unlearn|unlearnIds|predict|read|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** Multimodal binary columns behind the config surface —
  * [[graft.llm.Multimodal]]: `action=decode` appends media_meta + the
  * 8-dim feature vector (REAL ImageIO for images, javax.sound for PCM
  * audio, the pure-JDK AVI reader for MJPEG video), `action=resize`
  * appends the rescaled blob (REAL JDK bilinear + PNG re-encode for
  * images) and its metadata, `action=frames` explodes REAL sampled JPEG
  * frames for MJPEG-in-AVI clips (byte-offset stub rows otherwise),
  * `action=resampleAudio` re-rates PCM clips, `action=transcodeVideo`
  * rescales every frame of an MJPEG clip and re-containers it at the
  * source frame rate.
  */
final case class MediaTransform(
    name: String,
    inputView: String,
    outputView: String,
    binaryField: String,
    action: String = "decode",
    targetWidth: Int = 224,
    targetHeight: Int = 224,
    numFrames: Int = 8,
    targetSampleRate: Int = 16000,
    persist: Boolean = false
) extends Stage {
  val stageType = "MediaTransform"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val in = ctx.view(inputView)
    val out = action match {
      case "decode" => graft.llm.Multimodal.decodeAndFeaturize(in, binaryField)
      case "resize" =>
        graft.llm.Multimodal.resize(in, binaryField, targetWidth, targetHeight)
      case "frames" => graft.llm.Multimodal.sampleFrames(in, binaryField, numFrames)
      case "resampleAudio" =>
        graft.llm.Multimodal.resampleAudio(in, binaryField, targetSampleRate)
      case "transcodeVideo" =>
        graft.llm.Multimodal.transcodeVideo(in, binaryField, targetWidth, targetHeight)
      case "extractAudio" =>
        graft.llm.Multimodal.extractAudio(in, binaryField)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown media action '$other' (decode|resize|frames|resampleAudio|transcodeVideo|extractAudio)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** One legal deletion request, every store — [[graft.llm.Takedown]] behind
  * the config surface. `action=delete` (default) takes the input view's
  * ids (`idField`) down across EVERY store whose URI is set — minhash /
  * span / sem / ivf indexes plus the word-count table and the persisted
  * classifier model (the count stores recover the ids' exact trained text
  * in-engine from `corpusView`) — and publishes ONE consolidated view
  * (store, store_type, n_ids, rows_removed, request_id, completed_at_ms).
  * With `auditURI` set, each store's completion also appends one record
  * to the request-level audit trail; `action=log` publishes that trail;
  * `action=preview` is the DRY RUN — per-store match counts through the
  * same discovery scans, zero mutation, no audit record (size the
  * request, surface subset violations, THEN execute).
  *
  * This exists because a multi-store takedown assembled by hand is N
  * cells with N chances to forget a store — and a forgotten store is
  * silent non-compliance nothing downstream can detect. Preflight (id
  * hygiene, corpus coverage, store existence, interrupted-rewrite
  * leftovers) runs before ANY store mutates.
  *
  * Crash recovery: set `requestId` to a stable legal-queue id (so the
  * trail records the request under a name the operator knows) — a
  * re-run of a partially-applied `requestId` then REFUSES unless
  * `resume = true`, which skips every store the trail already shows
  * committed and executes only the missing ones
  * ([[graft.llm.Takedown.run]]'s machine-enforced re-run discipline).
  */
final case class TakedownExecute(
    name: String,
    inputView: String,
    outputView: String,
    idField: String,
    minhashURI: String = "",
    spanURI: String = "",
    semURI: String = "",
    ivfURI: String = "",
    countsURI: String = "",
    modelURI: String = "",
    corpusView: String = "",
    textField: String = "text",
    labelField: String = "label",
    auditURI: String = "",
    requestId: String = "",
    resume: Boolean = false,
    action: String = "delete",
    persist: Boolean = false
) extends Stage {
  val stageType = "TakedownExecute"
  def execute(ctx: PipelineContext): Option[DataFrame] = {
    require(!resume || requestId.nonEmpty,
      s"$name: resume completes a PARTIALLY-APPLIED request — name it: " +
        "set requestId to the interrupted request's id")
    val out = action match {
      case "delete" =>
        graft.llm.Takedown.run(ctx.spark,
          ctx.view(inputView).select(col(idField)),
          minhashURI = minhashURI, spanURI = spanURI, semURI = semURI,
          ivfURI = ivfURI, countsURI = countsURI, modelURI = modelURI,
          corpus = if (corpusView.nonEmpty) Some(ctx.view(corpusView)) else None,
          corpusIdCol = idField, textCol = textField, labelCol = labelField,
          auditURI = auditURI,
          requestId = if (requestId.nonEmpty) requestId
            else java.util.UUID.randomUUID().toString,
          resume = resume)
      case "preview" =>
        graft.llm.Takedown.preview(ctx.spark,
          ctx.view(inputView).select(col(idField)),
          minhashURI = minhashURI, spanURI = spanURI, semURI = semURI,
          ivfURI = ivfURI, countsURI = countsURI, modelURI = modelURI,
          corpus = if (corpusView.nonEmpty) Some(ctx.view(corpusView)) else None,
          corpusIdCol = idField, textCol = textField, labelCol = labelField)
      case "log" =>
        require(auditURI.nonEmpty, s"$name: action=log needs auditURI")
        graft.llm.Takedown.consolidatedLog(ctx.spark, auditURI)
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown takedown action '$other' (delete|preview|log)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}

/** One maintenance cell, every store — the compaction dual of
  * [[TakedownExecute]]. Ingest-append stores accumulate one file set per
  * (batch, touched partition) and takedown trails accumulate one file per
  * completed run; both need periodic mop-up or reads go metadata-bound.
  * `action=compact` (default) compacts every declared table of the index
  * stores whose URI is set ([[graft.llm.IndexStore.compact]])
  * AND folds their takedown audit trails ([[graft.core.AuditLog.compact]]
  * — the count stores contribute only their sibling-dir trails; their
  * data tables are row-count-sized at write). `action=recover` restores
  * every store's tables after an interrupted rewrite
  * ([[graft.llm.IndexStore.recover]]) — the one-cell answer to the
  * refusal TakedownExecute's preflight raises. `action=recallProbe` is
  * the IVF freshness monitor ([[graft.llm.IvfIndex.maintenanceRecall]]):
  * ingest drifts the corpus away from the frozen quantizer and
  * partial-probe recall decays SILENTLY — this cell self-samples indexed
  * vectors, measures recall@`recallK` at `recallNprobe` per storage tier
  * against the exact ground truth, and flags `warn = recall <
  * recallFloor` (also logged) so "re-write when recall decays" is a
  * scheduled cell, not a human remembering to re-run a sweep. Offline
  * maintenance ops: run in the ingest window, not concurrently with
  * readers.
  */
final case class CompactExecute(
    name: String,
    outputView: String,
    minhashURI: String = "",
    spanURI: String = "",
    semURI: String = "",
    ivfURI: String = "",
    countsURI: String = "",
    modelURI: String = "",
    auditURI: String = "",
    action: String = "compact",
    maxFilesPerPartition: Int = 8,
    recallK: Int = 10,
    recallNprobe: Int = 2,
    recallSample: Int = 64,
    recallFloor: Double = 0.0,
    persist: Boolean = false
) extends Stage {
  val stageType = "CompactExecute"

  def execute(ctx: PipelineContext): Option[DataFrame] = {
    val spark = ctx.spark
    val stores = graft.llm.IndexStore.named(minhashURI, spanURI, semURI, ivfURI)
    require(Seq(minhashURI, spanURI, semURI, ivfURI, countsURI, modelURI,
        auditURI).exists(_.nonEmpty),
      s"$name: no store URI set — name at least one of minhashURI/spanURI/" +
        "semURI/ivfURI/countsURI/modelURI/auditURI")
    import spark.implicits._
    val out = action match {
      case "compact" =>
        val indexRows = stores.map { case (st, uri) =>
          val (compacted, before, after) = st.compact(spark, uri, maxFilesPerPartition)
          (uri, st.storeType, compacted.toLong, before, after,
            st.compactTakedownLog(spark, uri).toLong)
        }
        // count stores: data tables are row-count-sized at write — only
        // their SIBLING-dir trails accumulate files
        val countRows = Seq(("wordcounts", countsURI), ("classifier", modelURI))
          .filter(_._2.nonEmpty).map { case (tpe, uri) =>
            val (_, recs) = graft.core.AuditLog.compact(spark, s"${uri}_takedown_log")
            (uri, tpe, 0L, 0L, 0L, recs.toLong)
          }
        val auditRows = Seq(auditURI).filter(_.nonEmpty).map { u =>
          val (_, recs) = graft.core.AuditLog.compact(spark, u)
          (u, "request_audit", 0L, 0L, 0L, recs.toLong)
        }
        (indexRows ++ countRows ++ auditRows).toDF("store", "store_type",
          "partitions_compacted", "files_before", "files_after",
          "audit_records_compacted")
      case "recover" =>
        require(stores.nonEmpty,
          s"$name: action=recover operates on the index stores — set " +
            "minhashURI/spanURI/semURI/ivfURI")
        stores.map { case (st, uri) =>
          (uri, st.storeType, st.recover(spark, uri).toLong)
        }.toDF("store", "store_type", "partitions_restored")
      case "recallProbe" =>
        require(ivfURI.nonEmpty,
          s"$name: action=recallProbe measures the IVF retrieval tiers — " +
            "set ivfURI")
        val rep = graft.llm.IvfIndex.maintenanceRecall(spark, ivfURI,
          k = recallK, nprobe = recallNprobe, sampleSize = recallSample)
          .withColumn("store", org.apache.spark.sql.functions.lit(ivfURI))
          .withColumn("warn", col("recall") < recallFloor)
          .select("store", "mode", "n_queries", "k", "nprobe",
            "shortlist_factor", "n_exact", "n_hit", "recall", "warn")
        val out = graft.core.Lineage.pin(rep)
        // threshold breaches also land in the log — the cell's view can
        // scroll past; the maintenance signal must not (bounded collect:
        // one row per storage tier, ≤ 3)
        out.filter(col("warn")).collect().foreach { r =>
          graft.core.LogBuffer.append(
            f"CompactExecute[$name]: IVF recall ${r.getAs[Double]("recall")}%.3f " +
              s"(${r.getAs[String]("mode")}, nprobe=$recallNprobe, " +
              s"k=$recallK) below floor $recallFloor at $ivfURI — " +
              "centroid drift; re-write the index (IvfIndexLoad action=write)")
        }
        out
      case other =>
        throw new IllegalArgumentException(
          s"$name: unknown maintenance action '$other' (compact|recover|recallProbe)")
    }
    Some(publish(ctx, out, outputView, None, Nil, persist))
  }
}
