package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier — model-based quality/domain
  * filtering in its EXACT-COUNT form. Production curation pipelines score
  * documents with a trained classifier (the fastText-style quality filter
  * of CCNet-like setups: "does this look like the reference corpus or like
  * crawl noise?") and keep/drop/bucket by the prediction. Laplace-smoothed
  * multinomial NB is the classical count-based formulation of exactly that
  * step, and because every model parameter is an integer count, training
  * AND scoring are reproducible cross-engine — the q194 battery entry runs
  * under the full DuckDB oracle, not a rows-only check (gradient-trained
  * models can't do that: their parameters depend on float iteration
  * order).
  *
  * Model: P(c | d) ∝ P(c) · Π_t P(t | c), scored in log space:
  *
  *   score(c, d) = ln n_docs_c − ln n_docs
  *               + Σ_{t ∈ d} [ ln(cnt(c,t) + 1) − ln(N_c + V) ]
  *
  * with cnt(c,t) the training count of token t in class c, N_c the total
  * token count of class c, V the distinct-token count of the training
  * corpus (Laplace smoothing — unseen tokens contribute ln 1 = 0 minus the
  * normalizer, never −∞). Prediction = argmax with a (score desc, label
  * asc) tie-break.
  *
  * Scale shape:
  *  - [[train]] is ONE (label, token) aggregate after the explode — output
  *    bounded by |vocab| × |classes|, never corpus-shaped; the class table
  *    is |classes| rows.
  *  - [[predict]]'s per-token work is a BROADCAST join against the model
  *    (vocab-bounded); the only corpus-shaped shuffle keys on the doc id
  *    for the per-(doc, class) score sum. The document text itself never
  *    shuffles (the Relevance/TF-IDF discipline).
  *  - Scores are doubles, so exact sums differ across engines in the last
  *    ulp (float addition order); the PREDICTION is stable whenever class
  *    margins are macroscopic, which a real quality classifier's are —
  *    q194's oracle therefore compares predictions and integer counts,
  *    never raw scores.
  *
  * Tokenization is the engine-wide `\s+` word contract
  * ([[Bpe.wordCounts]]), so classifier vocab, tokenizer vocab and the
  * oracle's `string_split_regex` all segment identically.
  */
object NaiveBayes {

  private def toks(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** A trained model: `classTable` (label, n_docs, n_tokens) and
    * `tokenTable` (label, token, cnt) — both bounded (|classes| and
    * |vocab|×|classes| rows), both plain DataFrames so they persist/read
    * back through any parquet round-trip. */
  final case class Model(classTable: DataFrame, tokenTable: DataFrame)

  /** ONE pass + one bounded aggregate: per-class token counts and class
    * document/token totals. NULL labels are rejected (a silent "null"
    * class would absorb unlabeled rows).
    *
    * `maxVocabPerClass` (> 0) caps the token table at the that-many
    * heaviest tokens PER CLASS and `minCount` (> 1) drops tokens rarer
    * than the floor — the [[Unigram.train]] `maxWords` discipline: at web
    * scale the raw distinct-token table is corpus-vocabulary-shaped
    * (hundreds of millions of rows), and [[predict]] collects + broadcasts
    * it, so an uncapped train is a driver bottleneck. Pruning is
    * semantically clean: a pruned token scores exactly like an unseen one
    * (the Laplace fallback), and `classTable.n_tokens` keeps the FULL
    * class token mass so the smoothing normalizer is unaffected by the
    * cap. Defaults (0, 1) keep every token — byte-identical to the uncapped
    * model. The cap uses the salted bounded top-k
    * ([[graft.operators.TopK.perKeySalted]], tiebreak token asc), so a
    * hot class never funnels its whole vocabulary through one task. */
  def train(df: DataFrame, textCol: String, labelCol: String,
      maxVocabPerClass: Int = 0, minCount: Long = 1L): Model = {
    val in = df.filter(col(labelCol).isNotNull)
    val t = in.select(col(labelCol).as("label"),
      explode(toks(col(textCol))).as("token"))
    val tokenTable = t.groupBy("label", "token").agg(count(lit(1)).as("cnt"))
    val classTable = in.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
      .join(t.groupBy("label").agg(count(lit(1)).as("n_tokens")),
        Seq("label"), "left")
      .na.fill(0L, Seq("n_tokens"))
    Model(classTable, capTokens(tokenTable, maxVocabPerClass, minCount))
  }

  private def capTokens(tokenTable: DataFrame, maxVocabPerClass: Int,
      minCount: Long): DataFrame = {
    val floored =
      if (minCount > 1L) tokenTable.filter(col("cnt") >= minCount)
      else tokenTable
    if (maxVocabPerClass > 0)
      graft.operators.TopK.perKeySalted(floored, Seq("label"), "cnt",
          maxVocabPerClass, descending = true, tiebreak = Seq("token"))
        .select("label", "token", "cnt")
    else floored
  }

  /** Prune an existing model's vocabulary — [[train]]'s cap applied after
    * the fact (e.g. after [[merge]], whose exactness needs uncapped
    * inputs). The class totals are untouched: pruned tokens degrade to the
    * Laplace fallback, they don't shrink the class mass. */
  def cap(model: Model, maxVocabPerClass: Int, minCount: Long = 1L): Model =
    Model(model.classTable, capTokens(model.tokenTable, maxVocabPerClass, minCount))

  /** Count-table addition: the NB model is integer counts, so
    * `merge(train(A), train(B)) == train(A ∪ B)` EXACTLY — the same
    * daily-batch ingest contract as the persistent indexes, with no
    * retraining pass over the old corpus. Exact only for UNCAPPED inputs
    * (a capped model has already forgotten its tail counts); cap after
    * merging via [[cap]]. */
  def merge(a: Model, b: Model): Model = {
    val classTable = a.classTable.unionByName(b.classTable)
      .groupBy("label")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
    val tokenTable = a.tokenTable.unionByName(b.tokenTable)
      .groupBy("label", "token").agg(sum("cnt").as("cnt"))
    Model(classTable, tokenTable)
  }

  /** Exact takedown for the model — the inverse of [[merge]], completing
    * right-to-be-forgotten for the classifier tier: every parameter is an
    * integer count, so subtraction is exact —
    * `unlearn(train(A ∪ B), B, …) == train(A)` EXACTLY, token counts,
    * class doc/token totals and (hence) every future prediction included.
    * The model must be UNCAPPED (a capped model already forgot its tail
    * counts — keep the uncapped model persisted, cap only serving copies)
    * and the batch must be a SUBSET of what the model trained on: any
    * count that would go negative fails loudly before anything changes.
    * Classes whose doc count reaches zero are dropped entirely, as are
    * zero-count token rows — no tombstones, so the unlearned model is
    * byte-for-byte the never-saw-B model. Cost: ONE training pass over
    * the BATCH plus vocab-bounded merges — the historical corpus is never
    * re-read.
    *
    * Subsetness is checked on COUNTS, not provenance: a batch with the
    * same label/word multiset as the original data passes even if it is
    * not literally the ingested rows — count subtraction cannot tell
    * those apart. Feed back the data that was actually trained. */
  def unlearn(model: Model, batch: DataFrame, textCol: String,
      labelCol: String): Model = {
    val forget = train(batch, textCol, labelCol)
    val classTable = graft.core.Lineage.pin(
      model.classTable.unionByName(forget.classTable
          .select(col("label"), (-col("n_docs")).as("n_docs"),
            (-col("n_tokens")).as("n_tokens")))
        .groupBy("label")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens")))
    val tokenTable = graft.core.Lineage.pin(
      model.tokenTable.unionByName(forget.tokenTable
          .select(col("label"), col("token"), (-col("cnt")).as("cnt")))
        .groupBy("label", "token").agg(sum("cnt").as("cnt")))
    val badClass = classTable
      .filter(col("n_docs") < 0 || col("n_tokens") < 0)
      .orderBy("label").limit(5).collect().map(_.getString(0))
    require(badClass.isEmpty,
      "NaiveBayes.unlearn: batch is not a subset of the trained data — " +
        s"classes with more docs/tokens in the batch than in the model " +
        s"(first ${badClass.length}): ${badClass.mkString(", ")}. Unlearn " +
        "only data that was previously trained into this (uncapped) model.")
    val badTok = tokenTable.filter(col("cnt") < 0)
      .orderBy("label", "token").limit(5).collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}")
    require(badTok.isEmpty,
      "NaiveBayes.unlearn: batch is not a subset of the trained data — " +
        s"(class, token) counts that would go negative " +
        s"(first ${badTok.length}): ${badTok.mkString(", ")}. Unlearn only " +
        "data that was previously trained into this (uncapped) model.")
    val kept = classTable.filter(col("n_docs") > 0)
    Model(kept,
      // tokens of a fully-removed class are all zero for an exact subset;
      // the semi join also clears them under the documented non-provenance
      // caveat, so a dropped class never leaves orphan token rows behind
      tokenTable.filter(col("cnt") > 0)
        .join(broadcast(kept.select("label")), Seq("label"), "left_semi"))
  }

  /** [[unlearn]] against the PERSISTED model — the inverse of [[ingest]]:
    * `write(train(A)); ingest(B); unlearn(B)` leaves exactly
    * `train(A)` on disk. Same crash discipline as ingest (the swap
    * happens only after the complete unlearned copy exists; re-run after
    * a crash) and same single-writer caveat. Returns the unlearned model
    * re-read from the live path. */
  def unlearn(batch: DataFrame, textCol: String, labelCol: String,
      path: String): Model = {
    val spark = batch.sparkSession
    def totals(m: Model): (Long, Long) = {
      val r = m.classTable.agg(
        coalesce(sum("n_docs"), lit(0L)), coalesce(sum("n_tokens"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val before = read(spark, path)
    val beforeTotals = totals(before)
    write(unlearn(before, batch, textCol, labelCol), path)
    val out = read(spark, path)
    // evidence AFTER the swap committed; sibling-dir placement because
    // the swap replaces the model dir wholesale (graft.core.AuditLog)
    val afterTotals = totals(out)
    graft.core.AuditLog.append(spark, s"${path}_takedown_log",
      Seq("table" -> path,
        "docsRemoved" -> (beforeTotals._1 - afterTotals._1),
        "tokensRemoved" -> (beforeTotals._2 - afterTotals._2)))
    out
  }

  /** The persisted model's takedown audit trail — one record per
    * completed path-level [[unlearn]], written only after the swap
    * committed (a crashed unlearn leaves no record: re-run it). */
  def takedownLog(spark: SparkSession, path: String): DataFrame =
    graft.core.AuditLog.read(spark, s"${path}_takedown_log",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("table",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("docsRemoved",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tokensRemoved",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("runId",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("completedAtMs",
          org.apache.spark.sql.types.LongType))))

  /** Persist a model as `path/classes` + `path/tokens` parquet. The whole
    * model directory swaps atomically ([[graft.core.AtomicDir]] — the
    * index-params discipline): both tables land complete in a temp dir
    * first, so a crash mid-write never leaves a half-replaced model (the
    * failure mode a classes-then-tokens overwrite pair would have). */
  def write(model: Model, path: String): Unit = {
    val spark = model.classTable.sparkSession
    graft.core.AtomicDir.swap(spark, path) { tmp =>
      model.classTable.coalesce(1).write.mode("overwrite").parquet(s"$tmp/classes")
      // the token table is vocab-shaped: |classes| × a few k rows when
      // capped, but an UNCAPPED web-scale model is corpus-vocabulary-
      // shaped — size the file count to the rows (pinned first, so the
      // count and the write don't each re-run the training aggregation)
      // instead of funnelling everything through one writer task
      val tokens = graft.core.Lineage.pin(model.tokenTable)
      IndexCompact.coalesceForAppend(tokens, tokens.count())
        .write.mode("overwrite").parquet(s"$tmp/tokens")
    }
  }

  def read(spark: SparkSession, path: String): Model = {
    graft.core.AtomicDir.recoverLive(spark, path)
    Model(graft.core.StoreTable.read(spark, s"$path/classes"),
      graft.core.StoreTable.read(spark, s"$path/tokens"))
  }

  /** Incremental retrain: fold a new labeled batch into the persisted
    * model by count addition — `write(train(A)); ingest(B)` leaves on disk
    * exactly `train(A ∪ B)`. The merged tables are vocab-bounded, and the
    * swap happens only after the complete merged copy exists, so a crash
    * mid-ingest leaves the pre-ingest model live (re-run the ingest).
    * Returns the merged model re-read from the live path. Single-writer:
    * ingest is read-merge-swap, so concurrent ingests on one path can
    * lose a batch's counts — serialize them per path. */
  def ingest(batch: DataFrame, textCol: String, labelCol: String,
      path: String): Model = {
    val spark = batch.sparkSession
    val merged = merge(read(spark, path), train(batch, textCol, labelCol))
    write(merged, path)
    read(spark, path)
  }

  /** Score every document against every class and keep the argmax. Output
    * is ONE ROW PER DOCUMENT — (idCol, label_pred, n_tokens) — not the
    * input joined back: predictions are id-keyed and tiny, so callers who
    * want them next to the text join on the id themselves, and the
    * document text never rides through this operator's shuffles. Empty
    * documents score on the class priors alone.
    *
    * `maxModelRows` guards the model collect: the token table is
    * vocab-bounded, but "vocab" at web scale means an UNCAPPED model is
    * corpus-vocabulary-shaped (hundreds of millions of rows) and would
    * funnel through the driver with no signal until OOM. The collect is
    * limit-capped, so the guard costs no extra job and the driver never
    * holds more than `maxModelRows + 1` rows even on the failure path —
    * cap the model ([[train]]'s `maxVocabPerClass`/`minCount`, [[cap]],
    * ClassifierTransform's `maxVocab`) and retry.
    */
  def predict(df: DataFrame, idCol: String, textCol: String, model: Model,
      maxModelRows: Long = 5000000L): DataFrame = {
    // The model tables are bounded (|classes| and |vocab|×|classes| rows)
    // — collect each ONCE as a local frame (the q178 vocab-pin
    // discipline). A model left as derived DataFrames would recompute the
    // whole training aggregation per consumer (vocab count, class
    // collect, the scoring join — measured ~3 training passes per
    // predict), and the scoring join broadcasts the table to the driver
    // anyway.
    require(maxModelRows > 0, s"maxModelRows must be positive, got $maxModelRows")
    val classes = model.classTable.select("label", "n_docs", "n_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(classes.nonEmpty, "predict needs a trained model with >= 1 class")
    val limitRows = (maxModelRows + 1L).min(Int.MaxValue.toLong).toInt
    val tokenRows = model.tokenTable.select("label", "token", "cnt")
      .limit(limitRows)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    require(tokenRows.size <= maxModelRows,
      s"NaiveBayes.predict: model token table exceeds $maxModelRows rows — " +
        "an uncapped web-scale vocabulary cannot broadcast through the " +
        "driver. Cap the model first (train's maxVocabPerClass/minCount, " +
        "NaiveBayes.cap, ClassifierTransform's maxVocab) or raise " +
        "maxModelRows deliberately.")
    val vocabSize = tokenRows.iterator.map(_._2).toSet.size
    val totalDocs = classes.map(_._2).sum
    val spark = df.sparkSession
    import spark.implicits._
    val classDf = broadcast(classes.toSeq
      .toDF("label", "_n_docs", "_n_tokens_c"))
    val tokenDf = broadcast(tokenRows.toDF("label", "token", "cnt"))
    // ONE corpus scan and ONE corpus-shaped shuffle (at 100 TB the text
    // column dominates IO — the previous shape scanned it twice and keyed
    // a second shuffle to stitch the halves back): explode_outer keeps
    // empty/null-text docs as a single null-token row, so the token
    // contributions AND the per-doc token count AND the doc list for the
    // prior fallback all come off the same projection. The null-token row
    // joins nothing in tokenDf and contributes 0.0, which IS the
    // prior-only score; count(token) skips nulls, so empty docs report
    // n_tokens = 0. The summed float term set per (doc, class) is
    // identical to the two-scan shape — scores are bit-equal.
    val docToks = df.select(col(idCol).as("_id"),
      explode_outer(toks(col(textCol))).as("token"))
    val contrib = docToks
      .crossJoin(classDf)
      .join(tokenDf, Seq("label", "token"), "left")
      .groupBy("_id", "label")
      .agg(
        sum(when(col("token").isNull, lit(0.0))
          .otherwise(log(coalesce(col("cnt"), lit(0L)) + lit(1L)) -
            log(col("_n_tokens_c") + lit(vocabSize)))).as("_token_score"),
        count(col("token")).as("n_tokens"))
    val scored = contrib
      .join(classDf, Seq("label"))
      .select(col("_id"), col("label"), col("n_tokens"),
        (log(col("_n_docs")) - log(lit(totalDocs)) +
          col("_token_score")).as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_id").orderBy(col("_score").desc, col("label"))
    scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("_id").as(idCol), col("label").as("label_pred"), col("n_tokens"))
  }

  /** [[Model]] flattened to ONE view for the config surface: token rows
    * (label, token, cnt, NULL, NULL) plus one header row per class
    * (label, NULL, NULL, n_docs, n_tokens). [[modelFromView]] splits it
    * back; round-trips through parquet. */
  def modelToView(model: Model): DataFrame =
    model.tokenTable
      .select(col("label"), col("token"), col("cnt"),
        lit(null).cast("long").as("n_docs"),
        lit(null).cast("long").as("n_tokens"))
      .unionByName(model.classTable.select(col("label"),
        lit(null).cast("string").as("token"), lit(null).cast("long").as("cnt"),
        col("n_docs"), col("n_tokens")))

  def modelFromView(view: DataFrame): Model = {
    val classTable = view.filter(col("token").isNull)
      .select("label", "n_docs", "n_tokens")
    val tokenTable = view.filter(col("token").isNotNull)
      .select("label", "token", "cnt")
    Model(classTable, tokenTable)
  }
}
