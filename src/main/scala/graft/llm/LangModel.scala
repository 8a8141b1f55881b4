package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring: train bigram/unigram counts on a
  * reference corpus, score documents by add-α smoothed per-token negative
  * log-likelihood — the CCNet-style "perplexity filter" that ranks crawl
  * text by how much it looks like the reference (Wikipedia-trained KenLM in
  * the published pipelines), plus the exact novelty statistics (unseen /
  * rare bigram counts) that make the signal oracle-checkable.
  *
  * Scale shape: training is [[Relevance]]-style — one explode into a
  * map-side-combined count per gram, output bounded by distinct grams, text
  * never shuffles. Scoring explodes each document into (id, w1, w2) bigram
  * rows — the stream carries two tokens + id, never the text — through two
  * equi-joins against the count tables (AQE broadcasts them when the vocab
  * is small; sort-merge when it isn't) and one final aggregation keyed on
  * the id. No driver state, no windows.
  *
  * Determinism split (the [[Relevance]] idf discipline): counts, unseen/rare
  * tallies and their ratios are integer/exact-IEEE arithmetic — the
  * ORACLE-CHECKED surface (q151). `avg_nll`/`ppl` involve `ln`, which is
  * not bit-guaranteed across engines (and a cross-partition double sum is
  * not order-guaranteed), so the perplexity itself is spec-tested
  * (hand-computed fixture + monotonicity) rather than oracle-hashed.
  */
object LangModel {

  /** Lowercased alphanumeric token array — the same normalization as
    * [[Relevance.termCounts]] / [[Decontaminate]], so models and scorers
    * built anywhere in the library agree on what a token is.
    */
  private def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "[^a-z0-9]+"), t => t =!= lit(""))

  /** (w1, w2) adjacent-pair structs of a document — narrow array ops, no
    * window, no positional shuffle.
    */
  private def bigramPairs(textCol: Column): Column = {
    val toks = tokens(textCol)
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** (w1, w2, cnt) bigram counts over the training corpus: one explode into
    * a map-side-combined aggregation bounded by distinct bigrams.
    */
  def bigramCounts(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(explode(bigramPairs(col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))

  /** (w1, cnt) unigram counts (the conditional's denominator), same shape. */
  def unigramCounts(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cnt"))

  /** Sum of bigram-count segments — the counts are linear (like
    * [[CmsSketch]]), so per-batch segments persisted to a store merge into
    * exactly the one-shot corpus counts: the incremental-training-corpus
    * path, no raw-data rescan.
    */
  def mergeBigrams(segments: DataFrame): DataFrame =
    segments.groupBy("w1", "w2").agg(sum("cnt").as("cnt"))

  /** Per-document LM score against trained counts. Output: the id column +
    *  - n_bigrams  — bigrams in the doc (0 for docs under 2 tokens);
    *  - n_unseen   — bigrams absent from the training counts;
    *  - n_rare     — bigrams with training count ≤ `rareMax` (unseen included);
    *  - novelty    — n_unseen / n_bigrams (exact IEEE division; NULL when
    *                 n_bigrams = 0) — the oracle-safe headline;
    *  - avg_nll    — add-α smoothed mean of −ln((c(w1,w2)+α)/(c(w1)+α·V));
    *  - ppl        — exp(avg_nll), the perplexity (NULL when n_bigrams = 0).
    *
    * `vocabSize` is a corpus constant (distinct unigrams) passed by the
    * caller, like `nDocs` in [[Relevance.tfIdfTopK]] — computing it inline
    * would add a count() barrier.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      bigrams: DataFrame, unigrams: DataFrame, vocabSize: Long,
      alpha: Double = 1.0, rareMax: Long = 2): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val reserved = Set("_bg", "w1", "w2", "cnt", "_c2", "_c1", "_p")
    val clash = docs.columns.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"input columns collide with LangModel internals: ${clash.mkString(", ")}")
    // the scored stream: (id, w1, w2) only — text never enters a shuffle
    val stream = docs
      .select(col(idCol), explode(bigramPairs(col(textCol))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val joined = stream
      .join(bigrams.withColumnRenamed("cnt", "_c2"), Seq("w1", "w2"), "left")
      .join(unigrams.withColumnRenamed("cnt", "_c1"), Seq("w1"), "left")
      .withColumn("_p",
        (coalesce(col("_c2"), lit(0L)) + lit(alpha)) /
          (coalesce(col("_c1"), lit(0L)) + lit(alpha * vocabSize)))
    val scored = joined.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("_c2").isNull, 1L).otherwise(0L)).as("n_unseen"),
      sum(when(coalesce(col("_c2"), lit(0L)) <= rareMax, 1L).otherwise(0L)).as("n_rare"),
      sum(-log(col("_p"))).as("_nll_sum"))
    // docs with < 2 tokens produce no bigram rows — keep them (n_bigrams=0)
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        (col("n_unseen").cast("double") / col("n_bigrams")).as("novelty"),
        (col("_nll_sum") / col("n_bigrams")).as("avg_nll"),
        exp(col("_nll_sum") / col("n_bigrams")).as("ppl"))
  }
}
