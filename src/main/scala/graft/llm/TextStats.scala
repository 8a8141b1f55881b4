package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID (stopword n-gram
  * heuristic), quality scoring (length/punctuation/stopword ratios), token
  * counting (whitespace + BPE-ish regex), and document fingerprinting
  * (rolling-hash winnowing).
  *
  * Everything is column expressions over built-ins — codegen'd, no UDFs, no
  * shuffles beyond what the caller adds — so these run at scan speed over
  * 100 TB of documents.
  */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => length(t) > 0))

  /** Word-level repetition statistics per document — the "repetitious
    * document" filter signals from published web-corpus cleaning pipelines
    * (duplicate-word fraction, most-common-word fraction): heavily templated
    * or keyword-stuffed documents score low on `distinct_frac` and high on
    * `top_word_frac` and get filtered before training.
    *
    * Returns (idCol, n_words, distinct_frac, top_word_frac).
    *
    * Shape: explode → two hash aggregations, both map-side combinable (one
    * shuffle keyed (id, word) whose fan-in is per-document distinct words,
    * then one keyed id over the already-tiny per-word counts). Deliberately
    * NOT a per-row higher-order function: counting occurrences of every
    * distinct word inside one `aggregate` lambda is O(words²) per row and
    * recomputes under interpreted HOF evaluation — the explode shape stays
    * linear and whole-stage-codegen'd at any document length.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("_w"))
      .groupBy(col(idCol), col("_w"))
      .agg(count(lit(1)).as("_cnt"))
    counts
      .groupBy(col(idCol))
      .agg(
        sum("_cnt").as("n_words"),
        count(lit(1)).as("_nd"),
        max("_cnt").as("_top"))
      .select(
        col(idCol),
        col("n_words"),
        (col("_nd").cast("double") / col("n_words")).as("distinct_frac"),
        (col("_top").cast("double") / col("n_words")).as("top_word_frac"))
  }

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "was", "are"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "nicht", "mit", "ein", "eine", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des", "pas", "sur"),
    "es" -> Seq("el", "la", "los", "las", "es", "en", "que", "una", "por", "con", "para", "del"),
    "it" -> Seq("il", "la", "che", "di", "è", "per", "con", "una", "sono", "non", "più", "come")
  )

  /** Heuristic language ID: fraction of tokens hitting each language's
    * stopword list; argmax, `und` (undetermined) when no list scores > 0.
    * One pass, no shuffle: the per-language scores are array_intersect sizes
    * against literal arrays.
    */
  def languageId(text: Column): Column =
    graft.functions.Let.bind(
      array_distinct(Dedup.tokens(text)),
      toks => {
        val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
          struct(
            size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
            lit(lang).as("lang")
          )
        }
        val best = array_max(array(scored: _*))
        when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
      }
    )

  /** Quality features: character/token counts and ratios used for corpus
    * filtering (C4/Gopher-style rules).
    */
  def qualityFeatures(text: Column): Column =
    // The three char-class ratios come from ONE native code-point walk
    // (graft.functions.CharClassCountsExpr) instead of three full regex
    // passes that each allocate a stripped copy of the document; Let-bound so
    // the walk runs once per row. Class semantics are pinned to the regex
    // reference form by TextExpressionsSpec.
    graft.functions.Let.bind(
      graft.functions.CharClassCountsExpr.char_class_counts(text), cc => {
        val chars = cc.getField("n_chars").cast("double")
        val alpha = cc.getField("n_alpha").cast("double")
        val digits = cc.getField("n_digit").cast("double")
        val punct = cc.getField("n_punct").cast("double")
        val toks = Dedup.tokens(text)
        val nTok = size(toks).cast("double")
        val stopHits = size(array_intersect(array_distinct(toks), array(stopwords("en").map(lit): _*)))
        struct(
          chars.as("n_chars"),
          nTok.as("n_tokens"),
          when(chars > 0, alpha / chars).otherwise(0.0).as("alpha_ratio"),
          when(chars > 0, digits / chars).otherwise(0.0).as("digit_ratio"),
          when(chars > 0, punct / chars).otherwise(0.0).as("punct_ratio"),
          when(nTok > 0, chars / nTok).otherwise(0.0).as("mean_token_len"),
          stopHits.cast("double").as("stopword_hits")
        )
      })

  /** Reference implementation of [[qualityFeatures]] from composable
    * built-ins (three regex passes) — used by TextExpressionsSpec to pin the
    * native char-class counter's semantics.
    */
  private[graft] def qualityFeaturesComposable(text: Column): Column = {
    val chars = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val digits = length(regexp_replace(text, "[^\\p{N}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double")
    val toks = Dedup.tokens(text)
    val nTok = size(toks).cast("double")
    val stopHits = size(array_intersect(array_distinct(toks), array(stopwords("en").map(lit): _*)))
    struct(
      chars.as("n_chars"),
      nTok.as("n_tokens"),
      when(chars > 0, alpha / chars).otherwise(0.0).as("alpha_ratio"),
      when(chars > 0, digits / chars).otherwise(0.0).as("digit_ratio"),
      when(chars > 0, punct / chars).otherwise(0.0).as("punct_ratio"),
      when(nTok > 0, chars / nTok).otherwise(0.0).as("mean_token_len"),
      stopHits.cast("double").as("stopword_hits")
    )
  }

  /** Scalar quality score in [0,1]: penalties for extreme length, low alpha
    * ratio, high punctuation, no stopwords. Deterministic and monotone in the
    * features so thresholds are interpretable.
    */
  def qualityScore(text: Column): Column = graft.functions.Let.bind(qualityFeatures(text), f => {
    val lenOk = when(f.getField("n_tokens").between(10, 100000), 1.0)
      .when(f.getField("n_tokens") > 0, 0.5)
      .otherwise(0.0)
    val alphaOk = least(f.getField("alpha_ratio") / 0.7, lit(1.0))
    val punctOk = when(f.getField("punct_ratio") <= 0.2, 1.0)
      .otherwise(greatest(lit(0.0), lit(1.0) - (f.getField("punct_ratio") - 0.2) * 2))
    val stopOk = when(f.getField("stopword_hits") >= 2, 1.0)
      .when(f.getField("stopword_hits") >= 1, 0.7)
      .otherwise(0.3)
    round((lenOk * 0.25 + alphaOk * 0.25 + punctOk * 0.25 + stopOk * 0.25), 4)
  })

  /** Normalized whole-document fingerprint: 64-bit hash of the
    * lowercased, whitespace-collapsed text. Equal fingerprint ⇒ near-certain
    * exact duplicate (used as the cheap first pass before MinHash).
    */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** `sequence(1, count)` that degrades to an empty array when count < 1
    * (plain `sequence` would throw or produce a descending range).
    */
  def safeSeq(count: Column): Column =
    when(count >= 1, sequence(lit(1), count)).otherwise(array().cast("array<int>"))

  /** Winnowing fingerprint set (MOSS-style): rolling hashes of character
    * k-grams, then the minimum hash in each sliding window of `w` — a
    * position-robust signature for plagiarism/near-dup detection.
    *
    * Computed by the native one-pass expression
    * (graft.functions.WinnowingFingerprintsExpr — char→byte offsets once,
    * grams hashed in place, no per-element HOF interpretation); the
    * composable form below is kept as the independent reference the parity
    * test compares against bit-for-bit.
    */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.WinnowingFingerprintsExpr.winnowing_fingerprints(
      regexp_replace(lower(trim(text)), "\\s+", " "), k, w)

  /** Canonical text normalization for near-exact dedup: lowercase, collapse
    * every non-alphanumeric run (punctuation, whitespace, markup debris) to
    * a single space, trim. Catches the "same document, different casing /
    * punctuation / whitespace" duplicates exact hashing misses while staying
    * a pure codegen'd narrow map — dedup on `xxhash64(normalize(text))` adds
    * zero cost over exact dedup. ASCII classes deliberately (cross-engine
    * RE2/Java parity; the oracle uses the identical pattern).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Reference implementation of [[winnowingFingerprints]] from composable
    * built-ins — interpreted HOF evaluation, ~10× the per-row cost; used by
    * TextExpressionsSpec to pin the native expression's semantics.
    */
  private[graft] def winnowingFingerprintsComposable(
      text: Column, k: Int = 8, w: Int = 4): Column =
    // Nested let-bindings: without them the normalized text re-runs its regex
    // per k-gram AND the whole k-gram array rebuilds per window element —
    // O(len²) regex evaluations per document.
    graft.functions.Let.bind(
      regexp_replace(lower(trim(text)), "\\s+", " "),
      norm =>
        graft.functions.Let.bind(
          transform(safeSeq(length(norm) - (k - 1)), i => xxhash64(norm.substr(i, lit(k)))),
          grams =>
            array_distinct(
              transform(
                safeSeq(size(grams) - (w - 1)),
                i => array_min(slice(grams, i, lit(w)))
              )
            )
        )
    )
}
