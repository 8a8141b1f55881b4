package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Let

/** C4-style line/document cleaning for web-corpus training data (the rule
  * family published with the C4 dataset: Raffel et al. 2020, "Exploring the
  * Limits of Transfer Learning", §2.2).
  *
  * Line rules — a line is KEPT iff:
  *  - it has at least `minWords` whitespace-delimited words, and
  *  - it ends in terminal punctuation (`.` `!` `?` `"` `'`), and
  *  - it does not mention "javascript" (the boilerplate cookie/JS-warning
  *    tell).
  *
  * Document rules — a document is FLAGGED (callers typically drop it) if the
  * original text contains a curly brace (code), "lorem ipsum" (placeholder),
  * or fewer than `minLines` surviving lines.
  *
  * Everything is built-in column expressions over one `split('\n')` — pure
  * narrow projection, codegen'd, zero shuffles: this runs at scan speed over
  * 100 TB and is the first pass a web corpus goes through, before any
  * dedup/LSH stage sees the data.
  */
object LineFilter {

  /** Per-line keep predicate (see object doc). The word count re-splits on
    * whitespace runs so leading/trailing/double spaces don't mint words.
    */
  def keepLine(line: Column, minWords: Int): Column = {
    val t = trim(line)
    size(filter(split(t, "\\s+"), w => length(w) > 0)) >= minWords &&
    substring(t, -1, 1).isin(".", "!", "?", "\"", "'") &&
    !contains(lower(t), lit("javascript"))
  }

  /** Document-level boilerplate flag: curly braces / lorem ipsum. */
  def docFlagged(text: Column): Column =
    contains(text, lit("{")) || contains(lower(text), lit("lorem ipsum"))

  /** Full per-document cleaning report: original/kept line counts, the
    * cleaned text, and the document-level flag. One narrow projection over a
    * SINGLE split — the line array is let-bound once and feeds both the
    * original count and the filtered view.
    */
  def clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 3,
      minLines: Int = 1): DataFrame = {
    val report = Let.bind(
      split(col(textCol), "\n"),
      lines =>
        Let.bind(
          filter(lines, l => keepLine(l, minWords)),
          kept =>
            struct(
              size(lines).as("n_lines"),
              size(kept).as("n_kept"),
              array_join(kept, "\n").as("clean_text"))))
    df.select(
        col(idCol),
        report.as("_k"),
        docFlagged(col(textCol)).as("doc_flagged"))
      .select(
        col(idCol),
        col("_k.n_lines").as("n_lines"),
        col("_k.n_kept").as("n_kept_lines"),
        col("_k.clean_text").as("clean_text"),
        (col("doc_flagged") || col("_k.n_kept") < minLines).as("drop_doc"))
  }

  /** Within-document repeated-line removal: keep the FIRST occurrence of
    * every line, preserving order — the boilerplate cleaner for documents
    * whose template repeats nav/footer/cookie lines inside one page (the
    * within-doc counterpart of [[Dedup.segmentClean]]'s cross-doc segment
    * drop). `array_distinct` preserves first-occurrence order, so this is
    * a pure narrow codegen'd projection — no shuffle, streaming-safe; the
    * q166 oracle pins the first-occurrence semantics line-for-line against
    * an explicit min-ordinality SQL formulation.
    */
  def dedupLines(text: Column): Column =
    array_join(array_distinct(split(text, "\n")), "\n")

  /** Per-document line-dedup report: total lines, unique lines, and the
    * cleaned text. */
  def lineDedupStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.Let.bind(split(col(textCol), "\n"), lines =>
          struct(
            size(lines).cast("long").as("n_lines"),
            size(array_distinct(lines)).cast("long").as("n_unique_lines"),
            array_join(array_distinct(lines), "\n").as("clean_text"))).as("_r"))
      .select(col(idCol), col("_r.n_lines"), col("_r.n_unique_lines"),
        col("_r.clean_text"))
}
