package graft.render

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Display-layer formatting — behavioral match of the reference's HTML
  * renderer (Common.scala:240-334):
  *  - binary → hex pairs `[0A FF]`
  *  - double → `format_number(_, 10)` minus grouping commas minus trailing zeros
  *  - decimal(p,s) → `format_number(_, s)`
  *  - timestamp → `cast(string)` + trailing `Z` (session is UTC ⇒ RFC-3339)
  *  - date → `yyyy-MM-dd`
  *  - everything else → `cast(string)`; SQL NULL → literal `"null"`
  *  - strings longer than `truncate` → first `truncate-3` chars + `...`
  *    (no ellipsis when truncate < 4)
  *  - duplicate column names survive by appending the column index
  *    (Common.scala:246)
  *
  * All formatting is column expressions (codegen'd); the only driver action is
  * one `take(numRows)` per displayed cell (`table`), whose rows both the text
  * and the HTML view render — so a cell executes its query once, and the row
  * cap (`maxNumRows`) bounds driver memory regardless of input size.
  */
object Render {

  def formatColumn(dt: DataType, c: Column, truncate: Int): Column = {
    val formatted: Column = dt match {
      case BinaryType =>
        concat(lit("["), regexp_replace(upper(hex(c)), "(..)(?!$)", "$1 "), lit("]"))
      case DoubleType | FloatType =>
        val fixed = regexp_replace(format_number(c.cast(DoubleType), 10), ",", "")
        // strip trailing zeros, then a bare trailing '.'
        regexp_replace(regexp_replace(fixed, "0+$", ""), "\\.$", "")
      case d: DecimalType =>
        regexp_replace(format_number(c, d.scale), ",", "")
      case TimestampType =>
        concat(c.cast(StringType), lit("Z"))
      case DateType =>
        date_format(c, "yyyy-MM-dd")
      case _ =>
        c.cast(StringType)
    }
    val nullSafe = coalesce(formatted, lit("null"))
    if (truncate >= 4)
      when(length(nullSafe) > truncate,
        concat(substring(nullSafe, 1, truncate - 3), lit("..."))
      ).otherwise(nullSafe)
    else if (truncate > 0) substring(nullSafe, 1, truncate)
    else nullSafe
  }

  /** Project every column to its display string (names de-duplicated with the
    * column index, as the reference does for duplicate-name frames).
    * The index-suffix rename happens FIRST so duplicate input names don't
    * make the per-column expressions ambiguous.
    */
  def formatted(df: DataFrame, truncate: Int = 50): DataFrame = {
    val renamed = df.toDF(df.columns.zipWithIndex.map { case (c, i) => s"$c$i" }.toIndexedSeq: _*)
    val cols = renamed.schema.fields.map { f =>
      formatColumn(f.dataType, col(s"`${f.name}`"), truncate).as(f.name)
    }
    renamed.select(cols.toIndexedSeq: _*)
  }

  /** Column names plus the display strings of the shown rows. */
  final case class Table(header: Seq[String], rows: Seq[Seq[String]])

  /** The first `numRows` rows of `df`, formatted, from one `take`. */
  def table(df: DataFrame, numRows: Int = 20, truncate: Int = 50): Table = {
    val rows = formatted(df, truncate).take(numRows)
    Table(df.columns.toSeq, rows.toSeq.map(r => (0 until r.length).map(r.getString)))
  }

  /** `t` as an HTML table. */
  def html(t: Table): String = {
    def cells(tag: String, vals: Seq[String]): String =
      vals.map(v => s"<$tag>${scala.xml.Utility.escape(v)}</$tag>").mkString
    val body = t.rows.map(r => s"<tr>${cells("td", r)}</tr>").mkString
    s"<table><thead><tr>${cells("th", t.header)}</tr></thead><tbody>$body</tbody></table>"
  }

  /** `t` as a plain-text table for REPL display. */
  def text(t: Table): String = {
    val widths = (t.header +: t.rows).transpose.map(_.map(_.length).max)
    def fmtRow(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(sep, fmtRow(t.header), sep) ++ t.rows.map(fmtRow) :+ sep).mkString("\n")
  }

  /** Render the first `numRows` (capped by `maxNumRows`) as an HTML table. */
  def renderHTML(
      df: DataFrame,
      numRows: Int = 20,
      maxNumRows: Int = Int.MaxValue,
      truncate: Int = 50
  ): String = html(table(df, math.min(numRows, maxNumRows), truncate))

  /** Plain-text variant for REPL display. */
  def renderText(df: DataFrame, numRows: Int = 20, truncate: Int = 50): String =
    text(table(df, numRows, truncate))
}
