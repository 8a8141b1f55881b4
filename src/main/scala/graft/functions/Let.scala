package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** `let`-binding for column expressions: evaluate `value` once per row and
  * pass it into `body` as a higher-order-function lambda VARIABLE.
  *
  * Spark evaluates HOF lambdas (transform/filter/aggregate/zip_with)
  * interpreted, re-evaluating any captured non-variable subtree once PER
  * ELEMENT — an expression like `transform(seq, i -> f(tokens(text), i))`
  * re-tokenizes the document for every sequence element. Binding the subtree
  * as a lambda variable makes it evaluate once per row: measured ~8× on
  * 3-gram shingling and ~100× on winnowing fingerprints at sf0.1.
  */
object Let {

  /** `let v = value in body(v)` — `value` is evaluated exactly once per row. */
  def bind(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)
}
