package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word n-gram shingling for near-duplicate detection, as pure column
  * expressions (higher-order functions — no UDFs, stays in codegen).
  */
object Shingles {

  /** Distinct word `n`-gram shingles of a PRE-TOKENIZED array column.
    * Inputs shorter than `n` tokens yield an empty array (without the
    * guard, `sequence(1, size-(n-1))` would DESCEND through zero — Spark
    * steps -1 when start > stop — and `element_at(tokens, 0)` throws).
    *
    * Takes tokens, not text, on purpose: a `split(text)` expression
    * referenced inside the transform lambda is re-evaluated on every lambda
    * invocation (no CSE across lambda calls), turning shingling into
    * O(tokens^2) per document. Materialize the split into a column first
    * and each `element_at` is an O(1) array read.
    */
  def wordNGrams(tokens: Column, n: Int): Column = {
    val grams = array_distinct(
      transform(sequence(lit(1), size(tokens) - (n - 1)), i => {
        val parts = (0 until n).flatMap { k =>
          val e = element_at(tokens, i + k)
          if (k == 0) Seq(e) else Seq(lit(" "), e)
        }
        concat(parts: _*)
      }))
    when(size(tokens) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard of two distinct-element shingle arrays. Int/int division
    * after explicit double casts — bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")
}
