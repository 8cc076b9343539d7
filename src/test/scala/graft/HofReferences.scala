package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-ins-only (higher-order function) formulations the native
  * expressions replaced, kept as the references they are tested
  * against. */
object HofReferences {

  /** [[graft.ext.Dedup.shingles]] — zip_with over shifted slices (NOT
    * element_at inside a transform lambda, which would re-split the
    * document per ELEMENT). */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = split(text, " ")
    val len = greatest(size(t) - (n - 1), lit(0)) // number of n-grams
    val first = slice(t, lit(1), len)
    val grams = (2 to n).foldLeft(first)((acc, k) =>
      zip_with(acc, slice(t, lit(k), len), (a, b) => concat(a, lit(" "), b)))
    array_distinct(grams)
  }

  /** [[graft.functions.VectorDot]] as a sequential fold: the same
    * left-to-right summation, so the native result is bit-identical. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
}
