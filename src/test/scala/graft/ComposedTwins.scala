package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.Redact

/** Composed-builtins twins of fused native expressions, the references
  * the specs pin each fused form equal to. They allocate per row what
  * the native loops do not, so no engine path calls them.
  */
object ComposedTwins {

  /** Σ aᵢ·bᵢ through a zip_with product array (twin of `VectorOps.dot`). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Σ aᵢ² */
  def normSq(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v)

  /** Twin of `VectorOps.cosine`, built on [[dotComposed]] so the
    * reference stays independent of the native loops.
    */
  def cosineComposed(a: Column, b: Column): Column =
    dotComposed(a, b) / sqrt(normSq(a) * normSq(b))

  /** Twin of `Redact.redactCols`: the six-pass regex chain, counting
    * each class before replacing it.
    */
  def redactColsComposed(text: Column): (Seq[(String, Column)], Column) = {
    val (counts, finalText) = Redact.patterns.foldLeft(
      (Seq.empty[(String, Column)], text)) {
      case ((acc, t), (name, pat, rep)) =>
        val n = size(regexp_extract_all(t, lit(pat), lit(0)))
        (acc :+ (name, n), regexp_replace(t, pat, rep))
    }
    (counts, finalText)
  }
}
