package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array-vector, hash and text math over columns, each a native
  * expression from [[graft.functions]] or a scalar builtin. Spark 4.1
  * interprets a higher-order lambda per element (it is a
  * `CodegenFallback`, outside whole-stage codegen), so hot per-row array
  * math here is a native kernel, never a lambda; each kernel is pinned
  * equal to its composed-builtins form, and to DuckDB's `list_*`
  * double-precision semantics element for element.
  *
  * All vector helpers expect `array<double>`; call [[asDouble]] on float
  * arrays first (the test `embeddings.embedding` column is `array<float>`).
  */
object VectorOps {

  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Σ aᵢ·bᵢ — fused native [[DotProduct]]: one codegen'd loop, no
    * per-row product array.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      DotProduct(expression(a), expression(b)))

  /** One component in 10⁻⁶ ticks, floor(x·10⁶ + 0.5) as a long: the
    * integer input of [[intSqDist]], [[pqNearest]] and [[pqDists]], which
    * makes vector geometry exact and replayable in DuckDB
    * (`CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)`).
    */
  def qtick(x: Column): Column = floor(x * lit(1000000.0) + lit(0.5)).cast("long")

  /** [[qtick]] over every component of an `array<double>` column — fused
    * native [[QTicks]]; a NULL component stays NULL.
    */
  def qticks(v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(QTicks(expression(v)))

  /** Σ (aᵢ−bᵢ)² over integer-tick arrays — fused native [[IntSqDist]],
    * exact long arithmetic.
    */
  def intSqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      IntSqDist(expression(a), expression(b)))

  /** Distinct-set Jaccard over two array<string> columns — fused native
    * [[JaccardSim]], bit-identical to
    * `size(array_intersect(a, b)).cast("double") / size(array_union(a, b))`
    * without materializing either intermediate array.
    */
  def jaccardSim(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      JaccardSim(expression(a), expression(b)))

  /** Σ (aᵢ−bᵢ)² — squared Euclidean distance, fused native [[SqDist]].
    * Monotonic with L2, so rank and top-k logic can skip the sqrt.
    */
  def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(SqDist(expression(a), expression(b)))

  /** The (d2, cell) fold of tick vector `q` against a codebook column of
    * `array<struct<cell, cv: array<bigint>>>` — fused native [[CellFold]]:
    * one `struct<d2, cell>` per codeword, in codebook order.
    */
  def cellFold(q: Column, cells: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(CellFold(expression(q), expression(cells)))

  /** cos(a, b) = a·b / √(Σa²·Σb²) — the sqrt-of-product form, matching
    * DuckDB's `list_cosine_similarity` bit-for-bit for oracle parity.
    * Backed by the fused native [[CosineSim]] expression: one codegen'd
    * loop, no intermediate product array per row.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CosineSim(expression(a), expression(b)))

  /** 64-bit polynomial rolling hash over a string column. */
  def rollhash64(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(RollHash64(expression(c)))

  /** All sliding-window [[rollhash64]] values over an array<string>
    * column in one O(bytes) pass — element i equals
    * `rollhash64(concat_ws(' ', slice(c, i+1, win)))` exactly.
    */
  def rollWindowHash64(c: Column, win: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      RollWindowHash64(expression(c), win))

  /** A document's MinHash signature from its token column — fused native
    * [[MinHash]]: element i is the min of `mix64(h, aᵢ, bᵢ)` over the
    * hashes of its word 3-grams, for each `(aᵢ, bᵢ)` of `consts`.
    */
  def minhash(tokens: Column, consts: Seq[(Long, Long)]): Column = {
    def longs(xs: Seq[Long]) = org.apache.spark.sql.catalyst.expressions.Literal.create(
      xs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    org.apache.spark.sql.GraftColumnBridge.column(MinHash(expression(tokens),
      longs(consts.map(_._1)), longs(consts.map(_._2))))
  }

  /** A document's distinct word 3-grams from its token column — fused
    * native [[Shingles3]].
    */
  def shingles3(tokens: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Shingles3(expression(tokens)))

  /** struct(len, n_tokens, punct, digits, non_space) of a string column in
    * one pass — fused native [[TextStats]].
    */
  def textStats(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(TextStats(expression(text)))

  /** Wrapping affine mix a·h + b (mod 2⁶⁴) over a bigint column. */
  def mix64(c: Column, a: Long, b: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Mix64(expression(c), a, b))

  /** SplitMix64 finalizer — full-avalanche scramble of a bigint column
    * (ordering-grade; see [[graft.functions.Avalanche64]]).
    */
  def avalanche64(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Avalanche64(expression(c)))

  /** Wrapping polynomial fold 31·s + xᵢ over an array<long> column. */
  def combine64(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Combine64(expression(c)))

  /** Nearest-codeword argmin for one PQ subspace — fused native
    * [[PqNearest]] over a driver-built codebook literal; returns the
    * `d2 · 256 + ordinal` encoding (decode with `>> 8` / `& 255`).
    */
  def pqNearest(subv: Column, codebook: Seq[Seq[Long]]): Column = {
    require(codebook.nonEmpty && codebook.size <= 256,
      s"pqNearest codebook must hold 1..256 codewords, got ${codebook.size}")
    org.apache.spark.sql.GraftColumnBridge.column(PqNearest(expression(subv),
      codebookLit(codebook)))
  }

  /** Exact integer L2 to every codeword of one PQ subspace — fused
    * native [[PqDists]]; one ADC lookup-table row in ordinal order.
    */
  def pqDists(subv: Column, codebook: Seq[Seq[Long]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PqDists(expression(subv),
      codebookLit(codebook)))

  private def codebookLit(codebook: Seq[Seq[Long]]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      codebook,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))

  private def expression(c: Column) =
    org.apache.spark.sql.GraftColumnBridge.expression(c)
}
