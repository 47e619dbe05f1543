package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.ops.{Dedup, OracleRound, Redact}

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

  /** Twin of `VectorOps.sqDist`: a zip_with difference array, folded. */
  def sqDistComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Twin of `VectorOps.qticks`: the scalar quantizer in a per-element lambda. */
  def qticksComposed(v: Column): Column = transform(v, x => VectorOps.qtick(x))

  /** Twin of `VectorOps.cellFold` over a codebook column `cells`. */
  def cellFoldComposed(q: Column, cells: Column): Column =
    transform(cells, c =>
      struct(VectorOps.intSqDist(q, c.getField("cv")).as("d2"),
        c.getField("cell").as("cell")))

  /** Twin of `Dedup.shingled`: a per-position lambda over the tokens. Out
    * of range subscripts throw under ANSI, so docs of fewer than 3 tokens
    * need a session with `spark.sql.ansi.enabled=false`.
    */
  def shingledComposed(df: DataFrame): DataFrame =
    df.withColumn("tokens", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .select(col("doc_id"), array_distinct(expr(
        """transform(sequence(0, greatest(size(tokens) - 3, 0)),
          |  i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))""".stripMargin))
        .as("shingles"))

  /** Twin of `Dedup.bandSignaturesOf`: the shingles exploded, each hashed,
    * a `min` aggregate per permutation and doc, then the band fold.
    */
  def bandSignaturesComposed(docs: DataFrame, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    import VectorOps.{combine64, mix64, rollhash64}
    val rowsPerBand = numPerm / bands
    val exploded = shingledComposed(docs)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .withColumn("h0", rollhash64(col("shingle")))
    val consts = Dedup.mixConsts(numPerm)
    val mhCols = (0 until numPerm).map { i =>
      min(mix64(col("h0"), consts(i)._1, consts(i)._2)).as(s"mh_$i")
    }
    exploded.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id"), explode(array(
        (0 until bands).map { b =>
          val sig = combine64(array(
            (Seq(lit(b.toLong): Column) ++ (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))): _*))
          struct(lit(b).as("band"), sig.as("sig"))
        }: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
  }

  /** Twin of `VectorOps.textStats`: `Text.textQuality`'s three regex
    * replaces and split per row, as (len, n_tokens, punct, digits,
    * non_space) doubles.
    */
  def textStatsComposed(text: Column): Seq[Column] = {
    val len = length(text).cast("double")
    val nTokens = size(split(trim(text), "[ \\t\\n\\x0B\\f\\r]+")).cast("double")
    val punct = len - length(regexp_replace(text, "[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]", "")).cast("double")
    val digits = len - length(regexp_replace(text, "[0-9]", "")).cast("double")
    val nonSpace = length(regexp_replace(text, "[ \\t\\n\\x0B\\f\\r]", "")).cast("double")
    Seq(len, nTokens, punct, digits, nonSpace)
  }

  /** Twin of `Text.qualityScoreCol`. */
  def qualityScoreComposed(text: Column): Column = {
    val len = length(text).cast("double")
    val nTokens = size(split(trim(text), "[ \\t\\n\\x0B\\f\\r]+")).cast("double")
    val punct = len - length(regexp_replace(text, "[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]", "")).cast("double")
    OracleRound.r4b(least(nTokens / lit(50.0), lit(1.0)) * (lit(1.0) - punct / len))
  }

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
