package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.textStats
import graft.tables.Tables

/** Text analysis for training-data pipelines — SURVEY.md §2.F.
  *
  * Token counting, quality scoring, stopword-heuristic language ID,
  * normalized-content fingerprinting, corpus n-gram stats. Everything is
  * a per-row projection plus (at most) one aggregation — embarrassingly
  * parallel at 100 TB; no driver-side state, no UDFs (builtins, and
  * graft's native kernels where a regex chain would run per row).
  */
object Text {

  private def r4(c: Column): Column = OracleRound.r4b(c)

  /** F1 — token counting: whitespace tokens + alphabetic-run tokens (a
    * BPE-ish lower bound).
    */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha_tokens"))
      .orderBy("doc_id")

  /** F2 — quality scoring: length, punctuation/digit/space ratios, mean
    * token length, and a linear composite score. Mirrors the heuristic
    * quality filters used on large web corpora.
    */
  /** F2's composite score as a reusable expression over `text` — shared
    * with F15 `corpus_filter_cascade` (and D10's oracle via
    * [[Corpus]]) so the engine-side formula can never drift from its
    * consumers. Quantized (r4) so threshold compares replay exactly.
    */
  private[graft] def qualityScoreCol: Column = qualityScoreOf(textStats(col("text")))

  /** F2's composite score over a [[graft.functions.TextStats]] struct. */
  private def qualityScoreOf(st: Column): Column = {
    val len = st.getField("len").cast("double")
    val nTokens = st.getField("n_tokens").cast("double")
    val punct = st.getField("punct").cast("double")
    r4(least(nTokens / lit(50.0), lit(1.0)) * (lit(1.0) - punct / len))
  }

  /** F2 over one [[graft.functions.TextStats]] pass per row. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val st = col("st")
    val len = st.getField("len").cast("double")
    val nTokens = st.getField("n_tokens").cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), textStats(col("text")).as("st"))
      .select(
        col("doc_id"),
        len.cast("long").as("len"),
        nTokens.cast("long").as("n_tokens"),
        r4(st.getField("punct").cast("double") / len).as("punct_ratio"),
        r4(st.getField("digits").cast("double") / len).as("digit_ratio"),
        r4(st.getField("non_space").cast("double") / nTokens).as("mean_token_len"),
        qualityScoreOf(st).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Per-language stopword-hit scores (shared by F3's engine and oracle).
    * Tie-break is alphabetical language order, so the prediction is
    * deterministic on both engines.
    */
  private val langPatterns: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|nicht|ein|zu)\\b",
    "en" -> "\\b(the|a|of|and|is|to|in|that)\\b",
    "es" -> "\\b(el|la|de|que|los|las|una|por)\\b",
    "fr" -> "\\b(le|la|les|et|est|une|des|dans)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]")

  /** F3 — n-gram/stopword-heuristic language ID: count per-language
    * stopword hits, pick argmax (alphabetical tie-break). The `lang`
    * column is ground truth for evaluation, not an input.
    */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang").as("true_lang")) ++
        langPatterns.map { case (l, p) =>
          size(regexp_extract_all(col("text"), lit(p), lit(0))).as(s"s_$l")
        }: _*)
    // Sequential-elimination cascade, identical to the oracle's CASE: each
    // language wins if it ties-or-beats every LATER language (alphabetical
    // order), which makes ties resolve to the alphabetically first winner.
    val langs = langPatterns.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), acc) =>
        val beatsLater = langs.drop(i + 1)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        when(beatsLater, lit(l)).otherwise(acc)
    }
    scored.select(col("doc_id"), col("true_lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** F30 — `text_langid_eval`: the language-ID AUDIT — F3's per-doc
    * predictions aggregated into the confusion matrix against the
    * table's ground-truth lang, with integer row percentages (the
    * diagonal is per-class recall). Every pipeline that gates on
    * language (F14/F15/F22's rate tables key on it) should know the
    * classifier's error structure before trusting those gates; this is
    * that one-look artifact. Pure composition: F3's projection, a
    * \|langs\|²-bounded aggregate, a broadcast per-class total.
    */
  def textLangIdEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = textLangId(spark, dir)
      .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n"))
    val tot = conf.groupBy("true_lang").agg(sum("n").as("tot"))
    conf.join(broadcast(tot), Seq("true_lang"))
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("n * 100 div tot").as("row_pct"))
      .orderBy("true_lang", "pred_lang")
  }

  /** F4 — document fingerprint: md5 of whitespace-normalized lowercase
    * content (dedup-grade canonical hash; the rolling-hash variant lives
    * in the SimHash operator's per-token hashing).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " "))).as("fingerprint"))
      .orderBy("doc_id")

  /** F4b — 64-bit rolling-hash fingerprint via the native codegen'd
    * [[graft.functions.RollHash64]] expression (single pass over UTF8
    * bytes, no digest allocation — the scale path next to the md5-based
    * F4). Oracle replays the same mod-2^64 polynomial in DuckDB HUGEINT
    * arithmetic, so even the native expression is hash-verified.
    */
  def textRollhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        graft.functions.VectorOps.rollhash64(
          lower(regexp_replace(col("text"), "[ \\t\\n\\x0B\\f\\r]+", " "))).as("rollhash"))
      .orderBy("doc_id")

  /** F5 — corpus-level top character trigrams: explode trigram positions
    * via `transform(sequence(...))` (no UDF), aggregate with map-side
    * partial counts, deterministic top-20.
    */
  def textNgramStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(expr(
        "transform(sequence(1, char_length(text) - 2), i -> substring(text, i, 3))"))
        .as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)

  /** F4c — the same native-expression computation driven ENTIRELY through
    * the SQL-string surface: `graft_rollhash64` is injected into the
    * session's FunctionRegistry (the `GraftFunctions.register` imperative
    * path; `spark.sql.extensions` does the same at session build) and
    * called from `spark.sql`. Shares F4b's oracle verbatim, so the
    * driver hash-proves the SQL-registered function path end to end.
    */
  def qSqlNativeFn(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs")
    spark.sql(
      """SELECT doc_id,
        |  graft_rollhash64(lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' '))) AS rollhash
        |FROM graft_docs ORDER BY doc_id""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_count" -> (textTokenCount _),
    "text_quality" -> (textQuality _),
    "text_lang_id" -> (textLangId _),
    "text_langid_eval" -> (textLangIdEval _),
    "text_fingerprint" -> (textFingerprint _),
    "text_rollhash" -> (textRollhash _),
    "q_sql_native_fn" -> (qSqlNativeFn _),
    "text_ngram_stats" -> (textNgramStats _))

  private val langScoreSql: String = langPatterns
    .map { case (l, p) => s"len(regexp_extract_all(text, '$p')) AS s_$l" }
    .mkString(", ")

  /** F3's full per-doc prediction as shared CTEs ending in
    * `pred(doc_id, true_lang, pred_lang)` — consumed verbatim by the
    * F3 oracle and F30's confusion aggregate so the two can never
    * disagree about a prediction.
    */
  private val langIdCtes: String =
    s"""s AS (SELECT doc_id, lang AS true_lang, $langScoreSql FROM documents),
       |pred AS (
       | SELECT doc_id, true_lang,
       |  CASE
       |   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |   WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |   WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |   WHEN s_fr >= s_zh THEN 'fr'
       |   ELSE 'zh' END AS pred_lang
       | FROM s)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_token_count" ->
      """SELECT doc_id,
        | len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_tokens,
        | len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | length(text) AS len,
        | len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS n_tokens,
        | floor(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g'))) / CAST(length(text) AS DOUBLE)) * 10000 + 0.5) / 10000 AS punct_ratio,
        | floor(((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / CAST(length(text) AS DOUBLE)) * 10000 + 0.5) / 10000 AS digit_ratio,
        | floor((length(regexp_replace(text, '[ \t\n\x0B\f\r]', '', 'g')) / CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean_token_len,
        | floor((least(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) / 50.0, 1.0) *
        |       (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')))
        |        / CAST(length(text) AS DOUBLE))) * 10000 + 0.5) / 10000 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""WITH $langIdCtes
         |SELECT doc_id, true_lang, pred_lang FROM pred ORDER BY doc_id""".stripMargin,
    // F3's per-doc predictions (shared CTEs) aggregated into the
    // confusion matrix with integer row percentages
    "text_langid_eval" ->
      s"""WITH $langIdCtes,
         |c AS (SELECT true_lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
         |t AS (SELECT true_lang, sum(n) AS tot FROM c GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, CAST(n AS BIGINT) AS n,
         |  CAST(n * 100 // tot AS BIGINT) AS row_pct
         |FROM c JOIN t USING (true_lang)
         |ORDER BY true_lang, pred_lang""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_ngram_stats" ->
      """SELECT gram, count(*) AS n FROM (
        | SELECT unnest([substr(text, i::INT, 3) for i in range(1, length(text) - 1)]) AS gram
        | FROM documents)
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    // replays the native RollHash64 expression over the whitespace-
    // normalized lowercased text via the canonical HUGEINT helpers in
    // [[Dedup]] (one definition of the polynomial across all oracles)
    "text_rollhash" -> rollhashOracle,
    "q_sql_native_fn" -> rollhashOracle)

  private lazy val rollhashOracle: String =
    s"""SELECT doc_id, ${Dedup.wrapSql("h")} AS rollhash
       |FROM (
       | SELECT doc_id, ${Dedup.rollSql("t")} AS h
       | FROM (SELECT doc_id, lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
       |       FROM documents))
       |ORDER BY doc_id""".stripMargin
}
