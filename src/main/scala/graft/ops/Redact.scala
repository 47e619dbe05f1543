package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** F18 — `text_redact`: the PII-scrubbing cascade every production
  * corpus pipeline runs before anything ships (emails, phone numbers,
  * long account/ID digit runs), sitting between F15's filter cascade
  * (drop whole documents) and F17's span cleaning (cut flagged spans):
  * redaction rewrites IN PLACE, replacing each match with a typed
  * placeholder and reporting per-pattern-class counts.
  *
  * Semantics: a SEQUENTIAL cascade — each class's count is measured on
  * the text as already redacted by the EARLIER classes, then its
  * matches are replaced before the next class runs. That makes the
  * class totals well-defined even where patterns overlap (an email's
  * local part can contain digits; a phone number contains digit runs):
  * a character belongs to the first class that claims it, exactly like
  * production scrubbers chain `regexp_replace`. Class order is a
  * declared constant: email → phone → id-run.
  *
  * The contract corpus is synthetic word-salad with no natural PII, so
  * the contract query drives the scrubber through a deterministic
  * INJECT→SCRUB round trip: docs with doc_id % 4 ∈ {0,1,2} get one
  * known PII instance of the matching class appended (derived from
  * doc_id, identically in both engines), doc_id % 4 == 3 passes
  * through untouched. Every row therefore exercises either a scrub
  * (count 1, placeholder present) or byte-identical pass-through —
  * the oracle hashes both outcomes on every row, and RedactSpec
  * additionally plants adversarial instances (multiple per doc,
  * mid-text, overlapping classes) and asserts nothing survives.
  *
  * Scale shape: a pure per-row projection — no shuffle, no driver
  * state, stays inside whole-stage codegen (the orderBy is the oracle
  * harness's determinism requirement, not the operator). At 100 TB
  * this is scan-bound, exactly what a scrubber should be.
  */
object Redact {

  /** The pattern cascade, in application order. RE2-compatible (no
    * backtracking constructs) so Spark's Java regex and DuckDB's RE2
    * agree on every match:
    *  - email: local@domain.tld
    *  - phone: international-style, REQUIRES the leading '+' so bare
    *    digit runs fall through to the id class. The separator class
    *    spells out its whitespace EXPLICITLY (space/tab/newline/CR/FF)
    *    rather than via \s: Java's \s includes vertical tab U+000B,
    *    RE2's does not — the one place the two engines' shorthand
    *    classes disagree, and a silent hash-divergence on any corpus
    *    that carries a \v inside a phone run.
    *  - id: any 9+ digit run (accounts, SSNs-without-dashes, card
    *    fragments) — runs after phone so a '+…' number is never
    *    double-counted
    */
  val patterns: Seq[(String, String, String)] =
    graft.functions.RedactCascade.patterns

  /** Deterministic PII injection for the contract round trip: one
    * instance of class (doc_id % 4) appended; % 4 == 3 stays clean.
    */
  private[graft] def injectCol(text: Column, docId: Column): Column = {
    val cls = pmod(docId, lit(4))
    when(cls === 0, concat(text, lit(" reach me at user"), docId,
      lit("@example.com")))
      .when(cls === 1, concat(text, lit(" call +1 (415) 555-"),
        lpad(pmod(docId, lit(10000)).cast("string"), 4, "0")))
      .when(cls === 2, concat(text, lit(" acct "),
        (docId + lit(900000000L)).cast("string")))
      .otherwise(text)
  }

  /** The cascade over an arbitrary text column: returns the per-class
    * count columns (measured sequentially, see object doc) and the
    * fully redacted text. Exposed for RedactSpec's planted-PII frames
    * and for any pipeline stage that wants scrubbing without the
    * contract query's injection harness.
    */
  private[graft] def redactCols(text: Column): (Seq[(String, Column)], Column) = {
    // r15 (r14 verdict directive #6, guide §1.2): the whole cascade is
    // ONE fused native expression — three matcher walks instead of six
    // regex passes, no matched-substrings arrays. Whole-stage codegen
    // CSE evaluates the struct once per row; the getField projections
    // below are free. Counts and redacted text are value-identical to
    // the composed chain (RedactCascadeSpec pins it per row).
    val s = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.RedactCascade(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))
    (patterns.map { case (name, _, _) => name -> s.getField(s"n_$name") },
      s.getField("redacted"))
  }

  def textRedact(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.documents(spark, dir)
      .select(col("doc_id"), injectCol(col("text"), col("doc_id")).as("dirty"))
    val (counts, redacted) = redactCols(col("dirty"))
    dirty.select(
      col("doc_id") +:
        counts.map { case (name, c) => c.cast("long").as(s"n_$name") } :+
        counts.map(_._2).reduce(_ + _).cast("long").as("n_redacted") :+
        redacted.as("redacted"): _*)
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_redact" -> (textRedact _))

  /** The identical inject→cascade in DuckDB: same class order, same
    * sequential count-then-replace semantics via chained CTE stages.
    */
  val oracles: Map[String, String] = Map(
    "text_redact" -> {
      val Seq((_, emailP, emailR), (_, phoneP, phoneR), (_, idP, idR)) =
        patterns
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |    CASE doc_id % 4
         |      WHEN 0 THEN text || ' reach me at user' || doc_id || '@example.com'
         |      WHEN 1 THEN text || ' call +1 (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      WHEN 2 THEN text || ' acct ' || CAST(doc_id + 900000000 AS VARCHAR)
         |      ELSE text END AS t0
         |  FROM documents),
         |s1 AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(t0, '$emailP')) AS n_email,
         |    regexp_replace(t0, '$emailP', '$emailR', 'g') AS t1
         |  FROM dirty),
         |s2 AS (
         |  SELECT doc_id, n_email,
         |    len(regexp_extract_all(t1, '$phoneP')) AS n_phone,
         |    regexp_replace(t1, '$phoneP', '$phoneR', 'g') AS t2
         |  FROM s1),
         |s3 AS (
         |  SELECT doc_id, n_email, n_phone,
         |    len(regexp_extract_all(t2, '$idP')) AS n_id,
         |    regexp_replace(t2, '$idP', '$idR', 'g') AS redacted
         |  FROM s2)
         |SELECT doc_id,
         |  CAST(n_email AS BIGINT) AS n_email,
         |  CAST(n_phone AS BIGINT) AS n_phone,
         |  CAST(n_id AS BIGINT) AS n_id,
         |  CAST(n_email + n_phone + n_id AS BIGINT) AS n_redacted,
         |  redacted
         |FROM s3 ORDER BY doc_id""".stripMargin
    })
}
