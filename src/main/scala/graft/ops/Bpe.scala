package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** F19/F20 — BPE-faithful token accounting (round-8 directive #1).
  *
  * `text_token_count` (F1), `corpus_pack` (F12) and `corpus_shard`'s
  * manifest (I16) budget in WHITESPACE tokens; every real trainer
  * budgets in BPE/SentencePiece subword tokens, and the two diverge
  * 1.3–2× — pack bins and shard manifests sized in whitespace tokens
  * are systematically mis-sized for the loader that consumes them.
  * This module adds the subword accounting:
  *
  *  - F19 `text_token_count_bpe`: per doc, the whitespace count next
  *    to the subword count under a FROZEN release vocabulary — greedy
  *    longest-match (maximal-munch) encoding, the standard fast
  *    WordPiece/BPE inference path. The vocabulary is a LITERAL piece
  *    table inlined into both engines (C36's σ-table discipline applied
  *    to a tokenizer): multi-char pieces grouped by length, longest
  *    first; any character not starting a known piece is its own token
  *    (byte-fallback, as real BPE vocabularies guarantee). Frozen-vocab
  *    is the production situation — a released tokenizer never changes
  *    with the corpus — and is also what makes ONE static oracle SQL
  *    valid at every SF.
  *  - F20 `corpus_pack_bpe`: F12's LPT bin packing (shared core,
  *    [[Corpus.packBins]]) with the bins budgeted in BPE tokens — the
  *    bins the trainer actually wants.
  *
  * Engine shape: the greedy encoder is a nested `aggregate`
  * higher-order fold — per word, ≤ length(word) steps, each step one
  * literal CASE over the piece table (longest length first) — a PURE
  * per-row codegen projection: zero shuffle, zero UDF, zero driver
  * state; at 100 TB it is scan-bound exactly like F1. The oracle
  * replays the identical maximal-munch recurrence as a DuckDB
  * recursive CTE advancing (word, pos, cnt), memoized over DISTINCT
  * words (same fixpoint, Zipf-collapsed work).
  */
object Bpe {

  /** The frozen release vocabulary: multi-char pieces by length.
    * Single characters are implicit (the ELSE-1 fallback), as in any
    * byte-fallback BPE. Literal and order-free — greedy tries length
    * 4, then 3, then 2, then falls back to one char.
    */
  val vocab4: Seq[String] = Seq(
    "spar", "wind", "merg", "tabl", "colu", "vect", "stre", "valu",
    "smal", "filt", "grou", "cust", "orde", "quer", "batc",
    "data", "join", "hash", "sort", "slow", "line", "part", "fast", "scan")
  val vocab3: Seq[String] = Seq("the", "row", "agg", "key", "big", "dup")
  val vocab2: Seq[String] = Seq("ow", "er", "om", "am", "or", "mn")

  private def inList(pieces: Seq[String]): String =
    pieces.map(p => s"'$p'").mkString(", ")

  /** The greedy step: how many characters the longest matching piece
    * at `pos` of `w` consumes (1 if none). Shared SQL fragment — the
    * engine and the oracle inline the SAME text, so the match rule
    * cannot drift.
    */
  private def stepSql(w: String, pos: String): String =
    s"""CASE WHEN substr($w, $pos, 4) IN (${inList(vocab4)}) THEN 4
       |     WHEN substr($w, $pos, 3) IN (${inList(vocab3)}) THEN 3
       |     WHEN substr($w, $pos, 2) IN (${inList(vocab2)}) THEN 2
       |     ELSE 1 END""".stripMargin

  /** Subword token count of one word as a plain-Scala reference —
    * Round8Spec property-tests the Spark fold against this.
    */
  private[graft] def bpeCountRef(w: String): Int = {
    var pos = 0; var cnt = 0
    while (pos < w.length) {
      val step =
        if (pos + 4 <= w.length && vocab4.contains(w.substring(pos, pos + 4))) 4
        else if (pos + 3 <= w.length && vocab3.contains(w.substring(pos, pos + 3))) 3
        else if (pos + 2 <= w.length && vocab2.contains(w.substring(pos, pos + 2))) 2
        else 1
      pos += step; cnt += 1
    }
    cnt
  }

  /** The literal-CASE greedy fold — the round-8 formulation, kept as
    * the TWIN of the trie path (Round9bSpec pins trie ≡ literal over
    * the whole contract corpus): split on whitespace, fold the greedy
    * encoder over each word, sum. Each step consumes ≥ 1 character, so
    * length(w) iterations always terminate the word; the lazy IF makes
    * finished words free. This shape is exactly what the DuckDB oracle
    * replays — but it inlines the piece table into the Catalyst tree,
    * so it cannot scale past a demo vocabulary (a 32k-piece release
    * vocab would blow the tree and the 8 KB JIT method limit).
    */
  private[graft] def bpeCountColLiteral(textCol: String): Column = expr(
    s"""aggregate(
       |  split(trim($textCol), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'),
       |  0L,
       |  (tot, w) -> tot + aggregate(
       |    sequence(1, greatest(char_length(w), 1)),
       |    named_struct('pos', 1, 'cnt', 0L),
       |    (st, i) -> IF(st.pos > char_length(w), st,
       |      named_struct('pos', st.pos + ${stepSql("w", "st.pos")},
       |                   'cnt', st.cnt + 1L)),
       |    st -> st.cnt))""".stripMargin)

  /** One memoized broadcast trie per (app, vocab) — built on the driver
    * once, fetched once per executor; every expression over the same
    * released vocabulary shares it.
    */
  private[graft] def trieFor(name: String, pieces: Seq[String])
  : org.apache.spark.broadcast.Broadcast[graft.functions.PieceTrie] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    graft.QueryCaches.memo(s"subword.trie:$name") {
      sc.broadcast(graft.functions.PieceTrie(pieces))
    }
  }

  /** The contract vocabulary's pieces, flat (lengths 2–4 + implicit
    * single-char fallback).
    */
  private[graft] val contractVocab: Seq[String] = vocab4 ++ vocab3 ++ vocab2

  /** BPE token count of a whole text column — the ENGINE path: the
    * native [[graft.functions.SubwordCount]] expression over the
    * broadcast [[graft.functions.PieceTrie]]. Same maximal-munch
    * semantics as [[bpeCountColLiteral]] (spec-pinned equal on the
    * shared vocab), but the generated code is ONE call regardless of
    * |vocab| — the production-scalable path every subword-budgeted
    * consumer (F20/F22/F23/I17/G17) now rides, while the oracle keeps
    * replaying the literal recurrence.
    */
  private[graft] def bpeCountCol(textCol: String): Column =
    subwordCount(col(textCol), "contract36", contractVocab)

  /** [[graft.functions.SubwordCount]] as a Column over an arbitrary
    * frozen vocabulary.
    */
  private[graft] def subwordCount(textCol: Column, vocabName: String,
                                  pieces: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SubwordCount(
        org.apache.spark.sql.GraftColumnBridge.expression(textCol),
        trieFor(vocabName, pieces), vocabName))

  /** F19 — whitespace vs subword accounting per document. */
  def textTokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("n_tokens"),
        bpeCountCol("text").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** The PRODUCTION-SCALE frozen vocabulary — ≥ 1k pieces, generated
    * deterministically (no RNG, no corpus dependence — a release vocab
    * is frozen before it meets data) as the onset × nucleus × coda
    * syllable product of English phonotactics, the realistic SHAPE of
    * a subword inventory: short high-frequency fragments with heavy
    * shared prefixes — exactly the regime a trie collapses and a
    * literal CASE cannot survive. ~3.4k distinct pieces, lengths 2–6.
    */
  private[graft] val prodVocab: Seq[String] = {
    val onsets = Seq("", "b", "c", "d", "f", "g", "h", "l", "m", "n",
      "p", "r", "s", "t", "w", "br", "ch", "cl", "cr", "dr", "fl", "gr",
      "pl", "pr", "sc", "sh", "sl", "sp", "st", "th", "tr")
    val nuclei = Seq("a", "e", "i", "o", "u", "ai", "ea", "ee", "oo", "ou")
    val codas = Seq("", "d", "k", "l", "m", "n", "r", "s", "t",
      "ck", "ll", "nd", "ng", "nt", "st", "th")
    (for { o <- onsets; n <- nuclei; c <- codas } yield o + n + c)
      .filter(_.length >= 2).distinct
  }

  /** F31 — `text_token_count_prod`: F19's accounting under the
    * PRODUCTION-SCALE vocabulary, with the big vocab on the ENGINE
    * path (the broadcast-trie [[graft.functions.SubwordCount]] — the
    * literal CASE is structurally impossible at this size) and the
    * oracle replaying the identical maximal-munch recurrence
    * relationally: the piece table as a VALUES relation, the per-
    * position longest match as a per-LENGTH equi-join (substr(w, i, L)
    * is a computed key, so each length's probe hash-joins — no
    * nested-loop over |vocab|), then the same recursive (pos, cnt)
    * walk as F19 over distinct words. Fully exact: both engines
    * compute the same integer counts.
    */
  def textTokenCountProd(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("n_tokens"),
        subwordCount(col("text"), "prod", prodVocab).as("n_subwords"))
      .orderBy("doc_id")

  /** The production vocab as a `vocab(p, l)` VALUES relation. */
  private def prodVocabSql: String =
    prodVocab.map(p => s"('$p',${p.length})").mkString(", ")

  /** The memoized+persisted per-doc BPE frame (doc_id, lang,
    * n_tokens) every subword-budgeted consumer reads — F20's pack
    * scans it twice (driver total + rank pipeline) and F22's mixture
    * twice more, and without the cache each scan re-runs the greedy
    * fold over the full corpus (measured: 2.3 s at sf0.1,
    * fold-dominated; ~24 B/doc of cached state, the same boundary
    * discipline as E4's coded corpus).
    */
  private[graft] def bpeToks(spark: SparkSession, dir: String): DataFrame =
    graft.QueryCaches.memo(s"bpe.toks:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), bpeCountCol("text").as("n_tokens"))
        .persist()
    }

  /** F20 — F12's LPT packing, budgeted in BPE tokens. */
  def corpusPackBpe(spark: SparkSession, dir: String,
                    capacity: Long = 2048): DataFrame =
    Corpus.packBins(bpeToks(spark, dir).drop("lang"), capacity)

  /** F23 — `corpus_pack_split`: packing WITH document splitting — the
    * semantics F12/F20 cannot honor once a document exceeds the bin
    * capacity (whole-doc LPT must overflow a bin; a real packer cuts
    * the doc and wraps the remainder into the next sequence). Each
    * non-empty document becomes ⌈tokens/capacity⌉ chunks — full
    * capacity each except the remainder tail — and the CHUNKS are
    * LPT-assigned (rank tie-break extended by the chunk index to stay
    * a total order). Every chunk is ≤ capacity by construction, so
    * the LPT spread bound (max−min ≤ largest item) now also bounds
    * every bin's overshoot by < one capacity — the guarantee
    * whole-doc packing loses on long docs. Empty documents carry zero
    * tokens and are dropped (what a trainer does).
    *
    * The CONTRACT query runs capacity 64 so the split path is
    * genuinely exercised at every SF (the synthetic docs are ~80-120
    * BPE tokens — at the production-scale 2048 nothing would split
    * and the operator would be F20 in disguise); production tunes
    * capacity to the trainer's sequence length.
    *
    * Scale shape: the chunk explode is a pure projection (≤ 1 extra
    * row per capacity-worth of tokens — output-proportional, the
    * unavoidable floor), then F12's rank/bin machinery unchanged.
    */
  def corpusPackSplit(spark: SparkSession, dir: String,
                      capacity: Long = 64): DataFrame = {
    val lastChunk = (c: String) => expr(s"($c - 1) div $capacity")
    val chunks = bpeToks(spark, dir)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens").as("doc_tokens"),
        explode(sequence(lit(0L), lastChunk("n_tokens"))).as("chunk"))
      .select(col("doc_id"), col("chunk"),
        when(col("chunk") < lastChunk("doc_tokens"), lit(capacity))
          .otherwise(col("doc_tokens") - col("chunk") * capacity).as("n_tokens"))
    Corpus.binAssigned(chunks, capacity,
      col("n_tokens").desc, col("doc_id"), col("chunk"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        max("n_tokens").as("max_chunk_tokens"))
      .orderBy("bin")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_token_count_bpe" -> (textTokenCountBpe _),
    "text_token_count_prod" -> (textTokenCountProd _),
    "corpus_pack_bpe" -> ((s, d) => corpusPackBpe(s, d)),
    "corpus_pack_split" -> ((s, d) => corpusPackSplit(s, d)))

  /** The shared maximal-munch replay: DISTINCT words advance
    * (pos, cnt) under the identical literal CASE until pos passes the
    * word's end; occurrences join back by word. `occ`/`doc_bpe` are
    * reused verbatim by F20's oracle.
    */
  private[graft] val bpeCtes: String =
    s"""occ AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |  FROM documents),
       |dw AS (SELECT DISTINCT w FROM occ),
       |enc AS (
       |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
       |  UNION ALL
       |  SELECT w, pos + ${stepSql("w", "pos")}, cnt + 1
       |  FROM enc WHERE pos <= length(w)),
       |wc AS (SELECT w, cnt AS bpe FROM enc WHERE pos > length(w)),
       |doc_bpe AS (
       |  SELECT o.doc_id, count(*) AS n_tokens, sum(wc.bpe) AS n_bpe
       |  FROM occ o JOIN wc USING (w) GROUP BY o.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_token_count_bpe" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_bpe AS BIGINT) AS n_bpe_tokens
         |FROM doc_bpe ORDER BY doc_id""".stripMargin,
    // the prod-vocab replay: longest match per position via per-length
    // equi-joins (substr(w,i,L) can only equal a length-L piece, so the
    // truncated-at-word-end substrings never false-match), then F19's
    // recursive (pos, cnt) walk with the precomputed steps
    "text_token_count_prod" ->
      s"""WITH RECURSIVE
         |vocab(p, l) AS (SELECT * FROM (VALUES $prodVocabSql) v(p, l)),
         |occ AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS w
         |  FROM documents),
         |dw AS (SELECT DISTINCT w FROM occ),
         |pos AS (
         |  SELECT w, unnest(generate_series(1, length(w))) AS i FROM dw),
         |lens AS (SELECT DISTINCT l FROM vocab),
         |hit AS (
         |  SELECT c.w, c.i, max(c.l) AS step
         |  FROM (SELECT pos.w, pos.i, lens.l,
         |          substr(pos.w, pos.i, lens.l) AS sub
         |        FROM pos CROSS JOIN lens) c
         |  JOIN vocab v ON c.sub = v.p AND c.l = v.l
         |  GROUP BY c.w, c.i),
         |step AS (
         |  SELECT pos.w, pos.i, coalesce(hit.step, 1) AS step
         |  FROM pos LEFT JOIN hit USING (w, i)),
         |enc AS (
         |  SELECT w, 1 AS pos, 0 AS cnt FROM dw
         |  UNION ALL
         |  SELECT e.w, e.pos + s.step, e.cnt + 1
         |  FROM enc e JOIN step s ON s.w = e.w AND s.i = e.pos
         |  WHERE e.pos <= length(e.w)),
         |wc AS (SELECT w, cnt FROM enc WHERE pos > length(w))
         |SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(wc.cnt) AS BIGINT) AS n_subwords
         |FROM occ o JOIN wc USING (w)
         |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin,
    // chunk explode via generate_series + the same rank/bin replay;
    // tie-break extended by chunk (a total order — capacity-sized
    // chunks of one doc are otherwise rank-ambiguous)
    "corpus_pack_split" ->
      s"""WITH RECURSIVE $bpeCtes,
         |t AS (SELECT doc_id, CAST(n_bpe AS BIGINT) AS doc_tokens
         |      FROM doc_bpe WHERE n_bpe > 0),
         |ch0 AS (
         |  SELECT doc_id, doc_tokens,
         |    unnest(generate_series(0, (doc_tokens - 1) // 64)) AS chunk
         |  FROM t),
         |ch AS (
         |  SELECT doc_id, chunk,
         |    CASE WHEN chunk < (doc_tokens - 1) // 64 THEN 64
         |         ELSE doc_tokens - chunk * 64 END AS n_tokens
         |  FROM ch0),
         |p AS (SELECT CAST((sum(n_tokens) + 63) // 64 AS BIGINT) AS nbins FROM ch),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    (row_number() OVER (ORDER BY n_tokens DESC, doc_id, chunk) - 1)
         |      % p.nbins AS bin
         |  FROM ch CROSS JOIN p)
         |SELECT bin, count(*) AS n_chunks,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_chunk_tokens
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // F12's pack replay verbatim, with n_tokens := the BPE count
    "corpus_pack_bpe" ->
      s"""WITH RECURSIVE $bpeCtes,
         |t AS (SELECT doc_id, CAST(n_bpe AS BIGINT) AS n_tokens FROM doc_bpe),
         |p AS (SELECT CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS nbins FROM t),
         |r AS (
         |  SELECT n_tokens,
         |    (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % p.nbins AS bin
         |  FROM t CROSS JOIN p)
         |SELECT bin, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)
}
