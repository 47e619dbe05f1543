package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.{cosine, rollhash64}
import graft.tables.Tables

/** Corpus CURATION — round 6 continuation, SURVEY.md §2.F13/F14/F15/D12.
  *
  * The second half of the assembly story [[Corpus]] started: repetition
  * screening (the Gopher-style intra-document filters), deterministic
  * mixture sampling (hit a target language/domain mix with replayable
  * hash draws), the staged filter-cascade audit every curation run
  * reports, and SemDeDup-style semantic dedup over the embedding space
  * (prune near-duplicates WITHIN a coarse cluster — pairwise work
  * bounded by cell size, never n²).
  */
object Corpus2 {

  /** Max run length over the SORTED token array == max multiplicity of
    * any element — a pure codegen fold (aggregate HOF), so per-document
    * repetition stats need ZERO shuffle: sort-the-array + one linear
    * fold per row, embarrassingly parallel at 100 TB. The oracle
    * computes the same number the relational way (unnest → group →
    * max), which pins the fold's semantics from a different direction.
    */
  private[graft] def maxRunSql(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x = a.prev, a.run + 1L, 1L),
       |    'best', GREATEST(a.best, IF(x = a.prev, a.run + 1L, 1L))),
       |  a -> a.best)""".stripMargin

  /** F13 — `text_repetition`: Gopher-style intra-document repetition
    * signals — distinct-token ratio, top-unigram fraction, top-bigram
    * fraction — with the 20 most repetitive documents as the review
    * queue. All three are per-row projections (see [[maxRunSql]]); the
    * only shuffle in the plan is the final top-k.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .withColumn("bgs", expr(
        """IF(size(toks) >= 2,
          |   transform(sequence(0, size(toks) - 2),
          |             i -> concat(toks[i], ' ', toks[i+1])),
          |   CAST(array() AS ARRAY<STRING>))""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        expr(maxRunSql("toks")).as("top_uni"),
        expr(maxRunSql("bgs")).as("top_big"))
    base.select(col("doc_id"), col("n_tokens"),
      OracleRound.r4b(col("n_distinct") / col("n_tokens")).as("distinct_ratio"),
      OracleRound.r4b(col("top_uni") / col("n_tokens")).as("top_token_frac"),
      OracleRound.r4b(col("top_big") / greatest(col("n_tokens") - 1, lit(1L)))
        .as("top_bigram_frac"))
      .orderBy(col("top_bigram_frac").desc, col("doc_id"))
      .limit(20)
  }

  /** The target language mixture, in exact ppm (sums to 10⁶). */
  private val targetPpm: Seq[(String, Long)] = Seq(
    "de" -> 150000L, "en" -> 350000L, "es" -> 150000L,
    "fr" -> 150000L, "zh" -> 200000L)

  /** Mix64 finalizer constants for the keep-draws (odd 31-bit
    * multiplier per [[Dedup.mixConsts]]' HUGEINT-bound discipline;
    * Knuth-family increment). The finalizer is NOT optional: the raw
    * 31-polynomial RollHash64 of a short dense-id string is monotone
    * in the id and its mod-10⁶ residues are badly non-uniform —
    * measured on the contract ids, decile occupancy [0, 10, 3000,
    * 1000, 90, 0, 900, 0, 0, 0] and a 473k-ppm rate realized 82% of
    * documents; one affine scramble mod 2⁶⁴ restores [515…498] and
    * binomial-accurate realization (Round8Spec pins the latter).
    */
  private[graft] val drawA = 1640531527L
  private[graft] val drawB = 1442695040888963407L

  /** The uniform ppm keep-draw over an id column: finalized rolling
    * hash of "tag|id" mod 10⁶ — deterministic, order-independent,
    * replayable; shared by F14 (doc budget) and F22 (token budget)
    * on independent tag streams.
    */
  private[graft] def ppmDraw(tag: String, idCol: org.apache.spark.sql.Column) =
    pmod(mixDraw(tag, idCol), lit(1000000L))

  /** The full-width finalized draw (no ppm reduction) — F25's shuffle
    * key, and the shared core the ppm draws reduce. 64 bits instead of
    * mod 10⁶ because an ORDERING key needs dispersion, not a rate.
    */
  private[graft] def mixDraw(tag: String, idCol: org.apache.spark.sql.Column) =
    graft.functions.VectorOps.mix64(
      rollhash64(concat(lit(tag), idCol.cast("string"))), drawA, drawB)

  /** The draw's DuckDB replay: unsigned mix mod 2⁶⁴ → signed wrap →
    * pmod 10⁶, over a string expression `s` (the "tag|id" column).
    */
  private[graft] def ppmDrawSql(s: String): String =
    s"(((${mixDrawSql(s)}) % 1000000) + 1000000) % 1000000"

  /** The avalanched "shuf|" ordering key — ONE definition shared by
    * F25 and F26 (their SQL twin is [[shuffleKeyCtes]]): F26's
    * within-language-subsequence property holds only while both
    * operators compute the byte-identical key.
    */
  private def shuffleKey: org.apache.spark.sql.Column =
    graft.functions.VectorOps.avalanche64(
      rollhash64(concat(lit("shuf|"), col("doc_id").cast("string"))))

  /** [[mixDraw]]'s DuckDB replay (signed 64-bit, no reduction). */
  private[graft] def mixDrawSql(s: String): String = {
    val mixed = s"((${Dedup.rollSql(s)} * ${drawA}::HUGEINT + " +
      s"${drawB}::HUGEINT) % ${Dedup.U64})"
    Dedup.wrapSql(mixed)
  }

  /** `(u · c) mod 2⁶⁴` for an UNSIGNED HUGEINT column `u` and a full
    * 64-bit constant, via 32-bit schoolbook split — the direct product
    * of two ~2⁶⁴ values overflows INT128 (ppmDrawSql never hits this:
    * its multiplier is 31 bits). The uh·ch·2⁶⁴ term vanishes mod 2⁶⁴;
    * the cross terms reduce mod 2³² before scaling so every
    * intermediate stays under 2⁶⁵.
    */
  private def mulModSql(u: String, c: BigInt): String = {
    val ch = c >> 32
    val cl = c & 0xFFFFFFFFL
    s"((($u % 4294967296::HUGEINT) * ${cl}::HUGEINT + " +
      s"((($u // 4294967296::HUGEINT) * ${cl}::HUGEINT + " +
      s"($u % 4294967296::HUGEINT) * ${ch}::HUGEINT) % 4294967296::HUGEINT) " +
      s"* 4294967296::HUGEINT) % ${Dedup.U64})"
  }

  /** The staged SplitMix64 avalanche of the "shuf|" roll hash, as CTEs
    * ending in `d(doc_id, lang, key)` — shared by F25's and F26's
    * oracles so both engines' ordering key is ONE definition.
    */
  private lazy val shuffleKeyCtes: String =
    s"""d0 AS (
       | SELECT doc_id, lang, 'shuf|' || CAST(doc_id AS VARCHAR) AS s FROM documents),
       |h0 AS (SELECT doc_id, lang, ${Dedup.rollSql("s")} AS u0 FROM d0),
       |hx1 AS (SELECT doc_id, lang, xor(u0, u0 // 1073741824::HUGEINT) AS x1 FROM h0),
       |h1 AS (SELECT doc_id, lang, ${mulModSql("x1", BigInt("13787848793156543929"))} AS u1 FROM hx1),
       |hx2 AS (SELECT doc_id, lang, xor(u1, u1 // 134217728::HUGEINT) AS x2 FROM h1),
       |h2 AS (SELECT doc_id, lang, ${mulModSql("x2", BigInt("10723151780598845931"))} AS u2 FROM hx2),
       |d AS (SELECT doc_id, lang,
       |        ${Dedup.wrapSql("xor(u2, u2 // 2147483648::HUGEINT)")} AS key
       |      FROM h2)""".stripMargin

  /** F14 — `corpus_mix_sample`: deterministic mixture sampling — hit a
    * target per-language share of a total budget (half the corpus) with
    * hash-draw keeps, the way pretraining mixes rebalance domains.
    * Every quantity is INTEGER (ppm targets, floor quotas, floor
    * keep-rates, a RollHash64 draw mod 10⁶), so the sample replays
    * bit-for-bit in the oracle — no RNG, no seed drift.
    *
    * Scale shape: two column-pruned scans of (doc_id, lang) — one for
    * per-language counts, one for the filtered keep — with the 5-row
    * rate table broadcast between them; no driver collect (rates stay a
    * frame), no shuffle beyond the two tiny aggregates.
    */
  def corpusMixSample(spark: SparkSession, dir: String): DataFrame = {
    val tmap = map(targetPpm.flatMap { case (l, p) => Seq(lit(l), lit(p)) }: _*)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        ppmDraw("mix|", col("doc_id")).as("ppm"))
    val totals = docs.agg(expr("count(1) div 2").as("budget"))
    val rates = docs.groupBy("lang").agg(count(lit(1)).as("n_avail"))
      .crossJoin(broadcast(totals))
      .withColumn("target_ppm", element_at(tmap, col("lang")))
      .withColumn("quota", expr("target_ppm * budget div 1000000"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("quota * 1000000 div n_avail")))
    val kept = docs.join(broadcast(rates.select("lang", "rate_ppm")), Seq("lang"))
      .filter(col("ppm") < col("rate_ppm"))
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    val totKept = kept.agg(sum("n_kept").as("total_kept"))
    rates.join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept"))
      .crossJoin(broadcast(totKept))
      .select(col("lang"), col("n_avail"), col("quota"), col("rate_ppm"),
        col("n_kept"),
        OracleRound.r4b(col("n_kept").cast("double") / col("total_kept"))
          .as("share"))
      .orderBy("lang")
  }

  /** F22 — `corpus_mix_tokens` (round 8): F14's mixture rebalancing
    * with the budget in the unit trainers ACTUALLY specify mixes in —
    * TOKENS, not documents (a 350k-ppm English share of documents is
    * not a 350k-ppm share of tokens unless every language's docs are
    * the same length; published data recipes are token-share tables).
    * Budget = half the corpus's BPE tokens (F19's frozen-vocab fold
    * via the shared memoized frame); per language: quota_tokens =
    * target_ppm·budget÷10⁶, keep-rate ppm = min(10⁶, quota·10⁶ ÷
    * avail_tokens) — an expected-token rate realized by the same
    * deterministic RollHash64 draw as F14 (independent "mixtok|"
    * stream), so the kept set is replayable bit-for-bit and the audit
    * reports both realized docs and realized tokens per language.
    *
    * Rate arithmetic runs in decimal(38,0): quota·10⁶ overflows int64
    * once the corpus passes ~10¹³ tokens — exactly the 100 TB regime
    * this variant exists for (the Ols Gram-sum magnitude discipline);
    * DuckDB replays it in HUGEINT.
    *
    * Plan shape: the rate table is |langs| rows (broadcast), the keep
    * filter a projection over the cached token frame, the audit a
    * |langs| aggregate — one corpus-sized scan, no wide shuffle.
    */
  /** F22's token keep-rate with the zero-mass guard: avail_tokens = 0
    * (a language present only via zero-BPE-token docs) would be Spark
    * NULL vs a DuckDB division-by-zero error — rate 0 is the honest
    * answer (no tokens to keep), mirrored as a CASE on BOTH sides.
    */
  private[graft] val tokenRatePpmCol =
    when(col("avail_tokens") === 0, lit(0L)).otherwise(least(lit(1000000L),
      expr("(CAST(quota_tokens AS DECIMAL(38,0)) * 1000000) div avail_tokens")))

  def corpusMixTokens(spark: SparkSession, dir: String): DataFrame = {
    val tmap = map(targetPpm.flatMap { case (l, p) => Seq(lit(l), lit(p)) }: _*)
    val docs = Bpe.bpeToks(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens").as("bpe"),
        ppmDraw("mixtok|", col("doc_id")).as("ppm"))
    val totals = docs.agg(expr("sum(bpe) div 2").as("budget"))
    val rates = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_avail"), sum("bpe").as("avail_tokens"))
      .crossJoin(broadcast(totals))
      .withColumn("target_ppm", element_at(tmap, col("lang")))
      .withColumn("quota_tokens",
        expr("(CAST(target_ppm AS DECIMAL(38,0)) * budget) div 1000000"))
      .withColumn("rate_ppm", tokenRatePpmCol)
    val kept = docs.join(broadcast(rates.select("lang", "rate_ppm")), Seq("lang"))
      .filter(col("ppm") < col("rate_ppm"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("bpe").as("kept_tokens"))
    val totKept = kept.agg(sum("kept_tokens").as("total_kept_tokens"))
    rates.join(kept, Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept", "kept_tokens"))
      .crossJoin(broadcast(totKept))
      .select(col("lang"), col("avail_tokens"), col("quota_tokens"),
        col("rate_ppm"), col("n_kept"), col("kept_tokens"),
        OracleRound.r4b(col("kept_tokens").cast("double") /
          col("total_kept_tokens")).as("token_share"))
      .orderBy("lang")
  }

  /** Fractional epoch factors per language, in ppm of one epoch
    * (2_400_000 ≙ 2.4 epochs). Deliberately mixed regime: >1 upsamples
    * (the curated-domain case), =1 passes through, <1 downsamples (the
    * crawl case) — one copies formula must cover all three.
    */
  private[graft] val epochPpm: Seq[(String, Long)] = Seq(
    "de" -> 2400000L, "en" -> 1000000L, "es" -> 3000000L,
    "fr" -> 700000L, "zh" -> 1500000L)

  /** F24 — `corpus_upsample`: fractional-EPOCH replication — the
    * data-recipe step F14/F22's keep/drop draws cannot express.
    * Published pretraining mixes assign non-integer epoch counts per
    * domain ("2.4 epochs of books"); the standard realization is ⌊f⌋
    * guaranteed copies of every document plus one more with
    * probability frac(f). With the shared finalized ppm draw
    * (independent "ups|" stream): copies = f_ppm div 10⁶ +
    * (draw < f_ppm mod 10⁶ ? 1 : 0) — deterministic, bit-replayable,
    * and f < 1 degenerates exactly to F14's subsample (0 base copies)
    * while f = 1 is a pass-through.
    *
    * The REPLICA frame is the operator's product: each copy carries a
    * replica index (explode over `sequence` — output-proportional, the
    * unavoidable floor for replication) so downstream
    * shuffling/packing/sharding treats copies as distinct rows. The
    * contract query audits the exploded frame per language — realized
    * copies and tokens, realized factor quantized r4b against the
    * per-language availability.
    *
    * Plan: one corpus scan projected to (lang, tokens, draw), copies a
    * literal-map projection, explode, |langs|-row aggregates — no
    * joins on the replica path, no wide shuffle.
    */
  def corpusUpsample(spark: SparkSession, dir: String): DataFrame = {
    val fmap = map(epochPpm.flatMap { case (l, p) => Seq(lit(l), lit(p)) }: _*)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).cast("long").as("n_tokens"),
        ppmDraw("ups|", col("doc_id")).as("ppm"))
      .withColumn("f_ppm", element_at(fmap, col("lang")))
      .withColumn("copies",
        expr("f_ppm div 1000000") +
          when(col("ppm") < expr("f_ppm % 1000000"), 1L).otherwise(0L))
    val replicas = docs.filter(col("copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        explode(expr("sequence(1L, copies)")).as("replica"))
    val avail = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_avail"), max("f_ppm").as("factor_ppm"))
    val rep = replicas.groupBy("lang")
      .agg(count(lit(1)).as("n_copies"), sum("n_tokens").as("copy_tokens"))
    avail.join(rep, Seq("lang"), "left")
      .na.fill(0L, Seq("n_copies", "copy_tokens"))
      .select(col("lang"), col("n_avail"), col("factor_ppm"),
        col("n_copies"), col("copy_tokens"),
        OracleRound.r4b(col("n_copies").cast("double") / col("n_avail"))
          .as("realized_factor"))
      .orderBy("lang")
  }

  /** F25 — `corpus_shuffle`: deterministic global TRAINING ORDER — the
    * reproducible corpus-wide shuffle every trainer wants before
    * sharding (stream order must look random, yet replay identically
    * across re-runs and engines; `rand()` gives neither). Position =
    * exact global rank of the full-width finalized draw ([[mixDraw]],
    * independent "shuf|" stream; 64 bits, not ppm — an ordering key
    * needs dispersion, not a rate), ties broken by doc_id; shard =
    * (pos−1) mod n interleaves the permutation into EXACTLY balanced
    * shards (±1 doc — I16's hash-mod draw balances only multinomially,
    * and carries no order).
    *
    * The key is the SplitMix64 avalanche ([[graft.functions.VectorOps
    * .avalanche64]]), NOT the affine [[mixDraw]]: an affine map is
    * monotone between wraparounds, so over dense ids its high bits
    * barely move and the "shuffle" stays 99.8% doc_id-ascending (the
    * spec's ascent test caught exactly that on the first cut — the
    * same measurement-over-assumption lesson as F14's draw). Rates
    * need uniform LOW bits; orderings need avalanched HIGH bits.
    *
    * Scale shape: one projection to (doc_id, key), then [[DistRank]]'s
    * range-sliced rank — full-parallelism sort, no single-partition
    * window; the only corpus-sized exchange moves 16 B rows.
    */
  def corpusShuffle(spark: SparkSession, dir: String,
                    nshards: Long = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), shuffleKey.as("key"))
    DistRank.withGlobalRank(docs, "pos", col("key"), col("doc_id"))
      .select(col("doc_id"), col("pos"),
        ((col("pos") - 1) % nshards).as("shard"))
      .orderBy("pos")
  }

  /** F27 — `text_perplexity`: the LM-based quality filter (the CCNet
    * shape: score every document by how surprising it is under a
    * language model trained on the corpus itself; the review queue is
    * the most-surprising tail) — with the log made EXACT so the oracle
    * replays bit-for-bit. Per bigram, conditional surprisal
    * −log₂ P(w2|w1) is taken in integer Q12 ticks: r = c1·2¹² div c12
    * (≥ 2¹² since c12 ≤ c1), tick = ⌊log₂ r⌋ − 12 = len(bin(r)) − 13 —
    * binary length IS the exact floor-log, no libm, no cross-engine
    * drift (floating log₂ differs in the last ulp between engines,
    * which the hash compare would catch). F16 scores novelty by raw
    * bigram frequency; this is the CONDITIONAL model — "the the"
    * is frequent-in-parts but improbable-in-sequence, exactly what the
    * perplexity filter exists to catch.
    *
    * Magnitude envelope (planned, Ols discipline): c1·2¹² overflows
    * int64 only past c1 ≈ 2.2·10¹⁵ bigram instances of ONE context
    * word — two orders beyond a 100 TB corpus's hottest token; under
    * ANSI mode an overflow fails loud, never wraps.
    *
    * Plan shape: the LM is the aggregated bigram table (window over
    * aggregates, F9's precedent — never the corpus); docs join it on
    * the bigram string (F16's equi-join, O(n·bigrams), never doc×doc).
    */
  def textPerplexity(spark: SparkSession, dir: String,
                     topK: Int = 20): DataFrame =
    perplexityOf(Tables.documents(spark, dir), topK)

  /** The data-generic core over any (doc_id, text) frame — the spec
    * plants known-surprising documents through this.
    */
  private[graft] def perplexityOf(docs: DataFrame, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = docs
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("g"))
    val lm = bg.groupBy("g").agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum("c12").over(
        Window.partitionBy(substring_index(col("g"), " ", 1))))
    bg.join(lm, "g")
      .withColumn("tick",
        (length(conv(expr("(c1 * 4096) div c12"), 10, 2)) - lit(13)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("tick").as("sum_ticks"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_ticks"),
        OracleRound.r4b(col("sum_ticks").cast("double") / col("n_bigrams"))
          .as("surprisal"))
      .orderBy(col("surprisal").desc, col("doc_id"))
      .limit(topK)
  }

  /** F26 — `corpus_interleave`: mixture-PRESERVING deterministic
    * training order — F25 randomizes globally, but a random permutation
    * only matches the language mix in expectation; a trainer that wants
    * EVERY batch to see the corpus mix needs stride interleaving: give
    * each document its shuffled within-language position p (1..n_l) and
    * order globally by the exact integer stride key ⌊p·10¹²/n_l⌋ (ties
    * by lang, doc_id) — language l occupies every prefix proportionally
    * to n_l/N within ±1 per language, and within a language the F25
    * shuffle order is preserved as a subsequence.
    *
    * The per-language position does NOT use a lang-partitioned window
    * (|langs| partitions would serialize the corpus at 100 TB): one
    * [[DistRank.withRunningSumsAndTotals]] pass over the avalanched key
    * order carries a per-language indicator column each — the running
    * sum of a row's own language indicator IS its within-language
    * position, at full parallelism, and the totals frame hands back
    * n_l without a second aggregate scan. Stride arithmetic in
    * decimal(38,0) (p·10¹² overflows int64 past ~9M docs per language —
    * the 100 TB regime; F22's discipline). Languages come from the
    * declared target table (F14's discipline).
    */
  def corpusInterleave(spark: SparkSession, dir: String): DataFrame =
    interleaveOf(Tables.documents(spark, dir))

  /** The interleave core over an arbitrary (doc_id, lang, …) frame —
    * split out so the undeclared-language guard is directly testable
    * (the contract corpus only carries declared languages).
    */
  private[graft] def interleaveOf(documents: DataFrame): DataFrame = {
    val langs = targetPpm.map(_._1)
    val docs = documents
      .select(col("doc_id"), col("lang"), shuffleKey.as("key"))
    val vals = langs.map(l =>
      (when(col("lang") === l, 1L).otherwise(0L), s"p_$l"))
    val (cum, totals) = DistRank.withRunningSumsAndTotals(
      docs, vals, col("key"), col("doc_id"))
    val withN = cum.crossJoin(broadcast(
      totals.select(langs.map(l => col(s"p_$l").as(s"n_$l")): _*)))
    // a lang outside the declared targetPpm table would leave both
    // coalesces NULL and silently sort nulls-first — fail LOUDLY
    // instead (coalesce short-circuits, so the raise only fires on an
    // actually-undeclared language)
    val undeclared = raise_error(concat(
      lit("corpus_interleave: lang not in declared targetPpm table: "),
      col("lang"))).cast("long")
    val p = coalesce(langs.map(l =>
      when(col("lang") === l, col(s"p_$l"))) :+ undeclared: _*)
    val nL = coalesce(langs.map(l =>
      when(col("lang") === l, col(s"n_$l"))) :+ undeclared: _*)
    val strided = withN
      .withColumn("_p", p).withColumn("_nl", nL)
      .withColumn("k2",
        expr("(CAST(_p AS DECIMAL(38,0)) * 1000000000000) div _nl"))
      .select(col("doc_id"), col("lang"), col("k2"))
    DistRank.withGlobalRank(strided, "pos",
      col("k2"), col("lang"), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("pos"))
      .orderBy("pos")
  }

  /** F15 — `corpus_filter_cascade`: the staged keep/drop funnel a
    * curation run reports — language gate, minimum length, quality
    * threshold (F2's exact formula via [[Text.qualityScoreCol]]), and a
    * repetition cap (F13's top-token fraction). ONE aggregate computes
    * every stage's survivor count (conditional sums over the cascade
    * prefixes); `stack` unpivots the single row into the 4-stage audit
    * table. Thresholds compare on QUANTIZED scores so the boundary
    * replays exactly.
    */
  /** F15's per-doc rule flags (doc_id, r1..r4) — ONE definition of the
    * cascade rules, shared by the F15 audit and F29's build funnel so
    * the two can never disagree about a document's verdict.
    */
  private[graft] def cascadeFlags(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
    val nTok = size(col("toks")).cast("long")
    val topFrac = OracleRound.r4b(expr(maxRunSql("toks")) / nTok)
    base.select(
      col("doc_id"),
      (col("lang") === "en").as("r1"),
      (nTok >= 30).as("r2"),
      (Text.qualityScoreCol >= 0.85).as("r3"),
      (topFrac <= 0.12).as("r4"))
  }

  def corpusFilterCascade(spark: SparkSession, dir: String): DataFrame = {
    val flags = cascadeFlags(spark, dir)
    flags.agg(
      count(lit(1)).as("s0"),
      sum(when(col("r1"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("r1") && col("r2"), 1L).otherwise(0L)).as("s2"),
      sum(when(col("r1") && col("r2") && col("r3"), 1L).otherwise(0L)).as("s3"),
      sum(when(col("r1") && col("r2") && col("r3") && col("r4"), 1L).otherwise(0L))
        .as("s4"))
      .selectExpr(
        """stack(4,
          | 1, 'lang_en',    s0, s1,
          | 2, 'min_tokens', s1, s2,
          | 3, 'quality',    s2, s3,
          | 4, 'repetition', s3, s4) AS (stage, rule, n_in, n_out)""".stripMargin)
      .withColumn("n_dropped", col("n_in") - col("n_out"))
      .orderBy("stage")
  }

  /** D12 — `dedup_semantic`: SemDeDup — near-duplicate pruning in
    * EMBEDDING space, scoped to a coarse cluster (E20's trained
    * integer-centroid assignment, shared via
    * [[Similarity.ivfTrainedAssignment]] so D12, E10 and E20 can never
    * disagree about cells). A vector is dropped when a
    * LOWER-id vector in its cell has cosine ≥ τ; its keeper is the
    * best-matching such vector (highest cosine, lowest id on ties).
    *
    * Scale shape: the pairwise stage is a self-equi-join ON THE CELL —
    * O(Σ cellᵢ²) instead of n², the entire point of SemDeDup; at real
    * scale the cell count grows with √n, and a skewed giant cell is
    * salt-split by [[HotBucket]] (members over the cap pair only within
    * their deterministic hash group), so per-task work stays bounded.
    * Assignment itself is a zero-shuffle literal-codebook projection.
    */
  def dedupSemantic(spark: SparkSession, dir: String,
                    tau: Double = 0.30): DataFrame = {
    // r12 (r11 verdict directive #4): the coarse cluster is now E20's
    // LABEL-FREE trained quantizer (cell = seed vec_id) — SemDeDup's
    // production setting is an unlabeled corpus, where the former
    // label-derived assignment would throw on the missing column.
    val (assigned0, _) = Similarity.ivfTrainedAssignment(spark, dir,
      Similarity.ivfTrainedCells)
    val assigned = HotBucket.saltByCap(assigned0,
      Seq("cell"), col("vec_id"), s"d12.cells:$dir")
    val cands = assigned.select(col("cell"), col("salt"), col("vec_id").as("cand"),
      col("emb").as("cand_emb"))
    val pairs = assigned.join(cands, Seq("cell", "salt"))
      .filter(col("cand") < col("vec_id"))
      .select(col("vec_id"), col("cell"), col("cand"),
        cosine(col("cand_emb"), col("emb")).as("cos"))
      .filter(col("cos") >= tau)
    pairs.groupBy("vec_id", "cell")
      .agg(
        max_by(col("cand"), struct(col("cos"), (-col("cand")).as("nid")))
          .as("keeper"),
        max(col("cos")).as("mx"),
        count(lit(1)).as("n_cands"))
      .select(col("vec_id"), col("cell"), col("keeper"),
        OracleRound.r4b(col("mx")).as("cos_sim"), col("n_cands"))
      .orderBy("vec_id")
  }

  /** F16 — `text_novelty`: corpus-frequency novelty scoring — the
    * exact-arithmetic stand-in for LM-perplexity filtering (CCNet-style:
    * score each document by how UNUSUAL its n-grams are against the
    * corpus itself). Per doc: the average corpus frequency of its bigram
    * occurrences (an exact integer sum — no logs, no floats until the
    * final quantized ratio) and the count of rare (freq ≤ 2) bigrams;
    * the bottom-20 by average frequency is the reject-review queue.
    *
    * Scale shape: bigrams explode to (doc, gram); the corpus frequency
    * table is gram-keyed state that CANNOT broadcast at 100 TB, so the
    * score join is an equi-join on the gram with both sides
    * hash-partitioned — the honest shuffle — and the per-doc aggregate
    * map-side combines. A frequency floor (drop grams seen once) would
    * shrink the table at real scale; the synthetic corpus needs none.
    */
  def textNovelty(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("g"))
    val freq = bg.groupBy("g").agg(count(lit(1)).as("c"))
    bg.join(freq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("c").as("sum_freq"),
        count(when(col("c") <= 2, 1)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        OracleRound.r4b(col("sum_freq").cast("double") / col("n_bigrams"))
          .as("avg_freq"))
      .orderBy(col("avg_freq"), col("doc_id"))
      .limit(20)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition" -> (textRepetition _),
    "corpus_mix_sample" -> (corpusMixSample _),
    "corpus_mix_tokens" -> (corpusMixTokens _),
    "corpus_upsample" -> (corpusUpsample _),
    "corpus_shuffle" -> ((s, d) => corpusShuffle(s, d)),
    "corpus_interleave" -> (corpusInterleave _),
    "text_perplexity" -> ((s, d) => textPerplexity(s, d)),
    "corpus_filter_cascade" -> (corpusFilterCascade _),
    "dedup_semantic" -> ((s, d) => dedupSemantic(s, d)),
    "text_novelty" -> (textNovelty _))

  val oracles: Map[String, String] = Map(
    // same 1-indexed bigram comprehension as F13's oracle; the score is
    // an exact integer sum of per-occurrence corpus frequencies
    "text_novelty" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks FROM documents),
        |bg AS (
        | SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
        | FROM tok WHERE len(toks) >= 2),
        |freq AS (SELECT g, count(*) AS c FROM bg GROUP BY 1),
        |per AS (
        | SELECT b.doc_id, count(*) AS n_bigrams,
        |   CAST(sum(f.c) AS BIGINT) AS sum_freq,
        |   count(CASE WHEN f.c <= 2 THEN 1 END) AS n_rare
        | FROM bg b JOIN freq f USING (g) GROUP BY 1)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(n_rare AS BIGINT) AS n_rare,
        |  floor((CAST(sum_freq AS DOUBLE) / n_bigrams) * 10000 + 0.5) / 10000 AS avg_freq
        |FROM per ORDER BY avg_freq, doc_id LIMIT 20""".stripMargin,
    // max multiplicity via unnest → group → max (the relational route to
    // the engine's sorted-run fold); bigrams by 1-indexed adjacency
    "text_repetition" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks FROM documents),
        |base AS (
        | SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM tok),
        |uni AS (
        | SELECT doc_id, max(cnt) AS top_uni FROM (
        |   SELECT doc_id, count(*) AS cnt
        |   FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY doc_id, t)
        | GROUP BY doc_id),
        |bg AS (
        | SELECT doc_id, max(cnt) AS top_big FROM (
        |   SELECT doc_id, count(*) AS cnt FROM (
        |     SELECT doc_id,
        |            unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
        |     FROM tok) GROUP BY doc_id, g)
        | GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  floor((CAST(n_distinct AS DOUBLE) / n_tokens) * 10000 + 0.5) / 10000 AS distinct_ratio,
        |  floor((CAST(top_uni AS DOUBLE) / n_tokens) * 10000 + 0.5) / 10000 AS top_token_frac,
        |  floor((CAST(coalesce(top_big, 0) AS DOUBLE) / greatest(n_tokens - 1, 1)) * 10000 + 0.5) / 10000 AS top_bigram_frac
        |FROM base b JOIN uni USING (doc_id) LEFT JOIN bg USING (doc_id)
        |ORDER BY top_bigram_frac DESC, doc_id LIMIT 20""".stripMargin,
    // identical integer arithmetic end-to-end: ppm targets, floor
    // quotas/rates, RollHash64 draw wrapped to signed then pmod 10⁶
    "corpus_mix_sample" -> {
      s"""WITH d0 AS (
         | SELECT doc_id, lang, 'mix|' || CAST(doc_id AS VARCHAR) AS s FROM documents),
         |d AS (
         | SELECT doc_id, lang, ${ppmDrawSql("s")} AS ppm FROM d0),
         |t AS (SELECT count(*) // 2 AS budget FROM d),
         |a AS (SELECT lang, count(*) AS n_avail FROM d GROUP BY 1),
         |r AS (
         | SELECT lang, n_avail,
         |   CASE lang WHEN 'de' THEN 150000 WHEN 'en' THEN 350000
         |             WHEN 'es' THEN 150000 WHEN 'fr' THEN 150000
         |             WHEN 'zh' THEN 200000 END AS target_ppm,
         |   budget
         | FROM a CROSS JOIN t),
         |r2 AS (
         | SELECT lang, n_avail, target_ppm * budget // 1000000 AS quota,
         |   least(1000000, (target_ppm * budget // 1000000) * 1000000 // n_avail) AS rate_ppm
         | FROM r),
         |k AS (
         | SELECT d.lang, count(*) AS n_kept
         | FROM d JOIN r2 USING (lang) WHERE d.ppm < r2.rate_ppm GROUP BY 1),
         |tk AS (SELECT sum(n_kept) AS total_kept FROM k)
         |SELECT r2.lang, CAST(n_avail AS BIGINT) AS n_avail,
         |  CAST(quota AS BIGINT) AS quota, CAST(rate_ppm AS BIGINT) AS rate_ppm,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  floor((CAST(coalesce(k.n_kept, 0) AS DOUBLE) / total_kept) * 10000 + 0.5) / 10000 AS share
         |FROM r2 LEFT JOIN k USING (lang) CROSS JOIN tk ORDER BY lang""".stripMargin
    },
    // the identical "shuf|" roll hash pushed through the SplitMix64
    // avalanche staged as CTEs (xor + floor-divide shifts + mod-2⁶⁴
    // multiplies, all in unsigned HUGEINT space), then the rank as one
    // window — the single-partition formulation DistRank replaces
    "corpus_shuffle" ->
      s"""WITH $shuffleKeyCtes,
         |r AS (SELECT doc_id,
         |        row_number() OVER (ORDER BY key, doc_id) AS pos FROM d)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST((pos - 1) % 8 AS BIGINT) AS shard
         |FROM r ORDER BY pos""".stripMargin,
    // the same bigram table, the same Q12 integer surprisal via binary
    // length (bin ↔ conv(…,10,2) — both are the exact floor-log₂+1)
    "text_perplexity" ->
      """WITH tok AS (
        | SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks FROM documents),
        |bg AS (
        | SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
        | FROM tok WHERE len(toks) >= 2),
        |lm AS (SELECT g, count(*) AS c12 FROM bg GROUP BY 1),
        |lmc AS (SELECT g, c12,
        |          sum(c12) OVER (PARTITION BY split_part(g, ' ', 1)) AS c1
        |        FROM lm),
        |t AS (SELECT doc_id,
        |        length(bin(CAST((c1 * 4096) // c12 AS BIGINT))) - 13 AS tick
        |      FROM bg JOIN lmc USING (g)),
        |p AS (SELECT doc_id, count(*) AS n_bigrams,
        |        sum(tick) AS sum_ticks FROM t GROUP BY 1)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(sum_ticks AS BIGINT) AS sum_ticks,
        |  floor((CAST(sum_ticks AS DOUBLE) / n_bigrams) * 10000 + 0.5) / 10000
        |    AS surprisal
        |FROM p ORDER BY surprisal DESC, doc_id LIMIT 20""".stripMargin,
    // the shared shuffle-key CTEs + per-lang window position + exact
    // integer stride key + one ordering window
    "corpus_interleave" ->
      s"""WITH $shuffleKeyCtes,
         |n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
         |p AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS p
         |      FROM d),
         |k AS (SELECT doc_id, p.lang,
         |        (CAST(p AS HUGEINT) * 1000000000000) // n_l AS k2
         |      FROM p JOIN n USING (lang)),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (ORDER BY k2, lang, doc_id) AS pos FROM k)
         |SELECT doc_id, lang, CAST(pos AS BIGINT) AS pos
         |FROM r ORDER BY pos""".stripMargin,
    // the identical finalized "ups|" draw, the same copies formula, the
    // audit aggregated from per-doc copies (aggregate-equal to the
    // engine's exploded replica frame)
    "corpus_upsample" -> {
      val fcase = "CASE lang " + epochPpm.map { case (l, p) =>
        s"WHEN '$l' THEN $p" }.mkString(" ") + " END"
      s"""WITH d0 AS (
         | SELECT doc_id, lang,
         |   CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         |   'ups|' || CAST(doc_id AS VARCHAR) AS s FROM documents),
         |d AS (
         | SELECT lang, n_tokens, ${ppmDrawSql("s")} AS ppm,
         |   $fcase AS f_ppm FROM d0),
         |c AS (
         | SELECT lang, n_tokens, f_ppm,
         |   f_ppm // 1000000 +
         |     CASE WHEN ppm < f_ppm % 1000000 THEN 1 ELSE 0 END AS copies
         | FROM d),
         |a AS (SELECT lang, count(*) AS n_avail, max(f_ppm) AS factor_ppm
         |      FROM c GROUP BY 1),
         |r AS (SELECT lang, sum(copies) AS n_copies,
         |        sum(copies * n_tokens) AS copy_tokens
         |      FROM c GROUP BY 1)
         |SELECT a.lang, CAST(n_avail AS BIGINT) AS n_avail,
         |  CAST(factor_ppm AS BIGINT) AS factor_ppm,
         |  CAST(coalesce(n_copies, 0) AS BIGINT) AS n_copies,
         |  CAST(coalesce(copy_tokens, 0) AS BIGINT) AS copy_tokens,
         |  floor((CAST(coalesce(n_copies, 0) AS DOUBLE) / n_avail) * 10000 + 0.5) / 10000
         |    AS realized_factor
         |FROM a LEFT JOIN r USING (lang) ORDER BY lang""".stripMargin
    },
    // F14's rate arithmetic with token sums from F19's recursive CTEs;
    // all integer/HUGEINT, same hash draw on an independent stream
    "corpus_mix_tokens" -> {
      s"""WITH RECURSIVE ${Bpe.bpeCtes},
         |d0 AS (
         | SELECT doc_id, lang, 'mixtok|' || CAST(doc_id AS VARCHAR) AS s
         | FROM documents),
         |dl AS (
         | SELECT d0.doc_id, d0.lang, b.n_bpe AS bpe,
         |   ${ppmDrawSql("s")} AS ppm
         | FROM d0 JOIN doc_bpe b USING (doc_id)),
         |t AS (SELECT sum(bpe) // 2 AS budget FROM dl),
         |a AS (SELECT lang, count(*) AS n_avail, sum(bpe) AS avail_tokens
         |      FROM dl GROUP BY 1),
         |r AS (
         | SELECT lang, n_avail, avail_tokens,
         |   CASE lang WHEN 'de' THEN 150000 WHEN 'en' THEN 350000
         |             WHEN 'es' THEN 150000 WHEN 'fr' THEN 150000
         |             WHEN 'zh' THEN 200000 END AS target_ppm,
         |   budget
         | FROM a CROSS JOIN t),
         |r2 AS (
         | SELECT lang, avail_tokens,
         |   target_ppm::HUGEINT * budget // 1000000 AS quota_tokens,
         |   CASE WHEN avail_tokens = 0 THEN 0 ELSE least(1000000,
         |     (target_ppm::HUGEINT * budget // 1000000) * 1000000 // avail_tokens)
         |     END AS rate_ppm
         | FROM r),
         |k AS (
         | SELECT dl.lang, count(*) AS n_kept, sum(bpe) AS kept_tokens
         | FROM dl JOIN r2 USING (lang) WHERE dl.ppm < r2.rate_ppm GROUP BY 1),
         |tk AS (SELECT sum(kept_tokens) AS total_kept_tokens FROM k)
         |SELECT r2.lang, CAST(avail_tokens AS BIGINT) AS avail_tokens,
         |  CAST(quota_tokens AS BIGINT) AS quota_tokens,
         |  CAST(rate_ppm AS BIGINT) AS rate_ppm,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  floor((CAST(coalesce(k.kept_tokens, 0) AS DOUBLE) / total_kept_tokens)
         |        * 10000 + 0.5) / 10000 AS token_share
         |FROM r2 LEFT JOIN k USING (lang) CROSS JOIN tk ORDER BY lang""".stripMargin
    },
    // the cascade as conditional prefix-sums over one scan; quality is
    // Corpus.qualitySql (= F2's formula) so all three consumers agree
    "corpus_filter_cascade" ->
      s"""WITH tok AS (
         | SELECT doc_id, lang, text,
         |        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents),
         |uni AS (
         | SELECT doc_id, max(cnt) AS top_uni FROM (
         |   SELECT doc_id, count(*) AS cnt
         |   FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY doc_id, t)
         | GROUP BY doc_id),
         |f AS (
         | SELECT (lang = 'en') AS r1, (len(toks) >= 30) AS r2,
         |   (${Corpus.qualitySql} >= 0.85) AS r3,
         |   (floor((CAST(top_uni AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 <= 0.12) AS r4
         | FROM tok JOIN uni USING (doc_id)),
         |a AS (
         | SELECT count(*) AS s0,
         |   sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS s1,
         |   sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS s2,
         |   sum(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS s3,
         |   sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS s4
         | FROM f)
         |SELECT CAST(stage AS INTEGER) AS stage, rule,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |  CAST(n_in - n_out AS BIGINT) AS n_dropped
         |FROM (
         | SELECT 1 AS stage, 'lang_en' AS rule, s0 AS n_in, s1 AS n_out FROM a
         | UNION ALL SELECT 2, 'min_tokens', s1, s2 FROM a
         | UNION ALL SELECT 3, 'quality', s2, s3 FROM a
         | UNION ALL SELECT 4, 'repetition', s3, s4 FROM a)
         |ORDER BY stage""".stripMargin,
    // E20's TRAINED cell assignment verbatim (shared CTE chain; r12 —
    // label-free clustering, r11 verdict directive #4), then the
    // within-cell lower-id pairing and the (cos desc, id) keeper pick
    "dedup_semantic" ->
      s"""WITH ${Similarity.ivfTrainedAsgCtes},
         |p AS (
         | SELECT b.vec_id AS vec_id, a.cell, a.vec_id AS cand,
         |   list_cosine_similarity(ae.embedding::DOUBLE[], be.embedding::DOUBLE[]) AS cos
         | FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         | JOIN embeddings ae ON ae.vec_id = a.vec_id
         | JOIN embeddings be ON be.vec_id = b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= 0.3),
         |r AS (
         | SELECT vec_id, cell, cand, cos,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand) AS rn,
         |   count(*) OVER (PARTITION BY vec_id) AS n_cands
         | FROM f)
         |SELECT vec_id, cell, cand AS keeper,
         |  floor(cos * 10000 + 0.5) / 10000 AS cos_sim, n_cands
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
