package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.{jaccardSim, rollWindowHash64, rollhash64}
import graft.tables.Tables

/** Dedup extensions (round 3, wave 9) — SURVEY.md §2.D8.
  *
  * Chunk-level (partial) duplication: documents that are not near-dups
  * as a whole can still share verbatim PASSAGES (boilerplate, quoted
  * blocks, template text). Pretraining-corpus pipelines detect this at
  * chunk granularity — split each document into disjoint token blocks,
  * hash each block, and join on block hash — because whole-document
  * MinHash (D2) is blind to a 10-token copy inside an otherwise unique
  * document.
  */
object Dedup2 {

  /** D8 — exact shared-chunk detection: disjoint 10-token blocks per
    * document (tail shorter than 10 dropped), block → RollHash64, doc
    * pairs sharing ≥1 distinct block hash, with the shared count.
    *
    * Plan shape: tokenize+chunk is a shuffle-free projection; the pair
    * join is an equi-join on the 64-bit block hash over the DISTINCT
    * (doc, hash) set — candidates are hash-co-resident rows only, the
    * same O(n·blocks) bucket-join shape as D2's LSH bands, never doc×doc.
    * Pathological boilerplate hashes (a block shared by >cap docs) are
    * salt-split by [[HotBucket]] so the worst bucket's pair count is
    * bounded; the guard is result-invisible on the synthetic corpus.
    */
  def dedupDocChunk(spark: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+").as("tokens"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(tokens) >= 10 THEN
          |  transform(sequence(0, size(tokens) div 10 - 1),
          |            i -> concat_ws(' ', slice(tokens, i * 10 + 1, 10)))
          |ELSE array() END""".stripMargin).as("blocks"))
      .select(col("doc_id"), explode(col("blocks")).as("block"))
      .select(col("doc_id"), rollhash64(col("block")).as("h"))
      .distinct()
    // the "frequency cap on pathological boilerplate hashes" the
    // scaladoc promises, as code: hash buckets over the cap are
    // salt-split so the worst bucket is bounded (see HotBucket)
    def salted = HotBucket.saltByCap(blocks, Seq("h"), col("doc_id"),
      s"d8.blocks:$dir")
    salted.as("l").join(salted.as("r"), col("l.h") === col("r.h") &&
        col("l.salt") === col("r.salt") &&
        col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
      .agg(count(lit(1)).as("shared_blocks"))
      .orderBy("a", "b")
  }

  /** D9 — one integer-exact PageRank iteration over the verified
    * near-dup graph (D7's edges): rank as centrality of duplicate
    * clusters — boilerplate hubs score high and make better removal
    * roots than arbitrary canonical-min picks. The message-passing plan
    * (edges ⋈ degrees → per-target sum) is THE iterative graph
    * primitive at scale: one equi-join shuffle + one aggregate per
    * round, no driver-side graph.
    *
    * Determinism: uniform start mass 10⁶ per node; contribution =
    * 10⁶ div deg (integer), damped rank = 150000 + (85·Σ) div 100 —
    * every step exact integer arithmetic, no float mass anywhere.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(spark, dir)
      .filter(col("jaccard") >= 0.5).select("a", "b")
    val edges = pairs.union(pairs.select(col("b"), col("a")))
    // one round of the shared N-round core (D9b): rank_q ≡ its rank_q1,
    // and the edge pipeline is persisted/co-partitioned once instead of
    // re-evaluated for degrees and contributions separately
    // memo key shared with D9b: same edge plan, round-independent state
    val pr = pagerankRounds(edges, 1, s"d9.pagerank:$dir")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(pr.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("rank_q1"), lit(150000L)).as("rank_q"))
      .orderBy("doc_id")
  }

  /** Data-generic N-round integer PageRank core (the iterative-graph
    * analog of Ml5's boosting core and Ml4's Lloyd rounds): given a
    * SYMMETRIZED edge list `(src, dst)`, run `rounds` exact damped
    * iterations entirely in integer mass — r₀ = 10⁶ per node,
    * contribution = r div deg, rₜ₊₁ = 150000 + (85·Σ) div 100 — and
    * return one row per edge-touched node with `deg` and a `rank_qT`
    * column per round. Truncating integer div replays identically in
    * DuckDB (`//`), so EVERY round is hash-verifiable, not just the
    * fixpoint.
    *
    * Scale shape: the whole loop runs over NODE- and EDGE-sized frames
    * only (isolated vertices never receive mass and are coalesced back
    * by the caller) — and the edge list is joined with its out-degrees
    * ONCE, hash-partitioned by `src`, and persisted (24 B/edge). Each
    * round's contrib join then reuses that cached partitioning, so the
    * only per-round shuffle is the NODE-sized rank frame plus the
    * per-target aggregate — the edge list (the big side at 100 TB)
    * never re-shuffles after round 0. Deterministic-input precondition
    * as DistRank: the edge list must be stable across re-computation.
    */
  def pagerankRounds(edges: DataFrame, rounds: Int,
                     memoKey: String): DataFrame = {
    require(rounds >= 1, "pagerankRounds needs at least one round")
    // e caches the (possibly expensive) upstream edge pipeline so deg and
    // eDeg each read the cache, not the lineage; eDeg is the loop's frame.
    // The explicit repartition is NOT redundant with the join: a tiny deg
    // gets broadcast, and a broadcast join preserves e's arbitrary
    // upstream partitioning — the repartition is what guarantees the
    // cached frame is hash-partitioned on src for every round's join.
    // (deg, eDeg) are deterministic functions of the edge list — built
    // and persisted once per distinct edge PLAN (semantic hash) per JVM
    // via the bounded memo; the symmetry check rides the same build
    // explicit caller descriptor, never the 32-bit plan semanticHash
    // alone — two distinct edge plans colliding on the Int hash must
    // not share loop frames (same fix as labelPropagation)
    val (deg, eDeg) = graft.QueryCaches.memo(s"dedup2.pagerank:$memoKey") {
    val e = edges.toDF("src", "dst").persist()
    // the SYMMETRIZED precondition made loud: with (dst,src) present for
    // every (src,dst), the inner joins below are provably lossless
    // (every out-degree node receives mass every round); an
    // unsymmetrized input would silently drop sink-only/source-only
    // nodes instead of failing. Checked as one 2-value aggregate over
    // the cached edge frame — equal hash sums of (src,dst) and
    // (dst,src) ⟺ the two edge multisets match (up to hash collision),
    // no extra shuffle. decimal(38,0) keeps the sum exact and
    // overflow-free at any edge count (ANSI long sums would throw)
    val sym = e.agg(
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
      sum(xxhash64(col("dst"), col("src")).cast("decimal(38,0)"))).head()
    require(sym.getDecimal(0) == sym.getDecimal(1),
      "pagerankRounds requires a SYMMETRIZED edge list (every (src,dst) " +
        "paired with (dst,src)) — the hash sums of forward and reversed " +
        "edges disagree")
    val dg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val eD = e.join(dg, "src").repartition(col("src")).persist()
    // materialize the loop frame, then drop the upstream cache — only
    // deg (node-sized) and eDeg (edge-sized) live across the rounds
    eD.count()
    e.unpersist()
    (dg, eD)
    }
    var out = deg.select(col("src").as("node"), col("deg"))
    var r = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    (1 to rounds).foreach { t =>
      val contrib = eDeg
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
      r = contrib.groupBy("node")
        .agg(expr("CAST(150000 + 85 * sum(c) div 100 AS LONG)").as("r"))
      // r15 (r14 verdict directive #3): a non-terminal round's rank frame
      // is referenced TWICE (next round's contrib join AND its own
      // rank_qT output column), so an un-truncated lineage repeats every
      // earlier round's subtree once per reference — the 3-round plan
      // carried SIX round-step subtrees (16.4k-line explain, 132
      // ReusedExchange refs) and the driver re-planned/re-codegen'd all
      // of them every invocation. localCheckpoint (labelPropagation's
      // own discipline, same reason) caps each round's plan at one
      // round-step: the NODE-sized frame is materialized once and both
      // consumers read it. Rank values are byte-identical — the
      // checkpoint stores exactly the rows the lazy plan would produce.
      if (t < rounds) r = r.localCheckpoint()
      out = out.join(r.withColumnRenamed("r", s"rank_q$t"), "node")
    }
    out
  }

  /** D9b — THREE exact PageRank rounds over the verified near-dup graph
    * (D9 is the single-iteration base; its rank_q equals this rank_q1
    * by construction). Proves the iterative message-passing loop — not
    * just one step — stays oracle-exact: the DuckDB twin unrolls r1/r2/
    * r3 as chained CTEs over the identical integer recurrence.
    */
  def graphPagerankIter(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(spark, dir)
      .filter(col("jaccard") >= 0.5).select("a", "b")
    val edges = pairs.union(pairs.select(col("b"), col("a")))
    val pr = pagerankRounds(edges, 3, s"d9.pagerank:$dir")
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(pr.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("rank_q1"), lit(150000L)).as("rank_q1"),
        coalesce(col("rank_q2"), lit(150000L)).as("rank_q2"),
        coalesce(col("rank_q3"), lit(150000L)).as("rank_q3"))
      .orderBy("doc_id")
  }

  /** D13 — `dedup_incremental`: dedup of a DAILY DELTA against the
    * standing corpus, the shape production pipelines actually run —
    * yesterday's corpus is already indexed; today's arrivals (here
    * doc_id % 10 == 0, ~10% of docs) must be checked against base ∪
    * delta WITHOUT ever re-pairing base×base. The delta side probes the
    * persisted (doc_id, band, sig) index ([[Dedup.bandSignatures]] —
    * the exact state D2 already maintains) with a band+sig equi-join;
    * candidates are verified by exact shingle Jaccard and each delta
    * doc gets an admit/reject verdict.
    *
    * Scale shape: per day the join cost is O(|delta|·bands) probe rows
    * against the index — independent of corpus size beyond the index
    * lookup — and the only new state is the delta's own signature rows
    * appended to the index. Base×base pairs (the quadratic bulk D2
    * pays) are structurally excluded by the probe-side filter.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // the probe join shares D2's hot-bucket guard (and its memoized salt
    // table — same site key): a hot index bucket hands each delta doc at
    // most its own salt group, so per-probe candidates are capped too
    val sigs = HotBucket.saltByCap(Dedup.bandSignatures(spark, dir),
      Seq("band", "sig"), col("doc_id"), s"d2.bandSigs:$dir:32:8")
    admissionOver(spark, dir, sigs)
  }

  /** D13's batch admission over `sigs`, any salted band-signature index
    * of the corpus in `dir`: the delta is that corpus's doc_id % 10 = 0
    * docs, probing with their own rows of `sigs`. D18 `dedup_tombstone`
    * runs it over the tombstone-filtered index, so the only thing a
    * delete changes is which index rows exist.
    */
  private[graft] def admissionOver(spark: SparkSession, dir: String,
                                   sigs: DataFrame): DataFrame = {
    val isDelta = col("doc_id") % 10 === 0
    admission(dir, sigs, sigs.filter(isDelta),
      Tables.documents(spark, dir).filter(isDelta)).orderBy("doc_id")
  }

  /** The one admission core, shared by the batch serves and the streaming
    * admit (`stream_corpus_admit` shares D13's oracle): `probe` rows
    * (band, sig, salt, doc_id) of the `delta` docs against the salted
    * `index` rows of the corpus in `dir`, exact-Jaccard verification of
    * the candidates, and one admit/reject verdict per delta doc.
    *
    * The o-side shingles only index docs that share a bucket with some
    * probe row (a broadcast left-semi on doc_id before the O(tokens)/row
    * shingle projection). That set is a superset of the candidate `o`s
    * (it only lacks the o ≠ d filter) and the verify join is inner on
    * `o`, so the extra shingled docs change no verdict.
    */
  private[graft] def admission(dir: String, index: DataFrame, probe: DataFrame,
                               delta: DataFrame): DataFrame = {
    val keys = Seq("band", "sig", "salt")
    val d = probe.select(col("band"), col("sig"), col("salt"), col("doc_id").as("d"))
    val o = index.select(col("band"), col("sig"), col("salt"), col("doc_id").as("o"))
    val cands = d.join(o, keys)
      .filter(col("o") =!= col("d"))
      .select("d", "o").distinct()
    val candO = o.join(d, keys, "left_semi").select(col("o").as("doc_id"))
    val shO = Dedup.shingled(Tables.documents(delta.sparkSession, dir)
      .join(broadcast(candO), Seq("doc_id"), "left_semi"))
    val withJac = cands
      .join(Dedup.shingled(delta).select(col("doc_id").as("d"), col("shingles").as("sh_d")), "d")
      .join(shO.select(col("doc_id").as("o"), col("shingles").as("sh_o")), "o")
      .select(col("d"), jaccardSim(col("sh_d"), col("sh_o")).as("jaccard"))
    val perDelta = withJac.groupBy("d")
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("jaccard") >= 0.5, 1)).as("n_near_dups"))
    delta.select("doc_id")
      .join(perDelta.withColumnRenamed("d", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        when(coalesce(col("n_near_dups"), lit(0L)) > 0, lit("reject"))
          .otherwise(lit("admit")).as("verdict"))
  }

  /** Per-dir root of D18's persisted lifecycle artifact: the standing
    * band-signature index (D2/D13's exact state) written to parquet
    * ONCE, plus the takedown batch (doc_id % 10 = 3 — disjoint from
    * D13's % 10 = 0 delta, so every delta doc survives) as a TOMBSTONE
    * sidecar. The index files are never rewritten by a delete — the
    * tombstone file is the delete, merge-on-read style (Delta/Iceberg's
    * deletion-vector discipline): at 100 TB a takedown must not rewrite
    * an O(corpus) index, and a crash between writes leaves either the
    * old index (no sidecar yet → nothing deleted) or the full pair —
    * never a half-deleted index.
    */
  private[graft] def bandTombstonePath(spark: SparkSession,
                                       dir: String): String =
    graft.QueryCaches.memo(s"dedup2.tombstone:$dir") {
      val root = graft.Scratch.dir("band_tombstone")
      Tables.write(Dedup.bandSignatures(spark, dir))
        .mode("overwrite").parquet(s"$root/index")
      Tables.write(Tables.documents(spark, dir).filter(col("doc_id") % 10 === 3)
        .select("doc_id")).mode("overwrite").parquet(s"$root/tombstones")
      root
    }

  /** D18 — `dedup_tombstone` (r11 verdict directive #2): the DELETE
    * analog of the reference's after-the-fact UPDATE lifecycle
    * (`function.py:462-539` rewrites a stored row when late truth
    * arrives; a takedown/right-to-be-forgotten request removes one).
    * The standing band-signature index loses the tombstoned docs'
    * rows (merge-on-read anti-join against the sidecar — the index
    * parquet itself is untouched), and D13's delta admission then runs
    * IDENTICALLY over the surviving index: a deleted doc can no longer
    * generate candidates, so a delta doc whose only near-dup was
    * tombstoned flips reject → admit (Round12Spec constructs exactly
    * that flip, and proves re-appending the tombstoned rows restores
    * D13's verdicts bit-for-bit — the re-add round-trip).
    *
    * Scale shape: the delete writes O(|tombstones|) sidecar rows and
    * zero index bytes; the serve adds ONE broadcast-able anti-join on
    * doc_id to D13's plan (the sidecar is takedown-sized, never
    * corpus-sized); admission cost stays O(|delta|·bands).
    */
  def dedupTombstone(spark: SparkSession, dir: String): DataFrame =
    tombstoneServeFrom(spark, dir, bandTombstonePath(spark, dir))

  /** The merge-on-read serve over ANY band-index artifact root —
    * generation-resolved ([[ArtifactGen]]), so the un-vacuumed shared
    * artifact (generation 0 = exactly the pre-r13 paths) and D19's
    * vacuumed instance run the IDENTICAL plan: current-generation
    * index ANTI-JOIN current-generation sidecar, then D13's admission.
    */
  private[graft] def tombstoneServeFrom(spark: SparkSession, dir: String,
                                        root: String): DataFrame = {
    val gd = ArtifactGen.dir(root, ArtifactGen.current(root))
    val tomb = Tables.parquet(spark, s"$gd/tombstones")
    val surviving = Tables.parquet(spark, s"$gd/index")
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val sigs = HotBucket.saltByCap(surviving,
      Seq("band", "sig"), col("doc_id"), s"d18.bandSigs:$dir")
    admissionOver(spark, dir, sigs)
  }

  /** D14 — `dedup_passage_spans`: POSITIONAL substring dedup — the
    * standard LLM-pipeline operator (exact substring dedup à la Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"):
    * D8 says two docs share ≥1 block; this says WHERE, emitting
    * (doc_id, start_tok, end_tok) spans of maximal repeated runs so the
    * pipeline can surgically remove the passage instead of dropping the
    * document. SLIDING (not disjoint) 10-token windows with positions →
    * RollHash64 per window → corpus-wide frequency → a window is
    * repeated iff its hash occurs ≥2 times anywhere (cross-doc or
    * within-doc) → maximal runs of consecutive repeated windows via
    * gaps-and-islands (A30/A50's machinery). A run of w windows covers
    * a span of w+9 tokens; every span is ≥10 tokens by construction.
    *
    * Scale shape: windows are one explode (~n_tokens rows, shuffle-free
    * projection); the frequency table is hash-keyed state that cannot
    * broadcast at 100 TB, so the repeat join is an equi-join on the
    * 64-bit hash with both sides hash-partitioned — one row per hash on
    * the count side, so no pair blow-up is possible (unlike the
    * D2/D8 self-joins, there is nothing for a hot hash to square); the
    * island detection is a per-doc window bounded by document length.
    * Every number is integer-exact, so DuckDB replays the full chain.
    */
  def dedupPassageSpans(spark: SparkSession, dir: String,
                        win: Int = 10): DataFrame =
    passageSpansOf(Tables.documents(spark, dir), win)

  /** The contract query's ordered view of [[spansOf]] — the spec
    * plants known passages through this wrapper.
    */
  private[graft] def passageSpansOf(docs: DataFrame, win: Int): DataFrame =
    spansOf(docs, win).orderBy("doc_id", "start_tok")

  /** The data-generic UNORDERED span core over any (doc_id, text)
    * frame — what composing operators (F17 `corpus_passage_clean`)
    * consume, so they never pay the contract query's total sort.
    */
  private[graft] def spansOf(docs: DataFrame, win: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r14 optimization (guide §1.2 per-task work): the composed
    // windows — transform + slice + concat_ws + rollhash64 per position
    // — copied and hashed every byte `win` times. rollWindowHash64 is
    // the Rabin-Karp one-pass form, per-element VALUE-IDENTICAL
    // (RollWindowHash64Spec pins the equality), so rows, hashes and the
    // D14/F17 oracles are bit-for-bit unchanged.
    val wins = docs
      .select(col("doc_id"), split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+").as("toks"))
      .filter(size(col("toks")) >= win)
      .select(col("doc_id"),
        posexplode(rollWindowHash64(col("toks"), win)).as(Seq("p", "h")))
      .select(col("doc_id"), col("p").cast("long").as("i"), col("h"))
    val freq = wins.groupBy("h").agg(count(lit(1)).as("c"))
    val rep = wins.join(freq, "h").filter(col("c") >= 2)
      .select("doc_id", "i")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    rep.withColumn("grp", col("i") - row_number().over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("i").as("start_tok"),
        (max("i") + (win - 1)).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "start_tok", "end_tok", "n_windows")
  }

  /** F17 — `corpus_passage_clean`: the SURGICAL consumer of D14's
    * spans — rebuild each document with every repeated-passage token
    * removed (all occurrences: conservative substring dedup; keeping a
    * canonical COPY is a document-level decision D10 already makes).
    * Per doc: original token count, removed count, and the cleaned
    * text reassembled from the surviving positions. This is the step
    * that makes positional dedup actionable — the pipeline ships
    * cleaned text, not a report.
    *
    * Plan shape: D14's span table (already doc-bucketed, tiny relative
    * to the corpus) is aggregated to one span-list row per affected doc
    * and equi-joined back to the token scan; the keep/drop decision is
    * a higher-order `filter`/`exists` over the per-row span list —
    * pure codegen projection, no explode, no extra shuffle beyond the
    * span aggregate. Span-list ORDER is irrelevant (membership checks
    * only), so collect_list's nondeterminism is harmless and the
    * result is partition-count invariant.
    */
  def corpusPassageClean(spark: SparkSession, dir: String): DataFrame =
    passageCleanOf(Tables.documents(spark, dir), 10)

  private[graft] def passageCleanOf(docs: DataFrame, win: Int): DataFrame = {
    val spans = spansOf(docs, win)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start_tok").as("s"),
        col("end_tok").as("e"))).as("spans"))
    docs
      .select(col("doc_id"), split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+").as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("kept", expr(
        "filter(sequence(0, size(toks) - 1), i -> NOT exists(spans, sp -> sp.s <= i AND i <= sp.e))"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        expr("concat_ws(' ', transform(kept, i -> element_at(toks, i + 1)))")
          .as("clean_text"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_passage_clean" -> (corpusPassageClean _),
    "dedup_passage_spans" -> ((s, d) => dedupPassageSpans(s, d)),
    "dedup_doc_chunk" -> (dedupDocChunk _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_pagerank_iter" -> (graphPagerankIter _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_tombstone" -> (dedupTombstone _))

  /** D14's positional-hash replay as a shared CTE chain ending in
    * `sp(doc_id, s, e, n_windows)` — consumed by the D14 oracle and by
    * F17's reassembly on top of the identical spans.
    */
  private lazy val passageCtes: String =
    s"""tok AS (
       | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents),
       |wins AS (
       | SELECT doc_id, i - 1 AS i, array_to_string(t[i:i+9], ' ') AS w
       | FROM (SELECT doc_id, t, CAST(unnest(range(1, len(t) - 8)) AS BIGINT) AS i
       |       FROM tok WHERE len(t) >= 10)),
       |h AS (SELECT doc_id, i, ${Dedup.wrapSql(Dedup.rollSql("w"))} AS h FROM wins),
       |freq AS (SELECT h, count(*) AS c FROM h GROUP BY 1),
       |rep AS (SELECT doc_id, i FROM h JOIN freq USING (h) WHERE c >= 2),
       |isl AS (
       | SELECT doc_id, i,
       |  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       | FROM rep),
       |sp AS (
       | SELECT doc_id, min(i) AS s, max(i) + 9 AS e, count(*) AS n_windows
       | FROM isl GROUP BY doc_id, grp)""".stripMargin

  val oracles: Map[String, String] = Map(
    // positional hash replay: the same sliding windows (i is 0-based in
    // both engines), the same RollHash64 image per window, frequency ≥2,
    // and the identical islands grouping (i - row_number)
    "dedup_passage_spans" ->
      s"""WITH $passageCtes
         |SELECT doc_id, s AS start_tok, e AS end_tok, n_windows
         |FROM sp ORDER BY doc_id, start_tok""".stripMargin,
    // the same spans, consumed: positions covered by any span drop,
    // the survivors reassemble — identical keep/drop predicate text
    "corpus_passage_clean" ->
      s"""WITH $passageCtes,
         |spl AS (
         | SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
         | FROM sp GROUP BY doc_id),
         |j AS (
         | SELECT tok.doc_id, t,
         |  coalesce(spl.spans, []::STRUCT(s BIGINT, e BIGINT)[]) AS spans
         | FROM tok LEFT JOIN spl USING (doc_id)),
         |sel AS (
         | SELECT doc_id, t,
         |  [i FOR i IN range(0, len(t))
         |   IF len(list_filter(spans, sp -> sp['s'] <= i AND i <= sp['e'])) = 0] AS kept
         | FROM j)
         |SELECT doc_id, len(t) AS n_tokens,
         |  len(t) - len(kept) AS n_removed,
         |  coalesce(array_to_string([t[i + 1] FOR i IN kept], ' '), '') AS clean_text
         |FROM sel ORDER BY doc_id""".stripMargin,
    // shares D2's full signature chain (tok→sh→expl→h0→mh→sigs); only
    // the candidate CTE changes — one side pinned to the delta
    "dedup_incremental" ->
      s"""WITH ${Dedup.minhashJacCtes},
         |icand AS (
         | SELECT DISTINCT r.doc_id AS d, l.doc_id AS o
         | FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
         |  AND r.doc_id % 10 = 0 AND l.doc_id <> r.doc_id),
         |ijac AS (
         | SELECT c.d,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |  len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
         | FROM icand c JOIN sh sa ON sa.doc_id = c.d JOIN sh sb ON sb.doc_id = c.o),
         |agg AS (
         | SELECT d, count(*) AS n_candidates,
         |   count(CASE WHEN jaccard >= 0.5 THEN 1 END) AS n_near_dups
         | FROM ijac GROUP BY 1)
         |SELECT doc_id,
         |  CAST(coalesce(agg.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(agg.n_near_dups, 0) AS BIGINT) AS n_near_dups,
         |  CASE WHEN coalesce(agg.n_near_dups, 0) > 0 THEN 'reject'
         |       ELSE 'admit' END AS verdict
         |FROM documents LEFT JOIN agg ON agg.d = doc_id
         |WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    // D13's admission verbatim with ONE added predicate: the index
    // side excludes the tombstoned docs (doc_id % 10 = 3) — the
    // relational image of the merge-on-read anti-join. The delta side
    // (% 10 = 0) is untouched: deletes change what a probe can SEE,
    // never who probes.
    "dedup_tombstone" ->
      s"""WITH ${Dedup.minhashJacCtes},
         |icand AS (
         | SELECT DISTINCT r.doc_id AS d, l.doc_id AS o
         | FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
         |  AND r.doc_id % 10 = 0 AND l.doc_id <> r.doc_id
         | WHERE l.doc_id % 10 <> 3),
         |ijac AS (
         | SELECT c.d,
         |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
         |  len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
         | FROM icand c JOIN sh sa ON sa.doc_id = c.d JOIN sh sb ON sb.doc_id = c.o),
         |agg AS (
         | SELECT d, count(*) AS n_candidates,
         |   count(CASE WHEN jaccard >= 0.5 THEN 1 END) AS n_near_dups
         | FROM ijac GROUP BY 1)
         |SELECT doc_id,
         |  CAST(coalesce(agg.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(agg.n_near_dups, 0) AS BIGINT) AS n_near_dups,
         |  CASE WHEN coalesce(agg.n_near_dups, 0) > 0 THEN 'reject'
         |       ELSE 'admit' END AS verdict
         |FROM documents LEFT JOIN agg ON agg.d = doc_id
         |WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    // the 3-round recurrence unrolled as chained CTEs — each rT is the
    // exact integer image of the Spark loop's round-T frame
    "graph_pagerank_iter" ->
      s"""WITH ${Dedup.minhashJacCtes},
         |p AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r1 AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 + 85 * sum(1000000 // dg.deg) // 100 AS BIGINT) AS r
         |  FROM e JOIN dg USING (src) GROUP BY 1),
         |r2 AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 + 85 * sum(r1.r // dg.deg) // 100 AS BIGINT) AS r
         |  FROM e JOIN dg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
         |r3 AS (
         |  SELECT e.dst AS node,
         |    CAST(150000 + 85 * sum(r2.r // dg.deg) // 100 AS BIGINT) AS r
         |  FROM e JOIN dg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS degree,
         |  CAST(coalesce(r1.r, 150000) AS BIGINT) AS rank_q1,
         |  CAST(coalesce(r2.r, 150000) AS BIGINT) AS rank_q2,
         |  CAST(coalesce(r3.r, 150000) AS BIGINT) AS rank_q3
         |FROM documents d
         |LEFT JOIN dg ON dg.src = d.doc_id
         |LEFT JOIN r1 ON r1.node = d.doc_id
         |LEFT JOIN r2 ON r2.node = d.doc_id
         |LEFT JOIN r3 ON r3.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "graph_pagerank" ->
      s"""WITH ${Dedup.minhashJacCtes},
         |p AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |contrib AS (
         |  SELECT e.dst AS node, 1000000 // dg.deg AS c FROM e JOIN dg USING (src)),
         |s AS (SELECT node, sum(c) AS s FROM contrib GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS degree,
         |  CAST(150000 + 85 * coalesce(s.s, 0) // 100 AS BIGINT) AS rank_q
         |FROM documents d
         |LEFT JOIN s ON s.node = d.doc_id
         |LEFT JOIN dg ON dg.src = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_doc_chunk" ->
      s"""WITH tok AS (
         | SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS tokens FROM documents),
         |blk AS (
         | SELECT doc_id,
         |  unnest([array_to_string(tokens[(i - 1) * 10 + 1 : i * 10], ' ')
         |          FOR i IN range(1, len(tokens) // 10 + 1)]) AS block
         | FROM tok),
         |h AS (
         | SELECT DISTINCT doc_id, ${Dedup.wrapSql(Dedup.rollSql("block"))} AS h
         | FROM blk)
         |SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared_blocks
         |FROM h l JOIN h r ON l.h = r.h AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 ORDER BY a, b""".stripMargin)
}
