package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** D20 — `takedown_cascade` (r12 verdict directive #2): the DOC-KEYED
  * takedown composed corpus-wide. D18/E21/E22 delete from the band
  * index, the code table, and the graph INDEPENDENTLY — but a real
  * right-to-be-forgotten request arrives as document keys and must
  * purge EVERY standing artifact a pipeline derived from those
  * documents: the dedup index, the vector artifacts (the synthetic
  * corpus is 1:1 — `vec_id` IS the document key), the training-shard
  * layout (I16), and the packed-sequence assignment (F12). This
  * operator runs the whole cascade from ONE request frame and returns
  * a per-artifact AUDIT the oracle replays end to end — surviving
  * rows, takedown hits (0, the absence proof, IN the hashed result),
  * a key sum, and a content checksum per artifact. The reference
  * analog is the after-the-fact UPDATE lifecycle (function.py:462-539)
  * taken to its corpus-wide conclusion.
  *
  * The request set is `doc_id % 50 = 7` — its OWN lifecycle, disjoint
  * from D18/E21/E22's `% 10 = 3` takedown batch, so the cascade never
  * perturbs those rows' standing artifacts; each purge writes to the
  * cascade's own root (merge-on-write here, because the cascade IS the
  * compaction — the per-artifact merge-on-read path is D18/E21/E22's
  * and the vacuum rows already prove both lifecycles agree).
  *
  * Per-artifact purge semantics:
  *  - band_index: anti-join signature rows on doc_id (D18's rule).
  *  - pq_codes: anti-join code rows on vec_id, codebook FROZEN (E21's
  *    rule — retraining would invalidate every surviving code).
  *  - graph_edges: bridge repair + re-prune (E22's FreshDiskANN rule,
  *    [[GraphAnn.repairedEdgesFrom]] — damage-proportional).
  *  - shard_layout: DAMAGE-PROPORTIONAL dynamic partition overwrite —
  *    only shards that actually contain a takedown doc are rewritten
  *    (the hash-draw assignment is per-doc, so untouched shards stay
  *    byte-identical; at 100 TB this is the difference between
  *    rewriting ~2% of shards and rewriting the corpus).
  *  - packed_bins: drop the takedown docs from their bins, leaving
  *    the bins UNDERFULL — deliberately NOT a global repack (the LPT
  *    assignment is corpus-global; repacking on every takedown would
  *    be an O(corpus) rewrite, and a trainer tolerates underfull
  *    sequences). The assignment over the full corpus is what the
  *    artifact persisted, so the purge is exactly replayable.
  *
  * Scale shape: one broadcast of the takedown-sized request frame
  * into five artifact-scan anti-joins; the graph repair is
  * O(|lost edges|·degree); the shard rewrite is O(affected shards);
  * nothing is corpus-proportional except the unavoidable single scan
  * of each artifact being purged.
  */
object Takedown {

  private[graft] val takedownMod = 50L
  private[graft] val takedownRem = 7L

  /** Cascade telemetry: (requests, affected shards, graph edges lost). */
  private[graft] val cascadeStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  /** Build every standing artifact instance and run the doc-keyed
    * cascade over it, once per JVM per sf dir.
    */
  private[graft] def cascadeRoot(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"takedown.cascade:$dir") {
      val root = graft.Scratch.dir("takedown_cascade")
      val docs = Tables.documents(spark, dir)
      val embs = Tables.embeddings(spark, dir)
      // the request ledger — everything below is keyed off THESE rows,
      // never off the defining predicate (a real request arrives as keys)
      Tables.write(docs.filter(col("doc_id") % takedownMod === takedownRem)
        .select("doc_id")).mode("overwrite").parquet(s"$root/requests")
      val req = Tables.parquet(spark, s"$root/requests")
      val reqV = req.select(col("doc_id").as("vec_id"))

      // 1. band-signature index (D18's anti-join rule)
      Tables.write(Dedup.bandSignatures(spark, dir)
        .join(broadcast(req), Seq("doc_id"), "left_anti"))
        .mode("overwrite").parquet(s"$root/band_index")

      // 2. PQ code table (E21's rule, frozen codebook)
      Tables.write(Tables.parquet(spark, s"${Similarity.pqIndexPath(spark, dir)}/codes")
        .join(broadcast(reqV), Seq("vec_id"), "left_anti"))
        .mode("overwrite").parquet(s"$root/pq_codes")

      // 3. graph edges (E22's bridge repair, key-driven)
      val (repaired, (lost, _, _)) = GraphAnn.repairedEdgesFrom(
        GraphAnn.edgesArtifact(spark, dir), embs, reqV)
      Tables.write(repaired).mode("overwrite").parquet(s"$root/graph_edges")

      // 4. training shards: build the I16 layout, then rewrite ONLY
      //    the shards a takedown doc lands in — published as a NEW
      //    PartGen generation layer (write-before-flip; r13 ADVICE:
      //    the previous in-place dynamic partition overwrite read and
      //    rewrote the same path in one job and flipped the
      //    session-global overwrite mode — a crash mid-write left a
      //    torn layout with no recovery pointer, and the conf flip
      //    raced concurrent writers. A crash anywhere here leaves
      //    generation 0 serving, complete and unpurged.)
      val shardPath = s"$root/shard_layout"
      Tables.write(docs.select(graft.sources.SourceQueries.shardRouteCols(8): _*))
        .mode("overwrite").partitionBy("shard").parquet(shardPath)
      val layout = Tables.parquet(spark, shardPath)
      val affected = layout.join(broadcast(req), Seq("doc_id"), "left_semi")
        .select("shard").distinct()
      // bounded collect: ≤ the shard count (8 here; the layout's
      // design bound at scale), never the corpus
      val affectedVals = affected.collect().map(_.get(0).toString).sorted
      val nAffected = affectedVals.length.toLong
      if (affectedVals.nonEmpty) {
        PartGen.overrideLayer(shardPath, "shard",
          layout.join(broadcast(affected), Seq("shard"), "left_semi")
            .join(broadcast(req), Seq("doc_id"), "left_anti"))
        // the shadowed gen-0 shards are dead weight — reclaim them
        // (lease/retention-gated; this private root serves no pre-flip
        // readers and holds no leases)
        PartGen.reclaimShadowed(shardPath, "shard")
      }

      // 5. packed-sequence assignment (F12's LPT over the FULL corpus
      //    — that is what the artifact persisted), docs dropped from
      //    their bins without a repack
      Tables.write(Corpus.binAssigned(
          docs.select(col("doc_id"),
            size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
              .cast("long").as("n_tokens")),
          2048L, col("n_tokens").desc, col("doc_id"))
        .join(broadcast(req), Seq("doc_id"), "left_anti"))
        .mode("overwrite").parquet(s"$root/packed_bins")

      cascadeStats.put(dir, (req.count(), nAffected, lost))
      root
    }

  /** One audit row over a purged artifact: rows, takedown hits (the
    * key-joined absence proof — part of the hashed result), key sum,
    * content checksum.
    */
  private def auditRow(name: String, df: DataFrame, req: DataFrame,
                       keyCol: String, keySum: Column,
                       content: Column): DataFrame = {
    val flagged = df.join(
      broadcast(req.select(col("doc_id").as(keyCol), lit(1L).as("_td"))),
      Seq(keyCol), "left")
    flagged.agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(col("_td")), lit(0L)).cast("long").as("takedown_rows"),
      keySum.cast("long").as("key_sum"),
      content.cast("long").as("content_sum"))
      .select(lit(name).as("artifact"), col("n_rows"),
        col("takedown_rows"), col("key_sum"), col("content_sum"))
  }

  def takedownCascade(spark: SparkSession, dir: String): DataFrame = {
    val root = cascadeRoot(spark, dir)
    val req = Tables.parquet(spark, s"$root/requests")

    val band = auditRow("band_index",
      Tables.parquet(spark, s"$root/band_index"), req, "doc_id",
      sum(col("doc_id")),
      expr("bit_xor(sig ^ CAST(band AS BIGINT) ^ doc_id)"))

    val pq = auditRow("pq_codes",
      Tables.parquet(spark, s"$root/pq_codes"), req, "vec_id",
      sum(col("vec_id")),
      sum(expr("aggregate(zip_with(ords, sequence(1, size(ords)), " +
        "(c, i) -> CAST(c AS BIGINT) * CAST(i AS BIGINT)), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x)")))

    // the graph's key lives on BOTH endpoints — flag via two key joins
    val edges = Tables.parquet(spark, s"$root/graph_edges")
    val flaggedE = edges
      .join(broadcast(req.select(col("doc_id").as("src"),
        lit(1L).as("_ts"))), Seq("src"), "left")
      .join(broadcast(req.select(col("doc_id").as("dst"),
        lit(1L).as("_td"))), Seq("dst"), "left")
    val graph = flaggedE.agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(when(coalesce(col("_ts"), lit(0L)) +
        coalesce(col("_td"), lit(0L)) > 0, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("takedown_rows"),
      sum(col("src") + col("dst")).cast("long").as("key_sum"),
      expr("bit_xor(src * 2097152 ^ dst ^ d2)").cast("long").as("content_sum"))
      .select(lit("graph_edges").as("artifact"), col("n_rows"),
        col("takedown_rows"), col("key_sum"), col("content_sum"))

    val shard = auditRow("shard_layout",
      PartGen.read(spark, s"$root/shard_layout", "shard"), req, "doc_id",
      sum(col("doc_id")),
      sum(col("shard").cast("long") * 131L + col("n_tokens")))

    val packed = auditRow("packed_bins",
      Tables.parquet(spark, s"$root/packed_bins"), req, "doc_id",
      sum(col("doc_id")),
      sum(col("bin") * 131L + col("n_tokens")))

    band.unionByName(pq).unionByName(graph).unionByName(shard)
      .unionByName(packed).orderBy("artifact")
  }

  // ---------------- D21: damage-proportional bin TOP-UP ----------------

  private[graft] val topupHoldoutRems = Seq(23L, 31L)
  private[graft] val topupCapacity = 2048L

  /** D21's packing instance (r13 verdict directive #5): D20 leaves
    * taken-down bins UNDERFULL by design (a global repack is an
    * O(corpus) rewrite) — this is the production middle path: refill
    * ONLY the damaged bins from a holdout pool, touching nothing
    * else. The instance packs the non-holdout corpus (holdout =
    * `doc_id % 50 ∈ {23, 31}` — two classes so the pool covers the
    * single takedown class with headroom), takes down `% 50 = 7` BY
    * KEY, and tops up damaged bins with a RUN-LENGTH assignment:
    * damaged bins in bin order carry cumulative-deficit spans
    * [lo, hi) (deficit = tokens each bin lost); holdout docs in
    * (n_tokens desc, doc_id) order carry an EXCLUSIVE running token
    * sum (DistRank — no single-partition window); doc → the span
    * containing its running sum. Each covered bin receives at least
    * its deficit minus one predecessor-overshoot doc; holdout beyond
    * the last span stays in the pool. The refilled partitions publish
    * as a PartGen layer over the bin-partitioned artifact
    * (write-before-flip; untouched bins' FILES are never opened, let
    * alone rewritten — byte-identity by construction, pinned by
    * Round14cSpec), and the shadowed originals reclaim through the
    * lease/retention-gated path.
    *
    * Scale shape: deficits scan only the takedown rows' bins; the
    * damaged-bin collect is bounded by the damage; the holdout layout
    * is one DistRank pass over the pool; the rewrite is O(damaged
    * partitions + topup docs). Nothing is corpus-proportional except
    * the one-time initial pack.
    */
  private[graft] def topupRoot(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"takedown.topup:$dir") {
      import spark.implicits._
      val root = graft.Scratch.dir("takedown_topup")
      val docs = Tables.documents(spark, dir)
      val toks = docs.select(col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
          .cast("long").as("n_tokens"))
      val holdRem = (col("doc_id") % takedownMod).isin(topupHoldoutRems: _*)
      val holdout = toks.filter(holdRem)
      Tables.write(Corpus.binAssigned(toks.filter(!holdRem), topupCapacity,
          col("n_tokens").desc, col("doc_id")))
        .mode("overwrite").partitionBy("bin").parquet(s"$root/packed")
      Tables.write(docs.filter(col("doc_id") % takedownMod === takedownRem)
        .select("doc_id")).mode("overwrite").parquet(s"$root/requests")
      val req = Tables.parquet(spark, s"$root/requests")
      val layout = Tables.parquet(spark, s"$root/packed")
      // deficits: one semi-join scan of the takedown rows, grouped by
      // bin; the collect is bounded by the DAMAGED bin count
      val dmg = layout.join(broadcast(req), Seq("doc_id"), "left_semi")
        .groupBy("bin").agg(sum("n_tokens").as("deficit"))
        .collect()
        .map(r => (r.getAs[Number]("bin").longValue(), r.getLong(1)))
        .sortBy(_._1)
      if (dmg.nonEmpty) {
        // cumulative-deficit spans in bin order
        val spans = dmg.scanLeft((0L, 0L, 0L)) {
          case ((_, _, hi), (b, d)) => (b, hi, hi + d)
        }.drop(1)
        val spansDf = spans.toSeq.toDF("bin", "lo", "hi")
        val laid = DistRank.withRunningSums(holdout,
            Seq((col("n_tokens"), "cum")),
            col("n_tokens").desc, col("doc_id"))
          .withColumn("cum0", col("cum") - col("n_tokens"))
        val topup = laid.join(broadcast(spansDf),
            col("cum0") >= col("lo") && col("cum0") < col("hi"))
          .select(col("doc_id"), col("n_tokens"),
            col("bin").cast("long").as("bin"))
        val damagedVals = dmg.map(_._1)
        val survivors = layout
          .filter(col("bin").isin(damagedVals: _*))
          .join(broadcast(req), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_tokens"),
            col("bin").cast("long").as("bin"))
        PartGen.overrideLayer(s"$root/packed", "bin",
          survivors.unionByName(topup))
        PartGen.reclaimShadowed(s"$root/packed", "bin")
      }
      root
    }

  /** D21 — `takedown_bin_topup`: the per-bin audit of the topped-up
    * pack — doc/token counts, the top-up contribution, the takedown
    * absence proof (0, in the hashed result), and a content checksum
    * per bin, plus a `bin = -1` row accounting for the unassigned
    * holdout remainder (conservation: every holdout doc is either a
    * top-up or in the remainder). The oracle replays the pack, the
    * purge, the deficit spans, the run-length assignment, and the
    * audit from first principles.
    */
  def takedownBinTopup(spark: SparkSession, dir: String): DataFrame = {
    val root = topupRoot(spark, dir)
    val packed = PartGen.read(spark, s"$root/packed", "bin")
    val isHold = (col("doc_id") % takedownMod).isin(topupHoldoutRems: _*)
    val perBin = packed.groupBy(col("bin").cast("long").as("bin")).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum("n_tokens").cast("long").as("n_tokens"),
      count(when(isHold, 1)).cast("long").as("topup_docs"),
      coalesce(sum(when(isHold, col("n_tokens"))), lit(0L))
        .cast("long").as("topup_tokens"),
      count(when(col("doc_id") % takedownMod === takedownRem, 1))
        .cast("long").as("takedown_rows"),
      sum(col("doc_id") * 1000003L + col("n_tokens"))
        .cast("long").as("content_sum"))
    val docs = Tables.documents(spark, dir)
    val holdout = docs
      .select(col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
          .cast("long").as("n_tokens"))
      .filter(isHold)
    val leftover = holdout
      .join(packed.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("topup_docs"),
        coalesce(sum("n_tokens"), lit(0L)).cast("long").as("topup_tokens"),
        lit(0L).as("takedown_rows"),
        coalesce(sum(col("doc_id") * 1000003L + col("n_tokens")), lit(0L))
          .cast("long").as("content_sum"))
      .select(lit(-1L).as("bin"), col("n_docs"), col("n_tokens"),
        col("topup_docs"), col("topup_tokens"), col("takedown_rows"),
        col("content_sum"))
    perBin.unionByName(leftover).orderBy("bin")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "takedown_cascade" -> (takedownCascade _),
    "takedown_bin_topup" -> (takedownBinTopup _))

  /** The oracle replays EVERY purged artifact from first principles —
    * the minhash signature chain, the trained-PQ encode, the full
    * NN-descent build + bridge repair + re-prune, the shard hash draw,
    * and the LPT pack — then audits each exactly as the engine does.
    * One hash mismatch in any artifact's surviving content fails the
    * row.
    */
  /** D21's oracle: pack replay (round-robin by global (n_tokens desc,
    * doc_id) rank — corpus_pack's proven formula), the key purge, the
    * cumulative-deficit spans, the run-length holdout assignment
    * (exclusive running sum → containing span), and the per-bin audit
    * with the conservation row. Pure relational — no recursion, no
    * training — so the replay stays cheap at every rehearsal scale.
    */
  private lazy val binTopupOracle: String = {
    val ws = "'[ \\t\\n\\x0B\\f\\r]+'"
    val hold = s"doc_id % $takedownMod IN (${topupHoldoutRems.mkString(", ")})"
    s"""WITH tk AS (
       | SELECT doc_id,
       |   CAST(len(string_split_regex(trim(text), $ws)) AS BIGINT) AS n_tokens
       | FROM documents),
       |pk AS (SELECT doc_id, n_tokens FROM tk WHERE NOT ($hold)),
       |nb AS (SELECT greatest(CAST((sum(n_tokens) + ${topupCapacity - 1}) // $topupCapacity AS BIGINT), 1) AS nbins FROM pk),
       |asg AS (
       | SELECT doc_id, n_tokens,
       |   (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % nb.nbins AS bin
       | FROM pk CROSS JOIN nb),
       |dmg AS (SELECT bin, sum(n_tokens) AS deficit FROM asg
       |        WHERE doc_id % $takedownMod = $takedownRem GROUP BY 1),
       |spans AS (
       | SELECT bin,
       |  coalesce(sum(deficit) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo,
       |  sum(deficit) OVER (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
       | FROM dmg),
       |hold AS (SELECT doc_id, n_tokens FROM tk WHERE $hold),
       |laid AS (
       | SELECT doc_id, n_tokens,
       |  coalesce(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
       | FROM hold),
       |topup AS (
       | SELECT l.doc_id, l.n_tokens, s.bin FROM laid l JOIN spans s
       | ON l.cum0 >= s.lo AND l.cum0 < s.hi),
       |final AS (
       | SELECT doc_id, n_tokens, bin FROM asg
       | WHERE doc_id % $takedownMod <> $takedownRem
       | UNION ALL SELECT doc_id, n_tokens, bin FROM topup),
       |leftover AS (
       | SELECT l.doc_id, l.n_tokens FROM laid l
       | LEFT JOIN topup t USING (doc_id) WHERE t.doc_id IS NULL)
       |SELECT * FROM (
       | SELECT CAST(bin AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(count(CASE WHEN $hold THEN 1 END) AS BIGINT) AS topup_docs,
       |  CAST(coalesce(sum(CASE WHEN $hold THEN n_tokens END), 0) AS BIGINT) AS topup_tokens,
       |  CAST(count(CASE WHEN doc_id % $takedownMod = $takedownRem THEN 1 END) AS BIGINT) AS takedown_rows,
       |  CAST(sum(doc_id * 1000003 + n_tokens) AS BIGINT) AS content_sum
       | FROM final GROUP BY 1
       | UNION ALL
       | SELECT -1, CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT),
       |  CAST(count(*) AS BIGINT),
       |  CAST(coalesce(sum(n_tokens), 0) AS BIGINT),
       |  CAST(0 AS BIGINT),
       |  CAST(coalesce(sum(doc_id * 1000003 + n_tokens), 0) AS BIGINT)
       | FROM leftover)
       |ORDER BY bin""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "takedown_bin_topup" -> binTopupOracle,
    "takedown_cascade" -> {
      val planes = Dedup.hyperplanes(4, 64)
      val shardH = Dedup.wrapSql(Dedup.rollSql("s"))
      s"""WITH RECURSIVE ${Dedup.minhashJacCtes},
         |${Similarity.pqCodesCtesFor("")},
         |qv AS MATERIALIZED (
         | SELECT vec_id, list_transform(embedding::DOUBLE[],
         |   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
         | FROM embeddings),
         |gb AS (
         | SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  ${Dedup.bucketSql(planes)} AS bucket
         | FROM embeddings),
         |${GraphAnn.buildChainSql("gb", "")},
         |tkept AS (
         | SELECT src, dst FROM e${GraphAnn.descentRounds}
         | WHERE src % $takedownMod <> $takedownRem
         |   AND dst % $takedownMod <> $takedownRem),
         |tbru AS (
         | SELECT src AS u, dst AS v FROM e${GraphAnn.descentRounds}
         | WHERE src % $takedownMod <> $takedownRem
         |   AND dst % $takedownMod = $takedownRem),
         |tbrw AS (
         | SELECT src AS v, dst AS w FROM e${GraphAnn.descentRounds}
         | WHERE src % $takedownMod = $takedownRem
         |   AND dst % $takedownMod <> $takedownRem),
         |tbrid AS (
         | SELECT DISTINCT u AS src, w AS dst FROM tbru JOIN tbrw USING (v)
         | WHERE u <> w),
         |trcand AS (
         | SELECT DISTINCT src, dst FROM (
         |   SELECT src, dst FROM tkept
         |   UNION ALL SELECT src, dst FROM tbrid) t),
         |${GraphAnn.distSql("trcand", "trdd")},
         |tvedg AS MATERIALIZED (
         | SELECT src, dst, d2 FROM (
         |   SELECT src, dst, d2,
         |     row_number() OVER (PARTITION BY src ORDER BY d2, dst) AS rn
         |   FROM trdd)
         | WHERE rn <= ${GraphAnn.degree}),
         |sd0 AS (
         | SELECT doc_id,
         |   CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         |   'shard|' || CAST(doc_id AS VARCHAR) AS s
         | FROM documents),
         |sshard AS (
         | SELECT doc_id, n_tokens, (($shardH % 8) + 8) % 8 AS shard FROM sd0),
         |ppt AS (
         | SELECT doc_id,
         |   CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens
         | FROM documents),
         |ppn AS (SELECT CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT) AS nbins FROM ppt),
         |ppr AS (
         | SELECT doc_id, n_tokens,
         |   (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % ppn.nbins AS bin
         | FROM ppt CROSS JOIN ppn),
         |pqa AS (
         | SELECT vec_id, sum(code * (sub + 1)) AS csum
         | FROM codes WHERE vec_id % $takedownMod <> $takedownRem GROUP BY 1)
         |SELECT * FROM (
         | SELECT 'band_index' AS artifact,
         |   CAST(count(*) AS BIGINT) AS n_rows,
         |   CAST(count(CASE WHEN doc_id % $takedownMod = $takedownRem THEN 1 END) AS BIGINT) AS takedown_rows,
         |   CAST(sum(doc_id) AS BIGINT) AS key_sum,
         |   CAST(bit_xor(xor(xor(sig, CAST(band AS BIGINT)), doc_id)) AS BIGINT) AS content_sum
         | FROM sigs WHERE doc_id % $takedownMod <> $takedownRem
         | UNION ALL
         | SELECT 'pq_codes',
         |   CAST(count(*) AS BIGINT),
         |   CAST(count(CASE WHEN vec_id % $takedownMod = $takedownRem THEN 1 END) AS BIGINT),
         |   CAST(sum(vec_id) AS BIGINT),
         |   CAST(sum(csum) AS BIGINT)
         | FROM pqa
         | UNION ALL
         | SELECT 'graph_edges',
         |   CAST(count(*) AS BIGINT),
         |   CAST(count(CASE WHEN src % $takedownMod = $takedownRem
         |                     OR dst % $takedownMod = $takedownRem THEN 1 END) AS BIGINT),
         |   CAST(sum(src + dst) AS BIGINT),
         |   CAST(bit_xor(xor(xor(src * 2097152, dst), d2)) AS BIGINT)
         | FROM tvedg
         | UNION ALL
         | SELECT 'shard_layout',
         |   CAST(count(*) AS BIGINT),
         |   CAST(count(CASE WHEN doc_id % $takedownMod = $takedownRem THEN 1 END) AS BIGINT),
         |   CAST(sum(doc_id) AS BIGINT),
         |   CAST(sum(shard * 131 + n_tokens) AS BIGINT)
         | FROM sshard WHERE doc_id % $takedownMod <> $takedownRem
         | UNION ALL
         | SELECT 'packed_bins',
         |   CAST(count(*) AS BIGINT),
         |   CAST(count(CASE WHEN doc_id % $takedownMod = $takedownRem THEN 1 END) AS BIGINT),
         |   CAST(sum(doc_id) AS BIGINT),
         |   CAST(sum(bin * 131 + n_tokens) AS BIGINT)
         | FROM ppr WHERE doc_id % $takedownMod <> $takedownRem)
         |ORDER BY artifact""".stripMargin
    })
}
