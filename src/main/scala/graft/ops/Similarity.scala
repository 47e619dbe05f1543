package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps._
import graft.tables.Tables

/** Approximate-nearest-neighbor search — SURVEY.md §2.E.
  *
  * Three tiers over the `embeddings` table:
  *  - E1 brute force (exact baseline): broadcast probe set × full table.
  *  - E2 random-hyperplane LSH: probe only its own sign-bucket.
  *  - E3 IVF: coarse centroids, probe the nearest `nprobe` cells.
  *
  * Scale shape: the probe set is always the small side and broadcast; the
  * big side is partition-parallel and never shuffled except for the final
  * per-probe top-k (a few rows per probe after the window).
  *
  * The vector codec every tier shares is written once here: the cell
  * fold, assignment, nprobe route and audit of the IVF tiers; the PQ
  * encoder, ADC distance tables and ADC top-k; and the persisted index's
  * codebook writer, reader and serve. Ticks come from
  * [[graft.functions.VectorOps.qticks]], sign buckets from
  * [[Dedup.signBucket]].
  */
object Similarity {

  /** A PQ codebook: (codeword vec_id, per-subspace tick slices), sorted
    * by codeword id.
    */
  private[graft] type Codebook = Array[(Long, Array[Array[Long]])]

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))

  private def probesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("q_emb"))

  /** The probe panel of an embeddings frame: every vec_id % 100 = 0. */
  private def panel(embs: DataFrame): DataFrame = embs.filter(col("vec_id") % 100 === 0)

  /** (qid, _q): a probe frame's vectors as tick arrays. */
  private def probeTicks(probes: DataFrame): DataFrame =
    probes.select(col("vec_id").as("qid"), qticks(asDouble(col("embedding"))).as("_q"))

  /** Per-probe top-k by cosine (desc), deterministic id tie-break. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), OracleRound.r4b(col("cos_sim")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** E1 — exact brute-force cosine top-k (the recall-1.0 baseline). */
  def annBruteforce(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
    val scored = e.crossJoin(broadcast(probesOf(e)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("q_emb"), col("emb")).as("cos_sim"))
    topK(scored, k)
  }

  /** E2 — random-hyperplane LSH ANN: 4 sign bits → 16 buckets; a probe
    * scans only its own bucket (~n/16 of the data; more planes at real
    * scale shrink the scanned fraction geometrically at some recall cost).
    */
  def annLsh(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
    val bucket = Dedup.signBucket(col("emb"))
    // hot-bucket guard, lossless: the corpus side is salt-split, and
    // each (tiny) probe is replicated across ALL of its bucket's salt
    // groups — per-task work is one salt group × the bucket's probes,
    // while the top-k still sees the FULL bucket (the declared
    // semantics), identical to the plain join at any scale
    val hot = HotBucket.memoHot(e.withColumn("bucket", bucket),
      Seq("bucket"), s"lsh16.buckets:$dir", HotBucket.defaultCap)
    val bucketed = e.withColumn("bucket", bucket)
      .withColumn("salt", HotBucket.saltCol(hot, Seq("bucket"), col("vec_id")))
    val probes = HotBucket.probeAllSalts(
      bucketed.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("emb").as("q_emb"), col("bucket")),
      hot, Seq("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("bucket", "salt"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("q_emb"), col("emb")).as("cos_sim"))
    topK(scored, k)
  }

  /** The literal-codebook (d2, cell) struct fold every IVF consumer
    * routes and assigns with: per row, one struct per cell holding the
    * exact integer L2 to its tick centroid (the native
    * [[graft.functions.CellFold]]). Lexicographic struct
    * ordering makes `array_min`/`array_sort` the argmin with the
    * lowest-cell tie-break built in. The codebook is |cells|·dim longs
    * collected once (bounded by the coarse-quantizer size, never by n)
    * and inlined, so assignment and routing are pure codegen
    * projections: zero shuffle, zero join on the data side.
    */
  private def cellFoldOf[K](cb: Seq[(K, Array[Long])]): Column => Column = {
    val cellsLit = array(cb.map { case (id, cv) =>
      struct(lit(id).as("cell"), array(cv.map(lit(_)): _*).as("cv"))
    }: _*)
    q => cellFold(q, cellsLit)
  }

  /** The cell of tick vector `q`: the fold's argmin. */
  private def cellOf(fold: Column => Column, q: Column): Column =
    array_min(fold(q)).getField("cell")

  /** The nprobe route: one row per cell among the `nprobe` nearest to
    * tick vector `q`, in (d2, cell) order.
    */
  private def route(fold: Column => Column, q: Column, nprobe: Int): Column =
    explode(transform(slice(array_sort(fold(q)), 1, nprobe), p => p.getField("cell")))

  /** (vec_id, emb, cell): every vector of an embeddings frame in its
    * nearest cell of `fold`.
    */
  private def assignCells(embs: DataFrame, fold: Column => Column): DataFrame =
    embs.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("_q", qticks(col("emb")))
      .select(col("vec_id"), col("emb"), cellOf(fold, col("_q")).as("cell"))

  /** The cell-balance audit: per cell, its occupancy (`n_vecs`), how
    * many probes route to it under the nprobe route (`n_probe_hits`) and
    * the scan mass it therefore contributes (`n_vecs · n_probe_hits`).
    * `probes` carries each probe's tick vector as `_q`.
    */
  private def cellAudit(asg: DataFrame, probes: DataFrame, fold: Column => Column,
                        nprobe: Int): DataFrame = {
    val hist = asg.groupBy("cell")
      .agg(count(lit(1)).cast("long").as("n_vecs"))
    val hits = probes.select(route(fold, col("_q"), nprobe).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).cast("long").as("n_probe_hits"))
    hist.join(hits, Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_probe_hits"), lit(0L)).as("n_probe_hits"),
        (col("n_vecs") * coalesce(col("n_probe_hits"), lit(0L)))
          .as("scan_mass"))
  }

  /** E3 — IVF: coarse quantizer = per-label centroids in QUANTIZED
    * INTEGER space (bigint component sums, round-half tick means via
    * integer division — order-independent, so the codebook replays
    * bit-for-bit in DuckDB, same trick as C13 `ml_kmeans_assign`).
    * The probe side picks its `nprobe` closest cells with the same fold,
    * and the only shuffles in the whole plan are the codebook's
    * k·dim-group aggregate and the final per-probe top-k.
    */
  /** E3's coarse quantizer: the corpus with each vector's label cell —
    * (vec_id, emb, cell) — plus the fold a probe side routes with.
    */
  private[graft] def ivfAssignment(spark: SparkSession,
                                 dir: String): (DataFrame, Column => Column) = {
    // per-(cell, dim) integer centroid ticks: cq = round(sum(q)/cnt),
    // computed as (2·sq + cnt) div (2·cnt) — both engines truncate
    // integer division identically, so cq is exact cross-engine
    val cellRows = Tables.embeddings(spark, dir)
      .select(col("label").as("cell"),
        posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
      .select(col("cell"), col("pos"), qtick(col("x")).as("q"))
      .groupBy("cell", "pos")
      .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
      .select(col("cell"), col("pos"),
        expr("(2 * sq + cnt) div (2 * cnt)").as("cq"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cq")))).as("pairs"))
      .select(col("cell"), expr("transform(pairs, p -> p.cq)").as("cv"))
      .collect()
      .sortBy(_.getInt(0))
    val fold = cellFoldOf(cellRows.map(r => (r.getInt(0), r.getSeq[Long](1).toArray)))
    (assignCells(Tables.embeddings(spark, dir), fold), fold)
  }

  def annCentroidIvf(spark: SparkSession, dir: String, k: Int = 5,
                     nprobe: Int = 2): DataFrame =
    ivfServe(spark, dir, ivfAssignment(spark, dir), k, nprobe)

  /** The IVF serve shared by E3 and E20: probes route to their `nprobe`
    * nearest cells, the routed cells' members are scored by exact
    * cosine, per-probe top-k.
    */
  private def ivfServe(spark: SparkSession, dir: String,
                       assignment: (DataFrame, Column => Column),
                       k: Int, nprobe: Int): DataFrame = {
    val (assigned, fold) = assignment
    val probeCells = probesOf(emb(spark, dir)).withColumn("_q", qticks(col("q_emb")))
      .select(col("qid"), col("q_emb"), route(fold, col("_q"), nprobe).as("cell"))
    val scored = assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("q_emb"), col("emb")).as("cos_sim"))
    topK(scored, k)
  }

  /** E20 — `ann_ivf_trained`: LABEL-FREE IVF. E3's coarse quantizer is
    * the per-label centroid — supervision a 100 TB unlabeled corpus
    * doesn't have (the one residual crutch in the ANN tier). Here the
    * coarse quantizer is TRAINED unsupervised: seeds = the `cells`
    * lowest-vec_id vectors' full 64-dim tick slices, then
    * [[pqTrainRounds]] exact integer-tick Lloyd rounds —
    * [[trainCodebookOf]] REUSED VERBATIM at subs=1 (IVF coarse training
    * IS the degenerate one-subspace case of PQ training), so the
    * training discipline, determinism argument, memo key, and oracle
    * pattern ([[pqTrainCtes]] at sub=0) are shared, not re-derived.
    * Serving is E3's exact shape: probes route to their `nprobe`
    * nearest trained cells (lowest-ordinal tie-break = the oracle's
    * (d2, code) order, ordinals sorted by seed id), members are scored
    * by exact cosine, per-probe top-k. Only the ROUTING differs from
    * E3 — same scan cost (n/cells · nprobe per probe), no label read
    * anywhere in the plan (Round11gSpec pins the scan schema).
    *
    * Scale shape: training is one corpus scan per round with a bounded
    * cells·dim collect (the PQ argument, S=1); the trained codebook is
    * cells·64 longs inlined as a literal, so assignment and routing
    * are pure codegen projections — zero shuffle, zero join on the
    * data side; the only shuffles are training's (cell, dim) partials
    * and the final per-probe top-k window.
    */
  /** E20's trained assignment over an embeddings frame: each vector's
    * cell under the trained one-subspace codebook `cb` — (vec_id, emb,
    * cell) — plus the fold probes route with. Cell identity is the SEED
    * vec_id: seeds are the lowest vec_ids in ascending order, so
    * (d2, seed) ordering is (d2, ordinal) ordering, and the oracle's
    * pqTrainCtes names cells by seed vec_id (`code`) too.
    */
  private[graft] def ivfTrainedAssignmentOf(embs: DataFrame,
      cb: Codebook): (DataFrame, Column => Column) = {
    val fold = cellFoldOf(cb.map { case (seed, slices) => (seed, slices(0)) })
    (assignCells(embs, fold), fold)
  }

  /** [[ivfTrainedAssignmentOf]] over a dir's corpus with its memoized
    * trained codebook. Round11gSpec reads it next to [[ivfAssignment]]
    * to pin that unsupervised routing departs from the label partition.
    */
  private[graft] def ivfTrainedAssignment(spark: SparkSession, dir: String,
      cells: Int): (DataFrame, Column => Column) =
    ivfTrainedAssignmentOf(Tables.embeddings(spark, dir), pqCodebook(spark, dir, 1, cells))

  /** The trained coarse quantizer's cell count — shared by E20, E10's
    * routing, and D12's clustering so the three operators train the
    * SAME codebook (one memo entry) and can never disagree on cells.
    */
  private[graft] val ivfTrainedCells = 8

  /** E26 — `ann_cell_audit` (r12 verdict stretch #9): the IVF
    * CELL-BALANCE audit. E10/E20 route by trained cells, and a HOT
    * cell is IVF's skew failure at scale — every probe whose nprobe
    * set includes it scans the whole cell, so one overfull cell
    * dominates total scan cost exactly like a hot key dominates a
    * shuffle (A27's failure mode, relocated into the index). The audit
    * is D15's discipline applied to the quantizer: per trained cell,
    * the corpus occupancy (`n_vecs`), how many panel probes route to
    * it (`n_probe_hits` — the same nprobe-2 routing E20 serves with),
    * and the SCAN MASS it therefore contributes (`n_vecs ·
    * n_probe_hits` — the rows this cell adds to probe scans; the
    * number an operator would alarm on). Exact-integer throughout, so
    * the oracle replays the trained assignment AND the audit.
    *
    * Scale shape: one groupBy over the assignment (cells rows out),
    * one groupBy over the probe routing (≤ cells rows), one
    * broadcast-size join — the audit costs one corpus scan, same as
    * any serve, and its output is bounded by the cell count.
    */
  def annCellAudit(spark: SparkSession, dir: String,
                   nprobe: Int = 2, cells: Int = ivfTrainedCells): DataFrame = {
    val (assigned, fold) = ivfTrainedAssignment(spark, dir, cells)
    cellAudit(assigned, probeTicks(panel(Tables.embeddings(spark, dir))), fold, nprobe)
      .orderBy("cell")
  }

  /** E28's deterministically SKEWED corpus: vectors with
    * `vec_id % 3 = 0` (except the `cells` seed ids, which stay put so
    * the dense mass has no dedicated seed) scaled by 0.001 — a dense
    * near-origin cluster holding ~a third of the corpus. The real
    * testdata embeddings are near-uniform across trained cells (max
    * 1.14× mean at sf0.01), so the contract row derives the skew it
    * mitigates; the derivation is pure IEEE double arithmetic, so the
    * oracle replays it bit-for-bit (`x * 0.001` on both engines).
    */
  private[graft] def skewedEmbeddings(spark: SparkSession, dir: String,
                                      cells: Int): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => x * when(col("vec_id") % 3 === 0 && col("vec_id") >= cells,
          lit(0.001)).otherwise(lit(1.0))).as("embedding"))

  /** Subcell ids live far above any vec_id so a split can never
    * collide with a surviving cell's seed id.
    */
  private[graft] val cellSplitOffset = 1000000000000L

  /** Lloyd rounds for the per-hot-cell SUB-training — deeper than
    * [[pqTrainRounds]] because the split's whole job is BALANCE: on a
    * near-uniform dense cluster, 2 rounds leave centroidal-Voronoi
    * volumes ~1.8× apart (scan-mass imbalance ~3×, still over the 2×
    * alarm line); 6 rounds converge them enough that the dominating
    * post-split scan mass sits under 2× the mean (Round14bSpec). The
    * cost is bounded by the HOT cells' members only, and the oracle
    * unrolls the same count.
    */
  private[graft] val cellSplitTrainRounds = 6

  /** E28 — `ann_cell_split` (r13 verdict directive #4): the HOT-CELL
    * MITIGATION that consumes E26's audit. E26 surfaces a dominating
    * IVF cell; this operator FIXES it: every cell whose occupancy
    * exceeds 2× the mean is split into `ceil(2 · occupancy / mean)`
    * subcells — a per-cell Lloyd re-train over ONLY that cell's
    * members ([[trainCodebookOf]] verbatim: seeds = the k lowest
    * member ids, [[pqTrainRounds]] exact integer-tick rounds) — so
    * each subcell lands near half the mean occupancy in one pass. Survivor
    * cells, their members, and their centroids are untouched
    * (damage-proportional, A27's salt discipline applied to the
    * quantizer), and probes route over the union of survivor
    * centroids and subcell centroids. The result is the E26 audit
    * run over BOTH quantizers — `phase='pre'` (the skewed corpus's
    * dominating cell) and `phase='post'` (the mitigated cell set) —
    * so the row itself demonstrates the scan-mass drop and the
    * oracle replays skew derivation, training, split training,
    * re-assignment, routing, and both audits end to end.
    *
    * Scale shape: occupancy collect is ≤ cells rows; each hot cell's
    * re-train scans only its own members (Σ hot-cell members ≤ n);
    * the mitigated routing fold is still one literal array (≤
    * cells + Σ k_hc entries); assignment and audits are the same
    * zero-shuffle projections + bounded groupBys as E26.
    */
  def annCellSplit(spark: SparkSession, dir: String,
                   nprobe: Int = 2, cells: Int = ivfTrainedCells): DataFrame =
    graft.QueryCaches.memo(s"sim.cellSplit:$dir:$cells:$nprobe") {
      cellSplitAuditOf(spark, skewedEmbeddings(spark, dir, cells),
        s"cellsplit:$dir", nprobe, cells)
    }

  /** The split-and-re-audit core over an arbitrary embeddings frame —
    * E28's body, also driven directly by the constructed-hot-cluster
    * spec (Round14bSpec) so the mitigation bar (dominating scan mass
    * ≤ 2× mean post-split) is pinned on the corpus shape E26's spec
    * alarms on.
    */
  private[graft] def cellSplitAuditOf(spark: SparkSession, skew: DataFrame,
      tag: String, nprobe: Int, cells: Int,
      probeMod: Long = 100L): DataFrame = {
      val cb = graft.QueryCaches.memo(s"sim.ivfCbOf:$tag:$cells") {
        trainCodebookOf(skew, 1, cells, pqTrainRounds)
      }
      val (assigned, preFold) = ivfTrainedAssignmentOf(skew, cb)
      val asgCached = assigned.persist()
      // bounded driver state: per-cell occupancy, ≤ cells rows
      val histRows = asgCached.groupBy("cell")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val total = histRows.map(_._2).sum
      val hot = histRows.filter { case (_, n) => n * cells > 2L * total }
      val hotSet = hot.map(_._1).toSet
      // per hot cell: k_hc = ceil(2·occupancy/mean) subcells, trained
      // on the cell's members only — each subcell aims at HALF the
      // mean occupancy (A27's over-salting discipline: splitting only
      // to the mean leaves the dense region's scan mass right at the
      // alarm line; the 2× headroom puts the post-split dominating
      // mass safely under 2× the mean)
      val subCbs: Seq[(Long, Array[(Long, Array[Long])])] = hot.toSeq.map {
        case (hc, n) =>
          val kHc = ((2L * n * cells + total - 1) / total).toInt
          val members = asgCached.filter(col("cell") === hc)
            .select(col("vec_id"), col("emb").as("embedding"))
          hc -> trainCodebookOf(members, 1, kHc, cellSplitTrainRounds)
            .map { case (id, slices) => (id + cellSplitOffset, slices(0)) }
      }
      // mitigated assignment: hot members re-assigned to their
      // subcell by the same (d2, id) argmin; survivors untouched
      val reassigned = subCbs.foldLeft(col("cell")) { case (acc, (hc, scb)) =>
        when(col("cell") === hc, cellOf(cellFoldOf(scb), col("_q"))).otherwise(acc)
      }
      val mitigated = asgCached.withColumn("_q", qticks(col("emb")))
        .select(col("vec_id"), reassigned.as("cell"))
      // routing centroids: survivors + subcells
      val routeCb = cb.map { case (id, slices) => (id, slices(0)) }
        .filterNot { case (id, _) => hotSet.contains(id) } ++ subCbs.flatMap(_._2)
      val probes = probeTicks(skew.filter(col("vec_id") % probeMod === 0))
      def audit(phase: String, asg: DataFrame, fold: Column => Column): DataFrame =
        cellAudit(asg, probes, fold, nprobe).select(lit(phase).as("phase"), col("*"))
      audit("pre", asgCached.select("vec_id", "cell"), preFold)
        .unionByName(audit("post", mitigated, cellFoldOf(routeCb)))
        .orderBy("phase", "cell")
  }

  def annIvfTrained(spark: SparkSession, dir: String, k: Int = 5,
                    nprobe: Int = 2, cells: Int = ivfTrainedCells): DataFrame =
    ivfServe(spark, dir, ivfTrainedAssignment(spark, dir, cells), k, nprobe)

  /** E4 — product quantization: 64 dims → 8 subspaces × 8 dims, each
    * subvector coded to its nearest of 16 codewords (the sub-slices of
    * the 16 lowest-id vectors), plus the total quantization error. A
    * vector compresses 64 floats → 8 nibbles; ANN then scans codes with
    * a per-query distance lookup table instead of raw vectors.
    *
    * Classic PQ is rows-only (float L2, trained codebooks); here the
    * geometry lives in QUANTIZED INTEGER space — components floor to
    * 10⁻⁶ ticks, subspace L2 is an exact bigint sum of squared tick
    * diffs — so assignment and error replay bit-for-bit in DuckDB.
    * Scale shape: E3's literal-codebook pattern applied to PQ — the
    * codebook is S·K·D ints, collected ONCE (bounded by k·dim, never by
    * n) and inlined; assignment is then a pure codegen projection, no
    * explode, no join, no shuffle on the data side.
    */
  /** Driver-collected PQ codebook of a dir's corpus, memoized. Bounded
    * by k·dim — the coarse training state every PQ index ships to its
    * scan side.
    */
  private def pqCodebook(spark: SparkSession, dir: String, subs: Int, k: Int): Codebook =
    graft.QueryCaches.memo(s"sim.pqTrainedCb:$dir:$subs:$k") {
      trainCodebookOf(Tables.embeddings(spark, dir), subs, k, pqTrainRounds)
    }

  /** Lloyd training rounds for every PQ codebook (round-11 directive
    * #2). Two rounds already cut total quantization error far below the
    * lowest-id seeds (Round11bSpec pins the strict improvement and its
    * magnitude per SF); each extra round costs one corpus scan on the
    * engine AND one unrolled n·K distance CTE in EVERY PQ oracle, so
    * the count is deliberately small and spec-pinned.
    */
  private[graft] val pqTrainRounds = 2

  /** Subspace `s` of tick vector `q` under `subs` subspaces. */
  private def subv(q: Column, s: Int, subs: Int): Column =
    slice(q, s * (64 / subs) + 1, 64 / subs)

  /** The PQ encoder: per subspace `s`, the fused native
    * [[graft.functions.PqNearest]] argmin of tick vector `q` against the
    * literal codebook, as column `enc_s` = d2·256 + ordinal (decode with
    * [[encOrd]] and [[encD2]]). Ordinals follow codeword ids, so the
    * expression's lowest-ordinal tie-break IS the (d2, code)
    * lowest-code rule.
    */
  private def encode(q: Column, subs: Int, cb: Codebook): Seq[Column] =
    (0 until subs).map(s => pqNearest(subv(q, s, subs), cb.map(_._2(s).toSeq)).as(s"enc_$s"))

  /** The codebook ordinal [[encode]] chose for subspace `s`. */
  private def encOrd(s: Int): Column = col(s"enc_$s").bitwiseAND(lit(255L)).cast("int")

  /** The exact integer L2 to that codeword. */
  private def encD2(s: Int): Column = shiftright(col(s"enc_$s"), 8)

  /** A probe's ADC distance table: dtm[sub][ord] = exact integer L2
    * from tick vector `q`'s subvector to that codeword, one fused
    * native [[graft.functions.PqDists]] row per subspace.
    */
  private def distTable(q: Column, subs: Int, cb: Codebook): Column =
    array((0 until subs).map(s => pqDists(subv(q, s, subs), cb.map(_._2(s).toSeq))): _*)

  /** TRAINED per-subspace PQ codebook (round-11 directive #2): seeds =
    * the k lowest-vec_id vectors' sub-slices (the former codebook,
    * [[codebookOf]]), then [[pqTrainRounds]] exact Lloyd iterations per
    * subspace in INTEGER TICK SPACE — C31's discipline
    * (graft.ml.Ml5.mlKmeansLloyd) applied to the S independent
    * k-means problems PQ actually is: assignment by [[encode]] against
    * the literal codebook (exact bigint L2, lowest-ORDINAL tie-break =
    * the (d2, code) lowest-code rule, ordinals sorted by seed id),
    * update by round-half integer division (2·Σq + n) div (2n)
    * (truncation toward zero — bit-identical to DuckDB's `//`,
    * measured), empty cells keep their previous centroid. Every round
    * is deterministic on any engine/partitioning/merge order, so the
    * ORACLE REPLAYS THE TRAINING ITSELF as unrolled CTE rounds and the
    * driver hash-proves the trained codebook, not just its consumption.
    *
    * Codeword IDENTITY stays the seed's vec_id (stable position, code
    * values unchanged across training) — only the tick VALUES move —
    * so every downstream artifact schema, code array, and tie-break is
    * untouched.
    *
    * Scale shape: per round ONE corpus scan (the assignment is a
    * zero-shuffle literal-codebook projection; the update explode
    * shuffles n·dim 16 B rows into S·K·dim groups with map-side
    * partials) and one bounded S·K·dim-row collect — the same loop
    * trains K in the thousands at 100 TB.
    */
  private[graft] def trainCodebookOf(embs: DataFrame, subs: Int, k: Int,
                                     rounds: Int): Codebook = {
    val dimsPerSub = 64 / subs
    var cb = codebookOf(embs, subs, k)
    val e = embs.select(qticks(asDouble(col("embedding"))).as("_q"))
    (1 to rounds).foreach { _ =>
      val upd = e.select(col("_q") +: encode(col("_q"), subs, cb): _*)
        .select(col("_q"),
          array((0 until subs).map(encOrd): _*).as("_ords"))
        .select(posexplode(col("_q")).as(Seq("pos", "x")), col("_ords"))
        .select(expr(s"pos div $dimsPerSub").cast("int").as("sub"),
          expr(s"pos % $dimsPerSub").cast("int").as("dimin"),
          col("x"), expr(s"_ords[pos div $dimsPerSub]").as("ord"))
        .groupBy("sub", "ord", "dimin")
        .agg(sum("x").as("sq"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
          (2 * r.getLong(3) + r.getLong(4)) / (2 * r.getLong(4))))
        .toMap
      cb = cb.zipWithIndex.map { case ((id, slices), ord) =>
        (id, slices.zipWithIndex.map { case (sl, s) =>
          Array.tabulate(dimsPerSub)(d => upd.getOrElse((s, ord, d), sl(d)))
        })
      }
    }
    cb
  }

  /** (vec_id, codes, ords, d2s): per-subspace nearest codeword (value,
    * codebook ordinal, exact integer L2) as a PURE PROJECTION — one
    * [[encode]] argmin per subspace against the literal codebook,
    * decoded with shifts: zero shuffle, zero join on the data side, and
    * the generated method stays small enough to JIT (the composed
    * array_min-over-structs tree pushed the whole fused stage past the
    * JVM's JIT method limit into interpreted bytecode).
    */
  private def pqAssign(spark: SparkSession, dir: String, subs: Int,
                       k: Int): DataFrame = {
    val cb = pqCodebook(spark, dir, subs, k)
    val codeVals = array(cb.map(c => lit(c._1)): _*)
    // persisted: the coded corpus IS the PQ index — built once, scanned
    // by every probe batch (16 B/vector of state, the whole point of
    // PQ). The cache boundary also keeps the encode loops out of the
    // downstream ADC join stage, which must stay under the JVM's 8 KB
    // JIT method limit to scan codes at speed.
    graft.QueryCaches.memo(s"sim.pqAssign:$dir:$subs:$k") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), qticks(asDouble(col("embedding"))).as("_q"))
        .select(col("vec_id") +: encode(col("_q"), subs, cb): _*)
        .select(col("vec_id"),
          array((0 until subs).map(s => element_at(codeVals, encOrd(s) + 1)): _*).as("codes"),
          array((0 until subs).map(encOrd): _*).as("ords"),
          array((0 until subs).map(encD2): _*).as("d2s"))
        .persist()
    }
  }

  /** Per-probe ADC distance tables for a probe frame + explicit
    * codebook: |probes| rows of S·K longs each, broadcast to the code
    * scan.
    */
  private[graft] def distTablesOf(probes: DataFrame, subs: Int, cb: Codebook): DataFrame =
    probeTicks(probes).select(col("qid"), distTable(col("_q"), subs, cb).as("dtm"))

  /** ADC distance of a coded vector to a probe: S table lookups summed.
    * Fixed-arity `element_at` chain, not zip_with/aggregate — the
    * higher-order functions interpret their lambda per element per row,
    * which dominates the scan×probes hot loop; ElementAt is codegen'd.
    */
  private[graft] def adcDist(subs: Int): Column =
    (0 until subs).map { s =>
      element_at(element_at(col("dtm"), s + 1), element_at(col("ords"), s + 1) + 1)
    }.reduce(_ + _)

  /** (qid, nid, adc_dist) of every (code row, probe) pair but self. */
  private def adcScored(pairs: DataFrame, subs: Int): DataFrame =
    pairs.filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), adcDist(subs).as("adc_dist"))

  /** The ADC rank tail: per-probe top-k by (adc_dist, nid). */
  private def adcTopK(pairs: DataFrame, subs: Int, topK: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("adc_dist"), col("nid"))
    adcScored(pairs, subs)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), col("adc_dist"))
      .orderBy("query_id", "rank")
  }

  def annPq(spark: SparkSession, dir: String, subs: Int = 8, k: Int = 16): DataFrame = {
    val codeCols = (0 until subs).map(i =>
      element_at(col("codes"), i + 1).as(s"code_$i"))
    pqAssign(spark, dir, subs, k)
      .select(col("vec_id") +: codeCols :+
        aggregate(col("d2s"), lit(0L), (acc, x) => acc + x).as("err_q"): _*)
      .orderBy("vec_id")
  }

  /** E5 — ANN search OVER the PQ codes (asymmetric distance
    * computation): each probe precomputes its exact integer L2 to every
    * codeword per subspace — an S·K distance table, here 8·16 longs —
    * and a vector's approximate distance is 8 table lookups summed,
    * never a touch of the raw floats. THE 100 TB retrieval pattern: the
    * corpus is scanned as nibble codes (16 B/vector instead of 256 B),
    * the tables are probe-local broadcast state, and the only shuffle is
    * the final per-probe top-k — WindowGroupLimit bounds it to topK rows
    * per probe per partition before the exchange, so nothing scan-sized
    * ever crosses the wire. Integer end to end ⇒ exact oracle.
    */
  def annPqSearch(spark: SparkSession, dir: String, subs: Int = 8, k: Int = 16,
                  topK: Int = 5): DataFrame =
    adcSearch(pqAssign(spark, dir, subs, k),
      distTablesOf(panel(Tables.embeddings(spark, dir)), subs, pqCodebook(spark, dir, subs, k)),
      subs, topK)

  /** The ADC scan shared by E5 (in-session codes) and every persisted
    * index serve: broadcast the probe distance tables over the code
    * table, sum S lookups per pair, per-probe top-k.
    */
  private[graft] def adcSearch(codes: DataFrame, distTables: DataFrame, subs: Int,
                        topK: Int): DataFrame =
    adcTopK(codes.crossJoin(broadcast(distTables)), subs, topK)

  /** E9 — `ann_index_persist`: the PQ index as a PERSISTED storage
    * artifact, the vector-side analog of C9/C10's model
    * persist-then-reload discipline (the reference exports trained
    * models to object storage and reloads them for serving,
    * straslerj/mlb-win-predictor export_models.py:1-43). E4/E5 rebuild
    * codebook + codes inside every query; a production pipeline builds
    * the index ONCE — codebook (S·K codewords with their tick slices)
    * and the 16 B/vector code table land in parquet — and every probe
    * batch serves from the RELOADED artifact. The search is E5's ADC
    * scan verbatim, so sharing E5's oracle hash-proves the storage
    * round-trip end to end; the corpus side of the search plan reads
    * ONLY the code artifact (Round6Spec pins that the embeddings table
    * appears solely under the probe-side broadcast).
    */
  private[graft] def pqIndexPath(spark: SparkSession, dir: String,
                                 subs: Int = 8, k: Int = 16): String =
    graft.QueryCaches.memo(s"sim.pqIndex:$dir:$subs:$k") {
      val base = graft.Scratch.dir("pqindex")
      writeCodebook(spark, s"$base/codebook", pqCodebook(spark, dir, subs, k))
      // the memoized code frame stays cached — E4/E5/E8 serve from it
      Tables.write(pqAssign(spark, dir, subs, k).select("vec_id", "ords"))
        .mode("overwrite").parquet(s"$base/codes")
      base
    }

  /** The codebook artifact every persisted PQ index stores next to its
    * codes: one (code, subs) row per codeword.
    */
  private[graft] def writeCodebook(spark: SparkSession, path: String, cb: Codebook): Unit = {
    import spark.implicits._
    Tables.write(cb.map { case (code, ticks) => (code, ticks.map(_.toSeq).toSeq) }
      .toSeq.toDF("code", "subs"))
      .mode("overwrite").parquet(path)
  }

  /** The bounded S·K codebook reload every serving path shares — the
    * same shape as the build-time driver state.
    */
  private[graft] def readCodebook(spark: SparkSession, base: String): Codebook =
    Tables.parquet(spark, s"$base/codebook").collect()
      .map(r => (r.getLong(0),
        r.getSeq[scala.collection.Seq[Long]](1).map(_.toArray).toArray))
      .sortBy(_._1)

  /** The probe panel's ADC distance tables against the codebook stored
    * under a persisted index's `base`.
    */
  private[graft] def indexDistTables(spark: SparkSession, dir: String, base: String,
                                     subs: Int): DataFrame =
    distTablesOf(panel(Tables.embeddings(spark, dir)), subs, readCodebook(spark, base))

  /** Serve a persisted PQ index: the ADC search of `codes` with the
    * distance tables of the codebook stored under `base`.
    */
  private[graft] def serveIndex(spark: SparkSession, dir: String, base: String,
                                codes: DataFrame, subs: Int, topK: Int): DataFrame =
    adcSearch(codes, indexDistTables(spark, dir, base, subs), subs, topK)

  def annIndexPersist(spark: SparkSession, dir: String, subs: Int = 8,
                      k: Int = 16, topK: Int = 5): DataFrame = {
    val base = pqIndexPath(spark, dir, subs, k)
    serveIndex(spark, dir, base, Tables.parquet(spark, s"$base/codes"), subs, topK)
  }

  /** Per-dir tombstone sidecar for E21 — the takedown batch
    * (vec_id % 10 = 3, disjoint from the % 100 = 0 probe panel) as its
    * own parquet next to (never inside) E9's artifact.
    */
  private[graft] def pqTombstonePath(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"sim.pqDelete:$dir") {
      val root = graft.Scratch.dir("pqdelete")
      Tables.write(Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 3)
        .select("vec_id")).mode("overwrite").parquet(s"$root/tombstones")
      root
    }

  /** E21 — `ann_index_delete` (r11 verdict directive #2): takedown of
    * vectors from the PERSISTED PQ index — the delete analog of the
    * reference's after-the-fact UPDATE lifecycle (function.py:462-539).
    * The code parquet E9 serves is NEVER rewritten: the delete is a
    * tombstone sidecar, and serving anti-joins codes against it
    * (merge-on-read — Delta/Iceberg's deletion-vector discipline),
    * so a deleted vector can never appear in any serve while the
    * artifact files stay byte-identical. The codebook stays FROZEN
    * (E12's production contract — retraining on a delete would
    * invalidate every surviving code), so re-adding a tombstoned
    * vector is one frozen-codebook re-encode that round-trips to the
    * original code row exactly (Round12Spec pins deletion, absence
    * from serves, and the re-add round-trip).
    *
    * Scale shape: the delete writes O(|tombstones|) rows and zero
    * index bytes; the serve adds one broadcast anti-join on vec_id to
    * E9's scan (the sidecar is takedown-sized); compaction — rewriting
    * the codes without the tombstoned rows — is I15's vacuum job, an
    * optimization never required for correctness.
    */
  def annIndexDelete(spark: SparkSession, dir: String, subs: Int = 8,
                     k: Int = 16, topK: Int = 5): DataFrame =
    pqDeleteServeFrom(spark, dir, pqTombstonePath(spark, dir), subs, k, topK)

  /** The merge-on-read ADC serve over ANY PQ-delete artifact root —
    * generation-resolved ([[ArtifactGen]]): at generation 0 the codes
    * are E9's SHARED artifact (exactly the pre-r13 read) and the
    * sidecar lives at the root; at generation g ≥ 1 both live under
    * the root's `_gen=g` (E24's vacuumed instance). The codebook is
    * frozen across deletes AND vacuums, so every generation serves
    * against the same distance tables.
    */
  private[graft] def pqDeleteServeFrom(spark: SparkSession, dir: String,
                                       root: String, subs: Int = 8,
                                       k: Int = 16, topK: Int = 5): DataFrame = {
    val base = pqIndexPath(spark, dir, subs, k)
    val g = ArtifactGen.current(root)
    val gd = ArtifactGen.dir(root, g)
    val codesPath = if (g == 0) s"$base/codes" else s"$gd/codes"
    val tomb = Tables.parquet(spark, s"$gd/tombstones")
    val codes = Tables.parquet(spark, codesPath)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    serveIndex(spark, dir, base, codes, subs, topK)
  }

  /** E12 — `ann_index_append`: daily-delta maintenance of the persisted
    * PQ index. E9 proves the artifact round-trip; this proves the index
    * STAYS an artifact as the corpus grows — the day's new vectors
    * (vec_id % 10 == 0, held OUT of the base build) are encoded against
    * the FROZEN codebook reloaded from storage and APPENDED to the code
    * parquet, and the search then serves base ∪ delta from the widened
    * artifact. Nothing about the base is touched: no re-train, no
    * re-encode, no rewrite — the append writes O(|delta|) rows and the
    * base code files stay byte-identical (Round7bSpec pins both).
    *
    * The codebook is deliberately NOT retrained on the delta — that is
    * the production contract (retraining would invalidate every stored
    * code and force a full re-encode); codebook drift is monitored by
    * the E11-style recall gate instead, re-run over the widened index
    * in the spec. Because the frozen codebook is the same artifact E9
    * serves, base ∪ delta codes equal the full-corpus encoding and the
    * widened search shares E5/E9's oracle verbatim — hash-proving the
    * append path end to end.
    *
    * Scale shape: the append job scans ONLY the delta (one
    * literal-codebook projection, zero shuffle), appends 16 B/vector,
    * and the serving plan is E9's unchanged — at 100 TB the daily cost
    * is O(delta), never O(corpus).
    */
  private[graft] def buildPqBase(spark: SparkSession, dir: String, base: String,
                                 subs: Int, k: Int): Unit = {
    val cb = pqCodebook(spark, dir, subs, k)
    writeCodebook(spark, s"$base/codebook", cb)
    Tables.write(pqOrdsFor(Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0),
      subs, cb)).mode("overwrite").parquet(s"$base/codes")
  }

  private[graft] def appendPqDelta(spark: SparkSession, dir: String, base: String,
                                   subs: Int): Unit =
    Tables.write(pqOrdsFor(Tables.embeddings(spark, dir).filter(col("vec_id") % 10 === 0),
      subs, readCodebook(spark, base)))
      .mode("append").parquet(s"$base/codes")

  /** (vec_id, ords): an embeddings-shaped frame [[encode]]d against an
    * EXPLICIT codebook — the projection shared by the base build and the
    * frozen-codebook delta append.
    */
  private[graft] def pqOrdsFor(embs: DataFrame, subs: Int, cb: Codebook): DataFrame =
    embs.select(col("vec_id"), qticks(asDouble(col("embedding"))).as("_q"))
      .select(col("vec_id") +: encode(col("_q"), subs, cb): _*)
      .select(col("vec_id"), array((0 until subs).map(encOrd): _*).as("ords"))

  private[graft] def pqAppendIndexPath(spark: SparkSession, dir: String,
                                       subs: Int = 8, k: Int = 16): String =
    graft.QueryCaches.memo(s"sim.pqAppend:$dir:$subs:$k") {
      val base = graft.Scratch.dir("pqappend")
      buildPqBase(spark, dir, base, subs, k)
      appendPqDelta(spark, dir, base, subs)
      base
    }

  def annIndexAppend(spark: SparkSession, dir: String, subs: Int = 8,
                     k: Int = 16, topK: Int = 5): DataFrame = {
    val base = pqAppendIndexPath(spark, dir, subs, k)
    serveIndex(spark, dir, base, Tables.parquet(spark, s"$base/codes"), subs, topK)
  }

  /** E13 — `ann_index_refresh` (round-8 directive #4): ACTING on
    * codebook staleness. E12 freezes the codebook across delta appends
    * and the E11-style gate only DETECTS drift; this operator closes
    * the maintenance loop: measure recall@5 of the frozen-codebook
    * widened index against the exact integer-L2 ground truth on the
    * probe set, and iff it breaches the literal threshold
    * ([[refreshThresholdPct]]%), RETRAIN the codebook over base∪delta
    * and re-encode ONCE into a new index generation (write-once — gen1
    * stays untouched on disk, the serving pointer moves). This is the
    * production index-refresh contract: re-encoding is the expensive
    * admission (one full-corpus projection), paid only when the recall
    * gate proves the frozen codes can no longer serve.
    *
    * Everything the gate consumes is exact integer arithmetic (tick
    * vectors, bigint L2, (dist, nid) tie-breaks), so the STALENESS
    * DECISION itself is deterministic and cross-engine replayable —
    * the oracle recomputes the very same gate in SQL and selects the
    * matching generation's search, which means the driver hash-proves
    * not just the served neighbors but the refresh decision, at every
    * SF. Round8Spec drives the counterfactual: a constructed
    * distribution-shifted delta (disjoint cluster, unseen by the gen1
    * codebook) tanks recall below the gate and the retrained codebook
    * restores it.
    *
    * The gen1 codebook is trained on the k lowest vec_ids OF THE BASE
    * ONLY (unlike E9/E12, whose training window spans the full corpus
    * — that is exactly why THEY never go stale and why this operator
    * must exist). Scale shape: the gate is |probes|·n integer L2 — the
    * standard offline recall estimate, construction-time and memoized
    * once per (dir, subs, k); serving stays E9's unchanged broadcast-
    * ADC scan over 16 B/vector codes.
    */
  private[graft] val refreshThresholdPct = 70L

  /** The SEED codebook: the k LOWEST vec_ids' sub-slices of an
    * arbitrary embeddings frame — round 0 of [[trainCodebookOf]] (and
    * the pre-round-11 production codebook, kept as the baseline the
    * quantization-error spec measures the training gain against).
    */
  private[graft] def codebookOf(embs: DataFrame, subs: Int, k: Int): Codebook = {
    val dimsPerSub = 64 / subs
    embs.orderBy("vec_id").limit(k)
      .select(col("vec_id"), qticks(asDouble(col("embedding"))).as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray.grouped(dimsPerSub).toArray))
      .sortBy(_._1)
  }

  /** Total quantization error (Σ per-vector per-subspace exact integer
    * L2 to its assigned codeword) of an embeddings frame under an
    * explicit codebook — the training-gain witness Round11bSpec pins
    * (trained strictly below the lowest-id seeds, monotone per round).
    */
  private[graft] def quantErrOf(embs: DataFrame, subs: Int, cb: Codebook): Long =
    embs.select(qticks(asDouble(col("embedding"))).as("_q"))
      .select(encode(col("_q"), subs, cb): _*)
      .agg(sum((0 until subs).map(encD2).reduce(_ + _))).head().getLong(0)

  /** The recall gate's numerator/denominator: hits = |ADC-top5 ∩ exact
    * integer-L2 top5| over the %100 probe set, truth = |exact top5|.
    * All-integer, deterministic tie-breaks — the refresh decision
    * replays bit-for-bit in the oracle's SQL gate.
    */
  private[graft] def recallCounts(embs: DataFrame, codes: DataFrame, cb: Codebook,
                                  subs: Int, topK: Int): (Long, Long) = {
    val probes = panel(embs)
    val approx = adcSearch(codes, distTablesOf(probes, subs, cb), subs, topK)
      .select(col("query_id").as("qid"), col("neighbor_id").as("nid"))
    val qarr = probes
      .select(col("vec_id").as("qid"), qticks(asDouble(col("embedding"))).as("qv"))
    val narr = embs
      .select(col("vec_id").as("nid"), qticks(asDouble(col("embedding"))).as("nv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    val exact = narr.crossJoin(broadcast(qarr))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), intSqDist(col("qv"), col("nv")).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "nid")
      .persist()
    val hits = exact.join(approx, Seq("qid", "nid")).count()
    val truth = exact.count()
    exact.unpersist()
    (hits, truth)
  }

  /** Build gen1 (base-trained frozen codebook + E12-style delta
    * append), run the gate, refresh into gen2 iff stale; returns the
    * SERVING generation's directory. Write-once per JVM per (dir,
    * subs, k).
    */
  private[graft] def pqRefreshIndexPath(spark: SparkSession, dir: String,
                                        subs: Int = 8, k: Int = 16): String =
    graft.QueryCaches.memo(s"sim.pqRefresh:$dir:$subs:$k") {
      val root = graft.Scratch.dir("pqrefresh")
      val embs = Tables.embeddings(spark, dir)
      val baseEmbs = embs.filter(col("vec_id") % 10 =!= 0)
      val deltaEmbs = embs.filter(col("vec_id") % 10 === 0)
      // gen1: codebook TRAINED on the base only; delta appends under it
      // frozen
      val cb1 = trainCodebookOf(baseEmbs, subs, k, pqTrainRounds)
      writeCodebook(spark, s"$root/gen1/codebook", cb1)
      Tables.write(pqOrdsFor(baseEmbs, subs, cb1))
        .mode("overwrite").parquet(s"$root/gen1/codes")
      Tables.write(pqOrdsFor(deltaEmbs, subs, cb1))
        .mode("append").parquet(s"$root/gen1/codes")
      val (hits, truth) = recallCounts(embs,
        Tables.parquet(spark, s"$root/gen1/codes"), cb1, subs, topK = 5)
      val stale = hits * 100L < refreshThresholdPct * truth
      if (stale) {
        // retrain over base ∪ delta, re-encode once, new generation
        val cb2 = trainCodebookOf(embs, subs, k, pqTrainRounds)
        writeCodebook(spark, s"$root/gen2/codebook", cb2)
        Tables.write(pqOrdsFor(embs, subs, cb2))
          .mode("overwrite").parquet(s"$root/gen2/codes")
        s"$root/gen2"
      } else s"$root/gen1"
    }

  def annIndexRefresh(spark: SparkSession, dir: String, subs: Int = 8,
                      k: Int = 16, topK: Int = 5): DataFrame = {
    val gen = pqRefreshIndexPath(spark, dir, subs, k)
    serveIndex(spark, dir, gen, Tables.parquet(spark, s"$gen/codes"), subs, topK)
  }

  /** E10 — `ann_ivf_pq`: IVF + PQ composed — the FAISS-IVFADC layout
    * that actually serves billion-vector corpora. The index is ONE
    * projection over the embeddings scan (cell = E20's trained
    * literal-codebook argmin, codes = E4's [[encode]] — zero shuffle,
    * zero join), memoized as the cell-tagged 17 B/vector code list. A
    * probe routes to its `nprobe` nearest cells and runs E5's ADC
    * lookup-table scan ONLY over those cells' code lists: where E5
    * broadcasts its tables against every code, the IVFADC join on
    * `cell` touches nprobe/|cells| of the corpus — the missing
    * composition between E3 (routing, full-width vectors) and E5
    * (compression, full scan). Routing rides E20's LABEL-FREE trained
    * coarse quantizer, so no label is read (Round11gSpec); E3 stays the
    * label-derived contract twin.
    */
  def annIvfPq(spark: SparkSession, dir: String, subs: Int = 8, k: Int = 16,
               nprobe: Int = 2, topK: Int = 5,
               cells: Int = ivfTrainedCells): DataFrame = {
    val (assigned, fold) = ivfTrainedAssignment(spark, dir, cells)
    val cb = pqCodebook(spark, dir, subs, k)
    val idx = graft.QueryCaches.memo(s"sim.ivfPqIndex:$dir:$subs:$k:$cells") {
      assigned.withColumn("_q", qticks(col("emb")))
        .select(Seq(col("vec_id"), col("cell")) ++ encode(col("_q"), subs, cb): _*)
        .select(col("vec_id"), col("cell"),
          array((0 until subs).map(encOrd): _*).as("ords"))
        .persist()
    }
    val probes = probeTicks(panel(Tables.embeddings(spark, dir)))
      .select(col("qid"), route(fold, col("_q"), nprobe).as("cell"),
        distTable(col("_q"), subs, cb).as("dtm"))
    adcTopK(idx.join(broadcast(probes), Seq("cell")), subs, topK)
  }

  /** E11 — `ann_recall_eval`: index-quality evaluation — recall@k of
    * the LSH index (E2) against the exact baseline (E1) per probe, the
    * acceptance gate every ANN deployment runs before serving. Ground
    * truth is computed only for the PROBE SAMPLE (vec_id % 100 — the
    * standard offline recall estimate: the exact side is |probes|·n
    * with the probe set broadcast, never n²), and the hit join is on
    * (query, neighbor) pairs — k-bounded rows per probe.
    */
  /** E14 — `ann_dim_truncate`: recall under DIMENSION truncation — the
    * matryoshka-serving audit ("can we serve at 16 of 64 dims?"): for
    * each prefix length d, exact integer-L2 top-k over the first d
    * tick components, scored against the full-width truth — recall in
    * integer percent (hits·100 div truth), one row per d. The answer
    * every embedding-serving team wants before cutting index memory
    * 4×; E11 audits an ANN structure against truth, this audits the
    * REPRESENTATION itself.
    *
    * Scale shape: an EVAL operator — |probes|·n per prefix with the
    * probe side broadcast (E1's shape, never n², probe set bounded by
    * design); truncation is a `slice` projection on the shared tick
    * frame. All-integer distances and deterministic ties replay the
    * decision exactly.
    */
  def annDimTruncate(spark: SparkSession, dir: String): DataFrame =
    dimTruncateOf(Tables.embeddings(spark, dir), Seq(8, 16, 32, 64), 5)

  /** The data-generic core — the spec plants a frame whose nearest
    * neighbor is decided in the truncated-away dimensions.
    */
  private[graft] def dimTruncateOf(embs: DataFrame, dims: Seq[Int],
                                   topKn: Int): DataFrame = {
    val e = embs.select(col("vec_id"), qticks(asDouble(col("embedding"))).as("v"))
    val probes = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("nid"))
    def topAt(d: Int): DataFrame =
      e.select(col("vec_id").as("nid"), slice(col("v"), 1, d).as("nv"))
        .crossJoin(broadcast(probes.select(col("qid"), slice(col("qv"), 1, d).as("pv"))))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), intSqDist(col("pv"), col("nv")).as("d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topKn)
        .select("qid", "nid")
    // the truth set is |probes|·topK rows — bounded by the eval design,
    // so collect it ONCE and rejoin as a broadcast literal (re-deriving
    // the full-width scan in every per-prefix branch would run the
    // |probes|·n distance plan ~2·|dims| extra times)
    val spark = embs.sparkSession
    import spark.implicits._
    val truthRows = topAt(dims.max)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")))
    require(truthRows.nonEmpty,
      "ann_dim_truncate: empty probe set (no vec_id % 100 == 0 rows)")
    val truth = truthRows.toSeq.toDF("qid", "nid")
    dims.map { d =>
      topAt(d).join(broadcast(truth), Seq("qid", "nid"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(d.toLong).as("dims"), col("hits"),
          lit(truthRows.length.toLong).as("truth"),
          expr(s"hits * 100 div ${truthRows.length}").as("recall_pct"))
    }.reduce(_.union(_)).orderBy("dims")
  }

  def annRecallEval(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val exact = annBruteforce(spark, dir, k).select("query_id", "neighbor_id")
    val approx = annLsh(spark, dir, k).select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_truth"),
        OracleRound.r4b(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth")).as("recall"))
      .orderBy("query_id")
  }

  /** E6 — multi-probe LSH with exact re-rank: a probe searches its own
    * sign-bucket PLUS the 4 Hamming-1 neighbor buckets (flip one plane
    * bit), then candidates are re-ranked by EXACT cosine. This is the
    * production two-stage retrieval shape: multi-probe recovers most of
    * the recall single-bucket LSH (E2) loses at bucket boundaries, for
    * 5/16 of the scan cost instead of 16/16 (brute force E1); at real
    * scale more planes + a fixed probe budget keep the scanned fraction
    * tiny while the exact re-rank stage keeps precision at 1.
    *
    * Plan shape: the probe expansion is an explode of the TINY probe set
    * (5 rows per probe), broadcast against the bucketed corpus — an
    * equi-join on bucket, never a Hamming-distance theta-join; a vector
    * lives in exactly one bucket so no candidate dedup is needed.
    */
  def annRerank(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
    val bucket = Dedup.signBucket(col("emb"))
    // hot-bucket guard, lossless with a probe-side twist: the expanded
    // probes visit FOREIGN buckets (Hamming-1 neighbors), so each
    // expanded row replicates across THAT bucket's salt groups via the
    // shared literal hot list — full-bucket coverage (the re-rank's
    // declared recall), bounded per-task work (see HotBucket)
    val hot = HotBucket.memoHot(e.withColumn("bucket", bucket),
      Seq("bucket"), s"lsh16.buckets:$dir", HotBucket.defaultCap)
    val bucketed = e.withColumn("bucket", bucket)
      .withColumn("salt", HotBucket.saltCol(hot, Seq("bucket"), col("vec_id")))
    val probes = bucketed.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("emb").as("q_emb"), col("bucket"))
    val expanded = HotBucket.probeAllSalts(
      probes.select(col("qid"), col("q_emb"),
        explode(array(col("bucket"),
          col("bucket").bitwiseXOR(lit(1)), col("bucket").bitwiseXOR(lit(2)),
          col("bucket").bitwiseXOR(lit(4)), col("bucket").bitwiseXOR(lit(8))))
          .as("bucket")),
      hot, Seq("bucket"))
    val scored = bucketed.join(broadcast(expanded), Seq("bucket", "salt"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        cosine(col("q_emb"), col("emb")).as("cos_sim"))
    topK(scored, k)
  }

  /** E7 — k-NN GRAPH join: every vector's top-3 neighbors (not just a
    * probe set's — E1/E2/E6 answer queries, this materializes the whole
    * graph). The KNN graph is the backbone primitive for near-dup
    * clustering, diversity sampling, and graph-based ANN indexes
    * (HNSW-style builds start exactly here).
    *
    * Scale shape: candidate pairs are within-bucket only (same LSH
    * sign-bucket — n²/2^planes per bucket, geometrically shrinkable with
    * more planes), ranked by a per-vector window INSIDE the bucket join
    * output. The full n² never materializes; the shuffle key is the
    * bucket, then the per-vector top-k is a bounded window. Isolated
    * vectors (alone in their bucket) drop out — at scale multi-probe
    * (E6) fills those in.
    */
  def annKnnJoin(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(spark, dir)
    // hot-bucket guard on the full self-join, LOSSLESS: every vector's
    // top-3 is defined over its WHOLE bucket, so the triangle split
    // bounds the task without dropping candidate pairs (see HotBucket)
    val bucketed = HotBucket.triangleReplicate(
      e.withColumn("bucket", Dedup.signBucket(col("emb"))),
      Seq("bucket"), col("vec_id"), s"lsh16.buckets:$dir")
    val scored = bucketed.as("l")
      .join(bucketed.as("r"), Seq("bucket", "tmin", "tmax"))
      .filter(HotBucket.trianglePairFilter(col("l.grp"), col("r.grp")))
      .filter(col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.vec_id").as("src"), col("r.vec_id").as("nid"),
        cosine(col("l.emb"), col("r.emb")).as("cos_sim"))
    val w = Window.partitionBy("src").orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("rank"), col("nid").as("neighbor_id"),
        OracleRound.r4b(col("cos_sim")).as("cos_sim"))
      .orderBy("src", "rank")
  }

  /** E8 — PQ search with exact refinement: the ADC scan (E5) over-fetches
    * a 50-candidate shortlist per probe, then the shortlist alone is
    * re-scored with the EXACT (quantized-integer) squared distance over
    * all 64 dims and cut to top-5. This is the production PQ pipeline
    * shape — ADC touches 16 B/vector across the corpus, the expensive
    * exact distance touches only |probes|·50 rows — and every number in
    * both stages is an exact integer, so the whole two-stage pipeline
    * replays bit-for-bit.
    */
  def annPqRefine(spark: SparkSession, dir: String, subs: Int = 8, k: Int = 16,
                  shortlistK: Int = 50, topK: Int = 5): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val wShort = Window.partitionBy("qid").orderBy(col("adc_dist"), col("nid"))
    val short = adcScored(pqAssign(spark, dir, subs, k)
      .crossJoin(broadcast(distTablesOf(panel(embs), subs, pqCodebook(spark, dir, subs, k)))),
        subs)
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlistK)
      .select("qid", "nid")
    // exact stage: the shortlist (|probes|·shortlistK rows) carries its
    // probe's tick vector and is broadcast against the corpus scan; the
    // full-dim distance is one fused IntSqDist per surviving pair — no
    // component explode, no re-aggregation
    val qarr = panel(embs)
      .select(col("vec_id").as("qid"), qticks(asDouble(col("embedding"))).as("qv"))
    val narr = embs
      .select(col("vec_id").as("nid"), qticks(asDouble(col("embedding"))).as("nv"))
    val wTop = Window.partitionBy("qid").orderBy(col("exact_dist"), col("nid"))
    narr.join(broadcast(short.join(broadcast(qarr), Seq("qid"))), Seq("nid"))
      .select(col("qid"), col("nid"), intSqDist(col("qv"), col("nv")).as("exact_dist"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= topK)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), col("exact_dist"))
      .orderBy("query_id", "rank")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_index_persist" -> ((s, d) => annIndexPersist(s, d)),
    "ann_index_append" -> ((s, d) => annIndexAppend(s, d)),
    "ann_index_refresh" -> ((s, d) => annIndexRefresh(s, d)),
    "ann_pq_refine" -> ((s, d) => annPqRefine(s, d)),
    "ann_knn_join" -> ((s, d) => annKnnJoin(s, d)),
    "ann_bruteforce" -> ((s, d) => annBruteforce(s, d)),
    "ann_lsh" -> ((s, d) => annLsh(s, d)),
    "ann_rerank" -> ((s, d) => annRerank(s, d)),
    "ann_centroid_ivf" -> ((s, d) => annCentroidIvf(s, d)),
    "ann_ivf_trained" -> ((s, d) => annIvfTrained(s, d)),
    "ann_cell_audit" -> ((s, d) => annCellAudit(s, d)),
    "ann_cell_split" -> ((s, d) => annCellSplit(s, d)),
    "ann_index_delete" -> ((s, d) => annIndexDelete(s, d)),
    "ann_pq" -> ((s, d) => annPq(s, d)),
    "ann_pq_search" -> ((s, d) => annPqSearch(s, d)),
    "ann_ivf_pq" -> ((s, d) => annIvfPq(s, d)),
    "ann_recall_eval" -> ((s, d) => annRecallEval(s, d)),
    "ann_dim_truncate" -> ((s, d) => annDimTruncate(s, d)))

  /** E3's integer cell-assignment replay as a reusable CTE chain
    * (`ex` → `cells` → `d` → `asg`), shared verbatim by D12
    * `dedup_semantic`'s oracle so the two operators can never disagree
    * about which cell a vector lives in.
    */
  private[ops] val ivfAsgCtes: String =
    """ex AS (
      | SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
      |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
      | FROM embeddings),
      |cells AS (
      | SELECT label AS cell, dim,
      |        CAST((2 * sum(q) + count(*)) // (2 * count(*)) AS BIGINT) AS cq
      | FROM ex GROUP BY 1, 2),
      |d AS (
      | SELECT e.vec_id, c.cell, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
      | FROM ex e JOIN cells c ON c.dim = e.dim GROUP BY 1, 2),
      |asg AS (
      | SELECT vec_id, cell FROM (
      |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |   FROM d)
      | WHERE rn = 1)""".stripMargin

  /** E20's TRAINED cell-assignment replay as a reusable CTE chain
    * (`ex0` → `exiv` → iv-training → `d` → `asg`), shared verbatim by
    * E20 `ann_ivf_trained`, E10 `ann_ivf_pq`, and D12 `dedup_semantic`
    * (r12, r11 verdict directive #4) so the three label-free operators
    * can never disagree about which trained cell a vector lives in.
    * Cell identity = seed vec_id (= `code` in [[pqTrainCtes]]), the
    * same name the engine's [[ivfTrainedAssignment]] now emits; seeds
    * ascend, so (d2, cell) is the engine's lowest-ordinal tie-break.
    */
  private[ops] def ivfTrainedAsgCtesFrom(src: String): String =
    s"""ex0 AS (
       | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
       | FROM $src),
       |exiv AS (SELECT vec_id, 0 AS sub, dim - 1 AS dimin, q FROM ex0),
       |${pqTrainCtes("iv", "exiv", "TRUE", ivfTrainedCells)},
       |d AS (
       | SELECT e.vec_id, c.code AS cell, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
       | FROM exiv e JOIN ivcb c USING (sub, dimin) GROUP BY 1, 2),
       |asg AS (
       | SELECT vec_id, cell FROM (
       |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |   FROM d)
       | WHERE rn = 1)""".stripMargin

  private[ops] lazy val ivfTrainedAsgCtes: String =
    ivfTrainedAsgCtesFrom("embeddings")

  /** E28's oracle: the skew derivation (pure IEEE double multiply),
    * the trained assignment over the skewed corpus
    * ([[ivfTrainedAsgCtesFrom]] verbatim), the hot-cell rule
    * (occupancy·cells > 2·total), the PER-HOT-CELL Lloyd sub-training
    * (pqTrainCtes's round structure with the hot-cell id playing the
    * subspace key and PER-CELL k_hc = ceil(occupancy/mean) seeds),
    * the subcell re-assignment, the mitigated routing, and both
    * audits — the mitigation itself is hash-proven end to end.
    */
  private lazy val cellSplitOracle: String = {
    def splitRound(t: Int): String =
      s"""sptd$t AS (
         | SELECT e.vec_id, e.spl, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
         | FROM exsp e JOIN spcb${t - 1} c ON c.spl = e.spl AND c.dimin = e.dimin
         | GROUP BY 1, 2, 3),
         |spta$t AS (SELECT vec_id, spl, code FROM (
         |  SELECT vec_id, spl, code,
         |   row_number() OVER (PARTITION BY vec_id, spl ORDER BY d2, code) AS rn
         |  FROM sptd$t) WHERE rn = 1),
         |sptu$t AS (
         | SELECT a.spl, a.code, x.dimin,
         |  CAST((2 * sum(x.q) + count(*)) // (2 * count(*)) AS BIGINT) AS cq
         | FROM spta$t a JOIN exsp x ON x.vec_id = a.vec_id AND x.spl = a.spl
         | GROUP BY 1, 2, 3),
         |spcb$t AS MATERIALIZED (
         | SELECT pc.spl, pc.dimin, pc.code, COALESCE(u.cq, pc.cq) AS cq
         | FROM spcb${t - 1} pc LEFT JOIN sptu$t u
         |  ON u.spl = pc.spl AND u.code = pc.code AND u.dimin = pc.dimin)""".stripMargin
    val rounds = (1 to cellSplitTrainRounds).map(splitRound).mkString(",\n")
    val c = ivfTrainedCells
    s"""WITH skew AS MATERIALIZED (
       | SELECT vec_id, list_transform(embedding::DOUBLE[],
       |   x -> x * (CASE WHEN vec_id % 3 = 0 AND vec_id >= $c
       |             THEN CAST(0.001 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END)) AS embedding
       | FROM embeddings),
       |${ivfTrainedAsgCtesFrom("skew")},
       |asgm AS MATERIALIZED (SELECT * FROM asg),
       |ivcbm AS MATERIALIZED (SELECT * FROM ivcb),
       |tot AS MATERIALIZED (SELECT count(*) AS n FROM asgm),
       |hist AS MATERIALIZED (SELECT cell, count(*) AS n_vecs FROM asgm GROUP BY 1),
       |hot AS MATERIALIZED (SELECT h.cell FROM hist h CROSS JOIN tot t
       |        WHERE h.n_vecs * $c > 2 * t.n),
       |exsp AS MATERIALIZED (
       | SELECT e.vec_id, a.cell AS spl, e.dimin, e.q
       | FROM exiv e JOIN asgm a USING (vec_id)
       | WHERE a.cell IN (SELECT cell FROM hot)),
       |sps AS (SELECT vec_id, spl FROM (
       |  SELECT m.vec_id, m.spl,
       |   row_number() OVER (PARTITION BY m.spl ORDER BY m.vec_id) AS rn,
       |   (2 * h.n_vecs * $c + t.n - 1) // t.n AS khc
       |  FROM (SELECT DISTINCT vec_id, spl FROM exsp) m
       |  JOIN hist h ON h.cell = m.spl CROSS JOIN tot t)
       | WHERE rn <= khc),
       |spcb0 AS MATERIALIZED (SELECT e.spl, e.dimin, e.vec_id AS code, e.q AS cq
       |          FROM exsp e JOIN sps s ON s.vec_id = e.vec_id AND s.spl = e.spl),
       |$rounds,
       |spd AS (SELECT e.vec_id, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
       |        FROM exsp e JOIN spcb$cellSplitTrainRounds c
       |         ON c.spl = e.spl AND c.dimin = e.dimin
       |        GROUP BY 1, 2),
       |spasg AS (SELECT vec_id, code FROM (
       |  SELECT vec_id, code,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
       |  FROM spd) WHERE rn = 1),
       |masg AS (
       | SELECT vec_id, cell FROM asgm WHERE cell NOT IN (SELECT cell FROM hot)
       | UNION ALL
       | SELECT vec_id, $cellSplitOffset + code AS cell FROM spasg),
       |mcb AS (
       | SELECT code AS cell, dimin, cq FROM ivcbm
       | WHERE code NOT IN (SELECT cell FROM hot)
       | UNION ALL
       | SELECT $cellSplitOffset + code AS cell, dimin, cq FROM spcb$cellSplitTrainRounds),
       |pd AS (SELECT e.vec_id AS qid, m.cell, sum((e.q - m.cq) * (e.q - m.cq)) AS d2
       |       FROM exiv e JOIN mcb m ON m.dimin = e.dimin
       |       WHERE e.vec_id % 100 = 0 GROUP BY 1, 2),
       |ppc AS (SELECT qid, cell FROM (
       |  SELECT qid, cell, row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
       |  FROM pd) WHERE rn <= 2),
       |phits AS (SELECT cell, count(*) AS n_probe_hits FROM ppc GROUP BY 1),
       |mhist AS (SELECT cell, count(*) AS n_vecs FROM masg GROUP BY 1),
       |prepc AS (SELECT vec_id AS qid, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |  FROM d WHERE vec_id % 100 = 0) WHERE rn <= 2),
       |prehits AS (SELECT cell, count(*) AS n_probe_hits FROM prepc GROUP BY 1)
       |SELECT * FROM (
       | SELECT 'pre' AS phase, h.cell, CAST(h.n_vecs AS BIGINT) AS n_vecs,
       |   CAST(coalesce(t.n_probe_hits, 0) AS BIGINT) AS n_probe_hits,
       |   CAST(h.n_vecs * coalesce(t.n_probe_hits, 0) AS BIGINT) AS scan_mass
       | FROM hist h LEFT JOIN prehits t USING (cell)
       | UNION ALL
       | SELECT 'post', m.cell, CAST(m.n_vecs AS BIGINT),
       |   CAST(coalesce(t.n_probe_hits, 0) AS BIGINT),
       |   CAST(m.n_vecs * coalesce(t.n_probe_hits, 0) AS BIGINT)
       | FROM mhist m LEFT JOIN phits t USING (cell))
       |ORDER BY phase, cell""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ann_cell_split" -> cellSplitOracle,
    // integer-exact IVF replay: same 10^-6 tick quantization, same
    // round-half integer-division centroid ticks, same (d2, cell)
    // assignment tie-break; candidate scoring shares E1's cosine shape
    "ann_centroid_ivf" ->
      s"""WITH $ivfAsgCtes,
        |pc AS (
        | SELECT vec_id AS qid, cell FROM (
        |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |   FROM d WHERE vec_id % 100 = 0)
        | WHERE rn <= 2),
        |scored AS (
        | SELECT p.qid, a.vec_id AS nid,
        |        list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS cos_sim
        | FROM asg a JOIN pc p USING (cell)
        | JOIN embeddings qe ON qe.vec_id = p.qid
        | JOIN embeddings ne ON ne.vec_id = a.vec_id
        | WHERE a.vec_id <> p.qid)
        |SELECT qid AS query_id, rank, nid AS neighbor_id,
        | floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // E20: the SAME serve replay as ann_centroid_ivf, with the routing
    // cells swapped from per-label centroids to the subs=1 Lloyd-trained
    // codebook — pqTrainCtes REUSED at sub=0, so the driver hash-proves
    // the unsupervised coarse training itself (cell identity = seed
    // vec_id = the engine's ordinal order, making (d2, code) the exact
    // lowest-ordinal tie-break the literal-array argmin applies)
    // E26: the trained-assignment chain REUSED (cells can never
    // disagree with E20/E10/D12), then the occupancy histogram, the
    // nprobe-2 probe routing, and the per-cell scan mass — the skew
    // audit itself is hash-proven, not just the serves it predicts
    "ann_cell_audit" ->
      s"""WITH $ivfTrainedAsgCtes,
         |hist AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY 1),
         |pc AS (
         | SELECT vec_id AS qid, cell FROM (
         |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |   FROM d WHERE vec_id % 100 = 0)
         | WHERE rn <= 2),
         |hits AS (SELECT cell, count(*) AS n_probe_hits FROM pc GROUP BY 1)
         |SELECT h.cell, CAST(h.n_vecs AS BIGINT) AS n_vecs,
         | CAST(coalesce(t.n_probe_hits, 0) AS BIGINT) AS n_probe_hits,
         | CAST(h.n_vecs * coalesce(t.n_probe_hits, 0) AS BIGINT) AS scan_mass
         |FROM hist h LEFT JOIN hits t USING (cell)
         |ORDER BY h.cell""".stripMargin,
    "ann_ivf_trained" ->
      s"""WITH $ivfTrainedAsgCtes,
         |pc AS (
         | SELECT vec_id AS qid, cell FROM (
         |   SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |   FROM d WHERE vec_id % 100 = 0)
         | WHERE rn <= 2),
         |scored AS (
         | SELECT p.qid, a.vec_id AS nid,
         |        list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) AS cos_sim
         | FROM asg a JOIN pc p USING (cell)
         | JOIN embeddings qe ON qe.vec_id = p.qid
         | JOIN embeddings ne ON ne.vec_id = a.vec_id
         | WHERE a.vec_id <> p.qid)
         |SELECT qid AS query_id, rank, nid AS neighbor_id,
         | floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_bruteforce" ->
      """WITH probes AS (
        |  SELECT vec_id AS qid, embedding AS q_emb FROM embeddings WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT p.qid, e.vec_id AS nid,
        |         list_cosine_similarity(p.q_emb::DOUBLE[], e.embedding::DOUBLE[]) AS cos_sim
        |  FROM probes p CROSS JOIN embeddings e WHERE e.vec_id <> p.qid)
        |SELECT qid AS query_id, rank, nid AS neighbor_id, floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
        |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM scored)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // same deterministic hyperplane literals as the Spark plan (see
    // Dedup.bucketSql); probes search only their own sign-bucket
    "ann_knn_join" -> {
      val planes = Dedup.hyperplanes(4, 64)
      s"""WITH b AS (
         | SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  ${Dedup.bucketSql(planes)} AS bucket
         | FROM embeddings),
         |scored AS (
         | SELECT l.vec_id AS src, r.vec_id AS nid,
         |  list_cosine_similarity(l.emb, r.emb) AS cos_sim
         | FROM b l JOIN b r USING (bucket) WHERE l.vec_id <> r.vec_id)
         |SELECT src, rank, nid AS neighbor_id,
         | floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= 3 ORDER BY src, rank""".stripMargin
    },
    "ann_rerank" -> {
      val planes = Dedup.hyperplanes(4, 64)
      s"""WITH b AS (
         | SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  ${Dedup.bucketSql(planes)} AS bucket
         | FROM embeddings),
         |probes AS (
         | SELECT vec_id AS qid, emb AS q_emb, bucket FROM b WHERE vec_id % 100 = 0),
         |pexp AS (
         | SELECT qid, q_emb, unnest([bucket, xor(bucket, 1), xor(bucket, 2),
         |                            xor(bucket, 4), xor(bucket, 8)]) AS bucket
         | FROM probes),
         |scored AS (
         | SELECT p.qid, e.vec_id AS nid,
         |  list_cosine_similarity(p.q_emb, e.emb) AS cos_sim
         | FROM b e JOIN pexp p USING (bucket) WHERE e.vec_id <> p.qid)
         |SELECT qid AS query_id, rank, nid AS neighbor_id,
         | floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    "ann_lsh" -> {
      val planes = Dedup.hyperplanes(4, 64)
      s"""WITH b AS (
         | SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  ${Dedup.bucketSql(planes)} AS bucket
         | FROM embeddings),
         |probes AS (
         | SELECT vec_id AS qid, emb AS q_emb, bucket FROM b WHERE vec_id % 100 = 0),
         |scored AS (
         | SELECT p.qid, e.vec_id AS nid,
         |  list_cosine_similarity(p.q_emb, e.emb) AS cos_sim
         | FROM b e JOIN probes p USING (bucket) WHERE e.vec_id <> p.qid)
         |SELECT qid AS query_id, rank, nid AS neighbor_id,
         | floor((cos_sim) * 10000 + 0.5) / 10000 AS cos_sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         |      FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // integer-exact PQ replay: same 10^-6 tick quantization, same
    // bigint L2, same (d2, code) tie-break
    "ann_pq" -> {
      val codeSelects = (0 until 8).map(i =>
        s"max(CASE WHEN sub = $i THEN code END) AS code_$i").mkString(",\n ")
      s"""WITH ex0 AS (
         | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
         | FROM embeddings),
         |ex AS (SELECT vec_id, CAST((dim - 1) // 8 AS INT) AS sub,
         |        (dim - 1) % 8 AS dimin, q FROM ex0),
         |${pqTrainCtes("", "ex", "TRUE", 16)},
         |d AS (SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
         |      FROM ex e JOIN cb c USING (sub, dimin) GROUP BY 1, 2, 3),
         |best AS (SELECT vec_id, sub, code, d2,
         |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d)
         |SELECT vec_id,
         | $codeSelects,
         | CAST(sum(d2) AS BIGINT) AS err_q
         |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    // ADC replay: same codes, probe-side distance tables, 8 lookups
    // summed — integer end to end
    "ann_pq_refine" ->
      s"""WITH ex0 AS (
         | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
         | FROM embeddings),
         |ex AS (SELECT vec_id, CAST((dim - 1) // 8 AS INT) AS sub,
         |        (dim - 1) % 8 AS dimin, q FROM ex0),
         |${pqTrainCtes("", "ex", "TRUE", 16)},
         |d AS (SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
         |      FROM ex e JOIN cb c USING (sub, dimin) GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, sub, code FROM (
         |  SELECT vec_id, sub, code,
         |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d)
         | WHERE rn = 1),
         |dt AS (SELECT p.vec_id AS qid, p.sub, c.code,
         |        sum((p.q - c.cq) * (p.q - c.cq)) AS dt
         |       FROM ex p JOIN cb c USING (sub, dimin)
         |       WHERE p.vec_id % 100 = 0 GROUP BY 1, 2, 3),
         |adc AS (SELECT d.qid, k.vec_id AS nid, sum(d.dt) AS adc_dist
         |        FROM codes k JOIN dt d ON d.sub = k.sub AND d.code = k.code
         |         AND k.vec_id <> d.qid
         |        GROUP BY 1, 2),
         |short AS (SELECT qid, nid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc_dist, nid) AS srank FROM adc)
         | WHERE srank <= 50),
         |exact AS (SELECT s.qid, s.nid,
         |        CAST(sum((p.q - nv.q) * (p.q - nv.q)) AS BIGINT) AS exact_dist
         |        FROM short s
         |        JOIN ex p ON p.vec_id = s.qid
         |        JOIN ex nv ON nv.vec_id = s.nid AND nv.sub = p.sub AND nv.dimin = p.dimin
         |        GROUP BY 1, 2)
         |SELECT qid AS query_id, rank, nid AS neighbor_id, exact_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY exact_dist, nid) AS rank FROM exact)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // E9 reruns E5's search over the RELOADED index — sharing the oracle
    // verbatim hash-proves the artifact round-trip lost nothing
    "ann_index_persist" -> pqSearchOracle,
    // the frozen codebook makes base∪delta codes ≡ the full-corpus
    // encoding, so the widened search replays E5's oracle verbatim
    "ann_index_append" -> pqSearchOracle,
    "ann_pq_search" -> pqSearchOracle,
    // E13 replays the WHOLE refresh decision: both generations' ADC
    // searches, the exact-L2 truth, the integer recall gate, and the
    // branch — the driver hash-proves the staleness decision itself
    "ann_index_refresh" -> refreshOracle,
    // E21: E5/E9's oracle with ONE added predicate — the code side
    // excludes the tombstoned vectors (the merge-on-read anti-join's
    // relational image); training and probe tables verbatim, because
    // the codebook is frozen across deletes
    "ann_index_delete" -> pqSearchOracleFor(" AND vec_id % 10 <> 3"),
    // E1's exact CTEs (x-prefix) + E2's bucketed CTEs (l-prefix), then
    // the per-probe hit join — the same rank/tie rules both oracles
    // already hash-prove individually
    "ann_recall_eval" -> {
      val planes = Dedup.hyperplanes(4, 64)
      s"""WITH b AS (
         | SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  ${Dedup.bucketSql(planes)} AS bucket
         | FROM embeddings),
         |xprobes AS (
         | SELECT vec_id AS qid, embedding::DOUBLE[] AS q_emb FROM embeddings
         | WHERE vec_id % 100 = 0),
         |xscored AS (
         | SELECT p.qid, e.vec_id AS nid,
         |  list_cosine_similarity(p.q_emb, e.embedding::DOUBLE[]) AS cos
         | FROM xprobes p CROSS JOIN embeddings e WHERE e.vec_id <> p.qid),
         |exact AS (
         | SELECT qid, nid FROM (SELECT *, row_number() OVER (
         |   PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM xscored)
         | WHERE rk <= 5),
         |lprobes AS (SELECT vec_id AS qid, emb AS q_emb, bucket FROM b WHERE vec_id % 100 = 0),
         |lscored AS (
         | SELECT p.qid, e.vec_id AS nid,
         |  list_cosine_similarity(p.q_emb, e.emb) AS cos
         | FROM b e JOIN lprobes p USING (bucket) WHERE e.vec_id <> p.qid),
         |approx AS (
         | SELECT qid, nid FROM (SELECT *, row_number() OVER (
         |   PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM lscored)
         | WHERE rk <= 5),
         |h AS (SELECT e.qid, count(*) AS n_hits
         |      FROM exact e JOIN approx a ON a.qid = e.qid AND a.nid = e.nid
         |      GROUP BY 1),
         |t AS (SELECT qid, count(*) AS n_truth FROM exact GROUP BY 1)
         |SELECT t.qid AS query_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(n_truth AS BIGINT) AS n_truth,
         |  floor((CAST(coalesce(h.n_hits, 0) AS DOUBLE) / n_truth) * 10000 + 0.5) / 10000 AS recall
         |FROM t LEFT JOIN h USING (qid) ORDER BY query_id""".stripMargin
    },
    // per-prefix exact integer-L2 top-k from the component explode
    // (ivfAsgCtes' tick replay), truth = the widest prefix
    "ann_dim_truncate" -> {
      val dims = Seq(8, 16, 32, 64)
      val tops = dims.map { d =>
        s"""dist_$d AS (
           | SELECT p.qid, e.vec_id AS nid, sum((p.q - e.q) * (p.q - e.q)) AS d2
           | FROM pe p JOIN ex e ON p.dim = e.dim AND e.vec_id <> p.qid
           | WHERE p.dim <= $d GROUP BY 1, 2),
           |top_$d AS (
           | SELECT qid, nid FROM (
           |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d2, nid) AS rn
           |  FROM dist_$d) WHERE rn <= 5)""".stripMargin
      }.mkString(",\n")
      val rows = dims.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dims,
           |  (SELECT CAST(count(*) AS BIGINT) FROM top_$d t
           |   JOIN top_${dims.max} u ON t.qid = u.qid AND t.nid = u.nid) AS hits,
           |  (SELECT CAST(count(*) AS BIGINT) FROM top_${dims.max}) AS truth""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ex AS (
         | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
         | FROM embeddings),
         |pe AS (SELECT vec_id AS qid, dim, q FROM ex WHERE vec_id % 100 = 0),
         |$tops,
         |res AS (
         |$rows)
         |SELECT dims, hits, truth, hits * 100 // truth AS recall_pct
         |FROM res ORDER BY dims""".stripMargin
    },
    // IVFADC replay: E20's TRAINED assignment CTEs verbatim (r12 —
    // label-free routing, r11 verdict directive #4), E5's PQ
    // encode/table CTEs with a `p` prefix, joined through asg+pc so
    // the ADC scan sees ONLY the probed cells' code lists
    "ann_ivf_pq" ->
      s"""WITH $ivfTrainedAsgCtes,
         |pex AS (SELECT vec_id, CAST((dim - 1) // 8 AS INT) AS sub,
         |        (dim - 1) % 8 AS dimin, q FROM ex0),
         |${pqTrainCtes("p", "pex", "TRUE", 16)},
         |pd AS (SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
         |       FROM pex e JOIN pcb c USING (sub, dimin) GROUP BY 1, 2, 3),
         |pcodes AS (SELECT vec_id, sub, code FROM (
         |  SELECT vec_id, sub, code,
         |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM pd)
         | WHERE rn = 1),
         |pc AS (SELECT vec_id AS qid, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM d WHERE vec_id % 100 = 0)
         | WHERE rn <= 2),
         |pdt AS (SELECT p.vec_id AS qid, p.sub, c.code,
         |        sum((p.q - c.cq) * (p.q - c.cq)) AS dt
         |       FROM pex p JOIN pcb c USING (sub, dimin)
         |       WHERE p.vec_id % 100 = 0 GROUP BY 1, 2, 3),
         |adc AS (SELECT pc.qid, k.vec_id AS nid, CAST(sum(t.dt) AS BIGINT) AS adc_dist
         |        FROM pcodes k
         |        JOIN asg a ON a.vec_id = k.vec_id
         |        JOIN pc ON pc.cell = a.cell
         |        JOIN pdt t ON t.qid = pc.qid AND t.sub = k.sub AND t.code = k.code
         |        WHERE k.vec_id <> pc.qid
         |        GROUP BY 1, 2)
         |SELECT qid AS query_id, rank, nid AS neighbor_id, adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY adc_dist, nid) AS rank FROM adc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  /** Unrolled per-subspace Lloyd TRAINING as CTEs (C31's oracle
    * pattern, `graft.ml.Ml5`): seeds = the k lowest vec_ids passing
    * `trainWhere` (alias `e`), then [[pqTrainRounds]] exact integer
    * rounds over the same subset — assignment by (d2, code) argmin,
    * update by the round-half `//` division (truncation toward zero,
    * bit-identical to the engine's Scala `/` — measured), empty cells
    * carried by COALESCE. Final trained codebook exposed as `${p}cb`
    * (sub, dimin, code, cq) with code = seed vec_id, exactly the frame
    * the pre-round-11 oracles read from `WHERE vec_id < 16` — so every
    * consuming CTE chain is UNCHANGED and the driver now hash-proves
    * the training itself. Expects an ex-shaped CTE `$ex`
    * (vec_id, sub, dimin, q).
    */
  private[ops] def pqTrainCtes(p: String, ex: String, trainWhere: String,
                          k: Int): String = {
    def round(t: Int): String =
      s"""${p}td$t AS (
         | SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
         | FROM $ex e JOIN ${p}cb${t - 1} c USING (sub, dimin)
         | WHERE $trainWhere GROUP BY 1, 2, 3),
         |${p}ta$t AS (SELECT vec_id, sub, code FROM (
         |  SELECT vec_id, sub, code,
         |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |  FROM ${p}td$t) WHERE rn = 1),
         |${p}tu$t AS (
         | SELECT a.sub, a.code, x.dimin,
         |  CAST((2 * sum(x.q) + count(*)) // (2 * count(*)) AS BIGINT) AS cq
         | FROM ${p}ta$t a JOIN $ex x ON x.vec_id = a.vec_id AND x.sub = a.sub
         | GROUP BY 1, 2, 3),
         |${p}cb$t AS (
         | SELECT pc.sub, pc.dimin, pc.code, COALESCE(u.cq, pc.cq) AS cq
         | FROM ${p}cb${t - 1} pc LEFT JOIN ${p}tu$t u
         |  ON u.sub = pc.sub AND u.code = pc.code AND u.dimin = pc.dimin)""".stripMargin
    val rounds = (1 to pqTrainRounds).map(round).mkString(",\n")
    s"""${p}ts AS (SELECT vec_id FROM (
       |  SELECT DISTINCT e.vec_id FROM $ex e WHERE $trainWhere)
       | ORDER BY vec_id LIMIT $k),
       |${p}cb0 AS (SELECT e.sub, e.dimin, e.vec_id AS code, e.q AS cq
       |            FROM $ex e JOIN ${p}ts USING (vec_id)),
       |$rounds,
       |${p}cb AS (SELECT sub, dimin, code, cq FROM ${p}cb$pqTrainRounds)""".stripMargin
  }

  /** One generation's PQ search CTE chain against the codebook TRAINED
    * on the rows `trainWhere` admits — `p` prefixes every CTE name so
    * two generations coexist in E13's gate oracle.
    */
  private def genSearchCtes(p: String, trainWhere: String): String =
    s"""${pqTrainCtes(p, "ex", trainWhere, 16)},
       |${p}d AS (SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
       |          FROM ex e JOIN ${p}cb c USING (sub, dimin) GROUP BY 1, 2, 3),
       |${p}codes AS (SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM ${p}d)
       | WHERE rn = 1),
       |${p}dt AS (SELECT pr.vec_id AS qid, pr.sub, c.code,
       |        sum((pr.q - c.cq) * (pr.q - c.cq)) AS dt
       |       FROM ex pr JOIN ${p}cb c USING (sub, dimin)
       |       WHERE pr.vec_id % 100 = 0 GROUP BY 1, 2, 3),
       |${p}adc AS (SELECT d.qid, k.vec_id AS nid, CAST(sum(d.dt) AS BIGINT) AS adc_dist
       |        FROM ${p}codes k JOIN ${p}dt d ON d.sub = k.sub AND d.code = k.code
       |         AND k.vec_id <> d.qid
       |        GROUP BY 1, 2),
       |${p}r AS (SELECT qid, nid, adc_dist,
       |  row_number() OVER (PARTITION BY qid ORDER BY adc_dist, nid) AS rank
       |  FROM ${p}adc)""".stripMargin

  /** E13's oracle: gen1 (base-trained codebook over the widened codes)
    * and gen2 (retrained over base∪delta) searches, the exact
    * integer-L2 top-5 truth, the integer recall gate, and the branch.
    */
  private lazy val refreshOracle: String =
    s"""WITH ex0 AS (
       | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
       | FROM embeddings),
       |ex AS (SELECT vec_id, CAST((dim - 1) // 8 AS INT) AS sub,
       |        (dim - 1) % 8 AS dimin, q FROM ex0),
       |${genSearchCtes("g1", "e.vec_id % 10 <> 0")},
       |${genSearchCtes("g2", "TRUE")},
       |xv AS MATERIALIZED (
       | SELECT vec_id, list_transform(embedding::DOUBLE[],
       |   x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
       | FROM embeddings),
       |xq AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
       |        list_sum(list_transform(list_zip(q.q, n.q),
       |          z -> (z[1] - z[2]) * (z[1] - z[2]))) AS xd2
       |       FROM xv q CROSS JOIN xv n
       |       WHERE q.vec_id % 100 = 0 AND n.vec_id <> q.vec_id),
       |x5 AS (SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |   row_number() OVER (PARTITION BY qid ORDER BY xd2, nid) AS rank FROM xq)
       | WHERE rank <= 5),
       |gate AS (SELECT
       |  ((SELECT count(*) FROM x5 JOIN (SELECT qid, nid FROM g1r WHERE rank <= 5) a
       |     USING (qid, nid)) * 100
       |   < $refreshThresholdPct * (SELECT count(*) FROM x5)) AS stale)
       |SELECT qid AS query_id, rank, nid AS neighbor_id, adc_dist
       |FROM g2r WHERE rank <= 5 AND (SELECT stale FROM gate)
       |UNION ALL
       |SELECT qid AS query_id, rank, nid AS neighbor_id, adc_dist
       |FROM g1r WHERE rank <= 5 AND NOT (SELECT stale FROM gate)
       |ORDER BY query_id, rank""".stripMargin

  /** E5's full search replay, parameterized by an extra predicate on
    * the CODE side (spliced after `rn = 1`): "" reproduces the
    * E5/E9/E12 oracle byte-for-byte; E21 passes the tombstone
    * predicate — training, encode, and probe tables are IDENTICAL
    * text, because a delete must not retrain or re-encode anything.
    */
  /** The full-corpus trained-PQ CODE-TABLE replay (ex0 → ex → train →
    * d → codes), the E5/E9 encode chain as a reusable fragment —
    * shared by the search oracles below and the takedown cascade's
    * code-table audit so the two can never disagree about a vector's
    * codes. `codesAnd` lands INSIDE the codes CTE (E21's tombstone
    * predicate shape).
    */
  private[ops] def pqCodesCtesFor(codesAnd: String): String =
    s"""ex0 AS (
       | SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
       |        CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT) AS q
       | FROM embeddings),
       |ex AS (SELECT vec_id, CAST((dim - 1) // 8 AS INT) AS sub,
       |        (dim - 1) % 8 AS dimin, q FROM ex0),
       |${pqTrainCtes("", "ex", "TRUE", 16)},
       |d AS (SELECT e.vec_id, e.sub, c.code, sum((e.q - c.cq) * (e.q - c.cq)) AS d2
       |      FROM ex e JOIN cb c USING (sub, dimin) GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, sub, code FROM (
       |  SELECT vec_id, sub, code,
       |   row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn FROM d)
       | WHERE rn = 1$codesAnd)""".stripMargin

  private def pqSearchOracleFor(codesAnd: String): String =
      s"""WITH ${pqCodesCtesFor(codesAnd)},
         |dt AS (SELECT p.vec_id AS qid, p.sub, c.code,
         |        sum((p.q - c.cq) * (p.q - c.cq)) AS dt
         |       FROM ex p JOIN cb c USING (sub, dimin)
         |       WHERE p.vec_id % 100 = 0 GROUP BY 1, 2, 3),
         |adc AS (SELECT d.qid, k.vec_id AS nid, CAST(sum(d.dt) AS BIGINT) AS adc_dist
         |        FROM codes k JOIN dt d ON d.sub = k.sub AND d.code = k.code
         |         AND k.vec_id <> d.qid
         |        GROUP BY 1, 2)
         |SELECT qid AS query_id, rank, nid AS neighbor_id, adc_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY adc_dist, nid) AS rank FROM adc)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private lazy val pqSearchOracle: String = pqSearchOracleFor("")
}
