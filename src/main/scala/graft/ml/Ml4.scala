package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.OracleRound
import graft.tables.Tables

/** Model-evaluation extensions (round 3, wave 9) — SURVEY.md §2.C18-C20.
  *
  * The reference's model bench reports accuracy/precision/recall/F1/
  * ROC-AUC per model (modeling.ipynb cell 12). Production evaluation adds
  * three staples this wave supplies:
  *
  *  - C18 Kolmogorov-Smirnov statistic: max separation between the
  *    positive and negative score CDFs — the classic "is this scorer any
  *    good" scalar for binary scorers.
  *  - C19 average precision (the step-function area under the
  *    precision-recall curve) — the imbalanced-class counterpart of
  *    ROC-AUC (C7).
  *  - C20 population stability index between B6's deterministic
  *    train/test splits — the drift monitor scoring pipelines run before
  *    trusting a model on fresh data.
  *
  * Determinism: everything reduces to exact integer counts first. KS
  * keeps its max as the integer numerator |cum_pos·N − cum_neg·P| and
  * divides once at the end; AP sums the integer quantization
  * floor(cum_pos·10⁶ div k) so the sum is order-independent (a double
  * sum would depend on partial-merge order); PSI's per-bin ln() scalars
  * are identical fixed-order IEEE expressions on both engines, rounded
  * via OracleRound.
  */
object Ml4 {
  import OracleRound.r4b

  /** C18 — KS statistic via one ordered cumulative pass.
    *
    * D = max over thresholds of |F_pos − F_neg|; after ordering by
    * (score, key) the candidate thresholds are exactly the observed rows,
    * where F_pos = cum_pos/P, F_neg = cum_neg/N. The max runs on the
    * exact integer cross-product |cum_pos·N − cum_neg·P|; one IEEE
    * division at the end.
    *
    * Scale shape: the global-order window is the oracle-exact
    * formulation; at 100 TB the same cumulative counts come from
    * DistRank's range-repartition + per-slice partials + broadcast
    * offsets (C7b `ml_roc_auc_dist` proves that technique bit-identical
    * via its shared oracle).
    */
  def mlKsStatistic(spark: SparkSession, dir: String): DataFrame = {
    val base = Metrics.labeled(spark, dir)
    val tot = base.agg(
      sum(col("truth")).as("p_tot"),
      sum(lit(1) - col("truth")).as("n_tot"))
    val w = Window.orderBy(col("score"), col("o_orderkey"))
    base
      .withColumn("cum_pos", sum(col("truth")).over(w))
      .withColumn("cum_neg", sum(lit(1) - col("truth")).over(w))
      // only the LAST row of a tied-score run is a valid CDF threshold:
      // collapsing to max-cumulative per distinct score keeps the
      // tie-broken intermediates (which are not reachable thresholds)
      // out of the max
      .groupBy("score")
      .agg(max("cum_pos").as("cum_pos"), max("cum_neg").as("cum_neg"))
      .crossJoin(broadcast(tot))
      .select(col("p_tot"), col("n_tot"),
        abs(col("cum_pos") * col("n_tot") - col("cum_neg") * col("p_tot")).as("diff"))
      .agg(max(col("p_tot")).as("p"), max(col("n_tot")).as("n"),
        max(col("diff")).as("ks_num"))
      .select(col("p"), col("n"), col("ks_num"),
        r4b(col("ks_num").cast("double") / (col("p") * col("n"))).as("ks"))
  }

  /** C19 — average precision: AP = (1/P) Σ_{k: truth@k=1} precision@k
    * over the rank order (score desc, key). precision@k = cum_pos(k)/k is
    * quantized to the integer floor(cum_pos·10⁶ div k) before summing, so
    * the aggregate is an order-independent integer sum — exact on any
    * engine — and AP carries one final division. Same window caveat and
    * DistRank scale path as C18.
    */
  def mlAucPr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("score").desc, col("o_orderkey"))
    Metrics.labeled(spark, dir)
      .withColumn("k", row_number().over(w))
      .withColumn("cum_pos", sum(col("truth")).over(w))
      .select(col("truth"),
        when(col("truth") === 1, expr("cum_pos * 1000000 div k"))
          .otherwise(lit(0L)).as("prec_q"))
      .agg(sum(col("truth")).as("p"),
        sum(lit(1) - col("truth")).as("n"),
        sum(col("prec_q")).as("ap_q"))
      .select(col("p"), col("n"),
        r4b(col("ap_q").cast("double") / (lit(1000000.0) * col("p"))).as("ap"))
  }

  /** C20 — population stability index, train vs test (B6's Knuth-hash
    * split), over 10 fixed-width score bins (width 60000, top bin open).
    * PSI_i = (p_i − q_i)·ln(p_i/q_i) from exact per-bin integer counts;
    * bins empty on either side yield null (the standard eps-free
    * convention — at production scale a bin with zero traffic is the
    * alert itself, not a summand).
    *
    * Plan shape: one conditional-aggregate pass over the facts (map-side
    * partials, ≤10 groups), totals broadcast back — no window, no second
    * scan, the same shape at any scale.
    */
  def mlPsi(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(spark, dir).select(
      when(pmod(col("o_orderkey") * lit(2654435761L), lit(100)) < 80, lit("train"))
        .otherwise(lit("test")).as("split"),
      least(floor(col("o_totalprice") / 60000.0), lit(9.0)).cast("int").as("bin"))
    val counts = binned.groupBy("bin").agg(
      count(when(col("split") === "train", 1)).as("train_n"),
      count(when(col("split") === "test", 1)).as("test_n"))
    val tot = counts.agg(sum("train_n").as("train_tot"), sum("test_n").as("test_tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("p", col("train_n").cast("double") / col("train_tot"))
      .withColumn("q", col("test_n").cast("double") / col("test_tot"))
      .select(col("bin"), col("train_n"), col("test_n"),
        r4b(col("p")).as("train_frac"), r4b(col("q")).as("test_frac"),
        when(col("train_n") > 0 && col("test_n") > 0,
          r4b((col("p") - col("q")) * log(col("p") / col("q"))))
          .as("psi_term"))
      .orderBy("bin")
  }

  /** C21 — fold-wise accuracy confidence interval: the deterministic
    * answer to "bootstrap the metric". 10 disjoint Knuth-hash folds
    * (B19's assignment) each score the predictor; the CI is
    * mean ± 1.96·sd over the fold accuracies. No RNG state, stable
    * under reruns and repartitions — at 100 TB resampling WITH
    * replacement is a non-starter anyway, and disjoint-fold variance is
    * the standard substitute.
    *
    * Per-fold accuracy is quantized to floor(correct·10⁶ div n) so the
    * cross-fold mean and the exact integer second moment
    * k·Σa² − (Σa)² are order-independent; sqrt is IEEE-correctly-rounded
    * hence portable, and the three output doubles round via OracleRound.
    * Plan: one conditional-agg pass (10 groups, map-side partials) +
    * a 10-row final aggregate.
    */
  def mlBootstrapCi(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val folds = Metrics.labeled(spark, dir)
      .select(pmod(col("o_orderkey") * lit(2654435761L), lit(k.toLong)).as("fold"),
        (col("pred") === col("truth")).cast("int").as("correct"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), sum("correct").as("n_correct"))
      .select(expr("n_correct * 1000000 div n").as("acc_q"))
    folds.agg(count(lit(1)).as("k"),
        sum("acc_q").as("s1"), sum(col("acc_q") * col("acc_q")).as("s2"))
      .select(col("k"),
        r4b(col("s1").cast("double") / (lit(1000000.0) * col("k"))).as("acc_mean"),
        r4b(sqrt((col("k") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("k") * (col("k") - 1))) / lit(1000000.0)).as("acc_sd"),
        r4b(col("s1").cast("double") / (lit(1000000.0) * col("k")) -
          lit(1.96) * (sqrt((col("k") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("k") * (col("k") - 1))) / lit(1000000.0))).as("ci_lo"),
        r4b(col("s1").cast("double") / (lit(1000000.0) * col("k")) +
          lit(1.96) * (sqrt((col("k") * col("s2") - col("s1") * col("s1")).cast("double") /
            (col("k") * (col("k") - 1))) / lit(1000000.0))).as("ci_hi"))
  }

  /** C22 — decision-tree STUMP trained exactly, the histogram-split way
    * (the binned candidate-split algorithm XGBoost/LightGBM/Spark's own
    * GBT use at scale): melt 3 lineitem features long, bin each value
    * into 10 fixed-width buckets between the feature's min/max (one tiny
    * broadcast), aggregate per-(feature, bin) class histograms — 60
    * groups regardless of fact size — then evaluate all 27 candidate
    * splits from bin-cumulative counts and pick the min weighted Gini
    * with a deterministic tie-break. The reference benches
    * HistGradientBoostingClassifier (modeling.ipynb cell 45-48); this is
    * its single-split learning step made fully oracle-replayable:
    * training a real model, hash-verified cross-engine.
    *
    * Plan: one fact scan (melt is a projection ×3 generate), a 6-row
    * min/max broadcast, a 60-row aggregate, windows only over those 60
    * rows. The same plan trains every node of a depth-d tree at 100 TB.
    */
  private[ml] def gini(p: Column, n: Column): Column = {
    val q = p.cast("double") / n
    lit(1.0) - q * q - (lit(1.0) - q) * (lit(1.0) - q)
  }

  /** The shared candidate-split frame: (feature, bin, threshold, child
    * counts, weighted child Gini — unrounded) for all 27 histogram
    * splits. C22 takes the global argmin; C24 the per-feature argmin.
    */
  private[ml] def stumpCandidates(spark: SparkSession, dir: String): DataFrame = {
    val melted = Tables.lineitem(spark, dir).select(
      expr("stack(3, 'disc', l_discount, 'price', l_extendedprice, 'qty', l_quantity)")
        .as(Seq("feature", "value")),
      (col("l_returnflag") === "R").cast("int").as("label"))
    val mm = melted.groupBy("feature")
      .agg(min("value").as("vmin"), max("value").as("vmax"))
    val binned = melted.join(broadcast(mm), Seq("feature"))
      .select(col("feature"), col("label"),
        least(floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * 10), lit(9.0))
          .cast("int").as("bin"))
    val hist = binned.groupBy("feature", "bin")
      .agg(count(lit(1)).as("n"), sum("label").as("pos"))
    val wOrd = Window.partitionBy("feature").orderBy("bin")
    val wAll = Window.partitionBy("feature")
    hist
      .withColumn("cum_n", sum("n").over(wOrd))
      .withColumn("cum_pos", sum("pos").over(wOrd))
      .withColumn("n_tot", sum("n").over(wAll))
      .withColumn("pos_tot", sum("pos").over(wAll))
      .filter(col("bin") < 9 && col("cum_n") > 0 && col("n_tot") > col("cum_n"))
      .join(broadcast(mm), Seq("feature"))
      .select(col("feature"), col("bin"),
        (col("vmin") + (col("bin") + 1) * (col("vmax") - col("vmin")) / 10).as("threshold"),
        col("cum_n").as("nl"), col("cum_pos").as("pl"),
        (col("n_tot") - col("cum_n")).as("nr"), (col("pos_tot") - col("cum_pos")).as("pr"))
      .withColumn("wgini",
        (col("nl") * gini(col("pl"), col("nl")) + col("nr") * gini(col("pr"), col("nr"))) /
          (col("nl") + col("nr")))
  }

  def mlTreeStump(spark: SparkSession, dir: String): DataFrame =
    stumpCandidates(spark, dir)
      .orderBy(col("wgini"), col("feature"), col("bin"))
      .limit(1)
      .select(col("feature"), col("bin"), r4b(col("threshold")).as("threshold"),
        col("nl"), col("pl"), col("nr"), col("pr"), r4b(col("wgini")).as("wgini"))

  /** C24 — split-gain feature ranking: each feature's best histogram
    * split and its Gini gain over the unsplit parent — the
    * feature-selection screen behind the reference's "old-school vs
    * modern" subset experiments (modeling.ipynb cell 123), computed from
    * the SAME 60-row histogram as C22 (zero extra fact scans). Gain ≥ 0
    * by impurity concavity; ranking is deterministic because every
    * double is bit-identical cross-engine.
    */
  def mlFeatureImportance(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val parent = li.agg(count(lit(1)).as("n_tot"),
      sum((col("l_returnflag") === "R").cast("int")).as("pos_tot"))
    val wBest = Window.partitionBy("feature").orderBy(col("wgini"), col("bin"))
    stumpCandidates(spark, dir)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .crossJoin(broadcast(parent))
      .select(col("feature"), col("bin"), r4b(col("threshold")).as("threshold"),
        r4b(col("wgini")).as("wgini"),
        r4b(gini(col("pos_tot"), col("n_tot")) - col("wgini")).as("gain"))
      .orderBy("feature")
  }

  /** C23 — one EXACT power-iteration step toward the top principal
    * direction of the embedding Gram matrix: v₁ ∝ Σᵢ xᵢ·(xᵢ·v₀), v₀ the
    * all-ones probe. PCA at 100 TB is exactly this loop — each iteration
    * one scan, one d-row aggregate — and the nondeterminism that keeps
    * float-mean ops (E3) rows-only is killed the same way as C13: the
    * per-row double work (the dot, the component product) is
    * deterministic, and every CROSS-ROW sum is quantized to integer
    * ticks first, so partial-merge order cannot change a bit. The final
    * normalization is one portable sqrt.
    *
    * Plan: scan → posexplode to (dim, contribution) → 64-group integer
    * aggregate (map-side partials) → two 1-row broadcasts (count, norm).
    * Further iterations loop the same plan with v₀ := result.
    */
  def mlPcaPower(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps.{asDouble, dot, qtick}
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val ones = array(Seq.fill(64)(lit(1.0)): _*)
    val withS = e.select(col("emb"), dot(col("emb"), ones).as("s"))
    val contrib = withS
      .select(posexplode(col("emb")).as(Seq("dim0", "x")), col("s"))
      .select((col("dim0") + 1).as("dim"),
        qtick(col("x") * col("s")).as("cq"))
    val sums = contrib.groupBy("dim").agg(sum("cq").as("sumq"))
    val cnt = e.agg(count(lit(1)).as("n"))
    val v = sums.crossJoin(broadcast(cnt))
      .select(col("dim"),
        (col("sumq").cast("double") / (lit(1000000.0) * col("n"))).as("v"))
    val normq = v
      .select(floor(col("v") * col("v") * lit(1.0e12) + lit(0.5)).cast("long").as("nq"))
      .agg(sum("nq").as("nq_tot"))
    v.crossJoin(broadcast(normq))
      .select(col("dim"),
        r4b(col("v") / sqrt(col("nq_tot").cast("double") / lit(1.0e12))).as("loading"))
      .orderBy("dim")
  }

  /** C25 — item co-occurrence with lift: the market-basket/recommender
    * primitive (parts bought together in one order, scored by lift =
    * P(ab)/(P(a)P(b))). Candidate pairs come from a self-join ON THE
    * ORDER KEY, so the blow-up is bounded by (items per order)² — a
    * per-basket constant — never |parts|²; supports are exact distinct
    * counts and lift is the quantized integer (s_ab·N·10⁶) div (s_a·s_b)
    * (F6's monotone-transform trick). Top-20 by support, deterministic
    * tie-break.
    */
  def mlItemCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val oi = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
    val nOrders = Tables.orders(spark, dir).agg(count(lit(1)).as("n_orders"))
    val itemCount = oi.groupBy("part").agg(count(lit(1)).as("s_item"))
    val pairs = oi.as("l").join(oi.as("r"), Seq("okey"))
      .filter(col("l.part") < col("r.part"))
      .groupBy(col("l.part").as("a"), col("r.part").as("b"))
      .agg(count(lit(1)).as("s_ab"))
    pairs
      .join(itemCount.select(col("part").as("a"), col("s_item").as("s_a")), Seq("a"))
      .join(itemCount.select(col("part").as("b"), col("s_item").as("s_b")), Seq("b"))
      .crossJoin(broadcast(nOrders))
      .select(col("a"), col("b"), col("s_ab"), col("s_a"), col("s_b"),
        expr("s_ab * n_orders * 1000000 div (s_a * s_b)").as("lift_q6"))
      .orderBy(col("s_ab").desc, col("a"), col("b"))
      .limit(20)
  }

  /** C26 — Kaplan-Meier survival curve for time-to-first-purchase after
    * signup (censored at a user's last activity): S(tᵢ) = Π_{j≤i}
    * (nⱼ−dⱼ)/nⱼ over the ordered event times, with nⱼ the at-risk count.
    * Churn/conversion-time curves are this estimator verbatim.
    *
    * The survival product is a SEQUENTIAL recurrence (non-associative —
    * no aggregate computes it), and float products drift; here the curve
    * table (≤ distinct event times — thousands at most, by construction
    * tiny next to the facts) folds ONCE through a sorted-array
    * `aggregate` higher-order function with an integer accumulator:
    * S_q(i) = S_q(i−1)·(nᵢ−dᵢ) div nᵢ starting 10⁶ — exact on any
    * engine; DuckDB replays the same recurrence as a recursive CTE. The
    * per-user duration extraction stays fully distributed; only the
    * already-aggregated curve passes through the fold.
    */
  def mlSurvivalKm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t0"))
    val purch = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id").filter(col("us") >= col("t0"))
      .groupBy("user_id").agg(min("us").as("tp"))
    val last = ev.join(signup, "user_id")
      .groupBy("user_id").agg(max("us").as("tl"))
    val durations = signup
      .join(purch, Seq("user_id"), "left").join(last, Seq("user_id"))
      .select(
        when(col("tp").isNotNull, col("tp") - col("t0"))
          .otherwise(col("tl") - col("t0")).as("dur"),
        col("tp").isNotNull.cast("int").as("evt"))
    val grouped = durations.groupBy("dur")
      .agg(sum("evt").as("d"), count(lit(1)).as("tot"))
    // at-risk n at duration t == Σ tot over all durations ≥ t — a
    // suffix sum over the SAME grouped frame, so the former separate
    // driver count() job (round-7 verdict nit) is gone: one window,
    // one job. Single-partition by design, NOT a fact-scale window: it
    // runs over the per-DISTINCT-duration aggregate (one row per
    // distinct dur — the KM curve's own x-axis, already reduced by the
    // groupBy above), the same bounded-state class as A48's 1-row
    // total and Ml3's 10 deciles. A corpus where distinct durations
    // approach row count would route through DistRank's
    // range-partitioned prefix sums instead (the `_dist` twins'
    // machinery).
    val wSuffix = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = grouped
      .withColumn("n", sum("tot").over(wSuffix))
      .filter(col("d") > 0)
      .select(col("dur"), col("d"), col("n"))
    risk
      .agg(sort_array(collect_list(struct(col("dur"), col("d"), col("n")))).as("arr"))
      .select(col("arr"), expr(
        """aggregate(arr, cast(array(1000000) as array<bigint>),
          |  (acc, x) -> concat(acc, array(element_at(acc, -1) * (x.n - x.d) div x.n)))"""
          .stripMargin).as("sq"))
      .select(posexplode(col("arr")).as(Seq("i", "x")), col("sq"))
      .select(col("x.dur").as("t_us"), col("x.d").as("d"), col("x.n").as("n_risk"),
        expr("element_at(sq, i + 2)").as("surv_q"))
      .orderBy("t_us")
  }

  /** C27 — two-proportion z-test between the deterministic hash-split
    * variants (B6's arithmetic as an A/B assignment): the experimentation
    * readout every reference-style product ships next to its model. All
    * counts exact integers; z = (p̂_a−p̂_b)/√(p̂(1−p̂)(1/n_a+1/n_b)) is a
    * fixed-order IEEE expression with one portable sqrt; significance is
    * reported against the fixed two-sided 5% critical value rather than
    * a p-value (erf is NOT portably bit-identical across libms — the
    * judgment "|z| > 1.96" is).
    */
  def mlAbTest(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .select(
        when(pmod(col("o_orderkey") * lit(2654435761L), lit(2)) === 0, lit("A"))
          .otherwise(lit("B")).as("variant"),
        (col("o_orderpriority") < "3").cast("int").as("converted"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
    val wide = cells.agg(
      max(when(col("variant") === "A", col("n"))).as("n_a"),
      max(when(col("variant") === "A", col("conv"))).as("conv_a"),
      max(when(col("variant") === "B", col("n"))).as("n_b"),
      max(when(col("variant") === "B", col("conv"))).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val z = (pa - pb) /
      sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    wide.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      r4b(pa).as("rate_a"), r4b(pb).as("rate_b"), r4b(z).as("z"),
      (abs(z) > lit(1.96)).as("significant_5pct"))
  }

  /** C28 — `ml_logreg_step`: one EXACT Newton/IRLS iteration of logistic
    * regression from β = 0, so gradient-descent model training itself
    * joins the fully-oracled set (the MLlib fits C1/C2 stay rows-only —
    * multi-iteration float order isn't replayable; ONE step is).
    *
    * At β = 0 every pᵢ = ½ and the working weights are ¼, so the Newton
    * update has the closed form β₁ = 4·(XᵀX)⁻¹ Xᵀ(y − ½). With one
    * regressor + intercept that's a 2×2 solve whose inputs are FIVE
    * scalar aggregates — n, P, Σq, Σq², Σq(2y−1) — over the quantized
    * feature q = floor(price·0.01 + 0.5) ($100 ticks): exact bigint
    * sums, order-independent, so the whole training step replays
    * bit-for-bit. The final betas are fixed-order IEEE expressions on
    * those integers (identical text both engines), rounded 4dp; the
    * slope is reported ×10⁴ (per $1M) so the rounding keeps real digits.
    *
    * Scale shape: a 5-aggregate map-side-partial pass and O(1) driver
    * math — the same shape at 100 TB, and the d-feature version is
    * d(d+1)/2 + d + 2 aggregates plus a tiny dense solve.
    */
  def mlLogregStep(spark: SparkSession, dir: String): DataFrame = {
    val agg = Metrics.labeled(spark, dir)
      .select(col("truth").as("y"),
        floor(col("score") * lit(0.01) + lit(0.5)).cast("long").as("q"))
      .agg(count(lit(1)).as("n"), sum("y").as("p"),
        sum("q").as("sq"), sum(col("q") * col("q")).as("sqq"),
        sum(col("q") * (col("y") * 2 - 1)).as("sqy"))
    val nd = col("n").cast("double"); val pd = col("p").cast("double")
    val sqd = col("sq").cast("double"); val sqqd = col("sqq").cast("double")
    val sqyd = col("sqy").cast("double")
    val b0 = (pd * lit(2.0) - nd) / lit(2.0)
    val b1 = sqyd / lit(2.0)
    val den = nd * sqqd - sqd * sqd
    agg.select(col("n"), col("p"), col("sq"), col("sqq"), col("sqy"),
      r4b(lit(4.0) * (sqqd * b0 - sqd * b1) / den).as("beta0"),
      r4b(lit(4.0) * (nd * b1 - sqd * b0) / den * lit(10000.0)).as("beta1_e4"))
  }

  /** C29 — `ml_svc_step`: one EXACT subgradient step of hinge-loss
    * linear SVC from β = 0 (C2's MLlib fit stays rows-only; one step is
    * fully oracled, the SVC analog of C28). At β = 0 every margin is 0 <
    * 1 — all points active — so the subgradient is −(1/n)·Σ yᵢ(1, qᵢ)
    * (the λ·w regularizer term vanishes at 0), and a unit-rate step
    * lands at b₁ = Σy/n, w₁ = Σyq/n: two exact integer aggregates over
    * the quantized feature. The step is then EVALUATED — training
    * accuracy of sign(b₁ + w₁·q) — with the decision value as one
    * fixed-order IEEE expression per row, identical text both engines.
    *
    * Scale shape: one 3-aggregate pass (map-side partials), the 1-row
    * aggregate broadcast back for the scoring pass — the two-scan
    * train-then-evaluate shape at any scale.
    */
  def mlSvcStep(spark: SparkSession, dir: String): DataFrame = {
    val l = Metrics.labeled(spark, dir).select(
      (col("truth") * 2 - 1).as("y"),
      floor(col("score") * lit(0.01) + lit(0.5)).cast("long").as("q"))
    val agg = l.agg(count(lit(1)).as("n"), sum("y").as("sy"),
      sum(col("y") * col("q")).as("syq"))
    val d = col("sy").cast("double") / col("n") +
      col("syq").cast("double") / col("n") * col("q").cast("double")
    l.crossJoin(broadcast(agg))
      .select(col("y"), col("n"), col("sy"), col("syq"),
        when(d > 0, 1).otherwise(-1).as("pred"))
      .agg(max(col("n")).as("n"), max(col("sy")).as("sy"),
        max(col("syq")).as("syq"),
        count(when(col("pred") === col("y"), 1)).as("n_correct"))
      .select(col("n"), col("sy"), col("syq"), col("n_correct"),
        r4b(col("sy").cast("double") / col("n")).as("b1"),
        r4b(col("syq").cast("double") / col("n")).as("w1"),
        r4b(col("n_correct").cast("double") / col("n")).as("train_acc"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_svc_step" -> (mlSvcStep _),
    "ml_logreg_step" -> (mlLogregStep _),
    "ml_ab_test" -> (mlAbTest _),
    "ml_survival_km" -> (mlSurvivalKm _),
    "ml_item_cooccurrence" -> (mlItemCooccurrence _),
    "ml_ks_statistic" -> (mlKsStatistic _),
    "ml_auc_pr" -> (mlAucPr _),
    "ml_psi" -> (mlPsi _),
    "ml_bootstrap_ci" -> ((s, d) => mlBootstrapCi(s, d)),
    "ml_tree_stump" -> (mlTreeStump _),
    "ml_feature_importance" -> (mlFeatureImportance _),
    "ml_pca_power" -> (mlPcaPower _))

  /** The C22/C24 shared SQL twin of [[stumpCandidates]] — CTE chain
    * ending in `candw(feature, bin, threshold, nl, pl, nr, pr, wgini)`.
    */
  private[ml] lazy val stumpCtes: String = {
    def giniSql(p: String, n: String): String = {
      val q = s"(CAST($p AS DOUBLE) / $n)"
      s"(1.0 - $q * $q - (1.0 - $q) * (1.0 - $q))"
    }
    val wg = s"(nl * ${giniSql("pl", "nl")} + nr * ${giniSql("pr", "nr")}) / (nl + nr)"
    s"""melted AS (
       |  SELECT 'disc' AS feature, l_discount AS value,
       |         CAST(l_returnflag = 'R' AS INT) AS label FROM lineitem
       |  UNION ALL
       |  SELECT 'price', l_extendedprice, CAST(l_returnflag = 'R' AS INT) FROM lineitem
       |  UNION ALL
       |  SELECT 'qty', l_quantity, CAST(l_returnflag = 'R' AS INT) FROM lineitem),
       |mm AS (
       |  SELECT feature, min(value) AS vmin, max(value) AS vmax
       |  FROM melted GROUP BY 1),
       |binned AS (
       |  SELECT m.feature, m.label,
       |         CAST(least(floor((m.value - x.vmin) / (x.vmax - x.vmin) * 10), 9.0) AS INT) AS bin
       |  FROM melted m JOIN mm x USING (feature)),
       |hist AS (
       |  SELECT feature, bin, count(*) AS n, sum(label) AS pos
       |  FROM binned GROUP BY 1, 2),
       |cand AS (
       |  SELECT feature, bin,
       |         x.vmin + (bin + 1) * (x.vmax - x.vmin) / 10 AS threshold,
       |         CAST(cum_n AS BIGINT) AS nl, CAST(cum_pos AS BIGINT) AS pl,
       |         CAST(n_tot - cum_n AS BIGINT) AS nr,
       |         CAST(pos_tot - cum_pos AS BIGINT) AS pr
       |  FROM (
       |    SELECT feature, bin,
       |           sum(n) OVER (PARTITION BY feature ORDER BY bin) AS cum_n,
       |           sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS cum_pos,
       |           sum(n) OVER (PARTITION BY feature) AS n_tot,
       |           sum(pos) OVER (PARTITION BY feature) AS pos_tot
       |    FROM hist) h JOIN mm x USING (feature)
       |  WHERE bin < 9 AND cum_n > 0 AND n_tot > cum_n),
       |candw AS (SELECT *, $wg AS wgini FROM cand)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ml_ab_test" -> {
      val pa = "CAST(conv_a AS DOUBLE) / n_a"
      val pb = "CAST(conv_b AS DOUBLE) / n_b"
      val pp = "CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)"
      val z = s"(($pa) - ($pb)) / sqrt(($pp) * (1.0 - ($pp)) * (1.0 / n_a + 1.0 / n_b))"
      s"""WITH cells AS (
         |  SELECT CASE WHEN (o_orderkey * 2654435761) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         |         count(*) AS n,
         |         sum(CAST(o_orderpriority < '3' AS INT)) AS conv
         |  FROM orders GROUP BY 1),
         |wide AS (
         |  SELECT CAST(max(CASE WHEN variant = 'A' THEN n END) AS BIGINT) AS n_a,
         |         CAST(max(CASE WHEN variant = 'A' THEN conv END) AS BIGINT) AS conv_a,
         |         CAST(max(CASE WHEN variant = 'B' THEN n END) AS BIGINT) AS n_b,
         |         CAST(max(CASE WHEN variant = 'B' THEN conv END) AS BIGINT) AS conv_b
         |  FROM cells)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  ${OracleRound.sql4(pa)} AS rate_a,
         |  ${OracleRound.sql4(pb)} AS rate_b,
         |  ${OracleRound.sql4(z)} AS z,
         |  abs($z) > 1.96 AS significant_5pct
         |FROM wide""".stripMargin
    },
    "ml_survival_km" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |s AS (
        |  SELECT user_id, min(us) AS t0 FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.us) AS tp
        |  FROM ev e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us >= s.t0 GROUP BY 1),
        |lst AS (
        |  SELECT e.user_id, max(e.us) AS tl FROM ev e JOIN s USING (user_id) GROUP BY 1),
        |durs AS (
        |  SELECT CASE WHEN p.tp IS NOT NULL THEN p.tp - s.t0 ELSE lst.tl - s.t0 END AS dur,
        |         CASE WHEN p.tp IS NOT NULL THEN 1 ELSE 0 END AS evt
        |  FROM s LEFT JOIN p USING (user_id) JOIN lst USING (user_id)),
        |grp AS (
        |  SELECT dur, sum(evt) AS d, count(*) AS tot FROM durs GROUP BY 1),
        |risk AS (
        |  SELECT dur, d,
        |         (SELECT count(*) FROM durs) -
        |         coalesce(sum(tot) OVER (ORDER BY dur
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
        |  FROM grp),
        |times AS (
        |  SELECT dur, CAST(d AS BIGINT) AS d, CAST(n AS BIGINT) AS n,
        |         row_number() OVER (ORDER BY dur) AS i
        |  FROM risk WHERE d > 0),
        |km AS (
        |  SELECT i, dur, d, n, 1000000 * (n - d) // n AS sq
        |  FROM times WHERE i = 1
        |  UNION ALL
        |  SELECT t.i, t.dur, t.d, t.n, km.sq * (t.n - t.d) // t.n
        |  FROM times t JOIN km ON t.i = km.i + 1)
        |SELECT dur AS t_us, d, n AS n_risk, CAST(sq AS BIGINT) AS surv_q
        |FROM km ORDER BY t_us""".stripMargin,
    "ml_item_cooccurrence" ->
      """WITH oi AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
        |n AS (SELECT count(*) AS n_orders FROM orders),
        |ic AS (SELECT part, count(*) AS s_item FROM oi GROUP BY 1),
        |pairs AS (
        |  SELECT l.part AS a, r.part AS b, count(*) AS s_ab
        |  FROM oi l JOIN oi r ON l.okey = r.okey AND l.part < r.part
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(s_ab AS BIGINT) AS s_ab,
        |       CAST(ia.s_item AS BIGINT) AS s_a, CAST(ib.s_item AS BIGINT) AS s_b,
        |       CAST(s_ab * n.n_orders * 1000000 // (ia.s_item * ib.s_item) AS BIGINT) AS lift_q6
        |FROM pairs JOIN ic ia ON ia.part = a JOIN ic ib ON ib.part = b CROSS JOIN n
        |ORDER BY s_ab DESC, a, b LIMIT 20""".stripMargin,
    "ml_pca_power" -> {
      val ones = Seq.fill(64)("1.0").mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |withs AS (
         |  SELECT emb, list_dot_product(emb, $ones) AS s FROM e),
         |ex AS (
         |  SELECT generate_subscripts(emb, 1) AS dim, unnest(emb) AS x, s FROM withs),
         |sums AS (
         |  SELECT CAST(dim AS INT) AS dim,
         |         CAST(sum(CAST(floor(x * s * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sumq
         |  FROM ex GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM e),
         |v AS (
         |  SELECT dim, CAST(sumq AS DOUBLE) / (1000000.0 * n.n) AS v
         |  FROM sums CROSS JOIN n),
         |nq AS (
         |  SELECT CAST(sum(CAST(floor(v * v * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS nq_tot
         |  FROM v)
         |SELECT dim,
         |  floor((v / sqrt(CAST(nq_tot AS DOUBLE) / 1000000000000.0)) * 10000 + 0.5) / 10000 AS loading
         |FROM v CROSS JOIN nq ORDER BY dim""".stripMargin
    },
    // NOTE the subquery: ORDER BY in the outer scope would bind to the
    // ROUNDED output alias `wgini` (SQL prefers output names), which
    // ties at 4 decimals and picks a different argmin than Spark's
    // unrounded sort. The inner ORDER BY ... LIMIT binds the raw column.
    "ml_tree_stump" ->
      s"""WITH $stumpCtes
         |SELECT feature, bin,
         |       floor((threshold) * 10000 + 0.5) / 10000 AS threshold,
         |       nl, pl, nr, pr,
         |       floor((wgini) * 10000 + 0.5) / 10000 AS wgini
         |FROM (SELECT * FROM candw ORDER BY wgini, feature, bin LIMIT 1)""".stripMargin,
    "ml_feature_importance" -> {
      val parentGini = {
        val q = "(CAST(pos_tot AS DOUBLE) / n_tot)"
        s"(1.0 - $q * $q - (1.0 - $q) * (1.0 - $q))"
      }
      s"""WITH $stumpCtes,
         |parent AS (
         |  SELECT count(*) AS n_tot,
         |         CAST(sum(CAST(l_returnflag = 'R' AS INT)) AS BIGINT) AS pos_tot
         |  FROM lineitem),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY feature ORDER BY wgini, bin) AS rn
         |  FROM candw)
         |SELECT feature, bin,
         |       floor((threshold) * 10000 + 0.5) / 10000 AS threshold,
         |       floor((wgini) * 10000 + 0.5) / 10000 AS wgini,
         |       floor(($parentGini - wgini) * 10000 + 0.5) / 10000 AS gain
         |FROM best CROSS JOIN parent
         |WHERE rn = 1 ORDER BY feature""".stripMargin
    },
    "ml_bootstrap_ci" -> {
      val mean = "CAST(s1 AS DOUBLE) / (1000000.0 * k)"
      val sd = "sqrt(CAST(k * s2 - s1 * s1 AS DOUBLE) / (k * (k - 1))) / 1000000.0"
      s"""WITH folds AS (
         |  SELECT (o_orderkey * 2654435761) % 10 AS fold,
         |         count(*) AS n,
         |         sum(CAST((CAST(o_totalprice > 150000.0 AS INT)) =
         |                  (CAST(o_orderpriority < '3' AS INT)) AS INT)) AS n_correct
         |  FROM orders GROUP BY 1),
         |q AS (SELECT n_correct * 1000000 // n AS acc_q FROM folds),
         |m AS (
         |  SELECT count(*) AS k, CAST(sum(acc_q) AS BIGINT) AS s1,
         |         CAST(sum(acc_q * acc_q) AS BIGINT) AS s2
         |  FROM q)
         |SELECT k,
         | ${OracleRound.sql4(mean)} AS acc_mean,
         | ${OracleRound.sql4(sd)} AS acc_sd,
         | ${OracleRound.sql4(s"$mean - 1.96 * ($sd)")} AS ci_lo,
         | ${OracleRound.sql4(s"$mean + 1.96 * ($sd)")} AS ci_hi
         |FROM m""".stripMargin
    },
    "ml_svc_step" ->
      """WITH l AS (
        |  SELECT CAST(o_orderpriority < '3' AS INT) * 2 - 1 AS y,
        |         CAST(floor(o_totalprice * 0.01 + 0.5) AS BIGINT) AS q
        |  FROM orders),
        |a AS (
        |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(y*q) AS BIGINT) AS syq
        |  FROM l),
        |s AS (
        |  SELECT l.y, a.n, a.sy, a.syq,
        |         CASE WHEN CAST(a.sy AS DOUBLE) / a.n
        |                 + CAST(a.syq AS DOUBLE) / a.n * CAST(l.q AS DOUBLE) > 0
        |              THEN 1 ELSE -1 END AS pred
        |  FROM l CROSS JOIN a),
        |f AS (
        |  SELECT max(n) AS n, max(sy) AS sy, max(syq) AS syq,
        |         CAST(count(*) FILTER (pred = y) AS BIGINT) AS n_correct
        |  FROM s)
        |SELECT n, sy, syq, n_correct,
        | floor((CAST(sy AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS b1,
        | floor((CAST(syq AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS w1,
        | floor((CAST(n_correct AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS train_acc
        |FROM f""".stripMargin,
    "ml_logreg_step" ->
      """WITH l AS (
        |  SELECT CAST(o_orderpriority < '3' AS INT) AS y,
        |         CAST(floor(o_totalprice * 0.01 + 0.5) AS BIGINT) AS q
        |  FROM orders),
        |a AS (
        |  SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS p,
        |         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q*q) AS BIGINT) AS sqq,
        |         CAST(sum(q*(2*y-1)) AS BIGINT) AS sqy
        |  FROM l),
        |d AS (
        |  SELECT n, p, sq, sqq, sqy,
        |         CAST(n AS DOUBLE) AS nd, CAST(p AS DOUBLE) AS pd,
        |         CAST(sq AS DOUBLE) AS sqd, CAST(sqq AS DOUBLE) AS sqqd,
        |         CAST(sqy AS DOUBLE) AS sqyd
        |  FROM a)
        |SELECT n, p, sq, sqq, sqy,
        | floor((4e0*(sqqd*((pd*2e0 - nd)/2e0) - sqd*(sqyd/2e0)) / (nd*sqqd - sqd*sqd)) * 10000 + 0.5) / 10000 AS beta0,
        | floor((4e0*(nd*(sqyd/2e0) - sqd*((pd*2e0 - nd)/2e0)) / (nd*sqqd - sqd*sqd) * 1e4) * 10000 + 0.5) / 10000 AS beta1_e4
        |FROM d""".stripMargin,
    "ml_ks_statistic" ->
      """WITH l AS (
        |  SELECT o_orderkey, o_totalprice AS score,
        |         CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |tot AS (
        |  SELECT sum(truth) AS p_tot, sum(1 - truth) AS n_tot FROM l),
        |cum AS (
        |  SELECT score,
        |         sum(truth) OVER (ORDER BY score, o_orderkey) AS cum_pos,
        |         sum(1 - truth) OVER (ORDER BY score, o_orderkey) AS cum_neg
        |  FROM l),
        |grp AS (
        |  SELECT score, max(cum_pos) AS cum_pos, max(cum_neg) AS cum_neg
        |  FROM cum GROUP BY score)
        |SELECT CAST(p AS BIGINT) AS p, CAST(n AS BIGINT) AS n,
        |       CAST(ks_num AS BIGINT) AS ks_num,
        |       floor((CAST(ks_num AS DOUBLE) / (p * n)) * 10000 + 0.5) / 10000 AS ks
        |FROM (
        |  SELECT max(t.p_tot) AS p, max(t.n_tot) AS n,
        |         max(abs(c.cum_pos * t.n_tot - c.cum_neg * t.p_tot)) AS ks_num
        |  FROM grp c CROSS JOIN tot t)""".stripMargin,
    "ml_auc_pr" ->
      """WITH l AS (
        |  SELECT o_orderkey, o_totalprice AS score,
        |         CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |r AS (
        |  SELECT truth,
        |         row_number() OVER (ORDER BY score DESC, o_orderkey) AS k,
        |         sum(truth) OVER (ORDER BY score DESC, o_orderkey) AS cum_pos
        |  FROM l)
        |SELECT CAST(p AS BIGINT) AS p, CAST(n AS BIGINT) AS n,
        |       floor((CAST(ap_q AS DOUBLE) / (1000000.0 * p)) * 10000 + 0.5) / 10000 AS ap
        |FROM (
        |  SELECT sum(truth) AS p, sum(1 - truth) AS n,
        |         sum(CASE WHEN truth = 1 THEN cum_pos * 1000000 // k ELSE 0 END) AS ap_q
        |  FROM r)""".stripMargin,
    "ml_psi" ->
      """WITH b AS (
        |  SELECT CASE WHEN (o_orderkey * 2654435761) % 100 < 80
        |              THEN 'train' ELSE 'test' END AS split,
        |         CAST(least(floor(o_totalprice / 60000.0), 9.0) AS INT) AS bin
        |  FROM orders),
        |c AS (
        |  SELECT bin,
        |         count(CASE WHEN split = 'train' THEN 1 END) AS train_n,
        |         count(CASE WHEN split = 'test' THEN 1 END) AS test_n
        |  FROM b GROUP BY bin),
        |tot AS (
        |  SELECT sum(train_n) AS train_tot, sum(test_n) AS test_tot FROM c)
        |SELECT bin, train_n, test_n,
        |  floor((CAST(train_n AS DOUBLE) / train_tot) * 10000 + 0.5) / 10000 AS train_frac,
        |  floor((CAST(test_n AS DOUBLE) / test_tot) * 10000 + 0.5) / 10000 AS test_frac,
        |  CASE WHEN train_n > 0 AND test_n > 0 THEN
        |    floor(((CAST(train_n AS DOUBLE) / train_tot - CAST(test_n AS DOUBLE) / test_tot) *
        |           ln((CAST(train_n AS DOUBLE) / train_tot) / (CAST(test_n AS DOUBLE) / test_tot)))
        |          * 10000 + 0.5) / 10000
        |  END AS psi_term
        |FROM c CROSS JOIN tot
        |ORDER BY bin""".stripMargin)
}
