package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps._
import graft.ops.{DistRank, OracleRound}
import graft.tables.Tables

/** ML extensions (round 3, wave 3) — SURVEY.md §2.C13-C14.
  *
  * C13 makes the k-means HEART of E3's IVF fully oracle-able: the reason
  * `ann_centroid_ivf` is rows-only is float-mean centroids whose partial
  * sums merge in nondeterministic order. Here the Lloyd update sums
  * QUANTIZED INTEGERS (floor(x·10⁶+0.5) as long) — order-independent and
  * exact — so one real assignment→update→reassignment iteration replays
  * bit-for-bit in DuckDB. Reference analog: modeling.ipynb's
  * NearestCentroid (cell 31-34) is exactly the assignment step with
  * label-given centroids; C13 is the unsupervised form.
  *
  * C14 is the model-bench reporting table the reference builds per model
  * (modeling.ipynb cell 12/123): decile lift — rank by score, cut into 10
  * equal tiles, per-tile response rate and cumulative lift.
  */
object Ml3 {

  /** C13 — one exact k-means (Lloyd) iteration over `embeddings`:
    * seeds = the 8 lowest-id vectors; assign all 500·SF vectors by max
    * cosine (tie → lowest seed id); update centroids as quantized-integer
    * means per (cluster, dim); reassign against the updated centroids.
    *
    * Scale shape: seeds and updated centroids are k·dim doubles — always
    * broadcast; the data side is scanned twice (assign passes) plus one
    * explode-aggregate (k·dim groups, map-side partials), never shuffled
    * on the full rows. At 100 TB the same plan holds with k in the
    * thousands; further iterations are the same three stages looped.
    */
  def mlKmeansAssign(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val seeds = e.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("sid"), col("emb").as("s_emb"))
    val w1 = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("sid"))
    val asg1 = e.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("emb"), col("sid"),
        cosine(col("emb"), col("s_emb")).as("sim"))
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("vec_id"), col("emb"), col("sid").as("c1"))

    // Lloyd update: exact integer sums of quantized components.
    val cents = asg1
      .select(col("c1"), posexplode(col("emb")).as(Seq("pos", "x")))
      .select(col("c1"), (col("pos") + 1).as("dim"),
        qtick(col("x")).as("q"))
      .groupBy("c1", "dim")
      .agg(sum("q").as("sq"), count(lit(1)).as("cnt"))
      .select(col("c1"),  col("dim"),
        (col("sq").cast("double") / (col("cnt") * lit(1000000L)).cast("double")).as("c"))
      .groupBy("c1")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
      .select(col("c1").as("cid2"), expr("transform(pairs, p -> p.c)").as("c_emb"))

    val w2 = Window.partitionBy("vec_id").orderBy(col("sim2").desc, col("cid2"))
    asg1.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("c1"), col("cid2"),
        cosine(col("emb"), col("c_emb")).as("sim2"))
      .withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .select(col("vec_id"), col("c1").as("cluster_seed"),
        col("cid2").as("cluster_lloyd"), OracleRound.r4b(col("sim2")).as("sim"))
      .orderBy("vec_id")
  }

  /** C14 — decile lift table: rank by score desc via `DistRank` (full
    * cluster parallelism, no single-partition window over the facts),
    * decile from the global rank by the exact ntile() assignment rule
    * (first n%10 tiles get one extra row), then per-decile counts and
    * cumulative lift over the 10-row aggregate. The only driver-width
    * state is the 10-row result.
    */
  def mlLiftDeciles(spark: SparkSession, dir: String): DataFrame = {
    val base = Metrics.labeled(spark, dir).select("o_orderkey", "score", "truth")
    val ranked = DistRank.withGlobalRank(base, "rank", col("score").desc, col("o_orderkey"))
    val tot = base.agg(count(lit(1)).as("tot"))
    val tiled = ranked.crossJoin(broadcast(tot))
      .withColumn("q", expr("tot div 10"))
      .withColumn("m", col("tot") % 10)
      .withColumn("decile", ntileFromRank(col("rank"), col("q"), col("m")).cast("int"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    tiled.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("truth").as("n_pos"))
      .withColumn("cum_n", sum("n").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .withColumn("tot_n", sum("n").over(wAll))
      .withColumn("tot_pos", sum("n_pos").over(wAll))
      .select(col("decile"), col("n"), col("n_pos"),
        OracleRound.r4b(col("n_pos").cast("double") / col("n").cast("double")).as("resp_rate"),
        OracleRound.r4b((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("tot_pos").cast("double") / col("tot_n").cast("double"))).as("cum_lift"))
      .orderBy("decile")
  }

  /** C15 — calibration (reliability) bins: min-max-normalize the score to
    * a [0,1] pseudo-probability, cut into 10 fixed-width bins, compare
    * mean predicted probability against the observed positive rate per
    * bin. Mean-of-doubles crosses engines via quantized-integer sums
    * (floor(p·10⁶+0.5) as long — order-independent); the normalization
    * itself is two IEEE ops on raw values, bit-identical both sides.
    * One tiny min/max aggregate broadcast back + one 10-group aggregate.
    */
  def mlCalibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val l = Metrics.labeled(spark, dir).select("o_orderkey", "score", "truth")
    val mm = l.agg(min("score").as("lo"), max("score").as("hi"))
    l.crossJoin(broadcast(mm))
      .withColumn("p", (col("score") - col("lo")) / (col("hi") - col("lo")))
      .select(
        least(floor(col("p") * 10).cast("int"), lit(9)).as("bin"),
        col("truth"),
        floor(col("p") * 1000000 + lit(0.5)).cast("long").as("pq"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("truth").as("n_pos"), sum("pq").as("spq"))
      .select(col("bin"), col("n"), col("n_pos"),
        OracleRound.r4b(col("spq").cast("double") / (col("n") * lit(1000000L)).cast("double")).as("mean_p"),
        OracleRound.r4b(col("n_pos").cast("double") / col("n").cast("double")).as("obs_rate"))
      .orderBy("bin")
  }

  /** C16 — sliced evaluation: the C6 confusion matrix and derived
    * metrics PER SEGMENT (order status) — the fairness/drift view every
    * model report needs. Still one conditional-aggregation pass; ratio
    * denominators go through nullif so empty cells surface as null, not
    * a crash, on both engines.
    */
  def mlConfusionByGroup(spark: SparkSession, dir: String): DataFrame = {
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      OracleRound.r4b(num.cast("double") / when(den === 0, lit(null)).otherwise(den).cast("double"))
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"),
        (col("o_totalprice") > lit(150000.0)).cast("int").as("pred"),
        (col("o_orderpriority") < lit("3")).cast("int").as("truth"))
      .groupBy("o_orderstatus")
      .agg(
        count(when(col("pred") === 1 && col("truth") === 1, 1)).as("tp"),
        count(when(col("pred") === 1 && col("truth") === 0, 1)).as("fp"),
        count(when(col("pred") === 0 && col("truth") === 1, 1)).as("fn"),
        count(when(col("pred") === 0 && col("truth") === 0, 1)).as("tn"))
      .select(col("o_orderstatus"), col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp") + col("tn"), col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision_"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall_"))
      .orderBy("o_orderstatus")
  }

  /** C17 — operating-threshold sweep: the precision/recall/F1 table
    * behind the reference's model pick (modeling.ipynb cell 12 evaluates
    * ONE threshold; a real bench sweeps them). Score → C15's min-max
    * pseudo-probability, exploded against 9 fixed thresholds, then one
    * conditional-agg pass: the fact table is scanned once, the 9× blow-up
    * happens map-side on projected ints, and the result is 9 rows.
    * Threshold literals are exact decimal-parsed doubles — identical IEEE
    * values on both engines, so `p >= t` never straddles an ulp.
    */
  def mlThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      OracleRound.r4b(num.cast("double") / when(den === 0, lit(null)).otherwise(den).cast("double"))
    val l = Metrics.labeled(spark, dir).select("o_orderkey", "score", "truth")
    val mm = l.agg(min("score").as("lo"), max("score").as("hi"))
    l.crossJoin(broadcast(mm))
      .withColumn("p", (col("score") - col("lo")) / (col("hi") - col("lo")))
      .select(col("p"), col("truth"),
        explode(expr("array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)")).as("threshold"))
      .select(col("threshold"), col("truth"), (col("p") >= col("threshold")).cast("int").as("pred"))
      .groupBy("threshold")
      .agg(
        count(when(col("pred") === 1 && col("truth") === 1, 1)).as("tp"),
        count(when(col("pred") === 1 && col("truth") === 0, 1)).as("fp"),
        count(when(col("pred") === 0 && col("truth") === 1, 1)).as("fn"),
        count(when(col("pred") === 0 && col("truth") === 0, 1)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision_"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall_"),
        ratio(lit(2) * col("tp"), lit(2) * col("tp") + col("fp") + col("fn")).as("f1"))
      .orderBy("threshold")
  }

  /** ntile(10)'s exact assignment computed from a 1-based global rank:
    * with q = n div 10 and m = n mod 10, the first m tiles hold q+1 rows.
    * Lets ntile ride on `DistRank` instead of a global window.
    */
  private[graft] def ntileFromRank(rank: org.apache.spark.sql.Column,
                                   q: org.apache.spark.sql.Column,
                                   m: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(rank <= m * (q + 1), expr("(rank - 1) div (q + 1) + 1"))
      .otherwise(expr("m + (rank - m * (q + 1) - 1) div q + 1"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_kmeans_assign" -> ((s, d) => mlKmeansAssign(s, d)),
    "ml_lift_deciles" -> (mlLiftDeciles _),
    "ml_calibration_bins" -> (mlCalibrationBins _),
    "ml_confusion_by_group" -> (mlConfusionByGroup _),
    "ml_threshold_sweep" -> (mlThresholdSweep _))

  val oracles: Map[String, String] = Map(
    "ml_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |seeds AS (SELECT vec_id AS sid, emb AS s_emb FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (
        |  SELECT vec_id, emb, sid,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY list_cosine_similarity(emb, s_emb) DESC, sid) AS rn
        |  FROM e CROSS JOIN seeds),
        |asg1 AS (SELECT vec_id, emb, sid AS c1 FROM a1 WHERE rn = 1),
        |ex AS (SELECT c1, generate_subscripts(emb, 1) AS dim,
        |         CAST(floor(unnest(emb) * 1000000.0 + 0.5) AS BIGINT) AS q
        |       FROM asg1),
        |cent AS (SELECT c1, dim,
        |           CAST(sum(q) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE) AS c
        |         FROM ex GROUP BY 1, 2),
        |cents AS (SELECT c1 AS cid2, list(c ORDER BY dim) AS c_emb FROM cent GROUP BY 1),
        |a2 AS (SELECT g.vec_id, g.c1, c.cid2,
        |         list_cosine_similarity(g.emb, c.c_emb) AS sim2,
        |         row_number() OVER (PARTITION BY g.vec_id
        |           ORDER BY list_cosine_similarity(g.emb, c.c_emb) DESC, c.cid2) AS rn
        |       FROM asg1 g CROSS JOIN cents c)
        |SELECT vec_id, c1 AS cluster_seed, cid2 AS cluster_lloyd,
        |  floor(sim2 * 10000 + 0.5) / 10000 AS sim
        |FROM a2 WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "ml_lift_deciles" ->
      s"""WITH labeled AS (
        |  SELECT o_orderkey, o_totalprice AS score,
        |    CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |tiled AS (
        |  SELECT truth, ntile(10) OVER (ORDER BY score DESC, o_orderkey) AS decile
        |  FROM labeled),
        |per AS (
        |  SELECT decile, count(*) AS n, sum(truth) AS n_pos
        |  FROM tiled GROUP BY 1),
        |cum AS (
        |  SELECT decile, n, n_pos,
        |    sum(n) OVER (ORDER BY decile) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
        |    sum(n) OVER () AS tot_n, sum(n_pos) OVER () AS tot_pos
        |  FROM per)
        |SELECT decile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  ${OracleRound.sql4("CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)")} AS resp_rate,
        |  ${OracleRound.sql4("(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)) / (CAST(tot_pos AS DOUBLE) / CAST(tot_n AS DOUBLE))")} AS cum_lift
        |FROM cum ORDER BY decile""".stripMargin,
    "ml_calibration_bins" ->
      s"""WITH l AS (
        |  SELECT o_totalprice AS score,
        |    CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |mm AS (SELECT min(score) AS lo, max(score) AS hi FROM l),
        |p AS (SELECT truth, (score - lo) / (hi - lo) AS p FROM l, mm),
        |b AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, truth,
        |        CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS pq
        |      FROM p)
        |SELECT bin, count(*) AS n, CAST(sum(truth) AS BIGINT) AS n_pos,
        |  ${OracleRound.sql4("CAST(sum(pq) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE)")} AS mean_p,
        |  ${OracleRound.sql4("CAST(sum(truth) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS obs_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "ml_confusion_by_group" -> {
      def ratio(num: String, den: String) =
        OracleRound.sql4(s"CAST($num AS DOUBLE) / CAST(nullif($den, 0) AS DOUBLE)")
      s"""WITH l AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice > 150000.0 AS INT) AS pred,
        |    CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |cm AS (
        |  SELECT o_orderstatus,
        |    count(CASE WHEN pred = 1 AND truth = 1 THEN 1 END) AS tp,
        |    count(CASE WHEN pred = 1 AND truth = 0 THEN 1 END) AS fp,
        |    count(CASE WHEN pred = 0 AND truth = 1 THEN 1 END) AS fn,
        |    count(CASE WHEN pred = 0 AND truth = 0 THEN 1 END) AS tn
        |  FROM l GROUP BY 1)
        |SELECT o_orderstatus, tp, fp, fn, tn,
        |  ${ratio("tp + tn", "tp + fp + fn + tn")} AS accuracy,
        |  ${ratio("tp", "tp + fp")} AS precision_,
        |  ${ratio("tp", "tp + fn")} AS recall_
        |FROM cm ORDER BY o_orderstatus""".stripMargin
    },
    "ml_threshold_sweep" -> {
      def ratio(num: String, den: String) =
        OracleRound.sql4(s"CAST($num AS DOUBLE) / CAST(nullif($den, 0) AS DOUBLE)")
      s"""WITH l AS (
        |  SELECT o_totalprice AS score,
        |    CAST(o_orderpriority < '3' AS INT) AS truth
        |  FROM orders),
        |mm AS (SELECT min(score) AS lo, max(score) AS hi FROM l),
        |p AS (SELECT truth, (score - lo) / (hi - lo) AS p FROM l, mm),
        |x AS (SELECT p.truth,
        |        CAST(t.threshold AS DOUBLE) AS threshold,
        |        CAST(p.p >= t.threshold AS INT) AS pred
        |      FROM p CROSS JOIN (
        |        SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS threshold) t),
        |cm AS (
        |  SELECT threshold,
        |    count(CASE WHEN pred = 1 AND truth = 1 THEN 1 END) AS tp,
        |    count(CASE WHEN pred = 1 AND truth = 0 THEN 1 END) AS fp,
        |    count(CASE WHEN pred = 0 AND truth = 1 THEN 1 END) AS fn,
        |    count(CASE WHEN pred = 0 AND truth = 0 THEN 1 END) AS tn
        |  FROM x GROUP BY 1)
        |SELECT threshold, tp, fp, fn, tn,
        |  ${ratio("tp", "tp + fp")} AS precision_,
        |  ${ratio("tp", "tp + fn")} AS recall_,
        |  ${ratio("2 * tp", "2 * tp + fp + fn")} AS f1
        |FROM cm ORDER BY threshold""".stripMargin
    })
}
