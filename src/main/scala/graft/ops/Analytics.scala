package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Event-analytics operators (round 3, wave 4) — SURVEY.md §2 A39-A41.
  *
  * The reference's daily cycle (function.py:462-649) is an event log:
  * games appear, then their outcomes. These are the standard analytics
  * shapes over such a log — time-bounded rolling state, ordered
  * conversion funnels, cohort retention — all at MICROSECOND resolution
  * (`ts div 1000` ⟷ `epoch_us(ts)`, both floor) per the §4 timestamp
  * rule, with every aggregate an exact integer so window-frame summation
  * order (DuckDB segment trees vs Spark sliding state) cannot drift.
  */
object Analytics {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      expr("ts div 1000").as("ts_us"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("value_q"))

  /** A39 — time-RANGE window frame: per-user rolling 1-hour event count
    * and quantized-cents value sum (`RANGE BETWEEN 3600s PRECEDING AND
    * CURRENT ROW` — peers included per the SQL standard on both
    * engines). The rows-frame sibling is A25; the range frame is the one
    * that expresses "last hour", not "last 7 rows". One shuffle on
    * user_id; frame state is incremental within each sorted partition.
    */
  def qRangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    ev(spark, dir)
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum_q", sum("value_q").over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("roll_n"), col("roll_sum_q"))
      .orderBy("event_id")
  }

  /** A40 — ordered conversion funnel signup → click → purchase: each
    * stage's timestamp is the MIN event STRICTLY AFTER the previous
    * stage (not min-per-type — the order constraint is the funnel).
    * Three key-equi aggregates chained on user_id: one shuffle
    * partitioning reused across the cascade, no windows over the raw
    * log. Null stage timestamps mean the user never converted.
    */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val s = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("t_signup"))
    val c = e.filter(col("event_type") === "click")
      .join(s, "user_id").filter(col("ts_us") > col("t_signup"))
      .groupBy("user_id").agg(min("ts_us").as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts_us") > col("t_click"))
      .groupBy("user_id").agg(min("ts_us").as("t_purchase"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"))
      .orderBy("user_id")
  }

  /** A41 — cohort retention: cohort = the user's first-activity
    * epoch-week; one output row per (cohort_week, week_offset) with the
    * count of cohort users active that week. Two aggregates (per-user
    * first week, per-user-week activity) joined on user_id then
    * re-aggregated — the classic triangle matrix, rows bounded by
    * weeks², never by users.
    */
  def qRetentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val weeks = ev(spark, dir)
      .select(col("user_id"), expr("ts_us div 604800000000").as("week"))
      .distinct()
    val first = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    weeks.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** A42 — snapshot diff (CDC reconciliation): classify every key across
    * two extracts as added / removed / changed / unchanged with ONE
    * full-outer key join — the daily-re-extract comparison the
    * reference's INSERT-then-UPDATE cycle implies. The two "snapshots"
    * are deterministic derivations of orders (old missing keys ≡ 0 mod
    * 97, new missing keys ≡ 0 mod 101 and mutating status on ≡ 0 mod
    * 89), so the diff logic — not data loading — is what's exercised.
    */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    val s1 = o.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v1"))
    val s2 = o.filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 89 === 0, lit("X")).otherwise(col("o_orderstatus")).as("v2"))
    s1.join(s2, Seq("k"), "full_outer")
      .select(
        when(col("v1").isNull, lit("added"))
          .when(col("v2").isNull, lit("removed"))
          .when(col("v1") =!= col("v2"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"))
      .groupBy("change_type").agg(count(lit(1)).as("n"))
      .orderBy("change_type")
  }

  /** A43 — approximate per-group quantiles via `approx_percentile`
    * (GK sketch): the 100 TB path for A21/B13, where the exact-rank
    * window would sort every group. Sketches merge associatively —
    * map-side partials, one tiny result. Approximate output ⇒ rows-only
    * (spec bounds the rank error against the exact A21 values).
    */
  def qApproxQuantile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("q"))
      .select(col("l_returnflag"), col("q").getItem(0).as("p25"),
        col("q").getItem(1).as("p50"), col("q").getItem(2).as("p75"))
      .orderBy("l_returnflag")

  /** A44 — incremental aggregate maintenance: yesterday's per-group
    * partials (count + exact-cents sum) merged with today's delta batch
    * by RE-AGGREGATING THE UNION of partials — never rescanning history.
    * This is the 100 TB daily-ETL answer to "recompute the season-to-date
    * table" (the reference recomputes per game day, function.py:83-87):
    * history is touched once ever; each day costs O(delta) + a k-row
    * merge. Merge correctness is algebraic (counts and integer sums are
    * commutative monoids), so the oracle IS the full recompute — the
    * incrementality is result-invisible, like A27's salting.
    */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"), col("o_orderdate"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val cut = lit("1997-01-01").cast("timestamp")
    val state = partial(o.filter(col("o_orderdate") < cut))   // history, computed once
    val delta = partial(o.filter(col("o_orderdate") >= cut))  // today's batch
    state.unionAll(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_orders"), sum("sum_cents").as("sc"))
      .select(col("o_orderpriority"), col("n_orders"),
        (col("sc") / 100.0).as("revenue"),
        OracleRound.r4b(col("sc").cast("double") / (col("n_orders") * lit(100L)).cast("double")).as("avg_price"))
      .orderBy("o_orderpriority")
  }

  /** A55 — `q_incremental_distinct` (round-8 directive #3): A44's
    * incremental maintenance for the one aggregate that is NOT a plain
    * monoid on raw values — distinct count. Production ETL never
    * recounts history's distincts; it persists per-batch HLL SKETCHES
    * (mergeable registers) and unions them: each day costs O(delta)
    * sketching + a k-row register merge, and history parquet is touched
    * once ever. Here: per (priority, month) `hll_sketch_agg` partials
    * over `o_custkey`, persisted ONCE per JVM per sf dir as a binary
    * parquet state table (the real artifact shape — 1-2 KB per row at
    * lgK=12); the contract query re-sketches only the months at/after
    * the A44 cut (the "today" delta) and merges them with the
    * READ-BACK history rows via `hll_union_agg` → estimate.
    *
    * Approximate output ⇒ declared rows-only (DataSketches registers
    * aren't DuckDB-replayable), same treatment as A14/A43 — with the
    * exact twin A9 and a Round8Spec triple: merged-of-partials equals
    * the single-pass sketch EXACTLY (union is register-wise max, an
    * idempotent commutative monoid — incremental ≡ batch, not just
    * close), estimate within the lgK=12 error envelope of the exact
    * per-priority distinct, and the persisted state table survives a
    * re-read (restart recovery).
    *
    * Scale shape: partials are map-side combined per batch; the merge
    * aggregates |priorities|×|months| sketch rows, never raw history.
    * At 100 TB the state table is MBs while the fact table is TBs.
    */
  def qIncrementalDistinct(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1997-01-01").cast("timestamp")
    def sketched(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"), trunc(col("o_orderdate"), "month").as("batch_month"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val o = Tables.orders(spark, dir).select(
      col("o_orderpriority"), col("o_orderdate"), col("o_custkey"))
    // the persisted sketch-state table: history months, written once
    val statePath = graft.QueryCaches.memo(s"incrdistinct.state:$dir") {
      val p = graft.Scratch.dir("hll_state")
      Tables.write(sketched(o.filter(col("o_orderdate") < cut))).mode("overwrite").parquet(p)
      p
    }
    val history = Tables.parquet(spark, statePath)
    val delta = sketched(o.filter(col("o_orderdate") >= cut))
    history.unionAll(delta)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_batches"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_customers"))
      .orderBy("o_orderpriority")
  }

  /** A45 — event-type transition matrix (first-order Markov counts): per
    * user, each consecutive (prev → curr) event-type pair via one lag
    * window, then a tiny type×type aggregate. Output is O(|types|²)
    * regardless of row count; the only wide op is the per-user window's
    * single hash shuffle. Ordering is (ts_us, event_id) — microsecond
    * floor per the §4 rule, event_id making the sort total so nanosecond
    * ties (invisible to DuckDB's micros scan) cannot reorder pairs.
    */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("curr_type"))
      .groupBy("prev_type", "curr_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "curr_type")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_range_window" -> (qRangeWindow _),
    "q_funnel" -> (qFunnel _),
    "q_retention_cohort" -> (qRetentionCohort _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_approx_quantile" -> (qApproxQuantile _),
    "q_incremental_agg" -> (qIncrementalAgg _),
    "q_incremental_distinct" -> (qIncrementalDistinct _),
    "q_event_transitions" -> (qEventTransitions _))

  val oracles: Map[String, String] = Map(
    "q_range_window" ->
      """WITH e AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_q
        | FROM events)
        |SELECT event_id, user_id, ts_us,
        | count(*) OVER w AS roll_n,
        | CAST(sum(value_q) OVER w AS BIGINT) AS roll_sum_q
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s AS (SELECT user_id, min(ts_us) AS t_signup
        |      FROM e WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts_us) AS t_click
        |      FROM e JOIN s USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts_us > s.t_signup GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts_us) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts_us > c.t_click GROUP BY 1)
        |SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase
        |FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY s.user_id""".stripMargin,
    "q_retention_cohort" ->
      """WITH weeks AS (
        | SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        | FROM events),
        |first AS (SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY 1)
        |SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM weeks w JOIN first f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_snapshot_diff" ->
      """WITH s1 AS (
        | SELECT o_orderkey AS k, o_orderstatus AS v1
        | FROM orders WHERE o_orderkey % 97 <> 0),
        |s2 AS (
        | SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS v2
        | FROM orders WHERE o_orderkey % 101 <> 0)
        |SELECT CASE WHEN v1 IS NULL THEN 'added'
        |            WHEN v2 IS NULL THEN 'removed'
        |            WHEN v1 <> v2 THEN 'changed'
        |            ELSE 'unchanged' END AS change_type,
        |       count(*) AS n
        |FROM s1 FULL OUTER JOIN s2 USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_incremental_agg" ->
      s"""SELECT o_orderpriority,
        | count(*) AS n_orders,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
        | ${OracleRound.sql4("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / CAST(count(*) * 100 AS DOUBLE)")} AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_event_transitions" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        | FROM events),
        |p AS (
        | SELECT event_type AS curr_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        | FROM e)
        |SELECT prev_type, curr_type, count(*) AS n
        |FROM p WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
