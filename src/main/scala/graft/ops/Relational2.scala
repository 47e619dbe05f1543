package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Relational extensions (round 2) — SURVEY.md §2.A (A18-A22).
  *
  * Widens the query core with the remaining reporting/join shapes a user
  * of the reference's SQL surface reaches for: bounded-interval (range)
  * joins, pivot/cube reporting, exact discrete quantiles, and bucketed
  * co-located joins (the 100 TB answer to the A4 shuffle join).
  */
object Relational2 {

  /** A18 — bounded range join: for every `error` event, count the same
    * user's `click` events in the preceding 5 minutes.
    *
    * The naive formulation is a non-equi join (ts BETWEEN ...) which Spark
    * executes as a broadcast nested loop — O(n·m) and undistributable. The
    * scale path: floor both sides into 300-second bands, equi-join on
    * (user_id, band) with the probe exploded to its two candidate bands
    * (a window of length W fully covers ≤ 2 bands of width W), then apply
    * the exact interval predicate on the band-colliding pairs only. One
    * hash shuffle, candidates bounded by band co-residency, never n².
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    // events.ts arrives as BIGINT nanoseconds (nanosAsLong); the operator
    // is defined at microsecond resolution (`ts div 1000`) because that is
    // the finest precision every engine in the pipeline preserves —
    // integer arithmetic end to end, no timestamp-type coercion anywhere
    val e = Tables.events(spark, dir)
    val usec = expr("ts div 1000")
    val band = expr("ts div 1000 div 300000000") // 300-second bands in μs
    val win = 300L * 1000000L
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), usec.as("ets"), band.as("band"))
    val probe = errors.select(col("event_id"), col("user_id"), col("ets"),
      explode(array(col("band") - 1, col("band"))).as("jband"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), usec.as("cts"), band.as("jband"))
    probe.join(clicks,
        probe("user_id") === clicks("c_user") && probe("jband") === clicks("jband") &&
          clicks("cts") >= probe("ets") - lit(win) &&
          clicks("cts") < probe("ets"),
        "left")
      .groupBy("event_id")
      // two probe copies per event survive the left join; count(c_user)
      // counts only matched rows, and each in-window click matches exactly
      // one copy (its own band) — so no dedup step is needed
      .agg(count(col("c_user")).as("n_prior_clicks"))
      .orderBy("event_id")
  }

  /** A19 — pivot (long→wide reporting): order counts per priority × status.
    * Explicit pivot values keep the plan static (no driver-side distinct
    * scan to discover columns — required at 100 TB).
    */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** A20 — CUBE: all 2^k grouping-set combinations in one pass (partial
    * aggregation handles the expansion map-side; no k separate scans).
    */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("revenue"))
      .orderBy("status", "priority")

  /** A21 — exact discrete quantiles per group (p25/p50/p95 of event value).
    *
    * Value at rank ceil(q·n) in the per-group sort order — the classic
    * lower discrete quantile, rank arithmetic identical on both engines
    * (no interpolation, so no cross-engine float drift at all: outputs are
    * raw input values). One shuffle; rank and group size come from the
    * same window partition. The 100 TB path swaps the exact window for
    * approx_percentile cutpoints (documented, not oracle-matchable).
    */
  def qPercentileDisc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("event_type", "event_id", "value")
    val wOrd = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy("event_type")
    e.withColumn("r", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy("event_type")
      // ceil(q·n) in INTEGER arithmetic — (n·p + 99) div 100 — because
      // ceil(n * 0.95) in doubles overshoots by one whenever q·n is an
      // exact integer (0.95 rounds up in binary; n=10000 → rank 9501)
      .agg(
        max(when(col("r") === expr("(n * 25 + 99) div 100"), col("value"))).as("p25"),
        max(when(col("r") === expr("(n * 50 + 99) div 100"), col("value"))).as("p50"),
        max(when(col("r") === expr("(n * 95 + 99) div 100"), col("value"))).as("p95"))
      .orderBy("event_type")
  }

  /** A22 — bucketed co-located join: the 100 TB answer to A4.
    *
    * Both fact tables are written bucketed (and sorted) by the join key;
    * the join then reads bucket i ⋈ bucket i with NO Exchange on either
    * side — the layout cost is paid once at write time and every
    * downstream join/aggregation on the key reuses it. The spec asserts
    * the executed plan contains no shuffle below the join.
    * 8 buckets here ≙ thousands at production scale.
    */
  def qJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    Tables.saveBucketed(Tables.orders(spark, dir), "g_orders_bucketed", "o_orderkey")
    Tables.saveBucketed(Tables.lineitem(spark, dir), "g_lineitem_bucketed", "l_orderkey")
    val o = spark.table("g_orders_bucketed")
    val li = spark.table("g_lineitem_bucketed")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000).cast("long")) / 10000.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** A23 — JSON column processing: `events.props` carries a JSON payload
    * (the API-pull reality the reference ingests, function.py REST
    * responses). `get_json_object` extracts in-projection — codegen'd,
    * no UDF, pushdown-friendly — and feeds a normal aggregate.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** A24 — set operations: INTERSECT / EXCEPT between two extracts (the
    * re-run reconciliation question: which games appear in both pulls /
    * only in one). Spark plans both as aggregates+joins, not sorts.
    */
  def qIntersectExcept(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    val e1 = o.filter(col("o_orderkey") % 3 =!= 0)
    val e2 = o.filter(col("o_orderkey") % 2 === 0)
    val both = e1.intersect(e2).agg(count(lit(1)).as("n"))
      .select(lit("both").as("kind"), col("n"))
    val onlyFirst = e1.exceptAll(e2).agg(count(lit(1)).as("n"))
      .select(lit("only_first").as("kind"), col("n"))
    both.unionByName(onlyFirst).orderBy("kind")
  }

  /** A25 — sliding-frame window: 7-row moving average per supplier (the
    * rolling form-curve stat every sports model wants). Same single
    * shuffle as the running frame in A6; the averaged column is integral
    * (quantities), so sliding-frame incremental add/remove arithmetic is
    * exact on both engines. Duplicate fact rows are position-
    * interchangeable: the output multiset is engine-independent.
    */
  def qMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .rowsBetween(-6, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        OracleRound.r4b(avg("l_quantity").over(w)).as("qty_ma7"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "qty_ma7")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_moving_avg" -> (qMovingAvg _),
    "q_json_extract" -> (qJsonExtract _),
    "q_intersect_except" -> (qIntersectExcept _),
    "q_range_join" -> (qRangeJoin _),
    "q_pivot" -> (qPivot _),
    "q_cube" -> (qCube _),
    "q_percentile_disc" -> (qPercentileDisc _),
    "q_join_bucketed" -> (qJoinBucketed _))

  val oracles: Map[String, String] = Map(
    "q_moving_avg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | floor((avg(l_quantity) OVER (
        |   PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) * 10000 + 0.5) / 10000 AS qty_ma7
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, qty_ma7""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        | count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_intersect_except" ->
      """SELECT * FROM (
        | SELECT 'both' AS kind, count(*) AS n FROM (
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
        |  INTERSECT
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0)
        | UNION ALL
        | SELECT 'only_first' AS kind, count(*) AS n FROM (
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
        |  EXCEPT ALL
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0))
        |ORDER BY kind""".stripMargin,
    // epoch_us(ts) truncates exactly like Spark's `ts div 1000` on the
    // nanosecond longs, so the window boundaries agree to the microsecond
    "q_range_join" ->
      """WITH e AS (
        | SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT err.event_id, count(c.us) AS n_prior_clicks
        |FROM e err LEFT JOIN e c
        |  ON c.user_id = err.user_id AND c.event_type = 'click'
        | AND c.us >= err.us - 300000000 AND c.us < err.us
        |WHERE err.event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderpriority,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n,
        | sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_percentile_disc" ->
      """WITH ranked AS (
        | SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events)
        |SELECT event_type,
        | max(CASE WHEN r = (n * 25 + 99) // 100 THEN value END) AS p25,
        | max(CASE WHEN r = (n * 50 + 99) // 100 THEN value END) AS p50,
        | max(CASE WHEN r = (n * 95 + 99) // 100 THEN value END) AS p95
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority,
        | sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
