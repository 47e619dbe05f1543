package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** A32b — `q_stats_join`: STATS-DRIVEN join planning (round-9
  * directive #4). Every other plan in this engine is hand-shaped; at
  * 100 TB with many consumers, cost-based-optimizer statistics are how
  * the right plan survives contact with tables the author didn't
  * hand-tune. This module demonstrates the full CBO loop the way a
  * production deployment runs it:
  *
  *  1. the corpus tables are registered in the catalog and ANALYZEd
  *     (table stats + column stats on the join/filter keys) — a
  *     one-time metadata pass, once per JVM per sf dir;
  *  2. the contract query joins a FILTERED dimension to the fact:
  *     exactly the shape where file-size estimation fails — without
  *     column stats the Filter's size estimate is its child's, so the
  *     planner must assume the whole dimension flows into the join;
  *     with stats, the equality predicate's selectivity (1/ndv)
  *     shrinks the estimate ~25× and the planner can broadcast.
  *
  * The DEMONSTRATION is spec-pinned, not config-smuggled: Round9eSpec
  * reads the optimizer's own estimates under CBO off/on, picks a
  * broadcast threshold BETWEEN them, and proves the physical shape
  * flips SortMergeJoin ↔ BroadcastHashJoin on nothing but statistics —
  * while the collected result (and the contract row's driver hash) is
  * bit-identical under both shapes. The contract row itself runs under
  * session defaults; its oracle is the plain relational answer, so the
  * driver proves result-invariance of whatever shape the planner
  * picked.
  */
object StatsPlan {

  /** Catalog-register + ANALYZE once per SparkContext per sf dir; returns the
    * (customer, orders) table names. External tables over the source
    * parquet — ANALYZE writes stats into the session catalog only.
    */
  private[graft] def analyzedTables(spark: SparkSession, dir: String): (String, String) =
    graft.QueryCaches.memo(s"statsplan.tables:$dir") {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val cust = s"g_stats_customer$tag"
      val ord = s"g_stats_orders$tag"
      spark.sql(s"CREATE TABLE IF NOT EXISTS $cust USING parquet LOCATION '$dir/customer.parquet'")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $ord USING parquet LOCATION '$dir/orders.parquet'")
      spark.sql(s"ANALYZE TABLE $cust COMPUTE STATISTICS FOR COLUMNS c_custkey, c_nationkey")
      spark.sql(s"ANALYZE TABLE $ord COMPUTE STATISTICS FOR COLUMNS o_custkey, o_orderpriority")
      (cust, ord)
    }

  /** The demo join over the ANALYZED catalog tables: a selective
    * dimension filter (c_nationkey = 1, ~1/25 of customers) into the
    * fact join — integer-exact aggregates so the oracle replays
    * bit-for-bit regardless of which physical join shape ran.
    */
  def qStatsJoin(spark: SparkSession, dir: String): DataFrame = {
    val (cust, ord) = analyzedTables(spark, dir)
    spark.table(cust).filter(col("c_nationkey") === 1)
      .join(spark.table(ord), col("c_custkey") === col("o_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), sum("o_orderkey").as("sum_key"))
      .orderBy("o_orderpriority")
  }

  /** A57 — `q_stats_hist`: HISTOGRAM statistics (round-10 directive
    * #5). A56 demonstrates the 1/ndv equality estimate — correct on
    * uniform keys, and exactly wrong on the key one 100 TB table
    * always presents: a HOT value. On a column where one value covers
    * 90% of rows, `rows/ndv` under-sizes the hot-key filter ~90×, and
    * a planner trusting it will happily BROADCAST a 90%-of-the-fact
    * slice — the catastrophic plan at scale. `ANALYZE ... FOR COLUMNS`
    * with `spark.sql.statistics.histogram.enabled=on` records an
    * equi-height histogram whose bins resolve the hot value, putting
    * the estimate within 2× of truth; Round10dSpec pins the mis-size,
    * the fixed estimate, and the join shape flipping on nothing but
    * WHICH stats the catalog serves — same parquet, same query,
    * bit-identical result.
    *
    * The skew is a DERIVED column (the corpus tables are uniform by
    * construction): hot_key = 0 for 90% of orders, else one of 100
    * cold values — written once to scratch parquet and registered
    * twice, once analyzed with histograms and once with plain column
    * stats, so the two estimate regimes are catalog-selectable over
    * byte-identical data.
    */
  private[graft] def histTables(spark: SparkSession, dir: String): (String, String) =
    graft.QueryCaches.memo(s"statsplan.hist:$dir") {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val hist = s"g_stats_hotorders$tag"
      val noHist = s"g_stats_hotorders_nh$tag"
      val path = graft.Scratch.dir("stats_hist")
      Tables.write(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 10 =!= 0, lit(0L))
            .otherwise(col("o_orderkey") % 1000 + 1).as("hot_key")))
        .mode("overwrite").parquet(path)
      spark.sql(s"CREATE TABLE IF NOT EXISTS $hist USING parquet LOCATION '$path'")
      spark.sql(s"CREATE TABLE IF NOT EXISTS $noHist USING parquet LOCATION '$path'")
      spark.sql(s"ANALYZE TABLE $noHist COMPUTE STATISTICS FOR COLUMNS hot_key, o_orderkey")
      val prev = spark.conf.get("spark.sql.statistics.histogram.enabled", "false")
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      try spark.sql(s"ANALYZE TABLE $hist COMPUTE STATISTICS FOR COLUMNS hot_key, o_orderkey")
      finally spark.conf.set("spark.sql.statistics.histogram.enabled", prev)
      (hist, noHist)
    }

  /** The demo query over either stats regime: the hot-key slice (90%
    * of the fact) re-joined to the full fact on the order key — the
    * join where a mis-sized filter estimate broadcasts a near-full
    * fact copy. Integer-exact aggregates; the contract row runs the
    * histogram-analyzed table under session defaults.
    */
  private[graft] def qStatsHistOver(spark: SparkSession, dir: String,
                                    useHist: Boolean): DataFrame = {
    val (hist, noHist) = histTables(spark, dir)
    val t = if (useHist) hist else noHist
    spark.table(t).filter(col("hot_key") === 0)
      .select(col("o_orderkey"))
      .join(graft.tables.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")), Seq("o_orderkey"))
      .groupBy((col("o_custkey") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_orders"), sum("o_orderkey").as("sum_key"))
      .orderBy("cohort")
  }

  def qStatsHist(spark: SparkSession, dir: String): DataFrame =
    qStatsHistOver(spark, dir, useHist = true)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats_join" -> (qStatsJoin _),
    "q_stats_hist" -> (qStatsHist _))

  val oracles: Map[String, String] = Map(
    "q_stats_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE c_nationkey = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the derived hot_key projection replayed inline; whatever join
    // shape the planner picked, the answer must match this relational
    // truth bit-for-bit
    "q_stats_hist" ->
      """SELECT o_custkey % 10 AS cohort, count(*) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 10 <> 0 THEN 0
        |             ELSE o_orderkey % 1000 + 1 END AS hot_key
        |      FROM orders) h
        |JOIN orders USING (o_orderkey)
        |WHERE hot_key = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
