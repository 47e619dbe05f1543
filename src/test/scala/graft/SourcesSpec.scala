package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  test("I1: JSON round-trip preserves rows and schema") {
    val orders = graft.tables.Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val path = tmp("json")
    Sources.writeJson(orders, path)
    val back = Sources.readJson(spark, path, orders.schema)
    assert(back.count() == orders.count())
    assert(back.schema == orders.schema)
    assert(back.agg(sum("o_totalprice")).head().getDouble(0) ==
      orders.agg(sum("o_totalprice")).head().getDouble(0))
  }

  test("I2: CSV round-trip preserves rows and schema") {
    val nation = graft.tables.Tables.nation(spark, sf)
    val path = tmp("csv")
    Sources.writeCsv(nation, path)
    val back = Sources.readCsv(spark, path, nation.schema)
    assert(back.count() == nation.count())
    assert(back.schema == nation.schema)
  }

  test("I2b: ORC round-trip preserves every value") {
    val supplier = graft.tables.Tables.supplier(spark, sf)
    val path = tmp("orc")
    Sources.writeOrc(supplier, path)
    val back = Sources.readOrc(spark, path)
    assert(back.schema == supplier.schema)
    assert(back.exceptAll(supplier).isEmpty && supplier.exceptAll(back).isEmpty)
  }

  test("I3: date-partitioned sink prunes partitions on read") {
    val orders = graft.tables.Tables.orders(spark, sf)
    val path = tmp("part")
    Sources.writeDatePartitioned(orders, "o_orderdate", path)
    val all = Sources.readDatePartitioned(spark, path)
    assert(all.count() == orders.count())
    val oneDay = all.select("p_date").distinct().limit(1).head().getDate(0)
    val pruned = all.filter(col("p_date") === lit(oneDay))
    // partition filter must reach the scan (pruned files, not a post-filter)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() > 0)
    assert(scan.contains("PartitionFilters") && scan.contains("p_date"))
  }

  test("I7: nested JSON round-trip recovers the flat rows exactly") {
    val sf = TestSpark.sf
    val back = graft.sources.SourceQueries.srcJsonNested(spark, sf)
    val orig = graft.tables.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice").orderBy("o_orderkey")
    assert(back.collect().toSeq == orig.collect().toSeq)
  }

  test("I8: DSv2 connector plans parallel slices and covers the keyspace exactly") {
    val df = spark.read.format("graft.sources.RangeStatsSource")
      .option("rows", "1000").option("slices", "4").load()
    // partition planning reaches the RDD: 4 disjoint slices
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 1000)
    // no dropped/duplicated ids across slice boundaries
    assert(df.select("id").distinct().count() == 1000)
    import org.apache.spark.sql.functions._
    assert(df.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(0L, 999L))
  }

  test("I8: id-range filters push into the connector — out-of-range rows never generated") {
    import org.apache.spark.sql.functions._
    val src = graft.sources.RangeStatsSource.rowsGenerated
    val df = spark.read.format("graft.sources.RangeStatsSource")
      .option("rows", "10000").option("slices", "4").load()
      .filter(col("id") >= 9000L && col("id") < 9500L)
    src.set(0)
    assert(df.count() == 500)
    val generated = src.get()
    assert(generated == 500,
      s"pushdown should generate exactly the 500 in-range rows, generated $generated")
  }

  test("I8: column pruning reaches the connector scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.RangeStatsSource")
      .option("rows", "1000").option("slices", "2").load()
      .select(count(col("bucket")))
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("cols=bucket"),
      s"scan should read only the bucket column:\n$scan")
  }

  test("I8: count(*) pushes into the connector — zero rows generated") {
    val src = graft.sources.RangeStatsSource.rowsGenerated
    val df = spark.read.format("graft.sources.RangeStatsSource")
      .option("rows", "100000").option("slices", "4").load()
    src.set(0)
    assert(df.count() == 100000L)
    assert(src.get() == 0,
      s"count(*) should come from slice bounds, generated ${src.get()} rows")
  }

  test("I10: JDBC round-trip through embedded Derby preserves every value") {
    import graft.sources.Jdbc
    val nation = graft.tables.Tables.nation(spark, sf)
    val url = Jdbc.derbyUrl(s"${tmp("jdbc_spec")}/db")
    Jdbc.write(nation, url, "nation_rt")
    val back = Jdbc.read(spark, url, "nation_rt").orderBy("n_nationkey")
    val orig = nation.orderBy("n_nationkey")
    assert(back.collect().toSeq == orig.collect().toSeq)
  }

  test("I10: partitioned JDBC read plans the requested parallel strides") {
    import graft.sources.Jdbc
    val nation = graft.tables.Tables.nation(spark, sf)
    val url = Jdbc.derbyUrl(s"${tmp("jdbc_part")}/db")
    Jdbc.write(nation, url, "nation_p")
    val back = Jdbc.readPartitioned(spark, url, "nation_p", "n_nationkey", 0L, 24L, 4)
    assert(back.rdd.getNumPartitions == 4,
      "range-partitioned read must fan out one stride per partition")
    assert(back.count() == nation.count(),
      "strides must cover the key range without gap or overlap")
  }

  test("I10: JDBC read pushes filters into the database scan") {
    import graft.sources.Jdbc
    val nation = graft.tables.Tables.nation(spark, sf)
    val url = Jdbc.derbyUrl(s"${tmp("jdbc_push")}/db")
    Jdbc.write(nation, url, "nation_pf")
    val df = Jdbc.read(spark, url, "nation_pf").filter(col("n_nationkey") > 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the predicate must appear INSIDE the PushedFilters bracket — the
    // JDBC scan prints "PushedFilters: [...]" even when empty, and the
    // column name is in the output schema regardless, so only the
    // rendered filter itself proves the WHERE ran database-side
    assert(plan.contains("GreaterThan(n_nationkey,10)"),
      s"filter not pushed to the JDBC source:\n$plan")
    assert(df.count() ==
      nation.filter(col("n_nationkey") > 10).count())
    // same property on the RANGE-PARTITIONED read — the path the I12
    // contract query actually uses; a dialect change that stops pushing
    // there would degrade every stride to a full-table pull
    val dfp = Jdbc.readPartitioned(spark, url, "nation_pf", "n_nationkey", 0L, 24L, 4)
      .filter(col("n_regionkey") === 1)
    dfp.collect()
    val planP = dfp.queryExecution.executedPlan.toString
    assert(planP.contains("EqualTo(n_regionkey,1)"),
      s"filter not pushed through the partitioned JDBC read:\n$planP")
    assert(dfp.count() == nation.filter(col("n_regionkey") === 1).count())
  }

  test("I11: JDBC append then latest-wins read resolves the UPDATE lifecycle") {
    import spark.implicits._
    import graft.sources.Jdbc
    val url = Jdbc.derbyUrl(s"${tmp("jdbc_merge")}/db")
    Jdbc.write(Seq((1L, "unknown", 1L), (2L, "unknown", 1L))
      .toDF("game_id", "winner", "_batch_id"), url, "games")
    Jdbc.write(Seq((1L, "home", 2L), (3L, "unknown", 2L))
      .toDF("game_id", "winner", "_batch_id"), url, "games", "append")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("game_id").orderBy(col("_batch_id").desc)
    val merged = Jdbc.read(spark, url, "games")
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("game_id", "winner").orderBy("game_id").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "home"), (2L, "unknown"), (3L, "unknown")))
  }

  test("I4: incremental append + latest-wins merge resolves late labels") {
    import spark.implicits._
    val path = tmp("merge")
    // day 1: games inserted with unknown winner
    Sources.appendBatch(
      Seq((1L, "unknown"), (2L, "unknown")).toDF("game_id", "winner"), path, 1L)
    // day 2: game 1 resolved; game 3 arrives
    Sources.appendBatch(
      Seq((1L, "home"), (3L, "unknown")).toDF("game_id", "winner"), path, 2L)
    val merged = Sources.readLatest(spark, path, Seq("game_id"))
      .orderBy("game_id").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "home"), (2L, "unknown"), (3L, "unknown")))
  }

  test("readCompacted reads the watermark of a meta rewritten in place") {
    import spark.implicits._
    val (log, base) = (tmp("wm_log"), tmp("wm_base"))
    Sources.upsertBatch(Seq((1L, "a")).toDF("k", "v"), log, 1L)
    Sources.compactLog(spark, log, Seq("k"), base)
    Sources.upsertBatch(Seq((1L, "b")).toDF("k", "v"), log, 2L)
    def latest() = Sources.readCompacted(spark, base, log, Seq("k"))
      .select("v").as[String].collect().toSeq
    // watermark 1: batch 2 is a delta over the base
    assert(latest() == Seq("b"))
    Seq(2L).toDF("_watermark").write.mode("overwrite").parquet(s"$base/meta")
    assert(Sources.watermark(spark, base) == 2L)
    // watermark 2: batch 2 reads as compacted, so the base's row wins
    assert(latest() == Seq("a"))
  }

  test("recompact's listed watermark equals max(_batch_id) over base and deltas") {
    import spark.implicits._
    def scannedWatermark(base: String, log: String): Long = {
      val wm0 = spark.read.parquet(s"$base/meta").head().getLong(0)
      spark.read.parquet(s"$base/base")
        .unionByName(spark.read.parquet(log).filter(col("_batch_id") > wm0))
        .agg(max(col("_batch_id")).cast("long")).head().getLong(0)
    }
    Seq(false, true).foreach { withDeltas =>
      val (log, base, next) = (tmp("rc_log"), tmp("rc_base"), tmp("rc_next"))
      Sources.upsertBatch(Seq((1L, "a"), (2L, "a")).toDF("k", "v"), log, 1L)
      Sources.upsertBatch(Seq((1L, "b")).toDF("k", "v"), log, 2L)
      Sources.compactLog(spark, log, Seq("k"), base)
      if (withDeltas) {
        Sources.upsertBatch(Seq((2L, "c")).toDF("k", "v"), log, 3L)
        Sources.upsertBatch(Seq((3L, "d")).toDF("k", "v"), log, 4L)
      }
      val want = scannedWatermark(base, log)
      assert(want == (if (withDeltas) 4L else 2L))
      Sources.recompact(spark, base, log, Seq("k"), next)
      assert(Sources.watermark(spark, next) == want, s"withDeltas=$withDeltas")
    }
  }

  test("a batch committed after recompact lists its watermark survives recompact and vacuum") {
    import spark.implicits._
    val (log, base, next) = (tmp("late_log"), tmp("late_base"), tmp("late_next"))
    Sources.upsertBatch(Seq((1L, "a"), (2L, "a")).toDF("k", "v"), log, 1L)
    Sources.compactLog(spark, log, Seq("k"), base)
    Sources.upsertBatch(Seq((2L, "b")).toDF("k", "v"), log, 2L)
    val listed = Sources.committedIds(log).last
    // another writer commits between recompact's listing and its read
    Sources.upsertBatch(Seq((1L, "late")).toDF("k", "v"), log, 3L)
    Sources.recompactThrough(spark, base, log, Seq("k"), next, listed)
    assert(Sources.watermark(spark, next) == listed)
    assert(spark.read.parquet(s"$next/base").filter(col("v") === "late").isEmpty,
      "the new base folded in a batch above its own watermark")
    Sources.vacuumLog(spark, log, next)
    assert(Sources.committedIds(log) == Seq(3L))
    val latest = Sources.readCompacted(spark, next, log, Seq("k"))
      .select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(latest == Seq((1L, "late"), (2L, "b")))
  }

  test("manifest key ranges come from footers; a file without statistics takes the job") {
    val orders = graft.tables.Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
    def job(file: String): (Long, Long) = {
      val r = spark.read.parquet(file)
        .agg(min(col("o_orderkey")).cast("long"), max(col("o_orderkey")).cast("long")).head()
      (r.getLong(0), r.getLong(1))
    }
    def jobsIn[T](body: => T): (T, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        (r, n.get)
      } finally spark.sparkContext.removeSparkListener(l)
    }
    // a session whose parquet writer keeps no column statistics
    val bare = spark.newSession()
    bare.conf.set("parquet.column.statistics.enabled", "false")
    val log = tmp("manifest_log")
    Seq(orders, bare.createDataFrame(orders.rdd, orders.schema)).foreach { df =>
      val id = Sources.commitBatchWithStats(df.repartition(3), log, "w", "o_orderkey")
      val files = new java.io.File(log, s"_batch_id=$id").listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
      assert(files.size == 3)
      val manifest = spark.read.parquet(s"${Sources.manifestDir(log)}/batch=$id").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(manifest == files.map(f => new java.io.File(f).getName -> job(f)).toMap, s"batch $id")
      val withStats = df eq orders
      files.foreach { f =>
        assert(Sources.footerRange(spark, f, "o_orderkey").isDefined == withStats, f)
        val (range, jobs) = jobsIn(Sources.keyRange(spark, f, "o_orderkey"))
        assert(range == job(f))
        assert(if (withStats) jobs == 0 else jobs > 0, s"$jobs jobs for $f")
      }
    }
    // a non-integer column has no footer range either
    val f0 = new java.io.File(log, "_batch_id=1").listFiles.find(_.getName.endsWith(".parquet")).get
    assert(Sources.footerRange(spark, f0.getAbsolutePath, "o_orderstatus").isEmpty)
  }
}
