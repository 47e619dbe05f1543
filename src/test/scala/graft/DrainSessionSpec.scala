package graft

import java.io.File

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CheckpointRestart

/** The session a tick drains in: the caller's runtime confs carry over
  * (state store provider, time zone), each tick commits one micro-batch,
  * and the state deferred to the next tick's data batch stays bounded by
  * one tick's windows plus the watermark band.
  */
class DrainSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val rocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hourMs = 3600L * 1000

  /** The tick's windowed aggregate as a batch query (G14's twin). */
  private def twin(rows: DataFrame): DataFrame = rows
    .select(expr("timestamp_micros(ts div 1000)").as("event_ts"), col("event_type"), col("value"))
    .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      sum(floor(col("value") * 100000000L + lit(0.5)).cast("long")).as("sv_q"))
    .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"), col("n_events"),
      graft.ops.OracleRound.r4b(col("sv_q") / 100000000.0).as("sum_value"))

  private def logEntries(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.forall(_.isDigit))

  test("ticks keep the caller's runtime confs, commit one batch each, and bound deferred state") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", rocksDb)
    s2.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    val root = java.nio.file.Files.createTempDirectory("graft_drain_session").toString
    val (src, out, ckpt) = (s"$root/src", s"$root/out/t", s"$root/ckpt")
    val ev = graft.tables.Tables.events(s2, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val mm = ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cuts = Seq(lo - 1, lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3, hi)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      ev.filter(col("ts") > a && col("ts") <= b).repartition(2)
        .write.mode("append").parquet(src)
      CheckpointRestart.tick(s2, src, out, ckpt)
      assert(logEntries(s"$ckpt/commits").size == i + 1,
        s"tick ${i + 1} left ${logEntries(s"$ckpt/commits").size} commits")
    }

    val offsets = Source.fromFile(s"$ckpt/offsets/0", "UTF-8")
    try assert(offsets.mkString.contains(rocksDb), "offset log does not record RocksDB")
    finally offsets.close()

    val drained = CheckpointRestart.finalSink(s2, out)
      .select("window_start", "event_type", "n_events", "sum_value")
    val batch = twin(ev)
    assert(drained.count() > 0)
    assert(drained.exceptAll(batch).isEmpty && batch.exceptAll(drained).isEmpty,
      "ticks diverged from the batch twin in the caller's time zone")
    // +05:30 renders the hour windows at half past
    assert(drained.filter(!col("window_start").endsWith(":30:00")).isEmpty)

    // The last tick's one batch evicted with the watermark the second tick
    // reached (its max event time - 2 h, in ms); only windows ending after
    // it remain.
    val maxUs = ev.filter(col("ts") <= cuts(2)).agg(max("ts")).head().getLong(0) / 1000
    val wmUs = (maxUs / 1000 - 2 * hourMs) * 1000
    val state = s2.read.format("statestore").load(ckpt)
      .select(col("key.window.end").as("end"))
    val bound = twin(ev.filter(col("ts") > cuts(1)))
      .filter(to_timestamp(col("window_start")) + expr("INTERVAL 1 HOUR") >
        timestamp_micros(lit(wmUs)))
      .count()
    val held = state.count()
    assert(held > 0 && held <= bound, s"state holds $held windows, bound $bound")
    assert(state.filter(col("end") <= timestamp_micros(lit(wmUs))).isEmpty,
      "state kept windows the watermark had passed")
  }

  /** How many listeners the context's bus holds once its queued events
    * are delivered. The bus is internal to Spark, so it is reached
    * reflectively.
    */
  private def busListenerCount(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(10000L))
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  test("ticks leave no listeners behind and the caller's listeners see every tick") {
    val s2 = spark.newSession()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    s2.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = events.add("started")
      override def onQueryProgress(e: QueryProgressEvent): Unit = events.add("progress")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = events.add("terminated")
    })
    val root = java.nio.file.Files.createTempDirectory("graft_drain_listeners").toString
    val (src, out, ckpt) = (s"$root/src", s"$root/out/t", s"$root/ckpt")
    val ev = graft.tables.Tables.events(s2, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val mm = ev.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val cuts = (0 to 6).map(i => if (i == 0) lo - 1 else lo + (hi - lo) * i / 6)
    val counts = cuts.sliding(2).map { case Seq(a, b) =>
      ev.filter(col("ts") > a && col("ts") <= b).write.mode("append").parquet(src)
      CheckpointRestart.tick(s2, src, out, ckpt)
      busListenerCount()
    }.toSeq
    assert(counts.last == counts.head, s"listeners per tick: ${counts.mkString(" → ")}")
    val seen = events.asScala.toSeq
    Seq("started", "progress", "terminated").foreach { kind =>
      assert(seen.count(_ == kind) == 6, s"the caller's listener saw ${seen.mkString(", ")}")
    }
  }
}
