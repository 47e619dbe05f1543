package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSessionBridge, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType

import graft.sources.LocalFs
import graft.tables.Tables

/** The scheduled-drain shape every streaming admit shares: a parquet
  * file stream over the files of `srcDir` matching `glob`, run with
  * `Trigger.AvailableNow` against the checkpoint `ckpt`, so each drain
  * processes what has arrived since the previous one and terminates.
  * `perBatch` gets each micro-batch and its id; `foreachBatch` is
  * at-least-once, so it must be idempotent per batch id.
  */
private[graft] object Drain {
  def apply(spark: SparkSession, schema: StructType, srcDir: String, glob: String,
            ckpt: String, maxFilesPerTrigger: Option[Int] = None)
           (perBatch: (DataFrame, Long) => Unit): Unit =
    availableNow(spark) { s =>
      val reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
      maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
      reader.parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(perBatch)
    }

  /** Drain the file `<table>.parquet` of `dir` once per memo `key` into
    * the sink of a fresh scratch dir `name-N`, and return the sink.
    * `perBatch` is built inside the memo, before the stream starts, and
    * gets each micro-batch, the sink and the batch id.
    */
  def sinkOnce(spark: SparkSession, key: String, name: String, dir: String, table: String)
              (perBatch: => (DataFrame, String, Long) => Unit): String =
    graft.QueryCaches.memo(key) {
      val base = graft.Scratch.dir(name)
      val (sink, ckpt) = (s"$base/sink", s"$base/ckpt")
      val f = perBatch
      Drain(spark, Tables.load(spark, dir, table).schema, dir, s"$table.parquet", ckpt)(
        f(_, sink, _))
      sink
    }

  /** Overwrite the partition `batch=<batchId>` of `sink` with `df`, so a
    * redelivered micro-batch replaces its previous attempt instead of
    * adding to it: the at-least-once `foreachBatch` becomes idempotent.
    */
  def toBatch(df: DataFrame, sink: String, batchId: Long): Unit =
    Tables.write(df).mode("overwrite").parquet(s"$sink/batch=$batchId")

  /** Start the query `build` defines over the drain session of `spark`
    * with `Trigger.AvailableNow`, and wait until it has drained.
    *
    * Every session whose query manager exists has a streaming-listener
    * bus on the context's listener bus, and Spark never removes one. A
    * drain makes two: the drain session's, which carries the query's
    * events, and the batch session's, made when a stateful operator asks
    * it for the state store coordinator. Both are detached once done, so
    * ticks leave the context's listeners as they found them: the batch
    * session's as soon as the query has terminated (no query reports
    * through it), the drain session's by the drain session itself once
    * it has delivered the query's terminated event. Neither waits.
    */
  def availableNow(spark: SparkSession)(build: SparkSession => DataStreamWriter[Row]): Unit = {
    val q = build(session(spark)).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally {
      val batchSession = GraftSessionBridge.batchSession(q)
      val mark = new OnTerminated(_ => ())
      batchSession.streams.addListener(mark)
      GraftSessionBridge.detachStreams(batchSession, mark)
    }
  }

  /** A streaming listener that acts only on termination, on itself. */
  private class OnTerminated(act: StreamingQueryListener => Unit) extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = act(this)
  }

  /** The session a drain runs in: a clone of `spark`, so every runtime
    * conf (state store provider, time zone, ...) carries over, with the
    * streaming listeners of `spark` the clone does not register itself
    * (those built from static confs, the UI's), plus
    *  - [[LocalFs.options]]: checkpoint, state and source-log files are
    *    written without process forks;
    *  - no empty micro-batch: a drain runs one batch per `maxFilesPerTrigger`
    *    slice and none after it. The empty batch of a stateful query only
    *    advances the watermark and evicts state; the next drain's first
    *    data batch runs the same eviction from the watermark the commit
    *    log recorded;
    *  - late rows filtered by the batch's own watermark, not the previous
    *    batch's: with no empty batch in between, the previous batch is the
    *    last drain's data batch, whose watermark predates that data, so
    *    rows the last drain made late would be aggregated. This allows one
    *    stateful operator per query. Neither setting is recorded in the
    *    offset log, so both apply to existing checkpoints too;
    *  - no artifact isolation: tasks run in the executor's default
    *    session state, whose classloader keys Spark's code cache, so a
    *    drain reuses the classes earlier drains compiled instead of
    *    compiling them again under a per-query classloader;
    *  - a listener that detaches the session's streaming-listener bus
    *    from the context once it has delivered the terminated event.
    */
  private def session(spark: SparkSession): SparkSession = {
    val s = GraftSessionBridge.cloneSession(spark)
    LocalFs.options.foreach { case (k, v) => s.conf.set(k, v) }
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s.conf.set("spark.sql.streaming.statefulOperator.allowMultiple", "false")
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    val own = s.streams.listListeners().map(_.getClass).toSet
    spark.streams.listListeners().filterNot(l => own(l.getClass)).foreach(s.streams.addListener)
    // detaching stops later events only: the bus still delivers the
    // terminated event to every listener it holds
    s.streams.addListener(new OnTerminated(GraftSessionBridge.detachStreams(s, _)))
    s
  }
}
