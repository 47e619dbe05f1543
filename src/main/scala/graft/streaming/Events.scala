package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Streaming analytics — SURVEY.md §2.G.
  *
  * The reference is a daily micro-batch pipeline (fetch → insert →
  * next-day update). Generalized here to event-time processing over the
  * `events` table: tumbling-window aggregation and gap-based
  * sessionization, each with a batch-equivalent formulation (SQL-oracled)
  * plus a true Structured Streaming runtime path (readStream → watermark →
  * window → sink) exercised by the test suite.
  *
  * `events.ts` carries the engine contract of Long epoch-nanos
  * (`Tables.normalizeTs`); conversions use integer `div` — double
  * division would lose precision above 2^53 ns.
  */
object Events {

  /** Nanos-long → timestamp (micro truncation is exact for window maths). */
  private def tsCol = expr("timestamp_micros(ts div 1000)")

  /** File-stream over the events table with the engine ts contract
    * (Long epoch-nanos) restored: the source must be declared with the
    * RAW file schema (a normalized schema would mismatch the parquet
    * footer), so the same `Tables.normalizeTs` conversion is applied to
    * the streaming frame after load.
    */
  private[streaming] def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(
      spark.readStream
        // raw schema via the shared loader, so the path convention and
        // any future layout change live in Tables alone
        .schema(Tables.load(spark, dir, "events").schema)
        // file streams list a directory; glob-filter selects the one table
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** Order-independent cross-engine sum of a full-precision double
    * column: quantize each value to an exact 1e-8 grid with pure binary
    * arithmetic (floor(v·1e8 + 0.5) — identical on any IEEE engine),
    * sum as exact integers, rescale. A plain double sum merges partial
    * aggregates in partition order, which differs between engines/runs.
    */
  private def exactSum8(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(c * 100000000L + lit(0.5)).cast("long")) / 100000000.0

  /** G1 — tumbling 1-hour window aggregation (batch formulation):
    * per (window, event_type) counts/sums. Single shuffle on the
    * (window, type) key with map-side partial aggregation.
    */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_trunc("hour", tsCol).as("hour"), col("event_type"), col("value"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n_events"), graft.ops.OracleRound.r4b(exactSum8(col("value"))).as("sum_value"))
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** G2 — gap-based sessionization (30-min timeout), batch formulation:
    * lag → new-session flag → running sum as session index. One shuffle
    * (partition by user), in-partition sort; nanosecond arithmetic stays
    * in exact Long space.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapNs = 30L * 60 * 1000 * 1000 * 1000
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        graft.ops.OracleRound.r4b(exactSum8(col("value"))).as("sum_value"),
        date_format(expr("timestamp_micros(min(ts) div 1000)"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy("user_id", "session_id")
  }

  /** G2b — sessionization through Spark's NATIVE `session_window`
    * aggregate (the operator the lag-formulation in G2 hand-builds).
    * One shuffle on the session key; in Structured Streaming the same
    * expression maintains merging session state with watermark expiry.
    * Semantics note (MEASURED, StreamingSpec's constructed boundary):
    * session_window is boundary-INCLUSIVE — an event exactly `gap`
    * after the previous one MERGES into its session (two 4-event
    * bursts 30:00 apart form ONE session of 8). That is the same
    * boundary G2's strict `>` lag test draws, so the twins agree
    * everywhere; the oracle uses strict `>` on microseconds. (An
    * earlier doc note claimed end-exclusive `>=` — refuted by the
    * measurement; the `>=` oracle never fired only because no corpus
    * has an adjacent pair at exactly 1800.000000 s.)
    */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), tsCol.as("event_ts"), col("value"))
      .groupBy(col("user_id"), session_window(col("event_ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.OracleRound.r4b(exactSum8(col("value"))).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  /** G3 — the Structured Streaming runtime path: file stream over the
    * events parquet → event-time watermark → tumbling window agg →
    * in-memory sink. Returns the sink query name; the caller (test)
    * drains with `processAllAvailable` and compares against the batch
    * formulation (G1 shape). At scale the same plan runs on a Kafka
    * source with checkpointing — watermarks bound the window state store.
    */
  def startStreamingWindowAgg(spark: SparkSession, dir: String,
                              queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    eventsStream(spark, dir)
      .select(tsCol.as("event_ts"), col("event_type"), col("value"))
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), graft.ops.OracleRound.r4b(sum("value")).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_agg" -> (streamWindowAgg _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_session_window" -> (streamSessionWindow _),
    "stream_window_topk" -> (streamWindowTopk _),
    "stream_corpus_admit" -> (CorpusAdmit.streamCorpusAdmit _),
    "stream_quality_admit" -> (QualityAdmit.streamQualityAdmit _),
    "stream_shard_route" -> (ShardRoute.streamShardRoute _),
    "stream_vector_admit" -> (VectorAdmit.streamVectorAdmit _),
    "stream_tombstone_admit" -> (TombstoneAdmit.streamTombstoneAdmit _))

  /** G9 — windowed heavy hitters: top-3 event types per tumbling hour
    * (the live "what's trending this hour" report). The per-window rank
    * runs over the TINY (windows × types) aggregate, never the events;
    * in streaming form the same plan hangs off G1's windowed aggregate
    * with the rank in `foreachBatch` — counts are the only state.
    */
  def streamWindowTopk(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(date_trunc("hour", tsCol).as("hour"), col("event_type"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("hour").orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("rank"), col("event_type"), col("n_events"))
      .orderBy("window_start", "rank")
  }

  val oracles: Map[String, String] = Map(
    // D13's oracle VERBATIM: the streaming ingest gate and the batch
    // backfill must hash-agree verdict for verdict
    "stream_corpus_admit" -> graft.ops.Dedup2.oracles("dedup_incremental"),
    // D18's oracle VERBATIM: a takedown delivered as a stream of
    // events and a takedown applied as one batch sidecar write must
    // hash-agree verdict for verdict (stream ≡ batch deletes)
    "stream_tombstone_admit" -> graft.ops.Dedup2.oracles("dedup_tombstone"),
    // G16 scores the stream with F21's exact projections under the
    // frozen offline-trained model — the sink audit shares F21's
    // oracle verbatim, hash-proving stream ≡ batch verdicts
    "stream_quality_admit" -> graft.ops.QualityGate.oracles("corpus_quality_gate"),
    // E18's oracle VERBATIM: the micro-batched graph ingest and the
    // one-shot batch append must hash-agree on the served neighbors AND
    // the gate decision
    "stream_vector_admit" -> graft.ops.GraphAnn.oracles("ann_graph_append"),
    // I16's oracle VERBATIM: the streamed route must land the manifest
    // the batch shard writer produces
    "stream_shard_route" -> graft.sources.SourceQueries.oracles("corpus_shard_bpe"),
    "stream_window_topk" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS window_start,
        |       rank, event_type, n_events
        |FROM (SELECT *, row_number() OVER (PARTITION BY hour
        |        ORDER BY n_events DESC, event_type) AS rank FROM c)
        |WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin,
    "stream_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n_events, floor((sum(CAST(floor(value * 100000000 + 0.5) AS BIGINT)) / 100000000.0) * 10000 + 0.5) / 10000 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // micros-resolution gap-merge replay. Sessions are flagged over the
    // DISTINCT (user, us) pairs — a VALUE property, like session_window
    // itself — then events join back by (user, us). The earlier
    // formulation flagged raw rows: with duplicate timestamps, `lag`
    // pins new_session to ONE arbitrary row among the ties while the
    // running-sum window may order the same ties differently, landing
    // the session boundary mid-tie (the 4× rehearsal's exact-duplicate
    // corpus measurably split a 4+4 boundary as 7+1 — 20 sessions off;
    // tied events can never straddle a boundary semantically, so the
    // distinct-collapse is lossless). Per-user session starts are ≥30
    // min apart, so the second-level session_start string totally
    // orders the output.
    "stream_session_window" ->
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |d AS (SELECT DISTINCT user_id, us FROM e),
        |flagged AS (
        | SELECT user_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM d WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |sessioned AS (
        | SELECT *, sum(new_session) OVER (
        |   PARTITION BY user_id ORDER BY us
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM flagged)
        |SELECT e.user_id,
        | strftime(make_timestamp(min(e.us)), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events,
        | floor((sum(CAST(floor(e.value * 100000000 + 0.5) AS BIGINT)) / 100000000.0) * 10000 + 0.5) / 10000 AS sum_value
        |FROM e JOIN sessioned s ON s.user_id = e.user_id AND s.us = e.us
        |GROUP BY e.user_id, s.sid
        |ORDER BY 1, 2""".stripMargin,
    "stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessioned AS (
        |  SELECT *, CAST(sum(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        | floor((sum(CAST(floor(value * 100000000 + 0.5) AS BIGINT)) / 100000000.0) * 10000 + 0.5) / 10000 AS sum_value,
        | strftime(date_trunc('microsecond', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM sessioned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}

/** G4 — streaming dedup with a watermark-bounded state store:
  * `dropDuplicatesWithinWatermark` keeps one state entry per key only
  * until the watermark passes it — the streaming analog of D1 whose state
  * does NOT grow without bound (a bare `dropDuplicates` on a stream
  * would). Test drives it with a self-unioned source (every event twice)
  * and asserts exactly one survivor per event_id.
  */
object StreamingDedup {
  def start(spark: SparkSession, dir: String,
            queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def src = Events.eventsStream(spark, dir)
      .select(expr("timestamp_micros(ts div 1000)").as("event_ts"),
        col("event_id"), col("user_id"), col("event_type"))
    src.union(src) // deliberate duplicate feed
      .withWatermark("event_ts", "30 days")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
  }
}

/** G6 — stream-stream interval join: the streaming twin of A18's range
  * join. Each `error` event joins the same user's `click` events from the
  * preceding 5 minutes. Both sides carry event-time watermarks and the
  * join condition bounds click-time relative to error-time, so Spark can
  * expire both state stores as the watermark advances — the state never
  * grows beyond watermark + interval. Append mode: a pair is emitted once
  * its match window can no longer change. The test drains complete input
  * and compares the emitted pair set against the batch join.
  */
object StreamStreamJoin {
  def start(spark: SparkSession, dir: String,
            queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def src = Events.eventsStream(spark, dir)
      .select(expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("event_id"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "2 hours")
    val errors = src.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
      .withWatermark("e_ts", "2 hours")
    errors.join(clicks,
        expr("""c_user = e_user AND
                c_ts >= e_ts - interval 5 minutes AND
                c_ts < e_ts"""))
      .select(col("e_id"), col("c_id"))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
  }

  /** Batch formulation of the same join for equivalence testing. */
  def batch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("timestamp_micros(ts div 1000)").as("ts"),
        col("user_id"), col("event_type"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
    errors.join(clicks,
        col("c_user") === col("e_user") &&
          col("c_ts") >= col("e_ts") - expr("interval 5 minutes") &&
          col("c_ts") < col("e_ts"))
      .select(col("e_id"), col("c_id"))
  }
}

/** G5 — the reference's INSERT-then-UPDATE daily cycle as a streaming
  * sink: `foreachBatch` lands every micro-batch in its own batch-id
  * partition via a dynamic-partition OVERWRITE
  * ([[graft.sources.Sources.upsertBatch]]), and readers resolve
  * latest-wins through [[graft.sources.Sources.readLatest]]. Idempotent
  * on retry at the STORAGE level: a re-delivered batch replaces its own
  * partition rather than appending a duplicate, so even raw-path readers
  * never double-count — the exactly-once pattern for file sinks.
  */
/** G12 — checkpointed KILL-AND-RESTART recovery: the production reality
  * of the reference's daily-cron lifecycle (function.py runs once per
  * day; a crashed run resumes at the next invocation). G5/G11 prove
  * idempotence under batch REDELIVERY; this object is the restart path:
  * a watermarked windowed aggregation whose offsets AND window state
  * live in the checkpoint, killed mid-stream and restarted against the
  * same checkpoint. Recovery must (a) not reprocess the prefix (file
  * offsets committed), (b) restore the open windows' partial counts
  * (state store), (c) keep the sink exactly-once (per-batch dynamic
  * partition overwrite + latest-wins read). Any failure of the three
  * shows up as a count drift against the batch twin — the spec asserts
  * exact equality, RocksDB backend included.
  *
  * The aggregate state is quantized-integer (count + 1e-8-grid value
  * ticks), so resuming mid-aggregation cannot introduce merge-order
  * float drift either — the same discipline the batch twin uses.
  */
object CheckpointRestart {

  private def windowedAgg(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("event_id", "long").add("ts", "long").add("user_id", "long")
        .add("event_type", "string").add("value", "double"))
      .parquet(srcDir)
      .select(expr("timestamp_micros(ts div 1000)").as("event_ts"),
        col("event_type"), col("value"))
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100000000L + lit(0.5)).cast("long")).as("sv_q"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"),
        graft.ops.OracleRound.r4b(col("sv_q") / 100000000.0).as("sum_value"))

  private def sink(df: DataFrame, outPath: String, checkpoint: String) =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Sources.upsertBatch(batch, outPath, id)
      }

  /** Start (or restart — same call) the checkpointed windowed agg over
    * whatever files exist under `srcDir`. Update-mode foreachBatch:
    * every changed (window, event_type) row lands under its batch-id
    * partition; `Sources.readLatest` on the window key yields the final
    * value per window.
    */
  def start(spark: SparkSession, srcDir: String, outPath: String,
            checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sink(windowedAgg(spark, srcDir), outPath, checkpoint).start()

  /** One scheduled drain — `Trigger.AvailableNow`: process everything
    * currently under `srcDir`, commit offsets/state to the checkpoint,
    * and terminate. This IS the reference's operating mode (the daily
    * entrypoint `main`, `function.py:652-687`, running `update_games`
    * then `prepare_games` once per invocation) expressed as a
    * restartable
    * streaming job: each tick resumes from the previous tick's
    * checkpoint, so the daily batch gets streaming's exactly-once
    * bookkeeping without a resident process. G13 proves N ticks over a
    * growing source equal the one-shot batch twin.
    *
    * A tick runs in [[Drain]]'s session: one micro-batch per tick with
    * data, none without. State eviction for the watermark a tick
    * reaches is deferred to the next tick's data batch, which drops
    * late rows and evicts under that same watermark (G14); the rows the
    * sink receives are the same, since an update-mode eviction emits none.
    */
  def tick(spark: SparkSession, srcDir: String, outPath: String,
           checkpoint: String): Unit =
    Drain.availableNow(spark)(s => sink(windowedAgg(s, srcDir), outPath, checkpoint))

  /** The recovered stream's final sink contents (latest update per
    * window key).
    */
  def finalSink(spark: SparkSession, outPath: String): DataFrame =
    graft.sources.Sources.readLatest(spark, outPath,
      Seq("window_start", "event_type"))
}

object StreamingUpsert {
  def run(spark: SparkSession, dir: String, outPath: String): Unit = {
    val q = Events.eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Sources.upsertBatch(batch, outPath, id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}

/** G11 — DQ alert sink: the reference reports every ETL-stage failure
  * out-of-band (send_email / send_error_email, function.py:367-460);
  * here each micro-batch is gated through a single-pass constraint
  * check and VIOLATION summaries are delivered to an alert table — the
  * detect (A33 `q_dq_checks`) → deliver loop, closed. Delivery is
  * idempotent under batch redelivery: alerts land partitioned by batch
  * id with dynamic partition overwrite (G5's storage contract), so a
  * retried batch replaces its own alert rows instead of double-alerting.
  * SMTP vs table is a transport detail; the exactly-once sink shape is
  * the deliverable, and a mail relay would hang off the same
  * foreachBatch with the alert table as its dedup ledger.
  */
object DqAlertSink {

  /** Per-batch violation summary: one conditional-aggregation pass, one
    * row per violated constraint, PLUS an always-present `_batch_checked`
    * marker row. The marker guarantees every delivered batch writes its
    * partition — without it, a redelivered batch whose violations were
    * fixed upstream would write zero rows and the dynamic partition
    * overwrite would leave the batch's STALE alerts in place. Alert
    * readers filter `check_name != '_batch_checked'`.
    */
  def violations(batch: DataFrame): DataFrame =
    batch.agg(
      sum(when(col("value") <= 0, 1L).otherwise(0L)).as("nonpositive_value"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"))
      .select(explode(map(
        lit("nonpositive_value"), col("nonpositive_value"),
        lit("null_event_type"), col("null_event_type"),
        lit("null_user_id"), col("null_user_id"))))
      .select(col("key").as("check_name"), col("value").as("n"))
      .filter(col("n") > 0)
      .unionByName(batch.sparkSession.range(1)
        .select(lit("_batch_checked").as("check_name"), lit(0L).as("n")))

  def run(spark: SparkSession, srcPath: String, alertPath: String): Unit = {
    val schema = Tables.parquet(spark, srcPath).schema
    val q = spark.readStream.schema(schema).parquet(srcPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.Sources.upsertBatch(violations(batch), alertPath, id)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}

/** Typed rows for the stateful streaming path (top-level for Encoders). */
case class EventRow(event_id: Long, ts: Long, user_id: Long,
                    event_type: String, value: Double)
case class SessionOut(user_id: Long, session_id: Long, n_events: Long)
case class FunnelOut(user_id: Long, t_signup_us: Long, t_click_us: Long)

/** G3b — sessionization as a STATEFUL streaming computation:
  * `groupByKey(user).flatMapGroupsWithState` carrying (last event ts,
  * session counter) across micro-batches. The state per key is O(1) —
  * watermark+timeout would bound it in production; events within a batch
  * are sorted in-group (micro-batch iterators carry no time order).
  */
object StatefulSessionize {
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

  val gapNs: Long = 30L * 60 * 1000 * 1000 * 1000

  /** (lastTs, currentSessionId, eventsInCurrentSession) */
  type SessState = (Long, Long, Long)

  def sessionize(uid: Long, events: Iterator[EventRow],
                 state: GroupState[SessState]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    var (lastTs, sid, n) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    sorted.foreach { e =>
      if (lastTs == Long.MinValue || e.ts - lastTs > gapNs) {
        if (sid > 0) out += SessionOut(uid, sid, n)
        sid += 1; n = 1
      } else n += 1
      lastTs = e.ts
    }
    state.update((lastTs, sid, n))
    // emit the (possibly still-open) current session too — complete data
    // arrives in one batch here; production would emit on timeout
    out += SessionOut(uid, sid, n)
    out.iterator
  }

  def start(spark: SparkSession, dir: String, queryName: String): StreamingQuery = {
    import spark.implicits._
    Events.eventsStream(spark, dir)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionize)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
  }
}

/** G7 — CEP-style pattern detection as a stateful stream: emit
  * (user, t_signup, t_click) the first time a click follows the user's
  * FIRST signup within 7 days — the "A followed-by B within T"
  * primitive every event-correlation pipeline needs (fraud, alerting,
  * attribution). State per key is two longs (earliest signup μs, done
  * flag); production adds an event-time timeout at T to expire keys that
  * never convert, keeping the store bounded exactly like G6's interval
  * join state.
  */
object StreamingFunnel {
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

  val windowUs: Long = 7L * 24 * 3600 * 1000 * 1000

  /** (earliestSignupUs or MinValue, matched already?) */
  type FunnelState = (Long, Boolean)

  def detect(uid: Long, events: Iterator[EventRow],
             state: GroupState[FunnelState]): Iterator[FunnelOut] = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    var (tSignup, done) = state.getOption.getOrElse((Long.MinValue, false))
    val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
    sorted.foreach { e =>
      val us = Math.floorDiv(e.ts, 1000L)
      e.event_type match {
        case "signup" if tSignup == Long.MinValue => tSignup = us
        case "click" if !done && tSignup != Long.MinValue &&
          us > tSignup && us - tSignup <= windowUs =>
          out += FunnelOut(uid, tSignup, us); done = true
        case _ => ()
      }
    }
    state.update((tSignup, done))
    out.iterator
  }

  def start(spark: SparkSession, dir: String, queryName: String): StreamingQuery = {
    import spark.implicits._
    Events.eventsStream(spark, dir)
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(detect)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
  }

  /** The batch twin: first signup per user, then the first click inside
    * (t_signup, t_signup + 7 days] — what the stream must reproduce.
    */
  def batch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val s = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("us").as("t_signup_us"))
    e.filter(col("event_type") === "click")
      .join(s, "user_id")
      .filter(col("us") > col("t_signup_us") &&
        col("us") - col("t_signup_us") <= windowUs)
      .groupBy("user_id", "t_signup_us").agg(min("us").as("t_click_us"))
      .select("user_id", "t_signup_us", "t_click_us")
  }
}
