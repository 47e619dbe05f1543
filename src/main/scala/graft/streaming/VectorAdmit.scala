package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphAnn
import graft.tables.Tables

/** G18 — `stream_vector_admit` (round-11 directive #5): E18's
  * search-based graph insert as a SCHEDULED STREAMING DRAIN — the
  * embeddings counterpart of the G15→G16→G17 document ingest cascade,
  * closing the round-10 verdict's last stream/batch asymmetry (the
  * graph index could only be appended batch-side).
  *
  * Per `Trigger.AvailableNow` drain, each micro-batch's arrivals
  * (vec_id % 10 = 7, E18's delta predicate) beam-search the STANDING
  * base artifact and land their insert edges under a batchId-keyed
  * partition (G11/G15's overwrite-by-batch discipline — a redelivered
  * batch replaces its own attempt byte-for-byte, so the sink is
  * idempotent under at-least-once delivery). The REVERSE cap is
  * deliberately NOT taken per batch: it ranks across the accumulated
  * delta edges, so it is derived at serve time from the union — per-
  * batch capping would admit up to batches·degree reverse slots per
  * base node and diverge from the one-shot build
  * ([[GraphAnn.appendTail]]'s contract).
  *
  * The serve consults the staleness gate over the accumulated state at
  * each drain ([[GraphAnn.streamGateStats]]) and branches exactly as
  * E18 does — so the drained stream serves the very frame the one-shot
  * batch append serves, row for row (Round11dSpec), and the contract
  * row SHARES E18's oracle VERBATIM: the driver hash-proves that a
  * micro-batched ingest and a batch rebuild are indistinguishable.
  *
  * Scale shape: per drain the work is O(|arrivals|·(beam + degree²))
  * against the persisted base files (never rewritten); the sink grows
  * by 24 B/edge per arrival; the serve-time reverse cap is one
  * window over the accumulated delta-edge frame (|delta|·degree rows),
  * not the corpus.
  */
object VectorAdmit {

  /** One micro-batch's admission work, exposed so the multi-batch spec
    * can drive a SPLIT source and prove per-batch independence and
    * redelivery idempotence.
    */
  private[graft] def admitBatch(batch: DataFrame, dir: String,
                                sink: String, batchId: Long): Unit =
    Drain.toBatch(GraphAnn.streamInsertBatch(batch, dir), sink, batchId)

  /** Drains once per sf dir; later invocations read the sink. */
  def streamVectorAdmit(spark: SparkSession, dir: String): DataFrame = {
    val sink = Drain.sinkOnce(spark, s"vectoradmit.sink:$dir", "vector_admit", dir,
      "embeddings")(admitBatch(_, dir, _, _))
    val dEdges = Tables.parquet(spark, sink).select("src", "dst", "d2")
    GraphAnn.streamAppendServe(spark, dir, dEdges)
  }
}
