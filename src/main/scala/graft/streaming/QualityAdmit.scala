package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.QualityGate
import graft.tables.Tables

/** G16 — `stream_quality_admit`: F21's corpus quality classifier
  * serving IN the ingest stream — the production deployment shape for
  * a fastText-style filter: the model trains OFFLINE once (C36's exact
  * IRLS over the standing corpus; the (b0, b1) ticks are the frozen
  * artifact), and every arriving micro-batch is scored and gated
  * before it ever lands in the corpus. G15 admits on novelty (near-dup
  * probe); G16 admits on quality — together they are the ingest
  * cascade every pretraining pipeline runs.
  *
  * The drain is G13/G15's scheduled shape — file stream,
  * `Trigger.AvailableNow`, checkpoint, `foreachBatch` — and the sink
  * is batchId-keyed overwrite (G15's idempotent at-least-once
  * discipline: a redelivered micro-batch replaces its own partition
  * byte-for-byte). Scoring shares F21's EXACT projections
  * ([[QualityGate.labeledOf]] + [[QualityGate.keepCol]] — one
  * definition of the feature and the gate), so the contract query —
  * the per-language keep audit aggregated from the SINK — shares
  * F21's oracle VERBATIM: the driver hash-proves the streaming ingest
  * path and the batch gate can never disagree on a verdict.
  *
  * Scale shape: per micro-batch the work is one arrival-sized codegen
  * projection (the hashed-feature fold + two literal-coefficient
  * compares) — no joins, no shuffle, no state store; the sink grows
  * by verdict rows only. The model never touches the stream's data
  * plane: β rides in as two literals.
  */
object QualityAdmit {

  /** Score one micro-batch under the frozen model and overwrite its
    * batchId-keyed verdict partition. Exposed so the spec can drive a
    * split source and a redelivery.
    */
  private[graft] def scoreBatch(batch: DataFrame, b0: Long, b1: Long,
                                sink: String, batchId: Long): Unit =
    Drain.toBatch(QualityGate.labeledOf(batch)
      .select(col("doc_id"), col("lang"), QualityGate.keepCol(b0, b1).as("keep")), sink, batchId)

  /** Drains once per sf dir; later invocations read the sink. */
  def streamQualityAdmit(spark: SparkSession, dir: String): DataFrame = {
    val sink = Drain.sinkOnce(spark, s"qualityadmit.sink:$dir", "quality_admit", dir,
        "documents") {
      // the frozen artifact: trained once, before the stream starts
      val (b0, b1) = QualityGate.trainedTicks(spark, dir)
      scoreBatch(_, b0, b1, _, _)
    }
    QualityGate.keepAudit(Tables.parquet(spark, sink).drop("batch"))
  }
}
