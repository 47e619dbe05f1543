package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Dedup2}
import graft.tables.Tables

/** G19 — `stream_tombstone_admit` (r12 verdict directive #5): TAKEDOWNS
  * as a streaming drain. G15–G18 admit documents and vectors as
  * `Trigger.AvailableNow` micro-batches, but in production takedown
  * requests ARRIVE THE SAME WAY — as events — and rounds ≤12 only ever
  * applied them as batch sidecar writes (D18/E21). Each micro-batch
  * extracts its takedown requests (doc_id % 10 = 3 — D18's takedown
  * predicate, so stream and batch delete the identical set) and lands
  * them as D18-style tombstone sidecar rows, batchId-keyed.
  *
  * Idempotence is G15's discipline verbatim: `foreachBatch` is
  * AT-LEAST-ONCE, so each batch OVERWRITES its own `batch=<id>`
  * partition of the sidecar — a redelivery replaces its previous
  * attempt byte-for-byte instead of doubling the tombstone set (a
  * doubled tombstone happens to be harmless for an anti-join, but the
  * discipline matters the moment a sidecar row carries state — and
  * the spec pins it).
  *
  * The serve is D18's merge-on-read admission VERBATIM over the
  * streamed sidecar ([[Dedup2.tombstoneServeFrom]] — the same
  * generation-resolved path D18 and D19 use), so the contract row
  * shares `dedup_tombstone`'s oracle verbatim: the driver hash-proves
  * that a takedown delivered as a stream of events and a takedown
  * applied as one batch write can never disagree on a verdict.
  *
  * Scale shape: per micro-batch the work is O(|batch|) filtered rows
  * appended as O(|takedowns in batch|) sidecar rows — no index bytes
  * touched, no corpus scan; the serve's cost is D18's unchanged.
  */
object TombstoneAdmit {

  /** One micro-batch's takedown work: extract the batch's takedown
    * requests and land them in the batch's own sidecar partition.
    * Exposed so the spec can drive a SPLIT source and redeliveries.
    */
  private[graft] def tombstoneBatch(batch: DataFrame, sink: String,
                                    batchId: Long): Unit =
    Drain.toBatch(batch.filter(col("doc_id") % 10 === 3).select("doc_id"), sink, batchId)

  /** The standing artifact root for a dir: the band-signature index
    * written once (D18's builder), the sidecar populated by the DRAIN
    * instead of a batch write. Built once per sf dir.
    */
  private def rootPath(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"tombstoneadmit.root:$dir") {
      val root = graft.Scratch.dir("tombstone_admit")
      Tables.write(Dedup.bandSignatures(spark, dir)).mode("overwrite").parquet(s"$root/index")
      Drain(spark, Tables.load(spark, dir, "documents").schema, dir,
        "documents.parquet", s"$root/ckpt")(tombstoneBatch(_, s"$root/tombstones", _))
      root
    }

  def streamTombstoneAdmit(spark: SparkSession, dir: String): DataFrame =
    Dedup2.tombstoneServeFrom(spark, dir, rootPath(spark, dir))
}
