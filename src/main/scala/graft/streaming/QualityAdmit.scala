package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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

  private val drained = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Score one micro-batch under the frozen model and overwrite its
    * batchId-keyed verdict partition. Exposed so the spec can drive a
    * split source and a redelivery.
    */
  private[graft] def scoreBatch(batch: DataFrame, b0: Long, b1: Long,
                                sink: String, batchId: Long): Unit =
    QualityGate.labeledOf(batch)
      .select(col("doc_id"), col("lang"),
        QualityGate.keepCol(b0, b1).as("keep"))
      .write.mode("overwrite").parquet(s"$sink/batch=$batchId")

  private[graft] def drain(spark: SparkSession, srcDir: String, glob: String,
                           modelDir: String, sink: String, ckpt: String,
                           maxFilesPerTrigger: Option[Int] = None): Unit = {
    // the frozen artifact: trained once, before the stream starts
    val (b0, b1) = QualityGate.trainedTicks(spark, modelDir)
    val reader = spark.readStream
      .schema(Tables.load(spark, modelDir, "documents").schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val q = reader.parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch, b0, b1, sink, batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** Drain once per JVM per sf dir; later invocations read the sink. */
  private def sinkPath(spark: SparkSession, dir: String): String =
    drained.computeIfAbsent(dir, _ => {
      val base = graft.Scratch.dir("quality_admit")
      val (sink, ckpt) = (s"$base/sink", s"$base/ckpt")
      drain(spark, dir, "documents.parquet", dir, sink, ckpt)
      sink
    })

  def streamQualityAdmit(spark: SparkSession, dir: String): DataFrame =
    QualityGate.keepAudit(
      Tables.parquet(spark, sinkPath(spark, dir)).drop("batch"))
}
