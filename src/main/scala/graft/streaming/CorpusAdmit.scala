package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.tables.Tables

/** G15 — `stream_corpus_admit`: D13's daily-delta admission gate run as
  * a REAL Structured Streaming drain — documents arrive as a file
  * stream, each micro-batch signs its own delta arrivals
  * ([[Dedup.bandSignaturesOf]] — the exact arithmetic the standing
  * index was built with), probes the PERSISTED band-signature index,
  * Jaccard-verifies the collisions, and appends admit/reject verdicts
  * to the sink. `Trigger.AvailableNow` + checkpoint is the scheduled
  *-drain shape G13 established; the contract query returns the SINK,
  * and shares D13's oracle VERBATIM — hash-proving that the streaming
  * ingest path and the batch backfill can never disagree on a verdict.
  *
  * Scale shape: per micro-batch the work is O(|batch delta|·bands)
  * probe rows against the index plus the Jaccard verify of actual
  * collisions — the index is the one shared memoized frame, the batch
  * side is arrival-sized, and the sink grows by verdict rows only.
  */
object CorpusAdmit {

  /** One micro-batch's admission work: sign the batch's delta arrivals,
    * probe the standing index of `indexDir`, verify, append verdicts.
    * Exposed (private[graft]) so the multi-batch spec can drive it over
    * a SPLIT source and prove per-batch independence.
    *
    * Idempotence: `foreachBatch` is AT-LEAST-ONCE — a micro-batch that
    * fails after its write and is retried would duplicate verdict rows
    * under a plain append. Each batch therefore OVERWRITES its own
    * batchId-keyed partition directory (`batch=<id>`), so a redelivery
    * replaces its previous attempt byte-for-byte instead of doubling
    * it — the same overwrite-by-key discipline as G11's alert sink.
    */
  private[graft] def admitBatch(batch: DataFrame, indexDir: String,
                                sink: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val delta = batch.filter(col("doc_id") % 10 === 0)
    // the probe join carries D2/D13's hot-bucket guard: the micro-batch
    // side salts itself against the standing index's memoized hot list
    // (same site key), so batch and streaming verdicts can never diverge
    // — and a hot index bucket hands each arrival one salt group, not
    // the whole bucket (see HotBucket)
    val keys = Seq("band", "sig")
    val hot = graft.ops.HotBucket.memoHot(Dedup.bandSignatures(s, indexDir),
      keys, s"d2.bandSigs:$indexDir:32:8", graft.ops.HotBucket.defaultCap)
    val probe = Dedup.bandSignaturesOf(delta)
      .withColumn("salt", graft.ops.HotBucket.saltCol(hot, keys, col("doc_id")))
      .select(col("band"), col("sig"), col("salt"), col("doc_id").as("d"))
    val index = Dedup.bandSignatures(s, indexDir)
      .withColumn("salt", graft.ops.HotBucket.saltCol(hot, keys, col("doc_id")))
      .select(col("band"), col("sig"), col("salt"), col("doc_id").as("o"))
    val cands = probe.join(index, Seq("band", "sig", "salt"))
      .filter(col("o") =!= col("d"))
      .select("d", "o").distinct()
    // r15: same two admission-verify optimizations as Dedup2.admissionOver
    // (r14 verdict directive #1 + #7) — the o-side shingle projection is
    // pruned to candidate index docs via a broadcast left-semi BEFORE the
    // O(tokens)/row shingling (superset-safe: the verify join is inner on
    // `o`), and the verify runs the fused native Jaccard (bit-identical
    // quotient). Stream ≡ batch stays pinned: both paths changed together.
    val candO = index.join(probe, Seq("band", "sig", "salt"), "left_semi")
      .select(col("o").as("doc_id"))
    val withJac = cands
      .join(Dedup.shingled(delta)
        .select(col("doc_id").as("d"), col("shingles").as("sh_d")), "d")
      .join(Dedup.shingled(Tables.documents(s, indexDir)
          .join(broadcast(candO), Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as("o"), col("shingles").as("sh_o")), "o")
      .select(col("d"),
        graft.functions.VectorOps.jaccardSim(col("sh_d"), col("sh_o"))
          .as("jaccard"))
    val perDelta = withJac.groupBy("d")
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("jaccard") >= 0.5, 1)).as("n_near_dups"))
    delta.select("doc_id")
      .join(perDelta.withColumnRenamed("d", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        when(coalesce(col("n_near_dups"), lit(0L)) > 0, lit("reject"))
          .otherwise(lit("admit")).as("verdict"))
      .write.mode("overwrite").parquet(s"$sink/batch=$batchId")
  }

  /** Drain once per sf dir; later invocations read the sink. */
  private def sinkPath(spark: SparkSession, dir: String): String =
    graft.QueryCaches.memo(s"corpusadmit.sink:$dir") {
      val base = graft.Scratch.dir("corpus_admit")
      val (sink, ckpt) = (s"$base/sink", s"$base/ckpt")
      Drain(spark, Tables.load(spark, dir, "documents").schema, dir,
        "documents.parquet", ckpt)(admitBatch(_, dir, sink, _))
      sink
    }

  def streamCorpusAdmit(spark: SparkSession, dir: String): DataFrame =
    // partition discovery surfaces the batch=N key as a column — an
    // implementation detail of the idempotent sink, dropped here
    Tables.parquet(spark, sinkPath(spark, dir)).drop("batch").orderBy("doc_id")
}
