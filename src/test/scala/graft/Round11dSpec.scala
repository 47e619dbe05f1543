package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphAnn
import graft.streaming.{Drain, VectorAdmit}

/** Round-11 directive #5 witnesses: `stream_vector_admit` — E18's
  * search-based graph insert as an AvailableNow drain. The claims:
  *
  *  1. stream ≡ batch ROW-FOR-ROW: the drained serve equals the
  *     one-shot batch append exactly (they also share one oracle,
  *     hash-proven by the driver at all three SFs);
  *  2. per-batch independence: a source split across micro-batches
  *     lands the identical insert-edge set as a single batch — the
  *     per-vector determinism of the insert, exercised for real;
  *  3. redelivery idempotence: re-running a batch id replaces its own
  *     partition byte-equivalently instead of duplicating rows;
  *  4. the staleness gate is consulted at the drain's serve and clears
  *     on the contract corpus.
  */
class Round11dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = TestSpark.sf

  test("drained stream serves the one-shot batch append row-for-row") {
    val stream = VectorAdmit.streamVectorAdmit(spark, dir).collect().toSeq
    val batch = GraphAnn.annGraphAppend(spark, dir).collect().toSeq
    assert(stream == batch)
    assert(SparkEntry.oracleSql("stream_vector_admit") ==
      SparkEntry.oracleSql("ann_graph_append"),
      "G18 must share E18's oracle verbatim")
    val (hits, truth, stale) = GraphAnn.streamGateStats.get(dir)
    info(s"drain gate: $hits/$truth stale=$stale")
    assert(!stale, s"contract corpus tripped the stream gate: $hits/$truth")
  }

  test("a split source drained in multiple micro-batches lands the one-shot edge set") {
    val root = graft.Scratch.dir("r11d_split")
    // the contract embeddings re-laid as several files => several
    // AvailableNow micro-batches under maxFilesPerTrigger=1
    graft.tables.Tables.embeddings(spark, dir)
      .repartition(3).write.mode("overwrite").parquet(s"$root/src")
    val (sink, ckpt) = (s"$root/sink", s"$root/ckpt")
    Drain(spark, graft.tables.Tables.load(spark, dir, "embeddings").schema,
      s"$root/src", "*.parquet", ckpt, maxFilesPerTrigger = Some(1))(
      VectorAdmit.admitBatch(_, dir, sink, _))
    val batches = new java.io.File(sink).listFiles
      .count(_.getName.startsWith("batch="))
    info(s"drained in $batches micro-batches")
    assert(batches >= 2, "split source did not produce multiple micro-batches")
    val streamed = spark.read.parquet(sink).select("src", "dst", "d2")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = GraphAnn.streamInsertBatch(
        graft.tables.Tables.embeddings(spark, dir), dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == oneShot,
      s"split-drain edges diverge from one-shot: ${streamed.size} vs ${oneShot.size}")
  }

  test("redelivering a batch replaces its partition instead of duplicating") {
    val root = graft.Scratch.dir("r11d_redeliver")
    val sink = s"$root/sink"
    val batch = graft.tables.Tables.embeddings(spark, dir)
    VectorAdmit.admitBatch(batch, dir, sink, 0L)
    val first = spark.read.parquet(sink).select("src", "dst", "d2")
      .as[(Long, Long, Long)].collect().toSet
    VectorAdmit.admitBatch(batch, dir, sink, 0L) // the retry
    val second = spark.read.parquet(sink).select("src", "dst", "d2")
      .as[(Long, Long, Long)].collect().toSet
    assert(first.nonEmpty)
    assert(second == first, "redelivered batch changed the sink contents")
    assert(spark.read.parquet(sink).count() == first.size,
      "redelivered batch duplicated rows")
  }
}
