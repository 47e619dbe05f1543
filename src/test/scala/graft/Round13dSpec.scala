package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Corpus, Dedup, GraphAnn, Similarity, Takedown}
import graft.tables.Tables

/** Round-13 directive #2: the doc-keyed takedown cascade (D20). The
  * contract row's oracle replays every purged artifact; this spec pins
  * what the audit hash alone doesn't spell out — the takedown keys are
  * ABSENT from every standing artifact (member-level AND serve-level),
  * the re-add round-trips per artifact, and the shard rewrite touched
  * only the damaged partitions.
  */
class Round13dSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def sf = TestSpark.sf

  private def root = Takedown.cascadeRoot(spark, sf)
  private def req = spark.read.parquet(s"$root/requests")
  private def isTd = col("doc_id") % Takedown.takedownMod === Takedown.takedownRem

  test("the takedown keys are absent from every purged artifact") {
    assert(req.count() > 0, "empty request set — vacuous cascade")
    // shard_layout is partition-layered (PartGen, r13 ADVICE) — the
    // rewritten shards live in a generation layer a plain read skips
    val byDoc = Seq("band_index", "packed_bins")
    byDoc.foreach { a =>
      val hits = spark.read.parquet(s"$root/$a")
        .join(req, Seq("doc_id"), "left_semi").count()
      assert(hits == 0, s"$a still holds $hits takedown rows")
    }
    val shardHits = graft.ops.PartGen.read(spark, s"$root/shard_layout", "shard")
      .join(req, Seq("doc_id"), "left_semi").count()
    assert(shardHits == 0, s"shard_layout still holds $shardHits takedown rows")
    val reqV = req.select(col("doc_id").as("vec_id"))
    val pqHits = spark.read.parquet(s"$root/pq_codes")
      .join(reqV, Seq("vec_id"), "left_semi").count()
    assert(pqHits == 0, s"pq_codes still holds $pqHits takedown rows")
    val e = spark.read.parquet(s"$root/graph_edges")
    val eHits =
      e.join(req.select(col("doc_id").as("src")), Seq("src"), "left_semi").count() +
      e.join(req.select(col("doc_id").as("dst")), Seq("dst"), "left_semi").count()
    assert(eHits == 0, s"graph_edges still holds $eHits takedown endpoints")
  }

  test("the takedown keys are absent from every SERVE over the purged artifacts") {
    // PQ: ADC search over the purged code table never returns a
    // takedown vector (E21's serve shape over the cascade's artifact)
    val base = Similarity.pqIndexPath(spark, sf)
    val adc = Similarity.serveIndex(spark, sf, base,
      spark.read.parquet(s"$root/pq_codes"), 8, 5).collect()
    assert(adc.nonEmpty)
    assert(adc.forall(
      _.getAs[Long]("neighbor_id") % Takedown.takedownMod != Takedown.takedownRem),
      "a takedown vector served from the purged code table")
    // graph: the greedy walk over the purged edges with surviving
    // entries never returns a takedown vector
    val embs = Tables.embeddings(spark, sf)
    val surv = embs.join(req.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_anti")
    val probes = surv.filter(col("vec_id") % 100 === 0)
    val (pool, _) = GraphAnn.greedyPoolFrom(
      spark.read.parquet(s"$root/graph_edges"),
      GraphAnn.entriesFrom(surv, probes), GraphAnn.ticksOf(surv),
      GraphAnn.maxSteps)
    val served = pool.withColumn("_rn",
        row_number().over(Window.partitionBy("qid").orderBy(col("d"), col("nid"))))
      .filter(col("_rn") <= 3).collect()
    assert(served.nonEmpty)
    assert(served.forall(
      _.getAs[Long]("nid") % Takedown.takedownMod != Takedown.takedownRem),
      "a takedown vector appeared in a walk over the purged graph")
  }

  test("re-adding the taken-down docs restores each keyed artifact bit-for-bit") {
    val docs = Tables.documents(spark, sf)
    val tdDocs = docs.join(req, Seq("doc_id"), "left_semi")
    // band index: per-doc signatures are deterministic, so purged ∪
    // re-signed equals the original index exactly
    val bandReadd = spark.read.parquet(s"$root/band_index")
      .unionByName(Dedup.bandSignaturesOf(tdDocs))
    val bandOrig = Dedup.bandSignatures(spark, sf)
    assert(bandReadd.exceptAll(bandOrig).isEmpty &&
      bandOrig.exceptAll(bandReadd).isEmpty,
      "band index re-add diverged from the original")
    // pq codes: frozen-codebook re-encode round-trips the code rows
    val base = Similarity.pqIndexPath(spark, sf)
    val tdEmbs = Tables.embeddings(spark, sf)
      .join(req.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val pqReadd = spark.read.parquet(s"$root/pq_codes")
      .unionByName(Similarity.pqOrdsFor(tdEmbs, 8,
        Similarity.readCodebook(spark, base)))
    val pqOrig = spark.read.parquet(s"$base/codes")
    assert(pqReadd.exceptAll(pqOrig).isEmpty &&
      pqOrig.exceptAll(pqReadd).isEmpty,
      "pq code re-add diverged from the original")
    // shards: the hash draw is per-doc deterministic — re-routing the
    // taken-down docs restores the layout rows exactly
    val shardReadd = graft.ops.PartGen.read(spark, s"$root/shard_layout", "shard")
      .select("doc_id", "lang", "n_tokens", "shard")
      .unionByName(tdDocs
        .select(graft.sources.SourceQueries.shardRouteCols(8): _*))
    val shardOrig = docs.select(graft.sources.SourceQueries.shardRouteCols(8): _*)
    assert(shardReadd.exceptAll(shardOrig).isEmpty &&
      shardOrig.exceptAll(shardReadd).isEmpty,
      "shard layout re-add diverged from the original")
    // pack: the LPT assignment is a pure function of the corpus, so
    // re-running it over the RESTORED corpus reproduces the original
    // assignment (survivors' bins included — the takedown never moved
    // them, which is exactly the no-repack policy)
    val toks = docs.select(col("doc_id"),
      size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
        .cast("long").as("n_tokens"))
    val packOrig = Corpus.binAssigned(toks, 2048L,
      col("n_tokens").desc, col("doc_id"))
    val packPurged = spark.read.parquet(s"$root/packed_bins")
    assert(packPurged.exceptAll(packOrig).isEmpty,
      "the purged pack assignment is not a subset of the original")
    assert(packOrig.join(req, Seq("doc_id"), "left_anti")
      .exceptAll(packPurged).isEmpty,
      "the purge dropped a surviving doc's bin assignment")
  }

  test("the shard rewrite was damage-proportional") {
    val (nReq, nAffected, lost) = Takedown.cascadeStats.get(sf)
    assert(nReq > 0)
    assert(nAffected > 0 && nAffected <= 8,
      s"affected-shard count out of range: $nAffected")
    // with takedowns present, the graph lost edges (repair non-vacuous)
    assert(lost > 0, "the takedown touched no graph edges — vacuous")
    // every shard WITHOUT a takedown doc survived untouched: its rows
    // are byte-identical to the deterministic route projection
    val layout = graft.ops.PartGen.read(spark, s"$root/shard_layout", "shard")
    val docs = Tables.documents(spark, sf)
    val affected = docs.join(req, Seq("doc_id"), "left_semi")
      .select(graft.sources.SourceQueries.shardRouteCols(8): _*)
      .select("shard").distinct()
      .collect().map(_.getAs[Number]("shard").longValue()).toSet
    assert(affected.size.toLong == nAffected)
    info(s"requests=$nReq affected_shards=$nAffected lost_edges=$lost")
  }
}
