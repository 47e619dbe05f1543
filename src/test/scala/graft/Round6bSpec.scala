package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 curation additions: repetition screening, deterministic
  * mixture sampling, the filter-cascade audit, and SemDeDup-style
  * semantic dedup (F13/F14/F15/D12).
  */
class Round6bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("text_repetition: the sorted-run fold equals an independent multiplicity count, with ZERO shuffle") {
    val rows = graft.ops.Corpus2.textRepetition(spark, sf)
    val got = rows.collect()
    assert(got.length == 20)
    // independent replay on the driver: max multiplicity via a plain
    // Scala groupBy over the raw text — pins the aggregate-HOF fold
    // from outside Catalyst entirely
    val raw = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    got.foreach { r =>
      val toks = raw(r.getAs[Long]("doc_id")).trim.split("\\s+").toSeq
      val n = toks.length.toLong
      assert(r.getAs[Long]("n_tokens") == n)
      val topUni = toks.groupBy(identity).values.map(_.length).max
      assert(r.getAs[Double]("top_token_frac") == q4(topUni.toDouble / n))
      val bgs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val topBig = if (bgs.isEmpty) 0 else bgs.groupBy(identity).values.map(_.length).max
      assert(r.getAs[Double]("top_bigram_frac") ==
        q4(topBig.toDouble / math.max(n - 1, 1)))
      assert(r.getAs[Double]("distinct_ratio") == q4(toks.distinct.length.toDouble / n))
    }
    // per-document repetition is a pure projection; the only movement in
    // the plan is the driver-merged local top-k (TakeOrderedAndProject)
    val m = Telemetry.measure(rows)
    assert(m.shuffleBytesWritten == 0,
      s"repetition stats should not shuffle: ${m.shuffleBytesWritten} B")
  }

  test("corpus_mix_sample: integer quotas/rates, kept ⊆ avail, shares sum to 1, replay-deterministic") {
    val rows = graft.ops.Corpus2.corpusMixSample(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq.sorted ==
      Seq("de", "en", "es", "fr", "zh"))
    rows.foreach { r =>
      val (avail, quota, rate, kept) = (r.getAs[Long]("n_avail"),
        r.getAs[Long]("quota"), r.getAs[Long]("rate_ppm"), r.getAs[Long]("n_kept"))
      assert(rate >= 0 && rate <= 1000000)
      assert(kept >= 0 && kept <= avail)
      // a full-rate language keeps everything; any partial rate is a
      // strict subsample
      if (rate == 1000000) assert(kept == avail) else assert(kept < avail)
      assert(quota <= avail || rate == 1000000,
        s"quota $quota over avail $avail should clamp the rate")
    }
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 0.001)
    // hash draws, not RNG: a second invocation is bit-identical
    val again = graft.ops.Corpus2.corpusMixSample(spark, sf).collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("corpus_filter_cascade: stages chain (n_in(k+1) = n_out(k)) and every rule drops documents") {
    val rows = graft.ops.Corpus2.corpusFilterCascade(spark, sf).collect()
    assert(rows.map(_.getAs[String]("rule")).toSeq ==
      Seq("lang_en", "min_tokens", "quality", "repetition"))
    val total = graft.tables.Tables.documents(spark, sf).count()
    assert(rows.head.getAs[Long]("n_in") == total)
    rows.sliding(2).foreach {
      case Array(prev, next) =>
        assert(next.getAs[Long]("n_in") == prev.getAs[Long]("n_out"),
          "cascade stages do not chain")
      case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_in") - r.getAs[Long]("n_out"))
      // non-vacuous on the synthetic corpus: every rule fires
      assert(r.getAs[Long]("n_dropped") > 0,
        s"rule ${r.getAs[String]("rule")} dropped nothing")
    }
  }

  test("dedup_semantic: drops pair with a LOWER-id same-cell keeper at cos ≥ τ, scoped to E20's trained cells") {
    val rows = graft.ops.Corpus2.dedupSemantic(spark, sf).collect()
    assert(rows.nonEmpty)
    // r12: clustering rides E20's label-free trained quantizer (cell =
    // seed vec_id), so the witness recomputes via the SAME assignment
    val (assigned, _) = graft.ops.Similarity.ivfTrainedAssignment(spark, sf,
      graft.ops.Similarity.ivfTrainedCells)
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    rows.foreach { r =>
      val (v, keeper) = (r.getAs[Long]("vec_id"), r.getAs[Long]("keeper"))
      assert(keeper < v, "keeper must be the lower id")
      assert(r.getAs[Long]("cell") == cellOf(v), "reported cell is not the vector's")
      assert(cellOf(keeper) == cellOf(v), "keeper crossed a cell boundary")
      assert(r.getAs[Double]("cos_sim") >= 0.3)
      assert(r.getAs[Long]("n_cands") >= 1)
    }
    // the dropped set is cluster-scoped near-dup detection, not a blanket
    // sweep: strictly fewer drops than vectors
    assert(rows.length < cellOf.size)
  }

  test("ann_ivf_pq: neighbors come only from the probe's routed cells, at E5's exact ADC distances") {
    val rows = graft.ops.Similarity.annIvfPq(spark, sf).collect()
    assert(rows.nonEmpty)
    // routing contract: every returned neighbor lives in one of its
    // probe's nprobe nearest cells (recomputed via the shared E20
    // trained assignment + routing fold — r12 label-free routing)
    val (assigned, cellDists) = graft.ops.Similarity.ivfTrainedAssignment(
      spark, sf, graft.ops.Similarity.ivfTrainedCells)
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val routed = assigned.filter(col("vec_id") % 100 === 0)
      .withColumn("_q", expr(
        "transform(emb, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
      .select(col("vec_id"),
        slice(array_sort(cellDists(col("_q"))), 1, 2).as("near"))
      .select(col("vec_id"), expr("transform(near, p -> p.cell)").as("cells"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Long]]("cells").toSet).toMap
    rows.foreach { r =>
      val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(routed(q).contains(cellOf(n)),
        s"neighbor $n (cell ${cellOf(n)}) outside probe $q's routed cells ${routed(q)}")
    }
    // compression contract: for pairs E5's full ADC scan also returns,
    // the cell-restricted distance is IDENTICAL (same codes, same
    // tables — IVF only narrows the candidate set)
    val full = graft.ops.Similarity.annPqSearch(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Long]("adc_dist")).toMap
    val shared = rows.flatMap { r =>
      full.get((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .map(_ == r.getAs[Long]("adc_dist"))
    }
    assert(shared.nonEmpty && shared.forall(identity),
      "cell-restricted ADC distances diverge from the full scan")
  }

  test("dedup_incremental: the delta probe gives EXACTLY the batch answer restricted to the delta") {
    val inc = graft.ops.Dedup2.dedupIncremental(spark, sf).collect()
    assert(inc.nonEmpty)
    // D2's full batch run, restricted to delta docs, must agree number
    // for number — incremental dedup may skip base×base work but must
    // never miss a delta pairing
    val batch = graft.ops.Dedup.dedupMinhashLsh(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_near_dups"))).toMap
    inc.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id % 10 == 0, "non-delta doc in the incremental report")
      assert((r.getAs[Long]("n_candidates"), r.getAs[Long]("n_near_dups")) ==
        batch(id), s"delta doc $id diverges from the batch answer")
      val expect = if (r.getAs[Long]("n_near_dups") > 0) "reject" else "admit"
      assert(r.getAs[String]("verdict") == expect)
    }
    assert(inc.length ==
      graft.tables.Tables.documents(spark, sf)
        .filter(col("doc_id") % 10 === 0).count(),
      "every delta doc must receive a verdict")
  }

  test("corpus_shard: one directory per shard, partition-pruned single-shard reads, conserved totals") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val manifest = graft.sources.SourceQueries.corpusShard(spark, sf).collect()
    assert(manifest.length == 8, "expected 8 shards")
    val docs = graft.tables.Tables.documents(spark, sf)
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "sharding lost or duplicated documents")
    manifest.foreach(r => assert(r.getAs[Long]("n_docs") > 0,
      s"shard ${r.getAs[Long]("shard")} is empty"))
    // physical layout: each shard is its own directory (what a loader
    // rank mounts in isolation)
    val path = graft.sources.SourceQueries.corpusShardPath(spark, sf)
    val dirs = new java.io.File(path).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == (0 until 8).map(i => s"shard=$i"),
      s"unexpected shard directories: ${dirs.mkString(",")}")
    // a single-shard read must partition-prune, not list every shard
    val one = spark.read.parquet(path).filter(col("shard") === 3)
    one.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      (p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }) ++
        kids.flatMap(scansOf)
    }
    val scans = scansOf(one.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "single-shard read does not carry a partition filter")
    // hash assignment, not arrival order: bit-identical on re-aggregate
    val again = graft.sources.SourceQueries.corpusShard(spark, sf).collect()
    assert(manifest.toSeq == again.toSeq)
  }

  test("stream_corpus_admit: the streaming drain's verdicts equal the batch backfill, row for row") {
    val streamed = graft.streaming.CorpusAdmit.streamCorpusAdmit(spark, sf)
      .collect().toSeq
    val batch = graft.ops.Dedup2.dedupIncremental(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming admission gate diverges from the batch backfill")
    // drained once per JVM: a re-invocation serves the sink (same rows,
    // no second stream start — the drained-map holds the sink path)
    val again = graft.streaming.CorpusAdmit.streamCorpusAdmit(spark, sf)
      .collect().toSeq
    assert(again == batch)
  }

  test("text_novelty: reject queue sorted by ascending average corpus frequency, bounds hold") {
    val rows = graft.ops.Corpus2.textNovelty(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, rare) = (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_rare"))
      assert(n >= 1 && rare >= 0 && rare <= n)
      // every bigram occurrence counts at least itself in the corpus
      assert(r.getAs[Double]("avg_freq") >= 1.0)
    }
    val fs = rows.map(_.getAs[Double]("avg_freq")).toSeq
    assert(fs == fs.sorted, "queue not sorted by ascending avg frequency")
    // non-vacuous: the most-novel doc really is rarer than the corpus
    // norm (word-salad corpus: common bigrams repeat hundreds of times)
    assert(fs.head < fs.last || rows.map(_.getAs[Long]("n_rare")).exists(_ > 0))
  }

  test("f_target_encode_oof: the OOF rate provably excludes the fold's own labels") {
    val cells = graft.ops.Features3.fTargetEncodeOof(spark, sf).collect()
    assert(cells.nonEmpty)
    // independent replay on the driver from the raw tables
    val o = graft.tables.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
        r.getAs[Double]("o_totalprice")))
    val segOf = graft.tables.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("c_mktsegment")).toMap
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    val rows = o.flatMap { case (ok, ck, tp) =>
      segOf.get(ck).map(seg => (seg, ((ok * 2654435761L) % 5 + 5) % 5,
        if (tp > 150000.0) 1L else 0L))
    }
    val byCell = rows.groupBy(r => (r._1, r._2))
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._3).sum) }
    val bySeg = rows.groupBy(_._1)
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._3).sum) }
    cells.foreach { r =>
      val key = (r.getAs[String]("c_mktsegment"), r.getAs[Long]("fold"))
      val (n, pos) = byCell(key)
      val (sn, spos) = bySeg(key._1)
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("in_fold_rate") == q4(pos.toDouble / n))
      // the leakage-safety contract: the published rate uses ONLY the
      // other folds' labels
      assert(r.getAs[Double]("oof_rate") ==
        q4((spos - pos).toDouble / (sn - n)),
        s"cell $key leaks its own fold")
    }
  }

  test("stream_corpus_admit: verdicts survive the delta arriving across MULTIPLE micro-batches") {
    // the per-batch independence claim, executed: split the corpus into
    // two arrival files, force one file per micro-batch, and require the
    // multi-batch drain to equal the batch backfill exactly — a verdict
    // may only depend on (arrival, standing index), never on what else
    // shares its micro-batch
    val base = Scratch.dir("admit_split")
    val (srcDir, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val docs = graft.tables.Tables.documents(spark, sf)
    // the file source lists FLAT files: write each half, then move its
    // single part file up as <name>.parquet
    Seq("even" -> (col("doc_id") % 2 === 0), "odd" -> (col("doc_id") % 2 =!= 0))
      .foreach { case (name, cond) =>
        val tmp = s"$base/tmp_$name"
        docs.filter(cond).coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
          .get
        new java.io.File(srcDir).mkdirs()
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
      }
    graft.streaming.Drain(spark, graft.tables.Tables.load(spark, sf, "documents").schema,
      srcDir, "*.parquet", ckpt, maxFilesPerTrigger = Some(1))(
      graft.streaming.CorpusAdmit.admitBatch(_, sf, sink, _))
    // the checkpoint records one offset file per micro-batch
    val batches = new java.io.File(s"$ckpt/offsets").listFiles
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 2, s"expected a multi-batch drain, got $batches batch(es)")
    val got = spark.read.parquet(sink).drop("batch").orderBy("doc_id").collect().toSeq
    val want = graft.ops.Dedup2.dedupIncremental(spark, sf).collect().toSeq
    assert(got == want, "split-arrival drain diverges from the batch backfill")
  }

  test("partition-count invariance: curation results are bit-identical under a different shuffle layout") {
    // the order-independence claims (integer hash draws, DistRank global
    // ranks, sorted-run folds — never "first row wins" or sampled
    // boundaries) as an EXECUTED property: re-run on a session with a
    // different, prime shuffle-partition count and require bit-equality
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    val checks: Seq[(String, org.apache.spark.sql.SparkSession => Array[org.apache.spark.sql.Row])] = Seq(
      ("corpus_pack", s => graft.ops.Corpus.corpusPack(s, sf).collect()),
      ("corpus_mix_sample", s => graft.ops.Corpus2.corpusMixSample(s, sf).collect()),
      ("text_repetition", s => graft.ops.Corpus2.textRepetition(s, sf).collect()),
      ("corpus_filter_cascade", s => graft.ops.Corpus2.corpusFilterCascade(s, sf).collect()),
      ("text_novelty", s => graft.ops.Corpus2.textNovelty(s, sf).collect()),
      ("f_target_encode_oof", s => graft.ops.Features3.fTargetEncodeOof(s, sf).collect()),
      // round-7 additions: positional spans (hash counts + islands) and
      // the quantized IRLS trainer are both integer-deterministic
      ("dedup_passage_spans", s => graft.ops.Dedup2.dedupPassageSpans(s, sf).collect()),
      ("ml_logreg_step2", s => graft.ml.Irls.mlLogregStep2(s, sf).collect()))
    checks.foreach { case (name, run) =>
      assert(run(spark).toSeq == run(alt).toSeq,
        s"$name changed under a 7-partition shuffle layout")
    }
  }

  test("q_interpolate: every masked event rebuilt; driver replay agrees value for value") {
    val got = graft.ops.Relational5.qInterpolate(spark, sf).collect()
    val events = graft.tables.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        col("value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("us"), r.getAs[Double]("value")))
    val masked = events.filter(_._2 % 5 == 0)
    assert(got.length == masked.length,
      "every masked event must receive an interpolated value")
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    // independent replay: nearest non-missing neighbors by (us, event_id)
    val byUser = events.groupBy(_._1).map { case (u, es) =>
      u -> es.sortBy(e => (e._3, e._2))
    }
    val expect = masked.map { case (u, id, us, _) =>
      val seq = byUser(u)
      val i = seq.indexWhere(e => e._2 == id && e._3 == us)
      val prev = seq.take(i).reverse.find(_._2 % 5 != 0)
      val next = seq.drop(i + 1).find(_._2 % 5 != 0)
      val v = (prev, next) match {
        case (Some(p), Some(n)) =>
          p._4 + (n._4 - p._4) * ((us - p._3).toDouble / (n._3 - p._3))
        case (Some(p), None) => p._4
        case (None, Some(n)) => n._4
        case _ => Double.NaN
      }
      (u, id) -> q4(v)
    }.toMap
    got.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"))
      assert(r.getAs[Double]("interp") == expect(k), s"row $k diverges from replay")
    }
  }

  test("ann_recall_eval: per-probe recall equals the exact/approx set intersection") {
    val eval = graft.ops.Similarity.annRecallEval(spark, sf).collect()
    assert(eval.nonEmpty)
    val exact = graft.ops.Similarity.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val approx = graft.ops.Similarity.annLsh(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    eval.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong
      assert(r.getAs[Long]("n_hits") == hits, s"probe $q hit count wrong")
      assert(r.getAs[Long]("n_truth") == exact(q).size.toLong)
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // the eval is non-vacuous: single-bucket LSH misses SOME true
    // neighbor on this corpus (otherwise the op couldn't detect loss)
    assert(eval.map(_.getAs[Double]("recall")).min < 1.0)
  }

  test("mm_payload_near_dup: candidate pairs agree with H4's exact shared-chunk counts") {
    val near = graft.ops.Multimodal.mmPayloadNearDup(spark, sf).collect()
    assert(near.nonEmpty)
    val chunk = graft.ops.Multimodal.mmChunkDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("shared_chunks")).toMap
    near.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      assert(a < b)
      val sf5 = r.getAs[Long]("shared_frames")
      // the two operators read the SAME persisted frame table, so a
      // candidate pair's shared count must equal H4's exact count (a
      // pair H4 omits shares zero frames)
      assert(sf5 == chunk.getOrElse((a, b), 0L),
        s"pair ($a,$b): near-dup says $sf5, chunk dedup says ${chunk.get((a, b))}")
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
    // non-vacuous: at least one candidate really shares frames
    assert(near.exists(_.getAs[Long]("shared_frames") > 0))
  }

  test("ml_linreg_normal: residuals are orthogonal to every regressor (up to quantization)") {
    val r = graft.ml.Ols.mlLinregNormal(spark, sf).collect().head
    val (b0, b1, b2) = (r.getAs[Double]("b0"), r.getAs[Double]("b1"),
      r.getAs[Double]("b2"))
    // independent replay of the design matrix on the driver
    val rows = graft.tables.Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("long"),
        floor(col("l_discount") * 100 + lit(0.5)).cast("long"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.getAs[Long]("n") == rows.length)
    // OLS normal equations ⇔ residuals ⟂ {1, x1, x2}; the quantized
    // coefficients perturb each sum by ≤ 5e-5 per unit of regressor
    // mass, so the RELATIVE residual moments must be ~0
    val res = rows.map { case (x1, x2, y) => (x1, x2, y - b0 - b1 * x1 - b2 * x2) }
    val sy = rows.map(_._3.toDouble.abs).sum
    assert(math.abs(res.map(_._3).sum) / sy < 1e-6, "Σr not ~0")
    assert(math.abs(res.map(t => t._1 * t._3).sum) /
      rows.map(t => (t._1 * t._3).toDouble.abs max 1.0).sum < 1e-4, "Σr·x1 not ~0")
    assert(math.abs(res.map(t => t._2 * t._3).sum) /
      rows.map(t => (t._2 * t._3).toDouble.abs max 1.0).sum < 1e-4, "Σr·x2 not ~0")
    // sanity: the intercept carries the price level (the synthetic
    // generator draws price INDEPENDENT of quantity/discount — corr
    // ≈ −0.01 — so slope signs are noise, but b0 must sit near mean y)
    val meanY = rows.map(_._3.toDouble).sum / rows.length
    assert(b0 > 0.5 * meanY && b0 < 1.5 * meanY,
      s"intercept $b0 far from the mean price level $meanY")
  }

  test("ml_batch_score: full coverage, MAE dominates bias, and the global bias vanishes") {
    val scored = graft.ml.Ols.mlBatchScore(spark, sf).collect()
    assert(scored.nonEmpty)
    val total = graft.tables.Tables.lineitem(spark, sf).count()
    assert(scored.map(_.getAs[Long]("n")).sum == total,
      "every lineitem row must be scored exactly once")
    scored.foreach { r =>
      assert(r.getAs[Double]("mae_cents") >=
        math.abs(r.getAs[Double]("bias_cents")) - 1e-9,
        "per-group MAE must dominate |bias|")
    }
    // OLS residuals sum to ~0 (quantized coefficients perturb by
    // ≤ 5e-5/unit): the n-weighted group biases must cancel, at cents
    // scale, to noise far below the MAE level
    val globalBias = scored.map(r =>
      r.getAs[Long]("n") * r.getAs[Double]("bias_cents")).sum / total
    val meanMae = scored.map(r =>
      r.getAs[Long]("n") * r.getAs[Double]("mae_cents")).sum / total
    assert(math.abs(globalBias) < 1e-3 * meanMae,
      s"global bias $globalBias not ~0 against MAE $meanMae")
  }

  test("ml_ridge_path: lambda=0 equals the OLS fit and the penalized norm shrinks down the path") {
    val path = graft.ml.Ols.mlRidgePath(spark, sf).collect()
      .sortBy(_.getAs[Long]("lambda"))
    assert(path.length == 3)
    val ols = graft.ml.Ols.mlLinregNormal(spark, sf).collect().head
    // ridge(0) IS OLS — same sums, same Cramer, same rounding
    assert(path.head.getAs[Double]("b0") == ols.getAs[Double]("b0") &&
      path.head.getAs[Double]("b1") == ols.getAs[Double]("b1") &&
      path.head.getAs[Double]("b2") == ols.getAs[Double]("b2"),
      "lambda=0 diverged from the OLS fit")
    // the penalized slope norm is non-increasing in lambda (strictly
    // decreasing whenever the slopes are nonzero)
    val norms = path.map { r =>
      val (b1, b2) = (r.getAs[Double]("b1"), r.getAs[Double]("b2"))
      b1 * b1 + b2 * b2
    }
    norms.sliding(2).foreach { case Array(a, b) =>
      assert(b < a || (a == 0.0 && b == 0.0),
        s"ridge path not shrinking: ${norms.mkString(", ")}")
    }
  }

  test("AQE-off invariance: results identical with adaptive execution disabled") {
    // the plans lean on AQE (broadcast conversion, skew handling) for
    // SPEED — results must not depend on it. Re-run a cross-section on
    // a session with AQE off and require bit-equality.
    val alt = spark.newSession()
    alt.conf.set("spark.sql.adaptive.enabled", "false")
    val checks: Seq[(String, org.apache.spark.sql.SparkSession => Array[org.apache.spark.sql.Row])] = Seq(
      ("ann_recall_eval", s => graft.ops.Similarity.annRecallEval(s, sf).collect()),
      ("q_interpolate", s => graft.ops.Relational5.qInterpolate(s, sf).collect()),
      ("dedup_incremental", s => graft.ops.Dedup2.dedupIncremental(s, sf).collect()),
      ("corpus_filter_cascade", s => graft.ops.Corpus2.corpusFilterCascade(s, sf).collect()))
    checks.foreach { case (name, run) =>
      assert(run(spark).toSeq == run(alt).toSeq, s"$name changed with AQE off")
    }
  }

  test("boostStumps property: the Spark scans agree with an independent Scala AdaBoost on random frames") {
    import spark.implicits._
    // full from-scratch reimplementation (binning, weighted histogram,
    // Gini argmin with the (wg, feature, bin) tie-break, BigInt tick
    // reweighting, product-comparison committee vote) driven over
    // seeded random frames — validates the SPARK-side arithmetic the
    // fixed-frame specs can't stress
    def refBoost(rows: Seq[(Array[Double], Int)], names: Seq[String],
                 rounds: Int): (Seq[(String, Int)], Seq[(Long, Long)], Long) = {
      val d = names.size
      val mins = (0 until d).map(i => rows.map(_._1(i)).min)
      val maxs = (0 until d).map(i => rows.map(_._1(i)).max)
      def binOf(i: Int, v: Double): Int =
        math.min(math.floor((v - mins(i)) / (maxs(i) - mins(i)) * 10), 9.0).toInt
      def gini(p: Long, nn: Long): Double = {
        val q = p.toDouble / nn; 1.0 - q * q - (1.0 - q) * (1.0 - q)
      }
      val HALF = BigInt(500000000000L)
      var w: Array[Long] = Array.fill(rows.length)(1L)
      var picked = List.empty[(String, Int)] // (feature name, bin)
      var chosen = List.empty[(Int, Int, Int, Int)] // (fIdx, bin, leftLab, rightLab)
      var errs = List.empty[(Long, Long)]
      (1 to rounds).foreach { _ =>
        val cands = for {
          fi <- 0 until d
          cells = rows.indices.groupBy(r => binOf(fi, rows(r)._1(fi)))
            .map { case (b, rs) =>
              b -> (rs.map(w(_)).sum, rs.filter(rows(_)._2 == 1).map(w(_)).sum)
            }
          nTot = cells.values.map(_._1).sum
          posTot = cells.values.map(_._2).sum
          bin <- 0 until 9
          nl = cells.filter(_._1 <= bin).values.map(_._1).sum
          pl = cells.filter(_._1 <= bin).values.map(_._2).sum
          if nl > 0 && nTot > nl
        } yield {
          val (nr, pr) = (nTot - nl, posTot - pl)
          val wg = (nl * gini(pl, nl) + nr * gini(pr, nr)) / (nl + nr)
          (wg, names(fi), bin, fi, nl, pl, nr, pr)
        }
        val b = cands.minBy(c => (c._1, c._2, c._3))
        val (fi, bin) = (b._4, b._3)
        val (ll, rl) = (if (2 * b._6 > b._5) 1 else 0, if (2 * b._8 > b._7) 1 else 0)
        def pred(r: Int): Int = if (binOf(fi, rows(r)._1(fi)) <= bin) ll else rl
        val wrong = rows.indices.filter(r => pred(r) != rows(r)._2)
        val errW = wrong.map(w(_)).sum
        val totalW = w.sum
        assert(errW > 0 && errW < totalW, "seed produced a non-weak learner")
        val wrongSet = wrong.toSet
        w = rows.indices.map { r =>
          val denom = if (wrongSet(r)) errW else totalW - errW
          ((HALF * BigInt(w(r))) / BigInt(denom)).toLong
        }.toArray
        picked :+= (names(fi), bin); chosen :+= ((fi, bin, ll, rl)); errs :+= ((errW, totalW))
      }
      def vote(r: Int): Int = {
        def side(forOne: Boolean): BigInt =
          chosen.zip(errs).map { case ((fi, bin, ll, rl), (e, t)) =>
            val one = (if (binOf(fi, rows(r)._1(fi)) <= bin) ll else rl) == 1
            BigInt(if (one == forOne) t - e else e)
          }.product
        if (side(true) > side(false)) 1 else 0
      }
      val correct = rows.indices.count(r => vote(r) == rows(r)._2).toLong
      (picked, errs, correct)
    }
    Seq(11, 23, 47).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 300).map { _ =>
        val fs = Array.fill(3)(rnd.nextInt(10) / 10.0 + 0.05)
        val y = if (fs(0) > 0.5) { if (rnd.nextDouble() < 0.85) 1 else 0 }
                else { if (rnd.nextDouble() < 0.15) 1 else 0 }
        (fs, y)
      }
      val names = Seq("fa", "fb", "fc")
      val df = rows.map(r => (r._1(0), r._1(1), r._1(2), r._2))
        .toDF("fa", "fb", "fc", "y")
      val got = graft.ml.Ml5.boostStumps(df, names.map(n => n -> n), 3)
        .collect().head
      val (picked, errs, correct) = refBoost(rows, names, 3)
      (1 to 3).foreach { t =>
        assert(got.getAs[String](s"f$t") == picked(t - 1)._1,
          s"seed $seed round $t picked wrong feature")
        assert(got.getAs[Int](s"bin$t") == picked(t - 1)._2,
          s"seed $seed round $t picked wrong bin")
      }
      assert(got.getAs[Long]("err1") == errs.head._1, s"seed $seed err1")
      assert(got.getAs[Long]("err2_w") == errs(1)._1 &&
        got.getAs[Long]("total2_w") == errs(1)._2, s"seed $seed round 2")
      assert(got.getAs[Long]("err3_w") == errs(2)._1 &&
        got.getAs[Long]("total3_w") == errs(2)._2, s"seed $seed round 3")
      assert(got.getAs[Long]("correct3") == correct, s"seed $seed committee")
    }
  }

  test("ml_kmeans_lloyd: an independent Scala integer Lloyd agrees round for round") {
    // from-scratch reimplementation of the exact integer Lloyd loop
    // (tick quantization from the raw floats, lowest-cid argmin
    // tie-break, round-half truncating centroid division, empty-cluster
    // carry) — the Spark scans validated from outside Catalyst
    val raw = graft.tables.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(x =>
          math.floor(x.toDouble * 10000.0 + 0.5).toLong).toArray)
      .sortBy(_._1)
    val k = 8
    val dim = raw.head._2.length
    var cents: IndexedSeq[Array[Long]] = raw.take(k).map(_._2).toIndexedSeq
    def assign(cs: IndexedSeq[Array[Long]], q: Array[Long]): (Int, Long) = {
      var best = (Long.MaxValue, -1)
      cs.zipWithIndex.foreach { case (c, cid) =>
        var d2 = 0L; var i = 0
        while (i < dim) { val d = q(i) - c(i); d2 += d * d; i += 1 }
        if (d2 < best._1) best = (d2, cid)
      }
      (best._2, best._1)
    }
    var prev: Option[IndexedSeq[Array[Long]]] = None
    val ref = (1 to 3).map { t =>
      val asg = raw.map { case (_, q) => assign(cents, q) }
      val inertia = asg.map(_._2).sum
      val moved = prev match {
        case None => raw.length.toLong
        case Some(p) => raw.indices.count { i =>
          assign(p, raw(i)._2)._1 != asg(i)._1
        }.toLong
      }
      val upd = raw.indices.groupBy(i => asg(i)._1).map { case (cid, is) =>
        cid -> Array.tabulate(dim) { d =>
          val sq = is.map(i => raw(i)._2(d)).sum
          (2 * sq + is.size) / (2L * is.size)
        }
      }
      prev = Some(cents)
      cents = cents.indices.map(cid => upd.getOrElse(cid, cents(cid)))
      (t.toLong, inertia, moved)
    }
    val got = graft.ml.Ml5.mlKmeansLloyd(spark, sf).collect()
      .map(r => (r.getAs[Int]("round").toLong, r.getAs[Long]("inertia"),
        r.getAs[Long]("moved")))
    assert(got.toSeq == ref,
      s"Lloyd loop diverged from the independent replay:\n got $got\n ref $ref")
  }

  test("pagerankRounds property: an independent Scala loop agrees on random graphs") {
    import spark.implicits._
    // seeded random symmetric graphs (hubs, cycles, dangling pairs —
    // component shapes the near-dup corpus graph cannot force), each
    // replayed by a from-scratch integer PageRank on the driver
    def ref(edges: Seq[(Long, Long)],
            rounds: Int): Map[Long, (Long, Seq[Long])] = {
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r: Map[Long, Long] = deg.map { case (n, _) => n -> 1000000L }
      val ranks = (1 to rounds).map { _ =>
        val contrib = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
        }
        r = contrib.map { case (n, s) => n -> (150000L + 85L * s / 100L) }
        r
      }
      deg.map { case (n, d) => n -> (d, ranks.map(_(n))) }
    }
    Seq(3, 29, 71).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(20)
      val undirected = (
        // random pairs + a guaranteed hub and a cycle
        (0 until 3 * n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .filter { case (a, b) => a != b }.map { case (a, b) => (a min b, a max b) } ++
          (1 until n).map(i => (0L, i.toLong)) ++
          (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
            .map { case (a, b) => (a min b, a max b) }
        ).distinct
      val edges = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val got = graft.ops.Dedup2.pagerankRounds(edges.toDF("src", "dst"), 3, s"r6b.pagerank.prop:$seed")
        .collect()
        .map(r => r.getAs[Long]("node") -> (r.getAs[Long]("deg"),
          Seq(r.getAs[Long]("rank_q1"), r.getAs[Long]("rank_q2"),
            r.getAs[Long]("rank_q3")))).toMap
      val want = ref(edges, 3)
      assert(got == want, s"seed $seed: pagerank diverged from the replay")
    }
  }

  test("labelPropagation property: min-label fixpoint equals union-find on random graphs") {
    import spark.implicits._
    // fifth iterative core cross-validated from outside Catalyst:
    // seeded random pair lists (long chains force many propagation
    // rounds; dense blobs force wide merges) vs a driver union-find
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // label = component-min node id
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val byRoot = nodes.groupBy(find)
      byRoot.flatMap { case (_, ns) =>
        val lab = ns.min; ns.map(_ -> lab)
      }.toMap
    }
    Seq(13, 37, 83).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 40
      val pairs = (
        // a long chain (diameter ≈ n/2 — many propagation rounds) plus
        // random merge edges
        (0 until n / 2).map(i => (i.toLong, (i + 1).toLong)) ++
          (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
            .filter { case (a, b) => a != b }
        ).map { case (a, b) => (a min b, a max b) }.distinct
      val got = graft.ops.Dedup.labelPropagation(pairs.toDF("a", "b"),
        s"r6b.labelPropProperty:$seed")
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lab")).toMap
      val want = unionFind(pairs)
      assert(got == want, s"seed $seed: components diverged from union-find")
    }
  }

  test("ann_pq encoding: an independent Scala subspace argmin agrees vector for vector") {
    // sixth core replayed from outside Catalyst: the native PqNearest
    // argmin (codes + quantization error) vs a plain-Scala argmin over
    // the same integer-tick geometry, on every vector of the corpus
    val raw = graft.tables.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(x =>
          math.floor(x.toDouble * 1000000.0 + 0.5).toLong).toArray)
      .sortBy(_._1)
    val (subs, dps) = (8, 8)
    // round 11: the engine codebook is LLOYD-TRAINED — replicate the
    // two training rounds in PLAIN SCALA (an independent reference, not
    // the engine's code path): seed with the 16 lowest ids, assign each
    // vector per subspace by (d2, ordinal), update each non-empty cell
    // with the round-half integer division, carry empty cells
    val seedIds = raw.map(_._1).sorted.take(16)
    var cb: Array[(Long, Array[Array[Long]])] = seedIds.map { id =>
      id -> raw.find(_._1 == id).get._2.grouped(dps).toArray
    }.toArray
    def subDist(sv: Array[Long], slice: Array[Long]): Long = {
      var d2 = 0L; var i = 0
      while (i < dps) { val d = sv(i) - slice(i); d2 += d * d; i += 1 }
      d2
    }
    for (_ <- 1 to graft.ops.Similarity.pqTrainRounds) {
      val next = Array.tabulate(16, subs) { (c, s) => cb(c)._2(s).clone() }
      for (s <- 0 until subs) {
        val members = raw.groupBy { case (_, q) =>
          val sv = q.slice(s * dps, (s + 1) * dps)
          cb.indices.minBy(c => (subDist(sv, cb(c)._2(s)), c))
        }
        members.foreach { case (c, vs) =>
          for (d <- 0 until dps) {
            val sum = vs.map(_._2(s * dps + d)).sum
            next(c)(s)(d) = (2 * sum + vs.length) / (2L * vs.length)
          }
        }
      }
      cb = cb.zipWithIndex.map { case ((id, _), c) => (id, next(c)) }
    }
    def encode(q: Array[Long]): (Seq[Long], Long) = {
      var err = 0L
      val codes = (0 until subs).map { s =>
        val sv = q.slice(s * dps, (s + 1) * dps)
        // lowest-ordinal tie-break = lowest seed id (cb sorted by id)
        val best = cb.indices.minBy(c => (subDist(sv, cb(c)._2(s)), c))
        err += subDist(sv, cb(best)._2(s))
        cb(best)._1
      }
      (codes, err)
    }
    val got = graft.ops.Similarity.annPq(spark, sf).collect()
    assert(got.length == raw.length)
    got.foreach { r =>
      val q = raw.find(_._1 == r.getAs[Long]("vec_id")).get._2
      val (codes, err) = encode(q)
      (0 until subs).foreach { s =>
        assert(r.getAs[Long](s"code_$s") == codes(s),
          s"vec ${r.getAs[Long]("vec_id")} sub $s code mismatch")
      }
      assert(r.getAs[Long]("err_q") == err,
        s"vec ${r.getAs[Long]("vec_id")} quantization error mismatch")
    }
  }

  test("repetition fold property: max sorted-run equals max multiplicity on random arrays") {
    import spark.implicits._
    // seeded random arrays over a tiny alphabet (forces long runs, ties,
    // and empties — the cases the fixed corpus can't stress); one Spark
    // job evaluates the fold on all of them
    val rnd = new scala.util.Random(7)
    val arrays = (1 to 200).map { _ =>
      List.fill(rnd.nextInt(30))(s"t${rnd.nextInt(5)}")
    }
    val got = arrays.toDF("toks")
      .select(expr(graft.ops.Corpus2.maxRunSql("toks")).as("m"))
      .collect().map(_.getLong(0))
    arrays.zip(got).foreach { case (a, m) =>
      val want =
        if (a.isEmpty) 0L else a.groupBy(identity).values.map(_.size).max.toLong
      assert(m == want, s"fold said $m for $a (want $want)")
    }
  }
}
