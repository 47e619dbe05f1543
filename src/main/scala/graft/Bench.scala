package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tables.Tables

/** Benchmark main — driver contract: one JSON line with per-query and
  * total wall seconds on SPARK_GRAFT_SF_DIR.
  *
  * Headline queries per SURVEY.md §6. Each result is fully materialized
  * through the `noop` sink — `count()` would let Catalyst prune the
  * projections being measured. A table-scan warm-up runs first so JVM/
  * codegen startup cost isn't attributed to the first query.
  */
object Bench {
  val headline: Seq[String] = Seq(
    // the round-1..4 carried set
    "q_agg_pricing", "q_join_shuffle", "q_multi_join_agg",
    "q_asof_join", "q_topk_per_key",
    "f_comp_diff", "f_standard_scale",
    "dedup_minhash_lsh", "ann_bruteforce", "text_quality",
    "stream_window_agg",
    // round-5 widening: the heavy/iterative representatives so every
    // operator family has a timed, shuffle-budgeted regression gate
    "dedup_cluster", "graph_pagerank", "graph_pagerank_iter",
    "ann_pq_search", "ann_pq_refine", "ann_centroid_ivf",
    "ml_ks_statistic_dist", "q_sequence_gaps_dist", "f_quantile_bucket_dist",
    "mm_chunk_dedup", "text_tfidf", "src_jdbc_roundtrip",
    "ml_gbt_step2", "ml_kmeans_lloyd", "src_sorted_layout",
    "src_zorder_layout",
    // round-6 additions: the persisted-index search, log compaction,
    // and the 3-round alpha-voting boosting loop
    "ann_index_persist", "src_compact", "ml_gbt_step3",
    // round-6 second wave: the incremental-index probe, the IVFADC
    // composition, and SemDeDup's cell-scoped pairwise join — the three
    // new plan shapes worth a standing regression gate
    "dedup_incremental", "ann_ivf_pq", "dedup_semantic",
    // round-7 additions: positional substring dedup (the one new heavy
    // plan shape), the frozen-codebook index append, and the 2-round
    // exact IRLS trainer
    "dedup_passage_spans", "ann_index_append", "ml_logreg_step2",
    "ml_logreg_step3", "corpus_passage_clean",
    // round-8 additions: the PII cascade, the BPE fold + its pack
    // consumer, the HLL sketch-state merge, the codebook-refresh gate,
    // and the IRLS-trained corpus filter — the six new plan shapes
    "text_redact", "text_token_count_bpe", "corpus_pack_bpe",
    "q_incremental_distinct", "ann_index_refresh", "corpus_quality_gate",
    // round-8 second wave: document-splitting sequence packing (the
    // chunk-explode + rank/bin shape) and the bucketed corpus layout
    // (F17's rebuild join over a bucket-co-located scan)
    "corpus_pack_split", "src_bucketed_corpus",
    // round 9: the production-vocab broadcast-trie subword encoder —
    // timed next to the literal-CASE twin (text_token_count_bpe) so a
    // vocab-scalability regression shows as a wall-clock number — and
    // the graph-ANN serve (NN-descent build + multi-entry greedy walk)
    "text_token_count_prod", "ann_graph_search",
    // round 10: the native merge-order BPE encoder at production merge
    // count (broadcast merge-rank table, in-order heap encode) — timed
    // next to the trie path so the merge-COUNT-scalability story has a
    // wall-clock number — and the ef-bounded beam serve next to the
    // greedy graph walk
    "text_token_count_merges_prod", "ann_graph_beam",
    // and the maintained graph index serving from the gate-picked generation
    "ann_graph_append",
    // round 11: O(log n) star-contraction clustering timed next to the
    // min-label twin (dedup_cluster) — the diameter-robustness story
    // with a wall-clock number — and the layered graph serve next to
    // the flat beam
    "dedup_cluster_logn", "ann_graph_layer",
    // round 13 (the r12 verdict's re-pin): the ADC walk serve, the
    // tombstoned index probe (broadcast anti-join on D13's plan), the
    // bridge-repaired delete serve, and the refined deg-40 ADC walk —
    // BASELINE_BENCH re-pinned to this 57-row set at the r13 close
    "ann_graph_beam_adc", "dedup_tombstone", "ann_graph_delete",
    "ann_graph_refine",
    // round 14 (the r13 verdict's directive #6 + the round's two new
    // operators): the generation-pointer vacuum serve, the five-
    // artifact takedown cascade, the streamed tombstone admit, the
    // cell-balance audit, the hot-cell split, and the bin top-up —
    // BASELINE_BENCH re-pinned to this 63-row set at the r14 close
    "dedup_tombstone_vacuum", "takedown_cascade", "stream_tombstone_admit",
    "ann_cell_audit", "ann_cell_split", "takedown_bin_topup")

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The driver captures only the LAST ~2000 characters of stdout and
    * parses the final JSON line out of that tail. Round 6 widened the
    * line with two shuffle-byte maps to 2,911 chars and the driver
    * recorded `parsed: null` — the engine was fine but the gate was
    * blind. The contract is therefore split: this FINAL line carries
    * only what the driver grades (total, per-query seconds, gate
    * verdicts) and must stay under [[maxFinalLineChars]]; the
    * shuffle-byte maps go to an EARLIER stdout line + a sidecar file
    * (see [[sidecarLine]]) where tail truncation can't eat them.
    * BenchContractSpec pins the length so future widening fails the
    * suite instead of silently blinding the driver again.
    */
  val maxFinalLineChars = 1900

  /** Locale-pinned %.3f — the f interpolator honors the JVM default
    * locale, and a comma-decimal default would make the graded JSON
    * line unparseable (the exact driver-blindness failure this line's
    * length budget guards against, via a different channel).
    */
  private def sec3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def finalLine(total: Double, results: Seq[(String, Double)],
      shuffleOk: Boolean, gate: String, sfDir: String): String = {
    // per-query seconds render capped at 999.999: the line's length
    // budget is a hard driver contract (see maxFinalLineChars) and a
    // four-integer-digit query is a failed round regardless of its
    // exact number — the cap buys one character per query of
    // worst-case headroom, which is what let the 63-query r14 set fit
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + sec3(math.min(v, 999.999)) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qs,"shuffle_ok":$shuffleOk,"budget_gate":"$gate","sf":"$sfDir"}"""
  }

  /** Shuffle-byte detail line (headline + extended maps) — printed
    * BEFORE the final line and mirrored to `target/bench/shuffle_bytes
    * .json` so the regression evidence survives even though the driver
    * tail never sees it.
    */
  def sidecarLine(shuffles: Seq[(String, Long)],
      extended: Seq[(String, Long)]): String = {
    def m(xs: Seq[(String, Long)]) =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"metric":"shuffle_bytes","headline":${m(shuffles)},"extended":${m(extended)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    warmUp(spark, sfDir, headline)

    // Each query is timed SPARK_GRAFT_BENCH_PASSES times (default 3) and
    // the per-query MINIMUM is reported: best-of-N is the standard way to
    // measure the operator rather than whatever else the host was doing
    // during one pass (the machine is shared while rounds are judged).
    // Passes are ROUND-ROBIN (all queries in pass 1, then all in pass 2,
    // ...) so a multi-minute contention spike on the shared host lands on
    // different queries in different passes and the min survives it —
    // back-to-back passes of one query both die inside the same spike.
    // at least one pass always runs — it doubles as the shuffle-metering
    // pass, so PASSES=0 must not leave the budget gate starved
    val passes = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val named = headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    // the FINAL pass doubles as the shuffle-metering pass for the
    // regression gate below: Telemetry.measure executes the same plan
    // (toRdd materialization), so its wall time is a comparable timing
    // sample and the metering costs no extra pass on the shared host
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    val samples = (1 to passes).flatMap { p =>
      named.map { case (name, fn) =>
        if (p == passes) {
          val t0 = System.nanoTime()
          val m = try Telemetry.measure(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            // record real elapsed-to-failure, not a sentinel that could
            // become the reported best and corrupt the JSON total
            Telemetry.RunMetrics((System.nanoTime() - t0) / 1e9, 0L, -1L, 0L)
          }
          shuffleBytes(name) = m.shuffleBytesWritten
          // wall time from BEFORE fn(): queries that run driver-side
          // training loops during construction (ml_kmeans_lloyd, the E3
          // codebook collect) must bill that work like the materialize
          // passes do — m.wallSec alone would underreport them. Their
          // construction-job shuffle volume is likewise outside the
          // final plan's metrics; the budget pins the final plan, and
          // the construction jobs' plan shapes are spec-pinned instead.
          name -> (System.nanoTime() - t0) / 1e9
        } else {
          val t0 = System.nanoTime()
          try materialize(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          name -> (System.nanoTime() - t0) / 1e9
        }
      }
    }
    val best = samples.groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).min }
    val results = named.map { case (name, _) => name -> best(name) }
    val total = results.map(_._2).sum
    // shuffle-byte regression gate against the pinned budgets (see
    // ShuffleBudget) — wall time is host-noise, shuffle volume is a
    // property of the plan, so a >2× regression FAILS the bench run
    // instead of hiding inside a slow-host total. A query that THREW
    // during metering records -1 and counts as a violation: the failure
    // modes a regression causes (executor OOM from a lost broadcast)
    // must not read as a pass.
    val shuffles = named.map { case (name, _) =>
      name -> shuffleBytes.getOrElse(name, -1L)
    }
    // the extended sweep: non-headline queries with pinned budgets are
    // METERED once (not timed — the timing set stays the curated
    // headline) so a plan regression can't hide in an ungated query
    val extended = ShuffleBudget.extendedForDir(sfDir).keys.toSeq.sorted.map { name =>
      val bytes = try Telemetry.measure(SparkEntry.queries(name)(spark, sfDir))
        .shuffleBytesWritten
      catch { case e: Throwable =>
        System.err.println(s"[bench] extended $name failed: ${e.getMessage}")
        -1L
      }
      name -> bytes
    }
    val violations = ShuffleBudget.forDir(sfDir).toSeq.flatMap { budget =>
      shuffles.collect {
        case (n, s) if s < 0 && budget.contains(n) =>
          s"$n failed during metering"
        case (n, s) if budget.get(n).exists(s > _) =>
          s"$n=$s > budget=${budget(n)}"
      }
    } ++ extended.collect {
      case (n, s) if s < 0 => s"extended $n failed during metering"
      case (n, s) if s > ShuffleBudget.extendedForDir(sfDir)(n) =>
        s"extended $n=$s > budget=${ShuffleBudget.extendedForDir(sfDir)(n)}"
    }
    // the hard gate only applies under the config the budgets were
    // measured on (see ShuffleBudget.fingerprint) and without the
    // explicit SPARK_GRAFT_BUDGET_GATE=off escape hatch — an environment
    // drift (codec/partition-count/Spark bump) that inflates compressed
    // shuffle size is a re-baselining prompt, not a plan regression
    val enforced = ShuffleBudget.enforced(spark, sfDir)
    val gate = if (enforced) "enforced" else "advisory"
    // shuffle detail first (tail-truncatable position + sidecar file),
    // compact graded line LAST — see the finalLine scaladoc
    val detail = sidecarLine(shuffles, extended)
    println(detail)
    try {
      val dir = java.nio.file.Paths.get("target", "bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("shuffle_bytes.json"),
        detail.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    val line = finalLine(total, results, violations.isEmpty, gate, sfDir)
    if (line.length >= maxFinalLineChars)
      System.err.println(s"[bench] WARNING final line ${line.length} chars " +
        s">= $maxFinalLineChars — driver tail capture may truncate it")
    println(line)
    if (!enforced) {
      val why = (ShuffleBudget.mismatches(spark, sfDir) ++
        sys.env.get("SPARK_GRAFT_BUDGET_GATE").filter(_.toLowerCase == "off")
          .map(_ => "SPARK_GRAFT_BUDGET_GATE=off")).mkString("; ")
      System.err.println(s"[bench] budget gate ADVISORY ($why) — " +
        "re-baseline with graft.BudgetProbe after config changes")
    }
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(s"[bench] SHUFFLE BUDGET EXCEEDED: ${violations.mkString("; ")}")
      if (enforced) sys.exit(1)
    }
  }

  /** Local cores the bench session runs on: `SPARK_GRAFT_CPUS`, else all. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every runtime main measures or dumps in, so they all run
    * the same plans: [[GraftSession.builder]] on `local[cpus]` with `cpus`
    * shuffle partitions, plus two settings of its own.
    */
  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      // a GC pause during an MLlib parallel fit can outlast the 300 s
      // broadcast default when every query runs in one JVM
      .config("spark.sql.broadcastTimeout", "1200")
      // single-file-per-table inputs: smaller split target keeps all
      // cores busy on the scan stage
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run each named query once at the smallest scale factor (or at
    * `sfDir`, if no smaller exists), then touch `sfDir`'s tables. Whole-
    * stage codegen caches by generated source, so the tiny-SF pass
    * compiles and JITs every plan shape and the measured pass reflects
    * execution, not compiler time; the touch keeps file listing and
    * footers out of the first measured query. Failures here are ignored:
    * the measured passes report them.
    */
  def warmUp(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val warmDir = {
      val tiny = sfDir.replaceAll("sf[0-9.]+$", "sf0.001")
      if (new java.io.File(tiny).isDirectory) tiny else sfDir
    }
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try materialize(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    }
    Tables.names.foreach { t =>
      try Tables.parquet(spark, s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
  }
}
