package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.VectorOps
import graft.ops.AsOf
import graft.sources.Sources
import graft.streaming.CheckpointRestart

/** JSON rendering for the result and span files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed call into a layer. Failed calls keep their error and are
  * never used as a timing. */
final case class Call(pass: Int, op: String, layer: String, kind: String,
                      constructMs: Double, execMs: Double, ok: Boolean, error: String) {
  def fields: Map[String, Any] = Map("pass" -> pass, "op" -> op, "layer" -> layer,
    "kind" -> kind, "construct_ms" -> constructMs, "exec_ms" -> execMs, "ok" -> ok,
    "error" -> error)
}

/** The benchmark's JVM side: drives one workload through graft's public
  * functions in one `local[cores]` session with one driver thread (a
  * closed loop with a single client), records every call, writes each
  * op's output for the checks, and leaves a `result.json` the runner
  * turns into metrics.
  *
  * Usage: Main --workload W --data DIR --out DIR --warm N --trace 0|1
  *        [--ops a,b,c] [--lifecycle 1] [--setup-only 1]
  * (`--lifecycle 1` runs the daily lifecycle, see [[Workloads.Lifecycle]];
  * `--setup-only 1` stops once set up, as one more sample of `setup_s`)
  */
object Main {
  private val modules: Seq[(String, Seq[Map[String, _]])] = {
    import graft.ml._
    import graft.ops._
    Seq(
      "relational" -> Seq(Relational.all, Relational2.all, Relational3.all,
        Relational4.all, Relational5.all, AsOf.all, Analytics.all, StatsPlan.all,
        graft.plans.TopK.all),
      "features" -> Seq(Features.all, Features2.all, Features3.all),
      "ml" -> Seq(Models.all, Metrics.all, Ml3.all, Ml4.all, Ml5.all, Ols.all,
        Irls.all, NaiveBayes.all),
      "text" -> Seq(Text.all, Text2.all, Redact.all, Bpe.all, Quality.all, QualityGate.all),
      "dedup" -> Seq(Dedup.all, Dedup2.all),
      "corpus" -> Seq(Corpus.all, Corpus2.all, Takedown.all, Vacuum.all),
      "ann" -> Seq(Similarity.all, GraphAnn.all),
      "sources" -> Seq(graft.sources.SourceQueries.all),
      "streaming" -> Seq(graft.streaming.Events.all))
  }

  /** The layer an op belongs to: the module that defines it. */
  def layerOf(op: String): String =
    modules.collectFirst { case (layer, ms) if ms.exists(_.contains(op)) => layer }
      .getOrElse(sys.error(s"op $op is defined outside every benchmark layer"))

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = new File(args("data")).getAbsolutePath
    val out = new File(args("out")).getAbsolutePath
    val warm = args("warm").toInt
    val trace = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out, "check"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.broadcastTimeout", "1200")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // resolving the ops initializes graft's modules: set-up work
    val ops = args.getOrElse("ops", "").split(",").toSeq.filter(_.nonEmpty)
      .map(o => (o, layerOf(o), SparkEntry.queries(o)))
    val bench = new Workloads(spark, if (trace) Some(new Tracer(spark)) else None, s"$out/check")
    val firstOpMs = System.currentTimeMillis()
    if (args.get("setup-only").contains("1")) {
      Files.write(Paths.get(out, "result.json"),
        Json.write(Map("first_op_ms" -> firstOpMs)).getBytes("UTF-8"))
      spark.stop()
      return
    }

    val extra = bench.run(ops, args.get("lifecycle").contains("1"), data, out, warm)
    val endMs = System.currentTimeMillis()
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val storage = spark.sparkContext.getRDDStorageInfo
    val mx = java.lang.management.ManagementFactory.getCompilationMXBean
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).filter(_ > 0).sum
    val traced: Seq[(String, Any)] = bench.tracer.toSeq.flatMap { t =>
      t.writeSpans(s"$out/spans.jsonl")
      Seq("layers" -> t.layers(bench.tracedPasses.toSet, cores),
        "streaming_rows_per_tick" -> t.rowsPerTick,
        "functions" -> Probes.run(spark))
    }

    val result = Map(
      "first_op_ms" -> firstOpMs, "end_ms" -> endMs,
      "peak_rss_kb" -> rssKb,
      "memo_bytes" -> storage.map(s => s.memSize + s.diskSize).sum,
      "memo_blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
      "jit_ms" -> (if (mx.isCompilationTimeMonitoringSupported) mx.getTotalCompilationTime else 0L),
      "gc_ms" -> gcMs,
      "traced_passes" -> bench.tracedPasses.toSeq.sorted,
      "calls" -> bench.calls.map(_.fields).toSeq,
      "check_errors" -> bench.checkErrors.toMap) ++ extra ++ traced
    Files.write(Paths.get(out, "result.json"), Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Timed passes over one workload. */
final class Workloads(spark: SparkSession, val tracer: Option[Tracer], checkDir: String) {
  val calls = mutable.ArrayBuffer[Call]()
  /** The traced warm passes (the cold pass is traced too, but not summarised). */
  val tracedPasses = mutable.Set[Int]()
  /** Outputs that could not be written for the checks, by name. */
  val checkErrors = mutable.LinkedHashMap[String, String]()
  private var tracing = false

  private def spanned[T](name: String, layer: String, pass: Int)(body: => T): T =
    tracer.filter(_ => tracing).fold(body)(_.span(name, layer, pass)(body))

  /** Time one public call: `build` is the call itself (eager jobs
    * included); a returned frame is then materialized through the noop
    * sink. */
  def call(pass: Int, op: String, layer: String, kind: String)(
      build: => Option[DataFrame]): Option[DataFrame] = {
    var construct, exec = 0L
    var result: Option[DataFrame] = None
    val error = try {
      spanned(op, layer, pass) {
        val t0 = System.nanoTime()
        result = spanned("construct", layer, pass)(build)
        val t1 = System.nanoTime()
        construct = t1 - t0
        result.foreach(df => spanned("execute", layer, pass)(Main.materialize(df)))
        exec = System.nanoTime() - t1
      }
      ""
    } catch { case e: Throwable =>
      result = None
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    calls += Call(pass, op, layer, kind, construct / 1e6, exec / 1e6, error.isEmpty, error)
    result
  }

  /** The cold pass, then `warm` warm passes. With tracing, the cold pass
    * and every second warm pass are traced; the others are not, so the
    * traced run measures its own overhead. */
  private def passes(warm: Int)(run: Int => Unit): Unit = {
    var p = 0
    while (p <= warm) {
      tracing = tracer.isDefined && (p == 0 || p % 2 == 0)
      if (tracing) { tracer.get.attach(); if (p > 0) tracedPasses += p }
      run(p)
      if (tracing) tracer.get.detach()
      tracing = false
      p += 1
    }
  }

  /** Write an output for the checks right away, between timed calls. */
  private def keep(name: String, df: Option[DataFrame]): Unit = df.foreach { d =>
    try d.write.mode("overwrite").parquet(s"$checkDir/$name")
    catch { case e: Throwable => checkErrors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
  }

  /** One workload. Each pass runs one day of the reference's lifecycle
    * (with `lifecycle`), then every op. The cold and the last pass's
    * outputs are kept for the checks. */
  def run(ops: Seq[(String, String, (SparkSession, String) => DataFrame)], lifecycle: Boolean,
          data: String, out: String, warm: Int): Seq[(String, Any)] = {
    val days = if (lifecycle) Some(new Lifecycle(data, s"$out/daily")) else None
    passes(warm) { p =>
      days.foreach(_.day(p, keepReads = p == warm))
      ops.foreach { case (op, layer, fn) =>
        val df = call(p, op, layer, "read")(Some(fn(spark, data)))
        if (p == 0) keep(s"$op.cold", df) else if (p == warm) keep(s"$op.last", df)
      }
    }
    Seq("oracle" -> ops.flatMap { case (o, _, _) => SparkEntry.oracleSql.get(o).map(o -> _) }.toMap) ++
      days.toSeq.flatMap(_.summary)
  }

  private def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles).toSeq.flatten.map(duBytes).sum

  private def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).map(dataFiles).sum

  /** The reference's daily lifecycle over generated day slices: insert
    * the day's games and commit yesterday's late labels, drain the day's
    * events with a streaming tick, then read the latest games, the
    * stream's sink as of the previous tick, and point-in-time features.
    * From day 1, before the day's load, the log is folded into a new base
    * generation and the folded batches are vacuumed; reads then go
    * through base plus deltas. */
  final class Lifecycle(data: String, root: String) {
    private val (log, sink, ckpt, src) =
      (s"$root/games_log", s"$root/sink", s"$root/ckpt", s"$root/stream_src")
    private val bases = Seq(s"$root/base_a", s"$root/base_b")
    private val keys = Seq("event_id")
    private val sinkIds = mutable.ArrayBuffer[Long]()
    private val filesPerRead = mutable.ArrayBuffer[Int]()
    private var base: Option[String] = None
    private var rewritten, inputBytes = 0L
    Files.createDirectories(Paths.get(src))

    private def file(kind: String, d: Int) = f"$data/${kind}_d$d%02d.parquet"

    def day(d: Int, keepReads: Boolean): Unit = {
      if (!new File(file("events", d)).isFile)
        sys.error(s"the lifecycle ran out of generated days at day $d")
      if (d > 0) {
        val next = bases(d % 2)
        call(d, "compact", "sources", "write") {
          base match {
            case None => Sources.compactLog(spark, log, keys, next)
            case Some(b) => Sources.recompact(spark, b, log, keys, next)
          }
          Sources.vacuumLog(spark, log, next)
          None
        }
        base = Some(next)
        rewritten += duBytes(new File(s"$next/base"))
      }
      // the day's events arrive in the stream source (untimed)
      Files.copy(Paths.get(file("events", d)), Paths.get(f"$src/part-d$d%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      inputBytes += new File(file("insert", d)).length()
      call(d, "commit_insert", "sources", "write") {
        Sources.commitBatch(spark.read.parquet(file("insert", d)), log, "insert"); None
      }
      if (d > 0) {
        inputBytes += new File(file("label", d - 1)).length()
        call(d, "commit_labels", "sources", "write") {
          Sources.commitBatch(spark.read.parquet(file("label", d - 1)), log, "labels"); None
        }
      }
      call(d, "tick", "streaming", "write") {
        CheckpointRestart.tick(spark, src, sink, ckpt); None
      }
      sinkIds += Sources.committedIds(sink).lastOption.getOrElse(-1L)
      filesPerRead += dataFiles(new File(log)) + base.fold(0)(b => dataFiles(new File(s"$b/base")))
      val games = call(d, "read_latest", "sources", "read") {
        Some(base.fold(Sources.readLatest(spark, log, keys))(b =>
          Sources.readCompacted(spark, b, log, keys)))
      }
      val sinkAsOf = if (d == 0) None else call(d, "read_sink_asof", "sources", "read") {
        Some(Sources.readAsOf(spark, sink, Seq("window_start", "event_type"), sinkIds(d - 1)))
      }
      val features = call(d, "pit_features", "relational", "read") {
        val probe = spark.read.parquet(file("insert", d)).select("event_id", "user_id", "ts")
        val views = spark.read.parquet(src).filter(col("event_type") === "view")
          .select("user_id", "ts", "value")
        Some(AsOf.asofJoin(probe, views, "user_id", "ts", "value", "prior_view_value"))
      }
      if (keepReads) {
        keep("read_latest", games)
        keep("read_sink_asof", sinkAsOf)
        keep("pit_features", features)
      }
    }

    def summary: Seq[(String, Any)] = Seq(
      "store_bytes" -> (duBytes(new File(log)) + base.fold(0L)(b => duBytes(new File(b)))),
      "input_batch_bytes" -> inputBytes, "bytes_rewritten" -> rewritten,
      "log_files_per_read" -> filesPerRead.sum.toDouble / math.max(1, filesPerRead.size))
  }
}

/** Projection-only probes of three native expressions through
  * [[VectorOps]] over a cached generated input. Each evaluates the
  * expression `k` times per row inside a fold, and again with a constant
  * in its place; the difference, per evaluation, is the expression's
  * wall cost (median of three). */
object Probes {
  private val rows = 50000L
  private val k = 16

  def run(spark: SparkSession): Map[String, Double] = {
    def tokens(mul: Int, mod: Int) = transform(sequence(lit(0), lit(19)), i =>
      concat(lit("w"), ((col("id") * mul + i) % mod).cast("string")))
    def vector(f: Column => Column) = transform(sequence(lit(0), lit(63)), i => f(col("id") * 0.37 + i))
    val input = spark.range(rows)
      .select(tokens(7, 97).as("a"), tokens(11, 89).as("b"), vector(sin).as("u"), vector(cos).as("v"))
      .withColumn("s", concat_ws(" ", col("a")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    input.count()
    // a fresh frame per timing: re-running one Dataset would reuse its shuffle
    def wallMs(e: Column): Double = {
      val t0 = System.nanoTime()
      input.select(max(aggregate(sequence(lit(1), lit(k)), lit(0.0),
        (acc, _) => acc + e.cast("double")))).collect()
      (System.nanoTime() - t0) / 1e6
    }
    def nsPerEval(e: Column): Double = {
      wallMs(e)
      val diffs = (1 to 3).map(_ => wallMs(e) - wallMs(lit(0.0))).sorted
      diffs(1) * 1e6 / (rows * k)
    }
    try Map(
      "jaccard_ns_per_pair" -> nsPerEval(VectorOps.jaccardSim(col("a"), col("b"))),
      "rollhash_ns_per_row" -> nsPerEval(VectorOps.rollhash64(col("s")) % 1024),
      "cosine_ns_per_pair" -> nsPerEval(VectorOps.cosine(col("u"), col("v"))))
    finally input.unpersist()
  }
}
