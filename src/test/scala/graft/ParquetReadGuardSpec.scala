package graft

import java.io.File

import scala.io.Source
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source rules for `src/main`, each a pattern allowed only in the files
  * that own the decision it names:
  *  - every batch parquet read goes through `Tables.parquet`, which learns
  *    the schema without a Spark job; a direct reader call elsewhere would
  *    bring the inference job back unseen;
  *  - every DataFrame file write goes through `Tables.write`, whose writer
  *    carries `LocalFs.options`, so no write forks a process per file; the
  *    writes that are not DataFrame file writes are exempt (MLlib's
  *    `model.write`, `Jdbc.write`, `Bench`'s `noop` sink), and
  *    `LocalFs.options` is named only where a writer or a drain session
  *    takes it (`Tables.scala`, `Drain.scala`);
  *  - every stream start lives in `streaming.Drain` or in the continuous
  *    queries of `Events.scala`;
  *  - every per-JVM reuse goes through `QueryCaches.memo`, which is the
  *    only place that builds exactly once and scopes keys on the
  *    `SparkContext`;
  *  - every file-stream drain goes through `streaming.Drain`
  *    (`CheckpointRestart.tick` through its `availableNow`);
  *  - no native expression writes its own Java loop: each has one static
  *    kernel that eval and codegen both call, so the two cannot diverge;
  *  - the no-fork local file system and the keys that select it live in
  *    `LocalFs.scala` alone, and the drain-session settings in
  *    `Drain.scala` alone, so each is decided in one place;
  *  - the vector codec is written once: the 10⁻⁶ tick quantizer
  *    `floor(x·10⁶ + 0.5)` in `VectorOps.qtick`; the sign bucket in
  *    `Dedup.signBucket`, whose planes only `Dedup` and the oracle strings
  *    that embed `Dedup.bucketSql(planes)` draw; and the PQ encoder and
  *    ADC tables (`pqNearest`, `pqDists`) in `Similarity`'s codec;
  *  - per-row array math is a native kernel: `VectorOps` builds no
  *    higher-order lambda (`transform`, `aggregate`, `zip_with`), which
  *    Spark interprets per element, and document MinHash signs through
  *    the `MinHash` kernel — a per-permutation `min` of `mix64` stays
  *    only in `Multimodal`, whose hashes come from frame rows.
  *
  * A rule scans every file of `src/main` unless it names the files it
  * covers (`only`).
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private case class Rule(test: String, pattern: Regex, allowed: Set[String], fix: String,
                          only: Option[String] = None)

  private val rules = Seq(
    Rule("no direct spark.read.parquet outside Tables.parquet and its bridge",
      // `.read` then any option/schema calls, then `.parquet(` or a parquet format
      """\.read\s*(\.\w+\([^()]*\)\s*)*\.(parquet\(|format\(\s*"parquet"\s*\))""".r,
      Set("Tables.scala", "GraftParquetBridge.scala"), "read parquet through Tables.parquet"),
    // a DataFrameWriter `.write`: not Tables.write itself, Files.write,
    // MLlib's model.write, Jdbc.write or the noop sink; Jdbc.scala holds
    // the JDBC writer
    Rule("no DataFrame file write outside Tables.write",
      """(?<!Tables|Files|model|Jdbc)\.write\b(?!\.format\("noop"\))""".r,
      Set("Tables.scala", "Jdbc.scala"), "write files through Tables.write"),
    Rule("no LocalFs.options outside Tables.write and the drain session",
      """LocalFs\.options""".r, Set("Tables.scala", "Drain.scala"),
      "write through Tables.write, or drain through streaming.Drain"),
    Rule("no writeStream outside Drain and Events", """\.writeStream\b""".r,
      Set("Drain.scala", "Events.scala"), "start drains through streaming.Drain"),
    Rule("no computeIfAbsent outside QueryCaches", """computeIfAbsent\(""".r,
      Set("QueryCaches.scala"), "memoize through QueryCaches.memo"),
    Rule("no applicationId outside QueryCaches", "applicationId".r,
      Set("QueryCaches.scala"), "QueryCaches.memo scopes keys on the SparkContext"),
    Rule("no Trigger.AvailableNow outside the drain helper and CheckpointRestart",
      """Trigger\.AvailableNow\(\)""".r, Set("Drain.scala", "Events.scala"),
      "drain file streams through streaming.Drain"),
    Rule("no hand-written codegen loops (freshName) in src/main", """freshName\(""".r,
      Set.empty, "put the loop in a static kernel that nullSafeEval and doGenCode both call"),
    Rule("no local file system classes or keys outside LocalFs",
      """DelegateToFileSystem|fs\.file\.impl|fs\.AbstractFileSystem\.file\.impl""".r,
      Set("LocalFs.scala"), "select the local file system through LocalFs.options"),
    Rule("no drain-session settings outside the drain helper",
      """noDataMicroBatches|statefulOperator\.allowMultiple|artifact\.isolation""".r, Set("Drain.scala"),
      "start drains through streaming.Drain"),
    // the quantizer's shape, not the bare literal: DistRank and Ml4 divide
    // by lit(1000000.0) to decode 10⁻⁶-quantized sums, a separate decision
    Rule("no tick quantization outside VectorOps",
      """lit\(1000000\.0\)\s*\+\s*lit\(0\.5\)""".r, Set("VectorOps.scala"),
      "quantize through VectorOps.qtick / qticks"),
    Rule("no hyperplanes outside Dedup and the oracles that embed bucketSql",
      """hyperplanes\(""".r,
      Set("Dedup.scala", "Similarity.scala", "GraphAnn.scala", "Takedown.scala"),
      "bucket through Dedup.signBucket"),
    Rule("no sign bucket outside Dedup.signBucket", """when\(dot\(""".r, Set("Dedup.scala"),
      "bucket through Dedup.signBucket"),
    Rule("no PQ encode or distance table outside the Similarity codec",
      """pqNearest\(|pqDists\(""".r, Set("VectorOps.scala", "Similarity.scala"),
      "encode through Similarity's encoder and distance tables"),
    Rule("no higher-order lambda in VectorOps", """\b(transform|aggregate|zip_with)\(""".r,
      Set.empty, "write the per-row array math as a native kernel in Exprs",
      only = Some("VectorOps.scala")),
    Rule("no per-permutation min of mix64 outside Multimodal", """min\(\s*mix64\(""".r,
      Set("Multimodal.scala"), "sign documents through VectorOps.minhash"))

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  private lazy val sources: Seq[(File, String)] = {
    val main = new File("src/main")
    assert(main.isDirectory, s"run from the project root (no ${main.getAbsolutePath})")
    val files = scalaFiles(main)
    assert(files.size > 50)
    files.map { f =>
      val src = Source.fromFile(f, "UTF-8")
      f -> (try src.mkString finally src.close())
    }
  }

  rules.foreach { rule =>
    test(rule.test) {
      val scanned = sources.filter { case (f, _) => rule.only.forall(_ == f.getName) }
      assert(scanned.nonEmpty, s"no file ${rule.only.getOrElse("")} in src/main")
      val hits = scanned.filterNot { case (f, _) => rule.allowed(f.getName) }.flatMap {
        case (f, text) =>
          rule.pattern.findAllMatchIn(text).map { m =>
            val line = text.substring(0, m.start).count(_ == '\n') + 1
            s"${f.getPath}:$line: ${m.matched.replaceAll("\\s+", " ")}"
          }
      }
      assert(hits.isEmpty, s"${rule.fix}:\n" + hits.mkString("\n"))
    }
  }
}
