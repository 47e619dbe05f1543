package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Bpe, GraphAnn, StatsPlan, VocabTrain}

/** Round-10 ADVICE-low witnesses (the four source-level lows from the
  * round-9 advisor; the fifth — commitStagedFrom's over-broad retry
  * catch — is witnessed in Round10bSpec through the CommitStore
  * abstraction it motivated).
  */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // --- ADVICE low #1: GraphAnn's bounded walk must fail LOUDLY when a
  // walk is still strictly improving at the step cap (the oracle's
  // recursive CTE is unbounded — silent truncation would surface only
  // as a hash mismatch).
  test("annGraphSearch raises loudly when walks outlive the step cap") {
    val e = intercept[IllegalArgumentException] {
      // stepCap = 0 leaves every entry-walk "active" by construction;
      // k = 2 keeps the memo key distinct from the contract row's
      GraphAnn.annGraphSearch(spark, dir, k = 2, stepCap = 0)
    }
    assert(e.getMessage.contains("still strictly improving"),
      s"wrong failure: ${e.getMessage}")
  }

  // --- ADVICE low #2: ANALYZE/CREATE TABLE registrations live in ONE
  // SparkContext's catalog — a dir-only key would hand a later context
  // in the same JVM table names that no longer resolve.
  test("StatsPlan memoizes catalog registrations per applicationId, not per dir") {
    StatsPlan.analyzedTables(spark, dir)
    assert(QueryCaches.has(s"statsplan.tables:$dir"),
      "analyzedTables must memoize under the active context")
    assert(!QueryCaches.has(s"statsplan.tables:$dir", appId = "a-later-context"),
      "another context must not see this context's registrations")
  }

  // --- ADVICE low #4: corpus text carrying U+001F (the symbol
  // separator) would make BOTH engines agree on semantically wrong
  // token counts — the guard must raise, identically mirrored in the
  // oracle via DuckDB error().
  test("vocab_train's U+001F guard raises on separator-bearing input text") {
    val bad = Seq((1L, "clean words"), (2L, "poisoned\u001Ftext")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      bad.select(VocabTrain.guarded(col("text"))).collect()
    }
    assert(e.getMessage.contains("U+001F"), s"wrong failure: ${e.getMessage}")
    // clean text passes through unchanged
    val ok = Seq("clean words").toDF("text")
      .select(VocabTrain.guarded(col("text"))).head().getString(0)
    assert(ok == "clean words")
    // and the oracle carries the IDENTICAL check (docs_ck view + error())
    Seq("vocab_train", "text_token_count_trained").foreach { q =>
      val sql = VocabTrain.oracles(q)
      assert(sql.contains("docs_ck") && sql.contains("error('vocab_train"),
        s"$q oracle lost the mirrored U+001F check")
    }
  }

  // --- Round-10 directive #2: the E15 edge build must not funnel the
  // id column through a fact-scale single-partition window (the ring
  // seed now rides DistRank + rank equi-join, A50b's shape). The ONE
  // legitimate empty-partition window is DistRank's slice-offsets
  // running sum — a ≤ shuffle.partitions-row frame, recognizable by its
  // `_slice` ordering key.
  test("E15 edge build carries no fact-scale single-partition window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val plan = GraphAnn.buildEdges(spark, dir).queryExecution.optimizedPlan
    val offenders = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        !w.orderSpec.exists(_.child.references.exists(_.name == "_slice")) => w
    }
    assert(offenders.isEmpty,
      s"fact-scale single-partition window(s) in the E15 build:\n" +
        offenders.map(_.simpleString(120)).mkString("\n"))
  }

  // --- ADVICE low #5: Java's \s includes vertical tab U+000B, RE2's
  // (DuckDB) does not — every pattern both engines evaluate must spell
  // the whitespace set explicitly. Pin the drift closed repo-wide: no
  // oracle SQL may contain a \s shorthand at all.
  test("no oracle SQL uses the \\s shorthand (Java/RE2 whitespace sets differ)") {
    val offenders = SparkEntry.oracleSql.filter(_._2.contains("\\s")).keys
    assert(offenders.isEmpty,
      s"oracles still using \\s shorthand: ${offenders.mkString(", ")}")
  }

  test("explicit whitespace class is exactly Java's \\s set (engine unchanged)") {
    val texts = Seq("a\u000Bb c", "x\ty\nz", "lead\u000B\u000Btrail\f", " pad ", "a  b")
    val df = texts.toDF("text")
    val explicitN = df.select(
      size(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).as("n"))
      .as[Int].collect().toSeq
    val shorthandN = df.select(
      size(split(trim(col("text")), "\\s+")).as("n"))
      .as[Int].collect().toSeq
    assert(explicitN == shorthandN,
      s"explicit class diverged from Java \\s: $explicitN vs $shorthandN")
    // and the trie's whitespace set agrees: the \x0B-separated words
    // tokenize word-by-word on both subword paths
    val trie = df.select(Bpe.bpeCountCol("text").as("n")).as[Long].collect().toSeq
    val literal = df.select(Bpe.bpeCountColLiteral("text").as("n"))
      .as[Long].collect().toSeq
    assert(trie == literal,
      s"trie vs literal subword count diverged on \\x0B text: $trie vs $literal")
  }
}
