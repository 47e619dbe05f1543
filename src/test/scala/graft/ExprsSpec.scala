package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.ops.{Dedup, Text}

class ExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("CosineSim (codegen) equals the composed-builtins cosine") {
    val e = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val self = e.limit(50)
      .select(
        VectorOps.cosine(col("emb"), col("emb")).as("fused"),
        ComposedTwins.cosineComposed(col("emb"), col("emb")).as("composed"))
      .collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"fused ${r.getDouble(0)} != composed ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    }
  }

  test("DotProduct (codegen) equals the composed-builtins dot bit-for-bit") {
    val e = graft.tables.Tables.embeddings(spark, sf)
      .select(VectorOps.asDouble(col("embedding")).as("emb")).limit(100)
    val planes = Seq(
      Array.tabulate(64)(i => math.sin(i + 1.0)),
      Array.tabulate(64)(i => math.cos(i * 0.7) - 0.3))
    planes.foreach { p =>
      val planeCol = array(p.map(lit(_)): _*)
      val rows = e.select(
        VectorOps.dot(col("emb"), planeCol).as("fused"),
        ComposedTwins.dotComposed(col("emb"), planeCol).as("composed")).collect()
      rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
        s"fused dot ${r.getDouble(0)} != composed ${r.getDouble(1)}"))
    }
  }

  test("RollWindowHash64 equals the composed slice+concat_ws+rollhash64 per element") {
    // the composed form spansOf used before r14 — per window position, a
    // materialized string hashed from scratch; the fused expression must
    // match it VALUE-FOR-VALUE so the D14/F17 oracle hashes cannot move
    def composed(win: Int) = expr(
      s"""transform(sequence(0, size(toks) - $win),
         |  i -> graft_rollhash64(concat_ws(' ', slice(toks, i + 1, $win))))"""
        .stripMargin)
    graft.GraftFunctions.register(spark)
    // real corpus tokens at the test SF plus adversarial shapes: multi-
    // byte UTF-8, empty strings, single-char tokens, exactly-win tokens
    val real = graft.tables.Tables.documents(spark, sf)
      .select(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+").as("toks"))
    val edge = spark.createDataFrame(Seq(
      Tuple1(Seq("héllo", "wörld", "日本語のトークン", "a", "б", "🎉emoji", "x", "y", "z", "w", "v")),
      Tuple1(Seq("", "", "a", "", "b", "", "", "c", "", "")),
      Tuple1(Seq.fill(10)("same")),
      Tuple1((1 to 10).map(_.toString)),
      Tuple1(Seq("exactly", "ten", "tokens", "in", "this", "row", "here", "now", "ok", "end"))
    )).toDF("toks")
    for (win <- Seq(1, 2, 10)) {
      Seq(real, edge).foreach { df =>
        val rows = df.filter(size(col("toks")) >= win)
          .select(graft.functions.VectorOps.rollWindowHash64(col("toks"), win).as("fused"),
            composed(win).as("comp"))
          .collect()
        assert(rows.nonEmpty)
        rows.foreach { r =>
          val f = r.getSeq[Long](0)
          val c = r.getSeq[Long](1)
          assert(f == c, s"win=$win fused $f != composed $c")
        }
      }
    }
    // short input yields an empty array (callers filter size >= win first)
    val short = edge.select(
      graft.functions.VectorOps.rollWindowHash64(col("toks"), 99).as("h"))
      .collect()
    short.foreach(r => assert(r.getSeq[Long](0).isEmpty))
  }

  test("IntSqDist (codegen) equals the zip_with integer fold exactly") {
    val q = graft.tables.Tables.embeddings(spark, sf)
      .select(expr(
        "transform(CAST(embedding AS array<double>), x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
        .as("q")).limit(100)
    val other = q.limit(1).head().getSeq[Long](0)
    val otherCol = array(other.map(lit(_)): _*)
    val fold = aggregate(zip_with(col("q"), otherCol, (a, b) => (a - b) * (a - b)),
      lit(0L), (s, v) => s + v)
    val rows = q.select(
      VectorOps.intSqDist(col("q"), otherCol).as("fused"), fold.as("folded")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("RollHash64 on binary input equals string input byte-for-byte, non-ASCII included") {
    import spark.implicits._
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => 31 * h + (b & 0xff))
    val samples = Seq("plain ascii", "héllo wörld", "日本語テキスト", "mixed ✓ Ω 1")
    val rows = samples.toDF("s")
      .select(col("s"),
        VectorOps.rollhash64(col("s")).as("hs"),
        VectorOps.rollhash64(col("s").cast("binary")).as("hb"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"string vs binary hash split on '${r.getString(0)}'")
      assert(r.getLong(1) == ref(r.getString(0)),
        s"hash drifted from the byte fold on '${r.getString(0)}'")
    }
    // a frame sliced mid-codepoint is un-decodable as a string but must
    // still hash raw — the media-chunk contract
    val bytes = "é".getBytes("UTF-8")
    val half = bytes.take(1)
    val got = Seq(Tuple1(half)).toDF("b")
      .select(VectorOps.rollhash64(col("b"))).head().getLong(0)
    assert(got == 31 * 1125899906842597L + (half(0) & 0xff))
  }

  test("RollHash64 matches a reference Scala implementation") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(1125899906842597L)((h, b) => 31 * h + (b & 0xff))
    val rows = graft.tables.Tables.documents(spark, sf).limit(20)
      .select(col("text"), VectorOps.rollhash64(col("text")).as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == ref(r.getString(0)))
    }
  }

  test("text_rollhash distinct per distinct text") {
    val df = Text.textRollhash(spark, sf)
    assert(df.select("rollhash").distinct().count() ==
      graft.tables.Tables.documents(spark, sf).select("text").distinct().count())
  }

  test("GraftFunctions.register exposes the SQL functions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) c, " +
      "graft_rollhash64('abc') h, " +
      "graft_combine64(array(1L, 2L, 3L)) s, " +
      "graft_dot(array(2.0d, 3.0d), array(4.0d, 5.0d)) d, " +
      "graft_int_sqdist(array(5L, 1L), array(2L, 5L)) q").head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L)
    assert(r.getLong(2) == ((1125899906842597L * 31 + 1) * 31 + 2) * 31 + 3)
    assert(r.getDouble(3) == 23.0)
    assert(r.getLong(4) == 25L)
  }

  test("fused dot/int_sqdist preserve composed NULL semantics on mismatch and null elements") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d), array(1.0d, 2.0d)) a, " +
        "graft_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) b, " +
        "graft_int_sqdist(array(1L), array(1L, 2L)) c, " +
        "graft_int_sqdist(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) d, " +
        "graft_combine64(array(1L, CAST(NULL AS BIGINT))) e, " +
        "graft_cosine(array(1.0d), array(1.0d, 2.0d)) f, " +
        "graft_cosine(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d)) g").head()
    (0 to 6).foreach(i => assert(r.isNullAt(i),
      s"column $i should be NULL — a partial dot/distance/hash/cosine would be silently wrong"))
  }

  test("Mix64 wraps like Java long arithmetic") {
    val (a, b) = (2147483647L, 9007199254740993L)
    val rows = graft.tables.Tables.documents(spark, sf).limit(20)
      .select(VectorOps.rollhash64(col("text")).as("h"),
        VectorOps.mix64(VectorOps.rollhash64(col("text")), a, b).as("m"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == a * r.getLong(0) + b))
  }

  test("GraftOptimizations collapses chained affine mixes to one") {
    GraftFunctions.register(spark) // installs the optimizer rule
    val (a1, b1, a2, b2) = (2654435761L, 11L, 40503L, 7L)
    val df = graft.tables.Tables.documents(spark, sf).limit(20)
      .select(VectorOps.rollhash64(col("text")).as("h"))
      .select(col("h"),
        VectorOps.mix64(VectorOps.mix64(col("h"), a1, b1), a2, b2).as("m"))
    val nMix = df.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.map(_.collect { case m: graft.functions.Mix64 => m }.size).sum
    }.sum
    assert(nMix == 1, s"chain not collapsed:\n${df.queryExecution.optimizedPlan}")
    // and the folded constants are semantically exact (wrapping algebra)
    df.collect().foreach { r =>
      val expect = a2 * (a1 * r.getLong(0) + b1) + b2
      assert(r.getLong(1) == expect)
    }
  }

  test("PqNearest/PqDists (codegen) equal the IntSqDist reference, encode decodes, ties break low") {
    val cb: Seq[Seq[Long]] = Seq(
      Seq(0L, 0L, 0L), Seq(10L, -5L, 3L), Seq(10L, -5L, 3L), Seq(-7L, 2L, 100L))
    val q = graft.tables.Tables.embeddings(spark, sf).limit(50)
      .select(expr(
        "slice(transform(CAST(embedding AS array<double>), x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)), 1, 3)")
        .as("q"))
    val rows = q.select(
      VectorOps.pqNearest(col("q"), cb).as("enc"),
      VectorOps.pqDists(col("q"), cb).as("dists"),
      array(cb.map(cw => VectorOps.intSqDist(col("q"),
        array(cw.map(lit(_)): _*))): _*).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dists = r.getSeq[Long](1)
      val ref = r.getSeq[Long](2)
      assert(dists == ref, s"PqDists $dists != IntSqDist reference $ref")
      val enc = r.getLong(0)
      val (d2, ord) = (enc >> 8, (enc & 255L).toInt)
      assert(d2 == ref.min, s"decoded d2 $d2 != min ${ref.min}")
      assert(ord == ref.indexOf(ref.min),
        s"ordinal $ord is not the LOWEST argmin of $ref")
      // codewords 1 and 2 are identical: a tie there must pick ordinal 1
      if (ref(1) == ref.min) assert(ord <= 1)
    }
    // null semantics: mismatched codeword length nulls both, through SQL
    val bad: Seq[Seq[Long]] = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L))
    val nulls = q.limit(5).select(
      VectorOps.pqNearest(col("q"), bad).as("e"),
      VectorOps.pqDists(col("q"), bad).as("d")).collect()
    nulls.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1),
      "length-mismatched codebook must null the result"))
  }

  /** Edge-case documents for the signing and shingle twins, on a frame
    * whose projections run in tasks rather than being folded away.
    */
  private def edgeDocs(s: org.apache.spark.sql.SparkSession) = {
    val long = Seq.tabulate(2000)(i => s"w${i % 97}x${i % 13}").mkString(" ")
    s.createDataFrame(Seq[(Long, String)](
      (1L, ""), (2L, null), (3L, "solo"), (4L, "two words"), (5L, "exactly three words"),
      (6L, "a b c a b c a b c a b c"), (7L, "   "), (8L, "\tlead tab and trail\t"),
      (9L, "  spaced   out \n lines  "), (10L, "héllo wörld 日本語 🎉 x y"), (11L, long)))
      .toDF("doc_id", "text").repartition(2)
  }

  /** A session whose composed twins may subscript past an array's end. */
  private def lenient = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    s
  }

  test("MinHash signing is one projection: no Aggregate, no Exchange, split in one operator") {
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    import org.apache.spark.sql.execution.exchange.Exchange
    val sigs = Dedup.bandSignaturesOf(
      graft.tables.Tables.documents(spark, sf).filter(col("doc_id") < 40))
    val optimized = sigs.queryExecution.optimizedPlan
    assert(optimized.collect { case a: Aggregate => a }.isEmpty, s"an Aggregate signs:\n$optimized")
    val exchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(sigs.queryExecution.executedPlan) { case e: Exchange => e }
    assert(exchanges.isEmpty, s"signing shuffles:\n${sigs.queryExecution.executedPlan}")
    val splitting = optimized.collect {
      case op if op.expressions.exists(_.exists(_.isInstanceOf[StringSplit])) => op
    }
    assert(splitting.size <= 1, s"split runs in ${splitting.size} operators:\n$optimized")
    assert(!splitting.exists(_.isInstanceOf[Filter]), s"split runs under a Filter:\n$optimized")
  }

  test("MinHash signing equals the composed explode + min table, short, null and long docs included") {
    val loose = lenient
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val corpus = graft.tables.Tables.documents(spark, sf)
    val native = table(Dedup.bandSignaturesOf(corpus)) ++ table(Dedup.bandSignaturesOf(edgeDocs(spark)))
    val composed = table(ComposedTwins.bandSignaturesComposed(graft.tables.Tables.documents(loose, sf))) ++
      table(ComposedTwins.bandSignaturesComposed(edgeDocs(loose)))
    assert(native.size == 8 * (corpus.count() + 11))
    assert(native == composed)
    // another scheme through the same kernel
    assert(table(Dedup.bandSignaturesOf(edgeDocs(spark), 24, 6)) ==
      table(ComposedTwins.bandSignaturesComposed(edgeDocs(loose), 24, 6)))
  }

  test("Shingles3 equals the composed array_distinct(transform(...)) shingles") {
    val loose = lenient
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1).toSeq
    val edge = table(Dedup.shingled(edgeDocs(spark)))
    assert(edge == table(ComposedTwins.shingledComposed(edgeDocs(loose))))
    assert(table(Dedup.shingled(graft.tables.Tables.documents(spark, sf))) ==
      table(ComposedTwins.shingledComposed(graft.tables.Tables.documents(loose, sf))))
    val byId = edge.toMap
    assert(byId(2L) == Seq("") && byId(3L) == Seq("solo") && byId(4L) == Seq("two words"))
    assert(byId(6L) == Seq("a b c", "b c a", "c a b"), "repeats keep their first position")
  }

  test("QTicks equals the composed per-element qtick: nulls, NaN, Inf, .5 ties, negatives") {
    import spark.implicits._
    val inf = Double.PositiveInfinity
    val rows = Seq[Seq[java.lang.Double]](
      Seq(0.0, -0.0, 1.5e-6, 2.5e-6, -1.5e-6, -2.5e-6, 0.5, -0.5, 1e-7, -1e-7),
      Seq(null, 0.25, null), Seq(Double.NaN, inf, -inf, 1e300, -1e300), Seq(), null,
      Seq(0.1234565, -0.9999995, 3.0000005, Double.MinPositiveValue))
      .map(Tuple1(_)).toDF("v").repartition(2)
    val got = rows.select(VectorOps.qticks(col("v")).as("n"), ComposedTwins.qticksComposed(col("v")).as("c"))
      .collect()
    assert(got.length == 6)
    got.foreach(r => assert(r.get(0) == r.get(1), s"native ${r.get(0)} != composed ${r.get(1)}"))
    assert(got.exists(r => r.get(0) != null && r.getSeq[Any](0).contains(null)), "a null component stays null")
  }

  test("SqDist and CellFold equal their composed folds: length mismatch, null q, d2 ties") {
    import spark.implicits._
    val vecs = Seq[(Seq[java.lang.Double], Seq[java.lang.Double])](
      (Seq(1.0, 2.0, 3.0), Seq(0.5, -2.0, 3.25)), (Seq(1.0), Seq(1.0, 2.0)), (Seq(), Seq()),
      (Seq(1.0, null), Seq(1.0, 2.0)), (null, Seq(1.0)), (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)))
      .toDF("a", "b").repartition(2)
    vecs.select(VectorOps.sqDist(col("a"), col("b")), ComposedTwins.sqDistComposed(col("a"), col("b")))
      .collect().foreach(r => assert(r.get(0) == r.get(1), s"native ${r.get(0)} != composed ${r.get(1)}"))
    val ticks = Seq[Seq[java.lang.Long]](Seq(0L, 0L), Seq(5L, 5L), Seq(10L, 0L), Seq(1L), null,
      Seq(3L, null), Seq(Long.MaxValue / 4, 7L)).map(Tuple1(_)).toDF("q").repartition(2)
    // cells 2 and 3 share a centroid, and (5, 5) is equidistant from 1 and 4
    val books = Seq(
      Seq((1, Seq(0L, 0L)), (2, Seq(10L, 0L)), (3, Seq(10L, 0L)), (4, Seq(10L, 10L)), (5, Seq(1L, 2L, 3L))),
      Seq((7L, Seq(5L, 5L)), (3L, Seq(0L, 0L))))
    books.foreach { book =>
      val cells = array(book.map { case (id, cv) =>
        struct(lit(id).as("cell"), array(cv.map(lit(_)): _*).as("cv"))
      }: _*)
      val n = VectorOps.cellFold(col("q"), cells)
      val c = ComposedTwins.cellFoldComposed(col("q"), cells)
      val out = ticks.select(n.as("n"), c.as("c"), array_min(n).as("nmin"), array_min(c).as("cmin"),
        array_sort(n).as("nsort"), array_sort(c).as("csort"))
      assert(out.schema("n").dataType == out.schema("c").dataType)
      out.collect().foreach { r =>
        (0 until 3).foreach(k => assert(r.get(2 * k) == r.get(2 * k + 1),
          s"native ${r.get(2 * k)} != composed ${r.get(2 * k + 1)}"))
      }
    }
  }

  test("TextStats equals the composed regex statistics on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pool = Seq("a", "Z", "q", "7", "0", ".", ",", "!", "-", " ", " ", "\t", "\n", "\u000B", "\f",
      "\r", "é", "日", "\uD83C\uDF89", "\uD835\uDD38", "_", "ß")
    val random = Seq.fill(300)(Seq.fill(rnd.nextInt(40))(pool(rnd.nextInt(pool.size))).mkString)
    val fixed = Seq("", " ", "   ", "\t", " \t ", "\t\n \r", "  lead", "trail  ", "\tx", "x\t",
      " \tx y\t ", "🎉🎉", "a🎉b 9")
    val texts = (random ++ fixed).map(Tuple1(_)).toDF("text").union(Seq(Tuple1(null: String)).toDF("text"))
      .repartition(3)
    val st = VectorOps.textStats(col("text"))
    val native = Seq("len", "n_tokens", "punct", "digits", "non_space").map(f => st.getField(f).cast("double"))
    val cols = native ++ ComposedTwins.textStatsComposed(col("text"))
    val rows = texts.select(col("text") +: cols: _*).collect()
    assert(rows.length == random.size + fixed.size + 1)
    rows.foreach { r =>
      (1 to 5).foreach(k => assert(r.get(k) == r.get(k + 5),
        s"field $k of '${r.getString(0)}': native ${r.get(k)} != composed ${r.get(k + 5)}"))
    }
    // the composite score divides by len, so it needs non-empty text
    val scored = texts.filter(length(col("text")) > 0)
      .select(Text.qualityScoreCol, ComposedTwins.qualityScoreComposed(col("text"))).collect()
    assert(scored.nonEmpty)
    scored.foreach(r => assert(r.get(0) == r.get(1)))
    // and the whole F2 table on the corpus
    val Seq(len, nTokens, punct, digits, nonSpace) = ComposedTwins.textStatsComposed(col("text"))
    val composedF2 = graft.tables.Tables.documents(spark, sf).select(col("doc_id"),
      len.cast("long"), nTokens.cast("long"), graft.ops.OracleRound.r4b(punct / len),
      graft.ops.OracleRound.r4b(digits / len), graft.ops.OracleRound.r4b(nonSpace / nTokens),
      ComposedTwins.qualityScoreComposed(col("text"))).orderBy("doc_id").collect().toSeq
    assert(Text.textQuality(spark, sf).collect().toSeq == composedF2)
  }

  test("every Exprs expression gives the same output through eval and through codegen") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.functions._

    val dArr = ArrayType(DoubleType)
    val lArr = ArrayType(LongType)
    val sArr = ArrayType(StringType)
    val book = ArrayType(lArr)
    val wrapping = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 1125899906842597L)
    val doubles = Seq[(Any, Any)](
      (Seq(1.0, 2.0), Seq(3.0, -4.0)), (Seq(), Seq()), (Seq(1.0), Seq(1.0, 2.0)),
      (Seq(1.0, null), Seq(1.0, 2.0)), (Seq(2.0, 3.0), Seq(null, 3.0)), (Seq(0.0), Seq(0.0)),
      (null, Seq(1.0)))
    val longs = Seq[(Any, Any)](
      (Seq(5L, 1L), Seq(2L, 5L)), (Seq(), Seq()), (Seq(1L), Seq(1L, 2L)),
      (Seq(1L, null), Seq(1L, 2L)), (Seq(Long.MaxValue, 3L), Seq(-1L, Long.MinValue)),
      (Seq(1L), null))
    val tied = Seq(Seq(0L, 0L), Seq(10L, -5L), Seq(10L, -5L), Seq(-7L, 2L))
    val codebooks = Seq[(Any, Any)](
      (Seq(10L, -5L), tied), (Seq(1L, 2L), Seq()),
      (Seq(1L, 2L), Seq.tabulate(257)(c => Seq(c.toLong, -c.toLong))),
      (Seq(1L, 2L), Seq.tabulate(256)(c => Seq(c.toLong, 2L))),
      (Seq(1L, 2L), Seq(Seq(1L, 2L), Seq(4L))), (Seq(1L, 2L), Seq(Seq(1L, 2L), null)),
      (Seq(1L, 2L), Seq(Seq(1L, null))), (Seq(1L, null), tied),
      (Seq(Long.MaxValue, 0L), Seq(Seq(-1L, 0L))), (null, tied))
    val strings = Seq[Any]("", "plain ascii", "héllo wörld 日本語 🎉",
      "mail a.b@ex.com, call +1 (555) 123-4567, id 123456789", null)
    val bytes = Seq[Any](Array[Byte](), Array[Byte](0, -1, 0x80.toByte, 'a'.toByte),
      "é".getBytes("UTF-8").take(1), null)
    val tokens = Seq[Any](Seq("a", "b", "c"), Seq(), Seq("héllo", "", "日本", "x"), Seq("one"), null)
    val cellBook = ArrayType(StructType(Seq(StructField("cell", IntegerType, nullable = false),
      StructField("cv", lArr))), containsNull = false)
    val cellBooks = Seq[Seq[Any]](
      Seq(Seq(10L, -5L), Seq(Row(1, Seq(0L, 0L)), Row(2, Seq(10L, -5L)), Row(3, Seq(10L, -5L)))),
      Seq(null, Seq(Row(1, Seq(0L, 0L)))), Seq(Seq(1L), Seq(Row(1, Seq(0L, 0L)), Row(2, Seq(1L)))),
      Seq(Seq(1L, null), Seq(Row(4, Seq(1L, 2L)))), Seq(Seq(1L, 2L), Seq()))
    val sets = Seq[(Any, Any)](
      (Seq(), Seq()), (Seq("a", "b", "a"), Seq("b", "c")), (Seq("a", null), Seq(null, "a")),
      (Seq("日本", "é"), Seq("é")), (Seq("x"), Seq()), (Seq("x"), null))

    // (name, argument types, expression over the bound arguments, input rows)
    val table: Seq[(String, Seq[DataType], Seq[Expression] => Expression, Seq[Seq[Any]])] = Seq(
      ("CosineSim", Seq(dArr, dArr), a => CosineSim(a(0), a(1)), doubles.map(p => Seq(p._1, p._2))),
      ("DotProduct", Seq(dArr, dArr), a => DotProduct(a(0), a(1)), doubles.map(p => Seq(p._1, p._2))),
      ("IntSqDist", Seq(lArr, lArr), a => IntSqDist(a(0), a(1)), longs.map(p => Seq(p._1, p._2))),
      ("RollHash64 string", Seq(StringType), a => RollHash64(a(0)), strings.map(Seq(_))),
      ("RollHash64 binary", Seq(BinaryType), a => RollHash64(a(0)), bytes.map(Seq(_))),
      ("RollWindowHash64", Seq(sArr), a => RollWindowHash64(a(0), 2), tokens.map(Seq(_))),
      ("Mix64", Seq(LongType), a => Mix64(a(0), 6364136223846793005L, Long.MaxValue),
        (wrapping :+ null).map(Seq(_))),
      ("Avalanche64", Seq(LongType), a => Avalanche64(a(0)), (wrapping :+ null).map(Seq(_))),
      ("Combine64", Seq(lArr), a => Combine64(a(0)),
        Seq(Seq(1L, 2L, 3L), Seq(), Seq(1L, null), wrapping, null).map(Seq(_))),
      ("PqNearest", Seq(lArr, book), a => PqNearest(a(0), a(1)), codebooks.map(p => Seq(p._1, p._2))),
      ("PqDists", Seq(lArr, book), a => PqDists(a(0), a(1)), codebooks.map(p => Seq(p._1, p._2))),
      ("JaccardSim", Seq(sArr, sArr), a => JaccardSim(a(0), a(1)), sets.map(p => Seq(p._1, p._2))),
      ("RedactCascade", Seq(StringType), a => RedactCascade(a(0)), strings.map(Seq(_))),
      ("SqDist", Seq(dArr, dArr), a => SqDist(a(0), a(1)), doubles.map(p => Seq(p._1, p._2))),
      ("QTicks", Seq(dArr), a => QTicks(a(0)),
        (doubles.map(_._1) :+ Seq(Double.NaN, Double.NegativeInfinity, 2.5e-6, -2.5e-6)).map(Seq(_))),
      ("MinHash", Seq(sArr), a => MinHash(a(0), Literal.create(Seq(3L, 5L, -7L), lArr),
        Literal.create(Seq(0L, Long.MaxValue, 11L), lArr)),
        (tokens :+ Seq("a", "b", "c", "a", "b", "c", "d")).map(Seq(_))),
      ("Shingles3", Seq(sArr), a => Shingles3(a(0)),
        (tokens :+ Seq("a", "b", "c", "a", "b", "c", "d")).map(Seq(_))),
      ("CellFold", Seq(lArr, cellBook), a => CellFold(a(0), a(1)), cellBooks),
      ("TextStats", Seq(StringType), a => TextStats(a(0)),
        (strings ++ Seq("  \tx  y\t ", "   ", "🎉 9.")).map(Seq(_))))

    // bit-exact: NaN equals NaN, and 0.0 differs from -0.0
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
      case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
      case _ => a == b
    }
    table.foreach { case (name, types, build, rows) =>
      val e = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
      assert(e.checkInputDataTypes().isSuccess, s"$name: ${e.checkInputDataTypes()}")
      // arrays reach the expressions as UnsafeArrayData, as they do in a query
      val toRow = UnsafeProjection.create(types.toArray)
      val toCatalyst = types.map(CatalystTypeConverters.createToCatalystConverter)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
      rows.foreach { in =>
        val row = toRow(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          in.zip(toCatalyst).map { case (v, f) => f(v) }.toArray)).copy()
        val evaled = toScala(e.eval(row))
        val codegened = toScala(generated(row).get(0, e.dataType))
        assert(same(evaled, codegened), s"$name on $in: eval $evaled != codegen $codegened")
      }
    }
    val empty = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    assert(JaccardSim.of(empty, empty).isNaN, "two empty arrays have Jaccard NaN (0 / 0)")
  }
}
