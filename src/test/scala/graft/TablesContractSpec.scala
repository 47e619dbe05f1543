package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sources
import graft.streaming.CheckpointRestart
import graft.tables.Tables

/** Schema contract between the driver-generated testdata and the engine.
  *
  * The driver regenerates the parquet tables between rounds and has
  * changed physical types while doing so (events.ts went timestamp[ns] →
  * timestamp[us] mid-round-5, which surfaced as TIMESTAMP_NTZ instead of
  * the Long nanos the whole engine assumes and failed 29 scattered
  * specs). This suite pins every type assumption the operators make
  * about the LOADED frames — one clear failure naming the drifted
  * column, instead of a storm of downstream analysis errors. If it
  * fails, extend the normalization in `Tables` (see `normalizeTs`)
  * rather than the operators.
  */
class TablesContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def check(table: String, col: String, ok: DataType => Boolean,
                    want: String)(implicit schema: StructType): Unit = {
    val f = schema.fields.find(_.name == col)
    assert(f.isDefined, s"$table.$col missing — testdata schema drifted; adapt Tables")
    assert(ok(f.get.dataType),
      s"$table.$col is ${f.get.dataType.simpleString}, engine expects $want — " +
        "testdata schema drifted; adapt the Tables normalization layer")
  }

  test("events: ts is Long epoch-nanos after load; ids exactly bigint; value double") {
    implicit val s: StructType = Tables.events(spark, sf).schema
    check("events", "ts", _ == LongType, "bigint (epoch-nanos, via normalizeTs)")
    // EXACT LongType, not merely integral: CheckpointRestart.windowedAgg
    // declares its streaming source schema with these as 'long', and a
    // narrower physical type would fail there, not here
    check("events", "event_id", _ == LongType, "bigint")
    check("events", "user_id", _ == LongType, "bigint")
    check("events", "event_type", _ == StringType, "string")
    check("events", "value", _ == DoubleType, "double")
    check("events", "props", _ == StringType, "string (JSON)")
  }

  test("lineitem: keys integral, measures double, shipdate timestamp") {
    implicit val s: StructType = Tables.lineitem(spark, sf).schema
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .foreach(check("lineitem", _, isIntegral, "integral"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .foreach(check("lineitem", _, _ == DoubleType, "double"))
    Seq("l_returnflag", "l_linestatus")
      .foreach(check("lineitem", _, _ == StringType, "string"))
    check("lineitem", "l_shipdate",
      dt => dt == TimestampType || dt == TimestampNTZType || dt == DateType,
      "timestamp/date (date_format-able)")
  }

  test("orders: keys integral, totalprice double, orderdate timestamp") {
    implicit val s: StructType = Tables.orders(spark, sf).schema
    Seq("o_orderkey", "o_custkey").foreach(check("orders", _, isIntegral, "integral"))
    check("orders", "o_totalprice", _ == DoubleType, "double")
    check("orders", "o_orderdate",
      dt => dt == TimestampType || dt == TimestampNTZType || dt == DateType,
      "timestamp/date (date_format-able)")
    Seq("o_orderstatus", "o_orderpriority")
      .foreach(check("orders", _, _ == StringType, "string"))
  }

  test("dimensions: keys integral, balances double, names string") {
    val dims = Seq(
      "customer" -> Seq("c_custkey" -> "i", "c_nationkey" -> "i",
        "c_acctbal" -> "d", "c_name" -> "s", "c_mktsegment" -> "s"),
      "supplier" -> Seq("s_suppkey" -> "i", "s_nationkey" -> "i",
        "s_acctbal" -> "d", "s_name" -> "s"),
      "part" -> Seq("p_partkey" -> "i", "p_size" -> "i",
        "p_retailprice" -> "d", "p_name" -> "s", "p_brand" -> "s", "p_type" -> "s"),
      "nation" -> Seq("n_nationkey" -> "i", "n_regionkey" -> "i", "n_name" -> "s"),
      "region" -> Seq("r_regionkey" -> "i", "r_name" -> "s"))
    dims.foreach { case (t, cols) =>
      implicit val s: StructType = Tables.load(spark, sf, t).schema
      cols.foreach {
        case (c, "i") => check(t, c, isIntegral, "integral")
        case (c, "d") => check(t, c, _ == DoubleType, "double")
        case (c, _)   => check(t, c, _ == StringType, "string")
      }
    }
  }

  test("documents/embeddings: text string, embedding array<float>") {
    implicit val d: StructType = Tables.documents(spark, sf).schema
    check("documents", "doc_id", isIntegral, "integral")
    Seq("text", "lang", "source").foreach(check("documents", _, _ == StringType, "string"))
    check("documents", "n_chars", isIntegral, "integral")
    val e = Tables.embeddings(spark, sf).schema
    check("embeddings", "vec_id", isIntegral, "integral")(e)
    check("embeddings", "embedding",
      { case ArrayType(FloatType, _) => true; case _ => false },
      "array<float>")(e)
    check("embeddings", "label", isIntegral, "integral")(e)
  }

  test("normalizeTs is idempotent and exact on both storage variants") {
    import org.apache.spark.sql.functions._
    // already-long frames pass through untouched
    val longTs = spark.range(3).select(col("id").as("ts"))
    assert(Tables.normalizeTs(longTs).schema("ts").dataType == LongType)
    assert(Tables.normalizeTs(longTs).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // micro-precision timestamps convert ×1000 exactly (UTC session)
    val ntz = spark.range(3)
      .select(timestamp_micros(col("id") * 1000000L + 123456L)
        .cast(TimestampNTZType).as("ts"))
    val got = Tables.normalizeTs(ntz).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(123456000L, 1123456000L, 2123456000L),
      s"micros→nanos conversion drifted: $got")
  }

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerDrain.drain(sc)
      (r, started.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Tables.parquet against spark.read.parquet on the same paths and
    * options: equal schema, equal rows, and one job fewer to build the
    * frame, the schema inference Spark runs. What is left is Spark's
    * parallel file listing, a job once a dir holds more subdirs than
    * spark.sql.sources.parallelPartitionDiscovery.threshold; it must run
    * once, not once per listing.
    */
  private def assertSameRead(what: String, options: Map[String, String],
                             paths: String*): Unit = {
    val (want, sparkJobs) = jobsDuring(spark.read.options(options).parquet(paths: _*))
    val (got, jobs) = jobsDuring(Tables.parquet(spark, options, paths: _*))
    assert(jobs == sparkJobs - 1, s"$what: building the frame ran $jobs job(s), Spark $sparkJobs")
    assert(got.schema == want.schema, s"$what: schema drifted")
    assert(got.collect().toSeq == want.collect().toSeq, s"$what: rows drifted")
  }

  /** A parquet file whose `ts` is INT64 TIMESTAMP(NANOS), the other
    * storage variant of `events.ts`.
    */
  private def writeNanosEvents(path: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); required binary event_type (UTF8); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 5L).foreach { i =>
      writer.write(rows.newGroup().append("event_id", i)
        .append("ts", 1700000000123456789L + i).append("event_type", s"t$i"))
    } finally writer.close()
  }

  test("Tables.parquet reads every layout as spark.read.parquet does, with no job") {
    // the sf tables, events.ts in both storage variants included
    Tables.names.foreach(t => assertSameRead(t, Map.empty, s"$sf/$t.parquet"))
    assert(Tables.events(spark, sf).schema ==
      Tables.normalizeTs(spark.read.parquet(s"$sf/events.parquet")).schema)
    val nanosDir = Scratch.dir("tables_nanos")
    writeNanosEvents(s"$nanosDir/events.parquet")
    assertSameRead("events.ts as nanos", Map.empty, s"$nanosDir/events.parquet")
    assert(Tables.events(spark, nanosDir).schema("ts").dataType == LongType)
    assert(Tables.events(spark, nanosDir).collect().toSeq ==
      Tables.normalizeTs(spark.read.parquet(s"$nanosDir/events.parquet")).collect().toSeq)

    // a batch-partitioned log with a manifest, a stale staging dir, and a
    // compacted base beside it
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus", "o_totalprice")
    val log = Scratch.dir("tables_log")
    Sources.commitBatchWithStats(orders.filter(col("o_orderkey") < 300), log, "w", "o_orderkey")
    Sources.commitBatch(orders.filter(col("o_orderkey") >= 200), log, "w")
    Sources.stageBatch(orders.limit(3), log, "stale")
    assert(new java.io.File(s"$log/.staging").isDirectory &&
      new java.io.File(s"$log/.manifest").isDirectory)
    assertSameRead("batch log", Map.empty, log)
    assert(Tables.parquet(spark, log).schema("_batch_id").dataType ==
      spark.read.parquet(log).schema("_batch_id").dataType)
    val files = new java.io.File(log, "_batch_id=2").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assertSameRead("log files under basePath", Map("basePath" -> log), files: _*)
    val base = Scratch.dir("tables_base")
    Sources.compactLog(spark, log, Seq("o_orderkey"), base)
    assertSameRead("compacted base", Map.empty, s"$base/base")
    assertSameRead("compaction meta", Map.empty, s"$base/meta")

    // a log with more batch dirs than the parallel listing threshold
    val wide = Scratch.dir("tables_wide_log")
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    Sources.upsertBatches((1 to threshold + 8).map(i =>
      orders.filter(col("o_orderkey") % (threshold + 8) === i - 1) -> i.toLong), wide)
    val (_, listingJobs) = jobsDuring(Tables.parquet(spark, wide))
    assert(listingJobs == 1, s"a wide log is listed by $listingJobs jobs, not one")
    assertSameRead("wide batch log", Map.empty, wide)

    // the streaming sinks: foreachBatch upserts, and a file sink whose
    // listing comes from its _spark_metadata log, which Spark reads itself
    val src = Scratch.dir("tables_stream_src")
    Tables.events(spark, sf).select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$src/part")
    val sink = Scratch.dir("tables_sink")
    CheckpointRestart.tick(spark, s"$src/part", sink, Scratch.dir("tables_ckpt"))
    assertSameRead("streaming upsert sink", Map.empty, sink)
    val fileSink = Scratch.dir("tables_file_sink")
    spark.readStream.schema(spark.read.parquet(s"$src/part").schema).parquet(s"$src/part")
      .writeStream.format("parquet")
      .option("checkpointLocation", Scratch.dir("tables_file_ckpt"))
      .trigger(Trigger.AvailableNow()).start(fileSink).awaitTermination()
    assert(new java.io.File(s"$fileSink/_spark_metadata").isDirectory)
    val sinkWant = spark.read.parquet(fileSink)
    val sinkGot = Tables.parquet(spark, fileSink)
    assert(sinkGot.schema == sinkWant.schema)
    assert(sinkGot.collect().toSeq == sinkWant.collect().toSeq)
  }

  test("Tables.parquet fails as spark.read.parquet does where there is nothing to read") {
    val empty = Scratch.dir("tables_empty")
    Seq(empty, s"$empty/missing").foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass == want.getClass, s"$p: ${got.getMessage}")
    }
  }

  test("Tables.parquet sees a directory rewritten in place") {
    import spark.implicits._
    val dir = Scratch.dir("tables_rewrite")
    Seq(1L).toDF("a").write.mode("overwrite").parquet(dir)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("a"))
    Seq(("x", 2.0)).toDF("b", "c").write.mode("overwrite").parquet(dir)
    val df: DataFrame = Tables.parquet(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.collect().toSeq == Seq(org.apache.spark.sql.Row("x", 2.0)))
  }
}
