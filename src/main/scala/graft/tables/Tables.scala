package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sources.LocalFs

/** Typed loaders for the generated test tables (TESTDATA.md), and the
  * engine's one parquet read entry point and one file writer.
  *
  * One parquet file per table under `dir`. All operators take `dir` so the
  * same code runs at any scale factor; at cluster scale the same loaders
  * would point at a partitioned table root instead of a single file.
  *
  * Invariant: no Spark job runs to learn a schema or a watermark.
  */
object Tables {
  /** Every parquet read goes through here. The data schema is read in
    * this process from the footer Spark's inference would open, and the
    * relation is built over the same single file listing, so building the
    * DataFrame launches no inference job; Spark still discovers the
    * partition columns and their types. Footers are re-read on every
    * call, so a rewritten directory is always seen. Where the footer
    * cannot stand in for inference (schema merging, glob paths, a
    * streaming file sink's log, no data file) Spark infers as usual, with
    * its own errors.
    */
  def parquet(spark: SparkSession, options: Map[String, String],
              paths: String*): DataFrame =
    GraftParquetBridge.read(spark, paths, options)
      .getOrElse(spark.read.options(options).parquet(paths: _*))

  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  /** Every DataFrame file write goes through here: the writer carries
    * [[LocalFs.options]], so the files, their checksums and directories
    * are written by Hadoop's local file system without process forks.
    * Catalog tables are the exception ([[saveBucketed]]).
    */
  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(LocalFs.options)

  /** `df` written as parquet to a fresh scratch dir `name-N` and read
    * back: a persisted artifact that later plans scan instead of
    * recomputing `df`.
    */
  def artifact(df: DataFrame, name: String): DataFrame = {
    val path = graft.Scratch.dir(name)
    write(df).mode("overwrite").parquet(path)
    parquet(df.sparkSession, path)
  }

  /** Save `df` as the catalog table `name`, in 8 buckets bucketed and
    * sorted by `key`. A table location left behind by a previous JVM is
    * not in this session's in-memory catalog, so CTAS would refuse the
    * path: the catalog entry and any stale directory are dropped first.
    * The writer carries no [[LocalFs.options]]: `saveAsTable` stores
    * writer options as the table's storage properties, and every later
    * read of the table would carry them.
    */
  def saveBucketed(df: DataFrame, name: String, key: String): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val stale = new Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    stale.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stale, true)
    df.write.mode("overwrite").bucketBy(8, key).sortBy(key).saveAsTable(name)
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))

  /** Engine contract: `events.ts` is BIGINT epoch-nanoseconds, so all
    * downstream event-time arithmetic (window buckets, session gaps,
    * as-of distances) is exact integer math with no float or timezone
    * behavior. Driver generations have stored ts as parquet
    * timestamp[ns] (surfaced as exact longs by `nanosAsLong`) or
    * timestamp[us] (surfaced as TIMESTAMP_NTZ; converted here — ×1000,
    * exact, no precision loss). The UTC session timezone (GraftSession)
    * makes the NTZ→instant cast the identity mapping, matching DuckDB's
    * `epoch_ns`/`epoch_us` on the same naive values in the oracles.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => df
    }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
