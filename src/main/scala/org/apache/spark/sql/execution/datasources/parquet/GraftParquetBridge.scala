package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.util.SchemaUtils

/** Bridge into Spark's parquet relation, for `graft.tables.Tables`.
  * Lives in this package for access to the footer reader and the
  * schema converter; no Spark internals are modified.
  */
object GraftParquetBridge {
  private val summaryFiles = Seq(
    ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  /** `spark.read.options(options).parquet(paths: _*)`, built without a
    * Spark job: the relation `DataSource.resolveRelation` builds, over
    * one listing of the paths, with the data schema read in this process
    * from the one footer Spark's inference opens (`ParquetUtils.inferSchema`
    * without merging: a summary file, else the first data file of the
    * listing by path), converted with the settings of
    * `ParquetFileFormat.mergeSchemasInParallel`. None where only Spark's
    * own inference is exact: schema merging, glob paths, a streaming file
    * sink's `_spark_metadata` log, no readable footer, or a data column
    * that is also a partition column.
    */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String]): Option[DataFrame] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val opts = CaseInsensitiveMap(options)
    if (paths.isEmpty || new ParquetOptions(opts, conf).mergeSchema ||
      paths.exists(p => SparkHadoopUtil.get.isGlobPath(new Path(p)))) return None
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    if (paths.size == 1) {
      val p = new Path(paths.head)
      if (p.getFileSystem(hadoopConf).exists(new Path(p, "_spark_metadata"))) return None
    }
    // Spark's own path qualification and existence check (its errors
    // included), and the index it lists those paths with
    val rootPaths = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = false)
    val index = new InMemoryFileIndex(session, rootPaths, options, None)
    val leaves = index.allFiles().sortBy(_.getPath.toString)
    val touched = summaryFiles.iterator
      .flatMap(n => leaves.find(_.getPath.getName == n)).nextOption()
      .orElse(leaves.find(f => !summaryFiles.contains(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val partitionSchema = index.partitionSchema
    val dataSchema = touched.flatMap { f =>
      try {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter))
      } catch {
        // Spark's inference reports (or, under ignoreCorruptFiles, skips)
        // an unreadable footer itself
        case NonFatal(_) => None
      }
    }.filterNot(_.fieldNames.exists(n => partitionSchema.fieldNames.exists(conf.resolver(n, _))))
    dataSchema.map { schema =>
      val format = new ParquetFileFormat
      SchemaUtils.checkSchemaColumnNameDuplication(schema, conf.resolver)
      SchemaUtils.checkSchemaColumnNameDuplication(partitionSchema, conf.resolver)
      DataSourceUtils.verifySchema(format, schema, readOnly = true)
      // a single path travels as the `path` option, as in DataFrameReader
      val relOpts = if (paths.size == 1) opts + ("path" -> paths.head) else opts
      session.baseRelationToDataFrame(HadoopFsRelation(
        index, partitionSchema, schema.asNullable, None, format, relOpts)(session))
    }
  }
}
