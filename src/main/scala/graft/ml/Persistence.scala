package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, MapType, StringType, StructType}

import graft.tables.Tables

/** Model persistence — the reference pickles its best models and ships
  * them to object storage (export_models.py; modeling.ipynb cell 123-125
  * dumps model + metadata). Spark-native: every fitted `spark.ml` model
  * is MLWritable — save() writes a self-describing directory (params JSON
  * + data parquet) that any cluster can load without the training code.
  */
object Persistence {

  def saveLogreg(model: LogisticRegressionModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadLogreg(path: String): LogisticRegressionModel =
    LogisticRegressionModel.load(path)

  /** Train → save → reload → predict; returns (original, reloaded)
    * prediction frames for equality checks.
    */
  def roundTrip(data: DataFrame, path: String): (DataFrame, DataFrame) = {
    val model = new LogisticRegression().setMaxIter(25).setRegParam(0.01).fit(data)
    saveLogreg(model, path)
    val reloaded = loadLogreg(path)
    (model.transform(data), reloaded.transform(data))
  }

  private val metaSchema = new StructType()
    .add("subset", StringType)
    .add("accuracy", DoubleType)
    .add("params", MapType(StringType, StringType))

  /** The export_models.py:17-43 sidecar: the chosen model's metadata —
    * evaluation metric, the feature subset it was trained on, and its
    * hyper-parameters — written NEXT to the MLWritable artifact
    * (`<path>.meta`, JSON lines), so a consumer can pick the right
    * artifact without loading and re-evaluating every candidate.
    */
  def saveMeta(spark: SparkSession, path: String, subset: String,
               accuracy: Double, params: Map[String, String]): Unit = {
    import spark.implicits._
    Tables.write(Seq((subset, accuracy, params)).toDF("subset", "accuracy", "params")
      .coalesce(1)).mode("overwrite").json(s"$path.meta")
  }

  /** Reload with a PINNED schema — never inferSchema on a contract read;
    * a missing field surfaces as null, not as a silently drifted type.
    */
  def loadMeta(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(metaSchema).json(s"$path.meta")
}
