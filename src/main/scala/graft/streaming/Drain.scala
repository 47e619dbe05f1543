package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The scheduled-drain shape every streaming admit shares: a parquet
  * file stream over the files of `srcDir` matching `glob`, run with
  * `Trigger.AvailableNow` against the checkpoint `ckpt`, so each drain
  * processes what has arrived since the previous one and terminates.
  * `perBatch` gets each micro-batch and its id; `foreachBatch` is
  * at-least-once, so it must be idempotent per batch id.
  */
private[graft] object Drain {
  def apply(spark: SparkSession, schema: StructType, srcDir: String, glob: String,
            ckpt: String, maxFilesPerTrigger: Option[Int] = None)
           (perBatch: (DataFrame, Long) => Unit): Unit = {
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch(perBatch)
      .start()
      .awaitTermination()
  }
}
