package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The stream ends the streaming specs share: a parquet file source
  * that reads one file per micro-batch, and a memory sink that drains
  * it. */
object StreamKit {

  /** File-source stream over a parquet events directory, one file per
    * micro-batch. */
  def readEvents(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)

  /** Run `df` into the memory table `name` until the source drains. */
  def runToMemory(df: DataFrame, name: String, mode: String = "append"): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
}
