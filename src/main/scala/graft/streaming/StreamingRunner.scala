package graft.streaming

import graft.core.Schemas
import graft.operators.{IncrementalAgg, Transform, Upsert}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming mode of the crime pipeline (SURVEY.md §2.7 ST1): the
  * landing zone consumed as a Structured Streaming file source instead
  * of batch replays.
  *
  * `readStream` tails the hive-partitioned gz-JSON landing zone; each
  * micro-batch runs the SAME transform + keyed idempotent upsert the
  * batch Runner uses inside `foreachBatch` — so exactly-once-ish comes
  * from two independent layers: the file source's checkpointed
  * file-tracking (no page read twice) and the keep-latest merge (a
  * replayed page is a no-op), mirroring the reference's MERGE +
  * delete-on-success contract (`crime_etl.py:296-301`).
  *
  * Scale: the stream shuffles only inside the upsert (one hash
  * partition on crime_id per micro-batch, scoped to touched partition
  * years); file listing is incremental via the checkpoint log.
  */
object StreamingRunner {

  /** Landing-zone stream: schema'd gz-JSON with partition columns. */
  def readLanding(spark: SparkSession, landingRoot: String): org.apache.spark.sql.DataFrame =
    spark.readStream
      .schema(Schemas.rawCrime
        .add("year", org.apache.spark.sql.types.StringType)
        .add("month", org.apache.spark.sql.types.StringType)
        .add("load_date", org.apache.spark.sql.types.StringType))
      .option("maxFilesPerTrigger", "4")
      .json(landingRoot)

  /** Transform + upsert every micro-batch into the replica. */
  def run(spark: SparkSession, landingRoot: String, replicaPath: String, checkpointDir: String): StreamingQuery =
    readLanding(spark, landingRoot)
      .drop("year", "month", "load_date")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val typed = Transform.crimeRecords(batch)
            .withColumn("occ_year", year(col("date_of_occurrence")))
          Upsert.upsertIntoParquet(
            batch.sparkSession, replicaPath, typed,
            keyCols = Seq("crime_id"), versionCol = "source_updated_on", partitionCol = "occ_year")
          ()
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming materialized view: the same [[IncrementalAgg]] state the
    * batch path maintains, fed by micro-batches — per-ward crime counts
    * stay fresh without ever rescanning the warehouse. Exactly-once:
    * the file source's checkpoint prevents re-reads, and the state's
    * atomically-committed batch watermark makes a post-crash
    * `foreachBatch` replay a no-op (state and batch id commit together,
    * [[graft.core.Commit]]). */
  def runRollup(
      spark: SparkSession,
      landingRoot: String,
      statePath: String,
      checkpointDir: String,
      spec: IncrementalAgg.Spec): StreamingQuery =
    readLanding(spark, landingRoot)
      .drop("year", "month", "load_date")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val typed = Transform.crimeRecords(batch)
            .withColumn("occ_year", year(col("date_of_occurrence")))
          IncrementalAgg.update(batch.sparkSession, statePath, typed, spec, Some(batchId))
          ()
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
