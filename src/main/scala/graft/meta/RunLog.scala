package graft.meta

import graft.core.Schemas
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The pipeline-run metadata table (`logs`) and its status state
  * machine RUNNING → SUCCESS | FAILED (ST6).
  *
  * Reference: row shape and transitions in
  * `airflow/dags/crimeapi/db/postgres/db_postgres.py:38-63` and
  * `airflow/dags/crime_etl.py:106-107, 167-168, 374-375`; times stored
  * as UTC HH:mm:ss strings (`helper.py:18-19`).
  *
  * Storage is APPEND-ONLY: every status transition appends one row
  * stamped with a monotonic `__seq`; [[read]] resolves current state as
  * latest-transition-per-(run_id, load_date) via [[Dedup.keepLatest]].
  * The reference's row-keyed UPDATE (`db_postgres.py:38-63`) maps to an
  * append + resolve-on-read, not a full-table rewrite per transition —
  * the write cost of a transition is one small file, independent of
  * table size, and concurrent-ish writers can't clobber each other's
  * rows (last transition wins, exactly the UPDATE semantics).
  */
class RunLog(spark: SparkSession, path: String) {

  private val rawSchema = Schemas.logs.add("__seq", LongType, nullable = false)

  /** The raw transitions; none before the first append. The filesystem
    * comes from the path, so a `file:` URI or a remote store resolves. */
  private def readRaw(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) spark.read.schema(rawSchema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], rawSchema)
  }

  /** Resolved current state: the latest transition per (run_id,
    * load_date). Readers see exactly what a row-keyed UPDATE table
    * would contain. */
  def read(): DataFrame =
    Dedup.keepLatest(readRaw(), Seq("run_id", "load_date"), "__seq", "__seq").drop("__seq")

  private def append(df: DataFrame): Unit =
    df.withColumn("__seq", lit(RunLog.nextSeq()))
      .coalesce(1)
      .write
      .mode("append")
      .parquet(path)

  /** UTC wall-clock HH:mm:ss — pinned to UTC regardless of host zone,
    * matching the reference's `datetime.utcnow()` strings
    * (`helper.py:18-19`) and the session's UTC timezone setting. */
  private def utcTime(): String =
    java.time.LocalTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))

  /** Open a RUNNING row for (runId, loadDate) — `init_log` semantics.
    * The run config serializes through `to_json(struct(...))` (F9),
    * mirroring the reference's `json.dumps(config)`
    * (`db_postgres.py:51`, `crime_etl.py:429`). */
  def start(runId: String, loadDate: java.sql.Date, runType: String, mode: String, config: Seq[(String, String)]): Unit = {
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(runId, loadDate, runType, mode, "RUNNING", utcTime(), null, null))),
      Schemas.logs)
    append(base.withColumn("config", to_json(struct(config.map { case (k, v) => lit(v).as(k) }: _*))))
  }

  /** Finalize the row — `update_log` semantics: append a transition row
    * carrying the resolved current values with the new status/end_time.
    * The current-row read is a lazy filtered plan, and the write is one
    * appended row — the table is never rewritten. */
  def finish(runId: String, loadDate: java.sql.Date, status: String): Unit =
    append(read()
      .filter(col("run_id") === runId && col("load_date") === loadDate)
      .withColumn("status", lit(status))
      .withColumn("end_time", lit(utcTime())))

}

object RunLog {
  /** Transition sequence: every append re-reads the wall clock (in
    * microsecond units) and takes max(clock, prev + 1) — monotonic
    * within a JVM even under same-millisecond bursts, and a restarted
    * driver resumes at its current clock rather than a stale seed.
    * Cross-JVM ordering is wall-clock ordering, the same guarantee
    * class as the reference's row-keyed UPDATE under concurrent
    * writers (`db_postgres.py:38-63`): a writer whose clock lags can
    * still lose to an earlier transition. True multi-driver logging
    * would need a coordinated sequence (the warehouse played that role
    * in the reference); the pipeline runs one driver at a time. */
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0L)
  private[meta] def nextSeq(): Long =
    seqGen.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis() * 1000L))
}
