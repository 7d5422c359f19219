package graft.pipeline

import graft.core.{Par, Schemas}
import graft.meta.{Checkpoint, CheckpointState, RunLog}
import graft.operators.{DataChecks, SyncRepair, Transform, Upsert}
import graft.sources.{ApiPageFetchError, ApiSimulator, Catalog, LandingZone}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import java.time.LocalDate
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Driver-side orchestration of the weekly run (§3.1 of SURVEY.md) —
  * the Airflow DAG `crime_etl` (`airflow/dags/crime_etl.py:563-695`)
  * re-expressed as plain Scala control flow over lazy Spark plans.
  *
  * Stages mirror the DAG: check_table (catalog DDL, S7/S8) →
  * fetch_metadata branch (FULL vs INCREMENT on the data's high-water
  * mark, ST1/A1) → paged extract with (date, page) checkpoint/resume
  * (ST2) over month-bucketed ranges (F3), the pages of all windows
  * buffered on the driver → partitioned landing write (one per run, plus
  * one before each checkpoint and one per 50 000 buffered rows; the
  * reference lands each extracted batch in one upload, `helper.py:67-86`)
  * → transform → keyed upsert into TWO parquet replicas concurrently,
  * each followed by its post-upsert data tests (A5) → log finalize,
  * each replica's log with its own outcome → sync-validate (one
  * aggregation over both logs, [[SyncRepair.diff]]) → replay missed
  * partitions (ST5). The reference loads its two warehouses
  * independently too (`db_postgres.py:158-203`): each replica's log
  * start, upsert chain and log finish run on their own driver thread
  * ([[Par.inParallel]]), so the two chains of short Spark jobs overlap
  * instead of queueing. Other thread/process boundaries of
  * the DAG become Spark job boundaries; branching is `if` on collected
  * scalars (the only `collect`s are scalar cursors — 100 TB posture).
  *
  * Mode semantics (`crime_etl.py:94-228`):
  *  - FULL (no data yet): walk `[epochStart, loadDate]` in one-month
  *    query windows, remainder clamped ([[DateRanges.monthBuckets]]).
  *  - INCREMENT: fetch `[day(highWater), loadDate]` where highWater =
  *    `MAX(source_updated_on)` read from the crime DATA (not the logs —
  *    `db_postgres.py:65-71`). The high-water DAY is re-fetched
  *    INCLUSIVELY: records updated later the same day would otherwise
  *    be skipped forever; the idempotent keyed upsert absorbs the
  *    boundary overlap (same contract as the reference's BETWEEN
  *    window, which also re-reads its boundary).
  */
class Runner(spark: SparkSession, workDir: String, epochStart: String = "2001-01-01", tablePrefix: String = "graft") {

  val landingRoot = s"$workDir/landing"
  val replicaA = s"$workDir/warehouse_a/crime"
  val replicaB = s"$workDir/warehouse_b/crime"
  val logsA = new RunLog(spark, s"$workDir/warehouse_a/logs")
  val logsB = new RunLog(spark, s"$workDir/warehouse_b/logs")
  val checkpoint = new Checkpoint(spark, s"$workDir/checkpoint.json")
  private val replicas = Seq(replicaA, replicaB)
  private val logs = Seq(logsA, logsB)

  /** check_table stage (S7/S8): register the warehouse tables in the
    * session catalog, idempotently (`db_postgres.py:93-111`). The
    * catalog is a metadata surface — reads/writes below go through the
    * partitioned parquet paths the upsert operator maintains. */
  def checkTables(): Unit = {
    Catalog.createTableIfNotExists(spark, s"${tablePrefix}_crime_a", replicaA, Runner.CrimeSchema, Seq("occ_year"))
    Catalog.createTableIfNotExists(spark, s"${tablePrefix}_crime_b", replicaB, Runner.CrimeSchema, Seq("occ_year"))
    Catalog.createTableIfNotExists(spark, s"${tablePrefix}_logs_a", s"$workDir/warehouse_a/logs", Schemas.logs)
    Catalog.createTableIfNotExists(spark, s"${tablePrefix}_logs_b", s"$workDir/warehouse_b/logs", Schemas.logs)
  }

  /** Make newly-written partitions visible to the catalog tables (an
    * external partitioned table only sees partitions it has
    * discovered). Failures propagate — a catalog entry that can't
    * recover partitions (e.g. a pre-existing unpartitioned table at the
    * same name) means SQL over it would silently return wrong data. */
  private def refreshCatalog(): Unit =
    Seq(s"${tablePrefix}_crime_a", s"${tablePrefix}_crime_b")
      .foreach(spark.catalog.recoverPartitions)

  /** A replica's rows, read with the schema [[checkTables]] declares
    * rather than one inferred from a footer: inference is a Spark job of
    * its own on every read. */
  private def readReplica(path: String): DataFrame =
    spark.read.schema(Runner.ReplicaReadSchema).parquet(path)

  /** A1: CDC cursor — MAX(source_updated_on) from the crime data. */
  def crimeHighWater(): Option[java.sql.Timestamp] = {
    val p = new org.apache.hadoop.fs.Path(replicaA)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) None
    else Option(readReplica(replicaA).agg(max("source_updated_on")).first().getTimestamp(0))
  }

  /** One scheduled run through the offline page simulator (driver-side
    * paging with (date, page) checkpoint/resume). Fetched pages collect
    * in one driver-side [[PageBuffer]] across all of the run's windows
    * and land in one write after the last window, so a backfill costs
    * one landing job, not one per page. Returns the final status. */
  def run(runId: String, loadDate: String, api: ApiSimulator, maxRetries: Int = 3): String =
    runWith(runId, loadDate, { ranges =>
      val pending = new PageBuffer(Runner.LandingRowCap, rows =>
        LandingZone.write(api.toDataFrame(spark, rows), landingRoot, loadDate))
      ranges.foreach { case (s0, e0) => extractAndLand(s0, e0, api, pending, maxRetries) }
      pending.flush()
    })

  /** One scheduled run extracting through the DSv2 connector
    * (`spark.read.format("graft-api")`, [[graft.sources.ApiTableProvider]])
    * — the production path: the CDC range pushes into the source scan
    * (SoQL `updated_on BETWEEN`, `extract.py:11`), pages fetch in
    * parallel as input partitions, and a failed page retries as a task
    * retry instead of the driver-side checkpoint loop. */
  def runWithConnector(runId: String, loadDate: String, apiOptions: Map[String, String] = Map.empty): String =
    runWith(runId, loadDate, _.foreach { case (s0, e0) => extractAndLandConnector(s0, e0, loadDate, apiOptions) })

  private def runWith(runId: String, loadDate: String, extract: Seq[(String, String)] => Unit): String = {
    checkTables()
    val ld = java.sql.Date.valueOf(loadDate)
    val hw = crimeHighWater()
    val mode = if (hw.isEmpty) "FULL" else "INCREMENT"
    val ranges: Seq[(String, String)] = mode match {
      case "FULL" => DateRanges.monthBuckets(epochStart, loadDate)
      case _ =>
        // inclusive of the high-water day (see class doc); clamp for
        // clock skew where the data's high-water passed the load date
        val hwDay = hw.get.toLocalDateTime.toLocalDate
        val from = if (hwDay.isAfter(LocalDate.parse(loadDate))) LocalDate.parse(loadDate) else hwDay
        Seq((from.toString, loadDate))
    }
    val cfg = Seq("load_date" -> loadDate, "mode" -> mode, "epoch_start" -> epochStart)
    Par.inParallel(logs.size)(i => logs(i).start(runId, ld, "SCHEDULED", mode, cfg))

    // a shared stage's failure fails every replica; an upsert or
    // uniqueness failure fails only its own replica
    val outcomes =
      try {
        extract(ranges)
        val loaded = loadReplicas(replicas, Seq(loadDate))
        refreshCatalog()
        loaded
      } catch { case e: Exception => logs.map(_ => Failure(e)) }
    val statuses = outcomes.zip(replicas).map {
      case (Success(_), _) => "SUCCESS"
      case (Failure(e), replica) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"run $runId (load date $loadDate) failed on $replica", e)
        "FAILED"
    }

    Par.inParallel(logs.size)(i => logs(i).finish(runId, ld, statuses(i)))
    if (statuses.forall(_ == "SUCCESS")) "SUCCESS" else "FAILED"
  }

  /** Paged extract of one query window into `pending`, with
    * checkpoint/resume at (window start, page) granularity (ST2): a
    * failed page leaves a checkpoint; the retry resumes from it;
    * exhausted retries clear it (`crime_etl.py:132-168`). `pending` is
    * flushed before every checkpoint write, so the pages before the one
    * a checkpoint names are landed when it names them and a resume
    * neither loses nor re-lands them. */
  private def extractAndLand(startDate: String, endDate: String, api: ApiSimulator, pending: PageBuffer, maxRetries: Int): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      val resumeFrom = checkpoint.read().filter(_.lastDate == startDate).map(_.lastPage).getOrElse(0)
      try {
        api.fetchPages(startDate, endDate, resumeFrom).foreach { case (_, rows) => pending.add(rows) }
        checkpoint.clear()
        done = true
      } catch {
        case e: ApiPageFetchError =>
          pending.flush()
          checkpoint.write(CheckpointState(e.date, e.pagenum))
          attempt += 1
          if (attempt > maxRetries) { checkpoint.clear(); throw e }
      }
    }
  }

  /** Connector extract of one query window: the `[startDate, endDate]`
    * range (inclusive, like the reference's BETWEEN) goes into the scan
    * as a pushed `:updated_at` filter — rows outside the window are
    * never produced by the source. One distributed read per window; the
    * landing write preserves the same partitioned layout as the paged
    * path. */
  private def extractAndLandConnector(startDate: String, endDate: String, loadDate: String, options: Map[String, String]): Unit = {
    val endExclusive = LocalDate.parse(endDate).plusDays(1).toString
    val src = spark.read.format("graft-api").options(options).load()
      .filter(col(":updated_at") >= startDate && col(":updated_at") < endExclusive)
    // write unconditionally: an empty window writes no partition
    // directories, while an isEmpty pre-check would run a whole second
    // extract pass (double the API fetches per window on a live source)
    LandingZone.write(src, landingRoot, loadDate)
  }

  /** Landing → transform → idempotent keyed upsert into each replica,
    * partition-scoped by occurrence year (only touched years rewrite),
    * then the dbt-style data tests (A5): crime_id must be a unique,
    * non-null key or the load fails. The landing read, the transform and
    * the not-null check run once for all replicas: the typed batch is
    * cached and every replica's upsert reads the cache. Checks are
    * SCOPED — not-null runs on the incoming batch, uniqueness on each
    * replica's rewritten partitions only (the upsert's cross-partition
    * stale-key rewrite guarantees a key lives in at most one partition,
    * so partition-local uniqueness ⇒ global uniqueness) — bounded jobs
    * per load, not full-table scans.
    *
    * The replicas load concurrently, one driver thread each; they share
    * only the cached batch, which is unpersisted once every replica has
    * ended. A failure of a shared stage throws. Each replica's own
    * upsert and uniqueness check end in that replica's outcome, in
    * `replicaPaths` order, so one replica's failure leaves the others
    * loaded. */
  private def loadReplicas(replicaPaths: Seq[String], loadDates: Seq[String]): Seq[Try[Unit]] = {
    val raw = LandingZone.read(spark, landingRoot, loadDates)
    val typed = Transform.crimeRecords(raw)
      .withColumn("occ_year", year(col("date_of_occurrence")))
      .cache() // reused by the check + each replica's upsert passes
    try {
      DataChecks.requireNotNull(typed, Seq("crime_id"))
      Par.inParallel(replicaPaths.size) { i =>
        Try {
          val touched = Upsert.upsertIntoParquet(
            spark, replicaPaths(i), typed,
            keyCols = Seq("crime_id"), versionCol = "source_updated_on", partitionCol = "occ_year")
          // uniqueness over EVERY partition this load rewrote — including
          // those that held stale versions of moved keys
          val touchedData = readReplica(replicaPaths(i))
            .filter(Upsert.partitionFilter("occ_year", touched))
          DataChecks.requireUnique(touchedData, Seq("crime_id"))
        }
      }
    } finally typed.unpersist()
  }

  /** validate_sync + sync_* (ST5): diff the replica logs' SUCCESS
    * load_dates ([[SyncRepair.diff]]), replay missed load_dates into the
    * lagging replica, mark RECOVERY rows. */
  def syncRepair(runId: String): Int = {
    val diff = SyncRepair.diff(logsA.read(), logsB.read()).collect()
    diff.foreach { r =>
      val missedDate = r.getDate(0)
      val side = r.getString(1)
      val (log, replica) = if (side == "a") (logsA, replicaA) else (logsB, replicaB)
      log.start(runId, missedDate, "RECOVERY", "INCREMENT", Seq("recover" -> missedDate.toString))
      loadReplicas(Seq(replica), Seq(missedDate.toString)).foreach(_.get)
      log.finish(runId, missedDate, "SUCCESS")
    }
    if (diff.nonEmpty) refreshCatalog() // recovered partitions must be SQL-visible too
    diff.length
  }
}

object Runner {

  /** The replicas' table schema, as the catalog declares it. */
  private val CrimeSchema = Schemas.crime.add("occ_year", IntegerType)

  /** The same fields, all nullable, for reading a replica's files. */
  private val ReplicaReadSchema = StructType(CrimeSchema.map(_.copy(nullable = true)))

  /** Rows the paged path holds on the driver before it lands them: ten
    * of the reference's 5000-row pages, so driver memory stays bounded
    * however long the backfill. */
  private val LandingRowCap = 50000
}

/** Fetched pages held on the driver until their landing write. One
  * `land` call takes everything buffered, so many small pages cost one
  * write; the buffer lands itself once it holds `cap` rows. */
private[pipeline] final class PageBuffer(cap: Int, land: Seq[Row] => Unit) {
  private val rows = mutable.ArrayBuffer.empty[Row]

  def add(page: Seq[Row]): Unit = {
    rows ++= page
    if (rows.length >= cap) flush()
  }

  def flush(): Unit =
    if (rows.nonEmpty) {
      land(rows.toVector)
      rows.clear()
    }
}
