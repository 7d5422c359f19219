package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.SyncRepair
import graft.pipeline.{DateRanges, Runner}
import graft.sources.LandingZone
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `etl_cycle` workload. One cycle, from an empty work directory:
  *  1. FULL backfill on the driver-side paged path (`Runner.run`) from
  *     the seeded source; one page fails once, so checkpoint/resume runs;
  *  2. `Weeks` weekly INCREMENTs on the connector path
  *     (`Runner.runWithConnector`) through [[SeededTransport]];
  *  3. replica B's last load is marked FAILED and `Runner.syncRepair`
  *     replays it.
  * Each of those calls is one timed op. After the cycle, untimed, both
  * replicas are compared with a keep-latest expectation computed from
  * the generator, the backfill must have served and landed every page
  * exactly once, the run logs must show SUCCESS for every load date on
  * both sides, and `SyncRepair.diff` must be empty. */
final class EtlCycle(seed: Long, workDir: String) extends Main.Workload {
  import SeededServer.{Weeks, loadDate}
  private var attempted = 0
  private var failed = 0
  private val notes = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[OpSpan]
  // per-op source counters and storage figures, keyed by op id
  private val opStats = mutable.LinkedHashMap.empty[String, Map[String, Double]]
  private val cycleStats = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def server = SeededServer(seed)

  override def describe: String = SeededServer.describe

  override def fixtures(): Unit = { server.state(Weeks); () }

  override def prepare(spark: SparkSession): Unit = ()

  private def fail(msg: String): Unit = { failed += 1; notes += msg }

  /** Every file under `root` with its size. */
  private def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def dirBytes(root: String): Double = files(root).values.sum.toDouble

  /** Data and keymap files of the replicas: what an upsert rewrites. */
  private def replicaFiles(replicas: Seq[String]): Map[String, Long] =
    replicas.flatMap(r => files(r) ++ files(graft.operators.Upsert.keymapPath(r))).toMap

  private def timedOp(id: String, kind: String)(body: => Boolean): Double = {
    attempted += 1
    val sc = SparkSession.active.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val rows0 = SeededServer.rowsServed.get
    val fetch0 = SeededServer.fetchNanos.get
    val fail0 = SeededServer.pageFailures.get
    val t0 = System.currentTimeMillis()
    val ok = try body catch { case e: Exception => notes += s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}"; false }
    val t1 = System.currentTimeMillis()
    sc.clearJobGroup()
    if (!ok) fail(s"$id did not succeed")
    spans += OpSpan(id, kind, t0, t1)
    opStats(id) = Map(
      "sources.extract.rows" -> (SeededServer.rowsServed.get - rows0).toDouble,
      "sources.extract.fetch_s" -> (SeededServer.fetchNanos.get - fetch0) / 1e9,
      "sources.extract.page_retries" -> (SeededServer.pageFailures.get - fail0).toDouble)
    (t1 - t0) / 1e3
  }

  override def cycle(spark: SparkSession, n: Int, traced: Boolean): Seq[Double] = {
    val dir = new File(workDir)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    dir.mkdirs()
    val runner = new Runner(spark, workDir, epochStart = SeededServer.EpochStart, tablePrefix = "perfbench")
    val replicas = Seq(runner.replicaA, runner.replicaB)
    val times = mutable.ArrayBuffer.empty[Double]
    val windows = DateRanges.monthBuckets(SeededServer.EpochStart, loadDate(0))
    val source = SeededPagedSource(server, windows)
    times += timedOp(s"c$n.backfill", "backfill") {
      runner.run(s"c$n-w0", loadDate(0), source) == "SUCCESS"
    }
    source.servedCheck(windows).foreach(msg => fail(s"c$n: backfill $msg"))
    (1 to Weeks).foreach { w =>
      val before = if (traced) replicaFiles(replicas) else Map.empty[String, Long]
      val opts = Map(
        "seed" -> seed.toString,
        "asOfWeek" -> w.toString,
        "transport" -> classOf[SeededTransport].getName,
        "pageSize" -> SeededServer.ConnectorPageSize.toString,
        // the window re-reads the high-water day, so a page plan of twice
        // the delta covers it; surplus pages come back empty
        "maxPages" -> (2 * SeededServer.DeltaRows / SeededServer.ConnectorPageSize + 1).toString)
      val id = s"c$n.increment$w"
      times += timedOp(id, "increment") {
        runner.runWithConnector(s"c$n-w$w", loadDate(w), opts) == "SUCCESS"
      }
      if (traced) {
        val after = replicaFiles(replicas)
        val written = after.filter { case (f, _) => !before.contains(f) }
        val partitions = written.keys.filter(f => replicas.exists(r => f.startsWith(r + "/")))
          .map(f => Paths.get(f).getParent.toString).toSet
        val landed = files(runner.landingRoot).filter(_._1.contains(s"load_date=${loadDate(w)}")).values.sum
        opStats(id) = opStats(id) ++ Map(
          "upsert.partitions_rewritten" -> partitions.size.toDouble,
          "upsert.write_amp" -> (if (landed > 0) written.values.sum.toDouble / landed else 0.0))
      }
    }
    // a replica B failure on the last load date, then the repair
    val lastRun = s"c$n-w$Weeks"
    runner.logsB.finish(lastRun, java.sql.Date.valueOf(loadDate(Weeks)), "FAILED")
    times += timedOp(s"c$n.sync", "sync") { runner.syncRepair(s"c$n-repair") == 1 }
    verify(spark, runner, n)
    times.toSeq
  }

  /** Untimed: the backfill's load date landed each base record once,
    * replicas equal the generator's keep-latest state, keys unique and
    * non-null, every load date SUCCESS on both logs, and the sync diff
    * empty afterwards. */
  private def verify(spark: SparkSession, runner: Runner, n: Int): Unit = {
    val landed = LandingZone.read(spark, runner.landingRoot, Seq(loadDate(0)))
      .agg(count(lit(1)), countDistinct(col("id"))).first()
    if (landed.getLong(0) != SeededServer.TableRows || landed.getLong(1) != SeededServer.TableRows)
      fail(s"c$n: backfill landed ${landed.getLong(0)} rows, ${landed.getLong(1)} distinct, " +
        s"want ${SeededServer.TableRows} of each")
    val expected = server.state(Weeks).map { v =>
      val year = SeededServer.yearOf(v.date)
      (v.id, year.map(_ => v.date).orNull, year.getOrElse(-1), v.updatedAt, v.values(5))
    }.toSet
    Seq("a" -> runner.replicaA, "b" -> runner.replicaB).foreach { case (side, path) =>
      val rows = spark.read.parquet(path).select(
        col("crime_id"), date_format(col("date_of_occurrence"), "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        coalesce(col("occ_year"), lit(-1)), date_format(col("source_updated_on"), "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        col("primary_description")).collect()
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
      val ids = got.map(_._1)
      if (ids.contains(null) || ids.distinct.length != ids.length) fail(s"c$n: replica $side keys not unique/non-null")
      else if (got.toSet != expected)
        fail(s"c$n: replica $side differs from expectation (${got.length} rows vs ${expected.size}; " +
          s"${(got.toSet -- expected).size} unexpected, ${(expected -- got.toSet).size} missing)")
    }
    val dates = (0 to Weeks).map(loadDate).toSet
    Seq("a" -> runner.logsA, "b" -> runner.logsB).foreach { case (side, log) =>
      val ok = log.read().filter(col("status") === "SUCCESS").select(col("load_date").cast("string"))
        .collect().map(_.getString(0)).toSet
      if (!dates.subsetOf(ok)) fail(s"c$n: log $side lacks SUCCESS for ${(dates -- ok).toSeq.sorted.mkString(",")}")
    }
    if (!SyncRepair.diff(runner.logsA.read(), runner.logsB.read()).isEmpty) fail(s"c$n: sync diff not empty after repair")
    val live = spark.read.parquet(runner.replicaA).count()
    val logs = files(s"$workDir/warehouse_a/logs") ++ files(s"$workDir/warehouse_b/logs")
    cycleStats += Map(
      "etl.stored_bytes_per_row" -> dirBytes(workDir) / math.max(1L, live),
      "etl.sources.landing.bytes" -> dirBytes(runner.landingRoot),
      "etl.meta.runlog.files" -> logs.count(!_._1.endsWith(".crc")).toDouble)
  }

  private val Modules = Map(
    "backfill" -> Seq("sources.landing"),
    "increment" -> Seq("operators.upsert", "operators.datachecks", "meta.runlog", "pipeline.runner", "sources.landing"),
    "sync" -> Seq("operators.upsert", "operators.datachecks", "meta.runlog", "pipeline.runner"))

  override def outcome(spark: SparkSession, tracer: Option[Tracer]): Main.Outcome = {
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val jobs = tracer.map { t =>
      Tracer.drain(spark.sparkContext)
      t.jobs(spans.toSeq)
    }.getOrElse(Nil)
    if (tracer.isDefined) {
      val byOp = jobs.groupBy(_.op)
      Seq("backfill", "increment", "sync").foreach { kind =>
        val kOps = spans.filter(_.kind == kind).toSeq
        val rows = kOps.map { op =>
          val js = byOp.getOrElse(op.id, Nil)
          val union = Tracer.assignSelfTime(op, js)
          val m = mutable.LinkedHashMap[String, Double](
            "s" -> op.wallS,
            "jobs" -> js.size.toDouble,
            "task_s" -> js.map(_.taskMs).sum / 1e3,
            "driver_gap_s" -> (op.wallS - union / 1e3),
            "unattributed_jobs" -> js.count(_.module == Tracer.Unattributed).toDouble)
          Modules(kind).foreach { mod =>
            val mj = js.filter(_.module == mod)
            m(s"$mod.jobs") = mj.size.toDouble
            m(s"$mod.job_s") = mj.map(_.selfMs).sum / 1e3
          }
          m("other.job_s") = js.filterNot(j => Modules(kind).contains(j.module)).map(_.selfMs).sum / 1e3
          opStats.getOrElse(op.id, Map.empty).foreach { case (k, v) => m(k) = v }
          m.toMap
        }
        rows.flatMap(_.keys).distinct.foreach(k => perLayer(s"$kind.$k") = Main.mean(rows.map(_.getOrElse(k, 0.0))))
      }
    }
    cycleStats.flatMap(_.keys).distinct.foreach(k => perLayer(k) = Main.mean(cycleStats.toSeq.map(_(k))))
    val backfills = spans.filter(_.kind == "backfill").toSeq
    perLayer("etl.backfill_rows_per_s") = Main.mean(backfills.map(op =>
      opStats(op.id)("sources.extract.rows") / math.max(1e-3, op.wallS)))
    Main.Outcome(attempted, math.min(failed, attempted), perLayer.toMap, notes.toSeq,
      Tracer.spansJson(spans.toSeq, jobs))
  }
}
