package graft.pipeline

import graft.{FaultFs, SparkSpec}
import graft.core.{Commit, Schemas}
import graft.operators.SyncRepair
import graft.sources.{ApiPageFetchError, ApiSimulator, Catalog, LandingZone}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** End-to-end pipeline smoke (SURVEY.md §5.5): simulated API → landing
  * zone → transform → dual-replica upsert → logs → checkpoint/resume →
  * sync repair → catalog DDL → FULL/INCREMENT branching. */
class RunnerSpec extends SparkSpec {

  test("full run lands, transforms and upserts into both replicas") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-01", tablePrefix = "t1")
    val api = new ApiSimulator(totalRows = 250, pageSize = 100)
    val status = r.run("run1", "2025-07-01", api)
    assert(status == "SUCCESS")
    val a = spark.read.parquet(r.replicaA)
    assert(a.count() == 250)
    // typed schema survived
    assert(a.schema("date_of_occurrence").dataType.typeName == "timestamp")
    assert(a.schema("arrest").dataType.typeName == "boolean")
    // second identical run is idempotent (same keys upsert over themselves)
    assert(r.run("run2", "2025-07-01", api) == "SUCCESS")
    assert(spark.read.parquet(r.replicaA).count() == 250)
    // logs recorded both runs as SUCCESS
    val logs = r.logsA.read().filter(col("status") === "SUCCESS")
    assert(logs.count() == 2)
  }

  test("FULL walks month buckets from the epoch; next run branches INCREMENT") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    // epoch two months back → FULL covers 3 query windows (F3)
    val r = new Runner(spark, dir, epochStart = "2025-05-20", tablePrefix = "t2")
    val api = new ApiSimulator(totalRows = 120, pageSize = 60)
    assert(r.crimeHighWater().isEmpty)
    assert(r.run("run1", "2025-07-10", api) == "SUCCESS")
    // the sim emits the same crime_ids per window; keep-latest keeps one row each
    assert(spark.read.parquet(r.replicaA).count() == 120)
    // high-water mark now reads from the DATA (A1)
    val hw = r.crimeHighWater()
    assert(hw.nonEmpty)
    // second run on a later load date branches INCREMENT (ST1)
    assert(r.run("run2", "2025-07-20", api) == "SUCCESS")
    val modes = r.logsA.read().orderBy("run_id").select("mode").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq
    assert(modes == Seq("FULL", "INCREMENT"))
    // config serialized as JSON via to_json(struct(...)) (F9)
    val cfg = r.logsA.read().filter(col("run_id") === "run2").select("config").first().getString(0)
    assert(cfg.contains(""""mode":"INCREMENT"""") && cfg.contains(""""load_date":"2025-07-20""""))
    // INCREMENT re-upserted the newer rows idempotently
    assert(spark.read.parquet(r.replicaA).count() == 120)
  }

  test("checkTables registers catalog tables idempotently (S7/S8)") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-01", tablePrefix = "t3")
    r.checkTables()
    r.checkTables() // IF NOT EXISTS: second call is a no-op
    val tables = Catalog.listTables(spark)
    assert(Seq("t3_crime_a", "t3_crime_b", "t3_logs_a", "t3_logs_b").forall(tables.contains))
    assert(Catalog.tableExists(spark, "t3_crime_a"))
    // a run against the pre-created (empty) locations still bootstraps
    val api = new ApiSimulator(totalRows = 50, pageSize = 25)
    assert(r.run("run1", "2025-07-01", api) == "SUCCESS")
    assert(spark.read.parquet(r.replicaA).count() == 50)
    // the PARTITIONED catalog table sees the data through plain SQL
    // (run() recovers partitions after each load)
    assert(spark.table("t3_crime_a").count() == 50)
    assert(spark.sql("SELECT count(DISTINCT occ_year) FROM t3_crime_a").first().getLong(0) >= 1)
  }

  test("checkpoint/resume: a failing page checkpoints, retry resumes and completes") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-02", tablePrefix = "t4")
    // fails at page 2 on the first pass; Runner retries internally and
    // the simulator only fails once per fetch generation here, so use
    // maxRetries to allow recovery
    var failures = 0
    val api = new ApiSimulator(totalRows = 300, pageSize = 100) {
      override def fetchPages(s: String, e: String, resume: Int): Iterator[(Int, Seq[org.apache.spark.sql.Row])] = {
        val it = super.fetchPages(s, e, resume)
        it.map { case (pg, rows) =>
          if (pg == 2 && failures == 0) { failures += 1; throw graft.sources.ApiPageFetchError(pg, s) }
          (pg, rows)
        }
      }
    }
    assert(r.run("run1", "2025-07-02", api) == "SUCCESS")
    assert(spark.read.parquet(r.replicaA).count() == 300)
    // checkpoint cleared after success
    assert(r.checkpoint.read().isEmpty)
  }

  /** Data files per leaf directory of a landing zone, and the landing
    * writes that made them: a write job stamps its id into the name of
    * every file it writes (`part-NNNNN-<job id>.c000...`). */
  private def landingFiles(root: String): (Map[String, Int], Set[String]) = {
    val files = FileUtils.listFiles(new java.io.File(root), null, true).asScala.toSeq
      .filter(_.getName.startsWith("part-"))
    val writeIds = files.map(f => "part-\\d+-([0-9a-f-]{36})".r.findPrefixMatchOf(f.getName).get.group(1)).toSet
    (files.groupBy(_.getParent).map { case (leaf, fs) => leaf -> fs.size }, writeIds)
  }

  private def landedIds(r: Runner, loadDate: String): Seq[String] =
    LandingZone.read(spark, r.landingRoot, Seq(loadDate)).select("id")
      .collect().map(_.getString(0)).toSeq

  test("a FULL run resumed after a mid-window page failure lands every row once") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-05", tablePrefix = "t9")
    var failures = 0
    val api = new ApiSimulator(totalRows = 300, pageSize = 100) {
      override def fetchPages(s: String, e: String, resume: Int): Iterator[(Int, Seq[Row])] =
        super.fetchPages(s, e, resume).map { case (pg, rows) =>
          if (pg == 1 && failures == 0) { failures += 1; throw ApiPageFetchError(pg, s) }
          (pg, rows)
        }
    }
    assert(r.run("run1", "2025-07-05", api) == "SUCCESS" && failures == 1)
    // keep-latest would hide a re-landed page in the replicas; the
    // landing zone itself must hold each row once
    val ids = landedIds(r, "2025-07-05")
    assert(ids.size == 300 && ids.distinct.size == 300)
    // two landing writes: page 0 before the checkpoint named page 1,
    // pages 1-2 after the last window; one file per leaf per write
    val (perLeaf, writes) = landingFiles(r.landingRoot)
    assert(writes.size == 2, s"landing writes: $writes")
    assert(perLeaf.nonEmpty && perLeaf.values.forall(_ <= writes.size), s"files per leaf: $perLeaf")
  }

  test("a FAILED paged run has landed exactly the pages fetched before the failing page") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-06", tablePrefix = "t10")
    val api = new ApiSimulator(totalRows = 300, pageSize = 100, failAtPage = Some(2))
    assert(r.run("run1", "2025-07-06", api, maxRetries = 0) == "FAILED")
    val before = api.fetchPages("2025-07-06", "2025-07-06").take(2).flatMap(_._2)
      .map(_.getString(Schemas.rawCrime.fieldIndex("id"))).toSeq
    assert(before.size == 200)
    assert(landedIds(r, "2025-07-06").sorted == before.sorted)
  }

  test("the paged path lands a multi-window backfill in one write") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    // three month windows (F3); the sim serves the same 120 ids in each
    val r = new Runner(spark, dir, epochStart = "2025-05-01", tablePrefix = "t11")
    assert(r.run("run1", "2025-07-10", new ApiSimulator(totalRows = 120, pageSize = 40)) == "SUCCESS")
    assert(landedIds(r, "2025-07-10").size == 3 * 120)
    val (perLeaf, writes) = landingFiles(r.landingRoot)
    assert(writes.size == 1 && perLeaf.size == 3 && perLeaf.values.forall(_ == 1), s"$perLeaf")
  }

  test("the page buffer lands what it holds at the row cap and on flush, each row once") {
    val landed = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val buf = new PageBuffer(cap = 3, landed += _)
    def page(ids: Int*) = ids.map(i => Row(i))
    buf.add(page(1, 2))
    assert(landed.isEmpty)
    buf.add(page(3, 4)) // reaches the cap: lands both pages
    buf.add(Nil)
    buf.add(page(5))
    assert(landed.map(_.map(_.getInt(0))) == Seq(Seq(1, 2, 3, 4)))
    buf.flush()
    buf.flush() // nothing left: no empty write
    assert(landed.map(_.map(_.getInt(0))) == Seq(Seq(1, 2, 3, 4), Seq(5)))
  }

  test("exhausted retries fail the run, clear the checkpoint, and log FAILED") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-04", tablePrefix = "t6")
    val api = new ApiSimulator(totalRows = 100, pageSize = 50, failAtPage = Some(1))
    assert(r.run("run1", "2025-07-04", api, maxRetries = 2) == "FAILED")
    // exhausted retries clear the checkpoint (crime_etl.py:160-168)
    assert(r.checkpoint.read().isEmpty)
    val status = r.logsA.read()
      .filter(org.apache.spark.sql.functions.col("run_id") === "run1")
      .select("status").first().getString(0)
    assert(status == "FAILED")
    // a later healthy run still succeeds from scratch (FULL again: no data)
    val ok = new ApiSimulator(totalRows = 100, pageSize = 50)
    assert(r.run("run2", "2025-07-04", ok) == "SUCCESS")
    assert(spark.read.parquet(r.replicaA).count() == 100)
  }

  test("sync repair replays load_dates missing in one replica") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2025-07-03", tablePrefix = "t5")
    val api = new ApiSimulator(totalRows = 100, pageSize = 50)
    assert(r.run("run1", "2025-07-03", api) == "SUCCESS")
    // simulate replica B lagging: mark its log row FAILED
    r.logsB.finish("run1", java.sql.Date.valueOf("2025-07-03"), "FAILED")
    assert(SyncRepair.diff(r.logsA.read(), r.logsB.read()).count() == 1)
    assert(r.syncRepair("recovery1") == 1)
    assert(SyncRepair.diff(r.logsA.read(), r.logsB.read()).count() == 0)
    assert(spark.read.parquet(r.replicaB).count() == 100)
  }

  test("a crash at any step of replica B's upsert fails the run and never loses B's rows") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2024-12-01", tablePrefix = "t8")
    assert(r.run("run1", "2024-12-31", new ApiSimulator(totalRows = 60, pageSize = 30)) == "SUCCESS")
    def rowsB = spark.read.parquet(r.replicaB).collect().map(_.toString).sorted.toSeq
    val pre = rowsB
    val snapshot = new java.io.File(dir + ".snapshot")
    FileUtils.copyDirectory(new java.io.File(dir), snapshot)
    // the INCREMENT re-reads the 60 rows and adds 30
    val api = new ApiSimulator(totalRows = 90, pageSize = 30)
    var status = ""
    val (_, n) = FaultFs.run(spark, r.replicaB) { status = r.run("run2", "2025-01-05", api) }
    val post = rowsB
    assert(status == "SUCCESS" && post.size == 90 && n > 0)
    FaultFs.eachStep { k =>
      FileUtils.deleteDirectory(new java.io.File(dir))
      FileUtils.copyDirectory(snapshot, new java.io.File(dir))
      status = ""
      val (_, calls) = FaultFs.run(spark, r.replicaB, k) { status = r.run("run2", "2025-01-05", api) }
      assert(status == (if (calls >= k) "FAILED" else "SUCCESS"), s"step $k of a run making $calls calls")
      Commit.recover(spark, r.replicaB) // what the next entry into replica B runs first
      val got = rowsB
      assert(got == pre || got == post, s"crash at step $k of $n left ${got.size} rows")
      calls
    }
  }

  private def rowsOf(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  private def statusOf(log: graft.meta.RunLog, runId: String): String =
    log.read().filter(col("run_id") === runId).select("status").first().getString(0)

  /** Replace `dir` with a copy of `snapshot`. */
  private def restore(snapshot: java.io.File, dir: String): Unit = {
    FileUtils.deleteDirectory(new java.io.File(dir))
    FileUtils.copyDirectory(snapshot, new java.io.File(dir))
  }

  test("a crash in replica A's upsert fails only A") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2024-12-01", tablePrefix = "t13")
    assert(r.run("run1", "2024-12-31", new ApiSimulator(totalRows = 60, pageSize = 30)) == "SUCCESS")
    val snapshot = new java.io.File(dir + ".snapshot")
    FileUtils.copyDirectory(new java.io.File(dir), snapshot)
    // a clean INCREMENT counts replica A's steps and gives the post-load rows
    val api = new ApiSimulator(totalRows = 90, pageSize = 30)
    var status = ""
    val (_, n) = FaultFs.run(spark, r.replicaA) { status = r.run("run2", "2025-01-05", api) }
    val post = rowsOf(r.replicaA)
    assert(status == "SUCCESS" && post.size == 90 && n > 1)
    restore(snapshot, dir)
    val k = n / 2
    status = ""
    val (_, calls) = FaultFs.run(spark, r.replicaA, k) { status = r.run("run2", "2025-01-05", api) }
    assert(calls >= k && status == "FAILED", s"a crash at step $k of $n: $calls calls, status $status")
    assert(rowsOf(r.replicaB) == post, "replica B must load although A crashed")
    assert(statusOf(r.logsA, "run2") == "FAILED" && statusOf(r.logsB, "run2") == "SUCCESS")
    assert(r.syncRepair("recovery1") == 1)
    assert(rowsOf(r.replicaA) == post && rowsOf(r.replicaB) == post)
    assert(SyncRepair.diff(r.logsA.read(), r.logsB.read()).count() == 0)
  }

  test("a load that failed in B alone is replayed by sync repair after a later INCREMENT") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2026-01-01", tablePrefix = "t14")
    // row i is updated on 2026-01-01 + (i % 28) days
    val opts = Map("totalRows" -> "112", "pageSize" -> "28", "baseDate" -> "2026-01-01", "nDays" -> "28")
    assert(r.runWithConnector("run1", "2026-01-10", opts) == "SUCCESS")
    val snapshot = new java.io.File(dir + ".snapshot")
    FileUtils.copyDirectory(new java.io.File(dir), snapshot)
    // load 2 fetches days 10-20; crash B's upsert in the middle of it
    var status = ""
    val (_, n) = FaultFs.run(spark, r.replicaB) { status = r.runWithConnector("run2", "2026-01-20", opts) }
    assert(status == "SUCCESS" && n > 1)
    restore(snapshot, dir)
    val k = n / 2
    val (_, calls) = FaultFs.run(spark, r.replicaB, k) { status = r.runWithConnector("run2", "2026-01-20", opts) }
    assert(calls >= k && status == "FAILED", s"a crash at step $k of $n: $calls calls, status $status")
    assert(statusOf(r.logsA, "run2") == "SUCCESS" && statusOf(r.logsB, "run2") == "FAILED")
    // load 3 starts from A's high-water day, 2026-01-20: it does not
    // re-fetch load 2's rows updated on days 10-19
    assert(r.runWithConnector("run3", "2026-01-28", opts) == "SUCCESS")
    assert(rowsOf(r.replicaA).size == 112)
    assert(r.syncRepair("recovery1") == 1)
    assert(rowsOf(r.replicaB) == rowsOf(r.replicaA))
  }

  test("a connector INCREMENT runs a pinned number of Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, dir, epochStart = "2026-01-01", tablePrefix = "t15")
    val opts = Map("totalRows" -> "112", "pageSize" -> "28", "baseDate" -> "2026-01-01", "nDays" -> "28")
    assert(r.runWithConnector("run1", "2026-01-10", opts) == "SUCCESS")
    // the replica threads inherit the job group, so every job counts here
    val (status, jobs) = countingJobs(r.runWithConnector("run2", "2026-01-20", opts))
    assert(status == "SUCCESS")
    assert(jobs == RunnerSpec.IncrementJobs)
  }

  test("a file: URI workDir keeps the checkpoint under workDir, and the resume completes") {
    val local = java.nio.file.Files.createTempDirectory("runner").toString
    val r = new Runner(spark, s"file:$local", epochStart = "2025-07-07", tablePrefix = "t16")
    val ckpt = new java.io.File(local, "checkpoint.json")
    var failures = 0
    var resumed: Option[(Int, Boolean)] = None // (resume page, checkpoint file present)
    val api = new ApiSimulator(totalRows = 300, pageSize = 100) {
      override def fetchPages(s: String, e: String, resume: Int): Iterator[(Int, Seq[Row])] = {
        if (failures > 0) resumed = Some((resume, ckpt.exists()))
        super.fetchPages(s, e, resume).map { case (pg, rows) =>
          if (pg == 1 && failures == 0) { failures += 1; throw ApiPageFetchError(pg, s) }
          (pg, rows)
        }
      }
    }
    assert(r.run("run1", "2025-07-07", api) == "SUCCESS")
    assert(resumed.contains((1, true)), s"resume (page, checkpoint under workDir): $resumed")
    assert(!ckpt.exists() && r.checkpoint.read().isEmpty)
    val ids = landedIds(r, "2025-07-07")
    assert(ids.size == 300 && ids.distinct.size == 300)
  }

  test("ConfigMain drives a full run from a properties file") {
    val dir = java.nio.file.Files.createTempDirectory("runner-cfg").toString
    val props = new java.util.Properties()
    props.setProperty("workDir", dir)
    props.setProperty("runId", "cfg-run-1")
    props.setProperty("loadDate", "2026-02-05")
    props.setProperty("epochStart", "2026-01-01")
    props.setProperty("tablePrefix", "t6")
    props.setProperty("api.totalRows", "300")
    props.setProperty("api.pageSize", "100")
    props.setProperty("api.baseDate", "2026-01-01")
    props.setProperty("api.nDays", "28")
    assert(ConfigMain.run(spark, props) == "SUCCESS")
    val crime = spark.read.parquet(s"$dir/warehouse_a/crime")
    assert(crime.count() == 300)
    // missing required keys fail fast with the key name
    val bad = new java.util.Properties()
    bad.setProperty("runId", "x")
    val e = intercept[RuntimeException](ConfigMain.run(spark, bad))
    assert(e.getMessage.contains("workDir"))
  }
}

object RunnerSpec {

  /** Jobs of one connector INCREMENT in the test session: the high-water
    * read, log starts and finishes, the landing write, the shared
    * not-null check, and each replica's upsert and uniqueness check.
    * Reading the replicas with their declared schema saves three
    * schema-inference jobs (38 with inferred reads). Each replica's
    * upsert reads and writes the table alone, with no keymap sidecar,
    * and runs three jobs fewer for it (35 with the sidecar). */
  val IncrementJobs = 29
}
