package graft.pipeline

import graft.{FaultFs, SparkSpec}
import graft.core.Commit
import graft.operators.SyncRepair
import graft.sources.{ApiSimulator, Catalog}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

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
    (1 to n).foreach { k =>
      FileUtils.deleteDirectory(new java.io.File(dir))
      FileUtils.copyDirectory(snapshot, new java.io.File(dir))
      status = ""
      FaultFs.run(spark, r.replicaB, k) { status = r.run("run2", "2025-01-05", api) }
      assert(status == "FAILED", s"crash at step $k of $n")
      Commit.recover(spark, r.replicaB) // what the next entry into replica B runs first
      val got = rowsB
      assert(got == pre || got == post, s"crash at step $k of $n left ${got.size} rows")
    }
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
