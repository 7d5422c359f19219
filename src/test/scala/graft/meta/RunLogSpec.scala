package graft.meta

import graft.SparkSpec

/** Append-only `logs` semantics (ST6): every transition appends a row;
  * `read()` resolves keep-latest per (run_id, load_date) — no
  * full-table rewrite ever happens. */
class RunLogSpec extends SparkSpec {

  test("transitions append; read resolves latest status per run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-runlog").toString
    val log = new RunLog(spark, s"$dir/logs")
    val d1 = java.sql.Date.valueOf("2026-01-05")

    log.start("r1", d1, "SCHEDULED", "FULL", Seq("pagesize" -> "5000"))
    assert(log.read().count() == 1)

    log.finish("r1", d1, "SUCCESS")
    val rows = log.read().collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("status") == "SUCCESS")
    assert(rows(0).getAs[String]("end_time") != null)
    assert(rows(0).getAs[String]("start_time") != null) // carried from the RUNNING row

    // storage is append-only: both transitions persist as raw rows
    assert(spark.read.parquet(s"$dir/logs").count() == 2)

    // a second run coexists
    val d2 = java.sql.Date.valueOf("2026-01-12")
    log.start("r2", d2, "SCHEDULED", "INCREMENT", Seq("pagesize" -> "5000"))
    assert(log.read().count() == 2)

    // re-finishing is idempotent at the resolved level (last wins)
    log.finish("r1", d1, "FAILED")
    val r1 = log.read().filter(org.apache.spark.sql.functions.col("run_id") === "r1").collect()
    assert(r1.length == 1 && r1(0).getAs[String]("status") == "FAILED")
  }

  test("a file: URI path resolves, so finish moves the run out of RUNNING") {
    val dir = java.nio.file.Files.createTempDirectory("graft-runlog-uri")
    val log = new RunLog(spark, dir.resolve("logs").toUri.toString)
    assert(log.read().isEmpty)
    val d = java.sql.Date.valueOf("2026-01-05")
    log.start("r1", d, "SCHEDULED", "FULL", Seq("pagesize" -> "5000"))
    log.finish("r1", d, "SUCCESS")
    val rows = log.read().collect()
    assert(rows.length == 1 && rows(0).getAs[String]("status") == "SUCCESS")
  }
}
