package graft.operators

import graft.SparkSpec
import graft.meta.RunLog

/** The replica-sync diff over two resolved run logs: which SUCCESS
  * load_dates one replica has and the other lacks. */
class SyncRepairSpec extends SparkSpec {
  import spark.implicits._

  /** A run log holding, per (run id, load date), a RUNNING start and
    * then the given status transitions in order. */
  private def log(runs: (String, String, Seq[String])*): RunLog = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sync").toString
    val l = new RunLog(spark, s"$dir/logs")
    runs.foreach { case (runId, date, statuses) =>
      val d = java.sql.Date.valueOf(date)
      l.start(runId, d, "SCHEDULED", "INCREMENT", Nil)
      statuses.foreach(l.finish(runId, d, _))
    }
    l
  }

  private def diff(a: RunLog, b: RunLog): Set[(String, String)] =
    SyncRepair.diff(a.read(), b.read())
      .select($"load_date".cast("string"), $"missing_in").as[(String, String)].collect().toSet

  test("a date SUCCESS on both sides is absent from the diff") {
    val a = log(("r1", "2026-01-05", Seq("SUCCESS")))
    val b = log(("r1", "2026-01-05", Seq("SUCCESS")))
    assert(diff(a, b).isEmpty)
  }

  test("a date SUCCESS on one side only names the other side as missing it") {
    val a = log(("r1", "2026-01-05", Seq("SUCCESS")), ("r2", "2026-01-12", Seq("FAILED")))
    val b = log(("r1", "2026-01-05", Seq("FAILED")), ("r2", "2026-01-12", Seq("SUCCESS")),
      ("r3", "2026-01-19", Seq.empty))
    assert(diff(a, b) == Set("2026-01-05" -> "b", "2026-01-12" -> "a"))
  }

  test("a run whose latest transition is FAILED after SUCCESS counts as missing") {
    val a = log(("r1", "2026-01-05", Seq("SUCCESS")))
    val b = log(("r1", "2026-01-05", Seq("SUCCESS", "FAILED")))
    assert(diff(a, b) == Set("2026-01-05" -> "b"))
  }

  test("a date with one SUCCESS and one FAILED run on a side counts as present") {
    val a = log(("r1", "2026-01-05", Seq("SUCCESS")))
    val b = log(("r1", "2026-01-05", Seq("FAILED")), ("r2", "2026-01-05", Seq("SUCCESS")))
    assert(diff(a, b).isEmpty)
  }

  test("the diff collects in a pinned number of Spark jobs") {
    val a = log(("r1", "2026-01-05", Seq("SUCCESS")), ("r2", "2026-01-12", Seq("SUCCESS")))
    val b = log(("r1", "2026-01-05", Seq("SUCCESS")), ("r2", "2026-01-12", Seq("FAILED")))
    val (rows, jobs) = countingJobs(SyncRepair.diff(a.read(), b.read()).collect())
    assert(rows.length == 1)
    assert(jobs == SyncRepairSpec.DiffJobs)
  }
}

object SyncRepairSpec {

  /** Jobs of one `diff(...).collect()` over two small logs in the test
    * session: each log's keep-latest read, and the one aggregation over
    * both. */
  val DiffJobs = 4
}
