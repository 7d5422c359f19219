package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target: DataFrame =
    Seq(("k1", 1, "old1"), ("k2", 1, "old2"), ("k3", 5, "old3"))
      .toDF("id", "v", "payload")

  private def updates: DataFrame =
    Seq(("k2", 2, "new2"), ("k3", 1, "stale3"), ("k4", 1, "new4"))
      .toDF("id", "v", "payload")

  test("merge keeps latest version per key, inserts unmatched") {
    val out = Upsert.merge(target, updates, Seq("id"), "v")
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      ("k1", 1, "old1"),   // untouched
      ("k2", 2, "new2"),   // update wins (higher version)
      ("k3", 5, "old3"),   // stale update loses
      ("k4", 1, "new4")    // insert
    ))
  }

  test("merge is idempotent: re-applying the same batch is a no-op") {
    val once = Upsert.merge(target, updates, Seq("id"), "v")
    val twice = Upsert.merge(once, updates, Seq("id"), "v")
    assert(twice.except(once).isEmpty && once.except(twice).isEmpty)
  }

  test("merge ties go to the update side") {
    val t = Seq(("k", 1, "old")).toDF("id", "v", "payload")
    val u = Seq(("k", 1, "new")).toDF("id", "v", "payload")
    val out = Upsert.merge(t, u, Seq("id"), "v").as[(String, Int, String)].collect()
    assert(out.toSeq == Seq(("k", 1, "new")))
  }

  test("upsertIntoParquet bootstrap write dedups duplicate keys") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val dup = Seq(("k1", 1, 2020, "old"), ("k1", 2, 2020, "new"), ("k2", 1, 2021, "x"))
      .toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, dup, Seq("id"), "v", "yr")
    val out = spark.read.parquet(dir).select("id", "v", "payload")
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("k1", 2, "new"), ("k2", 1, "x")))
  }

  test("upsertIntoParquet merges rows whose partition value is null") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, Some(2020), "a"), ("kn", 1, None: Option[Int], "null-part"))
      .toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    val upd = Seq(("kn", 2, None: Option[Int], "null-part-v2"), ("k2", 1, Some(2020), "b"))
      .toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "yr")
    val out = spark.read.parquet(dir).select("id", "v", "payload")
      .as[(String, Int, String)].collect().sortBy(_._1)
    // the null-partition row was merged (keep-latest), not dropped
    assert(out.toSeq == Seq(("k1", 1, "a"), ("k2", 1, "b"), ("kn", 2, "null-part-v2")))
  }

  test("upsertIntoParquet removes the stale row when a key's partition value changes") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, 2020, "orig"), ("k2", 1, 2020, "other")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    // k1's corrected record moves to partition 2021
    val upd = Seq(("k1", 2, 2021, "corrected")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "yr")
    val out = spark.read.parquet(dir).select("id", "v", "yr", "payload")
      .as[(String, Int, Int, String)].collect().sortBy(_._1)
    // exactly one k1 row, in the NEW partition; k2 untouched
    assert(out.toSeq == Seq(("k1", 2, 2021, "corrected"), ("k2", 1, 2020, "other")))
  }

  test("upsertIntoParquet removes the null-partition copy when a key moves OUT of it") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    // kn starts in the NULL partition (e.g. a malformed timestamp
    // Transform mapped to NULL, later corrected to a real year)
    val init = Seq(("kn", 1, None: Option[Int], "malformed"), ("k2", 1, Some(2020), "other"))
      .toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    val upd = Seq(("kn", 2, Some(2021), "corrected")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "yr")
    val out = spark.read.parquet(dir).select("id", "v", "yr", "payload")
      .as[(String, Int, Option[Int], String)].collect().sortBy(_._1)
    // exactly one kn row, in the NEW partition — without the coalesce in
    // stalePartitionsFrame the !isin(...) filter is NULL for the
    // null-partition keymap row and the stale copy silently survives
    assert(out.toSeq == Seq(("k2", 1, Some(2020), "other"), ("kn", 2, Some(2021), "corrected")))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/yr=${Upsert.NullPartitionDir}")))
  }

  test("upsertIntoParquet swaps partition values that Spark escapes in dir names") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, "a b:c", "x"), ("k2", 1, "plain", "y")).toDF("id", "v", "part", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "part")
    val upd = Seq(("k1", 2, "a b:c", "x2")).toDF("id", "v", "part", "payload")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "part")
    val out = spark.read.parquet(dir).select("id", "v", "payload")
      .as[(String, Int, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("k1", 2, "x2"), ("k2", 1, "y")))
  }

  test("stale-partition detection reads the keymap sidecar, never the table") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, 2020, "a"), ("k2", 1, 2021, "b")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    val upd = Seq(("k1", 2, 2021, "moved")).toDF("id", "v", "yr", "payload")
    val frame = Upsert.stalePartitionsFrame(spark, dir, upd, Seq("id"), "yr", Seq(2021))
    // every file-scan location in the physical plan is the sidecar
    val locations = "\\[file:[^\\]]*\\]".r
      .findAllIn(frame.queryExecution.executedPlan.toString).toList
    val fileScans = locations.filterNot(_.contains("/tbl.tmp")) // updates side is in-memory
    assert(fileScans.nonEmpty)
    assert(fileScans.forall(_.contains("/tbl.keymap")),
      s"stale detection scanned a non-keymap path: $fileScans")
    // and it still finds the stale partition
    assert(frame.collect().map(_.getInt(0)).toSeq == Seq(2020))
  }

  test("keymap sidecar mirrors the table's (key, partition) map across moves") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, 2020, "a"), ("k2", 1, 2021, "b")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    val upd = Seq(("k1", 2, 2021, "moved"), ("k3", 1, 2022, "new")).toDF("id", "v", "yr", "payload")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "yr")
    val table = spark.read.parquet(dir).select("id", "yr")
      .as[(String, Int)].collect().sortBy(_._1).toSeq
    val keymap = spark.read.parquet(Upsert.keymapPath(dir)).select("id", "yr")
      .as[(String, Int)].collect().sortBy(_._1).toSeq
    assert(table == Seq(("k1", 2021), ("k2", 2021), ("k3", 2022)))
    assert(keymap == table)
  }

  test("upsertIntoParquet rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val init = Seq(("k1", 1, 2020), ("k2", 1, 2021)).toDF("id", "v", "yr")
    Upsert.upsertIntoParquet(spark, dir, init, Seq("id"), "v", "yr")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val files2020 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/yr=2020"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toMap

    val upd = Seq(("k2", 2, 2021), ("k3", 1, 2021)).toDF("id", "v", "yr")
    Upsert.upsertIntoParquet(spark, dir, upd, Seq("id"), "v", "yr")

    val out = spark.read.parquet(dir).as[(String, Int, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("k1", 1, 2020), ("k2", 2, 2021), ("k3", 1, 2021)))
    // 2020 partition untouched byte-for-byte
    val after2020 = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/yr=2020"))
      .map(s => (s.getPath.getName, s.getModificationTime)).toMap
    assert(after2020 == files2020)
  }
}
