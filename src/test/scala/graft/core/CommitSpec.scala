package graft.core

import graft.{CrashPoints, SparkSpec}
import graft.operators.{IncrementalAgg, Similarity, Sketch, Upsert}
import graft.sources.{ApiSimulator, Compact, LandingZone}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Fault injection over the stored-state rewrites that commit through
  * [[Commit]]. Each entry point is crashed at every mutating filesystem
  * step an uninterrupted call makes ([[graft.FaultFs]]), re-run with
  * faults off, and must then hold exactly what the uninterrupted call
  * left: rows and applied-batch id. Where it says so, a reset
  * (deleting the state and every `state.*` sibling) after each crash
  * must start fresh instead. `foldState`'s case is IncrementalAggSpec's
  * swap-window test; `ivfFoldInto`'s is SimilaritySpec's. Identity
  * commits are checked through [[Commit.identity]] alongside the rows. */
class CommitSpec extends SparkSpec with CrashPoints {
  import spark.implicits._

  test("upsertIntoParquet: every crash point converges on the uninterrupted table") {
    val seed = Files.createTempDirectory("upsert-seed").toString
    Upsert.upsertIntoParquet(spark, s"$seed/state",
      Seq(("k1", 1, Some(2020), "a"), ("k2", 1, Some(2020), "b"), ("k3", 1, Some(2021), "c"),
        ("k5", 1, Some(2021), "kept"), ("kn", 1, None: Option[Int], "null-part"),
        ("k6", 1, None: Option[Int], "kept null"), ("k7", 1, Some(2023), "untouched"))
        .toDF("id", "v", "yr", "payload"),
      Seq("id"), "v", "yr")
    // k1 and k2 move out of 2020 (which empties), kn out of the null
    // partition, k4 lands in it, k3 updates in place; k5 and k6 share
    // rewritten partitions but only an earlier load holds them
    val batch = Seq(("k1", 2, Some(2022), "moved"), ("k2", 2, Some(2022), "moved too"),
      ("kn", 2, Some(2021), "dated"), ("k4", 1, None: Option[Int], "new"),
      ("k3", 2, Some(2021), "c2")).toDF("id", "v", "yr", "payload")
    everyCrashPoint(seed, resetStartsFresh = true)(dir =>
      Upsert.upsertIntoParquet(spark, s"$dir/state", batch, Seq("id"), "v", "yr")
    )(dir => rows(s"$dir/state"))
  }

  private def bucketed(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("id", "v").withColumn("pbucket", pmod(col("id"), lit(4)).cast("int"))

  /** Keep-latest on id with delete retirement: idempotent on re-application. */
  private def keepLatest(deletes: Seq[Long])(state: DataFrame, delta: DataFrame): DataFrame = {
    val dels = deletes.toDF("id")
    state.join(delta.select("id").unionByName(dels), Seq("id"), "left_anti")
      .unionByName(delta.join(dels, Seq("id"), "left_anti"))
  }

  private def foldSnapshot(dir: String) =
    (rows(s"$dir/state"), IncrementalAgg.appliedBatchId(spark, s"$dir/state"))

  test("foldStatePartitioned bootstrap: every crash point converges") {
    val seed = Files.createTempDirectory("part-seed").toString
    val delta = bucketed((0L until 12L).map(i => i -> i))
    everyCrashPoint(seed)(dir =>
      IncrementalAgg.foldStatePartitioned(spark, s"$dir/state", delta, "pbucket", keepLatest(Nil), Some(0L))
    )(foldSnapshot)
  }

  test("foldStatePartitioned with a delete set: every crash point converges") {
    val seed = Files.createTempDirectory("part-seed").toString
    IncrementalAgg.foldStatePartitioned(spark, s"$seed/state",
      bucketed((0L until 12L).map(i => i -> i)), "pbucket", keepLatest(Nil), Some(0L))
    val dels = Seq(2L, 7L)
    val delta = bucketed(Seq(5L -> 500L, 13L -> 13L))
    everyCrashPoint(seed)(dir =>
      IncrementalAgg.foldStatePartitioned(spark, s"$dir/state", delta, "pbucket",
        keepLatest(dels), Some(1L), dels.map(i => (i % 4).toInt))
    )(foldSnapshot)
  }

  test("ivfReassign: every crash point converges on the rotated index and sidecar") {
    val rnd = new scala.util.Random(5)
    val all = (0 until 24).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    def cents(n: Int) = all.filter($"vec_id" < n).select($"vec_id".as("cid"), $"embedding".as("cvec"),
      graft.functions.VectorExpressions.normF($"embedding").as("cnrm"))
    val seed = Files.createTempDirectory("ivf-seed").toString
    Similarity.ivfFoldInto(spark, s"$seed/state", all, "vec_id", "embedding", cents(4), Some(0L), nBuckets = 4)
    val q6 = cents(6)
    everyCrashPoint(seed)(dir =>
      Similarity.ivfReassign(spark, s"$dir/state", q6, "vec_id", "embedding", nBuckets = 4)
    )(dir => (spark.read.parquet(s"$dir/state").select("id", "cluster", "pbucket")
      .as[(Long, Long, Int)].collect().sorted.toSeq,
      IncrementalAgg.appliedBatchId(spark, s"$dir/state"),
      Commit.identity(spark, s"$dir/state")))
  }

  test("an adopting first fold: every crash point converges on the same rows and identity") {
    val seed = Files.createTempDirectory("kmv-seed").toString
    val batch = (1 to 30).map(i => (s"c${i % 2}", s"e$i")).toDF("corp", "gram")
    everyCrashPoint(seed, resetStartsFresh = true)(dir =>
      Sketch.kmvFoldInto(spark, s"$dir/state", batch, "gram", "corp", seed = 3, k = 4, batchId = Some(0L))
    )(dir => (foldSnapshot(dir), Commit.identity(spark, s"$dir/state")))
  }

  test("Compact.landingZone: every crash point converges on the same rows and per-leaf file counts") {
    val seed = Files.createTempDirectory("compact-seed").toString
    val api = new ApiSimulator(totalRows = 12, pageSize = 4)
    Seq("2025-07-01", "2025-07-02").foreach { day =>
      api.fetchPages(day, day).foreach { case (_, page) =>
        if (page.nonEmpty) LandingZone.write(api.toDataFrame(spark, page), s"$seed/state", day)
      }
    }
    def leafFiles(dir: String): Map[String, Int] =
      FileUtils.listFiles(new File(s"$dir/state"), null, true).asScala.toSeq
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .groupBy(_.getParentFile.getPath.stripPrefix(dir)).map { case (leaf, fs) => leaf -> fs.size }
    assert(leafFiles(seed).size == 2 && leafFiles(seed).values.forall(_ >= 2))
    everyCrashPoint(seed)(dir => Compact.landingZone(spark, s"$dir/state", targetBytes = 512L * 1024))(dir =>
      (LandingZone.read(spark, s"$dir/state", Nil).collect().map(_.toString).sorted.toSeq, leafFiles(dir)))
  }
}
