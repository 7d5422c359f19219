package graft.core

import graft.{CrashPoints, SparkSpec}
import graft.operators.{IncrementalAgg, Similarity, Upsert}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files

/** Fault injection over the stored-state rewrites that commit through
  * [[Commit]]. Each entry point is crashed at every mutating filesystem
  * step an uninterrupted call makes ([[graft.FaultFs]]), re-run with
  * faults off, and must then hold exactly what the uninterrupted call
  * left: rows, keymap and applied-batch id. Where it says so, a reset
  * (deleting the state and every `state.*` sibling) after each crash
  * must start fresh instead. `foldState`'s case is IncrementalAggSpec's
  * swap-window test; `ivfFoldInto`'s is SimilaritySpec's. */
class CommitSpec extends SparkSpec with CrashPoints {
  import spark.implicits._

  test("upsertIntoParquet: every crash point converges on the uninterrupted table and keymap") {
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
    )(dir => (rows(s"$dir/state"), rows(Upsert.keymapPath(s"$dir/state"))))
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
      FileUtils.readFileToString(new File(s"$dir/state.ivf-params"), "UTF-8")))
  }
}
