package graft.streaming

import graft.SparkSpec
import graft.operators.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** The maintained stored-distinct stream ([[EventStream
  * .distinctRollupSink]]) delivers its exactly-once contract on a REAL
  * file-source stream: across multiple stop/restart cycles, an
  * injected post-crash replay, and an empty restart, the stored
  * k-minima table is bit-identical to the clean batch-mode
  * [[Sketch.kmvFoldInto]] of the same micro-batches — the
  * QuantileRollupSinkSpec shape, distinct edition, with one stronger
  * twist: KMV state is deterministic in the member set, so the final
  * state must ALSO equal the whole-corpus [[Sketch.kmvMinima]] build
  * (fold ≡ whole, the d10 gate property, now via the streaming path).
  * Also pins the shared [[EventStream]] identity guard on this sink's
  * name. */
class DistinctRollupSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)
  ))

  private def land(dir: String, name: String, modTime: Long, rows: Seq[(String, Long)]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("dbatch").toString
    toBatch(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(modTime)
  }

  private def toBatch(rows: Seq[(String, Long)]): DataFrame =
    rows.zipWithIndex.map { case ((et, u), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-01 10:00:00"), u, et, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def stateRows(path: String): Seq[(String, Long)] =
    spark.read.parquet(path).as[(String, Long)].collect().sorted.toSeq

  test("state across 2 restarts + a replayed batch + an empty restart equals the clean batch fold AND the whole build") {
    val base = java.nio.file.Files.createTempDirectory("dsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val rnd = new scala.util.Random(13)
    val batches = (0 until 4).map { _ =>
      (0 until 50).map(_ => (s"t${rnd.nextInt(2)}", rnd.nextInt(40).toLong))
    }
    def sink() = EventStream.distinctRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "user_id", "event_type", seed = 7, k = 8)
    val t0 = System.currentTimeMillis() - 60000

    // run 1: two micro-batches (ids 0, 1)
    land(in, "b0.parquet", t0, batches(0))
    land(in, "b1.parquet", t0 + 1000, batches(1))
    sink().awaitTermination(60000)
    val afterRun1 = stateRows(state)

    // restart 1: one new file (id 2)
    land(in, "b2.parquet", t0 + 2000, batches(2))
    sink().awaitTermination(60000)

    // injected post-crash replay of an already-applied batch id
    val beforeReplay = stateRows(state)
    Sketch.kmvFoldInto(spark, state, toBatch(batches(1)),
      "user_id", "event_type", seed = 7, k = 8, batchId = Some(1L))
    assert(stateRows(state) == beforeReplay, "replayed batch must not re-fold")

    // restart 2 (id 3), then an empty restart
    land(in, "b3.parquet", t0 + 3000, batches(3))
    sink().awaitTermination(60000)
    val beforeEmpty = stateRows(state)
    sink().awaitTermination(60000)
    assert(stateRows(state) == beforeEmpty, "empty restart must not change state")

    // clean batch-mode fold of the same micro-batches, same order
    val clean = s"$base/clean"
    batches.zipWithIndex.foreach { case (rows, i) =>
      Sketch.kmvFoldInto(spark, clean, toBatch(rows),
        "user_id", "event_type", seed = 7, k = 8, batchId = Some(i.toLong))
    }
    assert(stateRows(state) == stateRows(clean),
      "streamed state must equal the clean batch fold of the same micro-batches")
    assert(afterRun1 != stateRows(state), "sanity: later batches actually changed the state")

    // fold ≡ whole: the deterministic-merge property, streaming path
    val whole = Sketch.kmvMinima(
      toBatch(batches.flatten), "user_id", "event_type", seed = 7, k = 8)
      .as[(String, Long)].collect().sorted.toSeq
    assert(stateRows(state) == whole,
      "streamed state must equal the whole-corpus kmvMinima build")

    // bounded state: ≤ k rows per group forever
    assert(spark.read.parquet(state).groupBy("event_type").count()
      .agg(max("count")).first().getLong(0) <= 8L)
  }

  test("a fresh checkpoint against an existing state fails loudly under this sink's name") {
    val base = java.nio.file.Files.createTempDirectory("dsink").toString
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000,
      (0 until 30).map(i => ("t0", i.toLong)))
    EventStream.distinctRollupSink(
      StreamKit.readEvents(spark, in, schema), s"$base/state", s"$base/ckpt",
      "user_id", "event_type", seed = 7, k = 8).awaitTermination(60000)
    val e = intercept[IllegalArgumentException] {
      EventStream.distinctRollupSink(
        StreamKit.readEvents(spark, in, schema), s"$base/state", s"$base/ckpt2",
        "user_id", "event_type", seed = 7, k = 8)
    }
    assert(e.getMessage.contains("distinctRollupSink") && e.getMessage.contains("checkpoint"))
  }
}
