package graft.streaming

import graft.SparkSpec
import graft.operators.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** The maintained stored-quantile stream ([[EventStream
  * .quantileRollupSink]]) delivers its exactly-once contract on a REAL
  * file-source stream: across multiple stop/restart cycles, an injected
  * post-crash replay, and an empty restart, the stored state table is
  * bit-identical to the clean batch-mode [[Sketch.qsFoldInto]] of the
  * same micro-batches — the st05/st06 precedent, quantile edition. Also
  * pins the two loud-failure guards the sink's scaladoc promises: a
  * fresh checkpoint pointed at an existing state (the silent-skip
  * hazard) and a parameter change between folds both fail at start
  * instead of corrupting state.
  */
class QuantileRollupSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)
  ))

  // one parquet file per micro-batch, ordered by modification time
  // (StreamKit.readEvents sets maxFilesPerTrigger=1)
  private def land(dir: String, name: String, modTime: Long, rows: Seq[(String, Double)]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("qbatch").toString
    toBatch(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(modTime)
  }

  private def toBatch(rows: Seq[(String, Double)]): DataFrame =
    rows.zipWithIndex.map { case ((et, v), i) =>
      (i.toLong, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, et, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def stateRows(path: String): Seq[(String, Long, Long, Long)] =
    spark.read.parquet(path)
      .select(col("event_type"), col("value").cast("long"), col("w"), col("carry"))
      .as[(String, Long, Long, Long)].collect().sorted.toSeq

  test("state across 2 restarts + a replayed batch + an empty restart equals the clean batch fold") {
    val base = java.nio.file.Files.createTempDirectory("qsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val rnd = new scala.util.Random(7)
    val batches = (0 until 4).map { b =>
      (0 until 60).map(_ => (s"t${rnd.nextInt(2)}", (rnd.nextInt(50) * 3).toDouble))
    }
    def sink() = EventStream.quantileRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "value", "event_type", k = 8, seed = 7, salts = 2)
    val t0 = System.currentTimeMillis() - 60000

    // run 1: two micro-batches (ids 0, 1), then the query drains and stops
    land(in, "b0.parquet", t0, batches(0))
    land(in, "b1.parquet", t0 + 1000, batches(1))
    sink().awaitTermination(60000)
    val afterRun1 = stateRows(state)

    // restart 1: one new file → exactly one new micro-batch (id 2)
    land(in, "b2.parquet", t0 + 2000, batches(2))
    sink().awaitTermination(60000)

    // injected post-crash replay: re-fold an ALREADY-APPLIED batch id
    // directly (what a crashed foreachBatch re-runs) — the applied-batch
    // watermark must make it a no-op
    val beforeReplay = stateRows(state)
    Sketch.qsFoldInto(spark, state, toBatch(batches(1)),
      "value", "event_type", k = 8, seed = 7, salts = 2, batchId = Some(1L))
    assert(stateRows(state) == beforeReplay, "replayed batch must not re-fold")

    // restart 2: one more file (id 3)
    land(in, "b3.parquet", t0 + 3000, batches(3))
    sink().awaitTermination(60000)

    // empty restart: no new files → no state change
    val beforeEmpty = stateRows(state)
    sink().awaitTermination(60000)
    assert(stateRows(state) == beforeEmpty, "empty restart must not change state")

    // the clean batch-mode fold of the same micro-batches, same order
    val clean = s"$base/clean"
    batches.zipWithIndex.foreach { case (rows, i) =>
      Sketch.qsFoldInto(spark, clean, toBatch(rows),
        "value", "event_type", k = 8, seed = 7, salts = 2, batchId = Some(i.toLong))
    }
    assert(stateRows(state) == stateRows(clean),
      "streamed state must equal the clean batch fold of the same micro-batches")
    assert(afterRun1 != stateRows(state), "sanity: later batches actually changed the state")

    // contract shape: bounded state, weight conservation
    val n = batches.flatten.size.toLong
    val st = spark.read.parquet(state)
    assert(st.agg(sum("w")).first().getLong(0) == n, "Σw must equal the event count")
    assert(st.groupBy("event_type").count().agg(max("count")).first().getLong(0) <= 9L,
      "state must stay ≤ k+1 rows per group")
  }

  test("a fresh checkpoint against an existing state fails loudly, not silently skips") {
    val base = java.nio.file.Files.createTempDirectory("qsink").toString
    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000,
      (0 until 30).map(i => ("t0", i.toDouble)))
    EventStream.quantileRollupSink(
      StreamKit.readEvents(spark, in, schema), s"$base/state", s"$base/ckpt",
      "value", "event_type", k = 8, seed = 7, salts = 2).awaitTermination(60000)
    // new checkpointDir, same statePath: batchIds would restart at 0 and
    // every micro-batch would be skipped as a replay — the identity
    // sidecar turns that silent loss into an immediate failure
    val e = intercept[IllegalArgumentException] {
      EventStream.quantileRollupSink(
        StreamKit.readEvents(spark, in, schema), s"$base/state", s"$base/ckpt2",
        "value", "event_type", k = 8, seed = 7, salts = 2)
    }
    assert(e.getMessage.contains("quantileRollupSink") && e.getMessage.contains("checkpoint"))
  }

  test("a checkpoint deleted and recreated at the SAME path fails loudly") {
    // same path, fresh checkpoint: batchIds restart at 0 and the stored
    // watermark would silently skip every micro-batch — the path string
    // alone cannot see this, the minted query id (checkpointDir/metadata)
    // can: recreation mints a NEW id and the identity check fails
    val base = java.nio.file.Files.createTempDirectory("qsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000,
      (0 until 30).map(i => ("t0", i.toDouble)))
    def sink() = EventStream.quantileRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "value", "event_type", k = 8, seed = 7, salts = 2)
    sink().awaitTermination(60000)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val e = intercept[IllegalArgumentException] { sink() }
    assert(e.getMessage.contains("quantileRollupSink") && e.getMessage.contains("id="))
  }

  test("an old-format sidecar refuses loudly, mints no checkpoint metadata, and refuses again on retry") {
    // a state whose stream identity is still in the per-entry sidecar
    // file of an older release: its pairing cannot be checked, so the
    // sink refuses before it mints anything, and the refusal names the
    // reset that starts the pair over
    val base = java.nio.file.Files.createTempDirectory("qsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000,
      (0 until 30).map(i => ("t0", i.toDouble)))
    def sink() = EventStream.quantileRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "value", "event_type", k = 8, seed = 7, salts = 2)
    sink().awaitTermination(60000)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val uri = fs.makeQualified(new org.apache.hadoop.fs.Path(ckpt)).toUri.toString
    fs.delete(new org.apache.hadoop.fs.Path(state + ".identity"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(state + ".stream-identity"), true)
    try out.write(s"checkpoint=$uri".getBytes("UTF-8")) finally out.close()
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val e = intercept[IllegalArgumentException] { sink() }
    assert(e.getMessage.contains(".stream-identity") && e.getMessage.contains(s"every $state.* sibling"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$ckpt/metadata")),
      "refusal must not mint a metadata file")
    val e2 = intercept[IllegalArgumentException] { sink() }
    assert(e2.getMessage.contains(".stream-identity"))
    // the reset it names starts the pair over
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    fs.listStatus(new org.apache.hadoop.fs.Path(base)).foreach { st =>
      if (st.getPath.getName.startsWith("state.")) fs.delete(st.getPath, true)
    }
    sink().awaitTermination(60000)
    assert(stateRows(state).nonEmpty)
  }

  test("changing sketch parameters between folds fails loudly") {
    val base = java.nio.file.Files.createTempDirectory("qsink").toString
    val state = s"$base/state"
    Sketch.qsFoldInto(spark, state, toBatch((0 until 30).map(i => ("t0", i.toDouble))),
      "value", "event_type", k = 8, seed = 7, salts = 2, batchId = Some(0L))
    // a different k (or seed, or salts, or group) would merge summaries
    // whose rank-error bound no longer holds — requireSummary can't see
    // that (the row shape matches), the params identity can
    for ((k, seed, salts, grp) <- Seq((16, 7, 2, "event_type"), (8, 8, 2, "event_type"),
        (8, 7, 4, "event_type"), (8, 7, 2, "user_id"))) {
      val e = intercept[IllegalArgumentException] {
        Sketch.qsFoldInto(spark, state,
          toBatch((0 until 10).map(i => ("t0", i.toDouble))),
          "value", grp, k, seed, salts, batchId = Some(1L))
      }
      assert(e.getMessage.contains("qsFoldInto"), s"($k,$seed,$salts,$grp): ${e.getMessage}")
    }
    // matching parameters still fold fine
    Sketch.qsFoldInto(spark, state, toBatch((0 until 10).map(i => ("t0", i.toDouble))),
      "value", "event_type", k = 8, seed = 7, salts = 2, batchId = Some(1L))
  }
}
