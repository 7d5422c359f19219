package graft.streaming

import graft.SparkSpec
import graft.operators.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** The two sinks that complete the streaming-sink row of the sketch
  * matrix — [[EventStream.frequencyRollupSink]] (CMS) and
  * [[EventStream.heavyHitterRollupSink]] (MG) — on real file-source
  * streams across restarts and an injected replay. CMS counters are
  * plain sums, so its contract is the strongest form: streamed state
  * ≡ the clean batch fold ≡ the whole-stream build, bit-for-bit. MG
  * counter values are merge-order dependent by design, so its
  * contract is the t24 guarantee (presence + undershoot bound)
  * against exact counts — never raw equality of estimates. Also pins
  * the `params` identity width guard ([[Sketch.cmsFoldInto]]), the one
  * mismatch `cmsEstimate` documents as undetectable from the counter
  * table alone. */
class SketchRollupSinksSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)
  ))

  private def land(dir: String, name: String, modTime: Long, rows: Seq[String]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("sbatch").toString
    toBatch(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(modTime)
  }

  private def toBatch(tokens: Seq[String]): DataFrame =
    tokens.zipWithIndex.map { case (t, i) =>
      (i.toLong, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, t, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def cmsRows(path: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(path).as[(Long, Long, Long)].collect().sorted.toSeq

  test("CMS sink: restarts + replay + empty restart ≡ clean batch fold ≡ whole-stream build") {
    val base = java.nio.file.Files.createTempDirectory("csink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val rnd = new scala.util.Random(17)
    val batches = (0 until 3).map { _ => (0 until 80).map(_ => s"tok${rnd.nextInt(25)}") }
    def sink() = EventStream.frequencyRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "event_type", depth = 3, width = 16)
    val t0 = System.currentTimeMillis() - 60000

    land(in, "b0.parquet", t0, batches(0))
    sink().awaitTermination(60000)
    // restart 1 with a new file, then the injected replay
    land(in, "b1.parquet", t0 + 1000, batches(1))
    sink().awaitTermination(60000)
    val beforeReplay = cmsRows(state)
    Sketch.cmsFoldInto(spark, state, toBatch(batches(1)),
      "event_type", depth = 3, width = 16, batchId = Some(1L))
    assert(cmsRows(state) == beforeReplay, "replayed batch must not re-fold")
    // restart 2, then an empty restart
    land(in, "b2.parquet", t0 + 2000, batches(2))
    sink().awaitTermination(60000)
    val beforeEmpty = cmsRows(state)
    sink().awaitTermination(60000)
    assert(cmsRows(state) == beforeEmpty)

    val clean = s"$base/clean"
    batches.zipWithIndex.foreach { case (rows, i) =>
      Sketch.cmsFoldInto(spark, clean, toBatch(rows),
        "event_type", depth = 3, width = 16, batchId = Some(i.toLong))
    }
    assert(cmsRows(state) == cmsRows(clean), "streamed ≡ clean batch fold")
    val whole = Sketch.cmsSketch(toBatch(batches.flatten), "event_type", 3, 16)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(cmsRows(state) == whole, "fold ≡ whole-stream build, bit-for-bit")
    // counter mass conservation: Σn = depth × events
    assert(cmsRows(state).map(_._3).sum == 3L * batches.flatten.size)
  }

  test("cmsFoldInto: a changed width (or depth, or token column) fails loudly at fold time") {
    // the mismatch cmsEstimate documents as undetectable from the
    // table alone: two widths merge shape-compatibly into counters
    // that UNDERESTIMATE on probe — the params identity catches it
    val base = java.nio.file.Files.createTempDirectory("cfold").toString
    val state = s"$base/state"
    Sketch.cmsFoldInto(spark, state, toBatch(Seq.fill(20)("a")),
      "event_type", depth = 3, width = 16, batchId = Some(0L))
    for ((d, w, tc) <- Seq((3, 32, "event_type"), (4, 16, "event_type"), (3, 16, "user_id"))) {
      val e = intercept[IllegalArgumentException] {
        Sketch.cmsFoldInto(spark, state, toBatch(Seq("b")), tc, d, w, batchId = Some(1L))
      }
      assert(e.getMessage.contains("cmsFoldInto"), s"($d,$w,$tc): ${e.getMessage}")
    }
    Sketch.cmsFoldInto(spark, state, toBatch(Seq("b")),
      "event_type", depth = 3, width = 16, batchId = Some(1L)) // matching params still fold
  }

  test("fresh state against a checkpoint that already committed batches is refused") {
    // the symmetric pairing hazard: deleting the STATE (and identity)
    // but keeping the checkpoint would adopt silently and permanently
    // miss every committed micro-batch — committed offsets are never
    // re-read. Detectable at start: commits exist, no identity claims
    // the state.
    val base = java.nio.file.Files.createTempDirectory("fsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000, Seq.fill(12)("a"))
    def sink() = EventStream.frequencyRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "event_type", depth = 3, width = 16)
    sink().awaitTermination(60000)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // reset the state side only: state dir + every sibling, ckpt kept
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    fs.listStatus(new org.apache.hadoop.fs.Path(base)).foreach { st =>
      if (st.getPath.getName.startsWith("state.")) fs.delete(st.getPath, true)
    }
    val e = intercept[IllegalArgumentException] { sink() }
    assert(e.getMessage.contains("committed") && e.getMessage.contains("frequencyRollupSink"))
    // deleting the checkpoint too really starts the pair over
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    sink().awaitTermination(60000)
    assert(cmsRows(state).map(_._3).sum == 3L * 12)
  }

  test("MG sink: restarts + replay keep the whole-stream guarantee; state stays bounded") {
    val base = java.nio.file.Files.createTempDirectory("msink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    // skewed stream: "hot" dominates every batch, tail tokens churn
    val batches = (0 until 3).map { b =>
      Seq.fill(60)("hot") ++ Seq.fill(25)(s"warm") ++ (0 until 15).map(i => s"cold${b}_$i")
    }
    val cap = 4
    def sink() = EventStream.heavyHitterRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt, "event_type", cap)
    val t0 = System.currentTimeMillis() - 60000

    land(in, "b0.parquet", t0, batches(0))
    land(in, "b1.parquet", t0 + 1000, batches(1))
    sink().awaitTermination(60000)
    // restart + injected replay: bit-equality holds HERE because the
    // replay is short-circuited before any merge runs
    land(in, "b2.parquet", t0 + 2000, batches(2))
    sink().awaitTermination(60000)
    val beforeReplay = spark.read.parquet(state).as[(String, Long)].collect().sorted.toSeq
    Sketch.mgFoldInto(spark, state, toBatch(batches(1)), "event_type", cap, batchId = Some(1L))
    assert(spark.read.parquet(state).as[(String, Long)].collect().sorted.toSeq == beforeReplay)

    // the whole-stream MG guarantee, t24 contract form: estimates
    // undershoot by ≤ n/(cap+1), never overshoot, and every token
    // above the bound is present (merge-order independent — the only
    // reading the state supports)
    val all = batches.flatten
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = all.size.toLong / (cap + 1)
    val held = spark.read.parquet(state).as[(String, Long)].collect().toMap
    assert(held.size <= cap, "state must stay ≤ capacity rows")
    held.foreach { case (t, est) =>
      val c = exact(t)
      assert(est <= c && est >= c - bound, s"$t: est $est outside [${c - bound}, $c]")
    }
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(held.contains(t), s"heavy token $t (n=${exact(t)} > $bound) missing")
    }
  }

  test("mgFoldInto: a changed capacity fails loudly; fresh checkpoint fails under the sink's name") {
    val base = java.nio.file.Files.createTempDirectory("mfold").toString
    val state = s"$base/state"
    Sketch.mgFoldInto(spark, state, toBatch(Seq.fill(10)("a")), "event_type", 4, Some(0L))
    val e = intercept[IllegalArgumentException] {
      Sketch.mgFoldInto(spark, state, toBatch(Seq("b")), "event_type", 8, Some(1L))
    }
    assert(e.getMessage.contains("mgFoldInto"))

    val in = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    land(in, "b0.parquet", System.currentTimeMillis() - 60000, Seq.fill(10)("a"))
    val st2 = s"$base/state2"
    EventStream.heavyHitterRollupSink(
      StreamKit.readEvents(spark, in, schema), st2, s"$base/ckpt", "event_type", 4)
      .awaitTermination(60000)
    val e2 = intercept[IllegalArgumentException] {
      EventStream.heavyHitterRollupSink(
        StreamKit.readEvents(spark, in, schema), st2, s"$base/ckpt2", "event_type", 4)
    }
    assert(e2.getMessage.contains("heavyHitterRollupSink") && e2.getMessage.contains("checkpoint"))
  }
}
