package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Structured Streaming execution: the windowed aggregations run as real
  * streams (file source → memory sink) and match their batch twins. */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)
  ))

  private def writeEvents(dir: String): Unit = {
    val rows = (0 until 200).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
        (i % 7).toLong, s"type${i % 3}", i * 1.5)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(4).write.parquet(dir)
  }

  test("windowed MG heavy-hitter sketch runs as a real stream and honors the contract") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val cap = 4
    // complete mode: the TypedImperativeAggregate's serialized buffer is
    // the state-store row, re-merged as micro-batches arrive
    val q = StreamKit.runToMemory(
      EventStream.windowHeavyHitterSketch(StreamKit.readEvents(spark, dir, schema), cap),
      "hh", "complete")
    q.awaitTermination(60000)
    val streamed = spark.table("hh")
      .select("window_start", "n_w", "token", "est")
      .as[(Timestamp, Long, String, Long)].collect()
    assert(streamed.nonEmpty)
    // per window: <= cap counters, and the MG guarantee vs exact counts
    val exact = spark.read.schema(schema).parquet(dir)
      .groupBy(window($"ts", "1 hour").getField("start").as("ws"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .as[(Timestamp, Long, Long)].collect()
      .map { case (ws, u, n) => (ws, u.toString) -> n }.toMap
    val nw = exact.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    streamed.groupBy(_._1).foreach { case (ws, rows) =>
      assert(rows.length <= cap)
      val bound = nw(ws) / (cap + 1)
      rows.foreach { case (_, nwRow, token, est) =>
        assert(nwRow == nw(ws))
        val c = exact((ws, token))
        assert(est <= c && est >= c - bound, s"window $ws token $token: est $est outside [${c - bound}, $c]")
      }
      // presence: every user above the bound is held
      exact.filter { case ((w, _), n) => w == ws && n > bound }.foreach { case ((_, u), n) =>
        assert(rows.exists(_._3 == u), s"heavy user $u (n=$n) missing from window $ws")
      }
    }
  }

  test("windowed GK quantile sketch runs as a real stream and honors the rank contract") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val phis = Seq(500000L, 900000L)
    val acc = 50
    // complete mode: approx_percentile's serialized GK buffer is the
    // state-store row, re-merged as micro-batches arrive (the st07
    // mechanism, quantile edition)
    val q = StreamKit.runToMemory(
      EventStream.windowQuantileSketch(StreamKit.readEvents(spark, dir, schema), phis, acc),
      "wq", "complete")
    q.awaitTermination(60000)
    val streamed = spark.table("wq")
      .select("window_start", "n_w", "phi_e6", "est")
      .as[(Timestamp, Long, Long, Double)].collect()
    assert(streamed.nonEmpty)
    val exact = spark.read.schema(schema).parquet(dir)
      .select(window($"ts", "1 hour").getField("start").as("ws"), $"value")
      .as[(Timestamp, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // one row per (window, phi); n_w exact; every estimate's exact
    // rank interval intersects phi*n +- (n/acc + 1)
    assert(streamed.length == exact.size * phis.length)
    streamed.foreach { case (ws, nw, phiE6, est) =>
      val xs = exact(ws)
      assert(nw == xs.length)
      val slack = nw.toDouble / acc + 1.0
      val target = phiE6 / 1e6 * nw
      val lt = xs.count(_ < est).toLong
      val le = xs.count(_ <= est).toLong
      assert(le >= target - slack && lt + 1 <= target + slack,
        s"window $ws phi=$phiE6: est $est rank interval [${lt + 1}, $le] misses $target ± $slack")
    }
  }

  test("windowed KMV distinct sketch runs as a real stream and equals batch BIT-FOR-BIT") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    // complete mode: the serialized minima set is the state-store row,
    // re-merged as micro-batches arrive (the st07/st08 mechanism,
    // distinct edition). KMV is deterministic in the member set, so
    // streamed == batch is exact array equality, not a contract bound —
    // the property the st09 full-hash-match oracle row stands on.
    val q = StreamKit.runToMemory(
      EventStream.windowDistinctSketch(StreamKit.readEvents(spark, dir, schema), k = 4, seed = 5),
      "wd", "complete")
    q.awaitTermination(60000)
    val streamed = spark.table("wd")
      .as[(Timestamp, Seq[Long])].collect().toMap
    val batch = EventStream.windowDistinctSketch(
      spark.read.schema(schema).parquet(dir), k = 4, seed = 5)
      .as[(Timestamp, Seq[Long])].collect().toMap
    assert(streamed.nonEmpty && streamed == batch)
    // k = 4 < 7 distinct users/window: the cap actually trims here
    assert(streamed.values.forall(_.length == 4))
    // and the derived report matches too (the st09 emission path)
    val rStream = EventStream.windowDistinctReport(
      StreamKit.readEvents(spark, dir, schema), k = 4, seed = 5)
    val qr = StreamKit.runToMemory(rStream, "wdr", "complete")
    qr.awaitTermination(60000)
    val reportStreamed = spark.table("wdr").as[(Timestamp, Long, Long)].collect().sorted.toSeq
    val reportBatch = EventStream.windowDistinctReport(
      spark.read.schema(schema).parquet(dir), k = 4, seed = 5)
      .as[(Timestamp, Long, Long)].collect().sorted.toSeq
    assert(reportStreamed == reportBatch)
  }

  test("stream-stream interval join matches its batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.filter($"event_id" % 2 === 0), df.filter($"event_id" % 2 === 1))
    val (si, sc) = split(StreamKit.readEvents(spark, dir, schema))
    // delay > data span so unordered file arrival can't finalize state early
    val q = StreamKit.runToMemory(
      EventStream.intervalJoin(si, sc, withinMinutes = 60, delay = "4 hours"),
      "ijoin", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("ijoin")
    val (bi, bc) = split(spark.read.schema(schema).parquet(dir))
    val batch = EventStream.intervalJoin(bi, bc, withinMinutes = 60)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }
}
