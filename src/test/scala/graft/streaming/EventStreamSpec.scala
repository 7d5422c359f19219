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

  test("tumbling window stream matches batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val stream = EventStream.readEvents(spark, dir, schema)
    // complete mode: with AvailableNow + unordered files, append mode
    // finalizes windows against a lagging watermark and emits partials
    val q = EventStream.runToMemory(EventStream.tumblingCounts(stream), "tumbling", "complete")
    q.awaitTermination(60000)
    val streamed = spark.table("tumbling")
      .select("window_start", "event_type", "n", "total")
    val batch = spark.read.schema(schema).parquet(dir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("window_start"), $"event_type", $"n", $"total")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    assert(streamed.count() > 0)
  }

  test("windowed MG heavy-hitter sketch runs as a real stream and honors the contract") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val cap = 4
    // complete mode: the TypedImperativeAggregate's serialized buffer is
    // the state-store row, re-merged as micro-batches arrive
    val q = EventStream.runToMemory(
      EventStream.windowHeavyHitterSketch(EventStream.readEvents(spark, dir, schema), cap),
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
    val q = EventStream.runToMemory(
      EventStream.windowQuantileSketch(EventStream.readEvents(spark, dir, schema), phis, acc),
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
    val q = EventStream.runToMemory(
      EventStream.windowDistinctSketch(EventStream.readEvents(spark, dir, schema), k = 4, seed = 5),
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
      EventStream.readEvents(spark, dir, schema), k = 4, seed = 5)
    val qr = EventStream.runToMemory(rStream, "wdr", "complete")
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
    val (si, sc) = split(EventStream.readEvents(spark, dir, schema))
    // delay > data span so unordered file arrival can't finalize state early
    val q = EventStream.runToMemory(
      EventStream.intervalJoin(si, sc, withinMinutes = 60, delay = "4 hours"),
      "ijoin", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("ijoin")
    val (bi, bc) = split(spark.read.schema(schema).parquet(dir))
    val batch = EventStream.intervalJoin(bi, bc, withinMinutes = 60)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("session window stream produces per-user sessions") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val q = EventStream.runToMemory(
      // delay > the 3h20m data span: with maxFilesPerTrigger=1 and
      // unordered files an out-of-order file would otherwise advance the
      // watermark past earlier files' events and split their sessions
      EventStream.sessionCounts(EventStream.readEvents(spark, dir, schema), "4 hours"),
      "sessions", "complete")
    q.awaitTermination(60000)
    val out = spark.table("sessions")
    // events are 1/minute round-robin over 7 users → per-user gaps are
    // 7 min < 30 min, so each user gets exactly one session
    assert(out.count() == 7)
    assert(out.agg(sum("n_events")).first().getLong(0) == 200L)
  }

  test("stateful sessionization emits each session exactly once as the watermark passes it") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    val rows = Seq(
      // user 1: session A (3 events), then a 110-minute gap opens session B
      (1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 10:05:00", 2.0), (3L, "2024-01-01 10:10:00", 3.0),
      (4L, "2024-01-01 12:00:00", 4.0), (5L, "2024-01-01 12:05:00", 5.0),
      // user 2: one session ending at 10:40 — finalized by TIMEOUT once
      // the watermark (max ts = 12:05, delay 0) passes 10:40 + 30min
      (6L, "2024-01-01 10:30:00", 6.0), (7L, "2024-01-01 10:40:00", 7.0)
    ).map { case (id, ts, v) =>
      (id, Timestamp.valueOf(ts), if (id <= 5) 1L else 2L, "t", v)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir)

    val sessions = EventStream.sessionizeStateful(
      EventStream.readEvents(spark, dir, schema), gapMinutes = 30, delay = "0 seconds")
    val q = EventStream.runToMemory(sessions.toDF(), "stateful_sessions", "append")
    q.awaitTermination(60000)
    val out = spark.table("stateful_sessions")
      .select("user_id", "n_events", "total").as[(Long, Long, Double)].collect().toSet
    // the final watermark (12:05) passed session A (ends 10:10) and
    // user 2's session (ends 10:40) — both emitted exactly once; user
    // 1's OPEN session B (12:00-12:05) is still pending — not emitted
    assert(out == Set((1L, 3L, 6.0), (2L, 2L, 13.0)))
  }

  test("stateful sessionization extends the session start for late in-gap events") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // one parquet file per micro-batch, ordered by modification time
    def land(name: String, modTime: Long, rows: Seq[(Long, String, Long, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("batch").toString
      rows.map { case (id, ts, uid, v) => (id, Timestamp.valueOf(ts), uid, "t", v) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTime)
    }
    val t0 = System.currentTimeMillis() - 60000
    land("a.parquet", t0, Seq((1L, "2024-01-01 10:00:00", 1L, 1.0), (2L, "2024-01-01 10:10:00", 1L, 2.0)))
    // batch 2: a LATE event inside the gap window — must extend the start
    land("b.parquet", t0 + 1000, Seq((3L, "2024-01-01 09:50:00", 1L, 3.0)))
    // batch 3: another user far in the future advances the watermark so
    // user 1's open session times out and emits
    land("c.parquet", t0 + 2000, Seq((4L, "2024-01-01 20:00:00", 2L, 4.0)))

    val sessions = EventStream.sessionizeStateful(
      EventStream.readEvents(spark, dir, schema), gapMinutes = 30, delay = "4 hours")
    val q = EventStream.runToMemory(sessions.toDF(), "late_sessions", "append")
    q.awaitTermination(60000)
    val out = spark.table("late_sessions")
      .select("user_id", "session_start", "n_events", "total")
      .as[(Long, Timestamp, Long, Double)].collect().filter(_._1 == 1L)
    assert(out.length == 1)
    val (_, start, n, total) = out.head
    // the late 09:50 event extended the session start backwards
    assert(start == Timestamp.valueOf("2024-01-01 09:50:00"))
    assert(n == 3 && total == 6.0)
  }

  test("dedupStream drops re-delivered event_ids across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    def land(name: String, modTime: Long, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("batch").toString
      rows.map { case (id, ts) => (id, Timestamp.valueOf(ts), id % 3, "t", 1.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(modTime)
    }
    val t0 = System.currentTimeMillis() - 60000
    land("a.parquet", t0, Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:01:00")))
    // batch 2 re-delivers event 1 and adds event 3
    land("b.parquet", t0 + 1000, Seq((1L, "2024-01-01 10:00:00"), (3L, "2024-01-01 10:02:00")))
    val q = EventStream.runToMemory(
      EventStream.dedupStream(EventStream.readEvents(spark, dir, schema)), "deduped", "append")
    q.awaitTermination(60000)
    val ids = spark.table("deduped").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // event 1 exactly once
  }

  test("stream-static dim enrichment matches the batch join, shuffle-free") {
    import graft.operators.DateDim
    val dir = java.nio.file.Files.createTempDirectory("events").toString + "/in"
    writeEvents(dir)
    val dim = DateDim.build(spark, "2024-01-01", "2024-01-07")
    val enriched = EventStream.enrichWithDim(
      EventStream.readEvents(spark, dir, schema), dim,
      to_date($"ts"), $"date")
      .select($"event_id", $"day_of_week_name")
    val q = EventStream.runToMemory(enriched, "enriched", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("enriched")
    val batch = spark.read.schema(schema).parquet(dir)
      .join(dim, to_date($"ts") === $"date", "left")
      .select($"event_id", $"day_of_week_name")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    assert(streamed.count() === 200)
    // every event on 2024-01-01 (a Monday) carries the dim row
    assert(streamed.filter($"day_of_week_name" === "Monday").count() === 200)
  }
}
