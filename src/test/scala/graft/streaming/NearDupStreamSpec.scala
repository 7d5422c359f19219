package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.types._

/** The streaming near-dup path: per-row sketch parity with the batch
  * aggregate, and stream-vs-batch pair-set equality across real
  * micro-batch boundaries (file source, one file per trigger). */
class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("red", "green", "blue", "cyan", "magenta", "yellow", "black", "white")

  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val base = (0 until 30).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // exact copies far apart in id space, so the pair members land in
    // different micro-batch files below
    base ++ Seq((30L, base(2)._2), (31L, base(11)._2), (32L, base(2)._2))
  }

  test("per-row sketch equals the SimHashAgg batch aggregate") {
    val docs = corpus.toDF("doc_id", "text")
    val batch = Dedup.simhashTable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    corpus.foreach { case (id, text) =>
      assert(NearDupStream.sketch(text).contains(batch(id)), s"doc $id")
    }
    assert(NearDupStream.sketch("").isEmpty && NearDupStream.sketch("  ").isEmpty)
  }

  test("streaming pairs equal the batch pairs across micro-batch boundaries") {
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString + "/in"
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    // three files -> three micro-batches with maxFilesPerTrigger=1; the
    // injected copies pair across them, so band state must carry over
    corpus.grouped(11).foreach { slice =>
      slice.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamKit.runToMemory(
      NearDupStream.simhashDupPairs(stream, "doc_id", "text", 3).toDF(), "neardup_pairs", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("neardup_pairs")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.simhashPairs(corpus.toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().map { case (a, b, h) => (a, b, h.toLong) }.toSet
    assert(streamed == batch)
    // the copies guarantee non-trivial coverage, incl. a hamming-0 pair
    // whose members arrived in different micro-batches
    assert(batch.contains((2L, 30L, 0L)) && batch.contains((11L, 31L, 0L)))
    // each pair appears EXACTLY once (chunk-minimal emission): the
    // memory sink preserves duplicates, so compare with count
    assert(spark.table("neardup_pairs").count() == streamed.size)
  }

  test("TTL mode: in-horizon pairs exact, out-of-horizon state evicted, state bounded") {
    import java.sql.Timestamp
    val horizonMs = 1000L
    // file 1: A plus fillers around t=1s; file 2: fillers at t=10s that
    // advance the watermark far past A; file 3 (t=10.4-10.6s): B copies
    // A (pair now out of horizon — must NOT emit), C/C' and D/D' are
    // in-horizon copies (one in-batch, one cross-batch vs file 2's D'')
    // disjoint vocabularies per doc family: SimHash is a token-set
    // signature, so only EXACT text copies may pair here (independent
    // 60-bit sketches are ~30 bits apart)
    val aText = "a1 a2 a3 a4 a5 a6"
    val cText = "c1 c2 c3 c4 c5 c6"
    val dText = "d1 d2 d3 d4 d5 d6"
    val file1 = Seq((1L, aText, 1000L), (2L, "f1 f2 f3 f4 f5 f6", 1100L))
    val file2 = Seq((10L, dText, 10000L), (11L, "g1 g2 g3 g4 g5 g6", 10050L))
    val file3 = Seq(
      (20L, aText, 10400L), // B: copy of A, beyond horizon — no pair
      (21L, cText, 10450L), (22L, cText, 10500L), // C/C': in-batch pair
      (23L, dText, 10600L)) // D': cross-batch pair with 10 (600ms apart)
    val dir = java.nio.file.Files.createTempDirectory("neardup-ttl").toString + "/in"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    Seq(file1, file2, file3).foreach { slice =>
      slice.map { case (id, t, ms) => (id, t, new Timestamp(ms)) }
        .toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamKit.runToMemory(
      NearDupStream.simhashDupPairsWithin(stream, "doc_id", "text", "ts", 3, horizonMs).toDF(),
      "neardup_ttl_pairs", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("neardup_ttl_pairs")
      .as[(Long, Long, Long)].collect().toSet
    // exact texts → hamming-0 pairs; A-B (1,20) is beyond horizon and
    // its state was evicted before file 3 processed
    assert(streamed == Set((21L, 22L, 0L), (10L, 23L, 0L)))
    // state stays bounded: after the last batch only in-horizon docs
    // (file 2+3, ≤ 6 docs × 4 chunks = 24 band entries) may hold state;
    // the unbounded variant would keep every group ever touched. The
    // progress log reports state-store rows = live groups.
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.head.numRowsTotal
    assert(lastState <= 24, s"state rows $lastState — eviction not engaging")
    // batch mode: eviction inert, result = unbounded pairs RESTRICTED
    // to in-horizon pairs (the per-pair check is exact in batch too, so
    // batch and stream agree on this input: A-B out of horizon in BOTH)
    val batchDocs = (file1 ++ file2 ++ file3)
      .map { case (id, t, ms) => (id, t, new Timestamp(ms)) }.toDF("doc_id", "text", "ts")
    val ttlBatch = NearDupStream.simhashDupPairsWithin(batchDocs, "doc_id", "text", "ts", 3, horizonMs)
      .as[(Long, Long, Long)].collect().toSet
    val unbounded = NearDupStream.simhashDupPairs(batchDocs, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(unbounded.contains((1L, 20L, 0L))) // unbounded DOES pair A-B
    assert(ttlBatch == streamed) // batch twin == stream result, exactly
    assert(ttlBatch == Set((21L, 22L, 0L), (10L, 23L, 0L)))
  }

  test("TTL batch mode is inert for pre-epoch event times (sentinel is MinValue, not 0)") {
    import java.sql.Timestamp
    // two exact copies 500 ms apart, both BEFORE the epoch: a 0L batch
    // watermark sentinel would evict them (ts < 0) and drop the pair
    val docs = Seq(
      (1L, "p1 p2 p3 p4 p5 p6", new Timestamp(-5000L)),
      (2L, "p1 p2 p3 p4 p5 p6", new Timestamp(-4500L)),
      (3L, "q1 q2 q3 q4 q5 q6", new Timestamp(-900000L))) // out of horizon vs both
      .toDF("doc_id", "text", "ts")
    val pairs = NearDupStream.simhashDupPairsWithin(docs, "doc_id", "text", "ts", 3, 1000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)))
  }

  test("allowedLatenessMs widens eviction but never the pair horizon") {
    import java.sql.Timestamp
    import org.apache.spark.sql.types._
    val horizonMs = 1000L
    // same shape as the eviction test, but with lateness = 10s the
    // watermark (max - horizon - lateness) never passes A before its
    // out-of-horizon copy B arrives — B still must NOT pair (per-pair
    // check), while the in-horizon cross-batch pair still emits
    val aText = "a1 a2 a3 a4 a5 a6"
    val dText = "d1 d2 d3 d4 d5 d6"
    val file1 = Seq((1L, aText, 1000L), (2L, "f1 f2 f3 f4 f5 f6", 1100L))
    val file2 = Seq((10L, dText, 10000L), (11L, "g1 g2 g3 g4 g5 g6", 10050L))
    val file3 = Seq((20L, aText, 10400L), (23L, dText, 10600L))
    val dir = java.nio.file.Files.createTempDirectory("neardup-late").toString + "/in"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    Seq(file1, file2, file3).foreach { slice =>
      slice.map { case (id, t, ms) => (id, t, new Timestamp(ms)) }
        .toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamKit.runToMemory(
      NearDupStream.simhashDupPairsWithin(
        stream, "doc_id", "text", "ts", 3, horizonMs, allowedLatenessMs = 10000L).toDF(),
      "neardup_late_pairs", "append")
    q.awaitTermination(60000)
    val streamed = spark.table("neardup_late_pairs")
      .as[(Long, Long, Long)].collect().toSet
    // A survived eviction (lateness holds it) yet A-B stays unpaired:
    // out-of-horizon emission is blocked by the check, not by eviction
    assert(streamed == Set((10L, 23L, 0L)))
  }

  test("drain-and-restart with a replayed retained window loses no pair") {
    import java.sql.Timestamp
    import org.apache.spark.sql.types._
    // the fresh-checkpoint migration recipe (NearDupStream scaladoc):
    // phase 1 processes X/X' (a pair) and Y, then DRAINS. The restart
    // uses a fresh checkpoint whose source replays the retained
    // window — docs with ts >= H - horizon where H = max event time
    // processed (here: Y alone) — plus the new arrivals: Y' (copy of
    // Y, in horizon — the pair that STRADDLES the restart and would
    // be silently lost without the replay) and Z (copy of X, far out
    // of horizon — must not pair).
    val horizonMs = 1000L
    val xText = "x1 x2 x3 x4 x5 x6"
    val yText = "y1 y2 y3 y4 y5 y6"
    val phase1 = Seq(
      (1L, xText, 1000L), (2L, xText, 1400L), // X/X': in-horizon pair
      (10L, yText, 10000L))                   // Y: last pre-drain arrival
    val newDocs = Seq(
      (20L, yText, 10600L),                   // Y': pairs with replayed Y
      (21L, xText, 10500L))                   // Z: out of horizon vs X
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    def runPhase(dirTag: String, files: Seq[Seq[(Long, String, Long)]], sink: String): Set[(Long, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory(dirTag).toString + "/in"
      files.foreach { slice =>
        slice.map { case (id, t, ms) => (id, t, new Timestamp(ms)) }
          .toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(dir)
      }
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      // runToMemory starts with a fresh (temp) checkpoint each time —
      // exactly the restart mode the recipe prescribes
      val q = StreamKit.runToMemory(
        NearDupStream.simhashDupPairsWithin(stream, "doc_id", "text", "ts", 3, horizonMs).toDF(),
        sink, "append")
      q.awaitTermination(60000)
      spark.table(sink).as[(Long, Long, Long)].collect().toSet
    }
    val p1 = runPhase("neardup-ph1", Seq(phase1.take(2), phase1.drop(2)), "neardup_restart_p1")
    // recipe step 2-3: H = 10000 (max event time processed); retained
    // window = ts >= H - horizon = [9000, ..] = {Y}; replay it first,
    // then the post-restart arrivals, on a FRESH checkpoint
    val h = phase1.map(_._3).max
    val retained = phase1.filter(_._3 >= h - horizonMs)
    assert(retained.map(_._1) == Seq(10L)) // the window is genuinely partial
    val p2 = runPhase("neardup-ph2", Seq(retained, newDocs), "neardup_restart_p2")
    // step 4: de-dup the union on the pair key; must equal the batch
    // (no-restart) pair set over the ENTIRE stream
    val whole = (phase1 ++ newDocs)
      .map { case (id, t, ms) => (id, t, new Timestamp(ms)) }.toDF("doc_id", "text", "ts")
    val batch = NearDupStream.simhashDupPairsWithin(whole, "doc_id", "text", "ts", 3, horizonMs)
      .as[(Long, Long, Long)].collect().toSet
    assert((p1 ++ p2) == batch)
    // the straddling pair exists and came from phase 2 — the replayed
    // window is what saved it
    assert(batch.contains((10L, 20L, 0L)) && p2.contains((10L, 20L, 0L)) && !p1.contains((10L, 20L, 0L)))
    // and the out-of-horizon copy never paired
    assert(!batch.exists(p => p._1 == 1L && p._2 == 21L))
  }
}
