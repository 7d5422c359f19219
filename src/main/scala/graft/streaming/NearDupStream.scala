package graft.streaming

import graft.functions.Text
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection — the streaming twin of
  * [[Dedup.simhashPairs]] (d02): documents arrive on a stream and every
  * hamming-&le;-3 SimHash pair is emitted as soon as its second member
  * arrives, across micro-batch boundaries.
  *
  * Design:
  *  - the sketch is computed PER ROW (a driver-free Scala twin of the
  *    [[graft.functions.SimHashAgg]] fold, spec-pinned equal), because a
  *    streaming aggregation ahead of `flatMapGroupsWithState` would
  *    stack two stateful operators;
  *  - state lives per (chunk, 15-bit key) pigeonhole band and holds the
  *    (id, sketch) pairs seen in that band, packed into one primitive
  *    long array — 16 bytes per doc per chunk, one UnsafeArrayData
  *    blob per band, no text, no token sets. The 4-chunk pigeonhole
  *    guarantees
  *    any hamming-&le;-3 pair shares a band, so recall is exact, same
  *    as the batch operator;
  *  - a colliding pair is emitted ONLY by the first chunk whose keys
  *    match (`firstSharedChunk`) — locally computable from the two
  *    sketches, so each pair is emitted exactly once with no
  *    downstream distinct (which would be a second stateful operator);
  *  - pairs are undirected (`id_a < id_b`), so arrival order never
  *    changes the result set and the batch-mode run of this exact code
  *    path equals d02 — which is how the st05 correctness row
  *    oracle-checks the streaming logic against DuckDB.
  *
  * Ids are assumed unique on the stream (the d02 contract); a
  * re-delivered id would re-enter band state and duplicate its future
  * pairs — drop re-deliveries first (`dropDuplicatesWithinWatermark`
  * on the id) if the source can re-deliver.
  *
  * State-schema note (r15): the band state changed from a struct
  * sequence to a packed `array<bigint>`. A streaming checkpoint
  * written by a pre-r15 build fails Spark's state-schema
  * compatibility check on restart — restart such a query from a
  * fresh checkpoint, as with any stateful-operator schema evolution.
  *
  * Drain-and-restart recipe (r16) — how to cross the schema break
  * (or any fresh-checkpoint restart of [[simhashDupPairsWithin]])
  * without losing a pair:
  *   1. stop the old query at a micro-batch boundary (`query.stop()`
  *      between triggers, or let an AvailableNow run drain);
  *   2. record the event-time horizon: H = max event time processed,
  *      taken from the query progress (`eventTime.max`) or the sink;
  *   3. restart with a FRESH checkpoint, seeding the source from
  *      offset positions that replay AT LEAST every record with
  *      event time ≥ H − (horizonMs + allowedLatenessMs) — the
  *      retained window is exactly the state the old run held, so
  *      replaying it rebuilds every band entry a future arrival
  *      could still pair with;
  *   4. de-duplicate the sink on (id_a, id_b): pairs wholly inside
  *      the replayed window are re-emitted (the price of at-least-
  *      once replay; pairs are deterministic, so this is exact).
  * Correctness argument: a pair spanning the restart has both
  * members within `horizonMs` of each other and its earlier member
  * within the retained window when the later one arrives — so the
  * earlier member is replayed, its band state is rebuilt before the
  * later member's event time, and the pair emits from the new run.
  * The restart spec (`NearDupStreamSpec`) proves exactly this:
  * phase-1 ∪ phase-2 emissions equal the batch pair set over the
  * whole stream, including a pair whose members straddle the
  * restart.
  */
object NearDupStream {

  case class BandRow(chunk: Int, key: Long, id: Long, simhash: Long)
  case class TimedBandRow(chunk: Int, key: Long, id: Long, simhash: Long, ts: java.sql.Timestamp)
  case class DupPair(id_a: Long, id_b: Long, hamming: Long)

  /** 60-bit md5 hash — the Scala twin of [[graft.functions.Hashing
    * .md5Long]] (first 15 hex chars of md5("salt:s"), base 16).
    * Computed as bits, not hex text: the first 15 hex characters ARE
    * the top 60 bits of the first 8 digest bytes big-endian, so the
    * hex-format-and-reparse round trip (16 string allocations per
    * TOKEN on the hot streaming path) reduces to one shift.
    * Value-identical by
    * construction; the sketch-parity spec pins it against the
    * SQL-side aggregate. */
  private[streaming] def md5Long60(s: String, salt: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$salt:$s".getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Per-row SimHash, equal to [[Dedup.simhashTable]]'s aggregate form:
    * ±1 counters over the 60-bit md5 (salt 11) of each whitespace
    * token, bit set on a strictly positive sum. None when the doc has
    * no tokens (such docs sketch to nothing in the batch form too). */
  private[streaming] def sketch(text: String): Option[Long] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) None
    else {
      val bits = Text.simhashBits
      val counters = new Array[Long](bits)
      toks.foreach { t =>
        val h = md5Long60(t, 11)
        var i = 0
        while (i < bits) {
          counters(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
          i += 1
        }
      }
      var code = 0L
      var i = 0
      while (i < bits) { if (counters(i) > 0) code |= 1L << i; i += 1 }
      Some(code)
    }
  }

  private def chunkKey(sh: Long, c: Int): Long =
    (sh >>> (c * Dedup.simhashChunkBits)) & ((1L << Dedup.simhashChunkBits) - 1)

  /** The one chunk allowed to emit a given pair: the lowest whose keys
    * collide. Derivable from the two sketches alone on any executor. */
  private[streaming] def firstSharedChunk(a: Long, b: Long): Int =
    (0 until Dedup.simhashChunks).find(c => chunkKey(a, c) == chunkKey(b, c)).getOrElse(-1)

  /** Works on a streaming OR batch DataFrame of (idCol, textCol); batch
    * mode runs the same code path with empty initial state. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int): Dataset[DupPair] = {
    require(maxHamming <= Dedup.simhashChunks - 1,
      "4-chunk pigeonhole guarantees recall only for hamming <= 3")
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        sketch(text).toSeq.flatMap { sh =>
          (0 until Dedup.simhashChunks).map(c => BandRow(c, chunkKey(sh, c), id, sh))
        }
      }
    banded
      .groupByKey(b => (b.chunk, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        // state is a PACKED long array, stride 2: [id, sketch, ...] —
        // the row-encoded-state answer to the typed-SerDe cost (r15
        // A/B in BASELINE.md): a primitive array encodes as one
        // UnsafeArrayData blob, where Seq[(Long, Long)] paid a boxed
        // struct per entry per group per batch
        (key: (Int, Long), rows: Iterator[BandRow], state: GroupState[Array[Long]]) => {
          val chunk = key._1
          val seen = state.getOption.getOrElse(Array.emptyLongArray)
          val out = Seq.newBuilder[DupPair]
          // sort so intra-batch pairs are found deterministically
          val batch = rows.toArray.sortBy(_.id)
          val arr = java.util.Arrays.copyOf(seen, seen.length + batch.length * 2)
          var n = seen.length
          batch.foreach { r =>
            var i = 0
            while (i < n) {
              val pid = arr(i)
              val psh = arr(i + 1)
              if (pid != r.id) {
                val ham = java.lang.Long.bitCount(psh ^ r.simhash)
                if (ham <= maxHamming && firstSharedChunk(psh, r.simhash) == chunk)
                  out += DupPair(math.min(pid, r.id), math.max(pid, r.id), ham.toLong)
              }
              i += 2
            }
            arr(n) = r.id
            arr(n + 1) = r.simhash
            n += 2
          }
          state.update(arr)
          out.result().iterator
        })
  }

  /** Bounded-state variant of [[simhashDupPairs]] — the production mode
    * for an INFINITE stream, where the unbounded variant's band state
    * would grow forever.
    *
    * Contract (the `dropDuplicatesWithinWatermark` shape, applied to
    * near-dup pairs), both directions exact:
    *   - NEVER out of horizon: a pair is emitted only when its members'
    *     event times (`tsCol`) lie within `horizonMs` of each other —
    *     enforced by an explicit per-pair check at emission, so the
    *     result set is independent of micro-batch boundaries;
    *   - ALWAYS in horizon, up to lateness: an in-horizon pair is
    *     emitted exactly as in the unbounded variant PROVIDED each
    *     member arrives before the stream's watermark (event-time max
    *     minus `horizonMs + allowedLatenessMs`) passes its event time —
    *     the standard watermark caveat. Event-time disorder wider than
    *     `allowedLatenessMs` can evict a doc before its in-horizon
    *     partner arrives and silently drop that pair; size
    *     `allowedLatenessMs` to the source's observed disorder.
    *
    * A band entry is dropped once the watermark passes its timestamp
    * (enforced at every group invocation — an evicted entry never
    * pairs), and a whole band's state is removed via event-time timeout
    * once no retained entry remains. State is therefore bounded by the
    * documents arriving within one horizon-plus-lateness window, not by
    * the stream's lifetime.
    *
    * On a batch DataFrame the same code path runs with no watermark:
    * eviction and timeouts are inert (any event time, including
    * pre-epoch, survives) and the result equals [[simhashDupPairs]]
    * filtered to in-horizon pairs — the deterministic batch twin the
    * st06 oracle checks.
    */
  def simhashDupPairsWithin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      maxHamming: Int,
      horizonMs: Long,
      allowedLatenessMs: Long = 0L): Dataset[DupPair] = {
    require(maxHamming <= Dedup.simhashChunks - 1,
      "4-chunk pigeonhole guarantees recall only for hamming <= 3")
    require(horizonMs > 0, "horizon must be positive")
    require(allowedLatenessMs >= 0, "lateness must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val streaming = docs.isStreaming
    val banded = docs
      .select(
        col(idCol).cast("long").as("id"),
        col(textCol).as("text"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .flatMap { case (id, text, ts) =>
        sketch(text).toSeq.flatMap { sh =>
          (0 until Dedup.simhashChunks).map(c => TimedBandRow(c, chunkKey(sh, c), id, sh, ts))
        }
      }
      // the watermark must attach AFTER the object flatMap — an
      // event-time tag on the input column would not survive the
      // serializer boundary
      .withWatermark("ts", s"${horizonMs + allowedLatenessMs} milliseconds")
    banded
      .groupByKey(b => (b.chunk, b.key))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        // packed long array, stride 3: [id, sketch, eventTimeMs, ...]
        // (see the stride-2 note on [[simhashDupPairs]])
        (key: (Int, Long), rows: Iterator[TimedBandRow], state: GroupState[Array[Long]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val chunk = key._1
            // batch sentinel is Long.MinValue, NOT 0: eviction must be
            // inert for pre-epoch event times too (ts.getTime < 0)
            val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
            val prev = state.getOption.getOrElse(Array.emptyLongArray)
            var kept = 0
            var i = 0
            while (i < prev.length) { if (prev(i + 2) >= wm) kept += 3; i += 3 }
            val batch = rows.toArray.sortBy(_.id)
            val arr = new Array[Long](kept + batch.length * 3)
            var n = 0
            i = 0
            while (i < prev.length) {
              if (prev(i + 2) >= wm) {
                arr(n) = prev(i); arr(n + 1) = prev(i + 1); arr(n + 2) = prev(i + 2)
                n += 3
              }
              i += 3
            }
            val out = Seq.newBuilder[DupPair]
            batch.foreach { r =>
              val rts = r.ts.getTime
              var j = 0
              while (j < n) {
                val pid = arr(j)
                val psh = arr(j + 1)
                val pts = arr(j + 2)
                if (pid != r.id) {
                  val ham = java.lang.Long.bitCount(psh ^ r.simhash)
                  // the per-pair horizon check makes the out-of-horizon
                  // direction exact: same-batch entries further apart
                  // than the horizon never pair, regardless of where
                  // the micro-batch boundaries fell
                  if (ham <= maxHamming && firstSharedChunk(psh, r.simhash) == chunk &&
                      math.abs(pts - rts) <= horizonMs)
                    out += DupPair(math.min(pid, r.id), math.max(pid, r.id), ham.toLong)
                }
                j += 3
              }
              arr(n) = r.id; arr(n + 1) = r.simhash; arr(n + 2) = rts
              n += 3
            }
            if (n == 0) state.remove()
            else {
              state.update(arr)
              // evict the whole band once the watermark passes its
              // newest entry + the eviction window; entries survive
              // eviction only with ts >= wm, so this is always > wm
              if (streaming) {
                var mx = Long.MinValue
                var k = 2
                while (k < n) { if (arr(k) > mx) mx = arr(k); k += 3 }
                state.setTimeoutTimestamp(mx + horizonMs + allowedLatenessMs)
              }
            }
            out.result().iterator
          }
        })
  }
}
