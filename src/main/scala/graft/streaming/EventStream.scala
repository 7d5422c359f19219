package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface over the `events` stream (SURVEY.md
  * §2.7): the stream-stream interval join, the per-hour windowed
  * sketches (heavy hitters, quantiles, distinct users) with their
  * contract reports, and the stored-fold sinks that maintain sketch and
  * index state from a stream. The tumbling, sliding and session windows
  * are Spark's own `window`/`session_window` aggregations, run as the
  * batch queries st01–st03.
  *
  * The reference is batch-incremental CDC; the sinks here preserve
  * those semantics (file source + idempotent `foreachBatch` fold gives
  * the same exactly-once-ish guarantee as the reference's keyed MERGE +
  * delete-on-success, `crime_etl.py:296-301`). Watermarks bound state;
  * at scale the only stateful shuffle is keyed by window or join key.
  *
  * Batch twins live in `analytics.Queries` (st04, st07–st09) where the
  * DuckDB oracle checks them; streaming execution is covered by
  * `EventStreamSpec` through the memory sink and by the rollup-sink
  * specs through `foreachBatch`.
  */
object EventStream {

  /** Stream-stream interval join (click-to-impression attribution
    * shape): join two event streams on the key with an event-time range
    * condition — `click_ts` in `(imp_ts, imp_ts + withinMinutes]`.
    * Both sides carry watermarks and the range condition is on the two
    * event times, which is exactly what lets Spark bound the join
    * state: a buffered impression can be dropped once the click-side
    * watermark passes `imp_ts + withinMinutes`, so state is
    * O(rate × window), not O(stream). Works identically on batch
    * frames (watermarks are no-ops there) — the st04 oracle twin runs
    * this same plan in batch. Output delta is exact integer
    * microseconds (cross-engine safe). */
  def intervalJoin(
      impressions: DataFrame,
      clicks: DataFrame,
      withinMinutes: Int = 60,
      delay: String = "2 hours"
  ): DataFrame = {
    val i = impressions
      .withWatermark("ts", delay)
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts").as("imp_ts"))
    val c = clicks
      .withWatermark("ts", delay)
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("click_ts"))
    i.join(
      c,
      col("user_id") === col("c_user") &&
        col("click_ts") > col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"INTERVAL $withinMinutes MINUTE"))
      .select(
        col("user_id"),
        col("imp_id"),
        col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("imp_ts"))).as("delta_us"))
  }

  /** Per-hour dominant-user sketch: the mergeable Misra–Gries
    * aggregate ([[graft.functions.FreqSketch]]) keyed by tumbling
    * window — runs identically as a streaming aggregation (the
    * TypedImperativeAggregate's serialized buffer IS the state-store
    * row, merged per micro-batch like any partial) and in batch, which
    * is how st07's oracle row gates it. One (window, sketch) state row
    * per hour regardless of user cardinality — the bounded-state form
    * of a per-window top-k that would otherwise keep every (window,
    * user) count alive. Output: one row per held counter
    * (window_start, n_w, token, est); counter VALUES are merge-order
    * dependent (see FreqSketch), so cross-engine checks go through
    * [[windowHeavyHitterReport]]'s contract form. */
  def windowHeavyHitterSketch(events: DataFrame, cap: Int): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        graft.functions.FreqSketchAgg.freqSketch(col("user_id").cast("string"), cap).as("sk"),
        count(lit(1)).as("n_w"))
      .select(col("window.start").as("window_start"), col("n_w"), explode(col("sk")).as("it"))
      .select(col("window_start"), col("n_w"),
        col("it.token").as("token"), col("it.est").as("est"))

  /** The t24 contract form per window (batch; the st07 oracle row):
    * exact top-`topN` users per hour anchored deterministically, LEFT
    * joined with the sketch's held counters, and the two MG-guarantee
    * booleans that hold under every merge order — presence above the
    * n_w/(cap+1) admission bound, estimates under-shooting by at most
    * that bound. */
  def windowHeavyHitterReport(events: DataFrame, cap: Int, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = windowHeavyHitterSketch(events, cap)
      .select(col("window_start").as("ws"), col("token"), col("est"))
    val exact = events
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))
    // window totals from the exact side, NOT the sketch: a window whose
    // users all tie below the admission bound legitimately empties its
    // MG sketch (the reduction subtracts the (cap+1)-th largest from
    // all — correct: nothing is guaranteed presence there), and its
    // anchors must still report, with presence_ok true via n <= bound
    val totals = Window.partitionBy(col("window_start"))
    val w = Window.partitionBy(col("window_start")).orderBy(col("n").desc, col("user_id").asc)
    exact
      .withColumn("n_w", sum(col("n")).over(totals))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= topN).drop("rk")
      .join(sk,
        col("window_start") === sk("ws") && col("token") === col("user_id").cast("string"),
        "left")
      .withColumn("bound", expr(s"n_w div ${cap + 1}"))
      .select(col("window_start"), col("user_id"), col("n"),
        (col("n") <= col("bound") || col("est").isNotNull).as("presence_ok"),
        (col("est").isNull || (col("est") <= col("n") && col("est") >= col("n") - col("bound")))
          .as("bound_ok"))
  }

  /** Per-hour quantile sketch: Spark's mergeable Greenwald–Khanna
    * aggregate (`approx_percentile` — the q35 in-query member) keyed by
    * tumbling window, the quantile sibling of
    * [[windowHeavyHitterSketch]] and the STREAMING member of the
    * maintained-rank family (q35 in-query, t27 stored fold, this).
    * Spark-first on purpose: the engine composes the built-in
    * TypedImperativeAggregate — whose serialized GK buffer IS the
    * state-store row, merged per micro-batch like any partial — rather
    * than re-implementing GK (custom sketches here earn their place
    * only when Spark lacks the aggregate, as with Misra–Gries).
    * One (window, buffer) state row per hour regardless of value
    * cardinality. Output: one row per (window, φ):
    * (window_start, n_w, phi_e6, est), n_w counting NON-NULL values
    * (nulls never enter the sketch, so they must not widen the rank
    * slack either). Estimate values depend on the sketch's internal
    * compression; cross-engine checks go through
    * [[windowQuantileReport]]'s contract form. */
  def windowQuantileSketch(
      events: DataFrame,
      phisE6: Seq[Long],
      accuracy: Int): DataFrame = {
    require(phisE6.nonEmpty && phisE6.forall(p => p >= 0 && p <= 1000000),
      "phis are micro-fractions in [0, 1e6]")
    require(accuracy >= 1, "accuracy >= 1")
    val phis = array(phisE6.map(p => lit(p / 1e6)): _*)
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(col("value")).as("n_w"),
        percentile_approx(col("value"), phis, lit(accuracy)).as("qs"))
      .select(col("window.start").as("window_start"), col("n_w"),
        posexplode(col("qs")).as(Seq("pos", "est")))
      .select(col("window_start"), col("n_w"),
        element_at(array(phisE6.map(lit): _*), col("pos") + 1).as("phi_e6"),
        col("est"))
  }

  /** Per-hour distinct-user sketch: the mergeable KMV aggregate
    * ([[graft.functions.KmvSketch]]) keyed by tumbling window — the
    * DISTINCT member of the windowed sketch family
    * ([[windowHeavyHitterSketch]] counts dominant members,
    * [[windowQuantileSketch]] ranks values, this one counts members).
    * One (window, ≤ k longs) state row per hour regardless of user
    * cardinality; in streaming the serialized minima set IS the
    * state-store row, re-merged per micro-batch. Unlike its two
    * siblings the state is DETERMINISTIC given the window's member
    * set (no merge-order dependence), so the raw minima — and the
    * estimate [[windowDistinctReport]] derives — cross the oracle
    * gate as full hash matches, not contract booleans. The hash is
    * the q34 recipe ([[graft.functions.Hashing.md5Long]] over
    * `cap:<user_id>`), computed BEFORE the aggregate so the oracle
    * can reproduce it. */
  def windowDistinctSketch(events: DataFrame, k: Int, seed: Int): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.KmvSketchAgg.kmvSketch(
        graft.functions.Hashing.md5Long(
          concat(lit("cap:"), col("user_id").cast("string")), seed), k).as("mins"))
      .select(col("window.start").as("window_start"), col("mins"))

  /** Distinct-user estimate per hour read off
    * [[windowDistinctSketch]] — `(window_start, n_kept,
    * est_distinct)` in the q34 shape: exact below `k` (the sketch IS
    * the member set there), else `⌊(k−1)·2⁶⁰ / h_k⌋` off the stored
    * maximum. Deterministic end to end, so the st09 oracle row
    * recomputes the identical values from scratch in DuckDB — the
    * streaming-family member whose gate is a full hash match. */
  def windowDistinctReport(events: DataFrame, k: Int, seed: Int): DataFrame =
    windowDistinctSketch(events, k, seed)
      .select(col("window_start"),
        size(col("mins")).cast("long").as("n_kept"),
        array_max(col("mins")).as("h_k"))
      .select(col("window_start"), col("n_kept"),
        graft.operators.Sketch.kmvEstExpr(k, "n_kept", "h_k").as("est_distinct"))

  /** The q35 rank contract per window (batch; the st08 oracle row):
    * for each (window, φ), the estimate's exact rank interval
    * [#{x<est}+1, #{x≤est}] must intersect φ·n ± (n/accuracy + 1) —
    * `approx_percentile`'s documented guarantee, checked exactly
    * in-engine. The oracle pins the exact per-window counts and
    * expects TRUE, so a drifting sketch turns the row red instead of
    * hiding behind a rows-only check. Windows whose values are all
    * NULL carry no sketch rank claim and are omitted (as the exact
    * side's inner join does naturally).
    *
    * Bound note: the sketch table is BROADCAST, so this check scales
    * with windows × φ, not value cardinality — right for the bounded
    * fixture histories the oracle gate replays, but hourly-window
    * cardinality grows without bound over an unbounded history
    * (~9k windows/year × φ rows). Pointed at a production-sized
    * multi-year history, drop the `broadcast()` hint and let AQE pick
    * the join (the sketch side is still the small one; it just may no
    * longer fit the driver's broadcast budget). */
  def windowQuantileReport(
      events: DataFrame,
      phisE6: Seq[Long],
      accuracy: Int): DataFrame = {
    val sk = windowQuantileSketch(events, phisE6, accuracy)
    val ev = events
      .filter(col("value").isNotNull)
      .select(window(col("ts"), "1 hour").getField("start").as("ws"),
        col("value").as("x"))
    val phi = col("phi_e6") / 1e6
    val slack = col("n") / accuracy.toDouble + 1.0
    ev.join(broadcast(sk), col("ws") === col("window_start"))
      .groupBy(col("window_start"), col("phi_e6"))
      .agg(
        max(col("n_w")).as("n"),
        sum(when(col("x") < col("est"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("x") <= col("est"), 1L).otherwise(0L)).as("le"))
      .select(col("window_start"), col("phi_e6").cast("long").as("phi_e6"), col("n"),
        (col("le") >= col("n") * phi - slack &&
          col("lt") + 1 <= col("n") * phi + slack).as("rank_ok"))
  }

  /** Maintained STORED quantile state fed by a stream — the
    * unbounded-history sibling of [[windowQuantileSketch]] (which keeps
    * per-window state inside the state store) and the quantile edition
    * of [[graft.streaming.StreamingRunner.runRollup]]: every
    * micro-batch folds its [[graft.operators.Sketch.qsSummarize]] into
    * the parquet summary table at `statePath` via
    * [[graft.operators.Sketch.qsFoldInto]]. Exactly-once from two
    * layers: the file source's checkpoint prevents re-reads, and the
    * applied-batch watermark (committed atomically with the state)
    * makes a post-crash `foreachBatch` replay a no-op — so the stored
    * state after any crash/restart sequence equals the clean batch-mode
    * fold of the same micro-batches (spec-gated on exactly that
    * equality: QuantileRollupSinkSpec). State stays ≤ (k+1) rows per
    * group forever; each micro-batch costs one batch summarize + a
    * bounded merge, never a history rescan.
    *
    * The watermark is only meaningful against the checkpoint that
    * numbered the batches: `foreachBatch` batchIds are scoped to
    * `checkpointDir`, so pointing a FRESH checkpoint at an existing
    * state would restart ids at 0 and silently skip every micro-batch
    * as a "replay" until the new ids pass the stored watermark. The
    * state's `stream` identity ([[graft.core.Commit.identity]]) records
    * the checkpoint the state is paired with, and a mismatch fails
    * loudly at start — statePath and checkpointDir live and die as a
    * pair (delete both to start over).
    *
    * The identity records the checkpoint's unique QUERY ID (the `id`
    * field Spark mints into `checkpointDir/metadata` at checkpoint
    * creation), not just its path: deleting and recreating the
    * checkpoint dir at the SAME path also restarts batchIds at 0 —
    * the path string alone would pass the check while the stored
    * watermark silently skipped every new micro-batch as a replay.
    * When the metadata file does not exist yet (first start) the id is
    * pre-minted here in the same JSON shape; Spark adopts an existing
    * metadata file verbatim, so the id the identity records is the id
    * the query runs under. */
  def quantileRollupSink(
      events: DataFrame,
      statePath: String,
      checkpointDir: String,
      valueCol: String,
      groupCol: String,
      k: Int,
      seed: Int,
      salts: Int = 8,
      single: Boolean = false): StreamingQuery =
    foldSink(events, statePath, checkpointDir, "quantileRollupSink") { (batch, batchId) =>
      // no emptiness probe: that's a full extra job per micro-batch;
      // an empty delta folds to the identity on state VALUES anyway
      graft.operators.Sketch.qsFoldInto(
        batch.sparkSession, statePath, batch,
        valueCol, groupCol, k, seed, salts, single, Some(batchId))
    }

  /** The shape every stored-fold sink shares: guard the
    * state/checkpoint pairing ([[guardStreamIdentity]]), then run
    * `fold` on each micro-batch with its id until the input is drained
    * (`AvailableNow`). */
  private def foldSink(input: DataFrame, statePath: String, checkpointDir: String, who: String)(
      fold: (DataFrame, Long) => Unit): StreamingQuery = {
    guardStreamIdentity(input.sparkSession, statePath, checkpointDir, who)
    input.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fold)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The state/checkpoint pairing guard shared by every stored-fold
    * sink (through [[foldSink]]): qualifies the checkpoint, builds the
    * `checkpoint=<uri> id=<query-id>` identity and hands it to
    * [[graft.operators.IncrementalAgg.guardStateIdentity]] as the
    * state's `stream` entry — see quantileRollupSink's scaladoc for the
    * full hazard analysis the identity encodes. The read refuses a
    * state whose identity is still in an older release's sidecar
    * format before [[checkpointQueryId]] can mint anything, so that
    * refusal repeats on every retry until the reset it names. */
  private def guardStreamIdentity(
      spark: SparkSession,
      statePath: String,
      checkpointDir: String,
      who: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(checkpointDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckptPath = fs.makeQualified(new org.apache.hadoop.fs.Path(checkpointDir))
    val ckptUri = ckptPath.toUri.toString
    val stored = graft.core.Commit.identity(spark, statePath).get("stream")
    // The pair-mismatch hazard is symmetric: a FRESH state (no stream
    // identity) against a checkpoint that already COMMITTED batches
    // would adopt silently — and stay permanently missing every
    // micro-batch those commits cover (the source never re-reads
    // committed offsets). The identity is committed before .start() on
    // the first guarded run, and commits only appear after batches
    // run, so this shape can only mean the state (or its identity) was
    // deleted out from under a live checkpoint. Commits — not
    // metadata — are the signal: a first start that crashed after
    // minting metadata but before the identity commit committed
    // nothing, and must be free to retry.
    val commitsDir = new org.apache.hadoop.fs.Path(ckptPath, "commits")
    require(!(stored.isEmpty && fs.exists(commitsDir) &&
        fs.listStatus(commitsDir).exists(st => !st.getPath.getName.startsWith("."))),
      s"$who: no stream identity claims the state at $statePath, but the " +
        s"checkpoint at $ckptUri has already committed batches — pairing a fresh state " +
        "with a spent checkpoint would silently lose every micro-batch those commits " +
        "cover (committed offsets are never re-read). Delete the checkpoint dir too to " +
        "rebuild from the source, or restore the state and identity this checkpoint " +
        "was paired with.")
    graft.operators.IncrementalAgg.guardStateIdentity(
      spark, statePath, "stream", s"checkpoint=$ckptUri id=${checkpointQueryId(fs, ckptPath)}", who)
  }

  /** The unique query id of the checkpoint at `ckptPath` — read from
    * `<ckpt>/metadata` (the one-line JSON Spark writes at checkpoint
    * creation and reuses forever after), minted here first if the
    * checkpoint does not exist yet. Spark's `StreamMetadata.read`
    * adopts an existing file, so a pre-minted id IS the query's id. */
  private[streaming] def checkpointQueryId(
      fs: org.apache.hadoop.fs.FileSystem,
      ckptPath: org.apache.hadoop.fs.Path): String = {
    val metaFile = new org.apache.hadoop.fs.Path(ckptPath, "metadata")
    val IdField = """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r
    if (fs.exists(metaFile)) {
      val in = fs.open(metaFile)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      IdField.findFirstMatchIn(txt).map(_.group(1)).getOrElse(
        throw new IllegalStateException(
          s"$metaFile exists but has no \"id\" field — not a Structured Streaming checkpoint?"))
    } else {
      val id = java.util.UUID.randomUUID().toString
      val out = fs.create(metaFile, false) // no overwrite: never clobber a live checkpoint
      try out.write(s"""{"id":"$id"}""".getBytes("UTF-8")) finally out.close()
      id
    }
  }

  /** Maintained STORED distinct-member state fed by a stream — the
    * unbounded-history sibling of [[windowDistinctSketch]] (which
    * keeps per-window state inside the state store) and the distinct
    * edition of [[quantileRollupSink]]: every micro-batch folds its
    * [[graft.operators.Sketch.kmvMinima]] into the parquet k-minima
    * table at `statePath` via [[graft.operators.Sketch.kmvFoldInto]].
    * Exactly-once from the same two layers (file-source checkpoint +
    * the applied-batch watermark committed atomically with the
    * state), under the same `stream` identity pairing guard — see
    * [[quantileRollupSink]]'s scaladoc for the hazard analysis; both
    * sinks share [[guardStreamIdentity]]. State stays ≤ k rows per
    * group forever; each micro-batch costs one batch k-minima pass +
    * a bounded merge, never a history rescan. Because the KMV merge
    * is deterministic, the stored state after ANY crash/restart
    * sequence is bit-identical to the clean batch fold of the same
    * micro-batches (spec-gated: DistinctRollupSinkSpec), and the
    * state table is directly consumable by
    * [[graft.operators.Sketch.kmvOverlap]] — a maintained sketch
    * serves both "how many distinct" and "how much of B is already
    * in A" without touching history. */
  def distinctRollupSink(
      events: DataFrame,
      statePath: String,
      checkpointDir: String,
      elemCol: String,
      groupCol: String,
      seed: Int,
      k: Int): StreamingQuery =
    foldSink(events, statePath, checkpointDir, "distinctRollupSink") { (batch, batchId) =>
      graft.operators.Sketch.kmvFoldInto(
        batch.sparkSession, statePath, batch,
        elemCol, groupCol, seed, k, Some(batchId))
    }

  /** Maintained STORED heavy-hitter state fed by a stream —
    * [[graft.operators.Sketch.mgFoldInto]] driven from `foreachBatch`
    * under the shared [[guardStreamIdentity]] pairing guard: the
    * stored ≤ capacity-row counter table carries the whole-stream MG
    * guarantee after any crash/restart sequence (the PODS'12
    * reduction holds at every fold node; counter VALUES stay
    * merge-order dependent, so readers go through the guarantee, the
    * t24 contract form). Completes the streaming-sink row of the
    * sketch matrix alongside [[quantileRollupSink]] and
    * [[distinctRollupSink]]. */
  def heavyHitterRollupSink(
      events: DataFrame,
      statePath: String,
      checkpointDir: String,
      tokenCol: String,
      capacity: Int): StreamingQuery =
    foldSink(events, statePath, checkpointDir, "heavyHitterRollupSink") { (batch, batchId) =>
      graft.operators.Sketch.mgFoldInto(
        batch.sparkSession, statePath, batch, tokenCol, capacity, Some(batchId))
    }

  /** Maintained STORED point-frequency state fed by a stream —
    * [[graft.operators.Sketch.cmsFoldInto]] driven from
    * `foreachBatch` under the shared [[guardStreamIdentity]] pairing
    * guard. CMS counters are plain sums, so the stored ≤ depth×width
    * counter table after ANY crash/restart sequence is bit-identical
    * to the whole-stream [[graft.operators.Sketch.cmsSketch]] build
    * (spec-gated), and [[graft.operators.Sketch.cmsEstimate]] serves
    * probes off it directly — the fold's `params` identity carries
    * the (depth, width) the estimator's contract needs. */
  def frequencyRollupSink(
      events: DataFrame,
      statePath: String,
      checkpointDir: String,
      tokenCol: String,
      depth: Int,
      width: Int): StreamingQuery =
    foldSink(events, statePath, checkpointDir, "frequencyRollupSink") { (batch, batchId) =>
      graft.operators.Sketch.cmsFoldInto(
        batch.sparkSession, statePath, batch, tokenCol, depth, width, Some(batchId))
    }

  /** Maintained STORED ANN inverted file fed by a stream — the
    * streaming-sink row for the INDEX family, completing the matrix
    * the four sketch sinks fill for theirs: every micro-batch of
    * (id, vector) rows assigns against the FROZEN quantizer and folds
    * its postings via [[graft.operators.Similarity.ivfFoldInto]] —
    * bucket-partitioned state (write I/O ∝ micro-batch, never
    * corpus), applied-batch watermark, quantizer-digest drift guard —
    * under the shared [[guardStreamIdentity]]
    * state/checkpoint pairing guard (see [[quantileRollupSink]]'s
    * scaladoc for the hazard analysis). Assignment is deterministic
    * and the fold idempotent, so the stored index after ANY
    * crash/restart sequence is bit-identical to the clean batch fold
    * of the same micro-batches (spec-gated: IvfRollupSinkSpec), and
    * `IvfIndex(cents, <state>)` serves queries off it directly. */
  def ivfRollupSink(
      vectors: DataFrame,
      statePath: String,
      checkpointDir: String,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      nBuckets: Int = 64): StreamingQuery =
    foldSink(vectors, statePath, checkpointDir, "ivfRollupSink") { (batch, batchId) =>
      graft.operators.Similarity.ivfFoldInto(
        batch.sparkSession, statePath, batch, idCol, vecCol, cents,
        Some(batchId), nBuckets)
    }

  /** Maintained STORED PQ encoded corpus fed by a stream — the PQ
    * sibling of [[ivfRollupSink]], completing the streaming-sink
    * matrix for BOTH maintained-index families: every micro-batch
    * encodes against the FROZEN codebook and folds its (cand_id, sub,
    * code) rows via [[graft.operators.Quantize.pqFoldInto]]
    * (bucket-partitioned state, applied-batch watermark,
    * codebook-digest guard) under the shared [[guardStreamIdentity]]
    * pairing guard. Encoding is deterministic, so the stored codes
    * after any crash/restart sequence are bit-identical to the clean
    * batch fold (spec-gated beside the IVF sink), and
    * `PqIndex(codebook, <state>, nSub, subDim)` serves ADC queries
    * off the state directly. */
  def pqRollupSink(
      vectors: DataFrame,
      statePath: String,
      checkpointDir: String,
      idCol: String,
      vecCol: String,
      codebook: DataFrame,
      nSub: Int,
      subDim: Int,
      nBuckets: Int = 64): StreamingQuery =
    foldSink(vectors, statePath, checkpointDir, "pqRollupSink") { (batch, batchId) =>
      graft.operators.Quantize.pqFoldInto(
        batch.sparkSession, statePath, batch, idCol, vecCol, codebook,
        nSub, subDim, Some(batchId), nBuckets)
    }
}
