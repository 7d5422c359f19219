package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Mergeable KMV sketches for cross-corpus overlap estimation.
  *
  * The dataset-comparison question a training-data pipeline asks before
  * mixing two corpora — "how much of corpus B is already in corpus A?"
  * — is a distinct-set overlap: Jaccard and containment of the corpora's
  * shingle sets. Computing it exactly means a corpus-sized distinct on
  * (corpus, gram) for EVERY comparison; the KMV sketch answer needs one
  * linear pass per corpus, after which every pairwise comparison runs
  * on k-row tables. The sketches are MERGEABLE — the k smallest hashes
  * of a union are a subset of the union of the per-corpus k-minima — so
  * per-partition sketches combine without revisiting data, the property
  * that makes the estimate computable at 100 TB (sketch once, compare
  * many).
  *
  * Everything is oracle-reproducible by the q34 argument: members are
  * 60-bit md5 hashes both engines compute identically, the union
  * estimate is `floor((k-1)·2⁶⁰ / h_k)` (exactly-representable
  * numerator, one IEEE long→double rounding, one correctly-rounded
  * division), and match counting is integer arithmetic over the k-row
  * merged sketch.
  *
  * Estimator (Beyer et al., "On Synopses for Distinct-Value Estimation
  * Under Multiset Operations", SIGMOD'07): with K = the k smallest
  * hashes of S_A ∪ S_B (computable from the two sketches alone),
  * J ≈ |{h ∈ K : h ∈ sketch_A ∧ h ∈ sketch_B}| / |K|, and
  * |A ∩ B| ≈ J · D_union. Membership of h ∈ K in sketch_X is membership
  * in X: h is no larger than the k-th minimum of the union, hence no
  * larger than the k-th minimum of X.
  */
object Sketch {

  /** Per-group KMV sketch: the `k` smallest 60-bit salted hashes of the
    * DISTINCT `elemCol` values in each `groupCol` group, as rows
    * (groupCol, h). Groups with fewer than k distinct elements keep all
    * of them (the sketch IS the set; downstream estimators report
    * exactly there).
    *
    * Scale shape: one distinct on (group, elem) — the only corpus-sized
    * shuffle — then [[Packing.stratifiedCap]]'s hash-threshold
    * prefilter bounds the per-group rank window at O(groups × k) rows,
    * never a corpus sort. The hash (and its tie-break on the element
    * value) is stratifiedCap's own, so the cap's selection IS the
    * k-minima selection. */
  def kmvMinima(
      df: DataFrame,
      elemCol: String,
      groupCol: String,
      seed: Int,
      k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val pairs = df.select(col(groupCol), col(elemCol)).distinct()
    Packing.stratifiedCap(pairs, elemCol, groupCol, seed, k)
      .withColumn("h",
        Hashing.md5Long(concat(lit("cap:"), col(elemCol).cast("string")), seed))
      .select(col(groupCol), col("h"))
  }

  /** Overlap estimate between the `ga` and `gb` sketches of a
    * [[kmvMinima]] table built with parameter `k`: one row with
    *
    *  - `k`, `n_k` (members of the merged k-minima K; < k only when the
    *    union itself has fewer), `matches` (members of K present in
    *    both sketches);
    *  - `jaccard_e6` = matches·1e6 div n_k;
    *  - `d_union`, `d_a`, `d_b` — KMV distinct estimates of A∪B, A, B
    *    (exact counts below k);
    *  - `inter_est` = (matches · d_union) div n_k — estimated |A ∩ B|;
    *  - `contain_a_e6` / `contain_b_e6` — estimated |A∩B|/|A| and
    *    |A∩B|/|B| in micro-units, the asymmetric "how much of X is
    *    already in Y" a mixing decision reads.
    *
    * Runs entirely on the ≤ 2k sketch rows: the sketch is materialized
    * ONCE (a lineage cut under the [[graft.core.Reliability]] policy —
    * its four consumers below would otherwise each re-derive the
    * corpus-sized sketch construction from source), then a full-outer
    * membership join, a TakeOrdered k-minimum (never a sort of
    * anything corpus-sized), and one aggregation. */
  def kmvOverlap(
      sketch: DataFrame,
      groupCol: String,
      ga: String,
      gb: String,
      k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val sk = graft.core.Reliability.cut(sketch.select(col(groupCol), col("h")))
    def side(g: String, flag: String): DataFrame =
      sk.filter(col(groupCol) === lit(g)).select(col("h")).distinct()
        .withColumn(flag, lit(1L))
    val merged = side(ga, "in_a").join(side(gb, "in_b"), Seq("h"), "full_outer")
      .select(col("h"),
        coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_b"), lit(0L)).as("in_b"))
    val kMin = merged.orderBy(col("h").asc).limit(k)

    val perCorpus = sk.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_c"), max(col("h")).as("h_c"))
      .select(col(groupCol),
        kmvEstExpr(k, "n_c", "h_c").as("d_c"))
    // fail loudly on a typo'd/empty group: the crossJoins below would
    // otherwise silently produce ZERO rows instead of an estimate. The
    // check collects at most two rows of the (groups-sized, already-cut)
    // per-corpus aggregate — a bounded driver scalar. Note the re-run
    // cost is bounded by the cut above: the aggregate re-executes over
    // the MATERIALIZED k-row sketch, never the corpus-sized sketch
    // construction (the cmsEstimate pre-check makes the same
    // materialized-input demand of its caller; here the function cuts
    // for itself because it needs the sketch four more times anyway).
    // The group column is rendered to a string for the comparison so a
    // non-string group column fails the require loudly (typed label
    // never matches the string arg) instead of class-cast-crashing.
    val present = perCorpus
      .filter(col(groupCol).isin(ga, gb)).select(col(groupCol))
      .collect().map(r => String.valueOf(r.get(0))).toSet
    require(present.contains(ga),
      s"kmvOverlap: group '$ga' has no rows in the sketch (typo or empty corpus)")
    require(present.contains(gb),
      s"kmvOverlap: group '$gb' has no rows in the sketch (typo or empty corpus)")
    val da = perCorpus.filter(col(groupCol) === lit(ga)).select(col("d_c").as("d_a"))
    val db = perCorpus.filter(col(groupCol) === lit(gb)).select(col("d_c").as("d_b"))

    kMin
      .agg(count(lit(1)).as("n_k"),
        sum(col("in_a") * col("in_b")).as("matches"),
        max(col("h")).as("h_k"))
      .select(
        lit(k.toLong).as("k"),
        col("n_k"),
        col("matches"),
        expr("matches * 1000000L div n_k").as("jaccard_e6"),
        kmvEstExpr(k, "n_k", "h_k").as("d_union"))
      .withColumn("inter_est", expr("(matches * d_union) div n_k"))
      .crossJoin(da).crossJoin(db)
      .withColumn("contain_a_e6", expr("(inter_est * 1000000L) div greatest(d_a, 1L)"))
      .withColumn("contain_b_e6", expr("(inter_est * 1000000L) div greatest(d_b, 1L)"))
  }

  /** THE KMV estimator column — the one expression every distinct
    * read-off shares (kmvEstimate, kmvOverlap's per-corpus and union
    * estimates, Packing.kmvDistinct, EventStream
    * .windowDistinctReport): exact count below `k` (the sketch IS the
    * member set there), else `⌊(k−1)·2⁶⁰ / h_k⌋` off the group's
    * stored maximum. The arithmetic is DECIMAL on purpose — the SQL
    * literal `1152921504606846976.0` parses as decimal in Spark AND
    * DuckDB, and every oracle carries the character-identical
    * expression — so all call sites MUST go through this helper: a
    * drift in one copy (a double literal, a changed factor) silently
    * breaks the hash-match contract the others gate. `nKept`/`hk`
    * are column names resolved in the caller's frame. */
  private[graft] def kmvEstExpr(k: Int, nKept: String, hk: String): org.apache.spark.sql.Column =
    when(col(nKept) < k, col(nKept))
      .otherwise(expr(s"CAST(floor(${k - 1} * 1152921504606846976.0 / $hk) AS BIGINT)"))

  /** Merge two [[kmvMinima]] tables — the maintenance fold of a
    * distinct sketch: union the legs, dedupe hashes (a member present
    * in both corpora is ONE member of the union — this dedup is what
    * makes the fold a DISTINCT summary), keep the k smallest per
    * group. Bounded by construction: each leg carries ≤ k rows per
    * group, so the union, the distinct, and the rank window all work
    * on ≤ 2k rows per group — never anything corpus-sized. The merge
    * is idempotent, commutative, and associative on distinct-hash
    * sets, so a fold over any batch partitioning of a corpus equals
    * the whole-corpus [[kmvMinima]] build exactly (modulo cross-member
    * hash collisions, which the KMV error model absorbs and 60-bit
    * md5 never produces in practice) — the bit-for-bit property the
    * d10 gate row pins, CMS-style, against a from-scratch oracle
    * rebuild. */
  def kmvCombine(a: DataFrame, b: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    requireMinima(a, groupCol, "kmvCombine left leg")
    requireMinima(b, groupCol, "kmvCombine right leg")
    import org.apache.spark.sql.expressions.Window
    a.select(col(groupCol), col("h"))
      .unionByName(b.select(col(groupCol), col("h")))
      .distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy(col(groupCol)).orderBy(col("h").asc)))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Fold a sequence of mergeable sketch legs into one state with a
    * lineage cut every `cutEvery` folds — depth insurance for IN-QUERY
    * chained folds (the t27/d10 shape): each [[qsCombine]] /
    * [[kmvCombine]] / [[mgCombine]] stage composes lazily, so a long
    * simulated chain builds a physical plan whose analysis/AQE cost
    * grows with every fold even though the DATA stays bounded at k
    * rows per group. A cut under the session checkpoint policy
    * ([[graft.core.Reliability.cut]]) materializes the bounded state
    * and restarts the plan; results are bit-identical with or without
    * the cut (SketchProps pins that), so `cutEvery` is purely a
    * plan-size/latency knob. The default leaves short chains (t27's 4
    * folds) uncut — their single lazy plan is the cheaper shape — and
    * bounds anything longer at `cutEvery` fold stages per plan.
    * Stored-state folds don't need this: [[graft.operators
    * .IncrementalAgg.foldState]] materializes every fold by design. */
  def chainCombine(
      legs: Seq[DataFrame],
      combine: (DataFrame, DataFrame) => DataFrame,
      cutEvery: Int = 8): DataFrame = {
    require(legs.nonEmpty, "chainCombine: at least one leg")
    require(cutEvery >= 1, "chainCombine: cutEvery >= 1")
    legs.tail.zipWithIndex.foldLeft(legs.head) { case (st, (leg, i)) =>
      val next = combine(st, leg)
      if ((i + 1) % cutEvery == 0) graft.core.Reliability.cut(next) else next
    }
  }

  /** Loud-failure guard (the [[qsCombine]] requireSummary convention):
    * both fold legs must actually BE k-minima tables — group column
    * present, `h` present and LONG — so a caller handing
    * [[kmvCombine]] a raw (unsketched) DataFrame fails here with a
    * named message instead of silently folding garbage hashes. */
  private def requireMinima(df: DataFrame, groupCol: String, who: String): Unit = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(types.contains(groupCol), s"$who: missing group column '$groupCol'")
    require(types.get("h").contains(org.apache.spark.sql.types.LongType),
      s"$who: not a KMV minima table — 'h' missing or not LONG (build legs with kmvMinima)")
  }

  /** Fold one batch's k-minima into a STORED sketch table — the
    * maintenance loop a real ingest runs ([[kmvCombine]] attached to
    * [[IncrementalAgg.foldState]]'s commit + applied-batch
    * watermark, the [[qsFoldInto]] shape, distinct edition): sketch
    * the batch, merge with the state read from `statePath`,
    * stage the result, commit it. `batchId` makes
    * checkpointed replays a no-op. Returns the new state — ≤ k rows
    * per group forever, each fold costing one batch k-minima pass +
    * a bounded merge, history never rescanned. The state table is
    * [[kmvMinima]]-shaped, so [[kmvEstimate]] reads distinct counts
    * and [[kmvOverlap]] reads cross-corpus overlap off it directly.
    * Streaming entry: [[graft.streaming.EventStream
    * .distinctRollupSink]].
    *
    * Sketch-identity guard (the `.qs-params` convention): the first
    * fold records (k, seed, group, elem) in a `.kmv-params` sidecar;
    * later folds must match — two minima tables built with different
    * seeds merge without an analysis error but estimate nothing. */
  def kmvFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      elemCol: String,
      groupCol: String,
      seed: Int,
      k: Int,
      batchId: Option[Long] = None): DataFrame = {
    IncrementalAgg.guardStateIdentity(
      spark, statePath, ".kmv-params",
      s"k=$k;seed=$seed;group=$groupCol;elem=$elemCol", "kmvFoldInto")
    IncrementalAgg.foldState(
      spark, statePath,
      kmvMinima(batch, elemCol, groupCol, seed, k),
      (state, delta) => kmvCombine(state, delta, groupCol, k),
      batchId)
  }

  /** Distinct-count estimates read off a [[kmvMinima]]-shaped table
    * (a fresh build or a [[kmvFoldInto]] state): per group,
    * `(groupCol, n_kept, est_distinct)` — exact below `k` (the
    * sketch IS the member set there), else `⌊(k−1)·2⁶⁰ / h_k⌋` off
    * the group's stored maximum (the q34 estimator). Runs entirely
    * on the ≤ k-rows-per-group sketch. Deterministic, so emitted
    * estimates hash-match an oracle that rebuilds the same minima. */
  def kmvEstimate(sketch: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    requireMinima(sketch, groupCol, "kmvEstimate")
    sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))
      .select(
        col(groupCol),
        col("n_kept"),
        kmvEstExpr(k, "n_kept", "h_k").as("est_distinct"))
  }

  // ---- heavy-hitter (Misra–Gries) sketch maintenance ----------------------

  /** One batch's MG sketch as a (token, est) table — the
    * [[graft.functions.FreqSketch]] aggregate exploded into rows, the
    * form a maintained state table stores. ≤ `capacity` rows. */
  def mgSketch(batch: DataFrame, tokenCol: String, capacity: Int): DataFrame =
    batch
      .agg(graft.functions.FreqSketchAgg.freqSketch(col(tokenCol), capacity).as("sk"))
      .select(explode(col("sk")).as("it"))
      .select(col("it.token").as("token"), col("it.est").as("est"))

  /** Deterministic TABLE-LEVEL Misra–Gries reduction of two sketch
    * tables — the maintenance fold of an ingest pipeline: the stored
    * state is combined with each arriving batch's [[mgSketch]] without
    * ever rescanning history (the [[IncrementalAgg]] shape, sketch
    * edition). Sum common tokens, and if more than `capacity` survive,
    * subtract the (capacity+1)-th largest counter from all and drop the
    * non-positives (Agarwal et al. PODS'12 — the reduction is valid at
    * every node of an arbitrary merge tree, so the fold preserves the
    * whole-stream MG guarantee: estimates underestimate by at most
    * n_total/(capacity+1), and every token above that bound survives).
    * Unlike the intra-aggregate merge, this table-to-table form is
    * deterministic in its inputs.
    *
    * The whole fold is ONE plan — no driver action per fold, so a
    * pipeline folding thousands of micro-batch sketches a day composes
    * them lazily and runs a single job at the sink. The threshold (the
    * (capacity+1)-th largest counter, or 0 when ≤ capacity tokens
    * survive — subtracting 0 is the identity) is computed with two
    * single-partition WINDOW passes over the merged table rather than
    * a TakeOrdered + crossJoin: the join form referenced `merged`
    * twice, so k chained folds embedded ~2^k copies of the upstream
    * plan and the advertised lazy composition blew up at analysis
    * time (r15 review). The window form references each fold's input
    * once — chained plans grow linearly — and the unpartitioned
    * window is bounded by construction: the merged table holds at
    * most 2×capacity rows. */
  def mgCombine(a: DataFrame, b: DataFrame, capacity: Int): DataFrame = {
    require(capacity >= 1, "capacity >= 1")
    import org.apache.spark.sql.expressions.Window
    val merged = a.select(col("token"), col("est"))
      .unionByName(b.select(col("token"), col("est")))
      .groupBy("token").agg(sum(col("est")).as("est"))
    val byRank = Window.orderBy(col("est").desc, col("token").asc)
    val full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged
      .withColumn("rn", row_number().over(byRank))
      .withColumn("thr",
        coalesce(max(when(col("rn") === capacity + 1, col("est"))).over(full), lit(0L)))
      .select(col("token"), (col("est") - col("thr")).as("est"))
      .filter(col("est") > 0)
  }

  /** Fold one batch's MG sketch into a STORED heavy-hitter table —
    * [[mgSketch]] + [[mgCombine]] attached to [[IncrementalAgg
    * .foldState]]'s commit + applied-batch watermark (the
    * [[qsFoldInto]] shape, heavy-hitter edition). The stored state
    * stays ≤ capacity rows forever; each fold costs one batch sketch
    * pass + a ≤ 2×capacity-row merge, history never rescanned, and
    * the PODS'12 reduction preserves the whole-stream MG guarantee
    * across the fold chain (estimates undershoot by ≤ n_total/
    * (capacity+1); every token above that bound survives). Counter
    * VALUES remain merge-order dependent (see [[graft.functions
    * .FreqSketch]]) — read the state through the guarantee, never as
    * exact counts. Streaming entry: [[graft.streaming.EventStream
    * .heavyHitterRollupSink]].
    *
    * The `.mg-params` sidecar pins (capacity, token column): folding
    * a sketch built with a different capacity would silently weaken
    * the bound the state's readers assume. */
  def mgFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      tokenCol: String,
      capacity: Int,
      batchId: Option[Long] = None): DataFrame = {
    IncrementalAgg.guardStateIdentity(
      spark, statePath, ".mg-params",
      s"capacity=$capacity;token=$tokenCol", "mgFoldInto")
    IncrementalAgg.foldState(
      spark, statePath,
      mgSketch(batch, tokenCol, capacity),
      (state, delta) => mgCombine(state, delta, capacity),
      batchId)
  }

  // ---- count-min sketch (point-frequency estimates) ------------------------

  /** Salt base for the CMS hash rows — row d hashes with salt
    * `CmsSaltBase + d`, its own independent 60-bit md5 family
    * ([[Hashing]]'s cross-engine contract). */
  val CmsSaltBase = 700

  /** Count-Min sketch of the token stream as a (d, bucket, n) counter
    * table (Cormode & Muthukrishnan, J. Algorithms '05) — the
    * complement of the Misra–Gries surface (t24): MG certifies the
    * HEAVY tokens, CMS answers a point-frequency query for ANY token,
    * overestimating by at most ~N/width per hash row (never
    * underestimating; the min over `depth` rows makes a large
    * overestimate exponentially unlikely).
    *
    * Scale shape: ONE linear scan of the stream (the depth hash rows
    * explode inside the scan), then a map-side-combinable count into at
    * most depth×width counter rows — bounded state, like [[mgSketch]],
    * and trivially MERGEABLE: counters are sums, so [[cmsCombine]] is a
    * union + re-aggregation, order-invariant where MG merge state is
    * not (no contract-boolean indirection needed: the whole counter
    * table is oracle-reproducible bit-for-bit). */
  def cmsSketch(toks: DataFrame, tokenCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1, 16]")
    require(width >= 2, "width >= 2")
    val entries = array((0 until depth).map(d =>
      struct(lit(d).as("d"),
        pmod(Hashing.md5Long(col(tokenCol), CmsSaltBase + d), lit(width.toLong)).as("bucket"))): _*)
    toks
      .select(explode(entries).as("e"))
      .groupBy(col("e.d").as("d"), col("e.bucket").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n"))
  }

  /** Merge two CMS counter tables built with the same (depth, width) —
    * a sum per (d, bucket). Single reference per input, so chained
    * folds grow linearly (the [[mgCombine]] lesson). */
  def cmsCombine(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("d"), col("bucket"), col("n"))
      .unionByName(b.select(col("d"), col("bucket"), col("n")))
      .groupBy("d", "bucket").agg(sum(col("n")).as("n"))

  /** Fold one batch's CMS counter table into a STORED sketch —
    * [[cmsSketch]] + [[cmsCombine]] attached to [[IncrementalAgg
    * .foldState]] (the [[qsFoldInto]] shape, point-frequency
    * edition). Counters are plain sums, so the folded state equals
    * the whole-stream build BIT-FOR-BIT (the t29 gate property) and
    * stays ≤ depth×width rows forever; each fold costs one linear
    * batch scan + a bounded re-aggregation. Streaming entry:
    * [[graft.streaming.EventStream.frequencyRollupSink]].
    *
    * The `.cms-params` sidecar pins (depth, width, token column) —
    * THE guard [[cmsEstimate]]'s scaladoc asks the caller to carry:
    * two counter tables with different widths merge without an
    * analysis error (same 3-column shape) into a table that
    * UNDERESTIMATES on probe, the one failure mode CMS promises
    * never to produce. Here the mismatch fails loudly at fold time
    * instead. */
  def cmsFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      tokenCol: String,
      depth: Int,
      width: Int,
      batchId: Option[Long] = None): DataFrame = {
    IncrementalAgg.guardStateIdentity(
      spark, statePath, ".cms-params",
      s"depth=$depth;width=$width;token=$tokenCol", "cmsFoldInto")
    IncrementalAgg.foldState(
      spark, statePath,
      cmsSketch(batch, tokenCol, depth, width),
      (state, delta) => cmsCombine(state, delta),
      batchId)
  }

  /** Point-frequency estimates for `probes(tokenCol)` against a
    * [[cmsSketch]] counter table: est = min over the depth rows of the
    * addressed counter (0 where the bucket has no row — the token was
    * never hashed there). Cost shape: the sketch side is bounded by
    * depth×width rows, so the probe join BROADCASTS it (map-side, no
    * probe shuffle there); the one probe-sided exchange is the closing
    * token-keyed aggregation of the ×depth exploded rows, which also
    * deduplicates repeated probe tokens. Output: (token, est), one row
    * per distinct probe token.
    *
    * (depth, width) MUST be the values the sketch was built with — a
    * larger probe depth would address counter rows that do not exist
    * and `min(coalesce(n, 0))` would UNDERESTIMATE, the one failure
    * mode CMS promises never to produce. A bounded pre-check over the
    * (broadcastable) sketch fails loudly on a depth mismatch and on a
    * width smaller than an observed bucket; a width that differs while
    * containing every observed bucket is not detectable from the table
    * alone — the caller owns carrying the build parameters (the
    * kmvOverlap loud-failure precedent, best-effort edition). The
    * pre-check is one bounded aggregation over the SKETCH — hand this
    * function a materialized sketch (a cut, cache, or stored table:
    * the engine's prepare/serve discipline, and what a serving path
    * does anyway), or a lazy sketch's whole build pipeline runs once
    * for the check and again for the join. */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      tokenCol: String,
      depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1, 16]")
    require(width >= 2, "width >= 2")
    // d is cast to LONG in the aggregate so a sketch round-tripped
    // through storage where d widened to BIGINT still produces the
    // intended loud mismatch error, not a ClassCastException
    val dims = sketch.agg(max(col("d").cast("long")).as("dmax"),
      max(col("bucket")).as("bmax")).head()
    if (!dims.isNullAt(0)) {
      // a non-empty sketch carries every hash row 0..depth-1 (each
      // counted token contributes one row per d)
      require(dims.getLong(0) == depth - 1,
        s"cmsEstimate: sketch has hash rows 0..${dims.getLong(0)} but depth=$depth was " +
          "requested - probe (depth, width) must match the build or estimates underestimate")
      require(dims.getLong(1) < width,
        s"cmsEstimate: sketch holds bucket ${dims.getLong(1)} >= width=$width - probe " +
          "(depth, width) must match the build")
    }
    val entries = array((0 until depth).map(d =>
      struct(lit(d).as("d"),
        pmod(Hashing.md5Long(col("token"), CmsSaltBase + d), lit(width.toLong)).as("bucket"))): _*)
    probes
      .select(col(tokenCol).as("token"))
      .select(col("token"), explode(entries).as("e"))
      .select(col("token"), col("e.d").as("d"), col("e.bucket").as("bucket"))
      .join(broadcast(sketch.select(col("d"), col("bucket"), col("n"))), Seq("d", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  // ---- maintained mergeable quantile summary -------------------------------

  /** Core ε-prune of a weighted value summary — the compression step
    * both [[qsSummarize]] and [[qsCombine]] share. Input rows
    * `(partCols…, value, w, carry)` with DISTINCT values per part
    * (weights already value-merged); output is the same shape with at
    * most k+1 rows per part.
    *
    * The rule (the classic mergeable-quantile compress, GK/MRL
    * lineage — Greenwald & Khanna SIGMOD'01, Manku et al. SIGMOD'98,
    * folklore "combine then prune" merge): with part total
    * n = Σw and stride s = ⌈n/k⌉, keep exactly the rows whose
    * cumulative weight interval (cum−w, cum] crosses a multiple of s,
    * plus the last row; a kept row's new weight is the cumulative gap
    * to the previous kept row. The summary's rank function
    * R'(x) = Σ_{v≤x} w' then satisfies
    * `R(x) − s + 1 ≤ R'(x) ≤ R(x)` for every x (one-sided: kept
    * cumulative weights are a subset of the input's prefix sums, and
    * consecutive kept targets are ≤ s apart), so each prune adds at
    * most s−1 rank error and never overestimates.
    *
    * Error bookkeeping rides the rows as the additive `carry` column:
    * the per-part total carry (attached wholly to the part's first
    * row, so value-merges just sum it) is incremented by this prune's
    * own s−1 — but ONLY when the prune actually dropped a row: a
    * selection that kept every input row left the rank function
    * bit-identical, so charging it would loosen the tracked bound for
    * nothing (a fold whose running total crosses a stride boundary
    * while all values still fit would otherwise accrue phantom
    * error). Everything is computed with windows over the SAME single
    * input reference — chained folds grow linearly (the [[mgCombine]]
    * 2^k-plan lesson). */
  private def qsPrune(rows: DataFrame, parts: Seq[String], k: Int): DataFrame = {
    require(k >= 2, "quantile summary needs k >= 2")
    import org.apache.spark.sql.expressions.Window
    val pcols = parts.map(col)
    // every window shares ONE (partition, order) spec — partition
    // totals ride an unbounded frame — so Catalyst plans exactly two
    // Window nodes (pre- and post-filter), one sort each side and no
    // exchange between them (the filter preserves both partitioning
    // and ordering). The naive whole-partition + ordered spec split
    // planned four Window nodes, and in a chained fold that plan bulk
    // is what AQE re-optimizes before every stage.
    val ord = Window.partitionBy(pcols: _*).orderBy(col("value"))
    val tot = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("__n", sum(col("w")).over(tot))
      .withColumn("__m", count(lit(1)).over(tot))
      .withColumn("__cin", sum(col("carry")).over(tot))
      .withColumn("__cum", sum(col("w")).over(run))
      .withColumn("__s", expr(s"(__n + ${k - 1}) div $k"))
      .filter(expr("__cum div __s > (__cum - w) div __s") || col("__cum") === col("__n"))
      .withColumn("__w2", col("__cum") - coalesce(lag(col("__cum"), 1).over(ord), lit(0L)))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__kept", count(lit(1)).over(tot))
      .select(pcols ++ Seq(
        col("value"),
        col("__w2").as("w"),
        when(col("__rn") === 1,
          col("__cin") + when(col("__kept") === col("__m"), lit(0L)).otherwise(col("__s") - 1L))
          .otherwise(0L).as("carry")): _*)
  }

  /** Per-group mergeable quantile summary of `valueCol` — the
    * quantile member of the maintained-sketch family (KMV distinct /
    * MG heavy hitters / CMS point frequency / THIS for ranks): a
    * bounded `(groupCol, value, w, carry)` state table, ≤ k+1 rows
    * per group, whose rank function tracks the input multiset's
    * within the group's `err` (= Σ carry; read it back with
    * [[qsQuantiles]]). Kept values are actual data values, never
    * interpolations. Null values are dropped (count them upstream if
    * they matter). The summary is MERGEABLE: rank functions add under
    * multiset union, so [[qsCombine]] folds batches into stored state
    * without rescanning history, and the guarantee survives ANY merge
    * tree (errors just add — the Agarwal et al. PODS'12 mergeability
    * frame, quantile edition).
    *
    * Scale shape: the one corpus-sized pass is the
    * (group, salt, value) count — map-side combinable. The per-part
    * SORT a quantile summary fundamentally needs is then distributed
    * over `salts` deterministic value-hash shards (each window
    * partition holds ~n_g/salts distinct values — size salts so that
    * fits an executor; the md5 salt is deterministic, so re-runs and
    * retries reproduce), local summaries are pruned to k rows each,
    * and the final per-group prune runs on salts×(k+1) rows. Per-salt
    * prune errors ADD (sub-multiset rank functions sum), so the total
    * err is Σ_salt (⌈n_gs/k⌉−1) + ⌈n_g/k⌉−1 ≈ 2·n_g/k — the bound a
    * caller sizes k against.
    *
    * `single = true` is the small-state fold path (the t23/BPE
    * precedent): once the local prune has bounded the rows to
    * groups × salts × (k+1), a tiny `repartition(1)` places the state
    * in one task and every downstream prune, fold and quantile read
    * plans with ZERO further exchanges (SinglePartition satisfies
    * every clustered distribution; the sorts stay, the shuffles
    * disappear). The corpus-sized count and the per-salt local prune
    * stay fully distributed either way — only the bounded state
    * collapses. Right on a 1000-executor cluster too: shuffling a
    * few-thousand-row state table between every fold stage is pure
    * stage overhead. Leave it false when groups × k does NOT fit one
    * task (e.g. per-user quantiles over millions of users). */
  def qsSummarize(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      k: Int,
      seed: Int,
      salts: Int = 8,
      single: Boolean = false): DataFrame =
    qsSummarizeCounted(qsCountedBase(df, valueCol, groupCol, seed, salts), groupCol, k, single)

  /** The ONE corpus-sized pass of [[qsSummarize]], exposed so a caller
    * that summarizes several slices of the same input (t27's simulated
    * ingest batches) can run it ONCE: the deterministic value-hash salt
    * plus the map-side-combinable `(extraKeys…, groupCol, salt, value)
    * → w` count. `extraKeys` ride the groupBy (e.g. a batch id) so one
    * materialized count table can be sliced into per-batch bases for
    * [[qsSummarizeCounted]] without rescanning the corpus. Nulls are
    * dropped here, matching [[qsSummarize]]. */
  def qsCountedBase(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      seed: Int,
      salts: Int,
      extraKeys: Seq[String] = Nil): DataFrame = {
    require(salts >= 1, "salts >= 1")
    df.filter(col(valueCol).isNotNull)
      .select(extraKeys.map(col) ++ Seq(col(groupCol), col(valueCol).as("value")): _*)
      .withColumn("salt",
        pmod(Hashing.md5Long(concat(lit("qs:"), col("value").cast("string")), seed),
          lit(salts.toLong)))
      .groupBy((extraKeys :+ groupCol).map(col) ++ Seq(col("salt"), col("value")): _*)
      .agg(count(lit(1)).cast("long").as("w"))
  }

  /** Summarize a pre-counted base (the [[qsCountedBase]] output shape
    * `(groupCol, salt, value, w)`) — [[qsSummarize]] past its corpus
    * pass: per-salt local prunes (distributed), pool, final per-group
    * prune. Identical output to `qsSummarize` on the uncounted input;
    * all the scale/`single` semantics of [[qsSummarize]] apply. */
  def qsSummarizeCounted(
      base: DataFrame,
      groupCol: String,
      k: Int,
      single: Boolean = false): DataFrame = {
    val b = base.select(col(groupCol), col("salt"), col("value"), col("w"))
      .withColumn("carry", lit(0L))
    qsFinalizeLocal(qsPrune(b, Seq(groupCol, "salt"), k), groupCol, k, single)
  }

  /** The per-batch LOCAL prunes of [[qsSummarizeCounted]] for every
    * batch in ONE window pass — the r21 t27 shape: a [[qsCountedBase]]
    * built with `extraKeys = Seq(batchCol)` is pruned partitioned by
    * (batch, group, salt), and slicing the RESULT on the batch value
    * is bit-identical to running the local prune on that batch's slice
    * alone (windows are per-partition; the batch key separates them),
    * while the corpus-sized window sort runs once, not once per batch.
    * Feed each slice (batch column dropped) to [[qsFinalizeLocal]] to
    * obtain exactly `qsSummarizeCounted(slice, groupCol, k, single)`. */
  def qsLocalPruneBatches(
      counted: DataFrame,
      batchCol: String,
      groupCol: String,
      k: Int): DataFrame =
    qsPrune(
      counted.select(col(batchCol), col(groupCol), col("salt"), col("value"), col("w"))
        .withColumn("carry", lit(0L)),
      Seq(batchCol, groupCol, "salt"), k)

  /** The pool + final-prune half of [[qsSummarizeCounted]], exposed so
    * pre-pruned locals ([[qsLocalPruneBatches]]) can be finalized per
    * batch. Input shape: (groupCol, salt, value, w, carry) — the local
    * prune's output; `single` has the [[qsSummarize]] semantics. */
  def qsFinalizeLocal(
      local: DataFrame,
      groupCol: String,
      k: Int,
      single: Boolean): DataFrame = {
    val pooled = (if (single) local.repartition(1) else local)
      .groupBy(col(groupCol), col("value"))
      .agg(sum(col("w")).as("w"), sum(col("carry")).as("carry"))
    qsPrune(pooled, Seq(groupCol), k)
  }

  /** Fold two quantile summaries built with the same `k` (stored
    * state + an arriving batch's [[qsSummarize]] — the maintenance
    * fold of an ingest pipeline, [[mgCombine]]'s quantile sibling):
    * union, merge equal values (weights and carries are both
    * additive), re-prune. Errors add plus the re-prune's own
    * ⌈n_total/k⌉−1; with B equal batches folded linearly the bound is
    * ≈ B·n/(2k) — size k to the fold depth, or fold as a binary tree
    * for Σ ≈ n·log(B)/k. ONE lazy plan with a single reference per
    * input, so a day of micro-batch folds composes lazily and runs as
    * one job at the sink, and chained plans grow linearly.
    *
    * `single = true` mirrors [[qsSummarize]]'s small-state path: the
    * legs of a single-partition fold are each ≤ (k+1) rows per group,
    * so `coalesce(1)` on the union (narrow — one task reads the tiny
    * leg partitions in-stage, no shuffle) keeps the whole fold chain
    * exchange-free. Use it exactly when the summaries were built
    * `single`; values are bit-identical either way (the fold is a
    * deterministic value-merge + prune). */
  def qsCombine(a: DataFrame, b: DataFrame, groupCol: String, k: Int,
      single: Boolean = false): DataFrame = {
    requireSummary(a, groupCol, "qsCombine left leg")
    requireSummary(b, groupCol, "qsCombine right leg")
    val u = a.select(col(groupCol), col("value"), col("w"), col("carry"))
      .unionByName(b.select(col(groupCol), col("value"), col("w"), col("carry")))
    qsPrune(
      (if (single) u.coalesce(1) else u)
        .groupBy(col(groupCol), col("value"))
        .agg(sum(col("w")).as("w"), sum(col("carry")).as("carry")),
      Seq(groupCol), k)
  }

  /** Loud-failure guard (the kmvOverlap/cmsEstimate convention): both
    * fold legs must actually BE quantile summaries — group column
    * present, `value` present, `w`/`carry` present and LONG — so a
    * caller handing [[qsCombine]] a raw (unsummarized) DataFrame fails
    * here with a named message instead of a late analysis error deep
    * inside qsPrune. */
  private def requireSummary(df: DataFrame, groupCol: String, who: String): Unit = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    require(types.contains(groupCol), s"$who: missing group column '$groupCol'")
    require(types.contains("value"), s"$who: not a quantile summary — no 'value' column (build legs with qsSummarize)")
    Seq("w", "carry").foreach { c =>
      require(types.get(c).contains(org.apache.spark.sql.types.LongType),
        s"$who: not a quantile summary — '$c' missing or not LONG (build legs with qsSummarize)")
    }
  }

  /** Fold one batch's quantile summary into a STORED summary table —
    * the maintenance loop a real ingest runs ([[qsCombine]] attached to
    * [[IncrementalAgg.foldState]]'s commit + applied-batch
    * watermark): summarize the batch, combine with the state read from
    * `statePath`, stage the result, commit it. `batchId` makes
    * checkpointed replays (`foreachBatch` after a crash) a no-op — the
    * id commits atomically WITH the state, so fold-then-crash and
    * crash-then-fold both converge. Returns the new state. The stored
    * state stays ≤ (k+1) rows per group forever; each fold's cost is
    * one batch summarize + a bounded-state merge — history is never
    * rescanned. Streaming entry: [[graft.streaming.EventStream
    * .quantileRollupSink]].
    *
    * Sketch-identity guard: the first fold records (k, seed, salts,
    * groupCol) in a `.qs-params` sidecar next to the state dir; every
    * later fold must match, because [[requireSummary]] only checks the
    * row SHAPE — two summaries built with different k or seed merge
    * without an analysis error but the rank-error bound no longer
    * holds. Mismatch fails loudly; deleting the state dir resets the
    * identity (`single` is physical-placement-only and deliberately
    * excluded). */
  def qsFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      valueCol: String,
      groupCol: String,
      k: Int,
      seed: Int,
      salts: Int = 8,
      single: Boolean = false,
      batchId: Option[Long] = None): DataFrame = {
    IncrementalAgg.guardStateIdentity(
      spark, statePath, ".qs-params",
      s"k=$k;seed=$seed;salts=$salts;group=$groupCol", "qsFoldInto")
    IncrementalAgg.foldState(
      spark, statePath,
      qsSummarize(batch, valueCol, groupCol, k, seed, salts, single),
      (state, delta) => qsCombine(state, delta, groupCol, k, single),
      batchId)
  }

  /** Read quantile estimates off a summary: for each group and each
    * φ (micro-units), the smallest stored value whose cumulative
    * weight reaches rank target r = max(1, ⌈φ·n⌉). Output
    * `(groupCol, phi_e6, est, n, err)` where n = Σw (EXACTLY the
    * group's non-null count — summaries never lose weight) and
    * err = Σcarry, the group's accumulated worst-case rank error.
    *
    * The guarantee (the q35 rank-contract shape, maintained-state
    * edition): writing lt/le for the exact counts of group values
    * <est / ≤est, every estimate satisfies `le ≥ r − err` and
    * `lt + 1 ≤ r + err` — est's exact rank interval intersects
    * r ± err. Proof: R_summary(est) ≥ r and R_summary(est⁻) < r,
    * and R_summary tracks R_exact within err on both sides.
    * Runs entirely on the bounded summary (groups × (k+1) rows
    * exploded × |phis|). */
  def qsQuantiles(summary: DataFrame, groupCol: String, phisE6: Seq[Long]): DataFrame = {
    require(phisE6.nonEmpty && phisE6.forall(p => p >= 0 && p <= 1000000),
      "phis are micro-fractions in [0, 1e6]")
    import org.apache.spark.sql.expressions.Window
    // one shared (partition, order) spec = one Window node (the
    // qsPrune plan-bulk argument)
    val ord = Window.partitionBy(col(groupCol)).orderBy(col("value"))
    val tot = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    summary
      .withColumn("n", sum(col("w")).over(tot))
      .withColumn("err", sum(col("carry")).over(tot))
      .withColumn("cum", sum(col("w")).over(run))
      .select(col(groupCol), col("value"), col("cum"), col("n"), col("err"),
        explode(array(phisE6.map(p => lit(p)): _*)).as("phi_e6"))
      .withColumn("r", greatest(lit(1L), expr("(phi_e6 * n + 999999) div 1000000")))
      .filter(col("cum") >= col("r"))
      .groupBy(col(groupCol), col("phi_e6"))
      .agg(
        min(col("value")).as("est"),
        max(col("n")).as("n"),
        max(col("err")).as("err"))
  }
}
