package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.core.Reliability

/** Link-graph importance scoring — PageRank with every number in
  * exact integer micro-units, so the iterative signal crosses the
  * oracle gate bit-for-bit.
  *
  * The corpus-curation use: web-scale training corpora weight
  * documents by the link importance of their host (Common Crawl
  * publishes exactly this kind of host-level centrality); the same
  * fixed-point iteration scores any reference graph (citations,
  * transactions, co-occurrence). This is the third instance of the
  * engine's iterative pattern (d05 min-label propagation,
  * `Similarity.trainCentroids` k-means): per round one equi-join and
  * one map-side-combinable aggregation, lineage cut with
  * `localCheckpoint`.
  *
  * Arithmetic contract: scores live in 1e-9 units (init 1e9 per
  * node). A node distributes `score div degree` to each neighbor
  * (integer division — the sub-unit remainder evaporates,
  * deterministically); the new score is
  * `teleport + (dampE2 * inflow) div 100` with
  * `teleport = 1e9 * (100 - dampE2) / 100`. Inflow is an order-free
  * long sum, so partitioning never changes a digit. Dangling nodes
  * cannot exist in the undirected view (every edge contributes both
  * directions).
  *
  * Scale shape: the edge list shuffles once per iteration (join on
  * the source, aggregate on the destination); degrees and node ids
  * are computed once. Iterations are FIXED (`iters`), not
  * converged-tested — the production choice for a bounded pipeline
  * stage, and what keeps the oracle a finite CTE chain.
  */
object GraphRank {

  /** NULL count of endpoint column `c`, as an [[Observation]] metric.
    *
    * Guard-placement rationale (r14→r15): the endpoint contract
    * (least/greatest IGNORE nulls, so a null-endpoint edge would
    * silently canonicalize into a self-loop) was first a per-row
    * `CASE … raise_error` around each endpoint in the dedup projection.
    * That cost g01 +13% shuffle — and an A/B probe showed the real
    * mechanism was NOT the CASE arithmetic: ANY extra node (the CASE
    * project, or a CollectMetrics) sitting between a caller's own
    * `.distinct()` and the canonical distinct blocks Catalyst's
    * RemoveRedundantAggregates, so the raw edge list shuffles TWICE
    * (5.6 → 11.2 MB on the sf0.1 build). The unweighted path therefore
    * canonicalizes with a null-PRESERVING projection (a null endpoint
    * becomes the (null, null) pair — one row after dedup — instead of
    * a silent self-loop) and counts those pairs with an Observation
    * placed ABOVE the distinct, below the eager cut: the two adjacent
    * distincts still collapse, the metric costs zero extra passes, and
    * [[pageRank]] raises right after the cut. The weighted path has no
    * elidable aggregate pair (the caller's weight aggregation and the
    * canonical merge are both load-bearing), so it keeps the
    * finer-grained pre-aggregation observation: per-column null counts
    * plus the post-cast weight check, which must see individual
    * weights BEFORE they disappear into the sum. */
  private def nullCount(c: String) =
    sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")

  /** Raise (after the edge build's eager cut) if either endpoint column
    * observed NULLs — see [[nullCount]]. */
  private def failOnNullEndpoints(obs: Observation): Unit = {
    val m = obs.get
    Seq("src", "dst").foreach { c =>
      val n = m(s"nulls_$c").asInstanceOf[Long]
      require(n == 0L,
        s"GraphRank: edge endpoint $c is NULL on $n row(s) — least/greatest would " +
          "silently canonicalize a null-endpoint edge into a self-loop")
    }
  }

  /** Integer PageRank over the UNDIRECTED view of `edges` (columns
    * `src`, `dst`, both non-null; both directions are added, then
    * deduplicated). Returns (node, score_e9) for every node incident
    * to an edge.
    *
    * Edge-build shape: deduplication runs on the CANONICAL pair
    * (least, greatest) — |E| rows through the distinct instead of the
    * doubled 2|E| — and the cut materializes the canonical list, so
    * doubling back to both directions is a narrow two-scan union of
    * the in-memory blocks, re-derived cheaply wherever the undirected
    * list is consumed. (The score-side joins broadcast at any node
    * count where scores fit an executor — the edge list itself only
    * crosses the wire in the per-iteration inflow aggregation, which
    * is map-side combined.) */
  def pageRank(edges: DataFrame, iters: Int, dampE2: Int = 85): DataFrame = {
    require(iters >= 1 && dampE2 >= 0 && dampE2 <= 100)
    // the edge list, degrees and node set are loop INVARIANTS —
    // materialize them once (set spark.graft.checkpoint.dir to store
    // the cuts reliably) or every iteration's job re-derives the whole
    // edge build from source; measured 3x on the g01 bench. The
    // canonical projection PRESERVES nulls (a null endpoint becomes
    // the (null, null) pair, never a silent self-loop) so the non-null
    // contract can be observed above the distinct — see [[nullCount]]
    // for why the guard must not sit below it.
    val bad = col("src").isNull || col("dst").isNull
    val obs = Observation()
    val canon = edges
      .select(
        when(bad, lit(null)).otherwise(least(col("src"), col("dst"))).as("a"),
        when(bad, lit(null)).otherwise(greatest(col("src"), col("dst"))).as("b"))
      .distinct()
      .observe(obs, sum(when(col("a").isNull, 1L).otherwise(0L)).as("null_pairs"))
      .transform(Reliability.cut)
    val nullPairs = obs.get("null_pairs").asInstanceOf[Long]
    require(nullPairs == 0L,
      "GraphRank: edge endpoint is NULL (src or dst) — least/greatest would silently " +
        "canonicalize a null-endpoint edge into a self-loop")
    // a self-loop canonicalizes to (a, a): emitting its swap would
    // double it where the doubled-list distinct kept exactly one row.
    //
    // The undirected view is materialized HASH-PARTITIONED ON THE
    // PER-ROUND JOIN KEY (r22, the dedupClusters edge-list trick,
    // guide §2.4): the probe showed each round's edges⋈scores join
    // re-shuffling the full edge list (10.35 MB per round at sf0.1,
    // ×iters) because the cut scores table's unknown stats rule out a
    // broadcast and nothing pinned the edge partitioning. LogicalRDD
    // preserves the physical partitioning, so with und cut on
    // hashpartitioning(src) every round's join reshuffles only the
    // (node-sized) score side — the edge list crosses the wire once,
    // not once per round — and the degree aggregation below rides the
    // same partitioning with no exchange at all.
    val und = Reliability.cutPartitioned(
      canon.select(col("a").as("src"), col("b").as("dst"))
        .union(canon.where(col("a") =!= col("b")).select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")))
    // degree aggregation rides und's src-partitioning (no exchange),
    // and keeping the partitioning on the cut lets the per-round deg
    // join skip its shuffle too
    val deg = Reliability.cutPartitioned(und.groupBy("src").agg(count(lit(1)).as("deg")))
    // (measured, r21: pre-joining deg into a materialized adjacency —
    // the GraphX triplet layout — REGRESSED the bench: the 2|E|-row
    // materialization costs more than the three per-round broadcast
    // deg joins it replaces. Kept as-is; at cluster scale the deg join
    // rides the same exchange as the scores join, so the per-round
    // cost is one join pass, not an extra shuffle.)
    rounds(und, deg, "score_e9 div deg", iters, dampE2)
  }

  /** Weighted integer PageRank over the UNDIRECTED view of `edges`
    * (columns `src`, `dst`, `w` — positive long weights; both
    * directions are added and parallel edges SUM their weights). A
    * node distributes `(score_e9 * w_edge) div w_total` to each
    * neighbor — computed as `w*(s div W) + (w*(s mod W)) div W`, the
    * exact same value (s = Wq + r gives s·w div W = w·q + w·r div W
    * exactly) without forming `s*w`, which would overflow Long once a
    * hub's score passes Long.MaxValue / w_max. The damping step reuses
    * the unweighted identity. With all weights 1 this IS [[pageRank]]
    * (w_total = degree, the remainder term vanishes) — spec-pinned.
    * The equivalence assumes the SAME effective edge list both sides:
    * [[pageRank]] `distinct()`s the doubled list where the weighted
    * form SUMS it, so a unit-weight input with duplicate, reversed, or
    * parallel edges merges them into weights > 1 instead (spec-pinned
    * too) — feed a deduplicated single-direction list when the
    * unweighted scores are the goal.
    *
    * Weight contract, enforced: every `w` must be > 0 AFTER the long
    * cast (a codegen'd per-row check fails the build of the edge list
    * otherwise — a zero wsum would turn `div` into NULL and silently
    * vanish from the inflow sum; checking post-cast also rejects
    * fractional weights in (0, 1) that would truncate to zero); and max(wsum) must stay below sqrt(2⁶³) ≈ 3.037e9,
    * `require`-checked from the materialized wsum table, because the
    * split identity's intermediate `w*(s mod W)` is bounded by W² (and
    * the first term by s itself — see the g01 margin note). Hub pages
    * past ~3e9 total incident weight (e.g. byte-volume weights) need a
    * rescale (divide all weights by a constant) — documented, not
    * silent wraparound.
    *
    * Same scale shape as [[pageRank]]: weights ride the one edge-list
    * shuffle; per iteration one equi-join + one map-side-combinable
    * aggregation; lineage cut under the session checkpoint policy. */
  def pageRankWeighted(edges: DataFrame, iters: Int, dampE2: Int = 85): DataFrame = {
    require(iters >= 1 && dampE2 >= 0 && dampE2 <= 100)
    // weight merge on the CANONICAL pair — |E| rows through the one
    // aggregation instead of the doubled 2|E| — cut there, then both
    // directions re-derived narrowly from the materialized blocks; a
    // self-loop's doubled copies would have summed to twice its
    // canonical weight, so its single emitted row carries 2w (see
    // [[pageRank]] for the build-shape rationale). Contracts observed,
    // not CASE-guarded ([[nullCount]]); the weight check runs AFTER the
    // long cast — a fractional weight in (0, 1) passes a pre-cast w > 0
    // test and then truncates to 0, recreating exactly the zero-wsum
    // failure the check exists to prevent
    val obs = Observation()
    val canon = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .observe(obs,
        nullCount("src"), nullCount("dst"),
        sum(when(coalesce(col("w") > 0, lit(false)), 0L).otherwise(1L)).as("bad_w"),
        min(when(coalesce(col("w") > 0, lit(false)), lit(null).cast("long"))
          .otherwise(col("w"))).as("min_bad_w"))
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"),
        col("w"))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
      .transform(Reliability.cut)
    failOnNullEndpoints(obs)
    val badW = obs.get("bad_w").asInstanceOf[Long]
    require(badW == 0L,
      s"pageRankWeighted: edge weight must be > 0 after long cast on $badW row(s); " +
        s"smallest offending cast value: ${Option(obs.get("min_bad_w")).getOrElse("NULL")}")
    // undirected view cut hash-partitioned on the per-round join key —
    // see the unweighted path's note (r22): edges cross the wire once,
    // each round reshuffles only the score side, and the wsum
    // aggregation below needs no exchange
    val und = Reliability.cutPartitioned(
      canon.select(col("a").as("src"), col("b").as("dst"),
          when(col("a") === col("b"), col("w") * 2).otherwise(col("w")).as("w"))
        .union(canon.where(col("a") =!= col("b")).select(col("b").as("src"), col("a").as("dst"), col("w")))
        .repartition(col("src")))
    // wsum rides und's src-partitioning (no exchange, and the
    // per-round ws join skips its shuffle); LAZY so the
    // materialization rides the overflow check's own scalar fetch
    // right below — one job instead of two (r22)
    val ws = Reliability.cutPartitioned(
      und.groupBy("src").agg(sum(col("w")).as("wsum")), eager = false)
    // sqrt(2^63) bound on the split identity's W² intermediate; one
    // scalar fetch, which doubles as the cut's materializing action
    val wsumMax = ws.agg(coalesce(max(col("wsum")), lit(0L))).head.getLong(0)
    require(wsumMax <= 3037000499L,
      s"pageRankWeighted: max total incident weight $wsumMax exceeds sqrt(2^63) ~ 3.037e9 — " +
        "w*(score mod wsum) could overflow Long; rescale weights (divide by a constant) first")
    rounds(und, ws,
      "w * (score_e9 div wsum) + (w * (score_e9 % wsum)) div wsum", iters, dampE2)
  }

  /** The PageRank rounds both variants share, over the keyed
    * undirected cut `und` (`src`, `dst`, and `w` when weighted) and the
    * keyed per-node denominator table `denom` (`src` plus the column
    * `share` divides by): each round every node sends `share` of its
    * score to each neighbor, and the damping step turns the summed
    * inflow into the next score. */
  private def rounds(und: DataFrame, denom: DataFrame, share: String, iters: Int,
      dampE2: Int): DataFrame = {
    // the node set IS denom's key set — every node in the undirected
    // view has degree >= 1 — so derive it as a narrow projection of
    // the materialized denominator blocks instead of paying a second
    // shuffle (distinct over the edge list) and a second cut
    val nodes = denom.select(col("src").as("node"))
    val teleport = 1000000000L * (100 - dampE2) / 100
    var scores = nodes.withColumn("score_e9", lit(1000000000L))
    for (_ <- 1 to iters) {
      val contrib = und
        .join(scores.withColumnRenamed("node", "src"), "src")
        .join(denom, "src")
        .select(col("dst").as("node"), expr(share).as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("inflow"))
      // (d * x) div 100 computed as d*(x div 100) + (d*(x mod 100)) div 100
      // — the same value for every non-negative x (x = 100q + r gives
      // d·x div 100 = d·q + d·r div 100 exactly), but never forms the
      // d*x product, which would overflow Long once a hub's inflow
      // passes Long.MaxValue/d (~1e17 e9-units, reachable on a
      // web-scale host graph). The oracle keeps the plain form — the
      // identity guarantees equal digits at oracle scale.
      //
      // contrib's key set IS the node set — every node appears as a dst
      // in the undirected view (each non-loop edge emits both
      // directions, a self-loop its own node) — so inflow is never
      // NULL; the coalesce only keeps the expression textually
      // identical to the oracle's.
      scores = contrib
        .select(
          col("node"),
          (lit(teleport) + expr(
            s"$dampE2 * (coalesce(inflow, 0L) div 100) + ($dampE2 * (coalesce(inflow, 0L) % 100)) div 100"))
            .as("score_e9"))
        // LAZY cut, HASH-PARTITIONED ON THE ROUND JOIN KEY (r22, guide
        // §2.4/§2.6): the materialization still rides round k+1's job
        // (no extra action), and recording hash(node) on the cut makes
        // the next round's und⋈scores⋈denom fully co-partitioned — zero
        // join-side exchanges, planned statically. The message
        // aggregation is already hash(dst)-partitioned, so the keyed
        // repartition is alias-collapsed rather than a second
        // node-sized shuffle. The cut input is an aggregation +
        // projection (no joins), so planning it with AQE off costs no
        // adaptive join choice.
        .transform(df =>
          Reliability.cutPartitioned(df.repartition(col("node")), eager = false))
    }
    scores
  }
}
