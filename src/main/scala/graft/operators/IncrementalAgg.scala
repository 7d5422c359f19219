package graft.operators

import graft.core.Commit
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate (materialized rollup): a compact
  * keyed state table holding combinable partial aggregates, updated per
  * batch — the pattern that keeps dashboard rollups fresh at 100 TB
  * without ever rescanning history. The reference rebuilds its dbt
  * models from the full warehouse on every run
  * (`/root/reference/dbt/crime_dbt_postgres/models/example/` SQL models);
  * incremental maintenance is the scale path: each run shuffles only
  * |batch keys| + |state| rows, independent of history size.
  *
  * Only combinable measures are offered (count / sum / min / max —
  * avg = sum/count at read time): `state ⊕ partial(batch)` is then
  * exactly `partial(history ∪ batch)`, which the spec asserts. Sums are
  * carried as DECIMAL(30,6) so the stored state is order-insensitive
  * and bit-equal to a from-scratch recompute — a double accumulator
  * would drift by accumulation order and make that equivalence flap.
  *
  * Delivery semantics: updates are at-least-once-UNSAFE — applying the
  * same batch twice double-counts. Callers gate batches exactly-once by
  * high-water mark ([[graft.pipeline.Runner]]'s (high-water, loadDate]
  * extract) or by a recorded batch id ([[graft.meta.RunLog]]).
  */
object IncrementalAgg {

  /** Measures to maintain per key group. */
  final case class Spec(
      keys: Seq[String],
      sums: Seq[String] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil) {
    require(keys.nonEmpty, "at least one key column")
  }

  /** Partial (combinable) aggregate of one batch: one row per key. */
  def partial(batch: DataFrame, spec: Spec): DataFrame = {
    val aggs =
      Seq(count(lit(1)).as("n_rows")) ++
        spec.sums.map(c => sum(col(c).cast("decimal(30,6)")).as(s"sum_$c")) ++
        spec.mins.map(c => min(col(c)).as(s"min_$c")) ++
        spec.maxs.map(c => max(col(c)).as(s"max_$c"))
    batch.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two partial-aggregate tables (associative + commutative). */
  def combine(a: DataFrame, b: DataFrame, spec: Spec): DataFrame = {
    val aggs =
      Seq(sum(col("n_rows")).cast("long").as("n_rows")) ++
        spec.sums.map(c => sum(col(s"sum_$c")).cast("decimal(30,6)").as(s"sum_$c")) ++
        spec.mins.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
        spec.maxs.map(c => max(col(s"max_$c")).as(s"max_$c"))
    a.unionByName(b).groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  def read(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)

  /** Id of the last batch folded into the state (see [[update]]'s
    * `batchId`), or -1 for a fresh/unversioned state. */
  def appliedBatchId(spark: SparkSession, statePath: String): Long =
    Commit.appliedBatch(spark, statePath)

  /** Identity guard of a stored fold (the qsFoldInto /
    * quantileRollupSink misuse gates): the state's identity entry
    * `entry` ([[graft.core.Commit.identity]]) records how the state was
    * built; a later fold with a different identity fails loudly instead
    * of silently merging incompatible state. Fresh/empty state adopts
    * the identity — a reset legitimately resets it; a live state with
    * no such entry adopts on first contact with a visible warning,
    * since that first guarded fold is exactly the run where a
    * configuration drift is most likely and the guard has nothing to
    * compare against. Adopting is a commit with no targets, so the
    * identity rolls forward after a crash like the rows do.
    *
    * The read recovers the state's last commit first, so an
    * interrupted commit never reads as fresh state. A reset deletes the
    * state dir and every `<state>.*` sibling — identity, commit record
    * and staging dir — so nothing staged before it can come back. */
  private[graft] def guardStateIdentity(
      spark: SparkSession,
      statePath: String,
      entry: String,
      identity: String,
      who: String): Unit = {
    val stored = Commit.identity(spark, statePath).get(entry)
    val fs = Commit.fs(spark, statePath)
    val path = new org.apache.hadoop.fs.Path(statePath)
    val stateLive = fs.exists(path) && fs.listStatus(path).nonEmpty
    if (stateLive && stored.isDefined)
      require(stored.contains(identity),
        s"$who: stored state at $statePath was built with [${stored.get}] but this run uses " +
          s"[$identity] — folding would silently corrupt the state. Delete $statePath and " +
          s"every $statePath.* sibling (identity, commit record, staging dir) to start " +
          "fresh, or restore the matching configuration.")
    else if (!stored.contains(identity)) {
      if (stateLive)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$who: adopting identity [$identity] over live state with no recorded $entry " +
            s"identity at $statePath — the guard cannot verify this first fold's " +
            "configuration matches the one that built the state; verify against a " +
            "from-scratch recompute if in doubt.")
      Commit.commit(spark, statePath, Nil, identity = Map(entry -> identity))
    }
  }

  /** Fold one batch into the stored state: [[foldState]] with this
    * rollup's algebra. `batchId` makes replays idempotent for
    * checkpointed callers (e.g. `foreachBatch`, which re-runs a batch
    * after a crash): the id commits together with the state, and a
    * batch whose id is `<=` the recorded one is skipped. Returns the
    * new state. */
  def update(
      spark: SparkSession,
      statePath: String,
      batch: DataFrame,
      spec: Spec,
      batchId: Option[Long] = None): DataFrame =
    foldState(spark, statePath, partial(batch, spec), combine(_, _, spec), batchId)

  /** True when the state dir holds at least one partition directory —
    * the partitioned protocol's "has data" test. A dir carrying only
    * its root `_SUCCESS`/marker files is a legitimate EMPTY state (a
    * delete fold can retire every posting) but is unreadable by
    * parquet schema inference, so the fold paths below substitute the
    * delta's empty frame for it instead of calling [[read]]. */
  private[operators] def stateHasData(
      fs: org.apache.hadoop.fs.FileSystem,
      statePath: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(statePath)
    fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))
  }

  /** Distinct bucket values of a key column under `pmod(key,
    * nBuckets)` — the extraTouched computation shared by the delete
    * paths of the bucketed index folds ([[foldStatePartitioned]]
    * callers). One bounded collect (≤ nBuckets values). */
  private[operators] def keyBuckets(ids: DataFrame, keyCol: String, nBuckets: Int): Seq[Any] =
    ids.select(pmod(col(keyCol), lit(nBuckets)).cast("int").as("pbucket"))
      .distinct().collect().map(_.get(0)).toSeq

  /** [[foldState]] for CORPUS-SIZED state: the stored table is
    * partitioned on `partitionCol` and a fold rewrites ONLY the
    * partitions the delta (plus `extraTouched`) lands in — write I/O
    * is ∝ batch, not state. [[foldState]]'s whole-state rewrite is the
    * right contract for sketch states bounded at k rows per group
    * forever; for a state that grows with the corpus (an ANN inverted
    * file, an encoded-codes table) it charges every fold O(corpus)
    * write cost, which at 100 TB dwarfs the O(batch) compute — the
    * same reasoning that makes [[Upsert.upsertIntoParquet]]
    * partition-scoped, applied to the fold/watermark machinery.
    *
    * Contract:
    *  - The first fold (no state dir) runs the combine against an empty
    *    state (the Upsert bootstrap convention — the combine may carry
    *    semantics beyond the merge, e.g. ivfAppend retiring delete ids
    *    from the delta itself). A fold that would create a state with
    *    no rows (no delta rows, or all retired) creates NO state — an
    *    empty partitioned dir has no readable schema; the next
    *    data-carrying fold bootstraps.
    *  - The touched partitions and the applied-batch id commit together
    *    through [[graft.core.Commit]]. `combine` must still be
    *    idempotent on a re-applied delta (keep-latest upserts and delete
    *    retirements are; additive algebras like [[combine]]'s sums are
    *    NOT — those stay on [[foldState]]): only then does re-folding a
    *    batch whose commit was never written converge.
    *  - The partition column should be a pure function of the merge
    *    KEY (an id bucket), so a re-ingested key can never move
    *    partitions and "touched" is exactly the delta's buckets — no
    *    stale-partition query over the complement partitions.
    *  - A state whose rows are ALL retired (a delete fold covering
    *    everything) keeps its dir, marker and identity but holds no
    *    partition directories; the fold paths treat that shape as an
    *    empty state of the delta's schema and later folds repopulate
    *    it. External readers of a fully-empty index fail loudly on
    *    parquet schema inference — the honest signal that there is
    *    nothing to serve.
    *
    * `extraTouched` (by-name, evaluated only when a fold actually
    * runs — a replayed batch never pays for it) adds partitions the
    * delta's rows alone don't reveal (e.g. the buckets of a delete-id
    * set, which contributes no delta rows but must have its postings
    * retired). A touched partition whose merged result is EMPTY is
    * removed, not left stale. An empty delta is a watermark-only fold.
    * The delta is cached for the fold's duration — it is read twice
    * (touched discovery + the merge) and recomputing a
    * broadcast-assignment batch twice is the costlier alternative. */
  def foldStatePartitioned(
      spark: SparkSession,
      statePath: String,
      delta: DataFrame,
      partitionCol: String,
      combine: (DataFrame, DataFrame) => DataFrame,
      batchId: Option[Long] = None,
      extraTouched: => Seq[Any] = Nil): DataFrame = {
    Commit.recover(spark, statePath)
    val fs = Commit.fs(spark, statePath)
    val path = new org.apache.hadoop.fs.Path(statePath)
    val dirExists = fs.exists(path) && fs.listStatus(path).nonEmpty
    def current(): DataFrame =
      if (stateHasData(fs, statePath)) read(spark, statePath)
      else delta.filter(lit(false)) // empty state: the delta's schema IS the state schema
    if (batchId.exists(_ <= appliedBatchId(spark, statePath)) && dirExists)
      return current() // replayed batch: already folded in
    val d = delta.cache()
    try {
      val deltaBuckets = d.select(col(partitionCol)).distinct().collect().map(_.get(0)).toSeq
      val touched = (deltaBuckets ++ extraTouched).distinct
      if (!dirExists && touched.isEmpty) return current() // nothing to fold, nothing to retire
      val staged = Commit.staged(statePath, statePath)
      if (touched.nonEmpty) {
        // read ONLY the touched slice of the state (partition pruning)
        val statePart =
          if (stateHasData(fs, statePath))
            read(spark, statePath).filter(Upsert.partitionFilter(partitionCol, touched))
          else d.filter(lit(false)) // first fold, or all rows previously retired
        combine(statePart, d).write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staged)
      }
      if (!dirExists && !stateHasData(fs, staged)) {
        Commit.discard(spark, statePath) // no state from nothing: nothing to commit
        return current()
      }
      Commit.commit(spark, statePath,
        Seq(Commit.Target(statePath, Some(touched.map(Upsert.partitionDir(partitionCol, _))))),
        batchId)
      current()
    } finally d.unpersist()
  }

  /** The state-maintenance machinery of [[update]] with the aggregate
    * algebra abstracted out — any mergeable state (this rollup's
    * partials, [[Sketch.qsFoldInto]]'s quantile summaries) folds one
    * batch delta into a stored parquet state with the SAME guarantees:
    * the new state materializes to the staging dir first (the combine
    * plan reads the old state lazily), state and applied-batch id
    * commit together through [[graft.core.Commit]], and a `batchId` ≤
    * the recorded watermark short-circuits to the existing state
    * (replay idempotence for checkpointed `foreachBatch` callers).
    * `combine(state, delta)` must be the algebra's merge; `delta` is
    * evaluated lazily inside the fold. */
  def foldState(
      spark: SparkSession,
      statePath: String,
      delta: DataFrame,
      combine: (DataFrame, DataFrame) => DataFrame,
      batchId: Option[Long] = None): DataFrame = {
    Commit.recover(spark, statePath)
    val fs = Commit.fs(spark, statePath)
    val path = new org.apache.hadoop.fs.Path(statePath)
    val exists = fs.exists(path) && fs.listStatus(path).nonEmpty
    if (batchId.exists(_ <= appliedBatchId(spark, statePath)) && exists)
      return read(spark, statePath) // replayed batch: already folded in
    val next = if (exists) combine(read(spark, statePath), delta) else delta
    next.write.mode(SaveMode.Overwrite).parquet(Commit.staged(statePath, statePath))
    Commit.commit(spark, statePath, Seq(Commit.Target(statePath, None)), batchId)
    read(spark, statePath)
  }
}
