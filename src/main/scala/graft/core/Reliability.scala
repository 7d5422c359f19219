package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Lineage-cut policy for the engine's iterative operators (PageRank,
  * min-label cluster propagation, k-means training).
  *
  * Each round of an iterative operator materializes its working set and
  * cuts lineage — otherwise round k's job re-derives rounds 1..k-1 and
  * the plan grows without bound. HOW the cut stores its blocks is a
  * fault-tolerance choice, not a semantics choice:
  *
  *   - `localCheckpoint()` keeps blocks on executors. Fast (no
  *     filesystem round trip), right for `local[*]` and short-lived
  *     jobs — but lineage is GONE, so on a real cluster one lost
  *     executor after round k kills the whole job unrecoverably.
  *   - reliable `checkpoint()` writes blocks to the checkpoint
  *     directory (HDFS/S3 on a cluster). A lost executor re-reads the
  *     checkpoint files and the job continues — the recovery contract a
  *     1000-executor, hours-long iteration needs (the reference's
  *     checkpoint/resume capability, crime_etl.py:132-168, applied at
  *     the operator level).
  *
  * The knob is the session conf [[Reliability.CheckpointDirKey]]: unset
  * (the default) → executor-local cut; set to a directory → reliable
  * cut through that directory. Both paths produce a `LogicalRDD` that
  * preserves the physical plan's output partitioning, so the
  * partitioning-reuse optimizations around these cuts (e.g. the
  * pre-partitioned edge list in `Dedup.dedupClusters`) hold identically
  * under either policy, and results are bit-for-bit the same — the
  * reliable path is spec-gated on exactly that equality.
  */
object Reliability {

  /** Session conf: directory for reliable checkpoints. Unset → cuts are
    * executor-local (`localCheckpoint`).
    *
    * Storage lifecycle: each round of an iterative operator writes a
    * working-set snapshot under this directory, so superseded rounds
    * must be garbage-collected or a long job accumulates unbounded
    * checkpoint storage. [[GraftSession]] enables
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (Spark's
    * ContextCleaner then deletes a round's files once its RDD is
    * unreachable); that flag is read ONCE at SparkContext start, so a
    * deployment building its own session must set it in the submit
    * conf — or point the dir at storage with an external TTL/lifecycle
    * rule. */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  /** Materialize `df` and cut its lineage under the session's
    * checkpoint policy (see object doc). Eager in both modes — the
    * iterative callers all reuse the cut result at least twice per
    * round, so deferred materialization only moves the cost. */
  def cut(df: DataFrame): DataFrame = cut(df, eager = true)

  /** [[cut]] of a plan whose OUTPUT PARTITIONING the caller needs
    * downstream (a deliberate `repartition(joinKey)`, or an
    * aggregation that rides one): planned with AQE off, on a private
    * clone of the session, so the resulting `LogicalRDD` records the
    * hash partitioning. With AQE on, `Dataset.checkpoint` reads the
    * partitioning off the adaptive plan and records
    * `UnknownPartitioning` — every downstream join keyed on the
    * partitioning then silently re-shuffles the materialized table
    * (r22 probe: each PageRank round re-shuffled the full undirected
    * edge list, 10.35 MB/round at sf0.1, because of exactly this).
    * The result lives on `df`'s own session.
    *
    * `eager = false` defers the block write to the first action, like
    * [[cutLazy]]; planning (where the partitioning is captured) still
    * happens here with AQE off either way. */
  def cutPartitioned(df: DataFrame, eager: Boolean = true): DataFrame =
    GraftSqlBridge.withAqeOff(df)(cut(_, eager))

  /** Eager [[cut]] plus the ACTUAL stored byte size of the
    * materialized blocks, read back after the write. This is ground
    * truth where plan statistics are not: a post-join/post-aggregation
    * subtree's `sizeInBytes` estimate is off by orders of magnitude,
    * but the blocks just written have an exact size. Under the
    * executor-local policy the size is the blocks' DESERIALIZED
    * in-memory bytes (memory plus disk) from the block manager, which
    * runs several times larger than the serialized shuffle bytes AQE
    * sizes partitions by; see [[keyedPartitions]]. Under the reliable
    * policy it is the summed length of the cut's checkpoint files,
    * which hold serialized rows. `None` only if neither is found —
    * callers then fall back to the configured shuffle width. */
  def cutSized(df: DataFrame): (DataFrame, Option[Long]) = {
    val c = cut(df, eager = true)
    val sc = df.sparkSession.sparkContext
    val bytes = cutRdd(c).flatMap(r => r.getCheckpointFile match {
      case Some(f) =>
        val p = new Path(f)
        Some(p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength)
      case None => sc.getRDDStorageInfo.find(_.id == r.id).map(i => i.memSize + i.diskSize)
    })
    (c, bytes)
  }

  /** Drop the blocks of a cut once nothing will read it again, instead
    * of holding them until the ContextCleaner collects the unreachable
    * RDD. Under the executor-local policy any later action on `cut`
    * fails, so call this only after the last consumer has materialized.
    * Reliable checkpoint files are left to the cleaner (see
    * [[CheckpointDirKey]]). */
  def release(cut: DataFrame): Unit = cutRdd(cut).foreach(_.unpersist(blocking = false))

  private def cutRdd(cut: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    cut.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** SCALE-ADAPTIVE partition count for a keyed materialization
    * holding `bytes` of (deserialized) rows:
    * `ceil(bytes / advisoryPartitionSizeInBytes)` clamped to
    * `[1, spark.sql.shuffle.partitions]`. A deliberate
    * `repartition(key)` that feeds [[cutPartitioned]] is planned with
    * AQE off, so nothing coalesces it — a tiny table would otherwise
    * be pinned at the full shuffle width and every downstream
    * per-round join would pay mostly-empty tasks, while a constant
    * small width would serialize the cluster-scale case. Deriving the
    * width from the measured input size keeps both ends honest (the
    * arithmetic AQE coalescing applies, done statically). The units
    * differ, though: under the executor-local policy [[cutSized]]
    * reports deserialized block bytes, while the advisory size is
    * calibrated for serialized shuffle bytes, so the width can
    * overshoot AQE's by the deserialization factor — more, smaller
    * partitions, the safe direction. */
  def keyedPartitions(spark: org.apache.spark.sql.SparkSession, bytes: Option[Long]): Int = {
    val conf = spark.sessionState.conf
    val max = conf.numShufflePartitions
    bytes match {
      case Some(b) =>
        val adv = conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        math.max(1L, math.min(max.toLong, (b + adv - 1) / math.max(1L, adv))).toInt
      case None => max
    }
  }

  /** [[cut]] deferred to the FIRST ACTION on the result: the blocks
    * are written as a side effect of a job the caller was about to run
    * anyway, saving one job submission per cut. Fits iterative loops
    * whose next step is a total aggregation over the cut result
    * (BPE's pair fold); callers that fan the result into several
    * actions should keep the eager [[cut]] so the materialization
    * isn't attributed to an arbitrary first consumer. */
  def cutLazy(df: DataFrame): DataFrame = cut(df, eager = false)

  private def cut(df: DataFrame, eager: Boolean): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh UUID subdirectory per call —
        // apply a base once (the context's dir sits right under it),
        // not once per round
        val base = new Path(dir)
        val qualified = base.getFileSystem(sc.hadoopConfiguration).makeQualified(base)
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }
}
