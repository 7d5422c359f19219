package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism hygiene for compute-bound per-row operators.
  *
  * A small parquet file arrives as ONE scan partition, which pins every
  * downstream per-row expression (sketches, shingles, bucket codes) to a
  * single task — the bench tables are exactly this shape. At 100 TB the
  * scan is already wider than the cluster and [[widen]] is a no-op; on a
  * narrow scan it inserts one round-robin shuffle of the raw rows, which
  * is negligible next to the sketch compute it unlocks.
  */
object Par {

  /** Evaluate `n` independent builders concurrently and return their
    * results in index order — the guide-§2.6 "overlap independent jobs"
    * pattern for work whose pieces each run eager Spark jobs (an eager
    * [[Reliability.cut]], a scalar fetch, a replica's upsert): submitted
    * from one thread the jobs serialize, from a small pool the scheduler
    * back-fills each job's tail with the next job's tasks. Builders MUST
    * be independent (no shared mutable state); Spark job submission is
    * thread-safe.
    *
    * Every builder ends before this returns or throws: a failure is
    * rethrown (the first in index order) only once the others are done,
    * so no builder is still submitting jobs after its caller has moved
    * on. The pool's threads are created by this call on the calling
    * thread, so they inherit its Spark local properties (job group,
    * scheduler pool). */
  def inParallel[T](n: Int)(build: Int => T): IndexedSeq[T] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    import scala.util.{Failure, Success, Try}
    // a dedicated fixed pool sized n (r22, advice): the builders BLOCK
    // on Spark actions, and parking them on a shared pool would eat its
    // parallelism for any nested or wider use. The pool dies with this
    // call; threads are daemons so an abandoned builder can never pin
    // the JVM.
    val pool = Executors.newFixedThreadPool(
      math.max(1, n),
      (r: Runnable) => { val t = new Thread(r, "graft-par"); t.setDaemon(true); t })
    try {
      val fs = (0 until n).map(i => pool.submit(new Callable[T] { def call(): T = build(i) }))
      val outcomes = fs.map(f => Try(f.get())) // waits for every builder
      outcomes.map {
        case Success(v)                                           => v
        case Failure(e: ExecutionException) if e.getCause != null => throw e.getCause
        case Failure(e)                                           => throw e
      }
    } finally pool.shutdown()
  }

  /** Require at least this parallelism multiple before widening: the
    * round-robin exchange re-shuffles the whole input, so it only pays
    * when it unlocks a LARGE factor of extra cores. Measured (r22,
    * interleaved in-JVM A/B on an 8-file copy of the sf0.1 tables):
    * widening an already-8-way scan to 32 REGRESSED every site that
    * wins from 1→32 (q06 0.78→0.91, q14 0.55→0.87, q23 0.54→0.70,
    * q31 0.63→0.79, t26 1.45→1.71 s) — a 4× deficit is the observed
    * break-even. */
  private val WidenMinGain = 4L

  /** Repartition `df` to the session's default parallelism iff the scan
    * is estimated narrower than it.
    *
    * The estimate reads the ANALYZED plan's leaf statistics
    * (`sizeInBytes` / `spark.sql.files.maxPartitionBytes`, the same
    * arithmetic file splitting uses) instead of `df.rdd
    * .getNumPartitions` — materializing the RDD forces full physical
    * planning + codegen of the query twice (once here, once at
    * execution), which billed every sketch query a second planning pass.
    * Analysis is already done by the time a DataFrame exists, so the
    * stats read is free. The estimate ignores per-file packing
    * (`openCostInBytes`), which can only UNDER-estimate width and cause
    * a redundant repartition of an already-wide scan — a second shuffle,
    * never a lost one. A file scan's width counts
    * `HadoopFsRelation.location.inputFiles`, the WHOLE relation's
    * listing: partition pruning is ignored, so a pruned scan over a
    * many-file partitioned table is over-counted and can skip a widen
    * that would help (again the safe direction), and the listing itself
    * is read even when the scan touches a few partitions.
    */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    // width estimate per leaf (r22: FILE-AWARE, not just bytes — the
    // bytes-only estimate said "1" for any sub-128MB table regardless
    // of file count, so a multi-file mid-size input was re-shuffled
    // even though its scan is already parallel; at full scale both
    // estimates agree on a no-op):
    //  - file scans: max(file count, size/maxPartitionBytes) — files
    //    under maxPartitionBytes each get their own split (open cost),
    //    bigger ones split further; over-estimating only SKIPS a
    //    widen, the safe direction;
    //  - materialized cuts (LogicalRDD): the actual block count;
    //  - anything else: the bytes estimate.
    val estimated = df.queryExecution.analyzed.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val bytesW = (lr.relation.sizeInBytes / maxPartBytes) + 1L
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            math.max(fs.location.inputFiles.length.toLong, bytesW)
          case _ => bytesW
        }
      case lrdd: org.apache.spark.sql.execution.LogicalRDD =>
        lrdd.rdd.getNumPartitions.toLong
      case l => (l.stats.sizeInBytes / maxPartBytes).toLong + 1L
    }.sum
    if (estimated * WidenMinGain >= target) df else df.repartition(target)
  }
}
