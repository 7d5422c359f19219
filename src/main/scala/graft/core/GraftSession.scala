package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local testing runs `local[32]`; on a real cluster the same knobs hold
  * except parallelism, which the submitter sizes to the cluster. The
  * defaults here are chosen for the 100 TB posture:
  *   - AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  *     broadcast demotion/promotion decided from runtime stats);
  *   - shuffle partitions sized to local cores (32), NOT the 200 default,
  *     so small-SF plans don't drown in empty tasks — AQE re-splits when
  *     a real cluster needs more;
  *   - UTC session timezone for oracle parity and cross-cluster
  *     determinism;
  *   - [[graft.plans.GraftExtensions]] installed: graft's SQL functions
  *     and the band-join rewrite rule are active session-wide.
  */
object GraftSession {
  /** The engine's defaults applied to an arbitrary builder — shared by
    * [[builder]] and entry points that must NOT set a master
    * (spark-submit owns it there, e.g. [[graft.pipeline.ConfigMain]]). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Driver testdata stores naive timestamps; read as instants (UTC)
      // so timestamp arithmetic type-checks — see [[Tables.apply]].
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // When [[Reliability]] runs in reliable mode, superseded rounds'
      // checkpoint files are GC'd as their RDDs fall out of scope —
      // without this an hours-long iterative job accumulates a full
      // working-set snapshot per round for the app's lifetime. MUST be
      // set at context start (ContextCleaner reads it once); sessions
      // not built here need it in their own submit conf — see
      // [[Reliability]].
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .withExtensions(new graft.plans.GraftExtensions)

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    configure(SparkSession.builder().master(master))

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
