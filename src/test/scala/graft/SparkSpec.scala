package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** `body` with the session conf `key` set to `value`, the prior
    * value restored after (the session is shared across suites). */
  protected def withConf[A](key: String, value: String)(body: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** `body` run on each `Dedup.dedupClusters` path: first the driver
    * path (the default broadcast threshold, which every spec graph is
    * under), then the distributed rounds (threshold -1). */
  protected def onBothClusterPaths[A](body: => A): Seq[A] = {
    val key = org.apache.spark.sql.internal.SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    Seq(withConf(key.key, key.defaultValueString)(body), withConf(key.key, "-1")(body))
  }

  /** `body`'s result and the number of Spark jobs it submitted, counted
    * by job group: threads started inside `body` inherit the group, so
    * their jobs count too. */
  protected def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "counted jobs")
    val out =
      try body
      finally sc.clearJobGroup()
    org.apache.spark.GraftSparkBridge.flushListeners(sc)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** (relative file path -> byte length) of every data file under a
    * stored-state dir — the fold-write-footprint probe shared by the
    * partitioned-fold specs: an UNTOUCHED bucket's files keep their
    * exact paths and sizes across a fold; a rewritten bucket's files
    * change names (new job UUIDs). */
  protected def stateFiles(state: String): Map[String, Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(state), true)
    val out = scala.collection.mutable.Map[String, Long]()
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(
        fs.makeQualified(new org.apache.hadoop.fs.Path(state)).toString)
      if (!rel.contains("_SUCCESS") && !rel.contains("_applied_batch"))
        out(rel) = st.getLen
    }
    out.toMap
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // local[4, 2]: 2 task attempts, so specs can prove the
    // task-retry-is-page-retry contract (HttpApiTransportSpec); tests
    // that assert failure still fail after the one extra attempt.
    // Known tradeoff (r15 advice): the second attempt is global, so a
    // flaky nondeterministic task ANYWHERE in the suite could be
    // retried invisibly. Scoping it to the transport spec would need a
    // second SparkContext (task-attempt count is fixed in the local
    // master string at context creation, and every suite shares this
    // one), i.e. stopping and rebuilding the shared session mid-run —
    // more fragility than the risk it removes. Mitigation instead:
    // determinism-sensitive specs assert exact row/pair SETS (and
    // often run their build twice and compare), so a masked flake
    // still surfaces as a value mismatch, not a green retry.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
