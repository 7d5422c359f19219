package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import graft.analytics.Queries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round measurement harness (guide §1): runs named
  * queries through the same session shape as [[Bench]] and prints a
  * PER-JOB wall-time breakdown — the local-mode stand-in for the Spark
  * UI's Jobs page (the UI is disabled in bench sessions). Queries in
  * this engine are one noop-sink action plus the eager
  * `Reliability.cut` / scalar-fetch jobs their construction runs, so
  * "which job burns the time" is exactly the question this answers.
  *
  * Usage: `sbt "runMain graft.QueryProbe <name>[,<name>...] [planDir]"`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32). When `planDir` is given, each query's
  * `explain("formatted")` is written to `<planDir>/<name>.txt`.
  */
object QueryProbe {

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q06_large_join"))
    val planDir = if (args.length > 1) Some(args(1)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.plans.RangeJoinRewrite.SmallRightBytesKey, "65536")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // optional session confs for probing variant arms, `;`-separated
    // key=value entries (a value may contain commas), e.g.
    // SPARK_GRAFT_PROBE_CONF="spark.sql.shuffle.partitions=8;spark.sql.adaptive.enabled=false"
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").map(_.trim).filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.range(1000000).selectExpr("sum(id % 7)").collect()

    val jobStart = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageShuffle = new ConcurrentHashMap[Int, (Long, Long)]() // keyed stageId
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobStart.put(j.jobId,
          (System.nanoTime(), s"stages=${j.stageIds.size} $desc", j.stageIds.map(_.toInt)))
        ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null)
          stageShuffle.put(sc.stageInfo.stageId,
            (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(j.jobId)).foreach { case (t0, meta, stageIds) =>
          val ms = (System.nanoTime() - t0) / 1e6
          // per-job shuffle bytes summed over the job's own stages (the
          // stage-completed events precede job end on the listener bus)
          val (r, w) = stageIds.flatMap(s => Option(stageShuffle.get(s)))
            .foldLeft((0L, 0L)) { case ((ar, aw), (sr, sw)) => (ar + sr, aw + sw) }
          jobLines.add(
            f"    job ${j.jobId}%3d  ${ms}%8.1f ms  shufR=${r / 1e6}%7.2fMB shufW=${w / 1e6}%7.2fMB  $meta")
        }
        ()
      }
    })

    val byName = Queries.all.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        val plan = q.fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(dir, s"$name.txt"), plan.getBytes(StandardCharsets.UTF_8))
        ()
      }
      def once(): Double = {
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        // the Bench hygiene rule (r21) applied to the probe too: drop
        // persisted cut blocks between runs so later queries in a
        // multi-query probe don't carry earlier queries' storage
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        t
      }
      once() // warm: plan compile + codegen + JIT
      once()
      org.apache.spark.GraftSparkBridge.flushListeners(spark.sparkContext)
      jobLines.clear()
      val t = once()
      org.apache.spark.GraftSparkBridge.flushListeners(spark.sparkContext)
      println(f"== $name%-30s ${t}%7.3f s (3rd run) ==")
      jobLines.forEach(l => println(l))
    }
    spark.stop()
  }
}
