package graft.core

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec
import graft.operators.{Dedup, GraphRank, Similarity}

/** The reliable-checkpoint policy must be semantically invisible: every
  * iterative operator returns bit-identical results whether its lineage
  * cuts are executor-local (default) or written to the checkpoint
  * directory (`spark.graft.checkpoint.dir` set). Keyed cuts record
  * their hash partitioning without touching the shared session's conf. */
class ReliabilitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withReliableDir[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Reliability.CheckpointDirKey, dir)
    try body
    finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  test("pageRank is bit-identical through the reliable checkpoint path") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val local = GraphRank.pageRank(edges, iters = 3).as[(Long, Long)].collect().toMap
    val reliable = withReliableDir {
      GraphRank.pageRank(edges, iters = 3).as[(Long, Long)].collect().toMap
    }
    assert(reliable == local)
  }

  test("dedupClusters is bit-identical through the reliable checkpoint path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (9L, 7L))
      .toDF("id_a", "id_b")
    onBothClusterPaths {
      val local = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
      val reliable = withReliableDir {
        Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
      }
      (local, reliable)
    }.foreach { case (local, reliable) => assert(reliable == local && local.size == 6) }
  }

  test("trainCentroids is bit-identical through the reliable checkpoint path") {
    val emb = (0L until 12L)
      .map(i => (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 5).toFloat)))
      .toDF("id", "emb")
    def run() = Similarity.trainCentroids(emb, "id", "emb", k = 3, iters = 2)
      .as[(Long, Array[Float], Double)].collect()
      .map(c => (c._1, c._2.toSeq, c._3)).toSet
    val local = run()
    val reliable = withReliableDir(run())
    assert(reliable == local)
  }

  test("cutSized measures the checkpoint files, so a tiny table gets a narrow keyed width") {
    withReliableDir {
      val (c, bytes) = Reliability.cutSized((1 to 1000).toDF("x"))
      assert(c.count() == 1000)
      assert(bytes.exists(_ > 0L), s"expected the checkpoint files' bytes, got $bytes")
      val width = Reliability.keyedPartitions(spark, bytes)
      assert(width < spark.sessionState.conf.numShufflePartitions, s"keyed width $width")
    }
  }

  test("the reliable path actually writes checkpoint files") {
    val dir = Files.createTempDirectory("graft-ckpt-files")
    spark.conf.set(Reliability.CheckpointDirKey, dir.toString)
    try {
      Reliability.cut(Seq(1, 2, 3).toDF("x")).collect()
      // setCheckpointDir mints a UUID subdir; the cut must have
      // populated it with rdd block files
      val written = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(written > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset(Reliability.CheckpointDirKey)
  }

  test("a reliable base is applied once, and a new base takes the next cut") {
    def uuidDirs(base: Path) = {
      val ls = Files.list(base)
      try ls.filter(Files.isDirectory(_)).count()
      finally ls.close()
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val first = Files.createTempDirectory("graft-ckpt-first")
    // pageRank makes plain and keyed cuts, eager and lazy
    withConf(Reliability.CheckpointDirKey, first.toString) {
      GraphRank.pageRank(edges, iters = 3).collect()
    }
    assert(uuidDirs(first) == 1, s"one checkpoint dir expected under $first")
    val second = Files.createTempDirectory("graft-ckpt-second")
    withConf(Reliability.CheckpointDirKey, second.toString) {
      Reliability.cut(Seq(1, 2, 3).toDF("x")).collect()
    }
    assert(uuidDirs(second) == 1 && uuidDirs(first) == 1)
    val written = Files.walk(second).filter(Files.isRegularFile(_)).count()
    assert(written > 0, s"no checkpoint files under $second")
  }

  test("cutPartitioned records the key's hash partitioning on the caller's session") {
    val c = Reliability.cutPartitioned((0L until 100L).toDF("k").repartition(col("k")))
    assert(c.sparkSession eq spark)
    val part = c.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }
    part match {
      case Some(h: HashPartitioning) => assert(h.references.map(_.name).toSeq == Seq("k"))
      case other                     => fail(s"expected hash partitioning on k, got $other")
    }
    val plan = c.groupBy("k").count().queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"a keyed aggregate over the cut re-shuffles:\n$plan")
  }

  test("keyed cuts reuse one AQE-off clone until the session conf changes") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def keyedCut() = Reliability.cutPartitioned(
      spark.range(0, 100, 1, 4).selectExpr("id % 7 AS k", "id * 3 AS v").repartition(col("k")))
    keyedCut().count()
    val before = compiles.getCount
    keyedCut().count()
    assert(compiles.getCount == before, "a repeated keyed cut compiled new generated classes")
    // a conf set after the clone was made still reaches the next cut
    val file = withReliableDir(keyedCut()).queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd.getCheckpointFile
    }.flatten
    assert(file.isDefined, "the keyed cut missed the checkpoint dir set after the clone")
  }

  test("a query planned while a keyed cut runs stays adaptive") {
    val aqe = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val gate = ReliabilitySpec.Gate.reset()
    val held = udf { (x: Long) => ReliabilitySpec.Gate.hold(); x }
    val input = spark.range(0, 8, 1, 2).select(held(col("id")).as("k")).repartition(col("k"))
    val pool = Executors.newSingleThreadExecutor()
    try {
      val cut = pool.submit(() => Reliability.cutPartitioned(input))
      assert(gate.entered.await(60, TimeUnit.SECONDS), "the keyed cut's job never started")
      val (flag, plan) =
        try (spark.conf.get(aqe), spark.range(10).groupBy("id").count().queryExecution.executedPlan)
        finally gate.release.countDown()
      assert(flag == "true", "the shared session's AQE flag changed under a keyed cut")
      assert(plan.isInstanceOf[AdaptiveSparkPlanExec], s"planned without AQE:\n$plan")
      assert(cut.get(60, TimeUnit.SECONDS).count() == 8)
    } finally {
      gate.release.countDown()
      pool.shutdownNow()
    }
  }
}

object ReliabilitySpec {

  /** A latch pair the held UDF meets on the executor threads (same JVM
    * under `local`): `entered` opens when the first row is evaluated,
    * and every row then waits, at most 60 s, for `release`. */
  final class Gate {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }

  object Gate {
    @volatile private var current = new Gate

    def reset(): Gate = { current = new Gate; current }

    def hold(): Unit = {
      val g = current
      g.entered.countDown()
      g.release.await(60, TimeUnit.SECONDS)
    }
  }
}
