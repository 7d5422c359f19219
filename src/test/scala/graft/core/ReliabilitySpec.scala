package graft.core

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Dedup, GraphRank, Similarity}

/** The reliable-checkpoint policy must be semantically invisible: every
  * iterative operator returns bit-identical results whether its lineage
  * cuts are executor-local (default) or written to the checkpoint
  * directory (`spark.graft.checkpoint.dir` set). */
class ReliabilitySpec extends SparkSpec {
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
}
