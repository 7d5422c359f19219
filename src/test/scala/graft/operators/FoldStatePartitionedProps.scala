package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized end-to-end property for the partition-scoped fold
  * protocol ([[IncrementalAgg.foldStatePartitioned]] driven through
  * [[Similarity.ivfFoldInto]] and [[Quantize.pqFoldInto]]): for random
  * batch splits, re-ingests, delete sets, bucket counts and
  * interleaved replays, the stored state must equal the from-scratch
  * rebuild over the surviving corpus — the same invariant the s16/s17
  * gate rows pin once, here exercised across many random maintenance
  * histories, including the quantizer-refresh migration composed on
  * top ([[Similarity.ivfReassign]] after folds-with-deletes). */
class FoldStatePartitionedProps extends SparkSpec with graft.CrashPoints {
  import spark.implicits._

  private def emb(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
  }

  private def cents(of: org.apache.spark.sql.DataFrame, n: Int) =
    of.filter($"vec_id" < n).select(
      $"vec_id".as("cid"), $"embedding".as("cvec"),
      graft.functions.VectorExpressions.normF($"embedding").as("cnrm"))

  test("random maintenance histories: stored IVF fold == rebuild over survivors (3 seeds)") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed * 101)
      val n = 40 + rnd.nextInt(30)
      val all = emb(n, seed)
      val q = cents(all, 4)
      val nBuckets = Seq(3, 8, 16)(rnd.nextInt(3))
      val nBatches = 2 + rnd.nextInt(3)
      val state = java.nio.file.Files.createTempDirectory(s"ivfprop$seed").toString + "/state"
      val deleted = scala.collection.mutable.Set[Long]()
      val present = scala.collection.mutable.Set[Long]()
      (0 until nBatches).foreach { b =>
        // batch = its slice plus a few random re-ingests of earlier ids
        val re = (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(n).toLong)
        val batchIds = (0L until n.toLong).filter(_ % nBatches == b) ++ re
        val dels = if (rnd.nextBoolean()) Some((0 until 1 + rnd.nextInt(3))
          .map(_ => rnd.nextInt(n + 5).toLong)) else None
        Similarity.ivfFoldInto(spark, state,
          all.filter($"vec_id".isin(batchIds: _*)), "vec_id", "embedding", q,
          Some(b.toLong), nBuckets = nBuckets,
          deletes = dels.map(_.toDF("vec_id")))
        present ++= batchIds.toSet
        dels.foreach { ds => ds.foreach { id => deleted += id; present -= id } }
        if (rnd.nextBoolean()) // interleaved replay of this batch: no-op
          Similarity.ivfFoldInto(spark, state,
            all.filter($"vec_id".isin(batchIds: _*)), "vec_id", "embedding", q,
            Some(b.toLong), nBuckets = nBuckets,
            deletes = dels.map(_.toDF("vec_id")))
      }
      val survivors = present.toSeq.sorted
      val expect = Similarity.prepareIvfIndexWith(
        all.filter($"vec_id".isin(survivors: _*)), "vec_id", "embedding", q).assigned
        .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
      val got = spark.read.parquet(state).select("id", "cluster")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(got == expect, s"seed=$seed n=$n nBuckets=$nBuckets nBatches=$nBatches")
      // compose the quantizer migration on top: reassign-from-state
      // must equal a fresh build of the SURVIVING corpus on new cells
      val q6 = cents(all, 6)
      Similarity.ivfReassign(spark, state, q6, "vec_id", "embedding", nBuckets = nBuckets)
      val expect6 = Similarity.prepareIvfIndexWith(
        all.filter($"vec_id".isin(survivors: _*)), "vec_id", "embedding", q6).assigned
        .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
      assert(spark.read.parquet(state).select("id", "cluster")
        .as[(Long, Long)].collect().sorted.toSeq == expect6, s"reassign seed=$seed")
    }
  }

  test("an all-empty first batch creates no state; the next data fold bootstraps cleanly") {
    // an empty partitioned parquet write produces a schema-less dir
    // (only _SUCCESS), which would permanently poison the state path —
    // the fold must decline to create state from nothing instead
    val all = emb(20, 9)
    val q = cents(all, 4)
    val state = java.nio.file.Files.createTempDirectory("ivfempty").toString + "/state"
    val out = Similarity.ivfFoldInto(spark, state,
      all.filter(lit(false)), "vec_id", "embedding", q, Some(0L), nBuckets = 8)
    assert(out.count() == 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state)),
      "an all-empty bootstrap must not create a state dir")
    // delete-only against nonexistent state is likewise a no-op
    Similarity.ivfFoldInto(spark, state, all.filter(lit(false)),
      "vec_id", "embedding", q, Some(1L), nBuckets = 8,
      deletes = Some(Seq(3L).toDF("vec_id")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state)))
    // the next data-carrying fold bootstraps and is fully usable
    Similarity.ivfFoldInto(spark, state, all, "vec_id", "embedding", q,
      Some(2L), nBuckets = 8)
    assert(spark.read.parquet(state).count() == 20)
  }

  test("a delete fold retiring EVERY posting leaves a usable empty state that refills") {
    val all = emb(16, 13)
    val q = cents(all, 4)
    val state = java.nio.file.Files.createTempDirectory("ivfall").toString + "/state"
    Similarity.ivfFoldInto(spark, state, all, "vec_id", "embedding", q,
      Some(0L), nBuckets = 4)
    // retire everything: the state keeps its dir/marker/identity but
    // holds no partition dirs; the fold must return empty, not throw
    val wiped = Similarity.ivfFoldInto(spark, state, all.filter(lit(false)),
      "vec_id", "embedding", q, Some(1L), nBuckets = 4,
      deletes = Some(all.select($"vec_id")))
    assert(wiped.count() == 0)
    assert(IncrementalAgg.appliedBatchId(spark, state) == 1L, "deletion committed")
    // replay of the wipe short-circuits (returns the empty state)
    assert(Similarity.ivfFoldInto(spark, state, all.filter(lit(false)),
      "vec_id", "embedding", q, Some(1L), nBuckets = 4,
      deletes = Some(all.select($"vec_id"))).count() == 0)
    // quantizer rotation on the EMPTY state must work too (there are
    // no postings to re-assign, but the identity must rotate or every
    // future fold against the new quantizer keeps refusing)
    val q6 = cents(all, 6)
    assert(Similarity.ivfReassign(spark, state, q6, "vec_id", "embedding",
      nBuckets = 4).count() == 0)
    assert(IncrementalAgg.appliedBatchId(spark, state) == 1L, "marker survives rotation")
    // and the state refills from later folds UNDER THE NEW QUANTIZER,
    // gate-equal to a rebuild
    Similarity.ivfFoldInto(spark, state, all.filter($"vec_id" < 10),
      "vec_id", "embedding", q6, Some(2L), nBuckets = 4)
    val expect = Similarity.prepareIvfIndexWith(
      all.filter($"vec_id" < 10), "vec_id", "embedding", q6).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == expect)
  }

  test("ivfReassign refuses the reset-resurrection shape instead of re-blessing deleted state") {
    // a reassign crashed at any of its filesystem steps, then a reset
    // (state and every state.* sibling deleted): the next reassign finds
    // nothing to re-bless, whatever the crash left staged
    val all = emb(20, 17)
    val seed = java.nio.file.Files.createTempDirectory("ivfres").toString
    Similarity.ivfFoldInto(spark, s"$seed/state", all, "vec_id", "embedding", cents(all, 4),
      Some(0L), nBuckets = 4)
    val q6 = cents(all, 6)
    def reassign(dir: String) =
      Similarity.ivfReassign(spark, s"$dir/state", q6, "vec_id", "embedding", nBuckets = 4)
    val base = java.nio.file.Files.createTempDirectory("ivfres").toString
    def copy(name: String) = {
      val d = s"$base/$name"
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(seed), new java.io.File(d)); d
    }
    graft.FaultFs.eachStep { k =>
      val dir = copy(s"k$k")
      val (threw, calls) = graft.FaultFs.run(spark, dir + "/", k)(reassign(dir))
      assert(threw == (calls >= k), s"step $k: threw=$threw after $calls calls")
      reset(dir)
      val e = intercept[IllegalArgumentException](reassign(dir))
      assert(e.getMessage.contains("ivfReassign") && e.getMessage.contains("nothing to reassign"))
      assert(!new java.io.File(s"$dir/state").exists(), s"resurrected after a crash at step $k")
      calls
    }
  }

  test("random maintenance histories: stored PQ fold == re-encode of survivors (2 seeds)") {
    for (seed <- Seq(5, 7)) {
      val rnd = new scala.util.Random(seed * 31)
      val n = 30 + rnd.nextInt(20)
      val all = emb(n, seed)
      val cb = Quantize.pqCodebook(all, "vec_id", "embedding", 2, 2, 6)
      val nBuckets = Seq(4, 8)(rnd.nextInt(2))
      val nBatches = 2 + rnd.nextInt(2)
      val state = java.nio.file.Files.createTempDirectory(s"pqprop$seed").toString + "/state"
      val present = scala.collection.mutable.Set[Long]()
      (0 until nBatches).foreach { b =>
        val batchIds = (0L until n.toLong).filter(_ % nBatches == b)
        val dels = if (rnd.nextBoolean()) Some((0 until 1 + rnd.nextInt(2))
          .map(_ => rnd.nextInt(n).toLong)) else None
        Quantize.pqFoldInto(spark, state,
          all.filter($"vec_id".isin(batchIds: _*)), "vec_id", "embedding", cb,
          2, 2, Some(b.toLong), nBuckets = nBuckets,
          deletes = dels.map(_.toDF("vec_id")))
        present ++= batchIds.toSet
        dels.foreach(_.foreach(present -= _))
      }
      val survivors = present.toSeq.sorted
      val expect = Quantize.pqEncodeWith(
        all.filter($"vec_id".isin(survivors: _*)), "vec_id", "embedding", cb, 2, 2)
        .select($"vec_id", $"sub", $"code").as[(Long, Long, Long)].collect().sorted.toSeq
      val got = spark.read.parquet(state).select("cand_id", "sub", "code")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == expect, s"seed=$seed n=$n nBuckets=$nBuckets nBatches=$nBatches")
    }
  }
}
