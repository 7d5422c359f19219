package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance must equal from-scratch recompute — the
  * invariant that lets a rollup be trusted without ever auditing it
  * against history.
  */
class IncrementalAggSpec extends SparkSpec with graft.CrashPoints {
  import spark.implicits._

  private val spec = IncrementalAgg.Spec(
    keys = Seq("k"), sums = Seq("v"), mins = Seq("v"), maxs = Seq("v"))

  private def batch(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => (rnd.nextInt(5), rnd.nextInt(1000) - 500, rnd.nextDouble()))
      .toDF("k", "v", "noise")
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      s"state mismatch:\nA=${a.orderBy("k").collect().mkString("; ")}\nB=${b.orderBy("k").collect().mkString("; ")}")
  }

  test("sequential updates equal one partial over the union, bit-exact") {
    val dir = java.nio.file.Files.createTempDirectory("incagg").toString + "/state"
    val b1 = batch(1, 400); val b2 = batch(2, 300); val b3 = batch(3, 1)
    IncrementalAgg.update(spark, dir, b1, spec)
    IncrementalAgg.update(spark, dir, b2, spec)
    val got = IncrementalAgg.update(spark, dir, b3, spec)
    assertSame(got, IncrementalAgg.partial(b1.union(b2).union(b3), spec))
  }

  test("combine is order-insensitive (decimal sums, no double drift)") {
    val p1 = IncrementalAgg.partial(batch(4, 500), spec)
    val p2 = IncrementalAgg.partial(batch(5, 500), spec)
    assertSame(
      IncrementalAgg.combine(p1, p2, spec),
      IncrementalAgg.combine(p2, p1, spec))
  }

  test("state stays one row per key with the declared columns") {
    val dir = java.nio.file.Files.createTempDirectory("incagg").toString + "/state"
    IncrementalAgg.update(spark, dir, batch(6, 200), spec)
    val st = IncrementalAgg.update(spark, dir, batch(7, 200), spec)
    assert(st.columns.toSeq == Seq("k", "n_rows", "sum_v", "min_v", "max_v"))
    assert(st.groupBy("k").count().filter($"count" > 1).count() === 0)
  }

  test("a crash inside the swap window is recovered: no folded history is lost") {
    // every mutating filesystem step of a fold is a crash point; after
    // the crash the next fold must hold what an uninterrupted one holds,
    // and a reset must start fresh instead of reviving either version
    val seed = java.nio.file.Files.createTempDirectory("incagg").toString
    IncrementalAgg.update(spark, s"$seed/state", batch(20, 300), spec, batchId = Some(0L))
    val b2 = batch(21, 200)
    everyCrashPoint(seed, resetStartsFresh = true)(dir =>
      IncrementalAgg.update(spark, s"$dir/state", b2, spec, batchId = Some(1L))
    )(dir => (rows(s"$dir/state"), IncrementalAgg.appliedBatchId(spark, s"$dir/state")))
  }

  test("a crashed write-in-progress temp dir (no _SUCCESS) is not mistaken for state") {
    // crash early in the fold's staging write. The live state is
    // intact; the next fold drops the staged garbage
    val base = java.nio.file.Files.createTempDirectory("incagg").toString
    val dir = s"$base/state"
    val b1 = batch(22, 300); val b2 = batch(23, 200)
    IncrementalAgg.update(spark, dir, b1, spec)
    assert(graft.FaultFs.run(spark, base + "/", k = 3)(IncrementalAgg.update(spark, dir, b2, spec))._1)
    assert(new java.io.File(dir + ".staging").exists())
    assertSame(IncrementalAgg.read(spark, dir), IncrementalAgg.partial(b1, spec))
    val got = IncrementalAgg.update(spark, dir, b2, spec)
    assertSame(got, IncrementalAgg.partial(b1.union(b2), spec))
  }

  test("guardStateIdentity: adopts fresh, accepts matching, rejects mismatching") {
    val base = java.nio.file.Files.createTempDirectory("incagg").toString
    val dir = s"$base/state"
    def stored = graft.core.Commit.identity(spark, dir).get("test")
    // no state yet: guard commits the identity, fold proceeds
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=A", "spec")
    assert(stored.contains("cfg=A"))
    IncrementalAgg.update(spark, dir, batch(24, 100), spec)
    // live state + matching identity: fine
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=A", "spec")
    // live state + different identity: loud
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=B", "spec")
    }
    assert(e.getMessage.contains("cfg=A") && e.getMessage.contains("cfg=B"))
    assert(stored.contains("cfg=A"))
    // deleting the state dir legitimately resets the identity
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=B", "spec")
    assert(stored.contains("cfg=B"))
  }

  test("update shuffles state + batch keys, never history") {
    // structural form of the scale claim: the update plan reads only
    // the state parquet and the batch — there is no lineage back to
    // prior batches once the state is materialized
    val dir = java.nio.file.Files.createTempDirectory("incagg").toString + "/state"
    IncrementalAgg.update(spark, dir, batch(8, 100), spec)
    val plan = IncrementalAgg.combine(
      IncrementalAgg.read(spark, dir), IncrementalAgg.partial(batch(9, 100), spec), spec)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Relation") && plan.contains("parquet"))
  }

  test("guardStateIdentity after a crash and a reset adopts fresh state, never old rows") {
    // a fold crashes after staging its new state; the user then resets
    // as the mismatch message instructs. The staged copy must not come
    // back under the new identity
    val base = java.nio.file.Files.createTempDirectory("incagg").toString
    val dir = s"$base/state"
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=A", "spec")
    IncrementalAgg.update(spark, dir, batch(30, 200), spec, batchId = Some(0L))
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=B", "spec")
    }
    assert(e.getMessage.contains(s"every $dir.* sibling"))
    val (crashed, _) = graft.FaultFs.run(spark, base + "/", k = 3)(
      IncrementalAgg.update(spark, dir, batch(31, 200), spec, batchId = Some(1L)))
    assert(crashed && new java.io.File(dir + ".staging").exists())
    reset(base)
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=B", "spec")
    assert(!new java.io.File(dir).exists())
    assert(graft.core.Commit.identity(spark, dir) == Map("test" -> "cfg=B"))
    val b = batch(32, 100)
    assertSame(IncrementalAgg.update(spark, dir, b, spec, batchId = Some(0L)), IncrementalAgg.partial(b, spec))
  }

  test("foldStatePartitioned: keep-latest fold, read pruning, empty delta, watermark") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.input_file_name
    val base = java.nio.file.Files.createTempDirectory("incpart").toString
    val dir = s"$base/state"
    def mk(rows: Seq[(Long, Long)]): DataFrame =
      rows.toDF("id", "v").withColumn("pbucket", pmod(col("id"), lit(4)).cast("int"))
    // keep-latest upsert on id — the idempotent algebra the partitioned
    // protocol's replay contract requires
    val combine = (state: DataFrame, delta: DataFrame) =>
      state.join(delta.select(col("id")), Seq("id"), "left_anti").unionByName(delta)
    IncrementalAgg.foldStatePartitioned(spark, dir,
      mk((0L until 12L).map(i => i -> i)), "pbucket", combine, Some(0L))
    // fold 2: ids 5 (re-ingest, bucket 1) and 13 (new, bucket 1)
    IncrementalAgg.foldStatePartitioned(spark, dir,
      mk(Seq(5L -> 500L, 13L -> 13L)), "pbucket", combine, Some(1L))
    val got = spark.read.parquet(dir).select("id", "v")
      .as[(Long, Long)].collect().sorted.toSeq
    val expect = ((0L until 12L).filter(_ != 5L).map(i => i -> i) ++
      Seq(5L -> 500L, 13L -> 13L)).sorted
    assert(got == expect)
    // READ pruning: the touched-slice read must only open the touched
    // buckets' files — at corpus scale this is what keeps fold READ
    // cost ∝ touched slice, the read-side twin of the write claim
    val pruned = spark.read.parquet(dir)
      .filter(Upsert.partitionFilter("pbucket", Seq(1)))
      .select(input_file_name()).distinct().as[String].collect()
    assert(pruned.nonEmpty && pruned.forall(_.contains("pbucket=1")),
      s"pruned read must touch only pbucket=1 files, got: ${pruned.mkString(",")}")
    // an empty delta is a watermark-only fold: no partition rewritten
    val before = spark.read.parquet(dir).collect().map(_.toSeq).sortBy(_.toString).toSeq
    IncrementalAgg.foldStatePartitioned(spark, dir,
      mk(Nil), "pbucket", combine, Some(2L))
    assert(IncrementalAgg.appliedBatchId(spark, dir) == 2L)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).sortBy(_.toString).toSeq == before)
    // replayed and stale batch ids short-circuit
    IncrementalAgg.foldStatePartitioned(spark, dir,
      mk(Seq(5L -> 999L)), "pbucket", combine, Some(1L))
    assert(spark.read.parquet(dir).filter(col("id") === 5L)
      .select("v").as[Long].head() == 500L)
  }

  test("guardStateIdentity adopts over live pre-sidecar legacy state, then enforces") {
    // a state built without a guard has no identity: first guarded
    // contact adopts (with a logged warning — unverifiable here, the
    // adoption itself is the behavior under test), after which the
    // identity is enforced like any other
    val base = java.nio.file.Files.createTempDirectory("incagg").toString
    val dir = s"$base/state"
    IncrementalAgg.update(spark, dir, batch(32, 200), spec) // unguarded legacy build
    assert(graft.core.Commit.identity(spark, dir).isEmpty)
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=L", "spec") // adopts
    assert(graft.core.Commit.identity(spark, dir) == Map("test" -> "cfg=L"))
    IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=L", "spec") // matches
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.guardStateIdentity(spark, dir, "test", "cfg=M", "spec")
    }
    assert(e.getMessage.contains("cfg=L"))
  }
}
