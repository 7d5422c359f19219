package graft.core

import java.nio.file.Files

import graft.SparkSpec

/** [[Par.widen]]'s width estimate must be FILE-AWARE (r22): the
  * bytes-only estimate said "1" for any sub-128MB table regardless of
  * file count, so a multi-file mid-size input was round-robin
  * re-shuffled even though its scan is already parallel — measured as
  * a regression at every site on an 8-file copy of the bench tables.
  * Widen also requires a real parallelism multiple
  * ([[Par.WidenMinGain]]×) before paying the exchange. The test
  * session runs local[4], so target = 4 and the gain gate means a
  * 1-file scan (4× deficit exactly) must already no-op.
  */
class ParSpec extends SparkSpec {
  import spark.implicits._

  private def partsOf(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions

  test("widen no-ops on a multi-file scan (width >= target/gain)") {
    val dir = Files.createTempDirectory("graft-widen-mf").toString
    (1 to 400).toDF("x").repartition(4).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val w = Par.widen(df)
    // no extra exchange: the plan has no Repartition node
    assert(!w.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "widen must not re-shuffle an already-parallel multi-file scan")
  }

  test("widen no-ops on a materialized cut with enough blocks") {
    val cut = Reliability.cut((1 to 100).toDF("x").repartition(4))
    val before = partsOf(cut)
    val w = Par.widen(cut)
    assert(partsOf(w) == before, "widen must read the cut's actual block count, not byte stats")
  }

  test("inParallel waits for every builder before it rethrows the first failure in index order") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.inParallel(2) { i =>
        if (i == 0) throw new IllegalStateException("builder 0")
        Thread.sleep(500)
        done.set(true)
        i
      }
    }
    assert(e.getMessage == "builder 0")
    assert(done.get, "inParallel threw while builder 1 was still running")
    // the later failure of builder 0 wins over the earlier one of builder 1
    val first = intercept[RuntimeException] {
      Par.inParallel(2) { i =>
        if (i == 1) throw new RuntimeException("builder 1")
        Thread.sleep(200)
        throw new RuntimeException("builder 0")
      }
    }
    assert(first.getMessage == "builder 0")
    assert(Par.inParallel(3)(i => i * 2) == IndexedSeq(0, 2, 4))
  }

  test("keyedPartitions derives width from measured bytes, clamped to the shuffle width") {
    val max = spark.sessionState.conf.numShufflePartitions
    assert(Reliability.keyedPartitions(spark, None) == max)
    assert(Reliability.keyedPartitions(spark, Some(1L)) == 1)
    assert(Reliability.keyedPartitions(spark, Some(Long.MaxValue / 4)) == max)
  }

  test("cutSized reports the stored size of executor-local blocks") {
    val (c, bytes) = Reliability.cutSized((1 to 1000).toDF("x"))
    assert(c.count() == 1000)
    assert(bytes.exists(_ > 0L), s"expected measured block bytes, got $bytes")
  }
}
