package graft

import graft.core.{GraftSession, Tables}
import graft.functions.VectorExpressions
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Maintenance-fold write-volume probe (the BENCH_scale evidence for
  * the bucket-partitioned IVF state): builds a stored inverted file
  * from the embeddings corpus at `SPARK_GRAFT_SF_DIR`, folds one
  * FIXED-SIZE re-ingest batch, and reports how many bytes of state the
  * fold actually rewrote vs the state's total size. Under corpus
  * growth with the bucket count scaled to hold bucket size ~constant
  * (the production sizing rule — the same discipline as
  * `spark.sql.files.maxPartitionBytes`), the rewritten volume tracks
  * the BATCH, while the r19 whole-state-rewrite protocol's volume was
  * the CORPUS by construction.
  *
  * Args/env: `SPARK_GRAFT_SF_DIR` (corpus), `SPARK_GRAFT_BUCKETS`
  * (default 64), `SPARK_GRAFT_BATCH_IDS` (default 64 re-ingested ids).
  * Prints ONE JSON line. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val nBuckets = sys.env.getOrElse("SPARK_GRAFT_BUCKETS", "64").toInt
    val batchIds = sys.env.getOrElse("SPARK_GRAFT_BATCH_IDS", "64").toInt
    val spark = GraftSession.get()
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 8).select(
      col("vec_id").as("cid"), col("embedding").as("cvec"),
      VectorExpressions.normF(col("embedding")).as("cnrm"))
    val base = java.nio.file.Files.createTempDirectory("scaleprobe").toString
    val state = s"$base/state"

    def files(): Map[String, Long] = {
      val fs = graft.core.Commit.fs(spark, state)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(state), true)
      val out = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) {
        val st = it.next()
        out(st.getPath.toString) = st.getLen
      }
      out.toMap
    }

    // bootstrap the corpus-sized state (the prepare phase, measured
    // separately from the fold under test)
    val t0 = System.nanoTime()
    Similarity.ivfFoldInto(spark, state, emb, "vec_id", "embedding", cents,
      Some(0L), nBuckets = nBuckets)
    val bootstrapSec = (System.nanoTime() - t0) / 1e9
    val before = files()
    val stateBytes = before.values.sum
    val corpusRows = emb.count()

    // the fold under test: a FIXED-SIZE re-ingest batch (constant
    // across scale points, so the ∝-batch claim is directly visible)
    val t1 = System.nanoTime()
    Similarity.ivfFoldInto(spark, state,
      emb.filter(col("vec_id") < batchIds), "vec_id", "embedding", cents,
      Some(1L), nBuckets = nBuckets)
    val foldSec = (System.nanoTime() - t1) / 1e9
    val after = files()
    val written = after.collect {
      case (k, len) if before.get(k) != Some(len) => len
    }.sum

    println(
      s"""{"probe":"ivf_fold_write","sf_dir":"$dir","corpus_rows":$corpusRows,""" +
      s""""n_buckets":$nBuckets,"batch_ids":$batchIds,""" +
      s""""state_mb":${"%.2f".format(stateBytes / 1048576.0)},""" +
      s""""fold_write_mb":${"%.2f".format(written / 1048576.0)},""" +
      s""""fold_sec":${"%.2f".format(foldSec)},""" +
      s""""bootstrap_sec":${"%.2f".format(bootstrapSec)}}""")
    spark.stop()
  }
}
