package graft.streaming

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The streaming-sink row for the ANN index family
  * ([[EventStream.ivfRollupSink]]) on a real file-source stream across
  * restarts and an injected replay — the SketchRollupSinksSpec
  * discipline applied to the maintained inverted file. IVF assignment
  * is a pure per-row function of (vector, frozen quantizer) and the
  * posting upsert is deterministic, so the contract is the strongest
  * form: streamed state ≡ the clean batch fold ≡ the whole-corpus
  * assignment, bit for bit, and the bucket-partitioned state serves
  * queries directly. */
class IvfRollupSinkSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))
  ))

  private def vecs(ids: Range): DataFrame = {
    val rnd = new scala.util.Random(23)
    val all = (0 until 60).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat())))
    ids.map(all).toDF("vec_id", "embedding")
  }

  private def land(dir: String, name: String, modTime: Long, ids: Range): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("vbatch").toString
    vecs(ids).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.copy(part.toPath, dst)
    dst.toFile.setLastModified(modTime)
  }

  test("IVF sink: restarts + replay ≡ clean batch fold ≡ whole-corpus assignment; serves directly") {
    val base = java.nio.file.Files.createTempDirectory("vsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = vecs(0 until 60)
    val q = corpus.filter($"vec_id" < 4).select(
      $"vec_id".as("cid"), $"embedding".as("cvec"),
      graft.functions.VectorExpressions.normF($"embedding").as("cnrm"))
    def sink() = EventStream.ivfRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "vec_id", "embedding", q, nBuckets = 8)
    def rows(path: String) = spark.read.parquet(path).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq
    val t0 = System.currentTimeMillis() - 60000

    land(in, "b0.parquet", t0, 0 until 20)
    sink().awaitTermination(60000)
    // restart 1 with a new file, then the injected replay
    land(in, "b1.parquet", t0 + 1000, 20 until 40)
    sink().awaitTermination(60000)
    val beforeReplay = rows(state)
    Similarity.ivfFoldInto(spark, state, vecs(20 until 40),
      "vec_id", "embedding", q, Some(1L), nBuckets = 8)
    assert(rows(state) == beforeReplay, "replayed batch must not re-fold")
    // restart 2, then an empty restart
    land(in, "b2.parquet", t0 + 2000, 40 until 60)
    sink().awaitTermination(60000)
    val beforeEmpty = rows(state)
    sink().awaitTermination(60000)
    assert(rows(state) == beforeEmpty)

    // streamed ≡ clean batch fold ≡ whole-corpus assignment
    val clean = s"$base/clean"
    Seq(0 until 20, 20 until 40, 40 until 60).zipWithIndex.foreach { case (r, i) =>
      Similarity.ivfFoldInto(spark, clean, vecs(r),
        "vec_id", "embedding", q, Some(i.toLong), nBuckets = 8)
    }
    assert(rows(state) == rows(clean), "streamed == clean batch fold")
    val whole = Similarity.prepareIvfIndexWith(corpus, "vec_id", "embedding", q).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(rows(state) == whole, "fold == whole-corpus assignment, bit for bit")

    // the streamed state IS the serving index
    val queries = corpus.filter($"vec_id" % 10 === 0)
    val servedStream = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.IvfIndex(q, spark.read.parquet(state)), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val servedFresh = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.prepareIvfIndexWith(corpus, "vec_id", "embedding", q), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(servedStream == servedFresh && servedStream.nonEmpty)

    // fresh checkpoint against the live state refuses under the sink's name
    val e = intercept[IllegalArgumentException] {
      EventStream.ivfRollupSink(
        StreamKit.readEvents(spark, in, schema), state, s"$base/ckpt2",
        "vec_id", "embedding", q, nBuckets = 8)
    }
    assert(e.getMessage.contains("ivfRollupSink") && e.getMessage.contains("checkpoint"))
  }

  test("PQ sink: restarts + replay ≡ clean batch fold ≡ whole-corpus encode; serves ADC directly") {
    import graft.operators.Quantize
    val base = java.nio.file.Files.createTempDirectory("pqsink").toString
    val in = s"$base/in"; val state = s"$base/state"; val ckpt = s"$base/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val corpus = vecs(0 until 60)
    val cb = Quantize.pqCodebook(corpus, "vec_id", "embedding", 2, 2, 6)
    def sink() = EventStream.pqRollupSink(
      StreamKit.readEvents(spark, in, schema), state, ckpt,
      "vec_id", "embedding", cb, nSub = 2, subDim = 2, nBuckets = 8)
    def rows(path: String) = spark.read.parquet(path).select("cand_id", "sub", "code")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val t0 = System.currentTimeMillis() - 60000

    land(in, "b0.parquet", t0, 0 until 30)
    sink().awaitTermination(60000)
    // restart with a new file, then the injected replay
    land(in, "b1.parquet", t0 + 1000, 30 until 60)
    sink().awaitTermination(60000)
    val beforeReplay = rows(state)
    Quantize.pqFoldInto(spark, state, vecs(30 until 60),
      "vec_id", "embedding", cb, 2, 2, Some(1L), nBuckets = 8)
    assert(rows(state) == beforeReplay, "replayed batch must not re-fold")

    val whole = Quantize.pqEncode(corpus, "vec_id", "embedding", 2, 2, 6)
      .select($"vec_id".as("cand_id"), $"sub", $"code")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(rows(state) == whole, "streamed fold == whole-corpus encode, bit for bit")

    // the streamed state IS the ADC serving index
    val queries = corpus.filter($"vec_id" % 9 === 0)
    val servedStream = Quantize.pqAdcTopKIndexed(queries, "vec_id", "embedding",
      Quantize.PqIndex(cb, spark.read.parquet(state)
        .select($"cand_id", $"sub", $"code"), 2, 2), k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val servedFresh = Quantize.pqAdcTopKIndexed(queries, "vec_id", "embedding",
      Quantize.preparePqIndex(corpus, "vec_id", "embedding", 2, 2, 6), k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(servedStream == servedFresh && servedStream.nonEmpty)
  }
}
