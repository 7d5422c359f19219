package graft.operators

import graft.SparkSpec
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec with graft.CrashPoints {
  import spark.implicits._

  private def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.1f, 0.0f)),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.1f)),
    (3L, Array(0.1f, 0.9f, 0.0f, 0.1f))   // close to 2
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine") {
    val out = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 1, 2)
      .orderBy("rk").select("cand_id").as[Long].collect()
    assert(out.head == 1L) // nearest to query 0 is vector 1
  }

  test("LSH top-k candidates are a subset re-ranked identically to brute force") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 1, 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", 1, 1, numPlanes = 8, dim = 4)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    // with near-identical vectors the true NN shares all SRP buckets
    assert(lsh == bf)
  }

  test("srpProject computes the literal sign dots, row for row") {
    val signs = graft.functions.VectorExpressions.SrpBucket.signMatrix(2, 4)
    val out = Similarity.srpProject(emb, "vec_id", "embedding", m = 2, dim = 4)
      .orderBy("vec_id").collect()
    val vecs = emb.orderBy("vec_id").select("embedding").as[Array[Float]].collect()
    out.zip(vecs).foreach { case (row, v) =>
      (0 until 2).foreach { j =>
        val expect = v.indices.map(i => v(i).toDouble * signs(j)(i)).sum
        assert(math.abs(row.getDouble(1 + j) - BigDecimal(expect)
          .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      }
    }
  }

  test("projection quality improves with m: angle error shrinks on real embeddings") {
    val e = graft.core.Tables.embeddings(spark, sf0001).filter(col("vec_id") < 24)
    val orig = e.orderBy("vec_id").select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0.0 else d / n
    }
    def meanErr(m: Int): Double = {
      val proj = Similarity.srpProject(e, "vec_id", "embedding", m, 64)
        .orderBy("vec_id").collect()
        .map(r => (1 to m).map(r.getDouble).toArray)
      val errs = for {
        i <- orig.indices; j <- orig.indices if i < j
      } yield math.abs(cos(orig(i), orig(j)) - cos(proj(i), proj(j)))
      errs.sum / errs.size
    }
    val (e8, e32) = (meanErr(8), meanErr(32))
    assert(e32 < e8, s"JL error should shrink with m: m=8 -> $e8, m=32 -> $e32")
    assert(e32 < 0.25, s"m=32 projection too lossy: mean angle error $e32")
  }

  test("IVF recall@k is 1.0 when every cluster is probed (s09 identity)") {
    // probing all nClusters makes the IVF candidate set identical to
    // brute force, so recall must be exactly 1 — the invariant the s09
    // eval query's arithmetic rests on
    val data = (0 until 12).map(i =>
      (i.toLong, Array(math.cos(i * 0.5).toFloat, math.sin(i * 0.5).toFloat, (i % 3).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(data, "vec_id", "embedding", 4, 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(data, "vec_id", "embedding", nCentroids = 3, nProbe = 3, nQueries = 4, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf == truth)
  }

  test("k-means trainer recovers separated clusters; trained IVF matches brute force") {
    // 18 vectors in 3 well-separated directions, 6 per cluster
    val dirs = Seq(Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f, 0.0f), Array(0.0f, 0.0f, 1.0f, 0.0f))
    val rnd = new scala.util.Random(42)
    val data = (0 until 18).map { i =>
      val d = dirs(i % 3)
      (i.toLong, d.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    val df = data.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(cents.count() == 3)
    // every trained centroid should point dominantly along one axis,
    // and the three centroids should cover all three axes
    val axes = cents.select("cvec").as[Array[Float]].collect()
      .map(v => v.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2))
    // with every cell probed, trained-IVF top-k == brute-force top-k
    val bf = Similarity.bruteForceTopK(df, "vec_id", "embedding", 2, 3)
      .select("query_id", "cand_id", "rk").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopKWith(df, "vec_id", "embedding", cents, nProbe = 3, nQueries = 2, k = 3)
      .select("query_id", "cand_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(ivf == bf)
  }

  test("indexed IVF serving matches the inline search, including through parquet") {
    val dirs = Seq(Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f, 0.0f))
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 16).map { i =>
      val d = dirs(i % 2)
      (i.toLong, d.map(x => x + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val inline = Similarity.ivfTopK(corpus, "vec_id", "embedding", 4, 2, 3, 2)
      .select("query_id", "cand_id", "rk").as[(Long, Long, Int)].collect().toSet
    // same corpus-prefix query set through the stored index
    val idx = Similarity.prepareIvfIndex(corpus, "vec_id", "embedding", 4)
    val served = Similarity.ivfTopKIndexed(
        corpus.filter($"vec_id" < 3), "vec_id", "embedding", idx, nProbe = 2, k = 2)
      .select("query_id", "cand_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(served == inline && served.nonEmpty)
    // and the index survives a storage round trip (the serving deploy path)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx")
    idx.centroids.write.parquet(s"$dir/centroids")
    idx.assigned.write.parquet(s"$dir/assigned")
    val stored = Similarity.IvfIndex(
      spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/assigned"))
    val viaStore = Similarity.ivfTopKIndexed(
        corpus.filter($"vec_id" < 3), "vec_id", "embedding", stored, nProbe = 2, k = 2)
      .select("query_id", "cand_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(viaStore == inline)
  }

  test("binary-file ingest reads media blobs with stable hashed ids") {
    val dir = java.nio.file.Files.createTempDirectory("media").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"), Array[Byte](9, 8, 7, 6))
    val media = Multimodal.readBinaryDir(spark, dir, "*.bin")
    val rows = media.select("byte_len_raw", "payload")
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(3L, 4L))
    assert(rows.head._2.toSeq == Seq[Byte](1, 2, 3))
    // ids are deterministic across reads
    val ids1 = media.select("media_id").as[Long].collect().sorted.toSeq
    val ids2 = Multimodal.readBinaryDir(spark, dir, "*.bin").select("media_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2 && ids1.distinct.size == 2)
    // and the decode contract runs over real binary payloads
    val meta = Multimodal.decodeMetadata(media.select(col("media_id"), col("payload")))
    assert(meta.count() == 2)
  }

  test("multimodal decode produces typed metadata and frame samples") {
    val docs = Seq((1L, "hello world"), (2L, "a much longer payload body here")).toDF("doc_id", "text")
    val meta = Multimodal.decodeMetadata(Multimodal.asMediaTable(docs, "doc_id", "text"))
    assert(meta.columns.toSeq == Seq("media_id", "byte_len", "format", "width", "height", "n_frames", "duration_ms"))
    val m = meta.filter($"media_id" === 1L).first()
    assert(m.getAs[Long]("byte_len") == 11L)
    assert(m.getAs[String]("format") == "webp") // 11 % 3 == 2
    val frames = Multimodal.sampleFrames(meta, 3)
    assert(frames.filter($"media_id" === 1L).count() == 4) // n_frames=12 → 0,3,6,9
  }

  // ---- maintained inverted file (ivfAppend / ivfFoldInto) ----------------

  private def bigEmb(n: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
  }

  private def cents(of: org.apache.spark.sql.DataFrame, n: Int) =
    of.filter($"vec_id" < n).select(
      $"vec_id".as("cid"), $"embedding".as("cvec"),
      graft.functions.VectorExpressions.normF($"embedding").as("cnrm"))

  test("ivfAppend: a fold over any batch split equals the whole-corpus assignment") {
    val all = bigEmb(60)
    val q = cents(all, 4)
    val whole = Similarity.prepareIvfIndexWith(all, "vec_id", "embedding", q).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    for (nBatches <- Seq(2, 5)) {
      val folded = (0 until nBatches)
        .map(b => Similarity.prepareIvfIndexWith(
          all.filter($"vec_id" % nBatches === b), "vec_id", "embedding", q).assigned)
        .reduce(Similarity.ivfAppend(_, _))
        .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
      assert(folded == whole, s"nBatches=$nBatches")
    }
  }

  test("ivfAppend: a re-ingested id's posting replaces the old one (keep-latest)") {
    val all = bigEmb(20)
    val q = cents(all, 4)
    val v0 = Similarity.prepareIvfIndexWith(all, "vec_id", "embedding", q).assigned
    // doc 7 re-ingested with a different embedding: its posting must
    // carry the NEW vector (and whatever cell it now lands in)
    val moved = Seq((7L, Array(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val v1 = Similarity.ivfAppend(
      v0, Similarity.prepareIvfIndexWith(moved, "vec_id", "embedding", q).assigned)
    assert(v1.count() == 20, "upsert, not append: id count unchanged")
    val row = v1.filter($"id" === 7L).select("vec").as[Array[Float]].head()
    assert(row.toSeq == Seq(0.0f, 0.0f, 0.0f, 1.0f))
  }

  test("ivfFoldInto: stored fold serves identically to a from-scratch index; replay is a no-op") {
    val all = bigEmb(60)
    val q = cents(all, 4)
    val base = java.nio.file.Files.createTempDirectory("ivf").toString
    val state = s"$base/state"
    (0 until 3).foreach { b =>
      Similarity.ivfFoldInto(spark, state,
        all.filter($"vec_id" % 3 === b), "vec_id", "embedding", q, Some(b.toLong))
    }
    val before = spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq
    // replayed batch id: the applied-batch watermark short-circuits
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" % 3 === 1), "vec_id", "embedding", q, Some(1L))
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == before)
    // serving equality: queries answered off the folded state match
    // the from-scratch prepare bit-for-bit
    val queries = all.filter($"vec_id" % 10 === 0)
    val servedFolded = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.IvfIndex(q, spark.read.parquet(state)), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val servedFresh = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.prepareIvfIndexWith(all, "vec_id", "embedding", q), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(servedFolded == servedFresh && servedFolded.nonEmpty)
  }

  test("ivfFoldInto rewrites ONLY the buckets a batch touches — write cost ~ batch") {
    val all = bigEmb(60)
    val q = cents(all, 4)
    val base = java.nio.file.Files.createTempDirectory("ivfp").toString
    val state = s"$base/state"
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" < 50), "vec_id", "embedding", q, Some(0L), nBuckets = 8)
    val before = stateFiles(state)
    assert(before.keys.exists(_.contains("pbucket=7")), "bootstrap lays out all 8 buckets")
    // batch of 3 ids, all congruent 2 mod 8: exactly one bucket touched
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id".isin(50L, 58L, 2L)), "vec_id", "embedding", q, Some(1L), nBuckets = 8)
    val after = stateFiles(state)
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty && changed.forall(_.contains("pbucket=2")),
      s"only bucket 2 may change, got: $changed")
    // and the folded content still equals the whole-corpus assignment
    val whole = Similarity.prepareIvfIndexWith(
      all.filter($"vec_id" < 50 || $"vec_id".isin(50L, 58L)), "vec_id", "embedding", q).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == whole)
  }

  test("ivfFoldInto with deletes: retired postings leave the index; fold ≡ rebuild-from-survivors") {
    val all = bigEmb(40)
    val q = cents(all, 4)
    val base = java.nio.file.Files.createTempDirectory("ivfd").toString
    val state = s"$base/state"
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" < 30), "vec_id", "embedding", q, Some(0L), nBuckets = 8)
    // one fold carries new postings AND a delete set (the d08
    // non-canonical drop shape); a deleted id in neither set no-ops
    val dels = Seq(5L, 13L, 999L).toDF("vec_id")
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" >= 30), "vec_id", "embedding", q, Some(1L), nBuckets = 8,
      deletes = Some(dels))
    val survivors = all.filter($"vec_id" =!= 5L && $"vec_id" =!= 13L)
    val whole = Similarity.prepareIvfIndexWith(survivors, "vec_id", "embedding", q).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == whole)
    // a delete-only fold touches (and rewrites) only the victims' buckets
    val before = stateFiles(state)
    Similarity.ivfFoldInto(spark, state,
      all.filter(lit(false)), "vec_id", "embedding", q, Some(2L), nBuckets = 8,
      deletes = Some(Seq(17L).toDF("vec_id")))
    val after = stateFiles(state)
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty && changed.forall(_.contains("pbucket=1")),
      s"delete of id 17 may only rewrite bucket 1, got: $changed")
    assert(spark.read.parquet(state).filter($"id" === 17L).count() == 0)
    // delete wins over a same-batch re-ingest: delete means gone
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" === 19L), "vec_id", "embedding", q, Some(3L), nBuckets = 8,
      deletes = Some(Seq(19L).toDF("vec_id")))
    assert(spark.read.parquet(state).filter($"id" === 19L).count() == 0)
  }

  test("a crash inside the per-partition swap heals at the next fold entry") {
    // a fold that re-ingests into bucket 1 and retires postings in
    // buckets 2 and 3, crashed at each of its filesystem steps: the next
    // fold (the same batch, replayed) must leave what an uninterrupted
    // fold leaves — never a lost bucket, never a stale posting
    val all = bigEmb(40)
    val q = cents(all, 4)
    val seed = java.nio.file.Files.createTempDirectory("ivfc").toString
    Similarity.ivfFoldInto(spark, s"$seed/state", all.filter($"vec_id" < 32L), "vec_id", "embedding", q,
      Some(0L), nBuckets = 8)
    val batch = all.filter($"vec_id" === 9L || $"vec_id" === 33L)
    val dels = Seq(10L, 11L).toDF("vec_id")
    everyCrashPoint(seed)(dir =>
      Similarity.ivfFoldInto(spark, s"$dir/state", batch, "vec_id", "embedding", q,
        Some(1L), nBuckets = 8, deletes = Some(dels))
    )(dir => (spark.read.parquet(s"$dir/state").select("id", "cluster", "pbucket")
      .as[(Long, Long, Int)].collect().sorted.toSeq,
      IncrementalAgg.appliedBatchId(spark, s"$dir/state")))
  }

  test("ivfReassign rotates the stored index onto a retrained quantizer without a corpus rescan") {
    val all = bigEmb(48)
    val qA = cents(all, 4)
    val base = java.nio.file.Files.createTempDirectory("ivfr").toString
    val state = s"$base/state"
    (0 until 3).foreach { b =>
      Similarity.ivfFoldInto(spark, state,
        all.filter($"vec_id" % 3 === b), "vec_id", "embedding", qA, Some(b.toLong), nBuckets = 8)
    }
    // retrain: 6 centroids — folding against it refuses (digest guard)
    val qB = cents(all, 6)
    intercept[IllegalArgumentException] {
      Similarity.ivfFoldInto(spark, state,
        all.filter($"vec_id" === 1L), "vec_id", "embedding", qB, Some(3L), nBuckets = 8)
    }
    // the migration: one pass over the STATE, sidecar rotates
    Similarity.ivfReassign(spark, state, qB, "vec_id", "embedding", nBuckets = 8)
    val fresh = Similarity.prepareIvfIndexWith(all, "vec_id", "embedding", qB).assigned
      .select("id", "cluster").as[(Long, Long)].collect().sorted.toSeq
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == fresh)
    // folds against the NEW quantizer now pass; the OLD one refuses;
    // the watermark survived the rotation (batch 2 replays as a no-op)
    intercept[IllegalArgumentException] {
      Similarity.ivfFoldInto(spark, state,
        all.filter($"vec_id" === 1L), "vec_id", "embedding", qA, Some(3L), nBuckets = 8)
    }
    val before = spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" === 1L), "vec_id", "embedding", qB, Some(2L), nBuckets = 8)
    assert(spark.read.parquet(state).select("id", "cluster")
      .as[(Long, Long)].collect().sorted.toSeq == before, "replayed batch skips")
    // and serving off the rotated state matches a fresh index
    val queries = all.filter($"vec_id" % 10 === 0)
    val servedRot = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.IvfIndex(qB, spark.read.parquet(state)), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val servedFresh = Similarity.ivfTopKIndexed(queries, "vec_id", "embedding",
      Similarity.prepareIvfIndexWith(all, "vec_id", "embedding", qB), nProbe = 2, k = 3)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(servedRot == servedFresh && servedRot.nonEmpty)
  }

  test("ivfFoldInto: a drifted or retrained quantizer fails loudly, not silently corrupts") {
    val all = bigEmb(30)
    val base = java.nio.file.Files.createTempDirectory("ivf").toString
    val state = s"$base/state"
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" % 2 === 0), "vec_id", "embedding", cents(all, 4), Some(0L))
    // same shape, different content: 5 centroids instead of 4 — the
    // content digest, not the schema, is what the sidecar pins
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfFoldInto(spark, state,
        all.filter($"vec_id" % 2 === 1), "vec_id", "embedding", cents(all, 5), Some(1L))
    }
    assert(e.getMessage.contains("ivfFoldInto"))
    // the matching quantizer still folds
    Similarity.ivfFoldInto(spark, state,
      all.filter($"vec_id" % 2 === 1), "vec_id", "embedding", cents(all, 4), Some(1L))
    assert(spark.read.parquet(state).count() == 30)
  }
}
