package graft.operators

import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different content about spark engines here"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "xy")                                             // shorter than one shingle
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", "text").filter($"n_copies" > 1)
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 2L)))
  }

  test("minhash LSH finds the near-duplicate pair and the exact pair") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))  // identical → jaccard 1.0
    assert(pairs.contains((0L, 1L)))  // 8-of-9 tokens shared → high jaccard
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("incremental dedup matches batch docs against the corpus only") {
    // batch: near-dup of corpus doc 0 (id 100) + a clean doc (id 101);
    // corpus contains its own exact pair (0, 3) which must NOT appear.
    val corpus = docs
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0 and 3
      (101L, "nothing like anything else in the corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashLshIncremental(batch, corpus, "doc_id", "text", 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 0L), (100L, 3L), (100L, 1L)))
  }

  test("incremental dedup against a stored prepared corpus is identical") {
    val batch = docs.filter($"doc_id" % 2 === 0)
    val corpus = docs.filter($"doc_id" % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("dedup_corpus").toString
    Dedup.prepareDedupCorpus(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val viaStore = Dedup
      .minhashLshIncrementalAgainst(batch, "doc_id", "text", spark.read.parquet(dir), 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minhashLshIncremental(batch, corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStore == direct && viaStore.nonEmpty)
  }

  test("incremental dedup drops the broadcast pin past the batch-size bound") {
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "nothing like anything else in the corpus at all")
    ).toDF("doc_id", "text")
    val prep = Dedup.prepareDedupCorpus(docs, "doc_id", "text")
    val pinned = Dedup.minhashLshIncrementalAgainst(batch, "doc_id", "text", prep, 0.5)
    val fallback = Dedup.minhashLshIncrementalAgainst(batch, "doc_id", "text", prep, 0.5,
      maxBroadcastBatchRows = 1L)
    // the contract is visible in the logical plan: hint present under the
    // bound, absent past it (the planner then shuffles instead of OOMing)
    assert(pinned.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!fallback.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // and degrading the join strategy never changes the answer
    val expected = pinned.as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty && fallback.as[(Long, Long, Double)].collect().toSet == expected)
  }

  test("incremental dedup equals the self-join restricted to cross pairs") {
    val batch = docs.filter($"doc_id" % 2 === 0)
    val corpus = docs.filter($"doc_id" % 2 =!= 0)
    val inc = Dedup.minhashLshIncremental(batch, corpus, "doc_id", "text", 0.5)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLsh(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cross = full.collect {
      case (a, b) if a % 2 == 0 && b % 2 != 0 => (a, b)
      case (a, b) if b % 2 == 0 && a % 2 != 0 => (b, a)
    }
    assert(inc == cross)
  }

  test("dedupClusters resolves pairs into min-label components") {
    // chain 1-2, 2-3 plus isolated pair 10-11: components {1,2,3}, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    onBothClusterPaths(Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap).foreach { out =>
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("dedupClusters converges on a long path (diameter > 2)") {
    // pairs listed from the far end, so linking each root under the
    // smaller one builds the deepest parent chain on the driver path
    val chain = (0L until 9L).reverse.map(i => (i, i + 1)).toDF("id_a", "id_b")
    onBothClusterPaths(Dedup.dedupClusters(chain).as[(Long, Long)].collect()).foreach { out =>
      assert(out.length == 10 && out.forall(_._2 == 0L))
    }
  }

  test("dedupClusters of empty pair set is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    onBothClusterPaths(Dedup.dedupClusters(empty).isEmpty).foreach(e => assert(e))
  }

  test("dedupClusters' driver path matches the rounds on null endpoints and int ids") {
    // a null endpoint joins nothing: 4 stays a singleton although it is
    // paired with null, and 5 is not linked to 4 through the null
    val pairs = Seq[(Integer, Integer)]((1, 2), (2, 3), (4, null), (null, 5), (null, null))
      .toDF("id_a", "id_b")
    val Seq((localPlan, localSchema, local), (roundsPlan, roundsSchema, rounds)) = onBothClusterPaths {
      val out = Dedup.dedupClusters(pairs)
      (out.queryExecution.analyzed, out.schema,
        out.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet)
    }
    assert(localPlan.isInstanceOf[LocalRelation] && !roundsPlan.isInstanceOf[LocalRelation])
    assert(localSchema == roundsSchema)
    assert(localSchema.map(_.dataType) == Seq(IntegerType, IntegerType))
    assert(local == rounds)
    assert(local == Set(Some(1) -> Some(1), Some(2) -> Some(1), Some(3) -> Some(1),
      Some(4) -> Some(4), Some(5) -> Some(5), None -> None))
  }

  test("dedupClusters over a small pair set resolves on the driver in a pinned number of jobs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val (out, jobs) = countingJobs(Dedup.dedupClusters(pairs).collect())
    assert(out.length == 5)
    assert(jobs == DedupSpec.DriverPathJobs, s"$jobs jobs")
  }

  test("canonicalDocs keeps the best-quality copy per cluster, not the min id") {
    // cluster {1,2,3}: doc 1 is a junk-short copy (quality 0), doc 2 the
    // rich copy (>= 20 tokens, stopword-heavy -> quality 2), doc 3 ok
    // (quality 1). Naive min-id dedup keeps 1; quality-aware keeps 2.
    // cluster {10,11}: equal quality and length -> tie breaks to min id.
    // doc 99 is clusterless and must not be emitted.
    val corpus = Seq(
      (1L, "the fox"),
      (2L, "the quick brown fox jumps over the lazy dog and it is happy to nap in the warm sun all day"),
      (3L, "quick brown fox jumps lazy"),
      (10L, "same words in a line"),
      (11L, "same words in a line"),
      (99L, "unrelated singleton document")
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "canonical_id")
    val out = Dedup.canonicalDocs(corpus, "doc_id", "text", clusters)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (10L, 10L, 10L, true), (11L, 10L, 10L, false)))
    // exactly one keeper per cluster, always a member of its cluster
    val keepers = out.filter(_._4).map(r => r._2 -> r._1).toMap
    assert(keepers.keySet == Set(1L, 10L) && keepers.values.toSet == Set(2L, 10L))
  }

  test("canonicalDocs longer copy wins within the same quality bucket") {
    // both quality 1 (5-19 tokens, few stopwords): 21 beats 20 on length
    // even though 20 has the smaller id
    val corpus = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "alpha beta gamma delta epsilon zeta eta")
    ).toDF("doc_id", "text")
    val clusters = Seq((20L, 20L), (21L, 20L)).toDF("doc_id", "canonical_id")
    val out = Dedup.canonicalDocs(corpus, "doc_id", "text", clusters)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set((20L, 20L, 21L, false), (21L, 20L, 21L, true)))
  }

  test("simhash of identical docs is identical; pairs found within hamming 3") {
    val sh = Dedup.simhashTable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(3L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("shingles guard short docs") {
    val sh = docs.select(Text.shingles(Text.tokens($"text"), 3).as("sh"))
      .filter(size($"sh") === 0).count()
    assert(sh == 1) // only the "xy" doc
  }

  test("incremental embedding near-dup equals the self-join restricted to cross pairs") {
    val emb = (0 until 24).map { i =>
      // three planted directions plus noise vectors
      val base = Array.tabulate(8)(d => if (d == i % 3) 1.0f else 0.02f * ((i + d) % 5))
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val batch = emb.filter($"vec_id" % 4 === 0)
    val corpus = emb.filter($"vec_id" % 4 =!= 0)
    val inc = Dedup.embeddingNearDupIncremental(batch, corpus, "vec_id", "embedding", 0.9, 16, 8)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val full = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.9, 16, 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cross = full.collect {
      case (a, b) if a % 4 == 0 && b % 4 != 0 => (a, b)
      case (a, b) if b % 4 == 0 && a % 4 != 0 => (b, a)
    }
    assert(inc == cross && inc.nonEmpty)
    // the stored-artifact path and the broadcast fallback agree with it
    val prep = Dedup.prepareEmbeddingCorpus(corpus, "vec_id", "embedding", 16, 8)
    val viaPrep = Dedup
      .embeddingNearDupIncrementalAgainst(batch, "vec_id", "embedding", prep, 0.9, 16, 8)
    val fallback = Dedup.embeddingNearDupIncrementalAgainst(
      batch, "vec_id", "embedding", prep, 0.9, 16, 8, maxBroadcastBatchRows = 1L)
    assert(viaPrep.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!fallback.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(viaPrep.select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet == inc)
    assert(fallback.select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet == inc)
  }

  test("embedding near-dup finds parallel vectors only") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f)),   // same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.99, numPlanes = 8, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L))) // parallel vectors share every SRP bucket

  }

  test("duplicatedSpans merges overlapping and back-to-back seeds, splits on gaps") {
    // k=3. Doc 0 and doc 1 share "a b c d" -> seeds at positions 0,1 in
    // both (overlap -> ONE span [0, 4)). Doc 0 additionally repeats
    // "x y z" twice WITHIN itself at positions 6 and 9 (gap 3 == k ->
    // back-to-back, merged into [6, 12)). Doc 2 shares nothing.
    val d0 = "a b c d q r x y z x y z"   // tokens 0..11
    val d1 = "a b c d"
    val d2 = "p q r s t u v w"           // unique ("q r" bigrams exist but k=3 grams don't repeat)
    val docs = Seq((0L, d0), (1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "span_idx", "start_tok", "end_tok", "n_tokens", "n_seeds")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 1L, 0L, 4L, 4L, 2L),   // shared "a b c d": seeds 0,1 overlap
      (0L, 2L, 6L, 12L, 6L, 2L),  // internal repeat "x y z x y z": seeds 6,9 touch
      (1L, 1L, 0L, 4L, 4L, 2L)
    ))
  }

  test("duplicatedSpans splits spans separated by a clean gap") {
    // the shared k-gram appears at positions 0 and 5 of doc 0 (gap 5 >
    // k=3) via two distinct shared phrases -> two spans
    val docs = Seq(
      (0L, "m n o GAP1 GAP2 u v w"),
      (1L, "m n o xx yy u v w")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "span_idx", "start_tok", "end_tok")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (0L, 1L, 0L, 3L), (0L, 2L, 5L, 8L),
      (1L, 1L, 0L, 3L), (1L, 2L, 5L, 8L)))
  }

  test("duplicatedSpans is empty on a duplicate-free corpus and short docs") {
    val docs = Seq((0L, "one two"), (1L, "three four five six")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, "doc_id", "text", k = 3).isEmpty)
  }
}

object DedupSpec {

  /** Jobs of one `dedupClusters(pairs).collect()` over a small
    * in-memory pair set on the driver path: the sized cut of the pairs
    * and their collect. The result is a local relation, so its own
    * collect runs no job. */
  val DriverPathJobs = 2
}
