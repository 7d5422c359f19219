package graft.operators

import graft.SparkSpec

/** Property-style tests of the LSH guarantee claims (seeded random
  * corpora, UpsertProps style):
  *
  *  - SimHash banding is claimed EXACT, not probabilistic, for
  *    hamming <= 3 (4-chunk pigeonhole) — verified against a
  *    driver-side brute force over all pairs.
  *  - MinHash-LSH is claimed sound (every reported pair passes exact
  *    Jaccard verification) and complete for identical docs (equal
  *    signatures share every band) — both verified against driver-side
  *    recomputation.
  */
class DedupProps extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
    "rho", "sigma", "tau", "upsilon"
  )

  private def randDocs(rnd: scala.util.Random, n: Int): Seq[(Long, String)] =
    (0 until n).map { i =>
      val base = Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, base)
    }

  test("simhash banding finds EXACTLY the hamming<=3 pairs (pigeonhole, 5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val docs = randDocs(rnd, 30).toDF("doc_id", "text")
      val sketches = Dedup.simhashTable(docs, "doc_id", "text")
        .as[(Long, Long)].collect().toMap
      val expected = (for {
        a <- sketches.keys; b <- sketches.keys
        if a < b && java.lang.Long.bitCount(sketches(a) ^ sketches(b)) <= 3
      } yield (a, b)).toSet
      val got = Dedup.simhashPairs(docs, "doc_id", "text", 3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expected, s"seed $seed: banding recall/precision mismatch")
    }
  }

  test("dedupClusters matches driver-side union-find on random graphs (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(200 + seed)
      val nNodes = 5 + rnd.nextInt(25)
      val edges = Seq.fill(rnd.nextInt(40))((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        // reference: plain union-find with min-root resolution
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.map(n => n -> find(n)).toMap
        onBothClusterPaths(Dedup.dedupClusters(edges.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap).foreach { got =>
          assert(got == expected, s"seed $seed: components diverge from union-find")
        }
      }
    }
  }

  test("minhashLsh is sound, and complete for identical docs (5 seeds)") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      // plant exact duplicates: doc i copies doc i-1 when i % 5 == 0
      val base = randDocs(rnd, 25)
      val docs = base.zipWithIndex.map { case ((id, t), i) =>
        if (i > 0 && i % 5 == 0) (id, base(i - 1)._2) else (id, t)
      }
      val df = docs.toDF("doc_id", "text")
      def shingleSet(t: String): Set[String] =
        t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap

      val got = Dedup.minhashLsh(df, "doc_id", "text", 0.5)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      // soundness: reported jaccard is the exact jaccard and >= threshold
      got.foreach { case (a, b, j) =>
        val inter = sets(a).intersect(sets(b)).size.toDouble
        val exact = inter / sets(a).union(sets(b)).size
        assert(j >= 0.5 && math.abs(j - exact) < 1e-6, s"seed $seed pair ($a,$b)")
      }
      // completeness for planted exact duplicates
      val pairs = got.map(g => (g._1, g._2)).toSet
      docs.zipWithIndex.foreach { case ((id, _), i) =>
        if (i > 0 && i % 5 == 0) {
          val prev = base(i - 1)._1
          assert(pairs.contains((math.min(prev, id), math.max(prev, id))),
            s"seed $seed: identical pair ($prev,$id) missed")
        }
      }
    }
  }

  test("exactJaccardJoin (prefix filtering) equals brute force — EXACT, all pairs") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val docs = randDocs(rnd, 40)
      val df = docs.toDF("doc_id", "text")
      def shingleSet(t: String): Set[String] =
        t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val sets = docs
        .map { case (id, t) => id -> shingleSet(t) }
        .filter { case (id, s) => s.nonEmpty && docs(id.toInt)._2.split(" ").count(_.nonEmpty) >= 3 }
        .toMap

      val threshold = 0.3 + 0.2 * (seed % 3) // 0.3 / 0.5 / 0.7
      val got = Dedup.exactJaccardJoin(df, "doc_id", "text", threshold)
        .select("id_a", "id_b", "jaccard_e6").as[(Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- sets.toSeq
        (b, sb) <- sets.toSeq
        if a < b
        inter = sa.intersect(sb).size.toLong
        union = sa.union(sb).size.toLong
        if inter * 1000000L >= math.round(threshold * 1000000) * union
      } yield (a, b, inter * 1000000L / union)).toSet
      assert(got === want, s"seed $seed threshold $threshold")
    }
  }

  test("exactJaccardJoin equals brute force on a LOW-VOCABULARY corpus (positional-filter stress)") {
    // tiny vocabularies: every prefix token is shared by most docs, the
    // exact regime where the PPJoin positional filter does the pruning —
    // any over-pruning (a dropped qualifying pair) fails BOTH the
    // candidate-superset check and the end-to-end comparison. The
    // 2-word vocabulary is the degenerate worst case: near-total token
    // sharing, so the positional bounds are all that separates
    // candidates from the full cross product.
    for ((vocabSize, seed) <- Seq((4, 1), (4, 2), (4, 3), (2, 4), (3, 5))) {
      val tinyVocab = Vector("aa", "bb", "cc", "dd").take(vocabSize)
      val rnd = new scala.util.Random(100 + seed)
      val docs = (0 until 30).map { i =>
        (i.toLong, Seq.fill(8 + rnd.nextInt(25))(tinyVocab(rnd.nextInt(tinyVocab.size))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      def shingleSet(t: String): Set[String] =
        t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
      for (threshold <- Seq(0.5, 0.7, 0.9)) {
        val want = (for {
          (a, sa) <- sets.toSeq
          (b, sb) <- sets.toSeq
          if a < b && sa.nonEmpty && sb.nonEmpty
          inter = sa.intersect(sb).size.toLong
          union = sa.union(sb).size.toLong
          if inter * 1000000L >= math.round(threshold * 1000000) * union
        } yield (a, b, inter * 1000000L / union)).toSet
        // the filters must be a SUPERSET of the true pairs (pruning is
        // exact, never lossy) ...
        val cand = Dedup
          .exactJaccardCandidates(Dedup.jaccardShingles(df, "doc_id", "text"), threshold)
          .as[(Long, Long)].collect().toSet
        val missing = want.map(w => (w._1, w._2)) -- cand
        assert(missing.isEmpty, s"vocab $vocabSize seed $seed t $threshold over-pruned: $missing")
        // ... and the verify stage must land exactly on brute force
        val got = Dedup.exactJaccardJoin(df, "doc_id", "text", threshold)
          .select("id_a", "id_b", "jaccard_e6").as[(Long, Long, Long)].collect().toSet
        assert(got === want, s"vocab $vocabSize seed $seed threshold $threshold")
      }
    }
  }

  test("duplicatedSpans matches a driver-side seed-and-merge reference (low vocab, 5 seeds)") {
    // tiny vocab -> dense k-gram collisions, the worst case for the
    // span merge; reference recomputes seeds and maximal ranges exactly
    val k = 3
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(300 + seed)
      val tinyVocab = vocab.take(4 + rnd.nextInt(4))
      val corpus = (0 until 20).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(15))(tinyVocab(rnd.nextInt(tinyVocab.size))).mkString(" "))
      }
      // reference: count k-grams corpus-wide, seed positions, merge
      val toks = corpus.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
      val gramCount = scala.collection.mutable.Map[Seq[String], Int]()
      toks.values.foreach(tk => tk.sliding(k).filter(_.size == k).foreach(g => gramCount(g) = gramCount.getOrElse(g, 0) + 1))
      val want = toks.flatMap { case (id, tk) =>
        val seeds = tk.sliding(k).zipWithIndex.collect { case (g, p) if g.size == k && gramCount(g) >= 2 => p }.toSeq
        val spans = seeds.foldLeft(Vector.empty[(Int, Int, Int)]) { // (start, lastSeed, nSeeds)
          case (acc, p) if acc.nonEmpty && p <= acc.last._2 + k =>
            acc.init :+ ((acc.last._1, p, acc.last._3 + 1))
          case (acc, p) => acc :+ ((p, p, 1))
        }
        spans.zipWithIndex.map { case ((s0, sl, ns), i) =>
          (id, (i + 1).toLong, s0.toLong, (sl + k).toLong, (sl + k - s0).toLong, ns.toLong)
        }
      }.toSet
      val got = Dedup.duplicatedSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", k)
        .select("doc_id", "span_idx", "start_tok", "end_tok", "n_tokens", "n_seeds")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"seed $seed")
    }
  }
}
