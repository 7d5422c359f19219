package graft.operators

import graft.core.{Par, Reliability}
import graft.functions.{Hashing, Text, VectorExpressions}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** Deduplication suite for the training-data pipeline surface:
  * exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design (the point of each variant):
  *  - exact: one map-side-combinable groupBy on a 128-bit content hash —
  *    a single shuffle keyed on the hash, no row text moves twice;
  *  - MinHash+LSH: signature is a per-row expression (linear scan); the
  *    band self-join moves ONLY (id, band key) — shingle sets join back
  *    once per side after candidate dedup, so the wide arrays never ride
  *    the ×numBands explode;
  *  - SimHash: per-row 60-bit sketch + pigeonhole banding (4 × 15-bit
  *    chunks guarantee recall for hamming ≤ 3) — exact result, candidate
  *    volume bounded by n²/2^15 per chunk;
  *  - n-gram Jaccard: the exact quadratic baseline, deliberately bounded
  *    to a query-document subset (dedup-against-corpus shape);
  *  - embedding cosine: SRP-LSH bucketed candidates + exact-cosine
  *    verification — the brute-force all-pairs scan never materializes.
  *
  * All sketches use md5-based hashing ([[Hashing]]) so the DuckDB oracle
  * reproduces them exactly.
  */
object Dedup {

  /** Exact dedup: group rows by md5 of a canonical content column, keep
    * the lowest id, report group size. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // --- MinHash + LSH --------------------------------------------------------
  // One md5 per shingle, then NUM_HASHES universal hashes
  //   g_j(h) = (A_j * (h mod P) + B_j) mod P,  P = 2^31 - 1
  // derived with deterministic constants — identical integer math in
  // DuckDB. Signature banding: NUM_BANDS bands of ROWS_PER_BAND values.
  val P = 2147483647L
  val numHashes = 64
  val numBands = 16
  val rowsPerBand: Int = numHashes / numBands // 4
  def hashA(j: Int): Long = (2654435761L * (j + 1)) % P
  def hashB(j: Int): Long = (40503L * (j + 7) + 1) % P

  /** Signatures via explode + ONE fused aggregate: md5 runs once per
    * (doc, shingle); the 64 universal-hash minima live in a single
    * [[graft.functions.MinHashSig]] TypedImperativeAggregate state
    * (64 longs) updated in a tight loop per row — map-side combinable,
    * one tiny serialized partial state per (mapper, doc) on the
    * shuffle. Replaces 64 separate `min` aggregate columns: same
    * values (min over the same hash set), but the planner carries one
    * aggregate function instead of 64 and the update is one loop
    * instead of 64 expression evaluations per shingle. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val exploded = sh
      .select(col("id"), explode(col("sh")).as("s"))
      .withColumn("h", pmod(Hashing.md5Long(col("s"), 3), lit(P)))
    val aSeq = (0 until numHashes).map(hashA)
    val bSeq = (0 until numHashes).map(hashB)
    exploded
      .groupBy("id")
      .agg(graft.functions.MinHashAgg.minhashSig(col("h"), P, aSeq, bSeq).as("sig"))
  }

  /** Near-duplicate pairs by MinHash-LSH candidates, verified with exact
    * shingle Jaccard >= `threshold`. Output: (id_a, id_b, jaccard).
    *
    * Shuffle budget: the band self-join moves (id, band key) pairs only;
    * candidate (id_a, id_b) pairs are deduped before the shingle sets
    * join back (one hash join per side) for exact verification — the
    * shingle arrays are never replicated ×numBands. Empty-shingle docs
    * (shorter than one shingle) are excluded before banding: they all
    * share the degenerate all-P signature (an O(n²) candidate clique of
    * short docs at corpus scale) yet can never pass exact verification.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame =
    // the shingle table feeds THREE consumers (the signature pass and
    // both verify join-backs); HOF-lambda subtrees never canonicalize
    // equal, so without a cut each consumer re-tokenizes and re-shingles
    // the corpus text from the scan (r21 plan audit: three full text
    // scans in the d01 physical plan). One materialization, three
    // narrow reads — guide §2.4 (fewer passes); storage is the shingle
    // arrays, the same order as the signature pass already holds.
    minhashLshFromShingles(Reliability.cut(shingleTable(docs, idCol, textCol)), threshold)

  /** [[minhashLsh]] over a PRE-SHINGLED corpus: `sh` is an (id, sh)
    * table of distinct 3-gram shingles per doc. The entry point a
    * composed curation chain uses to share ONE corpus tokenization
    * across its signals (r22 — t28/t07/d08 each re-derived the shingle
    * table from text next to their other corpus passes).
    *
    * Caller contract: `sh` must be MATERIALIZED (a [[Reliability.cut]]
    * or a stored table) — it feeds three consumers here, and a lazy
    * HOF-lambda plan would re-run the tokenize+shingle corpus pass per
    * consumer; and empty-shingle rows (docs shorter than one shingle)
    * must be excluded (`size(sh) > 0`, ⟺ the [[shingleTable]]
    * `size(tk) >= 3` gate) — they all share the degenerate all-P
    * signature (an O(n²) candidate clique at corpus scale) yet can
    * never pass exact verification. */
  def minhashLshFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    // band path: ids + band keys only ride the self-join shuffle;
    // signatures come from one explode + min-agg pass (map-side
    // combine). The SIGNATURE table is cut once (r22): it feeds both
    // sides of the band self-join, and without a cut the whole
    // explode + 128-perm min aggregation executed once PER SIDE
    // (LogicalRDD-rooted subtrees never canonicalize into a
    // ReusedExchange). The cut is the plain AQE-on one and the band
    // explode stays lazy on top — a measured r22 revision: cutting the
    // BANDED table pre-repartitioned on the join key (cutPartitioned)
    // planned the signature pass with AQE off and serialized it behind
    // an extra band-sized materialization, a net loss at every scale
    // tested, while the band explode itself is a cheap projection of
    // the signature blocks. The self-join stays adaptive: AQE
    // broadcasts the band table when it fits and shuffles only
    // (id, band-key) pairs when it does not (§2.4/§3.1).
    val banded = bandTable(Reliability.cut(minhashSignatures(sh)))
    val l = banded.select(col("bk").as("bk_a"), col("id").as("id_a"))
    val r = banded.select(col("bk").as("bk_b"), col("id").as("id_b"))
    val cand = l
      .join(r, col("bk_a") === col("bk_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    // verify path: shingle sets join back once per side, post-dedup
    verifyJaccard(cand, sh, sh, "id_a", "id_b", threshold)
  }

  /** (id, sh) distinct-3-gram-shingle table.
    *
    * Tokenize BEFORE the widen barrier, shingle after: the Exchange
    * stops CollapseProject from inlining the tokenizer into every
    * element_at of the shingle lambda (interpreted HOFs re-evaluate
    * inlined children per element — O(tokens²) per doc). The
    * empty-shingle exclusion is expressed on the TOKEN count
    * (size(sh) > 0 ⟺ size(tk) >= 3) so predicate pushdown moves a
    * one-pass check to the scan, not the whole shingle expression. */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = Par.widen(docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("tk")))
      .filter(size(col("tk")) >= 3)
    tk.select(col("id"), Text.shingles(col("tk"), 3).as("sh"))
  }

  /** (id, bk) LSH band-key table from a signature table. */
  private def bandTable(sig: DataFrame): DataFrame = sig.select(
    col("id"),
    explode(
      array((0 until numBands).map { b =>
        struct(
          lit(b).as("band"),
          concat_ws(",", (0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("key")
        )
      }: _*)
    ).as("bk")
  )

  /** Exact-Jaccard verification of candidate id pairs: shingle sets join
    * back once per side, post-dedup. */
  private def verifyJaccard(
      cand: DataFrame,
      shA: DataFrame,
      shB: DataFrame,
      aCol: String,
      bCol: String,
      threshold: Double): DataFrame =
    cand
      .join(shA.select(col("id").as(aCol), col("sh").as("sh_a")), aCol)
      .join(shB.select(col("id").as(bCol), col("sh").as("sh_b")), bCol)
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), round(col("jaccard"), 6).as("jaccard"))

  /** Incremental near-dup dedup — the production shape for continuously
    * ingested corpora: match a NEW batch against the EXISTING corpus
    * instead of re-running the all-pairs self-join ([[minhashLsh]])
    * over corpus+batch. Output: (batch_id, corpus_id, jaccard >=
    * threshold) — the batch docs to drop (or cluster) before appending.
    *
    * Shape, and why it holds at 100 TB: both sides ship only (id, band
    * key) pairs into the candidate join; the batch side is small by
    * construction so its banded table broadcasts (AQE), making the
    * candidate step a map-side filter over the corpus bands — the
    * corpus is never shuffled against itself (the self-join's n² band
    * buckets drop to batch×corpus). In production the corpus
    * shingle+signature table is a stored artifact appended once per
    * accepted batch — [[prepareDedupCorpus]] emits it and
    * [[minhashLshIncrementalAgainst]] probes it without re-reading
    * corpus text; this overload prepares the corpus inline. Sides are
    * assumed id-disjoint (same-id rows would self-match). Within-batch
    * duplicates are [[minhashLsh]] on the (small) batch alone.
    */
  def minhashLshIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // the inline-prepared corpus feeds two consumers in the probe
    // (bands read (id, sig), verify reads (id, sh)) — cut the prepared
    // table once so the signature aggregation runs once; the
    // production path reads the STORED artifact back instead, which is
    // the same materialization. The corpus-prep cut and the batch
    // shingle cut are INDEPENDENT eager materializations — overlap
    // them (r22, guide §2.6, the s16/s17 pattern): submitted
    // sequentially the second job idles the cluster through the
    // first's tail. Both are plain AQE-on cuts, so there is no
    // cutPartitioned conf-flip race across the two builder threads.
    val parts = Par.inParallel(2) { i =>
      if (i == 0) Reliability.cut(prepareDedupCorpus(corpus, idCol, textCol))
      else Reliability.cut(shingleTable(batch, idCol, textCol))
    }
    minhashLshIncrementalAgainstPrepared(batch, idCol, parts(1), parts(0), threshold)
  }

  /** The persistable corpus-side dedup artifact: (id, sh, sig) — one
    * row per doc with its distinct 3-gram shingles and minhash
    * signature. Write it once, append each accepted batch's own
    * prepared rows, and every future increment probes it without
    * re-reading corpus text ([[minhashLshIncrementalAgainst]]). */
  def prepareDedupCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two consumers (the row side and the signature pass) — same
    // cut-once rationale as [[minhashLsh]]: one corpus tokenize+shingle
    // pass instead of two
    val sh = Reliability.cut(shingleTable(docs, idCol, textCol))
    sh.join(minhashSignatures(sh), "id")
  }

  /** Batch docs above which [[minhashLshIncrementalAgainst]] drops its
    * broadcast pin. 100k docs × 16 band keys ≈ 1.6M small rows — tens
    * of MB, comfortably broadcastable; past that the "batch is small"
    * contract is broken and forcing the broadcast would OOM the driver
    * rather than degrade, so the join falls back to a plain shuffle. */
  val IncrementalBroadcastMaxBatchRows = 100000L

  /** [[minhashLshIncremental]] against an already-prepared corpus
    * table ([[prepareDedupCorpus]], typically read back from storage):
    * the increment pays one linear scan of the batch text plus a probe
    * of the stored bands — no corpus-text pass at all.
    *
    * The broadcast contract is ENFORCED, not assumed: a batch larger
    * than `maxBroadcastBatchRows` (checked with a bounded
    * `limit(n+1).count()`, never a full count) loses the hint and the
    * candidate join degrades to a shuffle — slower, but it completes
    * instead of OOMing the driver on an oversized batch. */
  def minhashLshIncrementalAgainst(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      corpusPrep: DataFrame,
      threshold: Double,
      maxBroadcastBatchRows: Long = IncrementalBroadcastMaxBatchRows): DataFrame =
    // the (small-by-contract) batch's shingle table feeds the signature
    // pass and the verify join-back — cut once, same as [[minhashLsh]]
    minhashLshIncrementalAgainstPrepared(batch, idCol,
      Reliability.cut(shingleTable(batch, idCol, textCol)), corpusPrep,
      threshold, maxBroadcastBatchRows)

  /** [[minhashLshIncrementalAgainst]] with the batch shingle table
    * already cut — the seam that lets the inline overload overlap the
    * two independent materializations. */
  private def minhashLshIncrementalAgainstPrepared(
      batch: DataFrame,
      idCol: String,
      shB: DataFrame,
      corpusPrep: DataFrame,
      threshold: Double,
      maxBroadcastBatchRows: Long = IncrementalBroadcastMaxBatchRows): DataFrame = {
    val bB = bandTable(minhashSignatures(shB)).select(col("bk").as("bk_a"), col("id").as("batch_id"))
    val bC = bandTable(corpusPrep.select("id", "sig")).select(col("bk").as("bk_b"), col("id").as("corpus_id"))
    // pin the documented shape: the small batch bands broadcast, the
    // corpus bands stream map-side — without the hint the planner's
    // static stats can pick the corpus as build side (or shuffle both).
    // The overflow probe scans at most maxBroadcastBatchRows+1 batch ids
    // (CollectLimit short-circuits), so the guard costs O(bound), not a
    // pass over an arbitrarily large batch.
    val limitN = math.min(maxBroadcastBatchRows + 1, Int.MaxValue.toLong).toInt
    val oversized = batch.select(col(idCol)).limit(limitN).count() > maxBroadcastBatchRows
    if (oversized)
      System.err.println(s"[graft] minhashLshIncrementalAgainst: batch exceeds " +
        s"$maxBroadcastBatchRows rows — broadcast pin dropped, candidate join will shuffle")
    val bBSide = if (oversized) bB else broadcast(bB)
    val cand = bBSide
      .join(bC, col("bk_a") === col("bk_b"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    verifyJaccard(cand, shB, corpusPrep.select("id", "sh"), "batch_id", "corpus_id", threshold)
  }

  // --- SimHash ---------------------------------------------------------------
  /** Per-doc 60-bit SimHash via explode + ONE fused aggregate
    * ([[graft.functions.SimHashSig]]): md5 runs once per token; the 60
    * signed bit-counters live in a single TypedImperativeAggregate
    * state that evaluates straight to the packed code — map-side
    * combinable, one 60-long partial blob per (mapper, doc) on the
    * shuffle, replacing 60 `sum(when(...))` aggregate columns plus a
    * 60-term packing projection. Values identical (bit set iff the ±1
    * sum is positive). */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.widen(docs)
      .select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("t"))
      .withColumn("h", Hashing.md5Long(col("t"), 11))
      .groupBy("id")
      .agg(graft.functions.SimHashAgg.simhashSig(col("h"), Text.simhashBits).as("simhash"))

  val simhashChunks = 4
  val simhashChunkBits: Int = Text.simhashBits / simhashChunks // 15

  /** Pairs with hamming(simhash) <= maxHamming, found via pigeonhole
    * banding: with 4 15-bit chunks of the 60-bit sketch, any pair within
    * hamming 3 shares at least one chunk — recall is exact, not
    * probabilistic. 2^15 keys per chunk bound expected candidates at
    * n²/32768 per chunk (the 8-bit-chunk variant's n²/256 is quadratic
    * in disguise at corpus scale). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= simhashChunks - 1, "4-chunk pigeonhole guarantees recall only for hamming <= 3")
    // the SKETCH table is cut once (r22): the banded view feeds both
    // sides of the chunk self-join, and without a cut the
    // tokenize+md5+bit-counter aggregation ran once PER SIDE from the
    // corpus scan. The cut is the plain AQE-on one — (id, simhash) is
    // one narrow row per doc — and the 4-chunk band explode stays lazy
    // on top (a cheap projection of the sketch blocks, per side). A
    // measured r22 revision: cutting the BANDED view pre-repartitioned
    // on the join key (cutPartitioned) planned the sketch pass with AQE
    // off and serialized it behind a band-sized materialization —
    // slower than even the duplicated-sketch r21 shape. The self-join
    // stays adaptive (broadcast when the sketch table fits, (id, key)
    // shuffle when it does not).
    val sh = Reliability.cut(simhashTable(docs, idCol, textCol))
    val keyMask = (1L << simhashChunkBits) - 1
    val banded = sh.select(
      col("id"),
      col("simhash"),
      explode(array((0 until simhashChunks).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftright(col("simhash"), c * simhashChunkBits).bitwiseAND(lit(keyMask)).as("key")
        )
      }: _*)).as("ck")
    )
    val l = banded.select(col("ck").as("ck_a"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = banded.select(col("ck").as("ck_b"), col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, col("ck_a") === col("ck_b") && col("id_a") < col("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // --- exact set-similarity self-join via prefix filtering --------------------
  /** EXACT all-pairs 3-gram Jaccard >= threshold over the whole corpus —
    * the scalable form of [[ngramJaccard]]'s quadratic baseline, using
    * prefix filtering (the AllPairs/PPJoin family): with shingles
    * globally ordered by (document frequency asc, token), any pair with
    * `J >= t` must share a token within each side's first
    * `s - ceil(t*s) + 1` ordered shingles (since `J >= t` forces
    * `|A∩B| >= ceil(t*s)` for both sizes s). Candidates therefore come
    * from an EQUI self-join on prefix tokens — rare tokens first, so
    * prefixes mostly hold low-df tokens and candidate volume stays near
    * the true pair count — then a size filter (`min >= t*max`), the
    * PPJoin POSITIONAL filter (see below), and an exact intersection
    * verify. No sampling, no broadcast pinning, no quadratic stage;
    * every shuffle is linear in data or candidates.
    *
    * Positional filter (the PPJoin refinement over plain AllPairs): a
    * prefix match at 0-based positions (pa, pb) bounds the overlap —
    * with both arrays in the same global order, common tokens appear in
    * the same relative order, so for a qualifying pair the FIRST common
    * token is matched in both prefixes and
    * `overlap <= 1 + min(sa-1-min(pa), sb-1-min(pb))`; dually every
    * common token before the LAST match is itself matched, so
    * `overlap <= matches + min(sa-1-max(pa), sb-1-max(pb))`. Candidates
    * whose tighter bound cannot reach the required overlap
    * `o*(1e6+t_e6) >= t_e6*(sa+sb)` (the exact integer form of
    * `J >= t`, identical to the verify stage's test, so the pruning is
    * exact) are dropped BEFORE the shingle arrays are joined back —
    * this is what keeps the verify stage small on low-vocabulary
    * corpora where shared prefix tokens are common but real near-dups
    * are rare. Similarity is returned in exact integer micro-units. */
  def exactJaccardJoin(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val tE6 = math.round(threshold * 1000000)
    // four consumers (the candidate build's token explode + both exact
    // verify join-backs); without a cut each re-tokenizes and
    // re-shingles the corpus from the scan (r21 plan audit: SIX parquet
    // scans of the corpus in the d06 physical plan — HOF-lambda
    // subtrees never canonicalize equal, so ReuseExchange cannot dedup
    // them). One materialization, narrow reads after — guide §2.4.
    val withSh = Reliability.cut(jaccardShingles(docs, idCol, textCol))
    val cand = exactJaccardCandidates(withSh, threshold)
    cand
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))).cast("long").as("tot"))
      .filter(col("inter") * 1000000L >= lit(tE6) * (col("tot") - col("inter")))
      .select(
        col("id_a"), col("id_b"),
        expr("(inter * 1000000L) div (tot - inter)").as("jaccard_e6"))
  }

  /** The (id, sh) input [[exactJaccardCandidates]] consumes. */
  private[operators] def jaccardShingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.widen(docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("tk")))
      .filter(size(col("tk")) >= 3)
      .select(col("id"), Text.shingles(col("tk"), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The candidate (id_a, id_b) pairs that survive prefix, size and
    * positional filtering — everything BEFORE the exact-intersection
    * verify. Package-visible so DedupProps can assert the filters are
    * exact (candidates ⊇ true pairs) independent of the verify stage,
    * which guards the pruning inequality against future edits. */
  private[operators] def exactJaccardCandidates(withSh: DataFrame, threshold: Double): DataFrame = {
    val tE6 = math.round(threshold * 1000000)
    val pairsTok = withSh.select(col("id"), explode(col("sh")).as("tok"))
    val df = pairsTok.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc shingles sorted by global (df, tok) rarity order
    val ordered = pairsTok.join(df, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("arr"))
      .select(col("id"), size(col("arr")).as("s"), col("arr"))
    // the prefix table is BOTH sides of the candidate self-join; its
    // build (token explode → df count → rarity-order sort → posexplode)
    // would otherwise run twice (same no-reuse reason as the withSh
    // cut). Materialized size is the prefix rows themselves,
    // ~(1−t)·corpus tokens — strictly smaller than the exploded token
    // table the build already shuffles. Hash-partitioned on the join
    // key (r22, cutPartitioned): the candidate self-join reads
    // co-partitioned blocks on both sides instead of shuffling the
    // prefix table twice. (Skew audit, r22: prefix-token multiplicity
    // max 10 / median 7 on the sf0.1 corpus — rare-first ordering keeps
    // the key histogram flat, no salting needed.)
    val prefix = Reliability.cutPartitioned(ordered.select(
      col("id"), col("s"),
      posexplode(slice(
        col("arr"), lit(1),
        (col("s") - ceil(col("s") * lit(threshold)) + 1).cast("int"))))
      .select(col("id"), col("s"), col("pos"), col("col.tok").as("tok"))
      .repartition(col("tok")))
    // required overlap, exact integers: J >= t  ⇔  o*(1e6+tE6) >= tE6*(sa+sb)
    val needed = lit(tE6) * (col("sa") + col("sb"))
    def bound(o: Column) = o * lit(1000000L + tE6)
    val cand = prefix.select(col("id").as("id_a"), col("s").as("sa"), col("pos").as("pa"), col("tok"))
      .join(prefix.select(col("id").as("id_b"), col("s").as("sb"), col("pos").as("pb"), col("tok")), Seq("tok"))
      .filter(
        col("id_a") < col("id_b") &&
          col("sa") * lit(threshold) <= col("sb") && col("sb") * lit(threshold) <= col("sa"))
      .groupBy("id_a", "id_b", "sa", "sb")
      .agg(
        min(col("pa")).as("mina"), min(col("pb")).as("minb"),
        max(col("pa")).as("maxa"), max(col("pb")).as("maxb"),
        count(lit(1)).as("matches"))
      .filter(
        bound(lit(1L) + least(col("sa") - 1 - col("mina"), col("sb") - 1 - col("minb"))) >= needed &&
          bound(col("matches") + least(col("sa") - 1 - col("maxa"), col("sb") - 1 - col("maxb"))) >= needed)
      .select("id_a", "id_b")
    cand
  }

  // --- exact n-gram Jaccard (bounded quadratic baseline) ----------------------
  /** Exact 3-gram Jaccard of query docs (id % sampleMod == 0) against the
    * corpus; pairs with jaccard >= threshold. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String, sampleMod: Int, threshold: Double): DataFrame = {
    val tk = Par.widen(docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("tk")))
      .filter(size(col("tk")) >= 3)
    val withSh = tk.select(col("id"), Text.shingles(col("tk"), 3).as("sh"))
    val q = withSh.filter(col("id") % sampleMod === 0).select(col("id").as("id_a"), col("sh").as("sh_a"))
    val c = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // non-equi join: pin the broadcast to the 1/sampleMod query side so
    // the corpus streams once (the planner otherwise flips sides on
    // stale size estimates and broadcasts the corpus)
    c.join(broadcast(q), col("id_a") < col("id_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // --- embedding cosine near-dup ----------------------------------------------
  /** Pairs of vectors with cosine similarity >= threshold, found via
    * SRP-LSH bucketed candidates ([[Similarity.srpCode]]) verified with
    * exact cosine — the all-pairs nested-loop join never materializes.
    *
    * Shape: one linear pass computes (bucket code, norm) per vector; the
    * band self-join moves (id, chunk key) only; vectors + norms join
    * back once per side after candidate dedup; each candidate pair then
    * costs exactly one codegen'd dot product.
    *
    * Recall: a pair at angle θ agrees on one plane with p = 1 - θ/π;
    * with b bands of r bits, recall = 1 - (1 - p^r)^b. Banding is a
    * tunable: more/narrower bands buy recall with candidate volume. At
    * production near-dup thresholds (cosine ≥ 0.85, p ≈ 0.82) the
    * default 4 bands of 8 planes give ~60% per pass; looser thresholds
    * sit in the bulk of the similarity distribution where any sublinear
    * method prunes aggressively — the exact [[ngramJaccard]]-style
    * baseline remains the oracle twin at small scale. */
  def embeddingNearDup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 32,
      dim: Int = 64
  ): DataFrame = {
    // three consumers (banding + both verify join-backs) — one coding
    // pass over the vectors instead of three (the minhashLsh cut
    // rationale, vector edition)
    val coded = Reliability.cut(Similarity.srpCode(emb, idCol, vecCol, numPlanes, dim))
    // banded stays a LAZY projection of the cut coded blocks: the band
    // explode is a cheap per-side read, and (measured, r22) cutting it
    // pre-repartitioned on the join key planned the band derivation
    // with AQE off behind an extra materialization — a net loss. The
    // chunk self-join stays adaptive (broadcast when the band table
    // fits, (id, key) shuffle when it does not).
    val banded = srpBands(coded, numPlanes)
    val l = banded.select(col("ck").as("ck_a"), col("id").as("id_a"))
    val r = banded.select(col("ck").as("ck_b"), col("id").as("id_b"))
    val cand = l
      .join(r, col("ck_a") === col("ck_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val side = coded.select(col("id"), col("vec"), col("nrm"))
    cand
      .join(side.select(col("id").as("id_a"), col("vec").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(side.select(col("id").as("id_b"), col("vec").as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn(
        "cosine",
        when(col("n_a") * col("n_b") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      )
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 5).as("cosine"))
  }

  /** (id, ck) SRP band-chunk table from a coded table carrying a
    * `bucket` column: 8-bit chunks of the bucket code, the
    * [[bandTable]] analog for embeddings. */
  private def srpBands(coded: DataFrame, numPlanes: Int): DataFrame = {
    val chunkBits = 8
    val chunks = math.max(1, numPlanes / chunkBits)
    val keyMask = (1L << chunkBits) - 1
    coded.select(
      col("id"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"), shiftright(col("bucket"), c * chunkBits).bitwiseAND(lit(keyMask)).as("key"))
      }: _*)).as("ck")
    )
  }

  /** The persistable corpus-side artifact for incremental embedding
    * near-dup: (id, vec, nrm, bucket) — one [[Similarity.srpCode]] row
    * per vector. Write it once, append each accepted batch's own coded
    * rows, and every future increment probes it without re-reading or
    * re-coding corpus vectors ([[embeddingNearDupIncrementalAgainst]]).
    * The vector twin of [[prepareDedupCorpus]]. */
  def prepareEmbeddingCorpus(
      emb: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int = 32, dim: Int = 64): DataFrame =
    Similarity.srpCode(emb, idCol, vecCol, numPlanes, dim)

  /** Incremental embedding near-dup — [[minhashLshIncremental]]'s
    * production-ingest shape for vectors: match a NEW batch of
    * embeddings against the EXISTING corpus instead of re-running the
    * all-pairs self-join. Output: (batch_id, corpus_id, cosine >=
    * threshold). Sides are assumed id-disjoint; within-batch dups are
    * [[embeddingNearDup]] on the (small) batch alone. */
  def embeddingNearDupIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 32,
      dim: Int = 64): DataFrame = {
    // the inline-prepared corpus feeds two consumers in the probe
    // (bands + verify) — cut once here; the production path reads the
    // STORED artifact back instead, which is the same materialization.
    // Corpus coding and batch coding are independent eager cuts —
    // overlapped, same as the text twin (r22, guide §2.6).
    val parts = Par.inParallel(2) { i =>
      if (i == 0) Reliability.cut(prepareEmbeddingCorpus(corpus, idCol, vecCol, numPlanes, dim))
      else Reliability.cut(Similarity.srpCode(batch, idCol, vecCol, numPlanes, dim))
    }
    embeddingNearDupIncrementalAgainstPrepared(batch, idCol, parts(1), parts(0),
      threshold, numPlanes, dim)
  }

  /** [[embeddingNearDupIncremental]] against an already-prepared corpus
    * table ([[prepareEmbeddingCorpus]], typically read back from
    * storage): the increment codes only the batch, probes the stored
    * bands, and verifies candidates with exact cosine — the corpus is
    * never recoded or self-joined. The batch bands broadcast under the
    * same enforced size contract as the text twin
    * ([[minhashLshIncrementalAgainst]]): past `maxBroadcastBatchRows`
    * the hint is dropped and the candidate join degrades to a shuffle
    * instead of OOMing the driver. */
  def embeddingNearDupIncrementalAgainst(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      corpusPrep: DataFrame,
      threshold: Double,
      numPlanes: Int = 32,
      dim: Int = 64,
      maxBroadcastBatchRows: Long = IncrementalBroadcastMaxBatchRows): DataFrame =
    // batch coded once for bands + verify (small by contract)
    embeddingNearDupIncrementalAgainstPrepared(batch, idCol,
      Reliability.cut(Similarity.srpCode(batch, idCol, vecCol, numPlanes, dim)),
      corpusPrep, threshold, numPlanes, dim, maxBroadcastBatchRows)

  /** [[embeddingNearDupIncrementalAgainst]] with the batch coding
    * already cut — the seam that lets the inline overload overlap the
    * two independent materializations. */
  private def embeddingNearDupIncrementalAgainstPrepared(
      batch: DataFrame,
      idCol: String,
      codedB: DataFrame,
      corpusPrep: DataFrame,
      threshold: Double,
      numPlanes: Int,
      dim: Int,
      maxBroadcastBatchRows: Long = IncrementalBroadcastMaxBatchRows): DataFrame = {
    val bB = srpBands(codedB, numPlanes).select(col("ck").as("ck_a"), col("id").as("batch_id"))
    val bC = srpBands(corpusPrep, numPlanes).select(col("ck").as("ck_b"), col("id").as("corpus_id"))
    val limitN = math.min(maxBroadcastBatchRows + 1, Int.MaxValue.toLong).toInt
    val oversized = batch.select(col(idCol)).limit(limitN).count() > maxBroadcastBatchRows
    if (oversized)
      System.err.println(s"[graft] embeddingNearDupIncrementalAgainst: batch exceeds " +
        s"$maxBroadcastBatchRows rows — broadcast pin dropped, candidate join will shuffle")
    val bBSide = if (oversized) bB else broadcast(bB)
    val cand = bBSide
      .join(bC, col("ck_a") === col("ck_b"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    cand
      .join(codedB.select(col("id").as("batch_id"), col("vec").as("v_a"), col("nrm").as("n_a")), "batch_id")
      .join(corpusPrep.select(col("id").as("corpus_id"), col("vec").as("v_b"), col("nrm").as("n_b")), "corpus_id")
      .withColumn(
        "cosine",
        when(col("n_a") * col("n_b") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("cosine"), 5).as("cosine"))
  }

  /** Resolve near-duplicate PAIRS into clusters: every document that
    * appears in `pairs` (columns id_a, id_b) is labeled with the
    * smallest doc id reachable through the near-dup graph — i.e.
    * connected components by min-label propagation. This is the step a
    * production dedup pipeline actually needs after candidate pairing:
    * "keep one canonical doc per duplicate cluster" (keep = rows where
    * doc_id == canonical_id; drop the rest).
    *
    * Two paths, chosen from the EXACT stored size of the pair list
    * ([[graft.core.Reliability.cutSized]]), by the rule Spark uses to
    * broadcast a join side:
    *  - at or below `spark.sql.autoBroadcastJoinThreshold` (and with
    *    integral ids), the pairs are collected in one job and resolved
    *    on the driver by union-find, each root the smallest id of its
    *    component — the fixpoint the rounds reach. The result is a local
    *    relation with the rounds' column names and types. Near-dup
    *    graphs are small next to their corpus (2–23 KB over the
    *    benchmark and sf0.01/sf0.1 corpora); on them the rounds run 15
    *    jobs per call, and fixed per-job cost is almost all they cost.
    *  - above it, or with the threshold at -1, distributed rounds: one
    *    equi-join + map-side-combinable min-agg shuffle per round,
    *    converging in O(graph diameter) rounds — near-dup clusters are
    *    dense cliques with tiny diameters (typically ≤ 3–4 hops).
    *    `maxIter` caps the rounds, and an unconverged result fails its
    *    `require`; neither applies to the driver path. Lineage is cut
    *    per round under the session checkpoint policy
    *    ([[graft.core.Reliability]]: executor-local by default,
    *    reliable-storage when `spark.graft.checkpoint.dir` is set);
    *    labels are ids only — the shuffled rows are two longs
    *    regardless of document width.
    *
    * Deterministic on both paths: the fixpoint (min reachable id) is
    * independent of partitioning and iteration order. A null endpoint
    * joins nothing: its partner is still a node, and the null itself
    * is one (null, null) row. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val (p, pBytes) = Reliability.cutSized(pairs.select(col("id_a"), col("id_b")))
    // both endpoints unioned: the wider of the two id types
    val id = p.select(col("id_a").as("id")).unionByName(p.select(col("id_b").as("id"))).schema("id")
    val integral = id.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val small = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (integral && pBytes.exists(_ <= small)) clustersOnDriver(p, id)
    else clusterRounds(p, pBytes, maxIter)
  }

  /** [[dedupClusters]]' driver path: union-find over the collected
    * pairs, linking the larger root under the smaller. */
  private def clustersOnDriver(p: DataFrame, id: StructField): DataFrame = {
    val rows = p.select(col("id_a").cast(id.dataType), col("id_b").cast(id.dataType)).collect()
    Reliability.release(p)
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(node: Any): Any = {
      var x = node
      while (parent(x) != x) { val g = parent(parent(x)); parent(x) = g; x = g }
      x
    }
    def rank(x: Any) = x.asInstanceOf[Number].longValue
    rows.foreach { r =>
      val ends = Seq(r.get(0), r.get(1)).filter(_ != null)
      ends.foreach(e => parent.getOrElseUpdate(e, e))
      if (ends.size == 2) {
        val (ra, rb) = (find(ends.head), find(ends(1)))
        if (rank(ra) < rank(rb)) parent(rb) = ra
        else if (rank(rb) < rank(ra)) parent(ra) = rb
      }
    }
    val labeled = parent.keys.toSeq.map(x => Row(x, find(x)))
    val nulls = if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) Seq(Row(null, null)) else Nil
    p.sparkSession.createDataFrame((labeled ++ nulls).asJava,
      StructType(Seq(id.copy(name = "doc_id"), id.copy(name = "canonical_id"))))
  }

  /** [[dedupClusters]]' distributed path: min-label propagation rounds. */
  private def clusterRounds(p: DataFrame, pBytes: Option[Long], maxIter: Int): DataFrame = {
    // TWO-STEP materialization of the symmetric edge list (r22).
    // Step 1: the pair pipeline (typically a full LSH build + exact
    // verify) materializes under the normal ADAPTIVE planner — a
    // cutPartitioned of the whole subtree would plan its joins with
    // AQE off (static size estimates → sort-merge everywhere, no
    // runtime coalescing; the r22 probe measured exactly that
    // regression). Step 2: the symmetric union + hash-partition on the
    // per-round join key is a cheap blocks→shuffle→blocks job, and
    // cutPartitioned there records the partitioning on the LogicalRDD
    // (the plain cut under AQE records UnknownPartitioning), so every
    // round's edges⋈labels join reshuffles only the (small) label
    // side — the edge set crosses the wire once, not once per round.
    // The keyed width is derived from the MEASURED pair bytes
    // ([[Reliability.keyedPartitions]]): the AQE-off repartition would
    // otherwise pin a tiny edge list at the full shuffle width (every
    // round paying mostly-empty tasks) or a constant small width would
    // serialize the cluster-scale case. (Interleaved in-JVM A/B, r22:
    // sized ≈ the r21 plain-cut shape at sf0.1 — within noise on
    // d05/d08, faster on t07 — and a fixed-width variant without the
    // sizing was the worst of the three on all four consumers.)
    val n = Reliability.keyedPartitions(p.sparkSession, pBytes.map(_ * 2))
    val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(n, col("dst"))
      .transform(df => Reliability.cutPartitioned(df)) // computed once, reused every round
    Reliability.release(p) // sym holds its own blocks now
    var labels = sym.select(col("src").as("id")).distinct().withColumn("label", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neigh = sym
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nlabel"))
      // old and new label side by side: ONE join per round serves both
      // the update and the convergence test; the changed-count rides
      // the eager cut's materialization job as an Observation (the
      // GraphRank null-guard pattern) instead of a second per-round
      // action re-scanning the labels — one job per round, not two
      val obs = Observation()
      val step = labels
        .join(neigh, Seq("id"), "left")
        .select(col("id"), col("label").as("old"), least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .observe(obs,
          coalesce(sum(when(col("label") =!= col("old"), 1L).otherwise(0L)), lit(0L)).as("changed"))
        .select(col("id"), col("label"))
        .transform(Reliability.cut)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = step
      i += 1
    }
    // an unconverged result would silently disagree with the oracle's
    // full transitive closure and leave >1 "canonical" doc per cluster
    require(converged, s"dedupClusters did not converge in $maxIter rounds — component diameter exceeds maxIter")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Canonical-representative selection — the decision step a curation
    * pipeline actually ships after [[dedupClusters]]: within each
    * duplicate cluster keep exactly ONE document, the best one, and
    * mark the rest for dropping. "Best" is (quality bucket desc,
    * token count desc, doc_id asc) — prefer the richest high-quality
    * copy, deterministic under ties — using the same
    * [[graft.functions.Text.qualityBucket]] signal as t02, so the
    * kept set is reproducible in the oracle.
    *
    * Naive dedup keeps `min(doc_id)` per cluster (the [[exact]]
    * convention); on near-dup clusters that throws away the best copy
    * whenever a truncated or boilerplate-wrapped variant happens to
    * have the smaller id. This operator is the quality-aware
    * replacement: the near-dup graph decides WHAT is duplicated, the
    * quality signal decides WHICH copy survives.
    *
    * Output: one row per clustered doc —
    * (doc_id, cluster_id, kept_id, keep). Docs in no cluster are not
    * emitted (they trivially keep themselves; a pipeline anti-joins
    * the dropped set, t07-style, rather than materializing identity
    * rows for the whole corpus).
    *
    * Scale shape: `clusters` is bounded by docs that HAVE a near-dup
    * (small vs the corpus); the metric join is one equi-join on
    * doc_id, and the per-cluster argmax is a map-side-combinable
    * `max(struct(...))` — no window over the corpus, no second pass.
    * The negated-id trick keeps the tie-break inside one ordered
    * struct, so the whole selection is a single aggregation. */
  def canonicalDocs(docs: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame = {
    canonicalDocsFromMetrics(
      docs.select(col(idCol).cast("long").as("doc_id") +: qualityMetrics(Text.tokens(lower(col(textCol)))): _*),
      clusters)
  }

  /** The per-doc metrics [[canonicalDocsFromMetrics]] ranks by, from a
    * LOWER-CASED token column: `quality` (the t02
    * [[graft.functions.Text.qualityBucket]] signal) and `n_tokens`, both
    * long. */
  def qualityMetrics(lowTokens: Column): Seq[Column] = {
    val nToks = size(lowTokens)
    val nStop = size(filter(lowTokens, t => t.isInCollection(Text.stopwords)))
    Seq(Text.qualityBucket(nToks, nStop).cast("long").as("quality"), nToks.cast("long").as("n_tokens"))
  }

  /** [[canonicalDocs]] over PRE-COMPUTED per-doc quality metrics:
    * `metrics` is a (doc_id, quality, n_tokens) table (the t02
    * [[graft.functions.Text.qualityBucket]] signal, long-cast). The
    * entry point for curation chains that already hold a tokenized
    * corpus artifact (r22) — the doc-level variant re-derives the
    * metrics from text. */
  def canonicalDocsFromMetrics(metrics: DataFrame, clusters: DataFrame): DataFrame = {
    // scored is consumed twice (argmax + final join) and is bounded by
    // the CLUSTERED docs, not the corpus — materialize it once so the
    // corpus text scan runs once, not once per consumer
    val scored = clusters.select(col("doc_id"), col("canonical_id").as("cluster_id"))
      .join(metrics, "doc_id")
      .transform(Reliability.cut)
    // argmax(quality, n_tokens, -doc_id) per cluster as ONE combinable
    // aggregate: struct comparison is lexicographic, so maximizing the
    // negated id IS the min-id tie-break (ids are non-negative longs)
    val kept = scored
      .groupBy("cluster_id")
      .agg(max(struct(col("quality"), col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("kept_id"))
    scored.select(col("doc_id"), col("cluster_id"))
      .join(kept, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("kept_id"),
        (col("doc_id") === col("kept_id")).as("keep"))
  }

  /** Exact-substring duplicated-span finder — the sub-document shape of
    * the Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" ExactSubstr pass (arXiv:2107.06499), seeded with k-token
    * grams instead of a suffix array: a token position is a SEED when
    * the k-gram starting there occurs >= 2 times in the whole corpus
    * (any doc, including the same one); overlapping or back-to-back
    * seeds (next <= prev + k) merge into maximal spans. Emits one row
    * per (doc, span): [start_tok, end_tok) token range, its length and
    * seed count — the ranges a curation pass would cut or down-weight.
    *
    * Scale shape: positional grams are one per token (codegen'd
    * [[Text.positionalGrams]], no HOF), hashed to 60 bits so the
    * corpus-wide duplicate count shuffles (hash, id, pos) triples —
    * never gram text; the count is map-side combined, the seed filter
    * is a shuffle semi-join on the hash, and the span merge is one
    * per-doc window over SEED positions only (2101 of 23k grams at
    * sf0.01). Everything is linear in corpus tokens — the suffix-array
    * global sort this replaces is the one ExactSubstr stage that does
    * not distribute.
    *
    * Both engines hash with [[Hashing.md5Long]]; a 60-bit collision
    * would need ~2^30 distinct grams per false pair, and the oracle
    * hashes identically so the gate stays exact either way. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String, k: Int, seed: Int = 0): DataFrame = {
    require(k >= 2, "seed gram length must be >= 2")
    // (r21: cutting this two-consumer gram stream was measured SLOWER
    // than re-deriving it — codegen'd tokenize+md5 is cheaper than a
    // corpus-sized materialization; left as two passes deliberately)
    val grams = Par.widen(
        docs.select(col(idCol), Text.tokens(lower(col(textCol))).as("tk")))
      .select(col(idCol), posexplode(Text.positionalGrams(col("tk"), k)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        Hashing.md5Long(col("gram"), seed).as("gh"))
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("c")).filter(col("c") >= 2).select("gh")
    val seeds = grams.join(dup, Seq("gh"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    seeds
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("new_span",
        // merge overlapping (pos < prev + k) AND back-to-back
        // (pos == prev + k) seeds: both leave the covered token range
        // contiguous, and a span is a maximal contiguous range
        when(col("prev").isNull || col("pos") > col("prev") + k, lit(1L)).otherwise(lit(0L)))
      .withColumn("span_idx", sum(col("new_span")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("span_idx"))
      .agg(
        min(col("pos")).as("start_tok"),
        (max(col("pos")) + k).as("end_tok"),
        (max(col("pos")) + k - min(col("pos"))).as("n_tokens"),
        count(lit(1)).as("n_seeds"))
  }

  /** Keep-latest-per-key dedup (J1/ST3 upsert semantics): one row per
    * key, the one with the greatest (orderCol, tieCol). */
  def keepLatest(df: DataFrame, keyCols: Seq[String], orderCol: String, tieCol: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}
