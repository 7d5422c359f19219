package graft.operators

import graft.functions.VectorExpressions.{dotF => dt}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantization of an embedding corpus — the storage/serving
  * compression steps of a vector pipeline: scalar int8 (each vector
  * scaled by 127 / max|x_i| and floored to [-127, 127]) and product
  * quantization ([[pqEncode]] / [[pqAdcTopK]]).
  *
  * Determinism contract: the only float ops are one multiply and one
  * divide in double precision (both correctly rounded under IEEE-754,
  * so identical in every engine) followed by `floor` — no
  * transcendentals, so the quantized integers are bit-identical in the
  * DuckDB oracle. Spark `floor` truncates toward -inf in both engines;
  * the zero-vector guard keeps the expression total.
  *
  * Scale shape: one explode pass, a map-side-combinable max-agg for
  * the per-vector scale, one equi-join back on vec_id (AQE-broadcast
  * for small corpora, shuffle join at scale), then map-side-combined
  * stats. Long-form (vec_id, dim, q) is the natural storage layout for
  * a columnar int8 store.
  */
object Quantize {

  /** Long form: (vec_id, dim, q) with q = floor(x * 127 / max|x|). */
  def int8Long(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
    val m = e.groupBy("vec_id").agg(max(abs(col("x"))).as("mx"))
    e.join(m, "vec_id")
      .select(
        col("vec_id"),
        col("dim").cast("long").as("dim"),
        when(col("mx") === 0.0, lit(0L))
          .otherwise(floor(col("x").cast("double") * 127.0 / col("mx").cast("double")).cast("long"))
          .as("q")
      )
  }

  /** Per-vector quantization stats (compact oracle-checkable view):
    * sum/min/max of the quantized values. */
  def int8Stats(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    int8Long(emb, idCol, vecCol)
      .groupBy("vec_id")
      .agg(sum("q").as("sum_q"), min("q").as("min_q"), max("q").as("max_q"))

  /** One row per (vector, subvector): the `slice` of `subDim` dims
    * starting at `sub * subDim`. Internal layout shared by the PQ
    * encoder and the ADC search. */
  private def subvectors(emb: DataFrame, idCol: String, vecCol: String, nSub: Int, subDim: Int): DataFrame =
    emb.select(col(idCol), explode(array((0 until nSub).map(m =>
        struct(lit(m.toLong).as("sub"), slice(col(vecCol), m * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col(idCol), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Identical-order IEEE L2² between two subvector columns — the
    * expression the DuckDB oracle replicates fold-for-fold. */
  private def l2sq(a: Column, b: Column): Column =
    dt(a, a) + dt(b, b) - lit(2.0) * dt(a, b)

  /** The per-query codeword distance table (query_id, sub, cid,
    * dq_e5): integer 1e-5 L2² of each query subvector against each
    * codeword. ONE copy of the serving arithmetic — [[pqAdcTopK]] and
    * [[ivfPqTopK]] must stay bit-identical (the spec pins their
    * nCoarse = 1 equality), so the unit, rounding and queryMod
    * convention live here only. */
  private def queryDistTable(
      emb: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int, nCent: Int, queryMod: Int): DataFrame = {
    val qsubs = subvectors(emb.filter(col(idCol) % queryMod === 0), idCol, vecCol, nSub, subDim)
      .select(col(idCol).as("query_id"), col("sub"), col("sv"))
    val cents = subvectors(emb.filter(col(idCol) < nCent), idCol, vecCol, nSub, subDim)
      .select(col(idCol).as("cid"), col("sub"), col("sv").as("cv"))
    qsubs.join(cents, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        round(l2sq(col("sv"), col("cv")) * 100000.0, 0).cast("long").as("dq_e5"))
  }

  /** The ADC ranking tail over (query_id, cand_id, …, dq_e5) rows:
    * self-match exclusion, order-free long sum per pair, (adc asc,
    * cand_id asc) top-k. Shared by both ADC entry points for the same
    * reason as [[queryDistTable]]. */
  private def adcRank(scored: DataFrame, k: Int): DataFrame =
    scored
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("dq_e5")).as("adc_e5"))
      .withColumn("rk",
        row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc_e5").asc, col("cand_id").asc)).cast("long"))
      .filter(col("rk") <= k)

  /** Product-quantization encoding — the ANN memory-compression step
    * scalar int8 ([[int8Long]]) doesn't cover: each vector splits into
    * `nSub` subvectors of `subDim` dims, each assigned to its nearest
    * codeword by L2 (codebook = the subvectors of the first `nCent`
    * ids, the same data-point coarse-quantizer pattern as
    * [[Similarity.ivfTopK]]), so a `nSub * subDim`-float vector serves
    * from `nSub` small codes.
    *
    * Scale shape: the codebook is broadcast (nCent × nSub rows); the
    * corpus streams once through a per-row scored loop; the argmin is
    * `min` over (dist, cid) structs — map-side combinable, with the
    * cid tie-break an oracle window replicates. Distances are rounded
    * to 5 decimals BEFORE the argmin so ties are decided on equal
    * ground in both engines. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String, nSub: Int, subDim: Int, nCent: Int): DataFrame =
    pqEncodeWith(emb, idCol, vecCol, pqCodebook(emb, idCol, vecCol, nSub, subDim, nCent), nSub, subDim)

  /** The data-point PQ codebook (sub, cid, cv): the subvectors of the
    * first `nCent` ids — the s10/s11 determinism contract, exposed so
    * maintenance folds can FREEZE it while batches keep arriving. */
  def pqCodebook(emb: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int, nCent: Int): DataFrame =
    subvectors(emb.filter(col(idCol) < nCent), idCol, vecCol, nSub, subDim)
      .select(col(idCol).as("cid"), col("sub"), col("sv").as("cv"))

  /** [[pqEncode]] against an externally supplied (frozen or trained)
    * codebook — the encode pass of index MAINTENANCE: a new ingest
    * batch is encoded without the codebook being re-derived, so its
    * codes merge bit-compatibly into a stored corpus encoded earlier.
    * One broadcast join over the batch's subvectors; the min-struct
    * argmin collapses the nCent candidates map-side. */
  def pqEncodeWith(emb: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, nSub: Int, subDim: Int): DataFrame =
    subvectors(emb, idCol, vecCol, nSub, subDim)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", round(l2sq(col("sv"), col("cv")), 5))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("dist"), col("cid"))).as("st"))
      .select(col(idCol), col("sub"), col("st.cid").as("code"), col("st.dist").as("dist"))

  /** The persistable PQ serving artifact — the [[Similarity.IvfIndex]]
    * story for product quantization: `codebook` (sub, cid, cv) is the
    * trained/sampled codeword table (nSub × nCent rows, broadcast at
    * serve time), `codes` (cand_id, sub, code) is the encoded corpus —
    * the ONLY corpus-sized table, and the one a deployment writes to
    * storage. `nSub`/`subDim` ride along so a query batch can be
    * sliced identically to the encode pass. */
  final case class PqIndex(codebook: DataFrame, codes: DataFrame, nSub: Int, subDim: Int)

  /** Build a [[PqIndex]] with the data-point codebook (subvectors of
    * the first `nCent` ids — the s10/s11 determinism contract): one
    * corpus scan encodes every vector; nothing else is retained. */
  def preparePqIndex(emb: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int, nCent: Int): PqIndex = {
    val cents = subvectors(emb, idCol, vecCol, nSub, subDim)
      .filter(col(idCol) < nCent)
      .select(col(idCol).as("cid"), col("sub"), col("sv").as("cv"))
    val codes = pqEncode(emb, idCol, vecCol, nSub, subDim, nCent)
      .select(col(idCol).as("cand_id"), col("sub"), col("code"))
    PqIndex(cents, codes, nSub, subDim)
  }

  /** Merge one batch's PQ codes into an existing encoded-corpus table —
    * [[graft.operators.Similarity.ivfAppend]]'s algebra, codes edition:
    * keep-latest upsert on `cand_id` (a re-ingested document's NEW
    * codes replace ALL `nSub` of its old rows — codes are only
    * meaningful as a complete set against one codebook), optional
    * delete-id retirement in the same anti-join pass, idempotent under
    * re-application. Deterministic given a frozen codebook, so a fold
    * over any batch partitioning equals the whole-corpus [[pqEncode]]
    * exactly — the s17 gate property. */
  def pqAppend(
      state: DataFrame,
      delta: DataFrame,
      deletes: Option[DataFrame] = None): DataFrame = {
    val deltaIds = delta.select(col("cand_id")).distinct()
    val retired = deletes match {
      case Some(ids) => deltaIds.unionByName(ids.select(col("cand_id")))
      case None      => deltaIds
    }
    val kept = state.join(retired, Seq("cand_id"), "left_anti")
    val added = deletes match {
      case Some(ids) => delta.join(ids.select(col("cand_id")), Seq("cand_id"), "left_anti")
      case None      => delta
    }
    kept.unionByName(added)
  }

  /** Fold one embedding batch into a STORED encoded corpus — PQ index
    * maintenance ([[pqEncodeWith]] against the FROZEN codebook +
    * [[pqAppend]] on [[graft.operators.IncrementalAgg
    * .foldStatePartitioned]]): the batch is encoded in one broadcast
    * pass, its (cand_id, sub, code) rows upsert into the stored codes
    * table, and ONLY the id-buckets the batch (and delete set) lands
    * in are rewritten — write I/O ∝ batch, never corpus; the encoded
    * corpus is the one corpus-sized table of the PQ serving
    * architecture ([[PqIndex.codes]]), exactly the table a per-fold
    * whole rewrite would make O(corpus) per ingest. The stored state
    * is `codes`-shaped plus the bucket column, so
    * `PqIndex(codebook, <state>, nSub, subDim)` serves ADC queries
    * via [[pqAdcTopKIndexed]] directly after any number of folds.
    *
    * The `params` identity pins a content digest of the CODEBOOK
    * (the quantizer of this family) plus the slicing geometry and the
    * bucket count: codes encoded against a drifted/retrained codebook,
    * or sliced differently, merge without any schema error into a
    * table whose codes silently stop meaning the same thing at ADC
    * time. Retraining the codebook requires a re-encode of the raw
    * corpus (codes, unlike IVF postings, do not carry their vectors —
    * that lossiness is the point of PQ), so the refusal's remedy is
    * a rebuild: delete the state and every `<state>.*` sibling,
    * re-fold. */
  def pqFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      codebook: DataFrame,
      nSub: Int,
      subDim: Int,
      batchId: Option[Long] = None,
      nBuckets: Int = 64,
      deletes: Option[DataFrame] = None): DataFrame = {
    require(nBuckets >= 1, "nBuckets >= 1")
    IncrementalAgg.guardStateIdentity(
      spark, statePath, "params",
      s"codebook=${codebookDigest(codebook)};id=$idCol;vec=$vecCol;" +
        s"nsub=$nSub;subdim=$subDim;buckets=$nBuckets",
      "pqFoldInto")
    // cached + by-name buckets: the ivfFoldInto conventions (the
    // delete frame feeds the bucket collect and two anti-joins; a
    // replayed batch never pays the collect)
    val delIds = deletes.map(_.select(col(idCol).cast("long").as("cand_id")).cache())
    val delta = pqEncodeWith(batch, idCol, vecCol, codebook, nSub, subDim)
      .select(col(idCol).as("cand_id"), col("sub"), col("code"))
      .withColumn("pbucket", pmod(col("cand_id"), lit(nBuckets)).cast("int"))
    try
      IncrementalAgg.foldStatePartitioned(
        spark, statePath, delta, "pbucket",
        (state, d) => pqAppend(state, d, delIds),
        batchId,
        delIds.map(IncrementalAgg.keyBuckets(_, "cand_id", nBuckets)).getOrElse(Nil))
    finally delIds.foreach(_.unpersist())
  }

  /** Content digest of a (sub, cid, cv) codebook: sha-256 over the
    * (sub, cid)-sorted rows with elements normalized to double (the
    * [[Similarity]] centroid-digest convention), truncated to 16 hex
    * chars. Recomputed per fold, never memoized per instance — see
    * `Similarity.centroidDigest` for why a cached digest can mask a
    * re-evaluating source's drift. */
  private def codebookDigest(codebook: DataFrame): String = {
    val rows = codebook.select(
        col("sub").cast("long"), col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getSeq[Double](2).mkString(",")))
      .sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case ((s, c), v) => md.update(s"$s:$c:$v;".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Serve an ADC query batch from a stored [[PqIndex]]: queries build
    * their codeword distance tables against the broadcast codebook
    * (`queries × nSub × nCent` rows), candidates contribute only their
    * stored (id, sub, code) triples — the corpus is never re-read or
    * re-encoded at query time. Same integer 1e-5 units and
    * (adc asc, cand_id asc) ranking as [[pqAdcTopK]]; a candidate
    * with a query's own id is excluded, so corpus-drawn query sets
    * never match themselves. */
  def pqAdcTopKIndexed(queries: DataFrame, idCol: String, vecCol: String,
      index: PqIndex, k: Int): DataFrame = {
    val qsubs = subvectors(queries, idCol, vecCol, index.nSub, index.subDim)
      .select(col(idCol).as("query_id"), col("sub"), col("sv"))
    val qtab = qsubs.join(broadcast(index.codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        round(l2sq(col("sv"), col("cv")) * 100000.0, 0).cast("long").as("dq_e5"))
    adcRank(
      index.codes.join(broadcast(qtab),
        index.codes("sub") === qtab("sub") && col("code") === col("cid")),
      k)
  }

  /** Asymmetric-distance (ADC) top-k search over PQ codes — the
    * serving half of product quantization: each query precomputes its
    * distance table to every codeword (`queries × nSub × nCent` rows,
    * broadcast), and a candidate's approximate distance is the SUM of
    * table entries at its codes — the corpus contributes only its
    * (id, sub, code) triples, never raw vectors. Distance entries are
    * integer 1e-5 units (`round(d * 1e5)`) so the per-candidate sum is
    * order-free long arithmetic — bit-identical in any engine — and
    * the (adc, cand_id) ranking is exactly reproducible. Queries are
    * `id % queryMod == 0` (the s08 serving convention); self-matches
    * excluded. */
  def pqAdcTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      nCent: Int,
      queryMod: Int,
      k: Int): DataFrame = {
    val codes = pqEncode(emb, idCol, vecCol, nSub, subDim, nCent)
      .select(col(idCol).as("cand_id"), col("sub"), col("code"))
    val qtab = queryDistTable(emb, idCol, vecCol, nSub, subDim, nCent, queryMod)
    adcRank(
      codes.join(broadcast(qtab),
        codes("sub") === qtab("sub") && codes("code") === qtab("cid")),
      k)
  }

  /** IVF+PQ composed search — the two halves of the serving
    * architecture fused the way a production vector index (FAISS
    * IVFPQ) runs at scale: the coarse quantizer ([[Similarity.ivfTopK]]'s
    * data-point cells, cosine assignment) bounds WHICH candidates are
    * touched, and ADC over PQ codes ([[pqAdcTopK]]'s integer distance
    * tables) bounds WHAT each touched candidate costs. A query reads
    * ~nProbe/nCoarse of the corpus, and each candidate read is `nSub`
    * table lookups on small codes — raw corpus vectors never enter the
    * search on either axis.
    *
    * Scale shape: both quantizers are broadcast (nCoarse and
    * nCent × nSub rows); assignment and encoding are single corpus
    * scans collapsed map-side (max_by argmax / min-struct argmin); the
    * inverted code file (cand_id, cluster, sub, code) is the only
    * corpus-sized table downstream, joined to probes on the cluster
    * id; the per-candidate ADC sum is order-free long arithmetic,
    * map-side combined. Production IVFPQ encodes RESIDUALS against the
    * coarse centroid; the raw-vector codebook here keeps every number
    * a pure function both engines compute identically — the
    * composition shape is what this operator pins. */
  def ivfPqTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCoarse: Int,
      nSub: Int,
      subDim: Int,
      nCent: Int,
      nProbe: Int,
      queryMod: Int,
      k: Int): DataFrame = {
    import graft.functions.VectorExpressions.normF
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"), normF(col(vecCol)).as("nrm"))
    val coarse = base.filter(col("id") < nCoarse)
      .select(col("id").as("ccid"), col("vec").as("ccv"), col("nrm").as("ccn"))
    val cscored = base.crossJoin(broadcast(coarse))
      .withColumn("csim",
        when(col("nrm") * col("ccn") === 0.0, lit(0.0))
          .otherwise(dt(col("vec"), col("ccv")) / (col("nrm") * col("ccn"))))
    val assigned = cscored
      .groupBy(col("id"))
      .agg(max_by(col("ccid"), struct(col("csim"), (-col("ccid")).as("nc"))).as("cluster"))
    // the inverted code file: every corpus vector's PQ codes, keyed by
    // its coarse cell — the persistable serving artifact
    val cellCodes = pqEncode(emb, idCol, vecCol, nSub, subDim, nCent)
      .select(col(idCol).as("cand_id"), col("sub"), col("code"))
      .join(assigned.select(col("id").as("cand_id"), col("cluster")), Seq("cand_id"))
    val probes = cscored.filter(col("id") % queryMod === 0)
      .groupBy(col("id"))
      .agg(slice(
        sort_array(collect_list(struct(col("csim"), (-col("ccid")).as("nc"))), asc = false),
        1, nProbe).as("top"))
      .select(col("id").as("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.nc")).as("cluster"))
    val qtab = queryDistTable(emb, idCol, vecCol, nSub, subDim, nCent, queryMod)
    adcRank(
      probes.join(cellCodes, Seq("cluster"))
        .join(broadcast(qtab), Seq("query_id", "sub"))
        .filter(col("code") === col("cid")),
      k)
  }

  /** Residual-encoded IVF+PQ — the FAISS-style refinement of
    * [[ivfPqTopK]]: PQ codes quantize the RESIDUAL `vec − centroid`
    * of each vector against its assigned coarse centroid, not the raw
    * vector, and the codebook is TRAINED (per-subspace Lloyd rounds
    * on the residual distribution) instead of sampled from data
    * points. Residuals concentrate near the origin regardless of
    * which cell a vector lives in, and k-means codewords minimize
    * in-cell quantization error — together, measurably higher recall
    * at equal `nSub × log2(nCent)` bits (the ResidualPqSpec recall
    * gate, scored by the s09 harness shape, pins ≥ the raw-codebook
    * variant on the fixture corpus).
    *
    * Search follows the textbook asymmetric form: a query builds one
    * distance table PER PROBED CELL (its residual against that cell's
    * centroid vs every codeword — `queries × nProbe × nSub × nCent`
    * rows, still broadcastable), and a candidate's distance sums the
    * table entries of ITS cell at its codes. Everything else —
    * integer 1e-5 ADC units, min-struct argmin with pre-rounded ties,
    * the inverted code file as the only corpus-sized table — is
    * exactly the [[ivfPqTopK]] machinery, so the scale shape is
    * unchanged: one extra broadcast join (centroid subtraction) on
    * the corpus scan, nothing new shuffles.
    *
    * Not hash-oracle-gated (the residual chain is a float pipeline no
    * independent engine reproduces operator-by-operator); its gate is
    * the recall metric — the honest contract for an approximate
    * serving index. */
  /** The persistable residual-IVF-PQ serving artifact: the trained
    * coarse quantizer (ccid, ccv, ccn), the Lloyd-trained residual
    * codebook (sub, cid, cv), and the encoded corpus keyed by coarse
    * cell (cand_id, cluster, sub, code) — the only corpus-sized table,
    * the one a deployment writes to storage. */
  final case class ResidualPqIndex(
      coarse: DataFrame, codebook: DataFrame, codes: DataFrame, nSub: Int, subDim: Int)

  /** Train and encode the residual IVF-PQ index (see
    * [[ivfPqResidualTopK]] for the design rationale): k-means coarse
    * centroids (cell means — required for residuals to contract),
    * per-subspace Lloyd-refined residual codebook, corpus encoded
    * once. `coarseIters = 0` keeps the data-point coarse quantizer for
    * comparison runs. */
  def prepareResidualPqIndex(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCoarse: Int,
      nSub: Int,
      subDim: Int,
      nCent: Int,
      lloydIters: Int = 3,
      coarseIters: Int = 3): ResidualPqIndex = {
    import graft.functions.VectorExpressions.{normF, subF}
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"), normF(col(vecCol)).as("nrm"))
    // the coarse quantizer must be TRAINED (cell means) for residuals
    // to contract: subtracting a raw unit-norm data point widens the
    // residual shell (‖v − c‖ > ‖v‖ at ~90° separation); subtracting
    // the cell MEAN provably shrinks it.
    val coarse =
      (if (coarseIters > 0)
        Similarity.trainCentroids(emb, idCol, vecCol, nCoarse, coarseIters)
      else
        base.filter(col("id") < nCoarse)
          .select(col("id").as("cid"), col("vec").as("cvec"), col("nrm").as("cnrm")))
        .select(col("cid").as("ccid"), col("cvec").as("ccv"), col("cnrm").as("ccn"))
    val assigned = scoreAgainstCoarse(base, coarse)
      .groupBy(col("id"))
      .agg(max_by(col("ccid"), struct(col("csim"), (-col("ccid")).as("nc"))).as("cluster"))
    // corpus residuals: vec − assigned centroid (one broadcast join on
    // the scan; the residual never outlives the encode)
    val residuals = base
      .join(assigned, Seq("id"))
      .join(broadcast(coarse.select(col("ccid").as("cluster"), col("ccv"))), Seq("cluster"))
      .select(col("id"), col("cluster"), subF(col("vec"), col("ccv")).as("rvec"))
    // residual codebook: initialized from the first nCent ids'
    // residual subvectors, then refined by per-subspace Lloyd rounds
    // (L2 assignment with the pre-rounded cid tie-break, centroid =
    // arithmetic mean of its cell, empty cells keep their codeword) —
    // the k-means training FAISS-style PQ runs per subquantizer. Each
    // round is one broadcast join + two map-side-combinable aggs over
    // the corpus subvectors; the codebook is nSub × nCent rows.
    val rsubs = subvectors(residuals, "id", "rvec", nSub, subDim)
    var cents = rsubs.filter(col("id") < nCent)
      .select(col("id").as("cid"), col("sub"), col("sv").as("cv"))
      .transform(graft.core.Reliability.cut)
    (0 until lloydIters).foreach { _ =>
      val assign = rsubs.join(broadcast(cents), Seq("sub"))
        .withColumn("dist", round(l2sq(col("sv"), col("cv")), 5))
        .groupBy(col("id"), col("sub"), col("sv"))
        .agg(min(struct(col("dist"), col("cid"))).as("st"))
        .select(col("sub"), col("st.cid").as("cid"), col("sv"))
      val means = assign
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("sub"), col("cid"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m").cast("float")).as("cv1"))
      cents = cents
        .join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"), coalesce(col("cv1"), col("cv")).as("cv"))
        .transform(graft.core.Reliability.cut)
    }
    val codes = rsubs.join(broadcast(cents), Seq("sub"))
      .withColumn("dist", round(l2sq(col("sv"), col("cv")), 5))
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("dist"), col("cid"))).as("st"))
      .select(col("id").as("cand_id"), col("sub"), col("st.cid").as("code"))
      .join(residuals.select(col("id").as("cand_id"), col("cluster")), Seq("cand_id"))
    ResidualPqIndex(coarse, cents, codes, nSub, subDim)
  }

  /** queries × broadcast coarse centroids with the shared cosine —
    * one copy of the assignment/probe scoring arithmetic. */
  private def scoreAgainstCoarse(base: DataFrame, coarse: DataFrame): DataFrame =
    base.crossJoin(broadcast(coarse))
      .withColumn("csim",
        when(col("nrm") * col("ccn") === 0.0, lit(0.0))
          .otherwise(dt(col("vec"), col("ccv")) / (col("nrm") * col("ccn"))))

  /** Serve a query batch from a stored [[ResidualPqIndex]]: queries
    * probe their `nProbe` closest coarse cells, build one residual
    * distance table PER PROBED CELL (the query's residual vs that
    * cell's centroid, scored against the broadcast codebook —
    * `queries × nProbe × nSub × nCent` rows), and candidates
    * contribute only their stored (cand_id, cluster, sub, code) rows —
    * the corpus is never re-read, re-assigned or re-encoded at query
    * time. */
  def ivfPqResidualTopKIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: ResidualPqIndex,
      nProbe: Int,
      k: Int): DataFrame = {
    import graft.functions.VectorExpressions.{normF, subF}
    val q = queries.select(
      col(idCol).as("id"), col(vecCol).as("vec"), normF(col(vecCol)).as("nrm"))
    val probes = scoreAgainstCoarse(q, index.coarse)
      .groupBy(col("id"))
      .agg(slice(
        sort_array(collect_list(struct(col("csim"), (-col("ccid")).as("nc"))), asc = false),
        1, nProbe).as("top"))
      .select(col("id").as("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.nc")).as("cluster"))
    // per-(query, probed cell) distance table: the query's residual
    // against THAT cell's centroid, scored against every codeword
    val qres = probes
      .join(q.select(col("id").as("query_id"), col("vec")), Seq("query_id"))
      .join(broadcast(index.coarse.select(col("ccid").as("cluster"), col("ccv"))), Seq("cluster"))
      .select(col("query_id"), col("cluster"), subF(col("vec"), col("ccv")).as("qrvec"))
    val qtab = subvectors(qres.withColumn("qid_cell", struct(col("query_id"), col("cluster"))),
        "qid_cell", "qrvec", index.nSub, index.subDim)
      .select(col("qid_cell.query_id").as("query_id"), col("qid_cell.cluster").as("cluster"),
        col("sub"), col("sv"))
      .join(broadcast(index.codebook), Seq("sub"))
      .select(col("query_id"), col("cluster"), col("sub"), col("cid"),
        round(l2sq(col("sv"), col("cv")) * 100000.0, 0).cast("long").as("dq_e5"))
    adcRank(
      index.codes.join(probes, Seq("cluster"))
        .join(broadcast(qtab), Seq("query_id", "cluster", "sub"))
        .filter(col("code") === col("cid")),
      k)
  }

  def ivfPqResidualTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCoarse: Int,
      nSub: Int,
      subDim: Int,
      nCent: Int,
      nProbe: Int,
      queryMod: Int,
      k: Int,
      lloydIters: Int = 3,
      coarseIters: Int = 3): DataFrame = {
    val index = prepareResidualPqIndex(
      emb, idCol, vecCol, nCoarse, nSub, subDim, nCent, lloydIters, coarseIters)
    ivfPqResidualTopKIndexed(
      emb.filter(col(idCol) % queryMod === 0), idCol, vecCol, index, nProbe, k)
  }
}
