package graft.operators

import graft.core.{Par, Reliability}
import graft.functions.VectorExpressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: the exact baseline — a query⋈corpus join with
  *    per-query top-k. Correct at any scale when the QUERY side is small
  *    (broadcast) — the corpus is scanned once, never shuffled. Norms are
  *    precomputed per row (one linear pass), so each candidate pair costs
  *    exactly one dot product.
  *  - [[lshTopK]]: the scale path — sign-random-projection (SRP) LSH.
  *    Each vector gets a `numPlanes`-bit bucket code from md5-derived
  *    pseudo-random ±1 hyperplanes; candidates join on bucket-chunk
  *    agreement, exact cosine re-ranks candidates. Only (id, chunk key)
  *    rides the band shuffle — vectors are joined back once per side
  *    after candidate dedup, so the wide rows never replicate ×chunks.
  */
object Similarity {

  /** Exact cosine top-k: for each query vector (id in `queryIds` mod
    * filter), the k nearest corpus vectors by (cosine desc, id asc). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String, nQueries: Int, k: Int): DataFrame = {
    val withNorm = Par.widen(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      VectorExpressions.normF(col(vecCol)).as("nrm")
    )
    val q = withNorm
      .filter(col("id") < nQueries)
      .select(col("id").as("query_id"), col("vec").as("qv"), col("nrm").as("qn"))
    val c = withNorm.select(col("id").as("cand_id"), col("vec").as("cv"), col("nrm").as("cn"))
    val scored = q
      .join(c, col("query_id") =!= col("cand_id"))
      .withColumn(
        "cosine",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cosine"), 5).as("cosine"), col("rk"))
  }

  /** SRP-LSH bucket code: bit p = sign(dot(v, h_p)) where hyperplane
    * h_p[d] = +1 if md5(p:d) is odd else -1. Deterministic, data-free,
    * identical on every executor — no broadcast of plane matrices. The
    * code is one custom codegen'd loop expression per row
    * ([[VectorExpressions.SrpBucket]] — ±x is exactly x * ±1.0 in IEEE,
    * so the DuckDB sign-multiply twin matches bit-for-bit). Output
    * carries the per-row norm so downstream scoring never recomputes
    * it. */
  def srpCode(emb: DataFrame, idCol: String, vecCol: String, numPlanes: Int, dim: Int): DataFrame = {
    val v = col(vecCol)
    Par.widen(emb).select(
      col(idCol).as("id"),
      v.as("vec"),
      VectorExpressions.normF(v).as("nrm"),
      VectorExpressions.srpBucket(v, numPlanes, dim).as("bucket")
    )
  }

  /** Spherical k-means trainer for the IVF coarse quantizer — the
    * production path the data-point quantizer in [[ivfTopK]] stands in
    * for when oracle reproducibility matters. Deterministic: centroids
    * initialize from the k lowest-id vectors, run a fixed `iters`
    * Lloyd rounds (assign by cosine, recompute the arithmetic mean per
    * cell), ties broken by centroid id.
    *
    * Scale shape per round: one broadcast of k centroid rows against a
    * linear corpus scan, the same map-side `max_by` argmax as the
    * search path (N×k scored rows collapse to N before any shuffle),
    * then a posexplode + avg keyed on (cid, dim) — k·dim result rows.
    * Lineage is cut per round under the session checkpoint policy
    * ([[graft.core.Reliability]]); k and iters are small constants. */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int = 5): DataFrame = {
    val base = Par.widen(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      VectorExpressions.normF(col(vecCol)).as("nrm")
    )
    var cents = base
      .orderBy(col("id"))
      .limit(k)
      .select(
        (row_number().over(Window.orderBy(col("id"))) - 1).cast("long").as("cid"),
        col("vec").as("cvec"),
        col("nrm").as("cnrm"))
      .transform(Reliability.cut)
    (0 until iters).foreach { _ =>
      val assigned = base
        .crossJoin(broadcast(cents))
        .withColumn(
          "csim",
          when(col("nrm") * col("cnrm") === 0.0, lit(0.0))
            .otherwise(VectorExpressions.dotF(col("vec"), col("cvec")) / (col("nrm") * col("cnrm")))
        )
        .groupBy(col("id"), col("vec"))
        .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("ncid"))).as("cid"))
      val mean = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))), s => s.getField("m").cast("float")).as("cvec"))
      cents = mean
        .select(col("cid"), col("cvec"), VectorExpressions.normF(col("cvec")).as("cnrm"))
        .transform(Reliability.cut)
    }
    cents
  }

  /** ANN top-k via IVF (inverted-file) clustering: a small coarse
    * quantizer (the first `nCentroids` corpus vectors as centroids —
    * deterministic, so the oracle replicates it) partitions the corpus
    * into cells; each query probes its `nProbe` nearest cells and
    * re-ranks ONLY those cells' vectors by exact cosine.
    *
    * Scale shape: assignment is a broadcast of `nCentroids` rows against
    * one linear corpus scan, reduced by a map-side-combinable `max_by`
    * argmax — the N×C scored rows collapse to N rows BEFORE the shuffle
    * (the earlier `row_number` window shuffled and sorted all N×C rows).
    * Probe selection runs only on the nQueries subset, as a per-id
    * sorted top-C array from one aggregation. The search then joins
    * probe cells to cell members on the cluster id — an equi-join whose
    * fan-in is corpus/C per cell. With C ~ sqrt(N) and balanced cells, a
    * query touches ~nProbe·sqrt(N) vectors instead of N. A production
    * quantizer would train centroids (k-means); the data-point quantizer
    * keeps every number oracle-reproducible. */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      nProbe: Int,
      nQueries: Int,
      k: Int
  ): DataFrame = {
    val base = Par.widen(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      VectorExpressions.normF(col(vecCol)).as("nrm")
    )
    val cents = base
      .filter(col("id") < nCentroids)
      .select(col("id").as("cid"), col("vec").as("cvec"), col("nrm").as("cnrm"))
    ivfSearch(base, cents, nProbe, nQueries, k)
  }

  /** The persistable IVF serving index — quantizer + inverted file:
    * `centroids` (cid, cvec, cnrm) and `assigned` (id, vec, nrm,
    * cluster). The stored-artifact pattern ([[graft.operators.Dedup
    * .prepareDedupCorpus]] / `prepareEmbeddingCorpus`) applied to ANN
    * serving: build offline, write both tables, and serve every future
    * query batch with [[ivfTopKIndexed]] — the corpus is never
    * re-scanned or re-assigned at query time. */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** Build an [[IvfIndex]] with the data-point quantizer (first
    * `nCentroids` ids — deterministic, oracle-reproducible; pass
    * [[trainCentroids]] output to the `cents` overload for the
    * production k-means quantizer). */
  def prepareIvfIndex(emb: DataFrame, idCol: String, vecCol: String, nCentroids: Int): IvfIndex = {
    val cents = Par.widen(emb)
      .filter(col(idCol) < nCentroids)
      .select(
        col(idCol).as("cid"),
        col(vecCol).as("cvec"),
        VectorExpressions.normF(col(vecCol)).as("cnrm"))
    prepareIvfIndexWith(emb, idCol, vecCol, cents)
  }

  /** [[prepareIvfIndex]] against an externally supplied quantizer:
    * one broadcast-assignment pass over the corpus (the map-side
    * `max_by` argmax — N×C scored rows collapse to N before any
    * shuffle) builds the inverted file.
    *
    * Input contract: embedding ids must be UNIQUE. The assignment's
    * groupBy(id, vec, nrm) keeps duplicate ids with DIFFERING vectors
    * as separate index rows, and the serve paths
    * ([[ivfTopKIndexed]]/[[ivfTopK]]) rely on id-keyed uniqueness to
    * skip candidate dedup — duplicate ids would surface as duplicate
    * candidate rows in the top-k window instead of being arbitrarily
    * deduped. */
  def prepareIvfIndexWith(emb: DataFrame, idCol: String, vecCol: String, cents: DataFrame): IvfIndex = {
    val base = Par.widen(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      VectorExpressions.normF(col(vecCol)).as("nrm"))
    val assigned = base
      .crossJoin(broadcast(cents))
      .withColumn(
        "csim",
        when(col("nrm") * col("cnrm") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("vec"), col("cvec")) / (col("nrm") * col("cnrm"))))
      .groupBy(col("id"), col("vec"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("ncid"))).as("cluster"))
    IvfIndex(cents, assigned)
  }

  /** Serve an ANN query batch from a stored [[IvfIndex]]: queries score
    * against the broadcast quantizer for their `nProbe` probe cells,
    * probe cells join the inverted file on cluster id, survivors
    * re-rank by exact cosine. Matches [[ivfTopK]] exactly when the
    * query set is drawn from the indexed corpus (same assignment,
    * probe order and tie-breaks); a candidate with the query's own id
    * is excluded, so corpus-drawn query sets never match themselves.
    *
    * Scale shape: query cost is nProbe·(corpus/C) candidate rows per
    * query — the corpus tables stream from storage, nothing is
    * recomputed; only (query_id, cluster) pairs and the final
    * candidates shuffle. */
  def ivfTopKIndexed(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      index: IvfIndex,
      nProbe: Int,
      k: Int): DataFrame = {
    val q = Par.widen(queries).select(
      col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      VectorExpressions.normF(col(vecCol)).as("qn"))
    val probes = q
      .crossJoin(broadcast(index.centroids))
      .withColumn(
        "csim",
        when(col("qn") * col("cnrm") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("qv"), col("cvec")) / (col("qn") * col("cnrm"))))
      .groupBy(col("query_id"))
      .agg(
        slice(
          sort_array(collect_list(struct(col("csim"), (-col("cid")).as("ncid"))), asc = false),
          1,
          nProbe
        ).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.ncid")).as("cluster"))
    // no candidate dedup needed: probes is unique per (query_id,
    // cluster) by construction (one aggregated row per query, distinct
    // cids in the top array) and the assigned table is keyed by id
    // (prepareIvfIndexWith's groupBy; ivfAppend's keep-latest upsert
    // preserves the key) — so each (query_id, cand_id) pair joins at
    // most once. The old dropDuplicates was an identity that shuffled
    // every candidate row WITH its vector (r21: 22.5 MB of the s08
    // bench's shuffle); removed per guide §2.3/§2.4.
    val scored = probes
      .join(
        index.assigned
          .select(col("id").as("cand_id"), col("vec").as("cv"), col("nrm").as("cn"), col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(q, Seq("query_id"))
      .withColumn(
        "cosine",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cosine"), 5).as("cosine"), col("rk"))
  }

  /** Merge one batch's inverted-file postings into an existing
    * assigned table — the maintenance algebra of a served ANN index:
    * keep-latest upsert on id (a re-ingested document's embedding may
    * have changed, so its new posting REPLACES the old one — the
    * engine upsert convention, postings edition). Deterministic, so a
    * fold over any batch partitioning of a corpus equals the
    * whole-corpus [[prepareIvfIndexWith]] assignment exactly (per-row
    * independent argmax against the same frozen quantizer) — the s16
    * gate property. Each fold touches the state once (one anti-join +
    * union); at serving scale the anti-join's shuffle carries ids
    * only, never vectors, when AQE plans the small batch side as the
    * broadcast.
    *
    * `deletes` retires postings in the SAME anti-join pass — the
    * curation feedback loop: the non-canonical members a dedup pass
    * drops (d08) or a curation chain rejects (t28) must leave the
    * serving index too, or probes keep surfacing documents the corpus
    * no longer contains. A delete-id column (`id`) wins over a
    * same-batch re-ingest (delete means gone), unknown ids no-op, and
    * the whole merge stays idempotent under re-application — the
    * contract [[graft.operators.IncrementalAgg.foldStatePartitioned]]
    * replays rest on. */
  def ivfAppend(
      state: DataFrame,
      delta: DataFrame,
      deletes: Option[DataFrame] = None): DataFrame = {
    val retired = deletes match {
      case Some(ids) => delta.select(col("id")).unionByName(ids.select(col("id")))
      case None      => delta.select(col("id"))
    }
    val kept = state.join(retired, Seq("id"), "left_anti")
    val added = deletes match {
      case Some(ids) => delta.join(ids.select(col("id")), Seq("id"), "left_anti")
      case None      => delta
    }
    kept.unionByName(added)
  }

  /** Fold one embedding batch into a STORED inverted file — the
    * index-maintenance loop a production ANN deployment runs
    * ([[prepareIvfIndexWith]] on the batch + [[ivfAppend]] attached
    * to [[IncrementalAgg.foldStatePartitioned]]'s partition-scoped
    * commit + applied-batch watermark): assign the batch against the FROZEN
    * broadcast quantizer (one pass over the batch — the corpus is
    * never re-assigned, the index never rebuilt), upsert the
    * postings, commit. The stored state is [[IvfIndex.assigned]]'s
    * shape plus the bucket column, so `IvfIndex(cents, <state>)`
    * serves queries via [[ivfTopKIndexed]] directly after any number
    * of folds.
    *
    * The state is partitioned by ID BUCKET (`pbucket = id mod
    * nBuckets`), and a fold rewrites ONLY the buckets the batch's
    * (and delete set's) ids land in — write I/O ∝ batch, not corpus.
    * The inverted file is the one corpus-sized table of the serving
    * architecture, so the whole-state rewrite [[IncrementalAgg
    * .foldState]] performs per fold — correct for sketch states
    * bounded at k rows forever — would charge every ingest batch
    * O(corpus) write cost here. Bucketing by id rather than by
    * cluster keeps the upsert partition-stable: a re-ingested id may
    * move CLUSTERS (its embedding changed) but never buckets, so
    * "touched" is exactly the batch's buckets and no stale-partition
    * query is needed ([[Upsert.upsertIntoParquet]]'s semi-join over the
    * complement partitions' keys solves precisely the problem this
    * layout avoids). Cluster stays a data column, which the probe join
    * filters on as before. `nBuckets` is pinned in the identity — two
    * bucket counts scatter the same id to different partitions and
    * the keep-latest anti-join would stop seeing its older version.
    *
    * `deletes` (optional, an `idCol` column) retires postings in the
    * same fold — see [[ivfAppend]]; their buckets count as touched
    * even when the batch contributes no rows there.
    *
    * The `params` identity pins a digest of the QUANTIZER
    * (content, not identity: cid + vector bytes, order-independent)
    * alongside the column names — the guard that matters here,
    * because postings assigned against a drifted or retrained
    * quantizer merge without any schema error into an index whose
    * cells silently stop meaning the same thing (probes then miss
    * exactly the candidates the new assignment would have put
    * elsewhere). Retraining the quantizer no longer forces a corpus
    * rescan: [[ivfReassign]] rotates the stored state (which carries
    * the vectors) onto a new quantizer in one state-sized pass. */
  def ivfFoldInto(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame,
      batchId: Option[Long] = None,
      nBuckets: Int = 64,
      deletes: Option[DataFrame] = None): DataFrame = {
    require(nBuckets >= 1, "nBuckets >= 1")
    IncrementalAgg.guardStateIdentity(
      spark, statePath, "params",
      s"quantizer=${centroidDigest(cents)};id=$idCol;vec=$vecCol;buckets=$nBuckets",
      "ivfFoldInto")
    // cached: the delete frame is read by the bucket collect AND the
    // combine's two anti-joins, and may itself be an expensive query
    // (the d08 non-canonical drop); released when the fold returns
    val delIds = deletes.map(_.select(col(idCol).cast("long").as("id")).cache())
    val delta = prepareIvfIndexWith(batch, idCol, vecCol, cents).assigned
      .withColumn("pbucket", pmod(col("id"), lit(nBuckets)).cast("int"))
    try
      IncrementalAgg.foldStatePartitioned(
        spark, statePath, delta, "pbucket",
        (state, d) => ivfAppend(state, d, delIds),
        batchId,
        // by-name: delete-only buckets contribute no delta rows but
        // must be rewritten; a replayed batch never pays this collect
        delIds.map(IncrementalAgg.keyBuckets(_, "id", nBuckets)).getOrElse(Nil))
    finally delIds.foreach(_.unpersist())
  }

  /** Rotate a STORED inverted file onto a RETRAINED quantizer in one
    * state-sized pass — the migration the digest guard's refusal used
    * to answer only with "delete the state, re-fold the raw corpus".
    * The stored postings carry their vectors, so re-assignment needs
    * nothing but the state itself: one broadcast-argmax pass over the
    * posting table recomputes `cluster` against `newCents`, the new
    * state replaces the old one whole through [[graft.core.Commit]]
    * (same bucket layout — buckets key on id, which doesn't change),
    * and the `params` identity rotates to the new quantizer's digest
    * in the same commit. The applied-batch watermark is carried by it:
    * reassignment is not a batch, and the fold sequence resumes where
    * it left off. Reassign-from-state equals a fresh
    * [[prepareIvfIndexWith]] over the same corpus exactly (the
    * assignment is a pure per-row function of vec and quantizer) —
    * the spec-pinned contract.
    *
    * Crash anywhere: the postings and the identity roll forward or
    * back together, and a re-run is idempotent. The raw corpus is never
    * rescanned. */
  def ivfReassign(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      newCents: DataFrame,
      idCol: String,
      vecCol: String,
      nBuckets: Int = 64): DataFrame = {
    val stored = graft.core.Commit.identity(spark, statePath).get("params")
    val fs = graft.core.Commit.fs(spark, statePath)
    val tail = s";id=$idCol;vec=$vecCol;buckets=$nBuckets"
    require(stored.forall(_.endsWith(tail)),
      s"ivfReassign: stored state at $statePath was built with [${stored.getOrElse("")}] " +
        s"but this reassign uses [...$tail] — id/vec/bucket layout must match; only the " +
        "quantizer may change.")
    val path = new org.apache.hadoop.fs.Path(statePath)
    require(fs.exists(path) && fs.listStatus(path).nonEmpty,
      s"ivfReassign: no state at $statePath — nothing to reassign")
    if (stored.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ivfReassign: no params identity claims the state at $statePath — " +
          "reassigning a never-guarded state adopts the new quantizer's identity; " +
          "verify against a from-scratch rebuild if in doubt.")
    val rotated = Map("params" -> s"quantizer=${centroidDigest(newCents)}$tail")
    if (!IncrementalAgg.stateHasData(fs, statePath)) {
      // an all-retired index (dir + marker + identity, no partition
      // dirs — the legitimate empty shape): there are no postings to
      // re-assign, but the identity must still rotate or every future
      // fold against the new quantizer keeps refusing on the old
      // digest. Marker and dir are untouched; return the empty state.
      graft.core.Commit.commit(spark, statePath, Nil, identity = rotated)
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("id", LongType), StructField("vec", ArrayType(FloatType)),
          StructField("nrm", DoubleType), StructField("cluster", LongType),
          StructField("pbucket", IntegerType))))
    }
    val applied = IncrementalAgg.appliedBatchId(spark, statePath)
    // one pass over the state: vectors ride along, so assignment is
    // the same broadcast argmax as a fresh prepare — corpus untouched
    val next = prepareIvfIndexWith(
      IncrementalAgg.read(spark, statePath).select(col("id"), col("vec")),
      "id", "vec", newCents).assigned
      .withColumn("pbucket", pmod(col("id"), lit(nBuckets)).cast("int"))
    next.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pbucket").parquet(graft.core.Commit.staged(statePath, statePath))
    graft.core.Commit.commit(spark, statePath,
      Seq(graft.core.Commit.Target(statePath, None)), Some(applied).filter(_ >= 0L), rotated)
    IncrementalAgg.read(spark, statePath)
  }

  /** Content digest of a (cid, cvec, cnrm) quantizer table: sha-256
    * over the cid-sorted (cid, vector values) rows, truncated to 16
    * hex chars. Two quantizers digest equal iff they assign
    * identically. The element type is normalized to double BEFORE
    * formatting — an array<double> quantizer would otherwise collect
    * under erasure without error yet format differently than its
    * float twin, digesting two identical quantizers unequal.
    * Deliberately NOT memoized per DataFrame instance: a plan over a
    * re-evaluating source (a JDBC relation, a refreshed table) can
    * return different rows from the same instance, and a cached digest
    * would keep matching the identity while the assignment pass reads
    * the DRIFTED rows — the exact silent mixing the guard exists to
    * refuse. The collect is bounded (nCentroids rows) and the
    * quantizer is broadcast-collected on every assignment pass
    * anyway. */
  private[operators] def centroidDigest(cents: DataFrame): String = {
    val rows = cents.select(col("cid").cast("long"), col("cvec").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).mkString(",")))
      .sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (cid, v) => md.update(s"$cid:$v;".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Shared IVF search core: assignment, probe selection, and cell
    * search against a given (cid, cvec, cnrm) quantizer. */
  private def ivfSearch(base: DataFrame, cents: DataFrame, nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    def scoredAgainstCents(df: DataFrame): DataFrame = df
      .crossJoin(broadcast(cents))
      .withColumn(
        "csim",
        when(col("nrm") * col("cnrm") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("vec"), col("cvec")) / (col("nrm") * col("cnrm")))
      )
    // r=1 assignment: argmax by (csim desc, cid asc) == max_by over
    // (csim, -cid). Grouping carries (vec, nrm) — constant per id — so no
    // join-back; partial aggregation collapses the C candidate rows per
    // vector on the map side.
    val assigned = scoredAgainstCents(base)
      .groupBy(col("id"), col("vec"), col("nrm"))
      .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("ncid"))).as("cluster"))
    // nProbe probe cells per query: one aggregation over the nQueries
    // subset builds the (csim desc, cid asc) top-C array per id — sort
    // desc on struct(csim, -cid) gives exactly the window's order.
    val probes = scoredAgainstCents(base.filter(col("id") < nQueries))
      .groupBy(col("id"))
      .agg(
        slice(
          sort_array(collect_list(struct(col("csim"), (-col("cid")).as("ncid"))), asc = false),
          1,
          nProbe
        ).as("top"))
      .select(col("id").as("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), (-col("t.ncid")).as("cluster"))
    val qside = assigned
      .filter(col("id") < nQueries)
      .select(col("id").as("query_id"), col("vec").as("qv"), col("nrm").as("qn"))
    // no candidate dedup: probes is unique per (query_id, cluster) and
    // assigned is keyed by id (both aggregation outputs), so each
    // (query_id, cand_id) pair joins at most once — the old
    // dropDuplicates was an identity that shuffled candidates with
    // their vectors (see ivfTopKIndexed)
    val scored = probes
      .join(
        assigned.select(col("id").as("cand_id"), col("vec").as("cv"), col("nrm").as("cn"), col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("cand_id"))
      .join(qside, Seq("query_id"))
      .withColumn(
        "cosine",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cosine"), 5).as("cosine"), col("rk"))
  }

  /** ANN top-k via SRP buckets: candidates = corpus vectors sharing a
    * bucket-code byte chunk with the query (banding = multi-probe for
    * bucket-hamming <= chunks-1), re-ranked by exact cosine. Approximate
    * by design; the exact baseline [[bruteForceTopK]] is the hash-checked
    * twin. Scale shape: the band self-join moves (id, key) only; vectors
    * and norms join back after candidate dedup. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, nQueries: Int, k: Int, numPlanes: Int = 16, dim: Int = 64): DataFrame = {
    val coded = srpCode(emb, idCol, vecCol, numPlanes, dim)
    val chunks = 2 // 2 chunks of 8 bits: recall for bucket-hamming <= 1
    val banded = coded.select(
      col("id"),
      explode(array((0 until chunks).map { c =>
        struct(lit(c).as("chunk"), shiftright(col("bucket"), c * 8).bitwiseAND(lit(0xffL)).as("key"))
      }: _*)).as("ck")
    )
    val q = banded.filter(col("id") < nQueries).select(col("ck").as("ck_q"), col("id").as("query_id"))
    val c = banded.select(col("ck").as("ck_c"), col("id").as("cand_id"))
    val cand = q
      .join(c, col("ck_q") === col("ck_c") && col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id")
      .dropDuplicates("query_id", "cand_id")
    val side = coded.select(col("id"), col("vec"), col("nrm"))
    val scored = cand
      .join(side.select(col("id").as("query_id"), col("vec").as("qv"), col("nrm").as("qn")), "query_id")
      .join(side.select(col("id").as("cand_id"), col("vec").as("cv"), col("nrm").as("cn")), "cand_id")
      .withColumn(
        "cosine",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("qv"), col("cv")) / (col("qn") * col("cn")))
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"), round(col("cosine"), 5).as("cosine"), col("rk"))
  }

  /** Sign-random-projection dimensionality reduction — the REAL-VALUED
    * projections [[srpCode]] thresholds into bucket bits, kept as an
    * `m`-dimensional embedding (the Johnson–Lindenstrauss shape with a
    * ±1 matrix, Achlioptas '01): y_j = Σ_i sign(j,i)·x_i, with the
    * sign matrix the SAME md5-derived data-free hyperplane family the
    * LSH path uses. The compression pre-pass of a vector pipeline:
    * angles are approximately preserved (error ~1/√m), so downstream
    * clustering/ANN runs on m floats instead of `dim` — and because the
    * matrix is deterministic and data-free, any engine reproduces it
    * without shipping matrix state.
    *
    * Scale shape: a pure per-row projection (m codegen'd dot products
    * against plan-literal sign rows) — no shuffle, pipelines inside
    * the feeding scan. Outputs one wide row per vector: id, p00..pNN
    * rounded to 5 (the s01 rule; both engines fold the dot in index
    * order). */
  def srpProject(emb: DataFrame, idCol: String, vecCol: String, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && m <= 99, "m in [1, 99] (column naming)")
    val signs = VectorExpressions.SrpBucket.signMatrix(m, dim)
    val cols = (0 until m).map { j =>
      val sj = signs(j).map(_.toFloat).toSeq
      round(VectorExpressions.dotF(col(vecCol), typedlit(sj)), 5).as(f"p$j%02d")
    }
    Par.widen(emb).select(col(idCol) +: cols: _*)
  }
}
