package graft.operators

import graft.core.Par
import graft.functions.{Text, VectorExpressions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents that share word
  * n-gram shingles with a held-out evaluation set.
  *
  * The standard pre-training hygiene step (the reference pipeline has no
  * eval-set notion — this extends the SURVEY §2.8 text surface the same
  * way d01/t07 do): any training document whose n-grams overlap an eval
  * benchmark above a threshold must be dropped, or downstream eval
  * numbers are contaminated.
  *
  * Shape, and why it holds at 100 TB:
  *  - the eval side is DISTINCT n-grams of the held-out set. Eval
  *    benchmarks are small by construction (10⁴–10⁶ grams, MBs), so it
  *    is broadcast — the train side is never shuffled by gram;
  *  - the train side streams once through explode → broadcast LEFT SEMI
  *    (a map-side filter that drops ~all grams for clean docs) →
  *    groupBy(id) with map-side combine. The only shuffle carries
  *    (id, hit-count) pairs for documents that hit at all;
  *  - the final left join attaches hit counts back to the per-doc gram
  *    totals; the hit side is tiny (contaminated docs only) so AQE
  *    broadcasts it.
  *  - ratios are exact integer micro-units (the t04 rule): no float
  *    crosses the oracle gate.
  *
  * Semantics: n-grams are DISTINCT per document ([[Text.shingles]]), so
  * `n_hit` counts distinct overlapping grams and `contam_e6` is the
  * distinct-overlap fraction ×10⁶. `contaminated` = overlap ≥ 10% of the
  * document's grams (integer form: `10*n_hit >= n_grams`). Documents
  * shorter than n tokens have zero grams and report clean.
  */
object Decontaminate {

  /** @param isEval predicate over `docs` columns selecting the held-out
    *               eval documents; they are excluded from the output. A
    *               NULL evaluation counts as train-side (eval membership
    *               must be affirmative) — without the coalesce such rows
    *               would vanish from BOTH branches, silently omitting
    *               training docs from the contamination report. */
  def ngramContamination(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      isEval: Column): DataFrame = {
    // tokenize before the widen barrier, shingle after (the
    // Dedup.shingleTable pattern): a single-split parquet scan would
    // otherwise pin the whole per-row shingle compute to one task.
    // Docs shorter than n keep their empty shingle array — they must
    // appear in the output as (n_grams = 0, clean).
    val sh = Par.widen(
        docs.select(col(idCol), coalesce(isEval, lit(false)).as("is_eval"),
          Text.tokens(lower(col(textCol))).as("tk")))
      .select(col(idCol), col("is_eval"), Text.shingles(col("tk"), n).as("shg"))
    val grams = sh.select(col(idCol), col("is_eval"), explode(col("shg")).as("gram"))
    val evalGrams = grams.filter(col("is_eval")).select("gram").distinct()
    val hits = grams
      .filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"))
    sh
      .filter(!col("is_eval"))
      .select(col(idCol), size(col("shg")).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contam_e6",
        expr("CASE WHEN n_grams > 0 THEN (n_hit * 1000000L) div n_grams ELSE 0L END"))
      .withColumn("contaminated",
        expr("CASE WHEN n_grams > 0 AND n_hit * 10 >= n_grams THEN 1 ELSE 0 END"))
  }

  /** Semantic (embedding-space) decontamination: for every training
    * vector, the max cosine against the held-out eval vectors and the
    * nearest eval id; contaminated when max cosine ≥ `threshold`.
    * Catches the paraphrased contamination n-gram overlap misses.
    *
    * Shape, and why it holds at 100 TB: the eval side is broadcast
    * (eval sets are small), the train side is one linear scan scored
    * against it; the per-id argmax is the IVF assignment pattern
    * ([[Similarity.ivfTopK]]) — `max_by` with map-side partial
    * aggregation, so the N×E scored rows collapse to N before any
    * shuffle. Grouping carries (vec only through norm) nothing wide:
    * the group key is the id plus the already-computed scalars.
    * Tie-break on (cosine desc, eval_id asc), the window order the
    * oracle replicates; cosine reported rounded to 5 (the s01 rule).
    * The tie-break key negates COSINE (always a double here), never the
    * id, so `idCol` may be any orderable type — string eval ids work. A
    * NULL `isEval` counts as train-side, same contract as
    * [[ngramContamination]].
    */
  def semanticContamination(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      isEval: Column,
      threshold: Double): DataFrame = {
    val base = Par.widen(emb).select(
      col(idCol).as("id"),
      col(vecCol).as("vec"),
      VectorExpressions.normF(col(vecCol)).as("nrm"),
      coalesce(isEval, lit(false)).as("is_eval"))
    val evals = base.filter(col("is_eval"))
      .select(col("id").as("eval_id"), col("vec").as("ev"), col("nrm").as("en"))
    base
      .filter(!col("is_eval"))
      .crossJoin(broadcast(evals))
      .withColumn(
        "cos",
        when(col("nrm") * col("en") === 0.0, lit(0.0))
          .otherwise(VectorExpressions.dotF(col("vec"), col("ev")) / (col("nrm") * col("en"))))
      .groupBy(col("id"))
      .agg(
        max(col("cos")).as("max_cos_raw"),
        // argmax on cosine with ascending-id tie-break: min over
        // (-cos, eval_id) — negation stays on the double, so this is
        // ANSI-safe for string/any orderable id types
        min_by(col("eval_id"), struct((-col("cos")).as("ncos"), col("eval_id"))).as("near_eval_id"))
      .select(
        col("id").as(idCol),
        col("near_eval_id"),
        round(col("max_cos_raw"), 5).as("max_cos"),
        when(col("max_cos_raw") >= threshold, lit(1)).otherwise(lit(0)).as("contaminated"))
  }

  /** Span-level decontamination — the surgical form of the doc-level
    * flag ([[ngramContamination]]): the exact token ranges of a
    * training document covered by k-grams that occur ANYWHERE in the
    * held-out eval set. The Lee et al. ExactSubstr machinery
    * ([[Dedup.duplicatedSpans]]) pointed at eval overlap instead of
    * corpus duplication: a curation pass CUTS these ranges (or
    * down-weights the doc) rather than dropping the whole document —
    * the difference between losing a long document over one quoted
    * benchmark question and removing the quote.
    *
    * A train-doc token position is a SEED when its k-gram hash appears
    * in the eval gram set; overlapping or back-to-back seeds
    * (next ≤ prev + k) merge into maximal spans, one row per
    * (doc, span) with its [start_tok, end_tok) range, length and seed
    * count.
    *
    * Scale shape: positional grams are one per token (codegen'd
    * [[Text.positionalGrams]]); the eval gram set is DISTINCT hashes of
    * a benchmark — small by construction, so it broadcasts and the
    * train side is never shuffled by gram (the [[ngramContamination]]
    * argument); the span merge is one per-doc window over SEED
    * positions only. Linear in corpus tokens. Both engines hash with
    * [[Hashing.md5Long]]; NULL `isEval` counts as train-side, same
    * contract as the doc-level operators. */
  def contaminatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isEval: Column,
      k: Int,
      seed: Int = 0): DataFrame =
    contaminatedSpansFromTokens(
      Par.widen(
        docs.select(col(idCol), coalesce(isEval, lit(false)).as("is_eval"),
          Text.tokens(lower(col(textCol))).as("tk"))),
      idCol, k, seed)

  /** [[contaminatedSpans]] over a PRE-TOKENIZED corpus: `toks` carries
    * (`idCol`, `is_eval` non-null boolean, `tk` = the doc's
    * lowercased-token array). The entry point a composed curation chain
    * uses to share one corpus tokenization across its signals (r22);
    * the doc-level variant re-derives `tk` from text. The input is
    * expected already wide/materialized — no [[Par.widen]] is applied
    * here. */
  def contaminatedSpansFromTokens(
      toks: DataFrame,
      idCol: String,
      k: Int,
      seed: Int = 0): DataFrame = {
    require(k >= 2, "eval gram length must be >= 2")
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing
    val grams = toks
      .select(col(idCol), col("is_eval"),
        posexplode(Text.positionalGrams(col("tk"), k)).as(Seq("pos", "gram")))
      .select(col(idCol), col("is_eval"), col("pos").cast("long").as("pos"),
        Hashing.md5Long(col("gram"), seed).as("gh"))
    val evalGrams = grams.filter(col("is_eval")).select("gh").distinct()
    val seeds = grams.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("gh"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    seeds
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("new_span",
        when(col("prev").isNull || col("pos") > col("prev") + k, lit(1L)).otherwise(lit(0L)))
      .withColumn("span_idx", sum(col("new_span")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("span_idx"))
      .agg(
        min(col("pos")).as("start_tok"),
        (max(col("pos")) + k).as("end_tok"),
        (max(col("pos")) + k - min(col("pos"))).as("n_tokens"),
        count(lit(1)).as("n_seeds"))
  }
}
