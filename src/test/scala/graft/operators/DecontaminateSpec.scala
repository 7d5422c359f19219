package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  // eval doc 0 shares a 3-gram run with doc 1 (contaminated), doc 2 is
  // clean, doc 3 is too short for any 3-gram, doc 4 is an exact copy of
  // the eval doc (fully contaminated).
  private def docs = Seq(
    (0L, "alpha beta gamma delta epsilon"),
    (1L, "alpha beta gamma zeta eta theta iota kappa lambda mu"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "xy zz"),
    (4L, "alpha beta gamma delta epsilon")
  ).toDF("doc_id", "text")

  private lazy val run =
    Decontaminate
      .ngramContamination(docs, "doc_id", "text", n = 3, isEval = col("doc_id") === 0)
      .select("doc_id", "n_grams", "n_hit", "contam_e6", "contaminated")
      .as[(Long, Long, Long, Long, Int)]
      .collect()
      .map(r => r._1 -> r)
      .toMap

  test("eval docs are excluded from the output") {
    assert(!run.contains(0L))
  }

  test("overlapping doc counts its shared distinct grams and flags at >= 10%") {
    // doc 1: 8 distinct 3-grams, exactly one ("alpha beta gamma") in eval
    assert(run(1L) == ((1L, 8L, 1L, 125000L, 1)))
  }

  test("clean doc reports zero hits and no flag") {
    assert(run(2L) == ((2L, 8L, 0L, 0L, 0)))
  }

  test("doc shorter than n reports zero grams and clean") {
    assert(run(3L) == ((3L, 0L, 0L, 0L, 0)))
  }

  test("exact copy of an eval doc is fully contaminated") {
    assert(run(4L) == ((4L, 3L, 3L, 1000000L, 1)))
  }

  test("the eval-gram side is broadcast (train side never shuffles by gram)") {
    val plan = Decontaminate
      .ngramContamination(docs, "doc_id", "text", n = 3, isEval = col("doc_id") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"))
  }

  test("a NULL eval predicate counts as train-side, never vanishes") {
    // when() without otherwise: doc 0 → true, every other doc → NULL.
    // NULL must read as "not eval" — the doc stays in the report.
    val out = Decontaminate
      .ngramContamination(docs, "doc_id", "text", n = 3,
        isEval = when(col("doc_id") === 0, lit(true)))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 4L))
  }

  // --- semantic (embedding-space) contamination ---------------------------

  // eval vecs 0 (e1 axis) and 4 (e2 axis); vec 1 ≈ eval 0 (cos ~0.995),
  // vec 2 ⟂ eval set, vec 3 = exact copy of eval 0, vec 5 ≈ eval 4 —
  // the argmax must pick the NEAREST eval id (4), not the minimum (0).
  private def vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(10f, 1f, 0f, 0f)),
    (2L, Array(0f, 0f, 3f, 4f)),
    (3L, Array(2f, 0f, 0f, 0f)),
    (4L, Array(0f, 1f, 0f, 0f)),
    (5L, Array(0f, 10f, 0f, 1f))
  ).toDF("vec_id", "embedding")

  private lazy val runSem =
    Decontaminate
      .semanticContamination(vecs, "vec_id", "embedding",
        isEval = col("vec_id") === 0 || col("vec_id") === 4, threshold = 0.9)
      .select("vec_id", "near_eval_id", "max_cos", "contaminated")
      .as[(Long, Long, Double, Int)]
      .collect()
      .map(r => r._1 -> r)
      .toMap

  test("near-copy of an eval vector flags with the right nearest eval id") {
    val (_, near, cos, flag) = runSem(1L)
    assert(near == 0L && cos > 0.99 && cos < 1.0 && flag == 1)
  }

  test("argmax picks the nearest eval id, not the minimum eval id") {
    val (_, near, cos, flag) = runSem(5L)
    assert(near == 4L && cos > 0.99 && cos < 1.0 && flag == 1)
  }

  test("orthogonal vector reports its true (low) max cosine and no flag") {
    val (_, _, cos, flag) = runSem(2L)
    assert(cos == 0.0 && flag == 0)
  }

  test("exact scaled copy of an eval vector is fully contaminated") {
    assert(runSem(3L) == ((3L, 0L, 1.0, 1)))
  }

  test("eval vectors are excluded from the semantic output") {
    assert(!runSem.contains(0L) && !runSem.contains(4L))
  }

  test("semantic contamination accepts string ids; exact cosine ties break ascending") {
    // v6 sits at 45° between the two eval axes: its cosine to v0 and v4
    // is the SAME double, so near_eval_id exercises the tie-break — and
    // string ids exercise the ANSI-safety of the tie-break key (the
    // negation stays on the cosine, never the id).
    val sv = vecs.toDF("nid", "embedding")
      .union(Seq((6L, Array(1f, 1f, 0f, 0f))).toDF("nid", "embedding"))
      .select(concat(lit("v"), col("nid")).as("sid"), col("embedding"))
    val out = Decontaminate
      .semanticContamination(sv, "sid", "embedding",
        isEval = col("sid").isin("v0", "v4"), threshold = 0.9)
      .select("sid", "near_eval_id", "contaminated")
      .as[(String, String, Int)].collect().map(r => r._1 -> r).toMap
    assert(out("v1") == (("v1", "v0", 1)))
    assert(out("v5") == (("v5", "v4", 1)))
    assert(out("v6") == (("v6", "v0", 0))) // tie → ascending eval id
    // NULL isEval counts as train-side here too
    val withNull = Decontaminate
      .semanticContamination(sv, "sid", "embedding",
        isEval = when(col("sid").isin("v0", "v4"), lit(true)), threshold = 0.9)
    assert(withNull.count() == 5)
  }

  test("contaminatedSpans finds the quoted eval range and merges adjacent seeds") {
    // doc 0 is eval: "the quick brown fox jumps over the lazy dog".
    // doc 1 quotes 6 tokens of it mid-document: 3-gram seeds at quote
    // positions 3,4,5,6 (of the 6-token quote) merge into ONE span;
    // doc 2 shares no 3-gram.
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "alpha beta gamma quick brown fox jumps over delta epsilon"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val out = Decontaminate.contaminatedSpans(
        docs, "doc_id", "text", isEval = col("doc_id") === 0, k = 3)
      .select("doc_id", "start_tok", "end_tok", "n_tokens", "n_seeds")
      .as[(Long, Long, Long, Long, Long)].collect()
    // doc 1 tokens: alpha(0) beta(1) gamma(2) quick(3) brown(4) fox(5)
    // jumps(6) over(7) delta(8) epsilon(9); eval 3-grams hit at
    // positions 3..6 ("quick brown fox" … "jumps over delta"? no —
    // "fox jumps over" ends at 5; "jumps over delta" is not eval) →
    // seeds {3,4,5}, one span [3, 8) of 5 tokens
    assert(out.toSeq == Seq((1L, 3L, 8L, 5L, 3L)))
    // a doc quoting nothing yields no rows; eval docs are excluded
    assert(!out.exists(r => r._1 == 0L || r._1 == 2L))
  }
}
