package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline surface:
  * tokenization, shingling, language-ID, quality scoring, token counting,
  * and document fingerprinting.
  *
  * Design rules:
  *  - everything is a per-row `Column` expression (no shuffle, no UDF):
  *    at 100 TB these run as one WholeStageCodegen scan pass;
  *  - all hashes go through [[Hashing.md5Long]] so the DuckDB oracle can
  *    replicate results exactly;
  *  - threshold logic uses integer arithmetic (`10*a >= b`, not
  *    `a.toDouble/b >= 0.1`) so no float-boundary divergence exists
  *    between engines.
  *
  * Reference semantics derived from the text-ish glue in the reference
  * repo (string cleanup in `airflow/dags/crimeapi/transform.py:27-46`)
  * extended to the declared north-star text surface (SURVEY.md §2.8
  * Q20-Q21).
  */
object Text {

  /** Whitespace tokens with empties removed (parity with DuckDB
    * `list_filter(string_split(text,' '), x -> x != '')`). One
    * codegen'd byte-scan pass ([[TextExpressions.TokenizeWords]]) —
    * the built-in `filter(split(...))` form pays an interpreted
    * higher-order filter per document on every text query. */
  def tokens(text: Column): Column =
    TextExpressions.tokenizeWords(text)

  /** Distinct word n-gram shingles (first-occurrence order; empty when
    * the doc has fewer than n tokens — DuckDB's `generate_series(1, 0)`
    * is empty likewise). Implemented as a custom codegen'd loop
    * ([[TextExpressions.ShingleGrams]]) — the higher-order-function
    * formulation is interpreted and goes quadratic when the optimizer
    * duplicates it into inferred filters. */
  def shingles(toks: Column, n: Int): Column =
    TextExpressions.shingleGrams(toks, n)

  /** Most-frequent word n-gram with multiplicity, as
    * `struct(gram, cnt, m)` — see [[TextExpressions.TopGram]]. Per-row,
    * zero-shuffle; ties break to the byte-smallest gram, matching the
    * oracle's `ORDER BY c DESC, gram ASC` window pick. */
  def topGram(toks: Column, n: Int): Column =
    TextExpressions.topGram(toks, n)

  /** Position-ordered word n-grams with duplicates kept — see
    * [[TextExpressions.PositionalGrams]]. Output index i is the gram
    * starting at token i. */
  def positionalGrams(toks: Column, n: Int): Column =
    TextExpressions.positionalGrams(toks, n)

  /** DuckDB SQL for [[shingles]] over a token-list expression. */
  def shinglesSql(toksExpr: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$toksExpr[i+$k]").mkString(", ")
    s"list_distinct(list_transform(generate_series(1, len($toksExpr) - ${n - 1}), i -> concat_ws(' ', $parts)))"
  }

  // --- language ID (marker-word heuristic) --------------------------------
  // Deterministic stopword-marker scoring: count tokens in each language's
  // marker set; winner by score with a fixed priority tie-break. 'und' when
  // no marker hits. Same CASE chain is emitted for the oracle.
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu"),
    "es" -> Seq("el", "la", "de", "y", "es", "que"),
    "fr" -> Seq("le", "la", "de", "et", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在")
  )

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Predicted language: argmax of marker scores, priority-ordered
    * tie-break (en > de > es > fr > zh), 'und' if all scores are 0. */
  def langId(toks: Column): Column = {
    val scores = langMarkers.map { case (lang, m) => lang -> markerScore(toks, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), rest) =>
      when(s === best && best > 0, lit(lang)).otherwise(rest)
    }
  }

  /** DuckDB SQL mirroring [[langId]] over a token-list expression. */
  def langIdSql(toksExpr: String): String = {
    def score(m: Seq[String]) =
      s"len(list_filter($toksExpr, t -> t IN (${m.map(w => s"'$w'").mkString(",")})))"
    val scores = langMarkers.map { case (lang, m) => lang -> score(m) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val chain = scores
      .map { case (lang, s) => s"WHEN $s = __best AND __best > 0 THEN '$lang'" }
      .mkString(" ")
    // __best must be textually inlined (oracle is a single SELECT expr):
    val inlined = chain.replace("__best", best)
    s"CASE $inlined ELSE 'und' END"
  }

  // --- quality scoring -----------------------------------------------------
  // Integer-arithmetic thresholds only. quality_bucket:
  //   2 (good): >= 20 tokens and stopwords >= 5% of tokens
  //   1 (ok):   >= 5 tokens
  //   0 (junk): shorter
  def qualityBucket(nToks: Column, nStop: Column): Column =
    when(nToks >= 20 && nStop * 20 >= nToks, lit(2))
      .when(nToks >= 5, lit(1))
      .otherwise(lit(0))

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in", "that", "it", "on")

  // --- token counting ------------------------------------------------------
  /** BPE-ish sub-token count: alpha runs, digit runs, and single other
    * non-space chars. Same RE2-compatible pattern runs in both engines. */
  val bpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  // --- document fingerprint (position-weighted rolling hash) ---------------
  // fp(doc) = sum over tokens of (md5Long(tok, 7) mod 1000003) * ((pos mod 31)+1)
  // Position-sensitive (reordering tokens changes it), bounded (< 2^63),
  // exact in both engines. Pure per-row fold — no shuffle.
  def fingerprint(toks: Column): Column =
    aggregate(
      transform(toks, (t, i) => (Hashing.md5Long(t, 7) % 1000003L) * ((i % 31) + lit(1L))),
      lit(0L),
      (acc, x) => acc + x
    )

  def fingerprintSql(toksExpr: String): String = {
    val h = Hashing.md5LongSql(s"$toksExpr[i]", 7)
    // CAST: DuckDB's list sum widens to DOUBLE; the fold stays < 2^53 so
    // the BIGINT cast is exact.
    s"CAST(list_aggregate(list_transform(generate_series(1, len($toksExpr)), i -> ($h % 1000003) * (((i-1) % 31) + 1)), 'sum') AS BIGINT)"
  }

  // --- SimHash --------------------------------------------------------------
  /** 60-bit SimHash over the token multiset (60 = every bit of the md5
    * base hash; with 4 × 15-bit pigeonhole chunks the LSH candidate
    * bound is n²/2^15 per chunk — the narrower 32-bit/8-bit-chunk
    * scheme's 256 keys are quadratic in disguise at corpus scale).
    * Bit i of the result is set iff more than half of the tokens have
    * bit i set in their 60-bit md5 hash. Per-row expression, no
    * shuffle; exact in both engines. */
  val simhashBits = 60

  def simhash(toks: Column): Column = {
    val hs = transform(toks, t => Hashing.md5Long(t, 11))
    val n = size(hs)
    (0 until simhashBits)
      .map { i =>
        val setCnt = size(filter(hs, h => shiftright(h, i).bitwiseAND(lit(1L)) === 1L))
        when(setCnt * 2 > n, lit(1L << i)).otherwise(lit(0L))
      }
      .reduce((a, b) => a + b)
  }
}
