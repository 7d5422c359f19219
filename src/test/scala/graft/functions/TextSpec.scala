package graft.functions

import graft.SparkSpec
import graft.operators.DateDim
import graft.meta.{Checkpoint, CheckpointState}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drops empties; shingles are distinct n-grams") {
    val df = Seq("a  b c a b c").toDF("t")
    val (toks, sh) = df.select(
      Text.tokens($"t").as("toks"),
      Text.shingles(Text.tokens($"t"), 2).as("sh")
    ).as[(Seq[String], Seq[String])].first()
    assert(toks == Seq("a", "b", "c", "a", "b", "c"))
    assert(sh.toSet == Set("a b", "b c", "c a")) // distinct
  }

  test("codegen'd tokenizer matches the built-in filter(split(...)) form exactly") {
    val cases = Seq(
      "",                       // empty -> no tokens
      " ",                      // only spaces -> no tokens
      "  leading",              // leading runs
      "trailing  ",             // trailing runs
      "a", "a b", "a  b",
      "日本語 テキスト mixed ascii", // multi-byte UTF-8 around the space byte
      "tab\tand\nnewline stay single tokens" // only 0x20 splits
    )
    val df = cases.toDF("t")
    val custom = df.select(Text.tokens($"t").as("x")).as[Seq[String]].collect().toSeq
    val builtin = df.select(filter(split($"t", " "), c => c =!= lit("")).as("x"))
      .as[Seq[String]].collect().toSeq
    assert(custom == builtin)
    // null propagates like the built-in
    val nulls = Seq(Option.empty[String]).toDF("t")
    assert(nulls.select(Text.tokens($"t")).first().isNullAt(0))
  }

  test("every custom expression codegen-compiles in an UnsafeProjection (no interpreted fallback)") {
    // GenerateUnsafeProjection.generate THROWS on a codegen compile
    // failure, unlike UnsafeProjection.create which silently falls
    // back to interpreted mode — the regression this pins: TopGram's
    // struct-returning build() must be declared as InternalRow, or
    // janino rejects the Object-to-InternalRow assignment and every
    // projection containing the expression runs interpreted (observed
    // as 132 ERROR CodeGenerator lines per bench run before the fix).
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val toks = BoundReference(0, ArrayType(StringType), nullable = true)
    val exprs = Seq(
      TextExpressions.TopGram(toks, 2),
      TextExpressions.ShingleGrams(toks, 2),
      TextExpressions.PositionalGrams(toks, 2),
      TextExpressions.TokenizeWords(BoundReference(1, StringType, nullable = true)))
    exprs.foreach { e =>
      GenerateUnsafeProjection.generate(Seq(e)) // must not throw
    }
  }

  test("topGram counts with multiplicity and tie-breaks to the smallest gram") {
    val df = Seq(
      "a b a b a b c",  // "a b" x3, "b a" x2, "b c" x1 -> top ("a b", 3, 6)
      "x y z w",        // all bigrams once -> tie, smallest first: ("x y", 1, 3)
      "solo",           // fewer than 2 tokens -> ('', 0, 0)
      ""                // no tokens -> ('', 0, 0)
    ).toDF("t")
    val out = df.select(Text.topGram(Text.tokens($"t"), 2).as("g"))
      .select($"g.gram", $"g.cnt", $"g.m")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a b", 3L, 6L), ("x y", 1L, 3L), ("", 0L, 0L), ("", 0L, 0L)))
    // trigram over a doc that is one phrase repeated: cnt tracks overlap
    val tri = Seq("p q r p q r p q r").toDF("t")
      .select(Text.topGram(Text.tokens($"t"), 3).as("g"))
      .select($"g.gram", $"g.cnt", $"g.m").as[(String, Long, Long)].first()
    assert(tri == (("p q r", 3L, 7L)))
    // null token array propagates
    assert(Seq(Option.empty[String]).toDF("t")
      .select(Text.topGram(Text.tokens($"t"), 2)).first().isNullAt(0))
  }

  test("langId picks the marker-winning language, und when none") {
    val df = Seq("the cat is on the mat", "der hund ist gut und", "xyzzy plugh").toDF("t")
    val out = df.select(Text.langId(Text.tokens($"t")).as("l")).as[String].collect()
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("quality bucket thresholds") {
    // 25 tokens incl >= 5% stopwords → 2; 6 plain tokens → 1; 2 tokens → 0
    val good = ("the " * 5 + "word " * 20).trim
    val ok = "just some words no stop here"
    val junk = "tiny doc"
    val df = Seq(good, ok, junk).toDF("t")
    val toks = Text.tokens(lower($"t"))
    val nStop = size(filter(toks, t => t.isInCollection(Text.stopwords)))
    val out = df.select(Text.qualityBucket(size(toks), nStop).as("q")).as[Int].collect()
    assert(out.toSeq == Seq(2, 1, 0))
  }

  test("bpeish count splits alpha/digit/symbol runs") {
    val df = Seq("hello world42!x").toDF("t")
    // hello | world | 42 | ! | x
    assert(df.select(Text.bpeishCount($"t")).as[Int].first() == 5)
  }

  test("fingerprint is position-sensitive") {
    val df = Seq(("a b c", "c b a")).toDF("x", "y")
    val (fx, fy) = df.select(
      Text.fingerprint(Text.tokens($"x")),
      Text.fingerprint(Text.tokens($"y"))
    ).as[(Long, Long)].first()
    assert(fx != fy)
  }

  test("date dimension: attributes and holidays") {
    val dim = DateDim.build(spark, "1995-01-01", "1995-12-31")
    assert(dim.count() == 365)
    val jan1 = dim.filter($"date" === "1995-01-01").first()
    assert(jan1.getAs[String]("holiday_name") == "New Year's Day")
    assert(jan1.getAs[String]("day_of_week_name") == "Sunday")
    // 4 fixed + 6 floating (nth-weekday) holidays
    assert(dim.filter($"holiday_name".isNotNull).count() == 10)
    val byName = dim.filter($"holiday_name".isNotNull)
      .select($"holiday_name", $"date".cast("string"))
      .as[(String, String)].collect().toMap
    assert(byName("Martin Luther King Jr. Day") == "1995-01-16") // 3rd Monday
    assert(byName("Memorial Day") == "1995-05-29")               // last Monday
    assert(byName("Labor Day") == "1995-09-04")                  // 1st Monday
    assert(byName("Thanksgiving") == "1995-11-23")               // 4th Thursday
  }

  test("checkpoint roundtrip + clear") {
    val p = java.nio.file.Files.createTempDirectory("ckpt").toString + "/state.json"
    val c = new Checkpoint(spark, p)
    assert(c.read().isEmpty)
    c.write(CheckpointState("2025-07-01", 7))
    assert(c.read().contains(CheckpointState("2025-07-01", 7)))
    c.write(CheckpointState("2025-07-02", 3)) // the rename replaces the old file
    assert(c.read().contains(CheckpointState("2025-07-02", 3)))
    c.clear()
    assert(c.read().isEmpty)
  }
}
