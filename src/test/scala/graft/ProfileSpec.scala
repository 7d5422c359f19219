package graft

import java.nio.file.Files

import graft.analytics.Queries

/** `graft.Profile`'s subcommand bodies, run on the shared test session. */
class ProfileSpec extends SparkSpec {

  test("every headline name is an inventory query") {
    val names = Queries.all.map(_.name).toSet
    assert(Profile.headline.filterNot(names).isEmpty)
  }

  test("an unknown query name is an error") {
    val e = intercept[RuntimeException](Profile.lookup(Seq("q02_filter", "no_such_query")))
    assert(e.getMessage.contains("unknown query: no_such_query"))
  }

  test("plans writes a section with a physical plan for each query") {
    val out = Files.createTempFile("plans", ".md")
    val names = Profile.headline.take(2)
    Profile.plans(spark, sf0001, Profile.lookup(names), out.toString)
    val sections = Files.readString(out).split("\n## ").toSeq.tail
    assert(sections.map(_.takeWhile(_ != '\n')) == names)
    sections.foreach(s => assert(s.contains("== Physical Plan =="), s))
  }

  test("jobs reports the jobs of a query's third run") {
    val lines = Profile.jobs(spark, sf0001, Profile.lookup(Seq("q01_scan_project")), None)
    assert(lines.head.startsWith("== q01_scan_project"))
    assert(lines.tail.nonEmpty)
    assert(lines.tail.forall(_.trim.startsWith("job ")))
  }

  test("ab reports a median for each (query, value) pair and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val values = Seq("2", "3")
    val lines = Profile.ab(spark, sf0001, Profile.lookup(Seq("q01_scan_project")), key, values, rounds = 1)
    assert(lines.size == values.size)
    values.zip(lines).foreach { case (v, l) =>
      assert(l.startsWith("== q01_scan_project") && l.contains(s"$key=$v") && l.contains("median="), l)
    }
    assert(spark.conf.get(key) == before)
  }
}
