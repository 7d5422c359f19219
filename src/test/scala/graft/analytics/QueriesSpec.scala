package graft.analytics

import graft.SparkSpec

/** Smoke for the full declared inventory at sf0.001: every query plans
  * and executes; the structural ones return rows. (Value-level
  * correctness is the driver's DuckDB gate at sf0.01 — see
  * tools/check_correctness.py for the local mimic.) */
class QueriesSpec extends SparkSpec {

  private val mayBeEmpty = Set("q19_exact_dedup", "d01_minhash_lsh", "d02_simhash_pairs",
    "d03_embedding_neardup", "d04_ngram_jaccard")

  Queries.all.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val df = q.fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("every query name is unique and oracle keys are a subset") {
    val names = Queries.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(graft.SparkEntry.oracleSql.keySet.subsetOf(graft.SparkEntry.queries.keySet))
  }

  test("q04 counts distinct (partkey, suppkey) pairs as countDistinct does when a key is null") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q04-nulls").toString
    val li = Seq[(String, Option[Long], Option[Long])](
      ("A", Some(1L), Some(10L)), ("A", Some(1L), Some(10L)), ("A", Some(1L), None),
      ("A", None, Some(10L)), ("A", None, None), ("A", Some(2L), Some(20L)),
      ("R", None, Some(5L)), ("R", Some(3L), None)
    ).toDF("l_returnflag", "l_partkey", "l_suppkey")
    li.write.parquet(s"$dir/lineitem.parquet")
    val want = li.groupBy(col("l_returnflag").as("returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"))
      .collect().toSet
    assert(want.map(_.getAs[Long]("n_part_supp")) == Set(2L, 0L))
    val q04 = Queries.all.find(_.name == "q04_count_distinct").get
    assert(q04.fn(spark, dir).collect().toSet == want)
  }

  test("the driver's entry contract returns rows (the flagship smoke)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
