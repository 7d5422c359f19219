package graft.analytics

import graft.{SparkEntry, SparkSpec}

/** Job budgets of the queries that are bound by driver job submission
  * (the perfbench `query_jobbound` sweep): each query, built and run
  * into the `noop` sink at sf0.001, submits exactly its pinned number of
  * Spark jobs. Building counts too, since eager cuts run jobs while the
  * query is built. A change that adds a job fails here; one that saves
  * a job lowers the pin. */
class QueryJobsSpec extends SparkSpec {

  QueryJobsSpec.Budget.foreach { case (name, budget) =>
    test(s"$name runs $budget Spark jobs at sf0.001") {
      val (_, jobs) = countingJobs {
        SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()
      }
      assert(jobs == budget, s"$name ran $jobs jobs")
    }
  }
}

object QueryJobsSpec {

  /** Jobs per query, build plus the `noop` write, in the test session
    * (`local[4, 2]`, 4 shuffle partitions, AQE on, so each query stage
    * is its own job). */
  val Budget: Seq[(String, Int)] = Seq(
    "t28_curation_chain"     -> 29,
    "d08_canonical_docs"     -> 15,
    "t07_corpus_curation"    -> 12,
    "d05_dedup_clusters"     -> 10,
    "p03_incremental_rollup" -> 16)
}
