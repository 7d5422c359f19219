package graft.analytics

import graft.SparkSpec
import graft.sources.LandingZone
import org.apache.spark.sql.functions._

/** Physical-plan audits — the properties that decide 100 TB behavior,
  * asserted on `.explain`-level plan text so a regression that silently
  * turns a bucketed join into a cartesian product fails CI, not the
  * cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val q = Queries.all.find(_.name == name).get
    q.fn(spark, sf0001).queryExecution.executedPlan.toString
  }

  test("q02: range + IN filters are pushed into the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"))
  }

  test("q01: column pruning — the scan reads only projected columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"))
  }

  test("q05: dimension joins broadcast") {
    assert(plan("q05_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("LSH operators never plan a cartesian or nested-loop join") {
    // the whole point of the banded candidate generation: every join is
    // an equi-join on a band/bucket key or an id
    Seq("d01_minhash_lsh", "d02_simhash_pairs", "d03_embedding_neardup", "s02_ann_lsh",
        "j02_asof_join", "j03_range_join", "d06_set_similarity_join").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n plans a nested-loop join")
    }
  }

  test("s04 IVF: assignment aggregates with map-side combine, no N×C window sort") {
    val p = plan("s04_ann_ivf")
    // the r3 shape ranked all N×C scored rows through one Window
    // (Exchange + Sort over the crossJoin output); the r4 shape is a
    // hash aggregation with partial (map-side) combine before the
    // shuffle, so no Window may consume a crossJoin anymore
    assert(!p.contains("CartesianProduct"), "IVF must broadcast the centroid side")
    assert(p.contains("max_by"), "assignment should be a max_by aggregation")
    // exactly one Window remains: the final per-query top-k ranking
    assert("(?m)Window".r.findAllIn(p).size <= 2, s"unexpected extra Window stages:\n$p")
  }

  test("d01 minhash: one fused signature aggregate, not 64 min-aggs") {
    // the signature pass materializes in a plain cut of the signature
    // table, so the final d01 frame only reads the cut — the
    // fused-aggregate assertion checks the signature subplan at its
    // source (the exact plan the cut executes)
    val docs = graft.core.Tables.documents(spark, sf0001)
    val sh = docs
      .select(col("doc_id").as("id"), graft.functions.Text.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("id"), graft.functions.Text.shingles(col("tk"), 3).as("sh"))
    val p = graft.operators.Dedup.minhashSignatures(sh).queryExecution.executedPlan.toString
    assert(p.contains("minhashsig") || p.contains("MinHashSig"), "fused TypedImperativeAggregate missing")
    assert(!p.contains("m63"), "the 64-column min-agg shape is back")
    // and the final frame reads materialized blocks, not re-derived text
    assert(plan("d01_minhash_lsh").contains("ExistingRDD"),
      "d01's candidate/verify frame must read the cut blocks")
  }

  test("t27: one corpus pass — batch summaries slice the materialized count, never rescan events") {
    // the r17 restructure: qsCountedBase runs ONCE (materialized via
    // Reliability.cut), and the four per-batch summaries + fold chain
    // derive from slices of that cut. The pre-r17 shape scanned the
    // events parquet once per batch (10 scans in the committed plan);
    // the only parquet scan left is the exact-rank join-back side.
    val p = plan("t27_quantile_maintenance")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"t27 should scan events once for the join-back, found $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), "the counted base must read from the materialized cut")
  }

  test("t30: the high-cardinality (single=false) quantile fold stays fully distributed") {
    // the claim next to the query: with millions of group keys the
    // summary state is groups × (k+1) rows — the fold must hash-
    // partition on the group key everywhere and never collapse to one
    // task (no repartition(1), no coalesce(1))
    val p = plan("t30_user_quantiles")
    assert(!p.contains("SinglePartition"), s"t30 must not plan a single-partition exchange:\n$p")
    assert(!"Coalesce 1(?!\\d)".r.findAllIn(p).hasNext, s"t30 must not coalesce to one partition:\n$p")
    assert(p.contains("Exchange hashpartitioning"), "the fold should hash-partition on the group key")
  }

  test("q36: the merge hint holds — a shuffle join AQE can split, not a broadcast") {
    val p = plan("q36_aqe_skew_join")
    assert(p.contains("SortMergeJoin"), s"q36 must shuffle-join for AQE skew handling:\n$p")
    assert(!p.contains("BroadcastHashJoin"), "broadcast would hide the skew path")
  }

  test("AQE splits a skewed shuffle join at runtime, identical rows to the unsplit plan") {
    // the q29/q36 story completed at the PLAN level: with thresholds
    // scaled to fixture bytes, the hot partition (90% of the fact on
    // one key) must come out of AQE as a skew-split sort-merge join —
    // and flipping the knob off must change only the partitioning,
    // never a row. At 100 TB the same defaults (256 MB threshold)
    // catch the same shape without any query change.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      def q() = {
        val fact = spark.range(0, 200000, 1, 8).select(
          when($"id" % 10 =!= 0, lit(7L)).otherwise($"id").as("k"), $"id".as("v"))
        val dim = spark.range(0, 2000).select($"id".as("k"), ($"id" % 100).as("grp"))
        fact.join(dim, "k").groupBy("grp").agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      }
      val df = q()
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true") || p.contains("skewed"), s"no skew split in final plan:\n$p")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val want = q().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("landing-zone read prunes load_date partitions in the scan") {
    val root = java.nio.file.Files.createTempDirectory("landing").toString + "/raw"
    Seq(("C1", "2024-01-05T10:00:00.000"), ("C2", "2024-02-06T10:00:00.000")).foreach { case (id, d) =>
      // go through the real writer so the layout matches production
      val raw = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row.fromSeq(
          graft.core.Schemas.rawCrime.fieldNames.map {
            case "id"   => id
            case "date" => d
            case _      => null
          }.toSeq))),
        graft.core.Schemas.rawCrime)
      LandingZone.write(raw, root, d.take(10))
    }
    val pruned = LandingZone.read(spark, root, Seq("2024-01-05"))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("load_date"))
    assert(pruned.count() == 1)
  }
}
