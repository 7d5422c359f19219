package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.analytics.Queries
import graft.core.{GraftSession, QueryDef}
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The engine's measurement main (guide §1): three subcommands on one
  * [[GraftSession]] with shuffle partitions = cores and the gate
  * sessions' band-join guard.
  *
  * {{{
  * sbt "runMain graft.Profile jobs <q,..> [planDir]"
  * sbt "runMain graft.Profile ab <q,..> <confKey> <v1,..> [rounds]"
  * sbt "runMain graft.Profile plans [outFile]"
  * }}}
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PROBE_CONF (session confs
  * for probing a variant arm: `;`-separated key=value entries, so a
  * value may contain commas, e.g.
  * `spark.sql.shuffle.partitions=8;spark.sql.adaptive.enabled=false`).
  * Each subcommand body takes the session, so specs run it on theirs.
  */
object Profile {

  /** The queries whose plan shape carries the scale argument. */
  val headline: Seq[String] = Seq(
    "q02_filter",            // pushdown evidence
    "q05_broadcast_join",    // dim-join broadcast
    "q06_large_join",        // sort-merge equi-join
    "d01_minhash_lsh",       // fused signature agg + banded join
    "d02_simhash_pairs",     // fused bit-counter agg + pigeonhole banding
    "v04_sql_sketch_agg",    // the fused aggregate through spark.sql
    "d05_dedup_clusters",    // iterative component resolution (first round plan)
    "d08_canonical_docs",    // per-cluster argmax: one combinable agg, no corpus window
    "s04_ann_ivf",           // map-side argmax assignment
    "s05_quantize",          // explode + combine + join-back
    "t04_text_stats",        // exact-integer aggregation
    "t07_corpus_curation",   // composed anti-join pipeline
    "st04_interval_join",    // interval join (batch twin of the stream)
    "p01_upsert_merge",      // keep-latest merge core
    "j02_asof_join",         // union + single-window as-of shape
    "j03_range_join",        // bucketed non-equi → equi rewrite
    "q29_salted_join",       // salted skew join
    "p03_incremental_rollup", // state + batch combine (no history lineage)
    "q30_bloom_join",        // bloom probe filters before the join
    "d06_set_similarity_join", // prefix-filtered exact set-similarity join
    "t12_decontaminate",     // broadcast semi-join against the eval-gram set
    "s06_semantic_decontaminate", // broadcast eval scoring + map-side argmax
    "d07_incremental_dedup", // batch bands broadcast against corpus bands
    "s07_embedding_incremental_dedup", // batch SRP chunks broadcast vs stored corpus codes
    "s08_ann_ivf_indexed",   // query batch probes the stored quantizer + inverted file
    "t14_boilerplate_strip", // line-df shuffle carries hashes, text never moves twice
    "t16_top_ngram_mass",    // zero-shuffle codegen'd per-row gram counting
    "t17_stratified_cap",    // hash-threshold prefilter ahead of the rank window
    "t18_dup_spans",         // fixed-width (hash,id,pos) shuffle + seed-only window
    "s09_ann_recall",        // sample-bounded truth join vs the IVF path
    "t19_vocab_coverage",    // TakeOrdered top-K, window over 100 rows only
    "t20_lm_score",          // position stream joins two combinable count tables
    "s11_pq_adc",            // codes join the broadcast query distance table
    "s12_ivf_pq",            // probed cells bound candidates; ADC bounds per-candidate cost
    "s13_hybrid_rrf",        // inverted-index postings join + rank-only fusion
    "g01_graph_rank",        // iterative edge join + map-side-combined inflow (final round plan)
    "g02_graph_rank_weighted", // weighted twin: weights ride the same edge shuffle
    "st06_stream_neardup_ttl", // TTL near-dup batch twin: banded flatMapGroupsWithState shape
    "d09_corpus_overlap",    // k-row sketch merge; sketch cut once, corpus touched by distinct + cap
    // t23_bpe_merges is deliberately absent: its result is a driver-built
    // merge table (LocalTableScan) — the interesting per-round pair-count
    // plans run inside the loop and aren't visible from the final frame
    "t24_heavy_hitters",     // single MG sketch agg (map-side combined) + exact validation join
    "st07_stream_heavy_hitters", // windowed MG sketch (one state row per hour) + contract join
    "t25_bpe_apply",         // merge replay + subword count, all on the vocab table
    "j04_band_join_auto",    // LEFT OUTER band join through the rewrite rule (bucketed explode + copy-resolution window)
    "j05_band_join_full_outer", // FULL OUTER band join through the rewrite rule (union of the two proven constructions)
    "j06_band_join_right_outer", // RIGHT OUTER band join through the rewrite rule (mirrored LeftOuter construction)
    "q36_aqe_skew_join",     // AQE-planned skew split (the 100 TB answer; q29's salting is the fallback)
    "t26_cms_frequency",     // one-scan CMS counter build; probes join the broadcast bounded sketch
    "t27_quantile_maintenance", // 4-batch quantile-summary fold: bounded windows, no history rescan
    "t28_curation_chain",    // full curation pipeline as one program: per-signal scans join back by id
    "t29_cms_maintenance",   // 4-batch CMS counter fold == whole-stream build
    "t30_user_quantiles",    // single=false fold stays hash-partitioned: no single-partition exchange
    "st09_stream_distinct",  // windowed KMV: one bounded-blob agg per window, estimate read off the sketch
    "d10_kmv_maintenance",   // 4-batch k-minima fold == whole-corpus build; every fold stage ≤ 2k rows/group
    "s16_ivf_incremental",   // 4-batch posting fold == whole-corpus assignment; quantizer broadcast per batch, corpus cut once
    "s17_pq_incremental"     // 4-batch code fold == whole-corpus encode; codebook broadcast per batch, last fold retires deletes
  )

  def main(args: Array[String]): Unit = {
    // parse (and resolve every query name) before a session exists
    val body: (SparkSession, String) => Seq[String] = args.toList match {
      case "jobs" :: qs :: rest =>
        val defs = lookup(list(qs))
        jobs(_, _, defs, rest.headOption)
      case "ab" :: qs :: confKey :: values :: rest =>
        val defs = lookup(list(qs))
        ab(_, _, defs, confKey, list(values), rest.headOption.fold(5)(_.toInt))
      case "plans" :: rest =>
        val defs = lookup(headline)
        plans(_, _, defs, rest.headOption.getOrElse("PLANS.md"))
      case _ =>
        sys.error("usage: Profile jobs <q,..> [planDir] | ab <q,..> <confKey> <v1,..> [rounds] | plans [outFile]")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // test-scale inputs sit under the band-join rewrite's default
      // decline-if-broadcastable guard; lower it as Bench and Verify do,
      // so the probes see the REWRITTEN plans that run at scale
      .config(graft.plans.RangeJoinRewrite.SmallRightBytesKey, "65536")
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").map(_.trim).filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      // warm-up: shuffle + codegen machinery
      spark.range(1000000).selectExpr("sum(id % 7)").collect()
      body(spark, sfDir).foreach(println)
    } finally spark.stop()
  }

  private def list(csv: String): Seq[String] = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The inventory entries named, in order; an unknown name is an error. */
  def lookup(names: Seq[String]): Seq[QueryDef] = {
    val byName = Queries.all.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"unknown query: $n")))
  }

  private def plan(spark: SparkSession, sfDir: String, q: QueryDef): String =
    q.fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** One timed noop-sink run of `q`, in seconds. Afterwards the persisted
    * cut blocks are dropped (the Bench hygiene rule, r21), so a later
    * query in a multi-query probe does not carry this one's storage. */
  private def timedRun(spark: SparkSession, sfDir: String, q: QueryDef): Double = {
    val t0 = System.nanoTime()
    q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val t = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    t
  }

  /** `jobs`: per query, a `== name t s (3rd run) ==` line and then a
    * PER-JOB wall-time and shuffle-bytes line for each job of that run —
    * the local-mode stand-in for the Spark UI's Jobs page (the UI is
    * off). A query is one noop-sink action plus the eager
    * `Reliability.cut` / scalar-fetch jobs its construction runs, so
    * "which job burns the time" is exactly the question this answers.
    * With `planDir`, each query's `explain("formatted")` is written to
    * `<planDir>/<name>.txt`. */
  def jobs(spark: SparkSession, sfDir: String, qs: Seq[QueryDef], planDir: Option[String]): Seq[String] = {
    val jobStart = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    val jobLines = new ConcurrentLinkedQueue[String]()
    val stageShuffle = new ConcurrentHashMap[Int, (Long, Long)]() // keyed stageId
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobStart.put(j.jobId,
          (System.nanoTime(), s"stages=${j.stageIds.size} $desc", j.stageIds.map(_.toInt)))
        ()
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null)
          stageShuffle.put(sc.stageInfo.stageId,
            (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(j.jobId)).foreach { case (t0, meta, stageIds) =>
          val ms = (System.nanoTime() - t0) / 1e6
          // per-job shuffle bytes summed over the job's own stages (the
          // stage-completed events precede job end on the listener bus)
          val (r, w) = stageIds.flatMap(s => Option(stageShuffle.get(s)))
            .foldLeft((0L, 0L)) { case ((ar, aw), (sr, sw)) => (ar + sr, aw + sw) }
          jobLines.add(
            f"    job ${j.jobId}%3d  ${ms}%8.1f ms  shufR=${r / 1e6}%7.2fMB shufW=${w / 1e6}%7.2fMB  $meta")
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try qs.flatMap { q =>
      planDir.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, s"${q.name}.txt"), plan(spark, sfDir, q).getBytes(StandardCharsets.UTF_8))
      }
      timedRun(spark, sfDir, q) // warm: plan compile + codegen + JIT
      timedRun(spark, sfDir, q)
      GraftSparkBridge.flushListeners(spark.sparkContext)
      jobLines.clear()
      val t = timedRun(spark, sfDir, q)
      GraftSparkBridge.flushListeners(spark.sparkContext)
      f"== ${q.name}%-30s ${t}%7.3f s (3rd run) ==" +: jobLines.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `ab`: interleaved in-JVM A/B. `confKey` is alternated across
    * `values` WITHIN one JVM, so variant medians share identical
    * JIT/codegen-cache/GC state and cross-JVM noise (the ±0.3–0.6 s
    * swing two "clean" cold benches show on untouched queries) cancels
    * out; the conf must be one the query builder reads at construction
    * time. Each round runs every value, rotating their order so no arm
    * systematically runs in a colder (or GC-debt-laden) JVM position.
    * One `== query key=value median=… samples=…` line per (query,
    * value); the session's prior value of `confKey` is restored. */
  def ab(spark: SparkSession, sfDir: String, qs: Seq[QueryDef], confKey: String,
      values: Seq[String], rounds: Int): Seq[String] = {
    val prior = spark.conf.getOption(confKey)
    def run(q: QueryDef, v: String): Double = {
      spark.conf.set(confKey, v)
      timedRun(spark, sfDir, q)
    }
    try {
      // warm: one pass per (query, value) for plan compile + codegen + JIT
      qs.foreach(q => values.foreach(v => run(q, v)))
      val samples = scala.collection.mutable.Map[(String, String), Vector[Double]]()
        .withDefaultValue(Vector.empty)
      (1 to rounds).foreach { r =>
        val rot = values.drop(r % values.size) ++ values.take(r % values.size)
        rot.foreach { v =>
          qs.foreach { q =>
            samples((q.name, v)) = samples((q.name, v)) :+ run(q, v)
          }
        }
      }
      for (q <- qs; v <- values) yield {
        val xs = samples((q.name, v)).sorted
        val med = xs(xs.size / 2)
        f"== ${q.name}%-28s $confKey=$v%-8s median=${med}%7.3f  samples=${xs.map(x => f"$x%.3f").mkString(",")}"
      }
    } finally prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
  }

  /** `plans`: regenerates `PLANS.md` (or `outFile`) — each query's
    * formatted physical plan under a `## name` heading, after a header
    * saying what to look for. */
  def plans(spark: SparkSession, sfDir: String, qs: Seq[QueryDef], outFile: String): Seq[String] = {
    val sb = new StringBuilder(
      s"""# PLANS — formatted physical plans of the headline queries
         |
         |Generated by `graft.Profile plans` against `$sfDir`. Regenerate with
         |`SPARK_GRAFT_CPUS=8 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.Profile plans"`
         |after plan-shaping changes. What to
         |look for: `PushedFilters`/`ReadSchema` on scans (pruning reaches the
         |source), `BroadcastHashJoin` on dim joins, partial/final
         |`HashAggregate` pairs (map-side combine), no `CartesianProduct` or
         |`BroadcastNestedLoopJoin` on hot paths, and wide codegen spans.
         |Declared exceptions: d04's bounded quadratic baseline, and the
         |`BroadcastNestedLoopJoin`s in s04 (broadcast of <= nCentroids
         |~sqrt N rows), s06 (broadcast of the small eval set), s09
         |(inherits s01's broadcast of the 20-query eval sample and s04's
         |centroid loop), s12 (the same coarse-centroid loop) and s13
         |(inherits s01's dense tower; the lexical tower's 1-row corpus-
         |total broadcast) and t28 (temperatureMix's 1-row min-count
         |reference broadcast-crossed into the per-lang rate table) —
         |per-row scored loops against a broadcast constant, not
         |data-sized joins.
         |""".stripMargin)
    qs.foreach(q => sb.append(s"\n## ${q.name}\n\n```\n${plan(spark, sfDir, q)}```\n"))
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    Seq(s"wrote $outFile")
  }
}
