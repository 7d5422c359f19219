package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: row count, the sum of the low
  * 32 bits of each row's hash, and the XOR of the full hashes. Doubles
  * are hashed at 6 significant digits (the oracle's comparison
  * precision) so the value does not depend on summation order. */
final case class Fingerprint(rows: Long, sum32: Long, xor64: Long) {
  def json: String = s"""{"rows":$rows,"sum32":$sum32,"xor64":$xor64}"""
}

object Fingerprint {
  private def canon(df: DataFrame): Seq[Column] =
    df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType             => format_string("%.6g", c.cast(DoubleType))
        case TimestampType | DateType | _: DecimalType => c.cast(StringType)
        case _                                  => c
      }
    }

  /** `df` with the fingerprint observed on whatever action runs it. */
  def observe(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = xxhash64(canon(df): _*)
    (df.observe(obs, count(lit(1)).as("rows"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("sum32"),
      bit_xor(h).as("xor64")), obs)
  }

  def read(obs: Observation): Fingerprint = {
    val r = Await.result(obs.future, 120.seconds)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Fingerprint(l(0), l(1), l(2))
  }

  def loadAll(path: String): Map[String, Fingerprint] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(Paths.get(path)))
      node.get("queries").properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Fingerprint(v.get("rows").asLong, v.get("sum32").asLong, v.get("xor64").asLong)
      }.toMap
    }
}

/** The query workloads: one cycle is one sweep over a fixed query set,
  * each query built with `SparkEntry.queries(name)(spark, dataDir)` and
  * run into the `noop` sink, in an order drawn from the seed. Each
  * query execution is one timed op; its output fingerprint rides the
  * same action as an observation and is compared, untimed, with the
  * recorded one. As in `graft.Bench`, persisted blocks are dropped
  * between queries, outside the timed region.
  *
  * With `record` set, the sweep instead runs every query once, writes
  * its output as parquet and its fingerprint to `record`, for the
  * one-time DuckDB check (`perfbench/oracle.py`). */
final class QuerySweep(names: Seq[String], dataDir: String, seed: Long, fingerprintFile: String,
    record: Option[String]) extends Main.Workload {
  private val rnd = new scala.util.Random(seed)
  private var expected = Map.empty[String, Fingerprint]
  private var attempted = 0
  private var failed = 0
  private val notes = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[OpSpan]
  private val recorded = mutable.LinkedHashMap.empty[String, Fingerprint]

  override def describe: String =
    s"""{"queries":${names.map(n => "\"" + n + "\"").mkString("[", ",", "]")},"data":"$dataDir"}"""

  override def fixtures(): Unit = expected = Fingerprint.loadAll(fingerprintFile)

  override def prepare(spark: SparkSession): Unit = {
    val queries = SparkEntry.queries
    names.foreach(n => require(queries.contains(n), s"unknown query $n"))
    // resolve every input table's schema once per session
    Seq("documents", "events").foreach(t => graft.core.Tables(spark, dataDir, t).schema)
  }

  override def cycle(spark: SparkSession, n: Int, traced: Boolean): Seq[Double] = {
    val queries = SparkEntry.queries
    val sc = spark.sparkContext
    val order = if (record.isDefined) names else rnd.shuffle(names)
    order.map { name =>
      attempted += 1
      val id = s"s$n.$name"
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      var t1 = t0
      val fp = try {
        val df = queries(name)(spark, dataDir)
        t1 = System.currentTimeMillis()
        val (observed, obs) = Fingerprint.observe(df)
        observed.write.format("noop").mode("overwrite").save()
        Some(obs)
      } catch { case e: Exception => notes += s"$id: ${e.getClass.getSimpleName}: ${e.getMessage}"; None }
      val t2 = System.currentTimeMillis()
      sc.clearJobGroup()
      spans += OpSpan(id, name, t0, t2, t1 - t0)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      fp.map(Fingerprint.read) match {
        case None => failed += 1
        case Some(got) =>
          record.foreach { dir =>
            recorded(name) = got
            queries(name)(spark, dataDir).write.mode("overwrite").parquet(s"$dir/$name")
          }
          expected.get(name) match {
            case Some(want) if want == got => ()
            case _ if record.isDefined     => ()
            case want =>
              failed += 1
              notes += s"$id: fingerprint ${got.json} != recorded ${want.map(_.json).getOrElse("(none)")}"
          }
      }
      (t2 - t0) / 1e3
    }
  }

  override def outcome(spark: SparkSession, tracer: Option[Tracer]): Main.Outcome = {
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val jobs = tracer.map { t =>
      Tracer.drain(spark.sparkContext)
      t.jobs(spans.toSeq)
    }.getOrElse(Nil)
    if (tracer.isDefined) {
      val byOp = jobs.groupBy(_.op)
      names.foreach { name =>
        val rows = spans.filter(_.kind == name).toSeq.map { op =>
          val js = byOp.getOrElse(op.id, Nil)
          val union = Tracer.assignSelfTime(op, js)
          Map(
            "s" -> op.wallS,
            "build_s" -> op.buildMs / 1e3,
            "jobs" -> js.size.toDouble,
            "cut_jobs" -> js.count(_.module == "core.cut").toDouble,
            "driver_gap_s" -> (op.wallS - union / 1e3),
            "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble)
        }
        rows.flatMap(_.keys).distinct.foreach(k => perLayer(s"q.$name.$k") = Main.mean(rows.map(_(k))))
      }
    }
    record.foreach { dir =>
      val oracle = SparkEntry.oracleSql
      val q = recorded.map { case (k, v) => s""""$k":${v.json}""" }.mkString("{", ",", "}")
      val sql = names.flatMap(n => oracle.get(n).map(s => s""""$n":${jsonString(s)}""")).mkString("{", ",", "}")
      Files.write(Paths.get(s"$dir/fingerprints.json"), s"""{"queries":$q}""".getBytes(StandardCharsets.UTF_8))
      Files.write(Paths.get(s"$dir/oracle_sql.json"), sql.getBytes(StandardCharsets.UTF_8))
    }
    Main.Outcome(attempted, failed, perLayer.toMap, notes.toSeq, Tracer.spansJson(spans.toSeq, jobs))
  }

  private def jsonString(s: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(s)
}

object QuerySweep {
  val sets: Map[String, Seq[String]] = Map(
    "query_jobbound" -> Seq("t28_curation_chain", "d08_canonical_docs", "t07_corpus_curation",
      "d05_dedup_clusters", "p03_incremental_rollup"))
}
