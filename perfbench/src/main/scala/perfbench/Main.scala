package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, launched by `perfbench/run.py`.
  *
  * Arguments (all `--key value`): `workload` (etl_cycle |
  * query_jobbound | record), `seed`, `seconds`, `trace`
  * (0|1), `cpus`, `work` (scratch directory), `data` (query inputs),
  * `fingerprints` (recorded query fingerprints), `out` (result file).
  *
  * Protocol: build the harness's own fixtures (the seeded generator, the
  * recorded fingerprints), then set up once: build the session, run a
  * warm-up job and resolve the workload's inputs. `setup_s` is the time
  * from JVM start to the first timed op, less the fixture time, so it is
  * the cold start a scheduled run pays. Then run whole workload cycles
  * until the next one would end past `seconds`, at least one. A traced
  * run then runs one cycle of each other workload too, so that it
  * measures every layer. The result file holds every metric the run
  * measured; `run.py` prints the ones BENCHMARK.json declares. */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(a: Array[String]): Args =
    Args(a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  /** The session every workload runs in: `graft.Bench`'s settings with
    * cpus = the machine's core count, plus local and warehouse
    * directories inside the benchmark's scratch area. */
  def settings(cpus: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    graft.plans.RangeJoinRewrite.SmallRightBytesKey -> "65536",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")

  def session(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions)
    val spark = conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** What a workload reports back to [[main]]. */
  final case class Outcome(
      attempted: Int, failed: Int, perLayer: Map[String, Double], notes: Seq[String], spans: String)

  val Workloads = Seq("etl_cycle", "query_jobbound")

  trait Workload {
    /** The workload's inputs, as JSON, for the run's detail line. */
    def describe: String
    /** The harness's own fixtures, built before the session; their time
      * is not part of `setup_s`. */
    def fixtures(): Unit
    /** Engine-side preparation, timed as part of `setup_s`. */
    def prepare(spark: SparkSession): Unit
    /** One cycle: returns the wall time (s) of each of its ops. */
    def cycle(spark: SparkSession, n: Int, traced: Boolean): Seq[Double]
    def outcome(spark: SparkSession, tracer: Option[Tracer]): Outcome
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = args.int("cpus")
    val work = args("work")
    val trace = args.int("trace") == 1
    val conf = settings(cpus, work)
    Files.createDirectories(Paths.get(work))

    def make(name: String): Workload = name match {
      case "etl_cycle" => new EtlCycle(args("seed").toLong, s"$work/etl")
      case w @ "query_jobbound" =>
        new QuerySweep(QuerySweep.sets(w), args("data"), args("seed").toLong, args("fingerprints"), record = None)
      case "record" =>
        new QuerySweep(QuerySweep.sets.values.flatten.toSeq.sorted, args("data"), 0L, args("fingerprints"),
          record = Some(s"$work/record"))
      case w => sys.error(s"unknown workload $w")
    }
    val workload = make(args("workload"))

    // set-up, from JVM start to the first timed op, less the fixtures
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val f0 = System.nanoTime()
    workload.fixtures()
    val fixtureS = (System.nanoTime() - f0) / 1e9
    val spark = session(conf)
    spark.range(1000000).selectExpr("sum(id % 7)").collect()
    workload.prepare(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - fixtureS

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val guard = Contention.start()
    val budget = args.int("seconds")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val cycles = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    var last = 0.0
    while (cycles.isEmpty || elapsed + last <= budget) {
      val c0 = System.nanoTime()
      val opTimes = workload.cycle(spark, cycles.size, trace)
      last = (System.nanoTime() - c0) / 1e9
      ops ++= opTimes
      cycles += opTimes.sum
    }
    val measured = elapsed
    val contention = guard.finish()
    val outs = (args("workload") -> workload.outcome(spark, tracer)) +: tracer.toSeq.flatMap { t =>
      Workloads.filterNot(_ == args("workload")).map { name =>
        val other = make(name)
        other.fixtures()
        other.prepare(spark)
        other.cycle(spark, 0, traced = true)
        name -> other.outcome(spark, Some(t))
      }
    }

    val e2e = Map("setup_s" -> setupS, "cycle_s" -> median(cycles.toSeq))
    val metrics = if (trace) outs.flatMap(_._2.perLayer).toMap else e2e
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val detail =
      s"""{"workload":${str(args("workload"))},"seed":${args("seed")},"trace":$trace,"cpus":$cpus,""" +
        s""""inputs":${workload.describe},""" +
        s""""settings":${conf.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
        s""""setup_s":${num(setupS)},"fixtures_s":${num(fixtureS)},""" +
        s""""cycle_samples_s":${cycles.map(num).mkString("[", ",", "]")},""" +
        s""""op_samples_s":${ops.map(num).mkString("[", ",", "]")},""" +
        s""""measured_s":${num(measured)},"contention":${contention.json},""" +
        s""""notes":${outs.flatMap(_._2.notes).map(str).mkString("[", ",", "]")}}"""
    val result =
      s"""{"attempted":${outs.map(_._2.attempted).sum},"failed":${outs.map(_._2.failed).sum},""" +
        s""""metrics":${obj(metrics)},"detail":$detail}"""
    Files.write(Paths.get(args("out")), result.getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(Paths.get(s"$work/spans.json"),
      outs.map { case (name, o) => s"${str(name)}:${o.spans}" }.mkString("{", ",", "}").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The contention guard: load1 and the share of machine CPU taken by
  * other processes while the run measured, by `graft.Bench`'s method
  * (busy jiffies in /proc/stat minus this JVM's CPU time). A run is
  * marked contended at `graft.Bench`'s bar of at least 20% external
  * share. load1 is recorded only: back-to-back runs keep it high. */
object Contention {
  private def busyJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => -1L }

  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  private def machineCores(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try math.max(1, src.getLines().count(_.matches("cpu\\d+\\s.*"))) finally src.close()
    } catch { case _: Throwable => Runtime.getRuntime.availableProcessors }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _                                           => None
  }

  final class Guard(j0: Long, p0: Long, t0: Long, load1Start: Double) {
    def finish(): Report = {
      val wall = (System.nanoTime() - t0) / 1e9
      val cores = machineCores()
      val ext =
        if (j0 < 0 || p0 < 0 || wall <= 0) -1.0
        else {
          val busy = (busyJiffies() - j0) / 100.0 // USER_HZ = 100
          val self = (osBean.get.getProcessCpuTime - p0) / 1e9
          math.max(0.0, (busy - self) / (wall * cores))
        }
      Report(load1Start, load1(), ext, cores)
    }
  }

  final case class Report(load1Start: Double, load1End: Double, externalShare: Double, cores: Int) {
    def contended: Boolean = externalShare >= 0.2
    def json: String =
      f"""{"load1_start":$load1Start%.2f,"load1_end":$load1End%.2f,"external_cpu_share":$externalShare%.4f,"machine_cores":$cores,"contended":$contended}"""
  }

  def start(): Guard =
    new Guard(busyJiffies(), osBean.map(_.getProcessCpuTime).getOrElse(-1L), System.nanoTime(), load1())
}
